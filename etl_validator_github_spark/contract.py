"""Query-catalog plumbing for the driver contract (__spark_entry__).

Each :class:`Query` pairs a Spark DataFrame builder with an equivalent
ANSI-SQL oracle string that DuckDB runs on the same parquet tables. The
driver hash-compares both results (columns sorted by name,
order-insensitive value hash), so every query here is engineered for
**bit-identical cross-engine results**:

- Aggregates over doubles are quantized to integer units first
  (``round(x * 100)`` as BIGINT). Integer sums are exact and
  order-independent, so they don't depend on shuffle/partition order.
  Post-aggregation scalar arithmetic (``/ 100.0``, ``sqrt``) is IEEE-754
  deterministic given identical operands and operation order, so it is
  written with the same expression shape on both sides.
- LIMIT/top-k always carries a full deterministic ORDER BY (ties broken
  by a key column), so both engines select the same row set.
- Timestamps are cast to DATE (or epoch seconds) before output; the
  Spark session runs in UTC to match DuckDB's naive timestamps.
- Iterative algorithms are oracle-checkable by fixing the iteration
  count and unrolling it into the SQL (``embed_kmeans``: each Lloyd
  pass is one assignment CTE + one centroid CTE). Statistical
  comparisons multiply out to pure integers instead of computing float
  moments (``events_hourly_anomalies``: the 2σ band as
  (N·n−S)² > 4·(N·Q−S²)).
- A double→BIGINT **cast** is NOT engine-portable: Spark truncates
  toward zero while DuckDB rounds half away from zero, so
  ``cast((a + b) / 2 as long)`` differs by 1 whenever ``a + b`` is odd
  (confirmed live in r11 — ``events_rate_shift``'s original midpoint).
  Never cast a fractional double to an integer type; either divide
  with ``div``/``//`` (exact integers in) or wrap in an explicit
  ``round()``/``floor()``, which the engines do agree on.
- Integer division is engine-portable ONLY for non-negative operands:
  Spark's ``div`` truncates toward zero while DuckDB's ``//`` floors,
  so they diverge on negatives. Every ``div``/``//`` pair in the
  catalog therefore divides non-negative values — in particular the
  epoch-µs time bucketing (``events_hourly_rollup``,
  ``events_hourly_anomalies``) assumes NON-NEGATIVE epochs, i.e. no
  pre-1970 timestamps (true of the fixtures and of training-data
  event logs generally). A possibly-negative numerator must use
  ``floor()`` on the identical double quotient on both sides instead
  (``docs_importance_resample``'s mean-weight centering).
- Final schemas are BIGINT/STRING/DATE/DOUBLE (and arrays/structs of
  those) only — **never DecimalType**. The driver's value hasher
  canonicalizes Spark DECIMAL(38,0) and DuckDB HUGEINT differently
  above int64 range (confirmed live in r11 —
  ``lineitem_returnflag_anova`` hash-mismatched on bit-identical
  values). Exact >64-bit integers may be *accumulated* in
  DECIMAL(38,0)/HUGEINT internally, but must leave the query as
  ``CAST(x AS STRING)`` (digit-exact, representation-stable) on both
  engine sides. Pinned catalog-wide by
  tests/test_oracle_dtypes.py::test_no_decimal_in_final_schema.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


#: Declared schema (DDL) of every catalog table whose storage shape is
#: fixed. Each string parses back to exactly the schema Spark infers from
#: the testdata, pinned by tests/test_testdata_schema.py.
SCHEMAS: dict[str, str] = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": (
        "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, "
        "c_mktsegment STRING"
    ),
    "supplier": (
        "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE"
    ),
    "part": (
        "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, "
        "p_size INT, p_retailprice DOUBLE"
    ),
    "orders": (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, "
        "o_orderpriority STRING"
    ),
    "lineitem": (
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
        "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, "
        "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, "
        "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"
    ),
    "documents": (
        "doc_id BIGINT, text STRING, lang STRING, source STRING, "
        "n_chars BIGINT"
    ),
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read one catalog table. Parquet scan → Catalyst gets column
    pruning + predicate pushdown for free.

    The nine tables in :data:`SCHEMAS` are read with their declared
    schema, so Spark only lists the file and starts no schema-inference
    job. ``events`` is inferred on every call: its ``ts`` column really
    comes in more than one storage shape (timestamp[us] in the testdata,
    nanos from ``pandas.to_parquet``, Spark's INT96), each of which loads
    as a different Spark type, and ``queries/relational.py:load_events``
    branches on the inferred dtype to normalize them to one epoch-µs
    basis."""
    reader = spark.read
    if table in SCHEMAS:
        reader = reader.schema(SCHEMAS[table])
    return reader.parquet(f"{sf_dir}/{table}.parquet")


def cents(c) -> F.Column:
    """Quantize a double column to integer cents (exact, order-independent
    under aggregation)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.round(col * F.lit(100)).cast("long")


def micros(c) -> F.Column:
    """Quantize a float column to integer millionths (embedding math)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.round(col.cast("double") * F.lit(1000000)).cast("long")


def md5_mod(col: str, mod: int | None = None) -> F.Column:
    """The engine-portable deterministic hash every sampling/splitting
    operator shares: first 8 md5 hex digits of the column's string form
    as a BIGINT, optionally reduced mod ``mod``. Reproducible under any
    partitioning and in any engine with md5 — change it HERE and every
    dependent operator (stratified sampling, mixture upsampling, split
    assignment) moves together."""
    expr = (f"cast(conv(substring(md5(cast({col} as string)), 1, 8), "
            "16, 10) as bigint)")
    if mod is not None:
        expr += f" % {mod}L"
    return F.expr(expr)


@dataclass(frozen=True)
class Query:
    """One driver-contract query.

    ``build(spark, sf_dir)`` returns the Spark result; ``oracle`` is the
    DuckDB-equivalent SQL (None → driver records a weaker rows-only
    check). ``bench`` marks headline queries that bench.py times at
    sf0.1.
    """

    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""
    bench: bool = False


def _self_configuring(build: Callable[[SparkSession, str], DataFrame]):
    """Make a catalog callable independent of the caller's session config.

    The DRIVER owns the SparkSession that runs these queries. Two
    runtime-settable confs are load-bearing for cross-engine parity:

    - ``spark.sql.session.timeZone=UTC`` — ``unix_timestamp`` on the
      TIMESTAMP_NTZ testdata columns converts via the session zone,
      while DuckDB's ``epoch()`` treats naive timestamps as UTC; a
      non-UTC session would shift every epoch output.
    - ``spark.sql.legacy.parquet.nanosAsLong=true`` — events.parquet is
      TIMESTAMP(NANOS), which Spark's reader otherwise rejects. The
      flag only affects nanos columns; micros timestamps are untouched.

    Setting them at build time persists on the session, so the driver's
    later action runs under them too.
    """

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return build(spark, sf_dir)

    return wrapped


def catalog_to_queries(catalog: dict[str, Query]):
    return {name: _self_configuring(q.build) for name, q in catalog.items()}


def catalog_to_oracles(catalog: dict[str, Query]):
    return {name: q.oracle for name, q in catalog.items() if q.oracle is not None}

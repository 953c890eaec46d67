"""Testdata schema guard.

Round 3 shipped with a silent driver-side testdata regeneration that
changed ``events.ts`` from TIMESTAMP(NANOS) to timestamp[us]; the drift
surfaced as six scattered AnalysisExceptions instead of one diagnostic.
This test pins the expected arrow dtype of every column in every table,
so the NEXT regeneration fails as a single assertion naming the drifted
column(s). On drift, update the declared schemas in ``contract.SCHEMAS``,
the load-path normalization in ``queries/relational.py:load_events``, and
the pins here.

Columns with a known-acceptable set of storage types (``events.ts`` —
``load_events`` normalizes both shapes to one epoch-µs basis) list every
member of that set.

``contract.load`` reads every table except ``events`` with its declared
schema instead of inferring one. A declared column that is missing from
a file reads as NULL where an inferred read fails analysis, so
``test_declared_schemas_match_inferred`` pins each declaration to the
schema Spark infers, at every scale factor present.
"""

from __future__ import annotations

import glob
import os
from itertools import zip_longest

import pandas as pd
import pyarrow.parquet as pq
import pytest

from etl_validator_github_spark.contract import SCHEMAS, load
from tests.helpers import spark_jobs

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")
#: Every scale factor next to SF_DIR (sf0.001, sf0.01, sf0.1, ...).
SF_DIRS = sorted(glob.glob(f"{os.path.dirname(SF_DIR)}/sf*"))

# table -> column -> allowed arrow type strings
EXPECTED: dict[str, dict[str, set[str]]] = {
    "region": {"r_regionkey": {"int32"}, "r_name": {"string"}},
    "nation": {
        "n_nationkey": {"int32"},
        "n_name": {"string"},
        "n_regionkey": {"int32"},
    },
    "customer": {
        "c_custkey": {"int64"},
        "c_name": {"string"},
        "c_nationkey": {"int32"},
        "c_acctbal": {"double"},
        "c_mktsegment": {"string"},
    },
    "supplier": {
        "s_suppkey": {"int64"},
        "s_name": {"string"},
        "s_nationkey": {"int32"},
        "s_acctbal": {"double"},
    },
    "part": {
        "p_partkey": {"int64"},
        "p_name": {"string"},
        "p_brand": {"string"},
        "p_type": {"string"},
        "p_size": {"int32"},
        "p_retailprice": {"double"},
    },
    "orders": {
        "o_orderkey": {"int64"},
        "o_custkey": {"int64"},
        "o_orderstatus": {"string"},
        "o_totalprice": {"double"},
        # µs ONLY: there is no load-path normalization for date columns
        # (unlike events.ts) — nanos storage would load as BIGINT under
        # the session's nanosAsLong flag and break every to_date().
        # If regeneration changes this, it must fail HERE, loudly.
        "o_orderdate": {"timestamp[us]"},
        "o_orderpriority": {"string"},
    },
    "lineitem": {
        "l_orderkey": {"int64"},
        "l_partkey": {"int64"},
        "l_suppkey": {"int64"},
        "l_linenumber": {"int32"},
        "l_quantity": {"double"},
        "l_extendedprice": {"double"},
        "l_discount": {"double"},
        "l_tax": {"double"},
        "l_returnflag": {"string"},
        "l_linestatus": {"string"},
        "l_shipdate": {"timestamp[us]"},  # µs ONLY — see o_orderdate
    },
    "events": {
        "event_id": {"int64"},
        # Both shapes seen across driver regenerations; load_events
        # normalizes either to canonical epoch-µs BIGINT ts_us.
        "ts": {"timestamp[us]", "timestamp[ns]"},
        "user_id": {"int64"},
        "event_type": {"string"},
        "value": {"double"},
        "props": {"string"},
    },
    "documents": {
        "doc_id": {"int64"},
        "text": {"string"},
        "lang": {"string"},
        "source": {"string"},
        "n_chars": {"int64"},
    },
    "embeddings": {
        "vec_id": {"int64"},
        "embedding": {"list<element: float>", "list<item: float>"},
        "label": {"int32"},
    },
}


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata absent")
def test_testdata_schemas_unchanged():
    drift: list[str] = []
    for table, cols in EXPECTED.items():
        path = f"{SF_DIR}/{table}.parquet"
        schema = pq.read_schema(path)
        actual = {f.name: str(f.type) for f in schema}
        for col, allowed in cols.items():
            got = actual.pop(col, None)
            if got is None:
                drift.append(f"{table}.{col}: MISSING (expected {sorted(allowed)})")
            elif got not in allowed:
                drift.append(f"{table}.{col}: {got} (expected {sorted(allowed)})")
        for col, got in actual.items():
            drift.append(f"{table}.{col}: UNEXPECTED new column of type {got}")
    assert not drift, (
        "testdata schema drift detected — update the declared schemas "
        "(contract.SCHEMAS), load-path normalization "
        "(queries/relational.py:load_events) and this pin:\n  "
        + "\n  ".join(drift)
    )


def _field_diff(declared, inferred) -> list[str]:
    """One line per column position where two StructTypes differ. A
    StructField's repr carries its name, type, nullability and any
    array containsNull."""
    return [
        f"column {i}: declared {d!r}, inferred {f!r}"
        for i, (d, f) in enumerate(zip_longest(declared, inferred))
        if d != f
    ]


@pytest.mark.skipif(not SF_DIRS, reason="testdata absent")
def test_declared_schemas_match_inferred(spark):
    """Every ``contract.SCHEMAS`` entry parses back to exactly the schema
    Spark infers from the table at every scale factor: column order,
    types, nullability and array containsNull included."""
    drift: list[str] = []
    for sf in SF_DIRS:
        for table, ddl in SCHEMAS.items():
            path = f"{sf}/{table}.parquet"
            declared = spark.read.schema(ddl).parquet(path).schema
            inferred = spark.read.parquet(path).schema
            if declared != inferred:
                drift.extend(
                    f"{os.path.basename(sf)} {table} {line}"
                    for line in _field_diff(declared, inferred)
                )
    assert not drift, (
        "declared schema drifted from the stored table — update "
        "contract.SCHEMAS (and load_events if events changed):\n  "
        + "\n  ".join(drift)
    )


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata absent")
def test_declared_tables_load_without_a_job(spark):
    """Loading a declared table lists its file and starts no Spark job;
    the inferred read of the same file does start one (so the counter
    sees inference jobs at all)."""
    started = {}
    for table in SCHEMAS:
        with spark_jobs(spark) as ids:
            load(spark, SF_DIR, table)
        if ids:
            started[table] = ids
    assert not started, f"declared loads started jobs: {started}"
    with spark_jobs(spark) as ids:
        spark.read.parquet(f"{SF_DIR}/region.parquet")
    assert ids, "an inferred read started no job: the counter is blind"


def test_events_still_inferred(spark, tmp_path):
    """``events`` keeps schema inference: a pandas-written nanos ``ts``
    loads as BIGINT (under nanosAsLong), the shape load_events branches
    on."""
    assert "events" not in SCHEMAS
    pd.DataFrame({
        "event_id": [1, 2],
        "ts": pd.to_datetime([1_700_000_000_000_000, 1_700_000_000_000_001],
                            unit="us").astype("datetime64[ns]"),
        "user_id": [7, 7],
        "event_type": ["view", "click"],
        "value": [1.0, 2.0],
        "props": ['{"k": 1}', '{"k": 2}'],
    }).to_parquet(tmp_path / "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    dtypes = dict(load(spark, str(tmp_path), "events").dtypes)
    assert dtypes["ts"] == "bigint", dtypes

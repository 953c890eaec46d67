"""File sources and sinks (SURVEY.md §2.1).

Covers the reference's format matrix: parquet (S1/S2/S6), csv with a
configurable null token (S3), json (S5), xlsx (S4, driver-side — no native
Spark sink), the pipe-delimited error CSV (S7/S12), and raw line counting
(S8). S3-object choreography (S9/S10/S13) maps to plain paths — Spark's
Hadoop FS layer handles s3a:// URIs natively at deploy time.
"""

from __future__ import annotations

import csv
import glob
import json
import os
import shutil
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from etl_validator_github_spark.operators.errors import ERROR_FILE_COLUMNS
from etl_validator_github_spark.schema import bankdata_schema


#: Footer key under which Spark records a parquet file's schema as JSON
#: (``ParquetReadSupport.SPARK_METADATA_KEY``).
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def read_bankdata(spark: SparkSession, path: str) -> DataFrame:
    """S6: read a bank-data file by extension (parquet/csv/json/orc).

    The canonical schema is enforced for flat formats so blank dates and
    string columns survive exactly; extra/missing columns intentionally
    still surface (schema validation runs on df.columns, R24).

    A parquet file that Spark wrote carries its schema as JSON in the
    footer. That schema is read on the driver (pyarrow, about a
    millisecond) and passed to the reader, so the read starts no Spark
    job; without it, Spark runs a schema-merge job to open the same
    footer. Spark's own inference prefers that key too, so the result
    is the same schema. A file without the key (written by pandas or
    pyarrow, like the reference generator's output), or a path the
    driver cannot open, is still inferred by Spark.
    """
    lower = path.lower()
    if lower.endswith(".parquet"):
        schema = _spark_parquet_schema(path)
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(path)
    if lower.endswith(".csv"):
        return spark.read.option("header", True).csv(path)
    if lower.endswith(".json"):
        return spark.read.json(path)
    if lower.endswith(".orc"):
        # Beyond the reference's matrix: ORC ships in Spark and is the
        # other columnar lake format users migrate from.
        return spark.read.orc(path)
    if lower.endswith(".xml"):
        # Beyond the reference's matrix: XML is native in Spark 4
        # (built-in `xml` format, SPARK-44265) — no spark-xml package.
        # inferSchema off: everything reads as string (same contract as
        # the csv reader above) so zero-padded identifiers survive.
        return (
            spark.read.format("xml").option("rowTag", "row")
            .option("inferSchema", "false").load(path)
        )
    raise ValueError(f"unsupported bank-file extension: {path}")


def write_bankdata(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    null_display: str | None = None,
) -> None:
    """S1/S3/S5: write generated bank data.

    csv supports the reference's ``--null-display`` token (GEN:539-552);
    NaT/blank dates render empty.
    """
    writer = df.write.mode("overwrite")
    if fmt == "parquet":
        writer.parquet(path)
    elif fmt == "csv":
        writer.option("header", True).option(
            "nullValue", null_display or ""
        ).csv(path)
    elif fmt == "json":
        writer.json(path)
    elif fmt == "orc":
        writer.orc(path)
    elif fmt == "xml":
        # Distributed sink (unlike xlsx): each task writes its partition
        # as a <rows><row>…</row></rows> document. Dates/timestamps
        # render ISO — round-trip asserted in tests/test_io.py.
        writer.format("xml").option("rootTag", "rows").option(
            "rowTag", "row"
        ).save(path)
    elif fmt == "xlsx":
        # S4: no native Spark xlsx sink; the reference also writes xlsx on a
        # single node (GEN:563-581). Driver-side, small files only; the
        # stdlib OOXML writer needs no excel engine in the environment.
        from etl_validator_github_spark.sources.xlsx import write_xlsx

        pdf = df.toPandas()
        rows = [
            tuple(None if v is None or v != v else v for v in rec)
            for rec in pdf.itertuples(index=False, name=None)
        ]
        write_xlsx(path, list(pdf.columns), rows)
    else:
        raise ValueError(f"unsupported format: {fmt}")


def read_pipe_csv(spark: SparkSession, path: str) -> DataFrame:
    """S7: header-mapped pipe-delimited CSV (the error-file format)."""
    return spark.read.option("header", True).option("sep", "|").csv(path)


def read_error_csv(spark: SparkSession, path: str) -> DataFrame:
    """S7 specialized: error file with case-insensitive column mapping
    (PIPE:841-852 lower-cases header names before lookup).

    The header line is read on the driver: from the file itself, or from
    the first ``part-*.csv`` of a directory sink. Header names that match
    ``FILENAME``, ``PayeeId`` or ``ERROR_DESC`` case-insensitively take
    that spelling, and the file is read with that all-STRING schema, so
    the read starts no Spark job (header inference cost two SQL
    executions). Raises ``ValueError`` naming the missing columns when
    the header lacks any of the three, or when there is no header line.
    """
    header = _pipe_csv_header(path)
    wanted = {w.lower(): w for w in ERROR_FILE_COLUMNS}
    names = [wanted.get(h.lower(), h) for h in header]
    missing = [w for w in ERROR_FILE_COLUMNS if w not in names]
    if missing:
        raise ValueError(f"error file {path} lacks columns {missing} "
                         f"(header: {header})")
    schema = StructType([StructField(n, StringType()) for n in names])
    return spark.read.schema(schema).option("header", True).option(
        "sep", "|").csv(path)


def _pipe_csv_header(path: str) -> list[str]:
    """The first line of a pipe-CSV file, or of the first part file of a
    sink directory (partition subdirectories included), as column names
    (an empty name becomes Spark's ``_c<i>``); [] for an empty file."""
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "**", "part-*.csv"),
                                 recursive=True))
        if not parts:
            raise FileNotFoundError(f"no part-*.csv files under {path}")
        path = parts[0]
    with open(path, newline="", encoding="utf-8-sig") as f:
        header = next(csv.reader(f, delimiter="|"), [])
    return [h or f"_c{i}" for i, h in enumerate(header)]


def raw_data_row_count(spark: SparkSession, path: str) -> int:
    """S8: physical non-empty line count minus header (PIPE:969-989).

    Reads as text, so malformed rows still count — same tolerance as the
    reference's csv.reader loop.
    """
    lines = spark.read.text(path).filter(F.length(F.trim("value")) > 0).count()
    return max(lines - 1, 0)


def parquet_metadata_row_count(path: str) -> int:
    """Exact parquet row count from file FOOTERS only — zero data
    scanned, zero Spark jobs.

    Spark's ``count()`` on a bare parquet scan is already
    metadata-optimized into a LocalTableScan, but it still launches a
    job and lists/opens files through the session; this is the
    driver-side ops variant (reconciliation checks, ingest audits)
    that works without a SparkSession at all. At 100 TB the footers
    are a few KiB per file — the cost is the listing, not the data.
    Accepts a single file or a directory of part files (recursive,
    matching the streaming sink layout).
    """
    import pyarrow.parquet as pq

    files = _parquet_files(path)
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def _parquet_files(path: str) -> list[str]:
    """The data files of a parquet path: the path itself, or the sorted
    ``*.parquet`` files under a directory (recursive), skipping the
    ``_``/``.`` names Spark and Hadoop leave beside them."""
    if not os.path.isdir(path):
        return [path]
    return sorted(
        os.path.join(root, f)
        for root, _, names in os.walk(path)
        for f in names
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def _spark_parquet_schema(path: str) -> StructType | None:
    """The schema Spark recorded in the footer of the path's first data
    file, or None when there is no such file or key. A footer pyarrow
    cannot parse is left to Spark too, which fails or skips the file
    under its own settings."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    files = [f for f in _parquet_files(path) if os.path.isfile(f)]
    if not files:
        return None
    try:
        meta = pq.read_schema(files[0]).metadata or {}
    except pa.ArrowInvalid:
        return None
    if _SPARK_SCHEMA_KEY not in meta:
        return None
    return StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))


def write_single_csv(
    df: DataFrame,
    directory: str,
    filename: str,
    sep: str = "|",
    keep: Callable[[], bool] | None = None,
) -> str | None:
    """S12 single-file sink: coalesce(1) + rename of the part file.

    Mirrors the reference's one-error-CSV-per-run naming
    (mtfdm_{env}_dmbankerrorfile_{ts}.csv, PIPE:2741-2748). Only for
    per-batch outputs that are small by construction.

    The write goes to a ``__tmp_<filename>`` staging directory, so the
    sink is one Spark action. ``keep`` is asked after the write (a
    caller passes a check on an ``Observation`` the write filled); when
    it says no, nothing is moved into place and None is returned. The
    staging directory is removed on every exit, a failed write included.
    """
    with staging_dir(directory, filename) as tmp:
        df.coalesce(1).write.mode("overwrite").option("header", True).option(
            "sep", sep
        ).csv(tmp)
        if keep is not None and not keep():
            return None
        part = glob.glob(os.path.join(tmp, "part-*.csv"))[0]
        final = os.path.join(directory, filename)
        shutil.move(part, final)
        return final


@contextmanager
def staging_dir(directory: str, name: str) -> Iterator[str]:
    """Yield ``directory/__tmp_<name>`` for a sink to write into, and
    remove it on exit whether the block committed, discarded or raised."""
    tmp = os.path.join(directory, f"__tmp_{name}")
    try:
        yield tmp
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def archive_path(base: str, year: int, month: int) -> str:
    """S13: ready -> archive/{YYYY}/{MM} layout (PIPE:2121-2123)."""
    return os.path.join(base, "archive", f"{year:04d}", f"{month:02d}")


class CompactionReport:
    """Before/after accounting for ``compact_parquet``."""

    def __init__(self, rows: int, files_before: int, files_after: int,
                 bytes_before: int):
        self.rows = rows
        self.files_before = files_before
        self.files_after = files_after
        self.bytes_before = bytes_before


#: Default compaction target: the usual lake file-size sweet spot
#: (large enough to amortize footer/open costs, small enough for
#: split-level parallelism).
COMPACT_TARGET_BYTES = 128 * 1024 * 1024


def compact_parquet(spark: SparkSession, src_dir: str, dst_dir: str,
                    target_bytes: int = COMPACT_TARGET_BYTES,
                    order_by: str | None = None) -> CompactionReport:
    """Small-files compaction: rewrite a parquet directory into
    ~``target_bytes`` files (the nightly lake-maintenance pass after
    streaming/incremental sinks have appended thousands of tiny files
    — at 100 TB unmanaged small files dominate scan open/list cost).

    The output file count comes from the SOURCE's on-disk bytes (a
    driver-side listing of file sizes — metadata only, no data read),
    so the target tracks the actual compressed size rather than a rows
    heuristic. The rewrite itself is one ``repartition(n)`` — a single
    all-to-all whose output is the balanced file set; no driver-side
    data movement. Content is preserved exactly (same rows, any order);
    the source is left untouched for the caller to swap/retire, the
    same write-then-move choreography as the archive step above.

    ``order_by`` additionally RE-CLUSTERS during the rewrite
    (repartitionByRange + sortWithinPartitions): appends destroy any
    clustering the table had, and the compaction pass is the natural
    place to restore it — each output file then covers a disjoint key
    range (row-group stats prune again; compose with
    ``plans.layout.zorder_key`` for two dimensions). Same single
    shuffle either way.
    """
    sizes = [
        os.path.getsize(p)
        for p in glob.glob(os.path.join(src_dir, "**", "*.parquet"),
                           recursive=True)
        if os.path.isfile(p)
    ]
    if not sizes:
        raise ValueError(f"no parquet files under {src_dir}")
    bytes_before = sum(sizes)
    n_files = max(1, -(-bytes_before // int(target_bytes)))  # ceil div
    df = spark.read.parquet(src_dir)
    if order_by is not None:
        w = df.repartitionByRange(n_files, order_by) \
              .sortWithinPartitions(order_by)
    else:
        w = df.repartition(n_files)
    w.write.mode("overwrite").parquet(dst_dir)
    out_files = [
        p for p in glob.glob(os.path.join(dst_dir, "*.parquet"))
        if os.path.isfile(p)
    ]
    rows = spark.read.parquet(dst_dir).count()
    return CompactionReport(
        rows=rows,
        files_before=len(sizes),
        files_after=len(out_files),
        bytes_before=bytes_before,
    )

"""Format-matrix tests for sources/io.py (SURVEY §2.1 S1-S8).

Parquet, CSV (with null token), JSON round-trips; XLSX round-trips via
the stdlib OOXML writer in sources/xlsx.py (driver-side, as in the
reference — no excel engine needed). Raw line counting and pipe-CSV
error reads are the S7/S8 operators.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from etl_validator_github_spark.generator import generate_bankdata
from etl_validator_github_spark.sources import io as sio
from tests.helpers import spark_jobs


@pytest.fixture(scope="module")
def bank(spark):
    return generate_bankdata(spark, 20, seed=246)


def test_parquet_roundtrip(spark, bank, tmp_path):
    path = str(tmp_path / "bank.parquet")
    sio.write_bankdata(bank, path, fmt="parquet")
    back = sio.read_bankdata(spark, path)
    assert back.count() == 20
    assert back.columns == bank.columns


def test_orc_roundtrip(spark, bank, tmp_path):
    path = str(tmp_path / "bank.orc")
    sio.write_bankdata(bank, path, fmt="orc")
    back = sio.read_bankdata(spark, path)
    assert back.count() == 20
    assert back.columns == bank.columns
    # Values survive byte-for-byte (columnar round trip, no coercion).
    key = bank.columns[0]
    assert (sorted(map(tuple, back.orderBy(key).collect()))
            == sorted(map(tuple, bank.orderBy(key).collect())))


def test_csv_roundtrip_with_null_token(spark, bank, tmp_path):
    path = str(tmp_path / "bank.csv")
    sio.write_bankdata(bank, path, fmt="csv", null_display="NULL")
    raw = spark.read.text(f"{path}/*.csv")
    assert raw.filter(F.col("value").contains("PayeeID")).count() >= 1
    back = spark.read.option("header", True).csv(path)
    assert back.count() == 20


def test_json_roundtrip(spark, bank, tmp_path):
    path = str(tmp_path / "bank.json")
    sio.write_bankdata(bank, path, fmt="json")
    back = spark.read.json(path)
    assert back.count() == 20


def test_xlsx_write_roundtrip(bank, tmp_path):
    from etl_validator_github_spark.sources.xlsx import read_xlsx_cells

    path = str(tmp_path / "bank.xlsx")
    sio.write_bankdata(bank, path, fmt="xlsx")
    cells = read_xlsx_cells(path)
    assert cells[0] == bank.columns
    assert len(cells) == bank.count() + 1
    # Spot-check one data row against the DataFrame.
    first = bank.limit(1).collect()[0]
    assert cells[1][bank.columns.index("PayeeID")] == str(first["PayeeID"])


def test_xlsx_escapes_markup(tmp_path):
    from etl_validator_github_spark.sources.xlsx import (
        read_xlsx_cells,
        write_xlsx,
    )

    path = str(tmp_path / "esc.xlsx")
    write_xlsx(path, ["a<b", 'q"&'], [("<tag>&amp;", None)])
    assert read_xlsx_cells(path) == [["a<b", 'q"&'], ["<tag>&amp;", None]]


def test_unsupported_format_raises(bank, tmp_path):
    with pytest.raises(ValueError, match="unsupported"):
        sio.write_bankdata(bank, str(tmp_path / "x"), fmt="orc2")


def test_raw_data_row_count_tolerates_blank_lines(spark, tmp_path):
    p = tmp_path / "err.csv"
    p.write_text("FILENAME|PayeeId|ERROR_DESC\nf|P1|bad\n\nf|P2|worse\n\n")
    # header excluded, blank lines ignored (PIPE:969-989 semantics)
    assert sio.raw_data_row_count(spark, str(p)) == 2


def test_read_error_csv_pipe_delimited(spark, tmp_path):
    p = tmp_path / "err2.csv"
    p.write_text(
        "FILENAME|PayeeId|ERROR_DESC\n"
        "f.parquet|MFR003|RoutingTransitNumber must be 9 digits\n"
    )
    df = sio.read_error_csv(spark, str(p))
    row = df.collect()[0]
    assert row["PayeeId"] == "MFR003"
    assert "9 digits" in row["ERROR_DESC"]


def test_read_error_csv_maps_header_case_and_quotes(spark, tmp_path):
    p = tmp_path / "err3.csv"
    p.write_text('"filename"|payeeid|"Error_Desc"|extra\n'
                 'f.parquet|MFR003|"a, b"|x\n')
    df = sio.read_error_csv(spark, str(p))
    assert df.columns == ["FILENAME", "PayeeId", "ERROR_DESC", "extra"]
    assert [tuple(r) for r in df.collect()] == [("f.parquet", "MFR003",
                                                 "a, b", "x")]


def test_read_error_csv_reads_a_directory_sink(spark, tmp_path):
    from etl_validator_github_spark.operators.errors import write_error_csv

    records = spark.createDataFrame(
        [("f.parquet", f"P{i}", "bad") for i in range(6)],
        "FILENAME string, PayeeId string, ERROR_DESC string",
    ).repartition(3)
    path = str(tmp_path / "errs")
    write_error_csv(records, path, single_file=False)
    df = sio.read_error_csv(spark, path)
    assert sorted(r["PayeeId"] for r in df.collect()) == [
        f"P{i}" for i in range(6)]


@pytest.mark.parametrize("header, missing", [
    ("FILENAME|PayeeId", ["ERROR_DESC"]),
    ("PayeeId|ERROR_DESC", ["FILENAME"]),
    ("FILENAME|Payee|ERROR_DESC", ["PayeeId"]),
    ("", ["FILENAME", "PayeeId", "ERROR_DESC"]),
])
def test_read_error_csv_raises_on_missing_columns(spark, tmp_path, header,
                                                  missing):
    p = tmp_path / "bad.csv"
    p.write_text(header + "\n" if header else "")
    with pytest.raises(ValueError, match=re.escape(str(missing))):
        sio.read_error_csv(spark, str(p))


def _parquet_input(spark, tmp_path, kind):
    path = str(tmp_path / f"{kind}.parquet")
    if kind == "pyarrow_file":
        import pyarrow as pa
        import pyarrow.parquet as pq

        pq.write_table(pa.table({"PayeeID": ["P1", None], "n": [1, 2]}),
                       path)
        return path
    df = generate_bankdata(spark, 20, seed=246,
                           dates_as_strings=kind != "dates")
    (df.repartition(5) if kind == "five_parts" else df).write.parquet(path)
    return path


@pytest.mark.parametrize(
    "kind", ["strings", "dates", "five_parts", "pyarrow_file"])
def test_read_bankdata_schema_equals_inference(spark, tmp_path, kind):
    """The footer schema is the one Spark infers: all-string and DATE
    columns, single- and multi-part directories. A pyarrow-written file
    has no Spark schema key and is still inferred (its read starts the
    schema job)."""
    path = _parquet_input(spark, tmp_path, kind)
    with spark_jobs(spark) as ids:
        df = sio.read_bankdata(spark, path)
    assert df.schema == spark.read.parquet(path).schema
    assert bool(ids) == (kind == "pyarrow_file"), ids


def test_readers_start_no_job(spark, tmp_path):
    path = _parquet_input(spark, tmp_path, "strings")
    err = tmp_path / "err.csv"
    err.write_text("FILENAME|PayeeId|ERROR_DESC\nf|P1|bad\n")
    with spark_jobs(spark) as ids:
        sio.read_bankdata(spark, path)
        sio.read_error_csv(spark, str(err))
    assert ids == []
    with spark_jobs(spark) as ids:
        spark.read.parquet(path)
    assert ids, "an inferred read started no job: the counter is blind"


def test_archive_path_layout():
    assert sio.archive_path("/a", 2026, 3) == "/a/archive/2026/03"


def test_compact_parquet_merges_small_files(spark, tmp_path):
    """Compaction: many tiny files become few balanced ones, content
    preserved exactly, source untouched; empty source is a clear error."""
    src, dst = tmp_path / "small", tmp_path / "compacted"
    df = generate_bankdata(spark, 60, seed=246)
    # 20 single-row-ish files — the streaming-sink small-file pattern.
    df.repartition(20).write.parquet(str(src))
    n_src_files = len(list(src.glob("*.parquet")))
    assert n_src_files >= 15

    rep = sio.compact_parquet(spark, str(src), str(dst),
                              target_bytes=10**9)
    assert rep.files_before == n_src_files
    assert rep.files_after == 1          # tiny data, one target file
    assert rep.rows == 60
    # Exact content preservation, order-insensitive.
    before = sorted(tuple(r) for r in spark.read.parquet(str(src)).collect())
    after = sorted(tuple(r) for r in spark.read.parquet(str(dst)).collect())
    assert before == after
    assert len(list(src.glob("*.parquet"))) == n_src_files  # untouched

    with pytest.raises(ValueError, match="no parquet files"):
        sio.compact_parquet(spark, str(tmp_path / "nothing"), str(dst))


def test_partitioned_error_sink(spark, tmp_path):
    from etl_validator_github_spark.operators.errors import write_error_csv

    records = spark.createDataFrame(
        [("f.parquet", "P1", "bad", "2026-08-01"),
         ("f.parquet", "P2", "worse", "2026-08-02")],
        "FILENAME string, PayeeId string, ERROR_DESC string, batch_date string",
    )
    path = str(tmp_path / "errs")
    write_error_csv(records, path, single_file=False,
                    partition_by=["batch_date"])
    import os

    assert sorted(
        d for d in os.listdir(path) if d.startswith("batch_date=")
    ) == ["batch_date=2026-08-01", "batch_date=2026-08-02"]
    back = (
        spark.read.option("header", True).option("sep", "|")
        .option("basePath", path).csv(f"{path}/batch_date=2026-08-01")
    )
    assert [r["PayeeId"] for r in back.collect()] == ["P1"]


def test_xlsx_roundtrip_property():
    """Any printable-ish cell content survives the OOXML round-trip."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from etl_validator_github_spark.sources.xlsx import (
        read_xlsx_cells,
        write_xlsx,
    )

    # XML 1.0 forbids most control chars; the writer targets text cells.
    text = st.text(
        alphabet=st.characters(
            blacklist_categories=("Cs", "Cc"), max_codepoint=0x2FFF
        ),
        max_size=40,
    )

    @settings(max_examples=25, deadline=None)
    @given(st.lists(text, min_size=1, max_size=5),
           st.lists(st.lists(st.one_of(text, st.none()), min_size=1,
                             max_size=5), max_size=4))
    def roundtrip(header, rows):
        import tempfile

        width = len(header)
        rows = [tuple((r + [None] * width)[:width]) for r in rows]
        with tempfile.NamedTemporaryFile(suffix=".xlsx") as f:
            write_xlsx(f.name, header, rows)
            cells = read_xlsx_cells(f.name)
        assert cells[0] == header
        assert [tuple(r) for r in cells[1:]] == rows

    roundtrip()


def test_parquet_metadata_row_count(spark, tmp_path):
    """Footer-only count equals the real count for single files AND
    part-file directories; missing inputs fail loudly."""
    import pytest

    from etl_validator_github_spark.sources.io import (
        parquet_metadata_row_count,
    )

    df = spark.range(1234).withColumnRenamed("id", "x")
    d = str(tmp_path / "multi.parquet")
    df.repartition(5).write.parquet(d)
    assert parquet_metadata_row_count(d) == 1234
    assert parquet_metadata_row_count(d) == spark.read.parquet(d).count()
    # Single flat file (pyarrow-written, no part layout).
    import pyarrow as pa
    import pyarrow.parquet as pq

    f = str(tmp_path / "one.parquet")
    pq.write_table(pa.table({"x": list(range(77))}), f)
    assert parquet_metadata_row_count(f) == 77
    with pytest.raises(FileNotFoundError):
        parquet_metadata_row_count(str(tmp_path / "emptydir"))


def test_xml_roundtrip(spark, bank, tmp_path):
    """Spark-4 native XML (no spark-xml package): distributed write of
    <rows><row>…</row></rows> documents, schema-inferred read back.
    XML infers types from text, so compare values as strings on the
    shared columns rather than dtype-for-dtype."""
    path = str(tmp_path / "bank.xml")
    sio.write_bankdata(bank, path, fmt="xml")
    back = sio.read_bankdata(spark, path)
    assert back.count() == 20
    assert set(bank.columns) >= set(back.columns)  # all-null cols may drop
    key = "PayeeID"
    want = {
        r[key]: {c: r[c] for c in back.columns}
        for r in bank.select(*back.columns).collect()
    }
    for r in back.collect():
        for c in back.columns:
            got, exp = r[c], want[r[key]][c]
            if exp is None or exp == "":
                # XML has no empty-string/null distinction: an empty
                # element reads back as null (documented lossiness).
                assert got is None or got == ""
            else:
                assert str(got) == str(exp), (c, got, exp)


def test_schema_evolution_merge_read(spark, tmp_path):
    """Schema-on-read evolution: a dataset whose later files added a
    column reads as the UNION schema under mergeSchema, with NULLs for
    the early files — the lakehouse column-add migration with no
    rewrite."""
    base = str(tmp_path / "evolving")
    spark.range(5).selectExpr("id", "id * 2 as a") \
        .write.parquet(base + "/part1")
    spark.range(5, 10).selectExpr("id", "id * 2 as a", "'new' as b") \
        .write.parquet(base + "/part2")
    df = spark.read.option("mergeSchema", "true").option(
        "recursiveFileLookup", "true").parquet(base)
    assert set(df.columns) == {"id", "a", "b"}
    rows = {r["id"]: r["b"] for r in df.collect()}
    assert rows[0] is None and rows[7] == "new"

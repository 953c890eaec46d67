"""Spark actions per stage of the E1 lifecycle, read from the driver's
SQL status store, and the error sink's staging discipline.

Each stage runs one action: ``validate_file`` writes its error records
once, with row counts observed in the same pass, and the observed count
decides whether the file is committed; reconciliation runs one
aggregate. The error file's header is read on the driver, so a
scenario with injected errors runs three SQL executions: the ready-file
write, the validate write and the reconcile aggregate.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_validator_github_spark.generator import generate_bankdata
from etl_validator_github_spark.operators import mutate
from etl_validator_github_spark.pipeline import run_scenario, validate_file
from etl_validator_github_spark.sources import io as sio
from etl_validator_github_spark.sources.io import write_single_csv
from tests.helpers import sql_executions

READY = "mtfdm_dev2_dmbankdata_20260310_120000.parquet"


def _ready_file(spark, tmp_path, bad_cell: bool) -> str:
    df = generate_bankdata(spark, 20, seed=246)
    if bad_cell:
        df = mutate.overwrite_cells(
            df, {("RoutingTransitNumber", 2): "ABC12"}, order_by="PayeeID"
        )
    path = str(tmp_path / "ready" / READY)
    df.write.parquet(path)
    return path


def test_validate_error_path_runs_one_sql_execution(spark, tmp_path):
    path = _ready_file(spark, tmp_path, bad_cell=True)
    with sql_executions(spark) as started:
        res = validate_file(spark, path, error_dir=str(tmp_path / "error"),
                            archive_dir=str(tmp_path / "archive"))
    assert started == [f"validate: {READY}"]
    assert spark.sparkContext.getLocalProperty("spark.job.description") is None
    assert res.error_count == 1
    assert res.details["rows_in"] == 20
    with open(res.error_file) as f:
        assert len(f.read().splitlines()) == 2  # header + one record


def _scenario_with_errors(spark, tmp_path):
    return run_scenario(
        spark, str(tmp_path), rows=20, seed=246,
        invalid_values={"RoutingTransitNumber": "BAD"},
        invalid_cells={("State", 1): "X"},
    )


def test_scenario_with_errors_runs_three_sql_executions(spark, tmp_path):
    with sql_executions(spark) as started:
        res = _scenario_with_errors(spark, tmp_path)
    assert res.reconcile_passed and res.counts_match
    assert res.csv_error_count == res.pipeline.error_count == 20
    assert len(started) == 3, started
    assert started[1] == f"validate: {os.path.basename(res.pipeline.input_path)}"
    assert started[2] == "reconcile"


def test_lossy_sink_fails_the_row_count_check(spark, tmp_path, monkeypatch):
    """A row lost between the validate write and the read-back fails the
    scenario, and the summary names all three counts."""
    read = sio.read_error_csv
    monkeypatch.setattr(
        sio, "read_error_csv",
        lambda spark, path: read(spark, path).orderBy("PayeeId").offset(1))
    res = _scenario_with_errors(spark, tmp_path)
    assert not res.counts_match
    assert res.summary() == (
        "CSV errors: 19, DB errors: 20, validate errors: 20. "
        "Row counts MISMATCH")


def test_widen_to_strings_casts_only_non_strings(spark):
    strings = generate_bankdata(spark, 3, seed=246)
    assert mutate.widen_to_strings(strings) is strings
    dated = generate_bankdata(spark, 3, seed=246, dates_as_strings=False)
    assert dict(dated.dtypes)["EffectiveStartDate"] == "date"
    widened = mutate.widen_to_strings(dated)
    assert widened.columns == dated.columns
    assert {t for _, t in widened.dtypes} == {"string"}
    got = widened.select("EffectiveStartDate").collect()
    want = dated.select("EffectiveStartDate").collect()
    assert [r[0] for r in got] == [r[0].strftime("%Y-%m-%d") for r in want]


@pytest.mark.parametrize("single_file", [True, False])
def test_zero_errors_leave_no_error_file(spark, tmp_path, single_file):
    path = _ready_file(spark, tmp_path, bad_cell=False)
    error_dir = tmp_path / "error"
    with sql_executions(spark) as started:
        res = validate_file(spark, path, error_dir=str(error_dir),
                            single_file=single_file)
    assert len(started) == 1
    assert (res.error_count, res.error_file) == (0, None)
    assert res.details["rows_in"] == 20
    assert not error_dir.exists() or os.listdir(error_dir) == []


def test_error_directory_sink_commits_on_observed_count(spark, tmp_path):
    path = _ready_file(spark, tmp_path, bad_cell=True)
    error_dir = tmp_path / "error"
    res = validate_file(spark, path, error_dir=str(error_dir),
                        single_file=False)
    assert res.error_count == 1
    assert os.listdir(error_dir) == [os.path.basename(res.error_file)]
    assert spark.read.option("header", True).option("sep", "|").csv(
        res.error_file).count() == 1


def test_failed_write_removes_its_staging_directory(spark, tmp_path):
    boom = spark.range(3).select(
        F.when(F.col("id") == 2, F.raise_error(F.lit("boom")))
        .otherwise(F.col("id").cast("string")).alias("x")
    )
    with pytest.raises(Exception, match="boom"):
        write_single_csv(boom, str(tmp_path), "errs.csv")
    assert os.listdir(tmp_path) == []


def test_single_csv_discarded_when_keep_says_no(spark, tmp_path):
    df = spark.range(3).select(F.col("id").cast("string").alias("x"))
    assert write_single_csv(df, str(tmp_path), "errs.csv",
                            keep=lambda: False) is None
    assert os.listdir(tmp_path) == []
    final = write_single_csv(df, str(tmp_path), "errs.csv", keep=lambda: True)
    assert os.listdir(tmp_path) == ["errs.csv"]
    with open(final) as f:
        assert f.read().split() == ["x", "0", "1", "2"]

"""Batch validation pipeline: ready -> validate -> error CSV -> archive.

Collapses the reference's S3/Glue/DB choreography (SURVEY.md §3 E1-E3)
into one Spark application: read the ready folder, evaluate the rule
catalog in a single projection, write the pipe-delimited error file, move
the input to archive/{YYYY}/{MM}. The polling/retry machinery around the
external Glue job (PIPE:1550-1753) disappears — the validation IS this job.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from etl_validator_github_spark.operators.errors import to_error_records, write_error_csv
from etl_validator_github_spark.operators.rules import Rule
from etl_validator_github_spark.operators.validate import (
    failing_records,
    validate_schema,
)
from etl_validator_github_spark.plans.session import job_description
from etl_validator_github_spark.sources.io import (
    read_bankdata,
    staging_dir,
    write_single_csv,
)


def default_end_date_for_deactivated(
    df: DataFrame, as_of: dt.date | None = None
) -> DataFrame:
    """Normalization, not validation: deactivated (RecordOperation=D)
    records with a blank EffectiveEndDate get the current date.

    The reference treats this as a SOFT rule — its own generator emits
    ~10% of D records with blank end dates in *valid* data and documents
    "if deactivated without end date, system uses current date"
    (newaugsver_clean.py:176-191; tests/
    test_effectiveenddate_blank_deactivated_record.py). A hard rejection
    rule would fail the reference's valid base scenario, so the rule
    catalog deliberately omits it and this transform implements the
    documented defaulting behavior instead.
    """
    as_of_lit = F.lit((as_of or dt.date.today()).isoformat())
    end = F.col("EffectiveEndDate").cast("string")
    blank = F.coalesce(F.trim(end), F.lit("")) == ""
    return df.withColumn(
        "EffectiveEndDate",
        F.when((F.col("RecordOperation") == "D") & blank, as_of_lit)
        .otherwise(end),
    )


def find_unexpected_error_parquet_files(
    error_dir: str, min_modified_epoch: float | None = None
) -> list[str]:
    """Non-CSV invariant scan of the error folder (the local-FS analogue
    of the reference's S3 prefix scan, DM_bankfile_validate_pipeline.py:
    1027-1061): the error folder must only ever contain the pipe-CSV
    error files, and a ``.parquet`` appearing there means a sink wrote
    raw data where the error report belongs.

    ``min_modified_epoch`` restricts to files modified at/after the run
    start (the reference's LastModified window); ``None`` flags any
    parquet present — the stricter contract for a folder the pipeline
    owns outright.
    """
    offenders: list[str] = []
    if not os.path.isdir(error_dir):
        return offenders
    for root, _dirs, files in os.walk(error_dir):
        for name in files:
            if not name.lower().endswith(".parquet"):
                continue
            path = os.path.join(root, name)
            if min_modified_epoch is not None:
                try:
                    if os.path.getmtime(path) < min_modified_epoch:
                        continue
                except OSError:
                    continue
            offenders.append(path)
    return sorted(offenders)


@dataclass
class PipelineResult:
    input_path: str
    schema_issues: dict[str, list[str]]
    error_count: int
    error_file: str | None
    archived_to: str | None
    file_level_failure: bool = False
    details: dict = field(default_factory=dict)


def validate_file(
    spark: SparkSession,
    input_path: str,
    error_dir: str,
    archive_dir: str | None = None,
    rules: list[Rule] | None = None,
    env: str = "dev2",
    now: dt.datetime | None = None,
    single_file: bool = True,
    error_window_start: float | None = None,
) -> PipelineResult:
    """Validate one bank file end-to-end.

    File-level checks run first (extension, schema — R24); on failure the
    file is rejected whole, mirroring the reference's file-level scenarios
    (PIPE:3040-3073 invalid extension, PIPE:2279-2408 schema drift). Row
    rules are a map-only stage; only failing rows ever leave the scan.
    """
    now = now or dt.datetime.now()
    ts = now.strftime("%Y%m%d_%H%M%S")
    basename = os.path.basename(input_path)

    if not input_path.lower().endswith((".parquet", ".csv", ".json", ".orc")):
        return PipelineResult(
            input_path, {"missing": [], "extra": []}, 0, None, None,
            file_level_failure=True,
            details={"reason": f"invalid file extension: {basename}"},
        )

    df = read_bankdata(spark, input_path)
    issues = validate_schema(df)
    if issues["missing"]:
        # Missing canonical columns: structural failure, row rules can't run.
        return PipelineResult(
            input_path, issues, 0, None, None,
            file_level_failure=True,
            details={"reason": f"missing columns: {issues['missing']}"},
        )

    # One Spark action: the error records go to a staging path, the same
    # pass observes the input and error row counts, and the observed
    # error count decides whether the file is committed (the reference
    # writes no error file for a clean input).
    rows_in, rows_out = Observation(), Observation()
    n = F.count(F.lit(1)).alias("n")
    errors = to_error_records(
        failing_records(df.observe(rows_in, n), rules), filename=basename
    ).observe(rows_out, n)

    def has_errors() -> bool:
        return rows_out.get["n"] > 0

    with job_description(spark, f"validate: {basename}"):
        error_file = write_single_csv(
            errors, error_dir, f"mtfdm_{env}_dmbankerrorfile_{ts}.csv",
            keep=has_errors,
        ) if single_file else _write_dir(errors, error_dir, ts, env, has_errors)
    error_count = rows_out.get["n"]
    counts = {"rows_in": rows_in.get["n"]}

    # Error-folder invariant (reference PIPE:1079-1093, run-level rule at
    # PIPE:2170): a parquet artifact in the error folder fails the run —
    # it means raw data was written where the CSV error report belongs.
    # ``error_window_start`` scopes the check to artifacts modified
    # during this run (the reference's LastModified window, so a stale
    # leftover can't permanently fail every later run); ``None`` keeps
    # the strict folder-wide check for standalone calls.
    unexpected_parquet = find_unexpected_error_parquet_files(
        error_dir, min_modified_epoch=error_window_start
    )
    if unexpected_parquet:
        return PipelineResult(
            input_path, issues, error_count, error_file, None,
            file_level_failure=True,
            details={
                "reason": "unexpected parquet in error folder "
                          "(expected CSV only)",
                "unexpected_parquet_files": unexpected_parquet,
                **counts,
            },
        )

    archived_to = None
    if archive_dir is not None and (
        os.path.isdir(input_path) or os.path.isfile(input_path)
    ):
        target = os.path.join(archive_dir, f"{now.year:04d}", f"{now.month:02d}")
        os.makedirs(target, exist_ok=True)
        archived_to = os.path.join(target, basename)
        # A same-named archive entry from an earlier run would make
        # shutil.move nest the new file INSIDE the existing directory
        # (archive/.../f.parquet/f.parquet) — remove it first; the
        # re-run's output is the authoritative copy.
        if os.path.isdir(archived_to):
            shutil.rmtree(archived_to)
        elif os.path.isfile(archived_to):
            os.remove(archived_to)
        shutil.move(input_path, archived_to)

    return PipelineResult(
        input_path, issues, error_count, error_file, archived_to,
        details={"extra_columns": issues["extra"], **counts},
    )


def _write_dir(
    errors: DataFrame, error_dir: str, ts: str, env: str,
    keep: Callable[[], bool],
) -> str | None:
    name = f"mtfdm_{env}_dmbankerrorfile_{ts}"
    with staging_dir(error_dir, name) as tmp:
        write_error_csv(errors, tmp, single_file=False)
        if not keep():
            return None
        path = os.path.join(error_dir, name)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
        return path


@dataclass
class ScenarioResult:
    pipeline: PipelineResult
    csv_error_count: int
    db_error_count: int
    counts_match: bool
    reconcile_passed: bool

    def summary(self) -> str:
        # The reference's success criterion, verbatim shape: its tests
        # assert `"Row counts MATCH" in stdout`
        # (tests/test_recordoperation_invalid_z.py:73-76).
        if self.pipeline.file_level_failure:
            reason = self.pipeline.details.get("reason", "file-level failure")
            return f"FILE REJECTED: {reason}"
        verdict = "MATCH" if self.counts_match else "MISMATCH"
        return (f"CSV errors: {self.csv_error_count}, "
                f"DB errors: {self.db_error_count}, "
                f"validate errors: {self.pipeline.error_count}. "
                f"Row counts {verdict}")


def run_scenario(
    spark: SparkSession,
    work_dir: str,
    rows: int = 50,
    seed: int = 246,
    invalid_values: dict[str, str] | None = None,
    invalid_cells: dict[tuple[str, int], str] | None = None,
    env: str = "dev2",
    extension: str = "parquet",
) -> ScenarioResult:
    """The reference's E1 scenario lifecycle in one Spark application:
    generate → inject violations → ready folder → validate → error CSV →
    archive → reconcile (E3).

    The reconciliation compares two INDEPENDENT paths to the error set:
    the pipe-CSV read back from disk (the reference's Glue-CSV side,
    exercising the sink + parse round-trip) against the rule engine's
    in-memory error records (the reference's SQL-DB side). Matching
    token sets + counts is what the reference calls "Row counts MATCH"
    (PIPE:1196-1361); the CSV count must also equal the error count the
    validate write observed.

    ``extension`` names the ready-file suffix; a non-ingestible one (the
    reference's invalid-extension scenario, PIPE:3040-3073) makes
    ``validate_file`` reject the file whole, and the scenario reports
    the rejection with nothing to reconcile."""
    from etl_validator_github_spark.generator import generate_bankdata
    from etl_validator_github_spark.operators import mutate
    from etl_validator_github_spark.operators.errors import to_error_records
    from etl_validator_github_spark.operators.reconcile import reconcile_errors
    from etl_validator_github_spark.sources.io import read_error_csv, write_bankdata

    now = dt.datetime.now()
    ts = now.strftime("%Y%m%d_%H%M%S")
    df = mutate.widen_to_strings(generate_bankdata(spark, rows, seed=seed))
    for col, val in (invalid_values or {}).items():
        df = mutate.overwrite_column(df, col, val)
    if invalid_cells:
        df = mutate.overwrite_cells(df, invalid_cells, order_by="PayeeID")

    ready = os.path.join(work_dir, "ready",
                         f"mtfdm_{env}_dmbankdata_{ts}.{extension}")
    # Payload is always parquet; the extension is what the file-level
    # gate judges (mirrors the reference renaming the upload, PIPE:3052).
    write_bankdata(df, ready, fmt="parquet")
    res = validate_file(
        spark, ready,
        error_dir=os.path.join(work_dir, "error"),
        archive_dir=os.path.join(work_dir, "archive"),
        env=env, now=now,
        # Run-level parquet rule scoped to THIS run's window (the
        # reference's upload_started_epoch, PIPE:2169-2174).
        error_window_start=now.timestamp(),
    )
    if res.file_level_failure:
        if "unexpected_parquet_files" in res.details:
            # Error-folder invariant breach: unlike an expected rejection
            # (bad extension), this is a RUN failure — the sink miswrote
            # (reference PIPE:2170-2174 fails the step on it).
            return ScenarioResult(res, 0, 0, counts_match=False,
                                  reconcile_passed=False)
        # Rejected whole (e.g. invalid extension): nothing ran, nothing
        # to reconcile — the rejection itself is the scenario's outcome.
        return ScenarioResult(res, 0, 0, counts_match=True,
                              reconcile_passed=True)

    # Independent "DB side": re-derive error records from the archived
    # input through the rule engine (no disk round-trip of the CSV).
    archived = res.archived_to or ready
    db_side = to_error_records(
        failing_records(read_bankdata(spark, archived)),
        filename=os.path.basename(archived),
    ).select(F.col("PayeeId").alias("PAYEE_ID"), "ERROR_DESC")

    if res.error_file:
        csv_side = read_error_csv(spark, res.error_file)
        rec = reconcile_errors(csv_side, db_side)
        # The rows read back must also be the rows the validate write
        # observed: a sink that loses or splits a row fails loudly here,
        # even when the CSV and DB sides happen to agree.
        counts_match = rec.counts_match and rec.csv_count == res.error_count
        return ScenarioResult(res, rec.csv_count, rec.db_count,
                              counts_match, rec.passed)
    # No error file: pass iff the DB side is empty too (PIPE:1284-1290).
    db_count = db_side.count()
    return ScenarioResult(res, 0, db_count, db_count == 0, db_count == 0)

"""CSV <-> DB error reconciliation (SURVEY.md §2.4 J3, §2.7 T1/T2, §2.5 A4).

Re-expresses ``compare_csv_and_db_error_desc``
(DM_bankfile_validate_pipeline.py:932-967) as DataFrame joins:

- per-payee ERROR_DESC strings are split on ',', whitespace-normalized and
  compared as unordered token sets (PIPE:817-830);
- ``missing_in_db``  = payees in the CSV with no DB row   -> FATAL
- ``missing_in_csv`` = payees in the DB with no CSV row   -> reported, non-fatal
- ``mismatched``     = payees whose CSV token set is NOT a subset of the
  DB token set (CSV ⊆ DB passes)                           -> FATAL
- count match (A4): total CSV data rows == DB error count  -> FATAL

The asymmetry (CSV ⊆ DB, DB-only payees tolerated) is deliberate and
matches PIPE:953-966. A payee whose tokens are all blank has no token
set, so it is in none of the four frames, but its rows still count.

``reconcile_errors`` runs no Spark action. The counts and the verdict
come from one aggregate over the full-outer join, run the first time
any of them is read. The four frames are built from the join the first
time each is read: every ``filter``/``select`` re-analyzes a plan that
holds the whole rule catalog, and the scenario reads only the counts.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import cached_property

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from etl_validator_github_spark.plans.session import job_description


def error_tokens(df: DataFrame, payee_col: str, desc_col: str) -> DataFrame:
    """payee -> (rows, tokens): the payee's input row count and its sorted
    distinct normalized error tokens, null when every token is blank.

    Tokens are built per row before the groupBy, so rows whose tokens
    are all blank (or whose ERROR_DESC is null) still count."""
    row_tokens = F.filter(
        F.transform(
            F.split(F.col(desc_col), ","),
            lambda t: F.trim(F.regexp_replace(t, r"\s+", " ")),
        ),
        lambda t: F.length(t) > 0,
    )
    tokens = F.array_distinct(F.flatten(F.collect_list(row_tokens)))
    return df.groupBy(F.col(payee_col).alias("payee_id")).agg(
        F.count(F.lit(1)).alias("rows"),
        F.when(F.size(tokens) > 0, F.sort_array(tokens)).alias("tokens"),
    )


# CSV ⊆ DB passes (PIPE:953-956): only CSV-side extras are a mismatch.
_IN_BOTH = "csv_tokens IS NOT NULL AND db_tokens IS NOT NULL"
_EXTRAS = "array_except(csv_tokens, db_tokens)"
_IS_MISMATCHED = f"{_IN_BOTH} AND size({_EXTRAS}) > 0"
_IS_MISSING_IN_DB = "csv_tokens IS NOT NULL AND db_tokens IS NULL"


@dataclass
class ReconcileResult:
    #: payee_id, csv_tokens, db_tokens, csv_rows, db_rows per payee.
    joined: DataFrame
    #: One row: csv_count, db_count, mismatched, missing_in_db.
    totals: DataFrame

    @cached_property
    def matched(self) -> DataFrame:
        return self.joined.filter(f"{_IN_BOTH} AND size({_EXTRAS}) = 0") \
            .select("payee_id", "csv_tokens", "db_tokens")

    @cached_property
    def mismatched(self) -> DataFrame:
        return self.joined.filter(_IS_MISMATCHED).select(
            "payee_id", "csv_tokens", "db_tokens",
            F.expr(_EXTRAS).alias("csv_only_tokens"))

    @cached_property
    def missing_in_db(self) -> DataFrame:
        return self.joined.filter(_IS_MISSING_IN_DB).select(
            "payee_id", "csv_tokens")

    @cached_property
    def missing_in_csv(self) -> DataFrame:
        return self.joined.filter(
            "db_tokens IS NOT NULL AND csv_tokens IS NULL").select(
            "payee_id", "db_tokens")

    @cached_property
    def _counts(self) -> Row:
        with job_description(self.totals.sparkSession, "reconcile"):
            return self.totals.collect()[0]

    @property
    def csv_count(self) -> int:
        return self._counts["csv_count"]

    @property
    def db_count(self) -> int:
        return self._counts["db_count"]

    @property
    def counts_match(self) -> bool:
        return self.csv_count == self.db_count

    @property
    def passed(self) -> bool:
        # missing_in_csv is reported but non-fatal (PIPE:966).
        return (
            self.counts_match
            and self._counts["mismatched"] == 0
            and self._counts["missing_in_db"] == 0
        )


def reconcile_errors(
    csv_errors: DataFrame,
    db_errors: DataFrame,
    csv_payee_col: str = "PayeeId",
    csv_desc_col: str = "ERROR_DESC",
    db_payee_col: str = "PAYEE_ID",
    db_desc_col: str = "ERROR_DESC",
) -> ReconcileResult:
    """Full reconciliation between the error-CSV side and the DB side.

    One shuffle per side (token aggregation), one join on payee_id. Error
    sets are tiny relative to input data, so the join comfortably
    broadcasts under AQE at any realistic scale.
    """
    csv_tok = error_tokens(csv_errors, csv_payee_col, csv_desc_col).alias("c")
    db_tok = error_tokens(db_errors, db_payee_col, db_desc_col).alias("d")

    joined = csv_tok.join(db_tok, on="payee_id", how="full_outer").select(
        "payee_id",
        F.col("c.tokens").alias("csv_tokens"),
        F.col("d.tokens").alias("db_tokens"),
        F.col("c.rows").alias("csv_rows"),
        F.col("d.rows").alias("db_rows"),
    )
    return ReconcileResult(
        joined=joined,
        totals=joined.agg(
            F.coalesce(F.sum("csv_rows"), F.lit(0)).alias("csv_count"),
            F.coalesce(F.sum("db_rows"), F.lit(0)).alias("db_count"),
            F.count_if(F.expr(_IS_MISMATCHED)).alias("mismatched"),
            F.count_if(F.expr(_IS_MISSING_IN_DB)).alias("missing_in_db"),
        ),
    )

"""``reconcile_errors`` against a pure-Python mirror of the reference
comparator, and the number of Spark actions reconciliation costs.

The mirror re-states ``compare_csv_and_db_error_desc``
(DM_bankfile_validate_pipeline.py:932-967) over plain lists: per-payee
token sets from ERROR_DESC split on ',' and whitespace-normalized
(PIPE:817-830), CSV ⊆ DB per payee, missing-in-DB fatal, missing-in-CSV
reported only, and row counts (not payee counts) compared. A null
PayeeId follows SQL join semantics: it never matches, so its tokens are
missing on the other side.
"""

from __future__ import annotations

import re
from functools import reduce

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_validator_github_spark.operators.reconcile import reconcile_errors
from etl_validator_github_spark.queries import CATALOG
from tests.helpers import sql_executions

FRAMES = ("matched", "mismatched", "missing_in_db", "missing_in_csv")

Rows = list[tuple[str | None, str | None]]


def _tokens(desc: str | None) -> set[str]:
    if desc is None:
        return set()
    return {re.sub(r"\s+", " ", t).strip() for t in desc.split(",")} - {""}


def _by_payee(rows: Rows) -> dict[str | None, set[str]]:
    out: dict[str | None, set[str]] = {}
    for payee, desc in rows:
        toks = _tokens(desc)
        if toks:
            out.setdefault(payee, set()).update(toks)
    return out


def compare_csv_and_db_error_desc(csv_rows: Rows, db_rows: Rows) -> dict:
    csv, db = _by_payee(csv_rows), _by_payee(db_rows)
    both = {p for p in csv.keys() & db.keys() if p is not None}
    mismatched = {p for p in both if not csv[p] <= db[p]}
    missing_in_db = {p for p in csv if p is None or p not in db}
    counts_match = len(csv_rows) == len(db_rows)
    return {
        "csv_count": len(csv_rows),
        "db_count": len(db_rows),
        "counts_match": counts_match,
        "passed": counts_match and not mismatched and not missing_in_db,
        "matched": both - mismatched,
        "mismatched": mismatched,
        "missing_in_db": missing_in_db,
        "missing_in_csv": {p for p in db if p is None or p not in csv},
    }


def _spark_view(spark, csv_rows: Rows, db_rows: Rows) -> dict:
    res = reconcile_errors(
        spark.createDataFrame(csv_rows, "PayeeId string, ERROR_DESC string"),
        spark.createDataFrame(db_rows, "PAYEE_ID string, ERROR_DESC string"),
    )
    tagged = reduce(DataFrame.unionByName, (
        getattr(res, f).select(F.lit(f).alias("frame"), "payee_id")
        for f in FRAMES
    ))
    got: dict = {f: set() for f in FRAMES}
    for r in tagged.collect():
        got[r.frame].add(r.payee_id)
    got.update(csv_count=res.csv_count, db_count=res.db_count,
               counts_match=res.counts_match, passed=res.passed)
    return got


_payee = st.one_of(st.none(), st.sampled_from(["P1", "P2", "P3"]))
_piece = st.sampled_from(["a", "b", "c", " a ", "a  b", "a\tb", "", " ", "\t"])
_desc = st.one_of(st.none(), st.lists(_piece, max_size=4).map(",".join))
_side = st.lists(st.tuples(_payee, _desc), max_size=8)


@settings(max_examples=15, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(csv_rows=_side, db_rows=_side)
@example(csv_rows=[], db_rows=[])
@example(csv_rows=[], db_rows=[("P1", "a")])
@example(csv_rows=[("P1", "a")], db_rows=[])
# Blank, whitespace-only and null ERROR_DESC: rows count, payees vanish.
@example(csv_rows=[("P1", " , \t"), ("P2", None), ("P3", "a")],
         db_rows=[("P1", ""), ("P2", "b"), ("P3", "a, b")])
# Null PayeeId on both sides never matches.
@example(csv_rows=[(None, "a")], db_rows=[(None, "a")])
# Duplicate payee rows: counts are rows, not payees.
@example(csv_rows=[("P1", "a"), ("P1", "a")], db_rows=[("P1", "a, b")])
@example(csv_rows=[("P1", "a"), ("P1", "c")], db_rows=[("P1", "a"), ("P1", "b")])
def test_reconcile_matches_python_mirror(spark, csv_rows, db_rows):
    assert _spark_view(spark, csv_rows, db_rows) == (
        compare_csv_and_db_error_desc(csv_rows, db_rows)
    )


def test_reconcile_runs_one_action_when_read(spark):
    csv = spark.createDataFrame([("P1", "a"), ("P2", "b")], "PayeeId string, ERROR_DESC string")
    db = spark.createDataFrame([("P1", "a, b"), ("P2", "c")], "PAYEE_ID string, ERROR_DESC string")
    with sql_executions(spark) as built:
        res = reconcile_errors(csv, db)
    assert built == []
    with sql_executions(spark) as read:
        assert (res.csv_count, res.db_count, res.counts_match) == (2, 2, True)
        assert not res.passed  # P2's "b" is not in the DB's "c"
    assert read == ["reconcile"]
    assert spark.sparkContext.getLocalProperty("spark.job.description") is None


def test_reconcile_catalog_query_builds_without_actions(spark, sf_dir):
    with sql_executions(spark) as started:
        CATALOG["reconcile_error_sets"].build(spark, sf_dir)
    assert started == []

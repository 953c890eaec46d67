"""Property-based cross-checks of the round-10 exact-integer stats.

`lineitem_returnflag_anova` rests on a div/mod decomposition of
⌊10⁶·S²/n⌋ (Spark's decimal `div` returns BIGINT, so the undecomposed
quotient overflows); `orders_fulfillment_latency` rests on a
division-free histogram-percentile rule. Both are fuzzed here against
independent pure-Python big-int references, so an off-by-one in either
identity can't survive. Each example materializes a minimal parquet
sf_dir because the catalog queries read tables by name — the same
surface the driver exercises."""

from __future__ import annotations

import datetime
import uuid

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_validator_github_spark.queries import CATALOG

_slow = settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_STATUSES = ("O", "F")
_FLAGS = ("N", "A", "R")


def _sf_dir(tmp_path_factory_dir, frames: dict[str, pd.DataFrame]) -> str:
    d = tmp_path_factory_dir / f"sf_{uuid.uuid4().hex[:8]}"
    d.mkdir()
    for name, pdf in frames.items():
        pdf.to_parquet(d / f"{name}.parquet", index=False)
    return str(d)


@_slow
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(_STATUSES),
            st.sampled_from(_FLAGS),
            st.integers(min_value=1, max_value=10_000_000),  # price cents
        ),
        min_size=1,
        max_size=40,
    )
)
def test_anova_matches_bigint_reference(spark, tmp_path, rows):
    li = pd.DataFrame(
        {
            "l_linestatus": [r[0] for r in rows],
            "l_returnflag": [r[1] for r in rows],
            "l_extendedprice": [r[2] / 100.0 for r in rows],
        }
    )
    sf = _sf_dir(tmp_path, {"lineitem": li})
    got = {
        r["l_linestatus"]: (
            r["n_rows"], r["k_groups"], int(r["ssb_micro"]),
            int(r["ssw_micro"]),
            None if r["f_micro"] is None else int(r["f_micro"]),
        )
        for r in CATALOG["lineitem_returnflag_anova"].build(spark, sf).collect()
    }

    want = {}
    for status in {r[0] for r in rows}:
        groups: dict[str, list[int]] = {}
        for s, f, c in rows:
            if s == status:
                groups.setdefault(f, []).append(c)
        n = sum(len(v) for v in groups.values())
        k = len(groups)
        s_tot = sum(sum(v) for v in groups.values())
        q = sum(c * c for v in groups.values() for c in v)
        sum_between = sum(
            (sum(v) * sum(v) * 10**6) // len(v) for v in groups.values()
        )
        ssb = max(sum_between - (s_tot * s_tot * 10**6) // n, 0)
        ssw = q * 10**6 - sum_between
        f_micro = (
            None
            if ssw == 0 or k < 2
            else (ssb * (n - k) * 10**6) // (ssw * (k - 1))
        )
        want[status] = (n, k, ssb, ssw, f_micro)
    assert got == want


@_slow
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(("1-URGENT", "2-HIGH")),
            st.integers(min_value=0, max_value=130),  # latency days
            st.integers(min_value=1, max_value=3),    # lineitems per order
        ),
        min_size=1,
        max_size=30,
    )
)
def test_fulfillment_percentiles_match_histogram_reference(
    spark, tmp_path, rows
):
    base = pd.Timestamp("1995-01-01")
    orders = pd.DataFrame(
        {
            "o_orderkey": range(len(rows)),
            "o_orderpriority": [r[0] for r in rows],
            "o_orderdate": [base.date()] * len(rows),
        }
    )
    li_rows = []
    for okey, (_, lat, n_li) in enumerate(rows):
        # Extra lineitems ship LATER than the first — min() must pick lat.
        for j in range(n_li):
            li_rows.append((okey, (base + pd.Timedelta(days=lat + 7 * j)).date()))
    lineitem = pd.DataFrame(li_rows, columns=["l_orderkey", "l_shipdate"])
    sf = _sf_dir(tmp_path, {"orders": orders, "lineitem": lineitem})
    got = {
        r["o_orderpriority"]: (
            r["n_orders"], r["p50_days"], r["p90_days"], r["p99_days"],
            r["max_days"],
        )
        for r in CATALOG["orders_fulfillment_latency"].build(spark, sf).collect()
    }

    want = {}
    for pri in {r[0] for r in rows}:
        lats = sorted(lat for p, lat, _ in rows if p == pri)
        n = len(lats)

        def pct(k: int, lats=lats, n=n):
            cum = 0
            seen = 0
            for v in sorted(set(lats)):
                seen += lats.count(v)
                cum = seen
                if cum * 100 >= n * k:
                    return v
            return None

        want[pri] = (n, pct(50), pct(90), pct(99), max(lats))
    assert got == want


@_slow
@given(
    custs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=60),   # first-order month
            st.integers(min_value=0, max_value=30),   # active span months
            st.integers(min_value=1, max_value=3),    # orders in span
        ),
        min_size=1,
        max_size=25,
    )
)
def test_churn_hazard_matches_km_reference(spark, tmp_path, custs):
    from etl_validator_github_spark.queries.relational import (
        _CHURN_GAP_MONTHS,
    )

    rows = []
    for ck, (t0, span, n_orders) in enumerate(custs):
        months = sorted({t0, t0 + span} | {
            t0 + (span * j) // max(n_orders, 1) for j in range(n_orders)
        })
        for m in months:
            # A DATE, like the fulfillment fixture: contract.load reads
            # o_orderdate as the declared TIMESTAMP_NTZ; a parquet DATE
            # widens to it, a string column is rejected.
            rows.append((len(rows), ck,
                         datetime.date(1995 + m // 12, m % 12 + 1, 15)))
    orders = pd.DataFrame(rows,
                          columns=["o_orderkey", "o_custkey", "o_orderdate"])
    sf = _sf_dir(tmp_path, {"orders": orders})
    got = {
        r["month"]: (r["n_at_risk"], r["n_churned"], r["hazard_micro"])
        for r in CATALOG["customers_churn_hazard"].build(spark, sf).collect()
    }

    # Pure-Python reference on month indices.
    per_cust = {}
    for _, ck, d in rows:
        y, mo = d.year, d.month
        idx = y * 12 + mo
        lo, hi = per_cust.get(ck, (idx, idx))
        per_cust[ck] = (min(lo, idx), max(hi, idx))
    obs_end = max(hi for _, hi in per_cust.values())
    spans = []
    for lo, hi in per_cust.values():
        churned = (obs_end - hi) > _CHURN_GAP_MONTHS
        spans.append((hi - lo if churned else obs_end - lo, churned))
    want = {}
    for s in sorted({s for s, _ in spans}):
        n_at_risk = sum(1 for sp, _ in spans if sp >= s)
        n_churned = sum(1 for sp, ch in spans if sp == s and ch)
        want[s] = (n_at_risk, n_churned,
                   (1_000_000 * n_churned) // n_at_risk)
    assert got == want


def test_mann_whitney_degenerate_all_ties_is_null_both_engines(
    spark, tmp_path
):
    """The r11 advice scenario: every order value ties across both
    segments → one histogram row → the tie correction drives σ to 0.
    Both the Spark plan and the DuckDB oracle must return z_milli NULL
    (not NaN, not a divide error) and agree on the exact STRING
    rank-sum outputs."""
    orders = pd.DataFrame({
        "o_orderkey": range(8),
        "o_custkey": [i % 4 for i in range(8)],
        "o_totalprice": [100.0] * 8,          # all-tie
    })
    customer = pd.DataFrame({
        "c_custkey": range(4),
        "c_mktsegment": ["AUTOMOBILE", "FURNITURE"] * 2,
    })
    sf = _sf_dir(tmp_path, {"orders": orders, "customer": customer})
    q = CATALOG["orders_mann_whitney"]
    srow = q.build(spark, sf).collect()[0]
    assert srow["z_milli"] is None
    assert srow["n1"] == 4 and srow["n2"] == 4
    # u1_x2 = R1·2 − n1(n1+1): one tied group of 8 → every row's
    # doubled midrank is (n+1)=9, so R1·2 = 4·9 = 36; 36 − 20 = 16.
    assert srow["u1_x2"] == "16"
    assert srow["tie_cubes"] == str(8 ** 3 - 8)

    import duckdb

    con = duckdb.connect()  # fresh: the shared fixture views sf0.001
    for t in ("orders", "customer"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf}/{t}.parquet')"
        )
    orow = con.execute(q.oracle).fetch_arrow_table().to_pylist()[0]
    assert orow["z_milli"] is None
    assert (orow["u1_x2"], orow["tie_cubes"]) == ("16", str(8 ** 3 - 8))

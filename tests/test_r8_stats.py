"""Third-implementation differential tests for the r8 statistics tier.

The driver gate already checks each query against its DuckDB twin; these
tests add an INDEPENDENT implementation (pandas/numpy, no SQL) so a bug
mirrored into both engine and oracle still gets caught — the golden-
reference discipline of test_golden_reference.py applied to statistics.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from catalog.dedup import q_containment_dup_pairs
from catalog.inference import (
    q_kaplan_meier_churn,
    q_spearman_price_date,
    q_theil_sen_daily_trend,
    q_welch_t_test,
)

SF = "/root/testdata/sf0.001"


def _orders() -> pd.DataFrame:
    return pd.read_parquet(f"{SF}/orders.parquet")


def _events() -> pd.DataFrame:
    return pd.read_parquet(f"{SF}/events.parquet")


def test_spearman_matches_pandas(spark):
    row = q_spearman_price_date(spark, SF).collect()[0]
    o = _orders()
    cents = (o["o_totalprice"] * 100).round().astype("int64")
    dv = (
        o["o_orderdate"].astype("datetime64[ns]").astype("int64") // 10**9
    ).astype("int64")
    # average ranks + Pearson (pandas' spearman delegates to scipy,
    # which this container doesn't ship — rank(method="average") is
    # the identical tie treatment)
    rx = pd.Series(cents).rank(method="average").to_numpy()
    ry = pd.Series(dv).rank(method="average").to_numpy()
    rho = float(np.corrcoef(rx, ry)[0, 1])
    # rho_micro is floor(rho * 1e6); pandas computes the same tie-
    # corrected (average-rank) statistic in float
    assert abs(row.rho_micro / 1e6 - rho) < 2e-6
    # doubled average ranks sum to n(n+1) exactly
    assert row.sum_rank2 == row.n * (row.n + 1)


def test_kaplan_meier_matches_pandas(spark):
    rows = q_kaplan_meier_churn(spark, SF).collect()
    ev = _events()
    sec = ev["ts"].astype("datetime64[ns]").astype("int64") // 10**9
    days = sec // 86400
    g = pd.DataFrame({"u": ev["user_id"], "d": days}).groupby("u")["d"]
    d0, d1 = g.min(), g.max()
    dmax = d1.max()
    lt = pd.DataFrame({"t": d1 - d0, "churn": (d1 < dmax - 7).astype(int)})
    # classic KM over distinct lifetimes
    surv = 1.0
    expect = {}
    at_risk = len(lt)
    for t in sorted(lt["t"].unique()):
        grp = lt[lt["t"] == t]
        d = int(grp["churn"].sum())
        if d:
            surv *= (at_risk - d) / at_risk
        expect[int(t)] = (at_risk, d, len(grp) - d, surv)
        at_risk -= len(grp)
    for r in rows:
        n_risk, d, c, s = expect[r.t_days]
        assert (r.n_risk, r.d_churned, r.c_censored) == (n_risk, d, c)
        # s_micro quantizes exp(sum of micro-quantized per-step lns):
        # each step contributes <1e-6 relative error
        assert abs(r.s_micro / 1e6 - s) < 1e-4


def test_theil_sen_matches_numpy(spark):
    row = q_theil_sen_daily_trend(spark, SF).collect()[0]
    ev = _events()
    sec = ev["ts"].astype("datetime64[ns]").astype("int64") // 10**9
    days = (sec // 86400).astype("int64")
    lo, hi = days.min(), days.max()
    grid = np.zeros(hi - lo + 1, dtype=np.int64)
    vc = days.value_counts()
    grid[vc.index.to_numpy() - lo] = vc.to_numpy()
    t = np.arange(len(grid))
    ti, tj = np.triu_indices(len(grid), k=1)
    # the query quantizes each slope to micro (trunc toward zero) first
    num = (grid[tj] - grid[ti]) * 1_000_000
    den = tj - ti
    sm = np.trunc(num / den).astype(np.int64)
    sm.sort()
    n = len(sm)
    med_x2 = int(sm[(n + 1) // 2 - 1]) + int(sm[n // 2])
    assert row.n_days == len(grid)
    assert row.n_pairs == n
    assert row.median_slope_x2_micro == med_x2


def test_welch_matches_numpy(spark):
    row = q_welch_t_test(spark, SF).collect()[0]
    ev = _events()
    p = ev[ev["event_type"] == "purchase"].copy()
    x = (p["value"] * 100).round().astype("int64").to_numpy()
    dow = p["ts"].dt.dayofweek.to_numpy()  # pandas: 0=Mon .. 6=Sun
    we = np.isin(dow, (5, 6))
    a, b = x[we].astype(float), x[~we].astype(float)
    va, vb = a.var(ddof=1) / len(a), b.var(ddof=1) / len(b)
    t = (a.mean() - b.mean()) / np.sqrt(va + vb)
    df = (va + vb) ** 2 / (va**2 / (len(a) - 1) + vb**2 / (len(b) - 1))
    assert (row.n_we, row.n_wd) == (len(a), len(b))
    assert abs(row.t_milli / 1e3 - t) < 2e-3
    assert abs(row.df_milli / 1e3 - df) < 2e-3


def test_containment_pairs_are_all_true_positives(spark):
    rows = q_containment_dup_pairs(spark, SF).collect()
    docs = pd.read_parquet(f"{SF}/documents.parquet").set_index("doc_id")

    def shingles(text: str) -> set:
        w = text.strip().lower().split()
        if len(w) < 3:
            return {" ".join(w)}
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    assert rows, "expected containment pairs at sf0.001"
    for r in rows:
        sa = shingles(docs.loc[r.id_a, "text"])
        sb = shingles(docs.loc[r.id_b, "text"])
        inter = len(sa & sb)
        assert inter == r.n_common
        assert inter * 1_000_000 // min(len(sa), len(sb)) == r.cont_micro
        assert r.cont_micro >= 500_000

"""Third-implementation differential tests for the r9 additions.

Same discipline as test_r8_stats.py: the driver gate checks each query
against its DuckDB twin; these recompute the statistic with an
INDEPENDENT pandas/numpy implementation so a bug mirrored into both
engine and oracle still gets caught.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from catalog.ann import _SEMDEDUP_K_MAX, _semdedup_k, q_semantic_dedup_keep_best
from catalog.inference import q_bh_fdr_event_shifts, q_psi_value_drift

SF = "/root/testdata/sf0.001"


def _events() -> pd.DataFrame:
    return pd.read_parquet(f"{SF}/events.parquet")


def _epoch_and_mid(ev: pd.DataFrame) -> tuple[pd.Series, int]:
    sec = ev["ts"].astype("datetime64[ns]").astype("int64") / 1e9
    mid = (math.floor(sec.min()) + math.floor(sec.max())) // 2
    return sec, mid


def _welch_z(x1: np.ndarray, x2: np.ndarray) -> float:
    n1, n2 = len(x1), len(x2)
    v1 = x1.var(ddof=1) / n1
    v2 = x2.var(ddof=1) / n2
    return (x1.mean() - x2.mean()) / math.sqrt(v1 + v2)


def test_bh_fdr_matches_numpy(spark):
    rows = q_bh_fdr_event_shifts(spark, SF).collect()
    ev = _events()
    ev = ev[ev["value"].notna()]
    sec, mid = _epoch_and_mid(ev)
    cents = (ev["value"] * 100).round().astype("int64").to_numpy()
    early = (sec <= mid).to_numpy()
    zs = {}
    for t in sorted(ev["event_type"].unique()):
        m = (ev["event_type"] == t).to_numpy()
        x1, x2 = cents[m & early], cents[m & ~early]
        if len(x1) >= 2 and len(x2) >= 2:
            zs[t] = _welch_z(
                x1.astype(np.float64), x2.astype(np.float64)
            )
    assert {r.event_type for r in rows} == set(zs)
    for r in rows:
        # engine z is one IEEE expression of exact sums; numpy's
        # var/mean accumulate differently — milli agreement is the
        # contract, allow the last tick
        assert abs(r.z_milli - round(zs[r.event_type] * 1000)) <= 1
    # independent BH: sort |z| desc, threshold at Phi^-1(1 - a*i/(2m))
    from statistics import NormalDist

    order = sorted(zs, key=lambda t: (-abs(zs[t]), t))
    m = len(order)
    nd = NormalDist()
    k_star = 0
    for i, t in enumerate(order, 1):
        if abs(zs[t]) >= nd.inv_cdf(1 - 0.05 * i / (2 * m)):
            k_star = i
    expect_rejected = set(order[:k_star])
    got_rejected = {r.event_type for r in rows if r.rejected}
    assert got_rejected == expect_rejected
    # ranks are the |z|-descending order with type tie-break
    got_order = [r.event_type for r in sorted(rows, key=lambda r: r.rnk)]
    assert got_order == order


def test_psi_matches_numpy(spark):
    rows = q_psi_value_drift(spark, SF).collect()
    ev = _events()
    ev = ev[ev["value"].notna()].copy()
    sec, mid = _epoch_and_mid(ev)
    ev["v"] = (ev["value"] * 100).round().astype("int64")
    ev["e"] = (sec <= mid).to_numpy()
    got = {r.event_type: r for r in rows}
    for t, g in ev.groupby("event_type"):
        early = g[g["e"]]
        if early.empty:
            assert t not in got
            continue
        # discrete decile edges over (v, event_id)-ordered early half
        es = early.sort_values(["v", "event_id"]).reset_index(drop=True)
        n = len(es)
        edges = np.array(
            [es["v"].iloc[(q * n + 9) // 10 - 1] for q in range(1, 10)]
        )
        v = g["v"].to_numpy()
        bins = (v[:, None] > edges[None, :]).sum(axis=1)
        ce = np.bincount(bins[g["e"].to_numpy()], minlength=10)[:10]
        cl = np.bincount(bins[~g["e"].to_numpy()], minlength=10)[:10]
        ne, nl = ce.sum(), cl.sum()
        psi = 0
        for b in range(10):
            pe = (2 * ce[b] + 1) / (2 * ne + 10)
            pl = (2 * cl[b] + 1) / (2 * nl + 10)
            psi += math.floor((pe - pl) * math.log(pe / pl) * 1e6 + 0.5)
        r = got[t]
        assert (r.n_early, r.n_late) == (ne, nl)
        # 10 floor-quantized terms, each at most one tick of float
        # disagreement from the engine's expression ordering
        assert abs(r.psi_micro - psi) <= 10


def test_psi_is_zero_between_identical_halves(spark):
    # property: equal per-bin proportions must contribute a zero
    # term — the no-drift fixed point of the smoothed PSI formula
    for ce, ne, cl, nlate in ((5, 50, 5, 50), (0, 10, 0, 10)):
        pe = (2 * ce + 1) / (2 * ne + 10)
        pl = (2 * cl + 1) / (2 * nlate + 10)
        assert math.floor((pe - pl) * math.log(pe / pl) * 1e6 + 0.5) == 0


def test_semantic_dedup_matches_numpy(spark):
    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (
        similarity,
    )

    rows = q_semantic_dedup_keep_best(spark, SF).collect()
    emb = pd.read_parquet(f"{SF}/embeddings.parquet")
    v = np.asarray(emb["embedding"].tolist(), dtype=np.float64)
    ids = emb["vec_id"].to_numpy()
    # k derives from the TOTAL corpus rowcount (pre-filter), exactly as
    # the query does via emb.count()
    k = _semdedup_k(len(emb))
    nz = (v * v).sum(axis=1) > 0
    v, ids = v[nz], ids[nz]
    cents = similarity.make_unit_planes(
        dim=64, n_planes=_SEMDEDUP_K_MAX, seed=777
    )[:k]
    cn = (cents**2).sum(axis=1)
    d = cn[None, :] - 2.0 * (v @ cents.T)
    cid = d.argmin(axis=1)  # first occurrence == smaller cid on ties
    cnorm = np.sqrt(cn)
    vn = np.sqrt((v * v).sum(axis=1))
    cc = (v @ cents.T) / (vn[:, None] * cnorm[None, :])
    cc_micro = np.floor(
        cc[np.arange(len(v)), cid] * 1e6 + 0.5
    ).astype("int64")
    # within-cluster pairs at cosine >= 0.4
    u = v / vn[:, None]
    parent = {int(i): int(i) for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for c in range(len(cents)):
        m = np.where(cid == c)[0]
        if len(m) < 2:
            continue
        s = u[m] @ u[m].T
        ia, ib = np.where(np.triu(s >= 0.4, 1))
        for x, y in zip(m[ia], m[ib]):
            union(int(ids[x]), int(ids[y]))
    comp = {int(i): find(int(i)) for i in ids}
    expect: dict[int, list] = {}
    for idx, i in enumerate(ids):
        expect.setdefault(comp[int(i)], []).append(
            (int(cc_micro[idx]), int(i))
        )
    assert len(rows) == len(expect)
    for r in rows:
        members = expect[r.component]
        keep = min(members)
        assert r.n_members == len(members)
        assert r.keep_id == keep[1]
        assert abs(r.keep_cos_micro - keep[0]) <= 1

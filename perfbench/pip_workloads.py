"""The two point-in-polygon workloads: `pip_aligned` and `pip_boundary`.

Both run the flagship job: synthetic pages (35% in one hotspot) are
assigned a boundary by `geo.pip.pip_join` against a prebuilt `PipIndex`,
keyed to Z-order res-7 cells by `geo.cells.with_cell`, rolled up by
(boundary_id, cell), and the per-boundary totals are collected.

- `pip_aligned` uses `gen_uk_boundaries(8, 8)`, whose edges lie on cell
  edges: every cell is interior, so the plan is pure JVM.
- `pip_boundary` uses 64 jittered-lattice tiles whose edges cut through
  cells, so about a quarter of the rows take the `mapInPandas` ray-cast.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from osmgraft.datagen.fixtures import gen_uk_boundaries
from osmgraft.datagen.spark_io import to_spark
from osmgraft.geo.cells import GridSpec, with_cell
from osmgraft.geo.geometry import parse_wkb, polygon_wkb
from osmgraft.geo.pip import PipIndex, pip_join

from perfbench.trace import (
    JobCounter,
    ladder,
    metric_sum,
    partition_skew,
    plan_nodes,
    spill_bytes,
)

SPEC = GridSpec()
ROLLUP_RES = 7
TILES = 8  # 8 x 8 boundary tiles
TILE_W = (SPEC.x1 - SPEC.x0) / TILES  # 87 500
LATTICE_SEED = 20211  # fixed: the tiles are the dimension table, not the input
LATTICE_JITTER = 0.18  # vertex jitter as a share of a tile width
WARM_SHOTS = 2
SAMPLE_ROWS = 4000  # rows checked one by one against a brute-force ray cast


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------


def id_offset(seed: int) -> int:
    return (seed % 1_000_003) * 1_000_033


def pages_df(spark, n: int, seed: int):
    """The flagship page generator (`bench.flagship_pages_df`) over the id
    range [offset, offset + n), the offset taken from the seed. 35% of rows
    fall in the dense hotspot at (525 000, 180 000)."""
    off = id_offset(seed)
    return pages_of(spark.range(off, off + n))


def pages_of(ids):
    hot = (F.col("id") % 20) < 7
    x = F.when(hot, 525000.0 + (F.col("id") % 997) * 16.0).otherwise(
        (F.col("id") % 78881) * 8.85 + 17.3
    )
    y = F.when(
        hot, 180000.0 + ((F.col("id") / F.lit(997)).cast("long") % 997) * 16.0
    ).otherwise(((F.col("id") / F.lit(13)).cast("long") % 78881) * 8.85 + 11.7)
    return ids.select(F.col("id").alias("page_id"), x.alias("x"), y.alias("y"))


def lattice_vertices(seed: int = LATTICE_SEED, jitter: float = LATTICE_JITTER):
    """(TILES+1)^2 shared lattice vertices, each moved by up to
    `jitter` x tile width. Vertices on the extent border move only along
    it, so the tiles still cover the extent without gaps or overlaps."""
    rng = np.random.default_rng(seed)
    g = np.arange(TILES + 1, dtype=np.float64) * TILE_W
    vx, vy = np.meshgrid(g + SPEC.x0, g + SPEC.y0, indexing="ij")
    d = jitter * TILE_W
    jx = rng.uniform(-d, d, vx.shape)
    jy = rng.uniform(-d, d, vy.shape)
    jx[[0, -1], :] = 0.0
    jy[:, [0, -1]] = 0.0
    return vx + jx, vy + jy  # indexed [i, j]: i along x, j along y


def lattice_tiles() -> pd.DataFrame:
    """64 quads over the jittered lattice, boundary_id = j * 8 + i like
    `gen_uk_boundaries`."""
    vx, vy = lattice_vertices()
    rows = []
    for j in range(TILES):
        for i in range(TILES):
            corners = [(i, j), (i + 1, j), (i + 1, j + 1), (i, j + 1), (i, j)]
            ring = np.array([[vx[a, b], vy[a, b]] for a, b in corners])
            bid = j * TILES + i
            rows.append({
                "boundary_id": bid,
                "name": f"lattice_{i}_{j}",
                "postcode_prefix": None,
                "polygon_wkb": polygon_wkb(ring),
            })
    return pd.DataFrame(rows)


# ---------------------------------------------------------------------------
# references that use neither the cell map nor the R-tree
# ---------------------------------------------------------------------------


def aligned_reference(spark, n: int, seed: int) -> dict:
    """Per-boundary counts from the arithmetic tile formula of the
    `pip_tile_counts` oracle: grid tile, NULL in the notch of every 7th
    (L-shaped) tile."""
    pages = pages_df(spark, n, seed)
    x, y = F.col("x"), F.col("y")
    ti = F.floor(x / F.lit(TILE_W))
    tj = F.floor(y / F.lit(TILE_W))
    bid = tj * TILES + ti
    half = TILE_W / 2
    notch = (bid % 7 == 3) & (x - ti * TILE_W > half) & (y - tj * TILE_W > half)
    ref = pages.withColumn("bid", F.when(notch, F.lit(None)).otherwise(bid).cast("long"))
    return {r["bid"]: r["n"]
            for r in ref.groupBy("bid").agg(F.count("*").alias("n")).collect()}


def pages_np(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """`pages_of` in numpy, operation for operation."""
    hot = (ids % 20) < 7
    x = np.where(hot, (ids % 997) * 16.0 + 525000.0, (ids % 78881) * 8.85 + 17.3)
    y = np.where(hot, ((ids / 997.0).astype(np.int64) % 997) * 16.0 + 180000.0,
                 ((ids / 13.0).astype(np.int64) % 78881) * 8.85 + 11.7)
    return x, y


def lattice_assign(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Tile of each point on the jittered lattice, from which side of each
    interior lattice polyline it lies on. Vertices move by less than a
    quarter tile, so vertical polylines are monotone in y, horizontal ones
    in x, and no two of a kind meet."""
    vx, vy = lattice_vertices()
    col = sum((x > np.interp(y, vy[i], vx[i])).astype(np.int64)
              for i in range(1, TILES))
    row = sum((y > np.interp(x, vx[:, j], vy[:, j])).astype(np.int64)
              for j in range(1, TILES))
    return row * TILES + col


def boundary_reference(spark, n: int, seed: int, chunk: int = 1 << 20) -> dict:
    """Per-boundary counts on the jittered lattice, in numpy on the driver."""
    counts = np.zeros(TILES * TILES, dtype=np.int64)
    off = id_offset(seed)
    for lo in range(off, off + n, chunk):
        x, y = pages_np(np.arange(lo, min(off + n, lo + chunk), dtype=np.int64))
        counts += np.bincount(lattice_assign(x, y), minlength=TILES * TILES)
    return {bid: int(c) for bid, c in enumerate(counts) if c}


def even_odd(rings: list[np.ndarray], ids: np.ndarray, x, y) -> np.ndarray:
    """Brute-force even-odd test of every point against every ring; -1
    where no ring contains the point."""
    out = np.full(len(x), -1, dtype=np.int64)
    for bid, ring in zip(ids, rings):
        x1, y1, x2, y2 = ring[:-1, 0], ring[:-1, 1], ring[1:, 0], ring[1:, 1]
        crosses = (y1[None, :] > y[:, None]) != (y2[None, :] > y[:, None])
        with np.errstate(divide="ignore", invalid="ignore"):
            xi = (x2 - x1) * (y[:, None] - y1) / (y2 - y1) + x1
        inside = ((crosses & (x[:, None] < xi)).sum(axis=1) % 2) == 1
        out[inside & (out < 0)] = bid
    return out


# ---------------------------------------------------------------------------
# the workload
# ---------------------------------------------------------------------------


class PipWorkload:
    """One PIP workload: `prepare` builds the index, `job` is one timed
    shot, `check` verifies the shots, `trace` gives the per-layer table."""

    def __init__(self, spark, seed: int, pages: int, tiles: pd.DataFrame,
                 reference, expect_raycast: bool):
        self.spark = spark
        self.seed = seed
        self.pages = pages
        self.tiles = tiles
        self.reference = reference
        self.expect_raycast = expect_raycast
        self.index: PipIndex | None = None
        self.last_df = None

    def prepare(self) -> None:
        bounds = to_spark(self.spark, self.tiles, "boundaries")
        self.index = PipIndex.build(bounds, res=ROLLUP_RES)

    def warm_up(self) -> None:
        # the first shots still speed up as the JVM compiles the hot loops
        for _ in range(WARM_SHOTS):
            self.job()

    # -- the job ----------------------------------------------------------

    def assigned(self, n: int):
        return pip_join(pages_df(self.spark, n, self.seed), how="left",
                        index=self.index)

    def rollup(self, assigned):
        cells = with_cell(assigned, "x", "y", SPEC, ROLLUP_RES, out="cell",
                          keep_ixy=False)
        return cells.groupBy("boundary_id", "cell").agg(F.count("*").alias("n"))

    def plan(self, n: int):
        return self.rollup(self.assigned(n)).groupBy("boundary_id").agg(
            F.sum("n").alias("n"), F.count("*").alias("cells")
        )

    @staticmethod
    def _counts(df) -> dict:
        return {r["boundary_id"]: (r["n"], r["cells"]) for r in df.collect()}

    def job(self) -> dict:
        df = self.plan(self.pages)
        out = self._counts(df)
        self.last_df = df
        return out

    # -- correctness ------------------------------------------------------

    def check(self, results: list) -> list[str]:
        """Problems with each shot's answer ('' = correct). The row-level
        and ray-cast checks cover the code path every shot ran, so when one
        fails every shot counts as failed."""
        expected = self.reference(self.spark, self.pages, self.seed)
        run_wide = "; ".join(p for p in (self.check_rows(), self.check_raycast()) if p)
        problems = []
        for res in results:
            if res is None:
                problems.append("job raised")
                continue
            got = {bid: n for bid, (n, _) in res.items()}
            p = run_wide
            if got != expected:
                diff = {k: (got.get(k), expected.get(k))
                        for k in set(got) | set(expected)
                        if got.get(k) != expected.get(k)}
                p = "; ".join(filter(None, [
                    f"per-boundary counts differ from reference: "
                    f"{dict(list(diff.items())[:5])}", p]))
            problems.append(p)
        return problems

    def check_rows(self) -> str:
        """Row-level check of a seeded sample against a brute-force ray
        cast over every tile ring ('' = correct)."""
        rng = np.random.default_rng(self.seed)
        off = id_offset(self.seed)
        ids = np.unique(rng.integers(off, off + self.pages,
                                     min(SAMPLE_ROWS, self.pages)))
        pages = pages_of(self.spark.createDataFrame(
            [(int(i),) for i in ids], "id long"))
        rows = pip_join(pages, how="left", index=self.index).collect()
        x = np.array([r["x"] for r in rows])
        y = np.array([r["y"] for r in rows])
        got = np.array([-1 if r["boundary_id"] is None else r["boundary_id"]
                        for r in rows])
        rings = [parse_wkb(bytes(w))[1] for w in self.tiles["polygon_wkb"]]
        want = even_odd(rings, self.tiles["boundary_id"].to_numpy(), x, y)
        bad = int((got != want).sum())
        if len(rows) != len(ids):
            return f"sample lost rows: {len(rows)} of {len(ids)}"
        return f"{bad} of {len(rows)} sampled rows mis-assigned" if bad else ""

    def check_raycast(self) -> str:
        """Rows the last shot sent through the ray-cast, read from its
        executed plan after the timing window, must be > 0 exactly when the
        fixture has boundary cells."""
        if self.last_df is None:
            return "no shot completed"
        n = metric_sum(plan_nodes(self.last_df), "MapInPandas", "number of output rows")
        if self.expect_raycast and n == 0:
            return "no row reached the boundary ray-cast: fixture is all-interior"
        if not self.expect_raycast and n != 0:
            return f"{n} rows reached the ray-cast on the cell-aligned fixture"
        return ""

    # -- per-layer trace --------------------------------------------------

    def trace(self, tracer, reps: int) -> dict:
        spark, n = self.spark, self.pages
        with tracer.span("pip.index_build"):
            self.prepare()
        cellmap = self.index.cellmap
        boundary_cells = cellmap.where("_cell_boundary").count()
        frac = boundary_cells / cellmap.count()

        def keyed():
            return with_cell(pages_df(spark, n, self.seed), "x", "y",
                             self.index.spec, self.index.res, out="_pipcell",
                             keep_ixy=False)

        steps = [
            ("scan.gen", lambda: pages_df(spark, n, self.seed)),
            ("cells.key", keyed),
            ("pip.cellmap_join",
             lambda: keyed().join(F.broadcast(self.index.cellmap), "_pipcell", "left")),
            ("pip.raycast", lambda: self.assigned(n)),
            ("rollup.partial_agg", lambda: self.rollup(self.assigned(n))),
        ]
        with tracer.span("ladder"):
            lad = ladder(steps, reps)

        with tracer.span("job", traced=True), JobCounter(spark, tracer.run_id) as jc:
            with tracer.span("plan"):
                df = self.plan(n)
                df._jdf.queryExecution().executedPlan()
            with tracer.span("execute"):
                self._counts(df)
        with tracer.span("plan_walk"):
            nodes = plan_nodes(df)
        return {
            "pip.index_build_s": tracer.total("pip.index_build"),
            "pip.boundary_cell_frac": frac,
            "plan_s": tracer.total("plan"),
            "scan.gen_s": lad["scan.gen"],
            "cells.key_s": lad["cells.key"],
            "pip.cellmap_join_s": lad["pip.cellmap_join"],
            "broadcast.bytes": metric_sum(nodes, "BroadcastExchange", "data size"),
            "pip.raycast_s": lad["pip.raycast"],
            "pip.raycast_rows": metric_sum(nodes, "MapInPandas", "number of output rows"),
            "pip.raycast_python_s": metric_sum(nodes, "MapInPandas", "time to run Python workers"),
            "pip.raycast_arrow_bytes":
            metric_sum(nodes, "MapInPandas", "data sent to Python workers")
            + metric_sum(nodes, "MapInPandas", "data returned from Python workers"),
            "rollup.partial_agg_s": lad["rollup.partial_agg"],
            "shuffle.bytes_written": metric_sum(nodes, "Exchange", "shuffle bytes written"),
            "shuffle.partition_skew": partition_skew(nodes),
            "spill.bytes": spill_bytes(nodes),
            "spark.jobs_per_run": jc.jobs,
            "_ladder_prefix_s": lad["_prefix_medians"],
            "_plan_nodes": nodes,
        }


def pip_aligned(spark, seed: int, scale: float) -> PipWorkload:
    return PipWorkload(spark, seed, max(1000, int(50_000_000 * scale)),
                       gen_uk_boundaries(TILES, TILES), aligned_reference,
                       expect_raycast=False)


def pip_boundary(spark, seed: int, scale: float) -> PipWorkload:
    return PipWorkload(spark, seed, max(1000, int(10_000_000 * scale)),
                       lattice_tiles(), boundary_reference, expect_raycast=True)

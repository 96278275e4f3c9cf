"""The `candidate_pipeline` workload: the `jobs/run_pipeline.py` flow called
as library functions.

pages parquet -> dedup report + `dedup_pages_keep_first` ->
`extract_features` -> `widen_features` -> `run_reference_pipeline` (four
candidate stages and the priority union, each written by `StageRunner` with
its lineage job) -> hex res-8 tile rollup -> `knn_join` to the airports.
Every output is written as parquet. It is the only workload that writes and
it never calls `geo.pip`.
"""

from __future__ import annotations

import hashlib
import shutil
from contextlib import nullcontext
from pathlib import Path
from unittest import mock

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import osmgraft.pipeline.runner as runner_mod
import osmgraft.runtime.metrics as metrics_mod
from osmgraft.datagen.fixtures import gen_pages, gen_poi_airports
from osmgraft.datagen.spark_io import to_spark
from osmgraft.extract.page_extract import _LOC_RE, extract_features
from osmgraft.extract.widen import widen_features
from osmgraft.geo import hexgrid as hg
from osmgraft.geo.cells import GridSpec
from osmgraft.geo.knn import knn_join
from osmgraft.pipeline.runner import run_reference_pipeline
from osmgraft.pipeline.union import assert_final_invariants
from osmgraft.text.dedup import dedup_pages_keep_first

from perfbench.trace import JobCounter, ladder, metric_sum, spill_bytes

PAGES = 5000
DUP_SHARE = 0.05  # share of pages re-crawled or mirrored (the dedup work)
TILE_RES = 8
KNN_RADIUS = 120000.0
OUTPUTS = ("candidates", "tiles", "nearest_poi", "dedup_report")

# order-independent content hash of the four outputs at the default seed
# and size (run.py DEFAULT_SEED, scale 1)
PINNED_HASH = "fce05a9a47611b7508b40f3f19434210"


def make_pages(n: int, seed: int) -> pd.DataFrame:
    """`gen_pages` plus seeded duplicates: half re-crawls (same url, a day
    later), half mirrors (another url, text padded with blanks that the
    dedup digest trims away). The originals sort first, so they are kept."""
    base = gen_pages(n, seed)
    rng = np.random.default_rng(seed + 7)
    k = int(len(base) * DUP_SHARE)
    pick = rng.choice(len(base), size=k, replace=False)
    recrawl = base.iloc[pick[: k // 2]].copy()
    recrawl["warc_ts"] = recrawl["warc_ts"] + pd.Timedelta(days=1)
    mirror = base.iloc[pick[k // 2:]].copy()
    mirror["url"] = mirror["url"].str.replace("https://example-", "https://mirror-",
                                              regex=False)
    mirror["text"] = mirror["text"] + "  "
    return pd.concat([base, recrawl, mirror], ignore_index=True)


def expectations(pages: pd.DataFrame) -> dict:
    """Output sizes the dedup report and tile rollup must have, from pandas."""
    norm = pages["text"].str.strip(" ").str.lower()
    sizes = norm.value_counts()
    kept = pages.loc[~norm.duplicated()]
    loc = kept["text"].str.extract(_LOC_RE)
    has_xy = pd.to_numeric(loc[0], errors="coerce").notna() & pd.to_numeric(
        loc[1], errors="coerce").notna()
    return {
        "dedup_report": int((sizes > 1).sum()),
        "dropped": int((sizes - 1).sum()),
        "kept": len(kept),
        "tile_points": int(has_xy.sum()),
    }


def table_hash(df) -> tuple[int, int]:
    """(rows, sum of 32-bit row hashes): independent of row order."""
    h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)]).bitwiseAND(0xFFFFFFFF)
    r = df.agg(F.count("*").alias("n"), F.sum(h).alias("h")).first()
    return int(r["n"]), int(r["h"] or 0)


class CandidatePipeline:
    def __init__(self, spark, seed: int, scale: float, workdir: Path,
                 pin_hash: bool):
        self.spark = spark
        self.seed = seed
        self.n = max(200, int(PAGES * scale))
        self.workdir = workdir
        self.pin_hash = pin_hash
        self.input = str(workdir / "pages")
        self.shots = 0
        self.pages = 0
        self.expect: dict = {}
        self.hashes: list[str] = []

    def prepare(self) -> None:
        pdf = make_pages(self.n, self.seed)
        self.pages = len(pdf)
        self.expect = expectations(pdf)
        to_spark(self.spark, pdf, "pages").write.mode("overwrite").parquet(self.input)

    def warm_up(self) -> None:
        shutil.rmtree(self.run(self.workdir / "warm_up"))

    # -- the job ----------------------------------------------------------

    def job(self) -> str:
        out = self.workdir / f"shot{self.shots}"
        self.shots += 1
        return self.run(out)

    def run(self, out: Path, span=lambda name: nullcontext()) -> str:
        """One pipeline run into `out`; `span(name)` wraps each eager call
        when tracing."""
        spark = self.spark
        shutil.rmtree(out, ignore_errors=True)
        pages = spark.read.parquet(self.input)
        digest = F.md5(F.lower(F.trim(F.col("text"))))
        report = (
            pages.select("url", digest.alias("text_digest"))
            .where(F.col("text_digest").isNotNull())
            .groupBy("text_digest")
            .agg(F.count("*").alias("n_pages"))
            .withColumn("n_dropped", F.col("n_pages") - 1)
            .where(F.col("n_dropped") > 0)
        )
        with span("dedup.report"):
            report.write.mode("overwrite").parquet(str(out / "dedup_report"))
        features = widen_features(extract_features(dedup_pages_keep_first(pages)))
        with span("runner.pipeline"):
            final = run_reference_pipeline(spark, features, workdir=str(out / "work"))
        with span("write.candidates"):
            final.write.mode("overwrite").parquet(str(out / "candidates"))
        points = features.where(F.col("x").isNotNull() & F.col("y").isNotNull())
        tiles = (
            points.withColumn("hex_cell", hg.hex_cell_col(F.col("x"), F.col("y"), TILE_RES))
            .groupBy("hex_cell")
            .agg(F.count("*").alias("n_pages"))
        )
        with span("hexgrid.tile_rollup"):
            tiles.write.mode("overwrite").parquet(str(out / "tiles"))
        pois = to_spark(spark, gen_poi_airports(), "pois")
        cand = final.where(F.col("longitude").isNotNull()).select(
            "osm_id", F.col("longitude").alias("x"), F.col("latitude").alias("y"))
        nearest = knn_join(cand, pois, GridSpec(), res=5, k=1, radius=KNN_RADIUS,
                           point_key="osm_id", poi_key="poi_id")
        with span("knn.nearest"):
            nearest.write.mode("overwrite").parquet(str(out / "nearest_poi"))
        return str(out)

    # -- correctness ------------------------------------------------------

    def check_one(self, out: str) -> tuple[str, str]:
        """(problem or '', content hash) of one run's outputs."""
        spark = self.spark
        t = {name: spark.read.parquet(f"{out}/{name}") for name in OUTPUTS}
        e = self.expect
        problems = []
        try:
            assert_final_invariants(t["candidates"])
        except AssertionError as exc:
            problems.append(str(exc))
        rep = t["dedup_report"].agg(F.count("*"), F.sum("n_dropped")).first()
        if (rep[0], rep[1] or 0) != (e["dedup_report"], e["dropped"]):
            problems.append(f"dedup report {tuple(rep)} != "
                            f"{(e['dedup_report'], e['dropped'])}")
        tile_sum = t["tiles"].agg(F.sum("n_pages")).first()[0] or 0
        if tile_sum != e["tile_points"]:
            problems.append(f"tiles hold {tile_sum} pages, want {e['tile_points']}")
        cand = t["candidates"].select("osm_id", "longitude", "latitude").toPandas()
        if not 0 < len(cand) <= e["kept"]:
            problems.append(f"{len(cand)} candidates from {e['kept']} kept pages")
        problems += self._check_knn(cand, t["nearest_poi"].toPandas())
        digest = hashlib.md5()
        for name in OUTPUTS:
            digest.update(repr((name, table_hash(t[name]))).encode())
        return "; ".join(problems), digest.hexdigest()

    @staticmethod
    def _check_knn(cand: pd.DataFrame, got: pd.DataFrame) -> list[str]:
        """Brute-force nearest airport within the radius for every candidate."""
        pois = gen_poi_airports()
        d = np.hypot(cand["longitude"].to_numpy()[:, None] - pois["x"].to_numpy()[None, :],
                     cand["latitude"].to_numpy()[:, None] - pois["y"].to_numpy()[None, :])
        best = d.argmin(axis=1)  # ties go to the lower poi_id, as in knn_join
        near = d[np.arange(len(cand)), best] <= KNN_RADIUS
        want = pd.DataFrame({"osm_id": cand["osm_id"][near].to_numpy(),
                             "poi_id": pois["poi_id"].to_numpy()[best[near]],
                             "dist": d[np.arange(len(cand)), best][near]})
        m = want.merge(got, on="osm_id", how="outer", suffixes=("", "_got"))
        bad = (m["poi_id"] != m["poi_id_got"]) | ~np.isclose(m["dist"], m["dist_got"])
        return [f"{int(bad.sum())} of {len(m)} nearest-airport rows wrong"] if bad.any() else []

    def check(self, results: list) -> list[str]:
        problems, hashes = [], set()
        for out in results:
            if out is None:
                problems.append("job raised")
                continue
            p, h = self.check_one(out)
            hashes.add(h)
            if self.pin_hash and h != PINNED_HASH:
                p = (p + "; " if p else "") + f"content hash {h} != pinned {PINNED_HASH}"
            problems.append(p)
            shutil.rmtree(out, ignore_errors=True)
        if len(hashes) > 1:
            problems = [p or "content hash differs between shots" for p in problems]
        self.hashes = sorted(hashes)
        return problems

    # -- per-layer trace --------------------------------------------------

    def trace(self, tracer, reps: int) -> dict:
        spark = self.spark
        store = tracer.store

        def pages():
            return spark.read.parquet(self.input)

        def dedup():
            return dedup_pages_keep_first(pages())

        steps = [
            ("scan.gen", pages),
            ("dedup.keep_first", dedup),
            ("extract.page_extract", lambda: extract_features(dedup())),
            ("extract.widen", lambda: widen_features(extract_features(dedup()))),
        ]
        with tracer.span("ladder"):
            lad = ladder(steps, reps)
        mark = store.mark()
        dedup().write.format("noop").mode("overwrite").save()
        dedup_nodes = store.nodes(mark)

        def stage_span(orig):
            def run_stage(self_, name, df_fn, fingerprint):
                kind = "union.final" if name == "final_union" else "runner.candidates"
                with tracer.span(kind, stage=name):
                    return orig(self_, name, df_fn, fingerprint)
            return run_stage

        def wrap(name, fn):
            def inner(*a, **k):
                with tracer.span(name):
                    return fn(*a, **k)
            return inner

        out = self.workdir / "traced"
        mark = store.mark()
        with mock.patch.object(runner_mod.StageRunner, "run_stage",
                               stage_span(runner_mod.StageRunner.run_stage)), \
                mock.patch.object(metrics_mod, "collect_stage_metrics",
                                  wrap("runner.lineage", metrics_mod.collect_stage_metrics)), \
                mock.patch.object(runner_mod, "assert_final_invariants",
                                  wrap("union.invariants", runner_mod.assert_final_invariants)), \
                JobCounter(spark, tracer.run_id) as jc, \
                tracer.span("job", traced=True):
            self.run(out, tracer.span)
        nodes = store.nodes(mark)
        files = [p for p in out.rglob("*.parquet") if p.is_file()]
        kept = spark.read.parquet(str(out / "nearest_poi")).count()
        knn_span = next(x for x in tracer.spans if x["name"] == "knn.nearest")
        knn_nodes = store.nodes(knn_span["exec_from"], knn_span["exec_to"])
        attempts = metric_sum(knn_nodes, "BroadcastHashJoin", "number of output rows")
        result = {
            "scan.gen_s": lad["scan.gen"],
            "dedup.keep_first_s": lad["dedup.keep_first"],
            "dedup.shuffle_bytes": metric_sum(dedup_nodes, "Exchange", "shuffle bytes written"),
            "extract.page_extract_s": lad["extract.page_extract"],
            "extract.python_s": metric_sum(nodes, "MapInPandas", "time to run Python workers"),
            "extract.rows_per_page": metric_sum(nodes, "MapInPandas", "number of output rows")
            / self.pages,
            "extract.widen_s": lad["extract.widen"],
            "runner.candidates_s": tracer.self_time("runner.candidates"),
            "union.final_s": tracer.self_time("union.final") + tracer.total("union.invariants"),
            "runner.lineage_s": tracer.total("runner.lineage"),
            "spark.jobs_per_run": jc.jobs,
            "hexgrid.tile_rollup_s": tracer.total("hexgrid.tile_rollup"),
            "knn.nearest_s": tracer.total("knn.nearest"),
            "knn.pairs_kept_ratio": kept / attempts if attempts else 0.0,
            "shuffle.bytes_written": metric_sum(nodes, "Exchange", "shuffle bytes written"),
            "spill.bytes": spill_bytes(nodes),
            "write.bytes": sum(p.stat().st_size for p in files),
            "write.files": len(files),
            "_ladder_prefix_s": lad["_prefix_medians"],
            "_plan_nodes": nodes,
        }
        shutil.rmtree(out, ignore_errors=True)
        return result


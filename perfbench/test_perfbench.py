"""Tests of the benchmark itself (not part of the repo's tier-1 suite).

    python3 -m pytest perfbench -q

The smoke tests run every workload end to end at a tiny input size, once
untraced and once traced; the contention tests run `pip_aligned` quiet and
under a numpy spin on every core.
"""

from __future__ import annotations

import glob
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

from perfbench import host, pip_workloads as pw  # noqa: E402
from perfbench.run import WORKLOADS  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
SMOKE_SCALE = {"pip_aligned": 0.01, "pip_boundary": 0.05, "candidate_pipeline": 0.04}


def run_bench(args: list[str], root: Path = ROOT, cwd: Path = HERE,
              timeout: int = 300):
    """Run `<root>/perfbench/run.py` from `cwd`: the smoke tests start it
    outside the checkout root, so Python workers must find osmgraft on
    their own."""
    return subprocess.run(
        [sys.executable, str(root / "perfbench" / "run.py"), *args], cwd=cwd,
        capture_output=True, text=True, timeout=timeout,
    )


def result_line(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


# ---------------------------------------------------------------------------
# BENCHMARK.json
# ---------------------------------------------------------------------------


def test_benchmark_json_contract():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert SPEC["paths"] == ["perfbench"]
    assert 1 <= SPEC["run_seconds"] <= 60 and isinstance(SPEC["run_seconds"], int)
    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)
    for w in SPEC["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
    names = [m["name"] for key in ("workloads", "end_to_end", "per_layer")
             for m in SPEC[key]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25 and UNIT.match(m["unit"])
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.match(m["unit"])
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    assert len((ROOT / "BENCHMARK.json").read_bytes()) <= 64 * 1024


# ---------------------------------------------------------------------------
# fixtures and references (no Spark)
# ---------------------------------------------------------------------------


def test_lattice_tiles_partition_the_extent():
    from osmgraft.geo.geometry import parse_wkb

    rings = [parse_wkb(bytes(w))[1] for w in pw.lattice_tiles()["polygon_wkb"]]
    area = sum(0.5 * abs(np.dot(r[:-1, 0], r[1:, 1]) - np.dot(r[1:, 0], r[:-1, 1]))
               for r in rings)
    extent = (pw.SPEC.x1 - pw.SPEC.x0) * (pw.SPEC.y1 - pw.SPEC.y0)
    assert math.isclose(area, extent, rel_tol=1e-9)
    vx, _ = pw.lattice_vertices()
    assert np.abs(vx[1:-1] - np.round(vx[1:-1] / pw.TILE_W) * pw.TILE_W).max() > 0


def test_lattice_assign_matches_brute_force_even_odd():
    tiles = pw.lattice_tiles()
    from osmgraft.geo.geometry import parse_wkb

    rings = [parse_wkb(bytes(w))[1] for w in tiles["polygon_wkb"]]
    rng = np.random.default_rng(5)
    x = rng.uniform(pw.SPEC.x0, pw.SPEC.x1, 20000)
    y = rng.uniform(pw.SPEC.y0, pw.SPEC.y1, 20000)
    want = pw.even_odd(rings, tiles["boundary_id"].to_numpy(), x, y)
    assert (want >= 0).all()  # the lattice leaves no gaps
    assert (pw.lattice_assign(x, y) == want).all()


def test_pages_np_matches_the_spark_generator_formula():
    ids = np.array([0, 6, 7, 19, 997 * 13 + 5, 10**9 + 3], dtype=np.int64)
    x, y = pw.pages_np(ids)
    for i, xi, yi in zip(ids.tolist(), x, y):
        if i % 20 < 7:
            assert (xi, yi) == (525000.0 + (i % 997) * 16.0,
                                180000.0 + (int(i / 997.0) % 997) * 16.0)
        else:
            assert (xi, yi) == ((i % 78881) * 8.85 + 17.3,
                                (int(i / 13.0) % 78881) * 8.85 + 11.7)


# ---------------------------------------------------------------------------
# contention flag
# ---------------------------------------------------------------------------


def test_contention_flag_from_in_run_spread():
    assert not host.contention([1.0, 1.1, 1.05], [0.3, 0.31, 0.33])["contended"]
    # one slow sample is a GC pause or a late JIT, two are contention
    assert not host.contention([1.0, 1.8, 1.05], [0.3, 0.31, 0.33])["contended"]
    assert host.contention([1.0, 1.8, 1.05, 1.9], [0.3, 0.31, 0.33])["contended"]
    assert host.contention([1.0, 1.1, 1.05], [0.3, 0.6, 0.33, 0.62])["contended"]
    assert not host.contention([1.0, 2.0], [0.3, 0.6])["contended"]


def _contention_run(spin: bool) -> dict:
    """pip_aligned for 16 s; with `spin`, a numpy loop on every core starts
    after the third shot."""
    proc = subprocess.Popen(
        [sys.executable, "perfbench/run.py", "--workload", "pip_aligned",
         "--seed", "3", "--seconds", "16", "--scale", "0.4"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    spinners = []
    try:
        for line in proc.stderr:
            if spin and "shot 3:" in line:
                env = dict(os.environ, OPENBLAS_NUM_THREADS="1", OMP_NUM_THREADS="1",
                           MKL_NUM_THREADS="1")
                code = ("import numpy as np, time\n"
                        "a = np.random.rand(256, 256); end = time.time() + 60\n"
                        "while time.time() < end: a @ a\n")
                spinners = [subprocess.Popen([sys.executable, "-c", code], env=env)
                            for _ in range(len(os.sched_getaffinity(0)))]
                break
        out, _ = proc.communicate(timeout=240)
    finally:
        for s in spinners:
            s.kill()
            s.wait(timeout=30)
    assert proc.returncode == 0
    line = next(ln for ln in out.splitlines() if ln.startswith("contention "))
    return json.loads(line[len("contention "):])


def test_background_spin_trips_the_contention_flag():
    assert _contention_run(spin=True)["contended"]


def test_quiet_run_is_not_flagged():
    flag = _contention_run(spin=False)
    assert not flag["contended"], flag


# ---------------------------------------------------------------------------
# end-to-end smoke runs
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke(workload: str, trace: int):
    t0 = time.time()
    r = run_bench(["--workload", workload, "--seed", "2", "--seconds", "1",
                   "--trace", str(trace), "--scale", str(SMOKE_SCALE[workload])])
    assert r.returncode == 0, r.stderr[-3000:]
    res = result_line(r.stdout)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert list(res["metrics"]) == [m["name"] for m in spec]
    for m in spec:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and math.isfinite(got["value"])
    printed = {ln.split()[0] for ln in r.stdout.splitlines()[:-1]}
    assert {m["name"] for m in spec} | {"error_rate"} <= printed
    metrics = {k: v["value"] for k, v in res["metrics"].items()}
    if not trace:
        assert all(v > 0 for v in metrics.values())
        return
    if workload == "pip_aligned":
        assert metrics["pip.raycast_rows"] == 0
    if workload == "pip_boundary":
        assert metrics["pip.raycast_rows"] > 0
        assert 0 < metrics["pip.boundary_cell_frac"] < 1
    if workload == "candidate_pipeline":
        assert metrics["extract.rows_per_page"] > 0
        assert metrics["spark.jobs_per_run"] > 0 and metrics["write.files"] > 0
    spans = [p for p in glob.glob(str(ROOT / ".perfbench_run/artifacts/"
                                      f"{workload}-seed2-trace1-*.spans.json"))
             if os.path.getmtime(p) >= t0]
    assert spans
    recs = json.loads(Path(spans[-1]).read_text())["spans"]
    assert {"job", "ladder"} <= {s["name"] for s in recs}
    assert all({"name", "start", "end", "parent", "run_id"} <= set(s) for s in recs)


def test_fails_without_the_program():
    """In a directory holding only BENCHMARK.json and perfbench, the command
    exits non-zero without printing a result."""
    bare = ROOT / ".perfbench_run" / f"bare-{os.getpid()}"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(HERE, bare / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    try:
        r = run_bench(["--workload", "pip_aligned", "--seed", "1", "--seconds", "1",
                       "--trace", "0"], root=bare, cwd=bare, timeout=180)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert r.returncode != 0
    assert '"correct"' not in r.stdout

#!/usr/bin/env python3
"""Same-host benchmark for osmgraft.

    python3 perfbench/run.py --workload pip_aligned --seed 1 --seconds 12 --trace 0

Runs one workload (see README.md) on local[N], N = $SPARK_GRAFT_CPUS or the
usable cores: sets up (session, inputs, index, warm-up), runs timed jobs
back to back for --seconds with a pure-JVM canary between them, checks
every job's answer, and prints a summary followed by one JSON line:

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json; with
--trace 1 a traced run (spans, plan-prefix ladder, executed-plan metrics)
follows the timed jobs and the metrics are the per-layer ones. Artifacts
(host record, shots, canaries, checks, spans) go to .perfbench_run/artifacts.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
WORKLOADS = ("pip_aligned", "pip_boundary", "candidate_pipeline")
DEFAULT_SEED = 1
SETUP_PASSES = 3  # setup_s uses the median pass
LADDER_REPS = 3
DRIVER_MEM = "2g"


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (smoke tests use a small one)")
    return ap.parse_args(argv)


def load_spec() -> dict:
    with open(ROOT / "BENCHMARK.json") as fh:
        return json.load(fh)


def prepare_env(run_dir: Path) -> int:
    """Keep every file the run writes inside the checkout and let Python
    workers import osmgraft from any working directory."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def start_spark(cpus: int, run_dir: Path):
    from osmgraft.session import get_spark

    spark = get_spark(
        app_name="osmgraft-perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.local.dir": str(run_dir / "spark-local"),
            # a fixed, pre-touched driver heap: the machine is shared, and
            # the memory peak should measure what the engine adds (off-heap,
            # Python workers, driver), not how far G1 chose to grow the heap
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'} "
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def make_workload(name: str, spark, seed: int, scale: float, run_dir: Path):
    if name == "candidate_pipeline":
        from perfbench.pipeline_workload import CandidatePipeline

        return CandidatePipeline(spark, seed, scale, run_dir,
                                 pin_hash=seed == DEFAULT_SEED and scale == 1.0)
    from perfbench import pip_workloads

    return getattr(pip_workloads, name)(spark, seed, scale)


def timed_shots(spark, wl, seconds: float):
    """Jobs back to back until `seconds` have passed, a canary after each."""
    from perfbench.host import CANARY_WARM, canary

    for _ in range(CANARY_WARM):
        canary(spark)
    shots, results, errors, canaries = [], [], [], [canary(spark)]
    end = time.perf_counter() + seconds
    while True:
        t0 = time.perf_counter()
        try:
            res = wl.job()
        except Exception:  # a failed job is counted, not fatal
            res = None
            errors.append(traceback.format_exc())
        shots.append(time.perf_counter() - t0)
        results.append(res)
        canaries.append(canary(spark))
        log(f"shot {len(shots)}: {shots[-1]:.3f} s (canary {canaries[-1]:.3f} s)")
        if time.perf_counter() >= end:
            return shots, results, errors, canaries


def run(args) -> int:
    from perfbench.host import (RssSampler, contention, cpu_ticks, host_record,
                                loadavg, steal_share)

    spec = load_spec()
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    base = ROOT / ".perfbench_run"
    run_dir = base / run_id
    art_dir = base / "artifacts"
    art_dir.mkdir(parents=True, exist_ok=True)
    cpus = prepare_env(run_dir)
    load_before, ticks_before = loadavg(), cpu_ticks()
    spark = None
    try:
        with RssSampler(os.getpid()) as rss:
            spark = start_spark(cpus, run_dir)
            session_s = time.perf_counter() - T_START
            log(f"session up in {session_s:.2f} s on local[{cpus}]")
            wl = make_workload(args.workload, spark, args.seed, args.scale, run_dir)
            passes = []
            for _ in range(SETUP_PASSES):
                t0 = time.perf_counter()
                wl.prepare()
                passes.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            wl.warm_up()
            warm_s = time.perf_counter() - t0
            setup_s = session_s + statistics.median(passes) + warm_s
            log(f"setup {setup_s:.2f} s (passes {[round(p, 2) for p in passes]}, "
                f"warm-up {warm_s:.2f} s)")

            shots, results, errors, canaries = timed_shots(spark, wl, args.seconds)
            problems = wl.check(results)
            for p in problems:
                if p:
                    log(f"check failed: {p}")
            for e in errors:
                log(e)
            good = [s for s, p in zip(shots, problems) if not p] or shots
            job_s = statistics.median(good)

            layers = {}
            if args.trace:
                from perfbench.trace import SqlStore, Tracer

                tracer = Tracer(run_id, SqlStore(spark))
                layers = wl.trace(tracer, LADDER_REPS)
                layers["session.start_s"] = session_s
                layers["trace.job_s"] = tracer.total("job")
                layers["trace.overhead_s"] = layers["trace.job_s"] - job_s
                tracer.write(art_dir / f"{run_id}.spans.json")
            host = host_record(spark, cpus)
        host["loadavg_before"] = load_before
        host["loadavg_after"] = loadavg()
        host["cpu_steal_share"] = steal_share(ticks_before, cpu_ticks())
        flag = contention(shots, canaries)
        failed = sum(1 for p in problems if p)
        e2e = {
            "job_s": job_s,
            "rows_per_s": wl.pages / job_s,
            "setup_s": setup_s,
            "peak_rss_mb": rss.peak_mb,
        }
        if args.trace:
            names = {m["name"]: m["unit"] for m in spec["per_layer"]}
            values = {n: float(layers.get(n, 0.0)) for n in names}
        else:
            names = {m["name"]: m["unit"] for m in spec["end_to_end"]}
            values = {n: float(e2e[n]) for n in names}
        metrics = {n: {"value": values[n], "unit": u} for n, u in names.items()}
        artifact = {
            "run_id": run_id, "workload": args.workload, "seed": args.seed,
            "scale": args.scale, "seconds": args.seconds, "host": host,
            "contention": flag, "pages": wl.pages, "shots_s": shots,
            "canaries_s": canaries, "setup_passes_s": passes, "warm_up_s": warm_s,
            "session_s": session_s, "problems": problems, "errors": errors,
            "error_rate": failed / len(shots), "end_to_end": e2e,
            "per_layer": layers, "content_hashes": getattr(wl, "hashes", None),
        }
        with open(art_dir / f"{run_id}.json", "w") as fh:
            json.dump(artifact, fh, indent=1, default=str)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    print("host " + json.dumps(host))
    print("contention " + json.dumps(flag))
    for n, m in metrics.items():
        print(f"{n} {m['value']:.6g} {m['unit']}")
    print(f"error_rate {failed / len(shots):.6g} ratio ({failed} of {len(shots)} jobs)")
    print(json.dumps({"correct": failed == 0, "attempted": len(shots),
                      "failed": failed, "metrics": metrics}))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "osmgraft" / "__init__.py").is_file():
        print(f"osmgraft sources not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())

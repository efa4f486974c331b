"""Layered benchmark for mdataframe_spark: one workload per process.

    python3 perfbench/run.py --workload de_matrix --seed 1 --seconds 16 --trace 0

Run from the repository root. A run generates (or reuses) the seeded
inputs under ``.perfbench/``, starts one Spark session, runs one cold
pass of the workload, then timed warm passes until ``--seconds`` have
elapsed (at least one, so a run's cost is bounded by time, not by a
pass count). Every pass's output digest must equal the cold
pass's, and the cold pass's outputs are checked against an independent
oracle; both happen outside the timers. The last stdout line is one
JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics: ``setup_s`` (process start
to session up and inputs registered, input generation excluded),
``cold_s`` (the first pass) and ``pass_s`` (median timed warm pass).
``--trace 1`` adds one traced pass after the timed ones and reports the
per-layer metrics instead; its spans go to ``.perfbench/traces/``.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

T_PROCESS = time.perf_counter()

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import inputs, trace, workloads  # noqa: E402

WORK = ROOT / ".perfbench"


def settings() -> dict:
    """The run's deployment settings: every core the process may use and
    a driver heap of a quarter of the box's memory (2-8 GB)."""
    cpus = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    heap_gb = max(2, min(8, round(mem_gb / 4)))
    return {
        # the JVMs write only inside the checkout: no perf-data files,
        # temp files under .perfbench/tmp (the launcher JVM too)
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}",
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        "TMPDIR": str(WORK / "tmp"),
        "PYTHONPATH": os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
    }


def start_spark():
    from mdataframe_spark import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.local.dir": str(WORK / "spark-local"),
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it the
    Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.PASSES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "mdataframe_spark" / "__init__.py").exists():
        print(f"mdataframe_spark not found under {ROOT}", file=sys.stderr)
        return 2

    t_gen = time.perf_counter()
    input_dir, meta = inputs.ensure_inputs(WORK / "inputs", args.workload, args.seed)
    gen_s = time.perf_counter() - t_gen
    os.environ.update(settings())
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    tempfile.tempdir = os.environ["TMPDIR"]  # also for modules that already asked

    t_session = time.perf_counter()
    spark = start_spark()
    try:
        session_start_s = time.perf_counter() - t_session
        frames = workloads.register(spark, args.workload, input_dir)
        setup_s = time.perf_counter() - T_PROCESS - gen_s
        result = run_passes(spark, args, frames, input_dir, meta)
    finally:
        stop_spark(spark)

    e2e = {"setup_s": setup_s, **result["end_to_end"]}
    print(
        f"{args.workload} seed={args.seed}: setup_s={setup_s:.3f} s "
        f"cold_s={e2e['cold_s']:.3f} s pass_s={e2e['pass_s']:.3f} s "
        f"fail_frac={result['failed'] / result['attempted']:.4f} ratio "
        f"(timed passes {[round(t, 2) for t in result['timed']]} s, inputs {gen_s:.1f} s)"
    )
    for line in result["errors"]:
        print("check failed:", line)
    if args.trace:
        layers = {**result["layers"], "session.start_s": session_start_s}
        metrics = {k: {"value": v, "unit": workloads.unit(k)} for k, v in sorted(layers.items())}
    else:
        metrics = {k: {"value": v, "unit": "s"} for k, v in e2e.items()}
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


def run_passes(spark, args, frames, input_dir, meta) -> dict:
    """Cold pass, oracle check, timed passes, and (with --trace 1) one
    traced pass. Every public call and every check is one attempted
    operation; a raised call or a failed check is one failed operation."""
    from mdataframe_spark.cache import release_caches

    out = WORK / "out" / f"{args.workload}-{args.seed}"
    run_pass = workloads.PASSES[args.workload]
    counts = {"attempted": 0, "failed": 0}
    errors: list[str] = []

    def plain_call(layer, fn, *a, **k):
        counts["attempted"] += 1
        try:
            return fn(*a, **k)
        except Exception:
            counts["failed"] += 1
            raise

    def expect(ok: bool, what: str):
        counts["attempted"] += 1
        if not ok:
            counts["failed"] += 1
            errors.append(what)

    def one_pass(call=plain_call):
        """Run one pass; returns (wall seconds, output digest, outputs)."""
        shutil.rmtree(out, ignore_errors=True)
        out.mkdir(parents=True)
        t0 = time.perf_counter()
        try:
            paths = run_pass(call, frames, out)
        except Exception as e:  # counted by plain_call; the run goes on
            traceback.print_exc()
            errors.append(f"pass raised {type(e).__name__}: {e}")
            return time.perf_counter() - t0, None, None
        wall = time.perf_counter() - t0
        return wall, workloads.digest(paths), paths

    def settle():
        """Between passes: unpersist the pass's intermediates and collect
        the driver heap, so every pass starts from the same state."""
        release_caches()
        spark.sparkContext._jvm.System.gc()

    cold_s, cold_digest, paths = one_pass()
    if paths is not None:
        errs = workloads.CHECKS[args.workload](paths, meta, input_dir)
        expect(not errs, "; ".join(errs))
    settle()
    timed = []
    t_start = time.perf_counter()
    while not timed or time.perf_counter() - t_start < args.seconds:
        s, d, _ = one_pass()
        timed.append(s)
        expect(d == cold_digest, "timed pass digest differs from the cold pass")
        settle()
    pass_s = statistics.median(timed)
    result = {"end_to_end": {"cold_s": cold_s, "pass_s": pass_s}, "timed": timed,
              "errors": errors}
    if args.trace:
        tracer = trace.Tracer(spark, plain_call)
        result["layers"] = trace.traced_pass(
            spark, tracer, one_pass, cold_digest, expect, cold_s, pass_s
        )
        result["layers"]["cache.released"] = release_caches()
        trace.write(
            WORK / "traces" / f"{args.workload}-{args.seed}.json",
            {"workload": args.workload, "seed": args.seed, "timed": timed,
             "spans": tracer.spans, "metrics": result["layers"]},
        )
    shutil.rmtree(out, ignore_errors=True)
    result.update(counts)
    return result


if __name__ == "__main__":
    sys.exit(main())

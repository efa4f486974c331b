"""A/B runner for the layered benchmark: alternating parent/change pairs.

    python scripts/ab.py BASE CHANGE --workload corpus_curation --seed 4 --pairs 10

BASE and CHANGE are git revisions. Each is exported with ``git archive``
into ``.ab/<commit>/`` (its committed files only, as a fresh checkout
sees them, and no worktree left registered in the repository), so both
sides run their own ``perfbench/run.py`` against their own package.
The two revisions must have identical benchmark files.

Each pair runs one process per side, never two at once, and alternates
which side goes first. Run length is ``run_seconds`` from
``BENCHMARK.json``. Every run's JSON result is appended to
``.ab/<workload>-<seed>.jsonl``.

Per end-to-end metric the summary gives the change's wins out of the
pairs (ties count for neither side), each side's median and quartiles,
the parent's IQR, and a verdict. A gain needs wins in at least nine
tenths of the pairs and medians further apart than the parent's IQR. Otherwise the change's median is compared with the
parent's against the metric's regression bound, and a metric whose
parent spread (IQR over median) exceeds the bound is unresolved unless
every change run beats every parent run.
"""
from __future__ import annotations

import argparse
import json
import math
import statistics
import subprocess
import sys
import tarfile
from io import BytesIO
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".ab"
BENCH_FILES = ["BENCHMARK.json", "perfbench"]


def git(*args: str) -> bytes:
    return subprocess.run(["git", *args], cwd=ROOT, check=True, capture_output=True).stdout


def export(rev: str) -> Path:
    """The committed tree of ``rev`` under ``.ab/<commit>/`` (reused)."""
    sha = git("rev-parse", "--verify", f"{rev}^{{commit}}").decode().strip()
    d = WORK / sha[:12]
    if not (d / "perfbench" / "run.py").exists():
        tmp = WORK / f".tmp-{sha[:12]}"
        tmp.mkdir(parents=True, exist_ok=True)
        with tarfile.open(fileobj=BytesIO(git("archive", sha)), mode="r:") as tar:
            tar.extractall(tmp, filter="data")
        tmp.rename(d)
    return d


def run_once(side: Path, workload: str, seed: int, seconds: float) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=side, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-4000:])
        raise SystemExit(f"{side.name}: run exited {p.returncode}")
    return json.loads(lines[-1])


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(base: list[float], change: list[float], better: str, bound: float) -> dict:
    sign = 1 if better == "lower" else -1  # > 0: the change is better
    gains = [sign * (b - c) for b, c in zip(base, change)]
    wins = sum(g > 0 for g in gains)
    bq, cq = quartiles(base), quartiles(change)
    iqr = bq[2] - bq[0]
    gain = sign * (bq[1] - cq[1])
    all_better = max(change) < min(base) if better == "lower" else min(change) > max(base)
    if wins >= math.ceil(0.9 * len(gains)) and gain > iqr:
        call = "gain"
    elif -gain > bound * bq[1]:
        call = "REGRESSION (worse than the bound)"
    elif iqr > bound * bq[1] and not all_better:
        call = "unresolved (parent spread wider than the bound)"
    else:
        call = "no gain, within the bound"
    return {"wins": wins, "pairs": len(gains), "base_q": bq, "change_q": cq,
            "base_iqr": iqr, "verdict": call}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pairs", type=int, default=10)
    args = ap.parse_args(argv)

    if git("diff", "--name-only", args.base, args.change, "--", *BENCH_FILES).strip():
        raise SystemExit("the two revisions differ in the benchmark files; "
                         "an A/B comparison needs identical benchmark code")
    sides = {"base": export(args.base), "change": export(args.change)}
    bench = json.loads((sides["base"] / "BENCHMARK.json").read_text())
    metrics = bench["end_to_end"]
    log = WORK / f"{args.workload}-{args.seed}.jsonl"
    runs: dict[str, list[dict]] = {"base": [], "change": []}
    for i in range(args.pairs):
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for side in order:
            r = run_once(sides[side], args.workload, args.seed, bench["run_seconds"])
            runs[side].append(r)
            row = {"pair": i, "side": side, "commit": sides[side].name, **r}
            with log.open("a") as f:
                f.write(json.dumps(row) + "\n")
            vals = " ".join(f"{m['name']}={r['metrics'][m['name']]['value']:.3f}"
                            for m in metrics)
            print(f"pair {i} {side:6s} {vals} failed={r['failed']}/{r['attempted']}",
                  flush=True)

    print(f"\n{args.workload} seed {args.seed}: base {sides['base'].name} vs "
          f"change {sides['change'].name}, {args.pairs} pairs, "
          f"{bench['run_seconds']} s runs")
    for side in ("base", "change"):
        print(f"{side}: failed {sum(r['failed'] for r in runs[side])} of "
              f"{sum(r['attempted'] for r in runs[side])} operations")
    for m in metrics:
        name = m["name"]
        base = [r["metrics"][name]["value"] for r in runs["base"]]
        change = [r["metrics"][name]["value"] for r in runs["change"]]
        v = verdict(base, change, m["better"], m["bound"])
        bq, cq = v["base_q"], v["change_q"]
        print(f"{name}: change wins {v['wins']}/{v['pairs']}; median base "
              f"{bq[1]:.3f} vs change {cq[1]:.3f} {m['unit']} "
              f"({(cq[1] - bq[1]) / bq[1]:+.1%}); quartiles base "
              f"[{bq[0]:.3f}, {bq[2]:.3f}] change [{cq[0]:.3f}, {cq[2]:.3f}]; "
              f"base IQR {v['base_iqr']:.3f}; bound {m['bound']:.0%} -> {v['verdict']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Steadiness check: run each workload once per seed and report every
end-to-end metric's run-to-run spread against its bound.

    python3 perfbench/steady.py --runs 10 [--workloads search,msearch]
                                [--first-seed 1] [--traced 2]

The spread is the distance between the first and third quartile of the
runs' values (``statistics.quantiles(values, n=4)``) as a share of
their median. Every metric, ``setup_s`` included, must stay within
its ``bound`` from ``BENCHMARK.json``. With ``--traced N`` the first N
seeds also run traced, each right after its untraced run, and the
tracing overhead is the median of the paired ratios of the traced
run's ``trace.op_p50_ms`` to the untraced ``op_p50_ms``. Each run's
line also shows its wall time, and the last line projects from the mean
walls the time of 4 traced runs plus 22 untraced runs per workload, the
run count the benchmark's 3,420 s budget is sized for.
Exits 1 if a spread exceeds its bound or a run is not correct.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# per-layer metrics printed for each traced run: what bounds the op
SHOWN = ("trace.op_p50_ms", "spark.jobs_per_op", "spark.task_busy_share", "spark.cpu_share",
         "wand.op_share", "postings.decode_op_share")


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-2000:])
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    result["wall_s"] = time.perf_counter() - t
    return result


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="run-to-run spread of each metric against its bound")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=None, help="comma-separated; default: all")
    ap.add_argument("--traced", type=int, default=0, help="also run the first N seeds traced")
    args = ap.parse_args(argv)
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    seeds = range(args.first_seed, args.first_seed + args.runs)
    traced = set(list(seeds)[: args.traced])
    ok = True
    walls, traced_walls = [], []
    for w in workloads:
        runs, overhead = {}, []
        for s in seeds:
            r = run_once(w, s, spec["run_seconds"], 0)
            runs[s] = r
            walls.append(r["wall_s"])
            ok &= bool(r["correct"])
            print(f"{w} seed={s} correct={r['correct']} attempted={r['attempted']} failed={r['failed']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
                  + f" wall={r['wall_s']:.0f}s", flush=True)
            if s in traced:
                t = run_once(w, s, spec["run_seconds"], 1)
                traced_walls.append(t["wall_s"])
                ok &= bool(t["correct"])
                overhead.append(t["metrics"]["trace.op_p50_ms"]["value"]
                                / r["metrics"]["op_p50_ms"]["value"] - 1)
                print(f"{w} seed={s} traced correct={t['correct']} "
                      + " ".join(f"{k}={t['metrics'][k]['value']:.4g}" for k in SHOWN)
                      + f" wall={t['wall_s']:.0f}s", flush=True)
        for m in spec["end_to_end"]:
            vals = [runs[s]["metrics"][m["name"]]["value"] for s in seeds]
            sp = spread(vals)
            within = sp <= m["bound"]
            ok &= within
            print(f"{w} {m['name']:20s} median={statistics.median(vals):12.4f} {m['unit']:7s} "
                  f"spread={sp:.3f} bound={m['bound']:.3f} {'ok' if within else 'OVER'}"
                  f"{'' if sp <= m['bound'] / 3 else ' (above a third of the bound)'}")
        if overhead:
            print(f"{w} tracing overhead on op_p50_ms: {statistics.median(overhead):+.1%} "
                  f"(median of {len(overhead)} paired seeds)")
    traced_wall = statistics.fmean(traced_walls) if traced_walls else statistics.fmean(walls)
    print(f"projected 4 traced + 22 untraced runs per workload: {4 * traced_wall + 22 * len(workloads) * statistics.fmean(walls):.0f}s "
          f"(mean untraced run {statistics.fmean(walls):.0f}s, traced {traced_wall:.0f}s)")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

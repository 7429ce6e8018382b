"""Run the benchmark on several seeds and report, per workload and
end-to-end metric, the median and the spread: the distance between
the first and third quartile (statistics.quantiles, n=4) as a share of
the median.

    python3 refbench/steadiness.py --workloads ingest search agent \\
        --seeds 1-10 [--seconds S] [--out results.json]

Runs one benchmark process at a time from the repository root; the
per-run result lines are appended to ``--out`` as they arrive.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs: dict[str, list[dict]] = {}
    for w in args.workloads:
        for seed in seeds(args.seeds):
            t0 = time.time()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, timeout=180)
            wall = time.time() - t0
            if proc.returncode != 0:
                print(proc.stderr[-3000:], file=sys.stderr)
                raise SystemExit(f"{w} seed {seed}: exit {proc.returncode}")
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1])
            env = [ln.split(" ", 1)[1] for ln in lines if ln.startswith("refbench-env ")]
            result.update(workload=w, seed=seed, wall_s=wall,
                          env=json.loads(env[-1]) if env else None)
            runs.setdefault(w, []).append(result)
            m = {k: round(v["value"], 3) for k, v in result["metrics"].items()}
            steal = result["env"].get("cpu_steal_pct") if result["env"] else None
            print(f"{w} seed {seed}: {wall:.1f}s steal={steal}% correct={result['correct']} "
                  f"attempted={result['attempted']} failed={result['failed']} {m}", flush=True)
            if args.out:
                with open(args.out, "a") as fh:
                    fh.write(json.dumps(result) + "\n")
    print()
    for w, rs in runs.items():
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in rs]
            s = spread(vals) if len(vals) >= 2 else float("nan")
            flag = "" if s < bound / 3 else ("  > bound/3" if s <= bound else "  > BOUND")
            print(f"{w:7s} {name:12s} median={statistics.median(vals):10.3f} "
                  f"spread={s:6.3f} bound={bound}{flag}")
        walls = [r["wall_s"] for r in rs]
        print(f"{w:7s} wall per run: median {statistics.median(walls):.1f}s, max {max(walls):.1f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())

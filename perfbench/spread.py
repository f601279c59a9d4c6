"""Run the benchmark in sets of seeded runs and print, per workload and
end-to-end metric, each set's median and quartiles, the spread (Q3 - Q1
as a share of the median) against the metric's bound, and how far the
second set's median moved from the first's.

    python3 perfbench/spread.py                 # 2 sets x 10 seeds, every workload
    python3 perfbench/spread.py --sets 1 --seeds 5 --workloads stream

Runs are serial (one Spark JVM at a time). Each run's result line and run
log (steal seconds, phases) are appended to ``perfbench/_work/spread.jsonl``.
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


def run_once(workload: str, seed: int, seconds: int, trace: int = 0) -> dict:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    wall = time.time() - t0
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    log = {}
    for line in proc.stderr.splitlines():
        if line.startswith('{"run_log"'):
            log = json.loads(line)["run_log"]
    return {"workload": workload, "seed": seed, "trace": trace, "rc": proc.returncode,
            "wall_s": round(wall, 1), "result": result, "log": log,
            "stderr_tail": proc.stderr[-2000:] if proc.returncode else ""}


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3, (q3 - q1) / statistics.median(values)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    p = argparse.ArgumentParser()
    p.add_argument("--sets", type=int, default=2)
    p.add_argument("--seeds", type=int, default=10)
    p.add_argument("--workloads", nargs="*", default=[w["name"] for w in spec["workloads"]])
    args = p.parse_args()
    os.makedirs(os.path.join(ROOT, "perfbench", "_work"), exist_ok=True)
    out = os.path.join(ROOT, "perfbench", "_work", "spread.jsonl")
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    sets: list[dict] = []
    for s in range(args.sets):
        runs: dict = {}
        for w in args.workloads:
            for seed in range(1, args.seeds + 1):
                r = run_once(w, seed, spec["run_seconds"])
                r["set"] = s + 1
                with open(out, "a") as f:
                    f.write(json.dumps(r) + "\n")
                res = r["result"]
                print(f"set {s + 1} {w} seed {seed}: rc={r['rc']} wall={r['wall_s']}s "
                      f"steal={r['log'].get('steal_s')}s correct={res and res['correct']} "
                      f"attempted={res and res['attempted']} failed={res and res['failed']}",
                      flush=True)
                if res is None:
                    print(r["stderr_tail"], file=sys.stderr)
                runs.setdefault(w, []).append(r)
        sets.append(runs)
    ok = True
    for w in args.workloads:
        print(f"\n== {w}")
        for name, bound in bounds.items():
            meds = []
            for s, runs in enumerate(sets):
                vals = [r["result"]["metrics"][name]["value"] for r in runs[w] if r["result"]]
                med, q1, q3, sp = spread(vals)
                meds.append(med)
                flag = "" if sp <= bound else "  SPREAD > BOUND"
                ok = ok and not flag
                print(f"  set {s + 1} {name:20s} median {med:12.4f}  q1 {q1:12.4f}  "
                      f"q3 {q3:12.4f}  spread {sp:6.3f}  bound {bound}{flag}")
            if len(meds) == 2:
                better = next(m["better"] for m in spec["end_to_end"] if m["name"] == name)
                worse = (meds[1] - meds[0]) / meds[0] * (1 if better == "lower" else -1)
                flag = "  MOVED > BOUND" if worse > bound else ""
                ok = ok and not flag
                print(f"  {name:26s} set 2 vs set 1: {worse:+.3f} (worse is +){flag}")
        shares = {
            s: {(r["result"]["failed"], r["result"]["attempted"]) for r in runs[w] if r["result"]}
            for s, runs in enumerate(sets)
        }
        print(f"  (failed, attempted) per set: {shares}")
    print("\nall within bounds" if ok else "\nsome metric is outside its bound")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

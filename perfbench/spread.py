"""Runs one workload over several seeds and reports, per metric, the
median and the spread (quartile distance over the median) next to the
metric's bound from BENCHMARK.json. With `--overhead`, each seed also
runs traced, and the traced run's end-to-end metrics (kept in its result
file) are compared with the untraced run's: the tracing overhead, as the
median over seeds of traced minus untraced.

    python3 perfbench/spread.py --workload watch-churn --seeds 1 2 3 4 5
    python3 perfbench/spread.py --workload search-warm --seeds 1 2 3 --overhead
"""
import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


def run(workload, seed, seconds, trace):
    t0 = time.time()
    before = set(glob.glob(os.path.join(ROOT, ".bench_results", "*.json")))
    res = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                          "--workload", workload, "--seed", str(seed),
                          "--seconds", str(seconds), "--trace", str(trace)],
                         cwd=ROOT, stdout=subprocess.PIPE, text=True)
    if res.returncode != 0:
        raise SystemExit(f"{workload} seed {seed}: exit {res.returncode}")
    line = json.loads(res.stdout.strip().splitlines()[-1])
    new = set(glob.glob(os.path.join(ROOT, ".bench_results", "*.json"))) - before
    with open(max(new, key=os.path.getmtime)) as fh:
        result = json.load(fh)
    result["wall_s"] = time.time() - t0
    return line, result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--overhead", action="store_true")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]
    plain, traced, walls = {}, {}, []
    for seed in a.seeds:
        line, result = run(a.workload, seed, seconds, 0)
        walls.append(result["wall_s"])
        if not line["correct"] or line["failed"]:
            print(f"seed {seed}: correct={line['correct']} failed={line['failed']}")
        for k, v in line["metrics"].items():
            plain.setdefault(k, []).append(v["value"])
        if a.overhead:
            _, result = run(a.workload, seed, seconds, 1)
            for k, v in result["end_to_end"].items():
                traced.setdefault(k, []).append(v["value"])
        st = result["stamp"]
        # share of the host's CPU time the hypervisor gave to other guests
        steal = (st["cpu_steal_jiffies_end"] - st["cpu_steal_jiffies_start"]) \
            / (100.0 * st["nproc"] * result["wall_s"])
        print(f"seed {seed}: steal {steal:.1%} " + json.dumps(
            {k: round(v[-1], 4) for k, v in plain.items()}), flush=True)
    print(f"\n{a.workload}: {len(a.seeds)} seeds, wall per untraced run "
          f"{min(walls):.1f}-{max(walls):.1f} s")
    for k, vs in plain.items():
        sp = stats.spread(vs) if len(vs) >= 2 else float("nan")
        b = bounds.get(k)
        flag = "" if b is None or sp < b / 3 else "  <-- spread above bound/3"
        line = f"  {k:22s} median {statistics.median(vs):12.4f}  spread {sp:7.4f}  bound {b}{flag}"
        if a.overhead and k in traced:
            # each seed's traced run follows its untraced one: the median of
            # the paired differences cancels drift slower than a pair
            diffs = [t - u for t, u in zip(traced[k], vs)]
            line += f"  traced-untraced {statistics.median(diffs):+.4f} (paired median)"
        print(line)


if __name__ == "__main__":
    main()

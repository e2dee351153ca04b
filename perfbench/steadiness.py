#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/steadiness.py --workloads search ingest curation \
        --seeds 1 2 3 4 5 6 7 8 9 10

Every run is untraced and lasts BENCHMARK.json's run_seconds. For every
workload and metric it prints the median of the runs, the first and
third quartiles (Python's statistics.quantiles, n=4), and the quartile
distance as a share of the median, next to the metric's bound in
BENCHMARK.json. Runs go one after another, so they do not contend.
The raw result lines, each with the share of CPU time the hypervisor
stole while the run lasted, are appended to .bench_build/steadiness.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def cpu_steal():
    """(steal, total) jiffies of all CPUs, from /proc/stat (Linux)."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        return v[7], sum(v)
    except (OSError, ValueError, IndexError):
        return 0, 0


def share(a, b):
    """Share of CPU time the hypervisor stole between two samples."""
    return (b[0] - a[0]) / (b[1] - a[1]) if b[1] > a[1] else 0.0


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="+",
                    default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    log = os.path.join(ROOT, ".bench_build", "steadiness.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)

    for w in a.workloads:
        values, walls, failed = {}, [], 0
        for seed in a.seeds:
            steal0 = cpu_steal()
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            walls.append(time.time() - t0)
            steal = share(steal0, cpu_steal())
            if p.returncode != 0:
                print(f"{w} seed {seed}: exit code {p.returncode}", file=sys.stderr)
                failed += 1
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            with open(log, "a") as f:
                f.write(json.dumps({"workload": w, "seed": seed, "wall_s": walls[-1],
                                    "steal": steal, "result": res}) + "\n")
            failed += 0 if res["correct"] else 1
            print(f"{w} seed {seed}: steal {steal:.3f}, " + ", ".join(
                f"{k} {v['value']:.6g}" for k, v in res["metrics"].items()), file=sys.stderr)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        print(f"\n{w}: {len(a.seeds)} runs, {failed} failed or incorrect, "
              f"wall per run median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s")
        print(f"| metric | median | q1 | q3 | (q3-q1)/median | bound |")
        print(f"|---|---|---|---|---|---|")
        for k, vs in values.items():
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0], 0, vs[0])
            spread = (q3 - q1) / med if med else float("nan")
            b = bounds.get(k)
            print(f"| {k} | {med:.6g} | {q1:.6g} | {q3:.6g} | {spread:.4f} | "
                  f"{'' if b is None else b} |")


if __name__ == "__main__":
    main()

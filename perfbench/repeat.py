#!/usr/bin/env python3
"""Repeatability report: run each workload in fresh JVMs and print, per
end-to-end metric, the median, the quartiles and the spread (interquartile
range as a share of the median) next to the metric's bound.

    python3 perfbench/repeat.py --runs 10 [--sets 2] [--workload W ...]

Seeds are first-seed, first-seed+1, ...; workloads are interleaved run by
run, so slow drift on the host spreads over all of them. With --sets 2 the
same seeds run twice and the report also gives how far the second set's
median moved from the first's. Every run's result line is kept in
.bench_build/repeat/.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time

import run


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def main():
    spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--workload", action="append",
                    default=None, help="default: every workload")
    args = ap.parse_args()
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    out_dir = run.BUILD / "repeat"
    out_dir.mkdir(parents=True, exist_ok=True)
    log = out_dir / f"{time.strftime('%Y%m%d-%H%M%S')}.jsonl"
    results = {}  # (set, workload) -> [metrics]
    for s in range(args.sets):
        for seed in range(args.first_seed, args.first_seed + args.runs):
            for w in workloads:
                t0 = time.monotonic()
                p = subprocess.run(
                    [sys.executable, str(run.HERE / "run.py"), "--workload", w,
                     "--seed", str(seed), "--seconds", str(args.seconds),
                     "--trace", "0"], stdout=subprocess.PIPE, text=True)
                took = time.monotonic() - t0
                lines = p.stdout.strip().splitlines()
                if p.returncode != 0 or not lines:
                    sys.exit(f"run failed: {w} seed {seed}")
                line = json.loads(lines[-1])
                with open(log, "a") as f:
                    f.write(json.dumps({"set": s, "workload": w, "seed": seed,
                                        "run_s": took, **line}) + "\n")
                results.setdefault((s, w), []).append(line)
                print(f"set {s} seed {seed} {w}: {took:.1f} s, correct={line['correct']}",
                      file=sys.stderr)
    print(f"{'workload':13s} {'metric':13s} {'median':>10s} {'q1':>10s} {'q3':>10s}"
          f" {'spread':>7s} {'bound':>6s} {'drift':>7s}")
    for w in workloads:
        for m in spec["end_to_end"]:
            name = m["name"]
            meds = []
            for s in range(args.sets):
                vals = [r["metrics"][name]["value"] for r in results[(s, w)]]
                med, q1, q3, sp = spread(vals)
                meds.append(med)
                drift = ""
                if s > 0 and meds[0]:
                    drift = f"{(med - meds[0]) / meds[0]:+.3f}"
                print(f"{w:13s} {name:13s} {med:10.4f} {q1:10.4f} {q3:10.4f}"
                      f" {sp:7.3f} {m['bound']:6.2f} {drift:>7s}")
    print(f"runs: {log}", file=sys.stderr)


if __name__ == "__main__":
    main()

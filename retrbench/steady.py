#!/usr/bin/env python3
"""Steadiness check for the retrieval benchmark.

    python3 retrbench/steady.py --workloads serve,ingest --seeds 1-10 \
        [--seconds S] [--trace 0|1] [--out FILE]

Runs run.py once per (workload, seed), then prints per workload and metric
the median, the first and third quartiles (statistics.quantiles, n=4), the
spread (Q3 - Q1) as a share of the median, and that spread against a third
of the metric's bound from BENCHMARK.json. With --trace 1 it reports the
per-layer metrics instead and marks the counts that repeat exactly. Raw
results go to --out as JSON lines, one per run.
"""

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
SPEC = HERE.parent / "BENCHMARK.json"


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.time() - t0
    if p.returncode != 0:
        raise SystemExit(f"{workload} seed {seed}: run.py exited {p.returncode}")
    lines = p.stdout.strip().splitlines()
    # the end-to-end values are printed in traced runs too: keep them, so
    # traced and untraced runs can be compared (the tracing overhead)
    e2e = {l.split()[1]: float(l.split()[2]) for l in lines if l.startswith("metric ")}
    notes = [l[5:] for l in lines if l.startswith("note ")]
    return json.loads(lines[-1]), e2e, notes, wall


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="serve,ingest")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    spec = json.loads(SPEC.read_text())
    seconds = a.seconds or spec["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    out = open(a.out, "a") if a.out else None
    for w in a.workloads.split(","):
        results = []
        for s in seeds(a.seeds):
            res, e2e, notes, wall = run(w, s, seconds, a.trace)
            results.append(res)
            print(f"{w} seed {s}: {wall:.1f} s wall, correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']}", flush=True)
            if out:
                out.write(json.dumps({"workload": w, "seed": s, "trace": a.trace, "wall_s": wall,
                                      "e2e": e2e, "notes": notes, **res}) + "\n")
                out.flush()
        print(f"\n{w}: {len(results)} runs")
        print(f"{'metric':34} {'median':>14} {'q1':>14} {'q3':>14} {'spread':>8}  verdict")
        for name in results[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in results]
            q1, med, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else vals * 3
            spread = (q3 - q1) / med if med else 0.0
            b = bounds.get(name)
            if a.trace:
                verdict = "repeats exactly" if len(set(vals)) == 1 else ""
            elif name == "setup_s":
                verdict = "(spread not bounded)"
            else:
                verdict = "ok" if spread < b / 3 else ("within bound" if spread <= b else "TOO NOISY")
            print(f"{name:34} {med:14.6g} {q1:14.6g} {q3:14.6g} {spread:8.2%}  {verdict}")
        print(flush=True)


if __name__ == "__main__":
    main()

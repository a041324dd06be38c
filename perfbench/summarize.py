#!/usr/bin/env python3
"""Summarize the run records perfbench/run.py leaves in
`.bench_build/perfbench/runs/`.

    python3 perfbench/summarize.py [--out FILE]

For each workload: the untraced runs' end-to-end metrics (median, first and
third quartile, and their distance as a share of the median — the spread
each metric's bound in BENCHMARK.json must exceed), the traced runs' per-span table (median over runs of
each run's per-op medians), and the tracing overhead (traced minus
untraced median op latency). Prints the summary as JSON and writes it to
FILE when given.
"""
import argparse
import glob
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))
RUNS = os.path.join(os.path.dirname(HERE), ".bench_build", "perfbench", "runs")


def stats(xs):
    out = {"n": len(xs), "median": statistics.median(xs)}
    if len(xs) >= 2:
        q1, _, q3 = statistics.quantiles(xs, n=4)
        out.update(q1=q1, q3=q3, spread=(q3 - q1) / out["median"] if out["median"] else 0.0)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out")
    args = ap.parse_args()
    recs = []
    for p in sorted(glob.glob(os.path.join(RUNS, "*.json"))):
        with open(p) as f:
            recs.append(json.load(f))
    summary = {}
    for w in sorted({r["workload"] for r in recs}):
        mine = [r for r in recs if r["workload"] == w and r["metrics"]]
        plain = [r for r in mine if not r["traced"]]
        traced = [r for r in mine if r["traced"]]
        s = {"untraced_runs": len(plain), "traced_runs": len(traced),
             "failed_runs": sum(1 for r in mine if r["failed"] or r["errors"]),
             "seeds": sorted({r["seed"] for r in mine}),
             "env": {k: stats([r["env"][k] for r in mine])
                     for k in ("load1_at_start", "box_minus_self_cpu_s", "wall_s")}}
        if plain:
            s["end_to_end"] = {k: stats([r["metrics"][k] for r in plain])
                               for k in plain[0]["metrics"]}
        if traced:
            names = sorted({n for r in traced for n in r["span_table"]})
            s["spans"] = {n: {k: statistics.median(r["span_table"][n][k]
                                                   for r in traced if n in r["span_table"])
                              for k in next(r["span_table"][n] for r in traced
                                            if n in r["span_table"])}
                          for n in names}
            s["per_layer"] = {k: statistics.median(r["metrics"][k] for r in traced)
                              for k in traced[0]["metrics"]}
            if plain:
                s["tracing_overhead_s"] = (s["per_layer"]["trace.op_p50_s"] -
                                           s["end_to_end"]["op_p50_s"]["median"])
        summary[w] = s
    text = json.dumps(summary, indent=1, sort_keys=True)
    print(text)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")


if __name__ == "__main__":
    main()

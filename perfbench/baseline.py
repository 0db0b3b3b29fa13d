#!/usr/bin/env python3
"""Summarize a workload over several seeds, untraced and traced.

Usage (from the repository root):
    python3 perfbench/baseline.py --workload <name> --seeds 1,2,3 [--traced-seeds 1,2,3]

Runs perfbench/run.py once per seed with --trace 0 and once per traced
seed with --trace 1, then prints one JSON object: for every end-to-end
metric its median, quartile spread (IQR / median), sample count and run
values; for
every per-layer and per-workload metric the median over the traced runs;
and the tracing overhead, the traced median of each end-to-end metric
relative to the untraced one.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.exit(f"run failed (seed {seed}, trace {trace}):\n{p.stderr[-3000:]}")
    return json.loads(lines[-2])["record"], json.loads(lines[-1])


def summary(values):
    values = [v for v in values if v is not None]
    if not values:
        return None
    med = statistics.median(values)
    out = {"median": med, "n": len(values), "values": values}
    if len(values) >= 2 and med:
        q = statistics.quantiles(values, n=4)
        out["spread"] = (q[2] - q[0]) / med
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1,2,3")
    ap.add_argument("--traced-seeds", default="1,2,3")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    plain = [run(a.workload, int(s), seconds, 0) for s in a.seeds.split(",") if s]
    traced = [run(a.workload, int(s), seconds, 1) for s in a.traced_seeds.split(",") if s]

    def metric(runs, name):
        return [r[1]["metrics"][name]["value"] for r in runs if name in r[1]["metrics"]]

    def record_metric(runs, name):
        return [r[0]["workload_metrics"][name]["value"] for r in runs
                if name in r[0]["workload_metrics"]]

    e2e = {m: summary(metric(plain, m)) for m in plain[0][1]["metrics"]}
    out = {
        "workload": a.workload, "seconds": seconds,
        "correct": all(r[1]["correct"] for r in plain + traced),
        "end_to_end": e2e,
        "workload_metrics": {m: summary(record_metric(plain, m))
                             for m in plain[0][0]["workload_metrics"]},
    }
    if traced:
        out["per_layer"] = {m: summary(metric(traced, m)) for m in traced[0][1]["metrics"]}
        out["traced_workload_metrics"] = {
            m: summary(record_metric(traced, m)) for m in traced[0][0]["workload_metrics"]}
        spans = {}
        for rec, _ in traced:
            for name, s in rec.get("spans", {}).items():
                spans.setdefault(name, []).append(s)
        out["spans"] = {n: {"count": statistics.median([s["count"] for s in ss]),
                            "total_s": statistics.median([s["total_s"] for s in ss]),
                            "self_s": statistics.median([s["self_s"] for s in ss])}
                        for n, ss in sorted(spans.items())}
        # a traced run prints layer metrics; its record keeps the
        # end-to-end ones, measured with tracing on
        traced_e2e = {m: statistics.median([r[0]["end_to_end"][m]["value"] for r in traced])
                      for m in e2e}
        out["tracing_overhead"] = {m: traced_e2e[m] / e2e[m]["median"] - 1 for m in e2e}
    print(json.dumps(out, indent=1, sort_keys=True))


if __name__ == "__main__":
    main()

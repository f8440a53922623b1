#!/usr/bin/env python3
"""Run the benchmark N times per workload (one seed each) plus one traced
run per workload, and summarize every end-to-end metric as median,
quartiles and spread (quartile distance over median, as
statistics.quantiles(values, n=4) gives them).

Usage (from the repository root):
  python3 perfbench/baseline.py --out perfbench/baseline [--runs 10] [--first-seed 101]
                                [--workloads etl_lake,registry_mix]

Writes <out>/runs.jsonl (one line per run: the report and result lines)
and <out>/summary.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def one(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"{workload} seed {seed} failed ({p.returncode}):\n{p.stderr[-3000:]}")
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values), "n": len(values)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=101)
    ap.add_argument("--workloads", default="etl_lake,registry_mix")
    args = ap.parse_args()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    os.makedirs(args.out, exist_ok=True)
    summary = {}
    with open(os.path.join(args.out, "runs.jsonl"), "a") as log:
        for w in args.workloads.split(","):
            results = []
            for i in range(args.runs + 1):
                trace = int(i == args.runs)  # the last run of each workload is traced
                report, result = one(w, args.first_seed + i, spec["run_seconds"], trace)
                log.write(json.dumps({"report": report, "result": result}) + "\n")
                log.flush()
                if not result["correct"] or result["failed"]:
                    raise SystemExit(f"{w} seed {args.first_seed + i}: incorrect or failed ops")
                results.append((report, result))
                print(w, args.first_seed + i, "trace" if trace else "",
                      {k: round(v["value"], 3) for k, v in result["metrics"].items()
                       if not trace}, file=sys.stderr)
            untraced, (traced_report, _) = results[:-1], results[-1]
            e2e = {m["name"]: spread([r["metrics"][m["name"]]["value"] for _, r in untraced])
                   for m in spec["end_to_end"]}
            overhead = {k: traced_report["end_to_end"][k][0] / e2e[k]["median"] - 1.0
                        for k in e2e if k != "setup_s"}
            summary[w] = {"end_to_end": e2e, "tracing_overhead_vs_untraced_median": overhead,
                          "traced_self_time_ms_per_op": traced_report["self_time_ms_per_op"],
                          "host": traced_report["host"], "inputs": traced_report["inputs"]}
    with open(os.path.join(args.out, "summary.json"), "w") as fh:
        json.dump(summary, fh, indent=1)
    print(json.dumps(summary, indent=1))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Steadiness evidence: run each workload with several seeds, in one or
more sets of runs of the same code, then report per end-to-end metric
(and per wall-clock figure of the telemetry line) each set's median,
quartiles and spread (distance between the first and third quartile as a
share of the median, from ``statistics.quantiles(values, n=4)``), next to
the metric's bound from BENCHMARK.json, and how far each later set's
median moved from the first set's in the metric's worse direction. With
``--traced``, one traced run per workload is added and its own end-to-end
figures are compared with the first set's medians: that difference is
the tracing overhead.

Usage: python3 perfbench/steadiness.py [--runs 10] [--sets 2]
         [--first-seed 1] [--workloads a,b] [--traced]
         [--out perfbench/results/steadiness.json]

Set k uses seeds first_seed + 100 k + i, i < runs; the sets of a
workload run one after the other.
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
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True, cwd=ROOT)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {r.returncode}\n"
                           f"{r.stderr[-3000:]}")
    extra = {}
    for line in lines[:-1]:
        key, _, body = line.partition(" ")
        if key in ("telemetry", "traced_end_to_end"):
            extra[key] = json.loads(body)
    return json.loads(lines[-1]), extra


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "values": values}


def run_set(w, seeds, seconds, bounds):
    per_metric, walls, telemetry = {}, {}, []
    for seed in seeds:
        result, extra = run(w, seed, seconds, 0)
        if not result["correct"]:
            raise RuntimeError(f"{w} seed {seed}: incorrect: {result}")
        telemetry.append({"seed": seed, **extra.get("telemetry", {})})
        for k, v in result["metrics"].items():
            per_metric.setdefault(k, []).append(v["value"])
        for k, v in extra["telemetry"]["wall"].items():
            walls.setdefault(k, []).append(v)
        print(w, seed, {k: round(v["value"], 4)
                        for k, v in result["metrics"].items()},
              file=sys.stderr, flush=True)
    return {"metrics": {k: {**summary(v), "bound": bounds.get(k)}
                        for k, v in per_metric.items()},
            "wall": {k: summary(v) for k, v in walls.items()},
            "telemetry": telemetry}


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(
        w["name"] for w in bench["workloads"]))
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--out")
    args = ap.parse_args()
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    higher = {m["name"] for m in bench["end_to_end"] if m["better"] == "higher"}
    report = {"run_seconds": seconds, "workloads": {}}
    for w in args.workloads.split(","):
        sets = [run_set(w, [args.first_seed + 100 * k + i
                            for i in range(args.runs)], seconds, bounds)
                for k in range(args.sets)]
        entry = {"sets": sets, "shift": {}}
        first = sets[0]["metrics"]
        for later in sets[1:]:
            for k, m in later["metrics"].items():
                moved = m["median"] / first[k]["median"] - 1
                entry["shift"].setdefault(k, []).append(
                    -moved if k in higher else moved)
        if args.traced:
            seed = args.first_seed + 100 * args.sets
            layers, extra = run(w, seed, seconds, 1)
            traced = {k: v["value"]
                      for k, v in extra["traced_end_to_end"].items()}
            traced.update(extra["telemetry"]["wall"])
            medians = {k: m["median"] for k, m in
                       list(first.items()) + list(sets[0]["wall"].items())}
            entry["traced"] = {
                "seed": seed, "correct": layers["correct"],
                "telemetry": extra["telemetry"],
                "per_layer": layers["metrics"],
                "overhead": {k: traced[k] / medians[k] - 1
                             for k in traced if medians.get(k)}}
        report["workloads"][w] = entry
        for n, st in enumerate(sets):
            for k, m in list(st["metrics"].items()) + list(st["wall"].items()):
                b = m.get("bound")
                flag = ("" if b is None or m["spread"] < b / 3
                        else "  <-- above bound/3")
                print(f"{w:16s} set {n} {k:17s} median {m['median']:12.4f} "
                      f"spread {m['spread']:.4f} bound {b}{flag}",
                      file=sys.stderr)
        for k, moves in entry["shift"].items():
            print(f"{w:16s} {k:17s} worse by {max(moves):+.4f} "
                  f"(bound {bounds[k]})", file=sys.stderr)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()

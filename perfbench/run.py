#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source (perfbench/build.py),
generates the workload's inputs from the seed, runs the harness JVM
(set-up, one cold unit, then warm ops in a closed loop
with one client for ``--seconds``), checks the outputs outside the
timed window, and prints as its last stdout line one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it carries the host telemetry. Exits 1 when a
correctness check fails and 2 when the run could not be made.

Everything it writes stays under .bench_build/perfbench in the checkout.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_docs  # noqa: E402
import gen_etl  # noqa: E402
import gen_tables  # noqa: E402
import metrics  # noqa: E402

# Input sizes and run shape per workload (also stated in BENCHMARK.json
# and perfbench/README.md). Each run's input holds exactly one cold op,
# `warmup` warm-up ops and `warm` warm ops, so every run's warm
# statistics cover the same ops; --seconds caps the warm window.
WORKLOADS = {
    "etl_daily": {"heap": "2g", "warmup": 2, "warm": 2, "html_rows": 8000},
    "curation_ingest": {"heap": "2g", "warmup": 1, "warm": 2,
                        "batch_size": 250, "min_quality": 0.6},
}
TIME_LIMIT_S = 170  # the whole command, build excluded

JAVA_OPTS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    # no hsperfdata file under /tmp: the run writes only inside the checkout
    "-XX:-UsePerfData"]


def generate(workload, cfg, seed, input_dir, traced):
    """Write the run's inputs; return the harness's workload arguments."""
    ops = 1 + cfg["warmup"] + cfg["warm"]
    if workload == "curation_ingest":
        gen_docs.main(input_dir, seed, ops, cfg["batch_size"])
        return ["--min-quality", str(cfg["min_quality"])]
    gen_etl.main(input_dir, seed, ops, cfg["html_rows"])
    if not traced:
        return []
    # the traced run also asks the query registry over a star schema
    registry = os.path.join(input_dir, "registry")
    gen_tables.main(registry, seed)
    return ["--registry", registry]


def check_etl(raw, input_dir):
    """Per-table row counts equal the generator's; each append table has
    exactly one crawl_date partition per tick."""
    expected = {d["run_date"]: d for d in
                json.load(open(os.path.join(input_dir, "expected.json")))}
    c = raw["checks"]
    ticked = c["ticked"]
    bad = []
    for table, by_date in c["append"].items():
        want = {d: expected[d]["rows"][table] for d in ticked}
        if by_date != want:
            bad.append(f"{table}: rows by crawl_date {by_date} != {want}")
        parts = sorted(p.split("=", 1)[1] for p in c["partitions"][table])
        if parts != sorted(ticked):
            bad.append(f"{table}: partitions {parts} != ticks {ticked}")
    last = ticked[-1]
    for table, got in c["replace"].items():
        want = expected[last]["rows"][table]
        if got["rows"] != want or got["crawl_dates"] != [last]:
            bad.append(f"{table}: {got} != {want} rows of {last}")
    if c["registry"]:
        bad += check_registry(c["registry"], os.path.join(input_dir, "registry"))
    return bad


def check_registry(c, tables_dir):
    """Every registry query asked matches its DuckDB oracle, compared the
    way tools/check.py compares graft.Verify dumps."""
    bad = [f"{q}: spark failed: {e}" for q, e in c["spark_failed"].items()]
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                        tables_dir, c["verify_dir"]], capture_output=True,
                       text=True, cwd=ROOT, timeout=120)
    if r.returncode != 0:
        bad += [line for line in r.stdout.splitlines()
                if line.startswith("FAIL")] or [r.stdout[-2000:] + r.stderr[-2000:]]
    return bad


def check_curation(raw, input_dir):
    """The admitted-doc count equals the generator's, and fsck reports
    zero findings."""
    c = raw["checks"]
    expected = json.load(open(os.path.join(input_dir, "expected.json")))
    want = expected["admitted_cum"][c["batches_fed"] - 1]
    bad = []
    if c["admitted_ids"] != want or c["admitted_rows"] != want:
        bad.append(f"admitted {c['admitted_rows']} rows / {c['admitted_ids']} "
                   f"ids after {c['batches_fed']} batches, expected {want}")
    if c["fsck_findings"] != 0:
        bad.append(f"fsck: {c['fsck_findings']} findings {c['fsck_sample']}")
    return bad


CHECKS = {"etl_daily": check_etl, "curation_ingest": check_curation}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    cfg = WORKLOADS[args.workload]
    try:
        cp = build.classpath()
    except (RuntimeError, subprocess.CalledProcessError) as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    t_start = time.monotonic()
    base = os.path.join(build.OUT, "runs")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    input_dir = os.path.join(work, "input")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        workload_args = generate(args.workload, cfg, args.seed, input_dir,
                                 args.trace == 1)
        raw_path = os.path.join(work, "raw.json")
        log_path = os.path.join(work, "jvm.log")
        cmd = ["java", f"-Xms{cfg['heap']}", f"-Xmx{cfg['heap']}",
               f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", *JAVA_OPTS,
               "-cp", cp, "perfbench.Harness", "--workload", args.workload,
               "--input", input_dir, "--work", work,
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--warmup", str(cfg["warmup"]),
               "--out", raw_path, *workload_args]
        budget = TIME_LIMIT_S - (time.monotonic() - t_start) - 25
        with open(log_path, "w") as log:
            try:
                rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                    cwd=work, timeout=budget).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0 or not os.path.exists(raw_path):
            with open(log_path, errors="replace") as log:
                tail = log.read()[-4000:]
            print(f"harness failed ({rc}):\n{tail}", file=sys.stderr)
            return 2
        raw = json.load(open(raw_path))
        bad = ([f"harness check error: {raw['checks']['error']}"]
               if "error" in raw["checks"] else
               CHECKS[args.workload](raw, input_dir))
        for line in bad:
            print(f"check failed: {line}", file=sys.stderr)
        result = metrics.reduce(raw, input_dir, args.trace == 1, bad)
        record = {"workload": args.workload, "seed": args.seed,
                  "seconds": args.seconds, "trace": args.trace,
                  "host": raw["host"], "result": result, "notes": metrics.notes(raw)}
        if args.trace:
            traces = os.path.join(build.OUT, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(raw_path, os.path.join(
                traces, f"{args.workload}-s{args.seed}.json"))
            # the traced run's own end-to-end figures, for the overhead
            record["traced_end_to_end"] = metrics.reduce(
                raw, input_dir, False, bad)["metrics"]
        with open(os.path.join(build.OUT, "runs.jsonl"), "a") as f:
            f.write(json.dumps(record) + "\n")
        print("telemetry " + json.dumps({"host": raw["host"],
                                         **record["notes"]}))
        if args.trace:
            print("traced_end_to_end " + json.dumps(record["traced_end_to_end"]))
        print(json.dumps(result))
        return 0 if result["correct"] else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

"""Reduce one harness record (raw.json) to the benchmark's metrics.

End-to-end metrics (every untraced run) come from op timings only;
per-layer metrics (traced runs) come from the spans the harness keeps
around its calls into each layer, the facts it samples after each op,
and the counts its SparkListener collects. Definitions are in
perfbench/README.md.
"""
import bisect
import json
import os
import statistics

MAIN_KIND = {"etl_daily": "tick", "curation_ingest": "batch"}
ETL_JOBS = ["audisto", "sf_html", "midoco", "inlinks", "orphans",
            "backlinks", "images", "hreflang"]
PACKS = ["core", "northstar", "sqlsurface", "curation", "warehouse", "mining",
         "quality", "analytics", "retrieval", "search", "tokenizer"]
SPARK_KEYS = ["jobs_per_op", "stages_per_op", "tasks_per_op", "task_p50_ms",
              "job_busy_s", "driver_idle_s", "executor_run_s",
              "executor_cpu_s", "gc_s", "shuffle_write_bytes",
              "shuffle_read_bytes", "spill_bytes", "input_bytes",
              "output_bytes"]


class Op:
    def __init__(self, row):
        (self.id, self.kind, self.name, self.phase, self.t0, self.t1,
         self.wall0, self.wall1, self.items, self.error, self.cpu_ns,
         self.jit_ms) = row

    @property
    def seconds(self):
        return (self.t1 - self.t0) / 1e9


def _ops(raw):
    return [Op(r) for r in raw["ops"]]


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _metric(value, unit):
    return {"value": value, "unit": unit}


def _phases(raw):
    """(cold main ops, warm main ops, warm read ops, all warm ops), each
    op without error."""
    ops = [o for o in _ops(raw) if o.error is None]
    main = MAIN_KIND[raw["workload"]]
    return ([o for o in ops if o.kind == main and o.phase == "cold"],
            [o for o in ops if o.kind == main and o.phase == "warm"],
            [o for o in ops if o.kind == "read" and o.phase == "warm"],
            [o for o in ops if o.phase == "warm"])


def end_to_end(raw):
    """The gated metrics: the process CPU time (every thread of the JVM:
    driver, tasks, JIT, GC) that set-up and the work cost."""
    cold, warm, _, window = _phases(raw)
    cpu = sum(o.cpu_ns for o in window) / 1e9
    return {
        "setup_s": _metric(raw["setup_cpu_s"], "s"),
        "cold_cpu_s": _metric(sum(o.cpu_ns for o in cold) / 1e9, "s"),
        "op_cpu_s": _metric(_median([o.cpu_ns / 1e9 for o in warm]), "s"),
        "items_per_cpu_s": _metric(
            sum(o.items for o in warm) / cpu if cpu else 0.0, "1/s"),
    }


def wall(raw):
    """Wall-clock figures of the same ops (reported, not gated)."""
    cold, warm, reads, window = _phases(raw)
    secs = sum(o.seconds for o in window)
    return {
        "wall.cold_s": _metric(sum(o.seconds for o in cold), "s"),
        "wall.op_p50_ms": _metric(_median([o.seconds * 1e3 for o in warm]), "ms"),
        "wall.read_p50_ms": _metric(
            _median([o.seconds * 1e3 for o in reads]), "ms"),
        "wall.items_per_s": _metric(
            sum(o.items for o in warm) / secs if secs else 0.0, "1/s"),
        "read.cpu_s": _metric(_median([o.cpu_ns / 1e9 for o in reads]), "s"),
    }


def _union_ms(intervals):
    """Length of the union of [start, end] intervals."""
    total, cur = 0, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur is None or s > cur[1]:
            if cur is not None:
                total += cur[1] - cur[0]
            cur = [s, e]
        else:
            cur[1] = max(cur[1], e)
    return total + (cur[1] - cur[0] if cur else 0)


def _spark_per_op(raw, ops):
    """Listener counts attributed to ops by job start time (ops run one
    at a time), then averaged over `ops`."""
    sp = raw["spark"]
    ordered = sorted(_ops(raw), key=lambda o: o.wall0)
    starts = [o.wall0 for o in ordered]
    job_op, stage_job = {}, {}
    jobs = {}
    for jid, start, end, stages in sp["jobs"]:
        i = bisect.bisect_right(starts, start) - 1
        if i >= 0 and start <= ordered[i].wall1:
            job_op[jid] = ordered[i].id
        jobs[jid] = (start, end if end >= 0 else start)
        for s in stages:
            stage_job.setdefault(s, jid)
    want = {o.id for o in ops}
    per = {o.id: {"jobs": [], "stages": 0, "tasks": [], "sums": [0] * 8,
                  "files": 0, "records": 0} for o in ops}
    for jid, oid in job_op.items():
        if oid in want:
            per[oid]["jobs"].append(jobs[jid])
    for stage, _ in sp["stages"]:
        oid = job_op.get(stage_job.get(stage))
        if oid in want:
            per[oid]["stages"] += 1
    for t in sp["tasks"]:
        oid = job_op.get(stage_job.get(t[0]))
        if oid in want:
            p = per[oid]
            p["tasks"].append(t[2] - t[1])
            for k, v in enumerate(t[3:11]):
                p["sums"][k] += v
            if t[11] > 0:  # a write task with rows leaves one file
                p["files"] += 1
            p["records"] += t[11]
    out = {k: [] for k in SPARK_KEYS + ["files", "records"]}
    all_tasks = []
    for o in ops:
        p = per[o.id]
        busy = _union_ms([(max(s, o.wall0), min(e, o.wall1))
                          for s, e in p["jobs"]])
        run_ms, cpu_ns, gc_ms, shw, shr, spill, inp, outp = p["sums"]
        out["jobs_per_op"].append(len(p["jobs"]))
        out["stages_per_op"].append(p["stages"])
        out["tasks_per_op"].append(len(p["tasks"]))
        out["job_busy_s"].append(busy / 1e3)
        out["driver_idle_s"].append(max(0.0, o.seconds - busy / 1e3))
        out["executor_run_s"].append(run_ms / 1e3)
        out["executor_cpu_s"].append(cpu_ns / 1e9)
        out["gc_s"].append(gc_ms / 1e3)
        out["shuffle_write_bytes"].append(shw)
        out["shuffle_read_bytes"].append(shr)
        out["spill_bytes"].append(spill)
        out["input_bytes"].append(inp)
        out["output_bytes"].append(outp)
        out["files"].append(p["files"])
        out["records"].append(p["records"])
        all_tasks += p["tasks"]
    means = {k: _mean(v) for k, v in out.items() if k != "task_p50_ms"}
    means["task_p50_ms"] = _median(all_tasks)
    return means


def _span_seconds(raw, op_ids, prefix):
    total = sum(s[5] - s[4] for s in raw["spans"]
                if s[2] in op_ids and s[3].startswith(prefix))
    return total / 1e9 / max(1, len(op_ids))


def _facts(raw, key, op_ids=None):
    return [v for oid, k, v in raw["facts"]
            if k == key and (op_ids is None or oid in op_ids)]


def per_layer(raw, input_dir):
    workload = raw["workload"]
    ops = [o for o in _ops(raw) if o.error is None]
    main = [o for o in ops if o.kind == MAIN_KIND[workload] and o.phase == "warm"]
    main_ids = {o.id for o in main}
    m = {}

    def put(name, value, unit):
        m[name] = _metric(value, unit)

    # pipelines: sources, transforms, sinks, per job (etl_daily ticks)
    etl = workload == "etl_daily"
    spark = _spark_per_op(raw, main)
    put("pipelines.read_s", _span_seconds(raw, main_ids, "pipelines.read."), "s")
    put("pipelines.transform_s",
        _span_seconds(raw, main_ids, "pipelines.transform."), "s")
    put("pipelines.sink_s", _span_seconds(raw, main_ids, "pipelines.sink."), "s")
    for job in ETL_JOBS:
        put(f"pipelines.{job}_s",
            _span_seconds(raw, main_ids, f"pipelines.job.{job}"), "s")
    in_bytes, out_bytes = 0, 0
    if etl:
        days = {d["run_date"]: d for d in
                json.load(open(os.path.join(input_dir, "expected.json")))}
        csv = sum(days[o.name]["input_bytes"] for o in main)
        put("pipelines.scan_bytes_per_csv_byte",
            spark["input_bytes"] * len(main) / csv if csv else 0.0, "ratio")
        in_bytes = sum(days[d]["input_bytes"] for d in raw["checks"]["ticked"])
        out_bytes = raw["checks"]["warehouse_bytes"]
    else:
        put("pipelines.scan_bytes_per_csv_byte", 0.0, "ratio")
    put("pipelines.files_written", spark["files"] if etl else 0.0, "count")
    put("pipelines.rows_written", spark["records"] if etl else 0.0, "count")
    reads = {o.id for o in ops if o.kind == "read" and o.phase == "warm"}
    put("warehouse.files_scanned_per_read",
        _mean(_facts(raw, "files_scanned", reads)), "count")

    # SparkEntry query packs: the registry passes after the etl_daily
    # window (per query of the warm pass; the cold pass as a whole)
    cold_q = [o for o in ops if o.kind == "query" and o.phase == "registry_cold"]
    warm_q = [o for o in ops if o.kind == "query" and o.phase == "registry_warm"]
    warm_ids = {o.id for o in warm_q}
    for phase in ("construct", "plan", "exec"):
        put(f"query.{phase}_s", _span_seconds(raw, warm_ids, f"query.{phase}"),
            "s")
    pack_of = raw["info"].get("queries", {})
    for pack in PACKS:
        put(f"query.pack.{pack}_s",
            sum(o.seconds for o in warm_q if pack_of.get(o.name) == pack), "s")
    put("query.pass_s", sum(o.seconds for o in warm_q), "s")
    put("query.cold_pass_s", sum(o.seconds for o in cold_q), "s")

    # ops and functions as Spark sees them, per warm op of the main kind
    units = {"jobs_per_op": "count", "stages_per_op": "count",
             "tasks_per_op": "count", "task_p50_ms": "ms"}
    for k in SPARK_KEYS:
        put(f"spark.{k}", spark[k],
            units.get(k, "bytes" if k.endswith("bytes") else "s"))
    # how much of a warm op's process CPU the executors' tasks account
    # for, and how long the JIT compiler spent compiling during it
    op_cpu = _mean([o.cpu_ns / 1e9 for o in main])
    put("spark.executor_cpu_share",
        spark["executor_cpu_s"] / op_cpu if op_cpu else 0.0, "ratio")
    put("jvm.jit_s", _mean([o.jit_ms / 1e3 for o in main]), "s")

    # streaming store
    cur = workload == "curation_ingest"
    if cur:
        c = raw["checks"]
        fed = c["batches_fed"]
        batch_bytes = {}
        with open(os.path.join(input_dir, "docs.tsv"), "rb") as f:
            for line in f:
                b = int(line.split(b"\t", 1)[0])
                batch_bytes[b] = batch_bytes.get(b, 0) + len(line)
        offered = sum(o.items for o in ops if o.kind == "batch")
        put("streaming.store_files_per_batch", c["store_files"] / fed, "count")
        put("streaming.store_bytes_per_batch", c["store_bytes"] / fed, "bytes")
        put("streaming.admit_ratio", c["admitted_ids"] / offered, "ratio")
        in_bytes = sum(v for b, v in batch_bytes.items() if b < fed)
        out_bytes = c["store_bytes"]
    else:
        put("streaming.store_files_per_batch", 0.0, "count")
        put("streaming.store_bytes_per_batch", 0.0, "bytes")
        put("streaming.admit_ratio", 0.0, "ratio")
    put("sink.out_bytes_per_in_byte", out_bytes / in_bytes if in_bytes else 0.0,
        "ratio")

    # what stays cached once an op has finished
    put("cache.cached_rdds_after_op", _median(_facts(raw, "cached_rdds")), "count")
    put("cache.cached_mb_after_op", _median(_facts(raw, "cached_mb")), "MB")

    put("setup.wall_s", raw["setup_s"], "s")
    m.update(wall(raw))
    host = raw["host"]
    for k in ("external_cpu", "loadavg_before", "loadavg_after",
              "membw_probe_s", "membw_probe_after_s"):
        put(f"host.{k}", host[k], "s" if k.startswith("membw") else
            ("ratio" if k == "external_cpu" else "load"))
    return m


def reduce(raw, input_dir, traced, bad):
    ops = _ops(raw)
    errors = [o for o in ops if o.error is not None]
    attempted = len(ops)
    failed = min(attempted, len(errors) + len(bad))
    return {"correct": failed == 0 and not bad, "attempted": attempted,
            "failed": failed,
            "metrics": per_layer(raw, input_dir) if traced else end_to_end(raw)}


def notes(raw):
    """Context printed beside the metrics: sample counts, the wall-clock
    figures, each op's phase, wall, CPU and JIT seconds, the set-up's wall
    seconds, and the first op errors."""
    _, warm, reads, _ = _phases(raw)
    return {"warm_ops": len(warm), "warm_reads": len(reads),
            "wall": {k: v["value"] for k, v in wall(raw).items()},
            "setup_wall_s": raw["setup_s"],
            "ops": [[o.kind, o.phase, round(o.seconds, 3),
                     round(o.cpu_ns / 1e9, 3), o.jit_ms / 1e3] for o in _ops(raw)
                    if o.kind != "query"],
            "errors": [f"{o.name}: {o.error}" for o in _ops(raw)
                       if o.error][:3]}

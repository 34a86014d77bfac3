"""The traced run: per-layer metrics from spans and Spark stage metrics.

After the untimed warm-up pass, the workload runs twice more on fresh
tables with the same inputs: traced, then untraced. The difference
between the two is the tracing overhead as seen end to end; it reads
high, because each pass in a JVM still runs faster than the one before
(JIT warm-up). The time the tracer
spends on its own bookkeeping, as a share of the traced pass, is the
direct measure.
Each metric below names the layer (module) it measures; ``.ms`` is the
total wall of a span kind over the run, ``.self_ms`` that minus its
child spans, and byte/task/job counts are the Spark stage metrics of the
span's own job group.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict

from spans import Tracer, all_stage_ids, stage_totals

def install(tracer: Tracer) -> None:
    """Span wrappers on the program's public calls, for this run only."""
    from replicator_spark import commitlog, metrics, pipeline, streaming
    from replicator_spark.laketable import LakeTable

    def keep(field):
        def on_result(rec, args, kwargs, out):
            rec[field] = out
        return on_result

    def merged(rec, args, kwargs, out):
        rec["version"] = out.version

    for owner in (pipeline, streaming):  # streaming imported it by name
        tracer.wrap(owner, "apply_batch", "pipeline.apply_batch", "batch_key")
    tracer.wrap(pipeline, "infer_payload_schema", "pipeline.infer_payload_schema")
    tracer.wrap(pipeline, "auto_files_per_bucket", "pipeline.auto_files_per_bucket",
                on_result=keep("width"))
    tracer.wrap(LakeTable, "merge", "laketable.merge", "batch_key", on_result=merged)
    tracer.wrap(LakeTable, "compact", "laketable.compact", on_result=keep("version"))
    tracer.wrap(commitlog, "commit_snapshot", "commitlog.commit_snapshot")
    tracer.wrap(commitlog, "load_snapshot", "commitlog.load_snapshot")
    tracer.wrap(metrics, "append_metrics", "metrics.append_metrics")
    tracer.wrap(metrics, "append_lineage", "metrics.append_lineage")


def _files(table, version):
    return set(table.changed_files(-1, version=version))


def layer_metrics(tr: Tracer, traced, plain, spark_tot: dict, wall_s: float,
                  cores: int) -> dict:
    from replicator_spark import metrics as M

    spans = defaultdict(list)
    for s in tr.spans:
        spans[s["name"]].append(s)

    def dur(s):
        return (s["end"] - s["start"]) * 1000.0

    def total(name):
        return sum(dur(s) for s in spans[name])

    def self_total(name):
        return sum(tr.self_ms(s) for s in spans[name])

    def stage(name, key):
        return sum(s["stages"][key] for s in spans[name])

    def median(xs):
        return statistics.median(xs) if xs else 0.0

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    table = traced.table
    n_batches = max(1, len(spans["pipeline.apply_batch"]))
    merges = spans["laketable.merge"]
    written = sum(
        len(_files(table, s["version"]) - _files(table, s["version"] - 1))
        for s in merges if s.get("version") is not None and "error" not in s
    )
    final_bytes = sum(os.path.getsize(f) for f in _files(table, None))
    mrows = M.read_metrics(traced.spark, traced.root).select("received", "applied").collect()
    received = sum(int(r["received"] or 0) for r in mrows)
    applied = sum(int(r["applied"] or 0) for r in mrows)
    prog = [p for p in traced.progress if p["numInputRows"] > 0]

    def prog_ms(key):
        return median([float(p["durationMs"].get(key, 0)) for p in prog])

    trig = sum(float(p["durationMs"].get("triggerExecution", 0)) for p in prog)
    add = sum(float(p["durationMs"].get("addBatch", 0)) for p in prog)
    shares = [
        len(table.changed_files(since, version=v)) / max(1, len(_files(table, v)))
        for _, since, _, v in traced.polls
    ]
    scanned = [
        len(table.lookup(repo, path, version=v).inputFiles())
        for repo, path, _, v, _ in traced.lookups
    ]
    written_bytes = stage("laketable.merge", "output_bytes") + stage(
        "laketable.compact", "output_bytes")
    m = {
        "pipeline.apply_batch.calls": len(spans["pipeline.apply_batch"]),
        "pipeline.apply_batch.ms": total("pipeline.apply_batch"),
        "pipeline.apply_batch.self_ms": self_total("pipeline.apply_batch"),
        "pipeline.infer_payload_schema.ms": total("pipeline.infer_payload_schema"),
        "pipeline.auto_files_per_bucket.ms": total("pipeline.auto_files_per_bucket"),
        "pipeline.auto_files_per_bucket.width": median(
            [s["width"] or 0 for s in spans["pipeline.auto_files_per_bucket"]
             if "width" in s]),
        "lww.map_run_ms": stage("laketable.merge", "map_run_ms"),
        "lww.shuffle_bytes": stage("laketable.merge", "shuffle_write_bytes"),
        "dedup.applied_per_received": applied / max(1, received),
        "laketable.merge.calls": len(merges),
        "laketable.merge.ms": total("laketable.merge"),
        "laketable.merge.self_ms": self_total("laketable.merge"),
        "laketable.merge.spark_jobs": stage("laketable.merge", "spark_jobs"),
        "laketable.merge.tasks": stage("laketable.merge", "tasks"),
        "laketable.merge.bytes_written": stage("laketable.merge", "output_bytes"),
        "laketable.merge.files_written": written,
        "laketable.merge.spill_bytes": stage("laketable.merge", "memory_spill_bytes")
        + stage("laketable.merge", "disk_spill_bytes"),
        # every file scan of the merge jobs: the batch (read more than
        # once) and, with partial updates, the state of their buckets
        "laketable.merge.input_bytes": stage("laketable.merge", "input_bytes"),
        "commitlog.commit_snapshot.ms": total("commitlog.commit_snapshot"),
        "commitlog.commit_snapshot.calls": len(spans["commitlog.commit_snapshot"]),
        "commitlog.commit_snapshot.conflicts": sum(
            1 for s in spans["commitlog.commit_snapshot"]
            if s.get("error") == "CommitConflictError"),
        "commitlog.load_snapshot.ms": total("commitlog.load_snapshot"),
        "commitlog.load_snapshot.calls_per_batch": sum(
            1 for s in spans["commitlog.load_snapshot"] if s["batch"] is not None
        ) / n_batches,
        "metrics.append_metrics.ms": total("metrics.append_metrics"),
        "metrics.append_lineage.ms": total("metrics.append_lineage"),
        "streaming.trigger_ms": prog_ms("triggerExecution"),
        "streaming.add_batch_ms": prog_ms("addBatch"),
        "streaming.wal_commit_ms": prog_ms("walCommit"),
        "streaming.latest_offset_ms": prog_ms("latestOffset"),
        "streaming.overhead_share": (trig - add) / trig if trig else 0.0,
        "laketable.compact.calls": len(spans["laketable.compact"]),
        "laketable.compact.ms": total("laketable.compact"),
        "laketable.compact.bytes_rewritten": stage("laketable.compact", "output_bytes"),
        "laketable.write_amp": written_bytes / max(1, final_bytes),
        "laketable.read.ms": median([dur(s) for s in spans["laketable.read"]]),
        "laketable.read.shuffle_bytes": median(
            [s["stages"]["shuffle_write_bytes"] for s in spans["laketable.read"]]),
        "laketable.read_changes.ms": median(
            [dur(s) for s in spans["laketable.read_changes"]]),
        "laketable.read_changes.files_scanned_share": mean(shares),
        "laketable.lookup.ms": median([dur(s) for s in spans["laketable.lookup"]]),
        "laketable.lookup.files_scanned": mean(scanned),
        "spark.gc_ms": spark_tot["gc_ms"],
        "spark.executor_run_ms": spark_tot["executor_run_ms"],
        "spark.busy_share": spark_tot["executor_run_ms"] / (wall_s * 1000.0 * cores),
        "trace.apply_overhead_share": traced.apply_s / plain.apply_s - 1.0,
        "trace.read_overhead_share": median(traced.read_s) / median(plain.read_s) - 1.0,
        "trace.bookkeeping_share": tr.cost_s / wall_s,
    }
    return {k: float(v) for k, v in m.items()}


def traced_pass(spark, make_pass, check, workload: str, cores: int, out_path: str):
    """Run the workload traced, then untraced; return (per-layer metrics,
    problems, op counts of both passes)."""
    sc = spark.sparkContext
    tracer = Tracer(spark)
    traced = make_pass("traced", tracer)
    before = all_stage_ids(sc)
    install(tracer)
    t0 = time.perf_counter()
    try:
        traced.run(workload)
    finally:
        tracer.uninstall()
    wall = time.perf_counter() - t0
    tracer.collect_stage_metrics()
    spark_tot = stage_totals(sc, all_stage_ids(sc) - before)
    plain = make_pass("untraced", None).run(workload)

    passes = (("traced", traced), ("untraced", plain))
    problems = []
    for label, p in passes:
        probs, _ = check(p)
        problems += [f"{label} pass: {x}" for x in probs]
        if p.ops.failed:
            problems.append(f"{label} pass: {sum(p.ops.failed.values())} operations failed")
    ops = type(traced.ops)()
    for _, p in passes:
        ops.attempted.update(p.ops.attempted)
        ops.failed.update(p.ops.failed)
    vals = {} if sum(ops.failed.values()) else layer_metrics(
        tracer, traced, plain, spark_tot, wall, cores)

    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    t_base = min((s["start"] for s in tracer.spans), default=0.0)
    with open(out_path, "w") as f:
        json.dump({
            "workload": workload,
            "metrics": vals,
            "spans": [
                {**s, "start_ms": (s["start"] - t_base) * 1000.0,
                 "end_ms": (s["end"] - t_base) * 1000.0,
                 "self_ms": tracer.self_ms(s)}
                for s in tracer.spans
            ],
            "stream_progress": traced.progress,
        }, f, default=str)
    return vals, problems, ops


"""Metrics + lineage tables (FIXTURES.md F5).

The Spark form of the reference's Prometheus/OTel counters
(``replicator_recieved_records_total`` ``pkg/streams/stream.go:25-30``,
``replicator_processed_records_total`` ``pkg/replicator/replicator.go:23-28``,
skipped/failed counters ``pkg/metrics/telemetry.go:196-258``): per-batch
applied/skipped/deduped counts come from ``Observation`` metrics attached
to the MERGE plan (zero extra passes), and are appended here under the
lake-table root. Writes are driver-side — metadata-scale data, no Spark
job needed.

Storage is append-only JSONL with size-based rolls (VERDICT r02 #4: the
old one-parquet-file-per-batch layout meant 10^5 files at the
10^5-batch regime — the exact small-files problem the lake table itself
avoids). Each batch appends ONE line to ``log.jsonl``; when the file
crosses the roll threshold it is atomically renamed to a numbered
segment (the commitlog rename idiom), so total file count is
O(total_bytes / roll_bytes) — single digits for years of batches. A
torn final line (crash mid-append) is skipped on read; the next append
starts a clean line, so at most one batch's metrics row is lost, never
table correctness (the authoritative applied-counts ride the snapshot
ledger, not this log).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import types as T

from .session import empty_frame

ROLL_BYTES = 8 << 20  # ~8 MB ≈ 40k batch rows per segment

METRICS_SCHEMA = T.StructType(
    [
        T.StructField("batch_key", T.StringType()),
        T.StructField("snapshot_version", T.LongType()),
        T.StructField("received", T.LongType()),
        T.StructField("applied", T.LongType()),
        T.StructField("deduped", T.LongType()),
        T.StructField("deleted", T.LongType()),
        T.StructField("schema_evolved", T.LongType()),
        T.StructField("schema_retries", T.LongType()),
        T.StructField("schema_capped", T.LongType()),
        T.StructField("touched_buckets", T.LongType()),
        T.StructField("wall_ms", T.LongType()),
        T.StructField("ts_ms", T.LongType()),
    ]
)

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("batch_key", T.StringType()),
        T.StructField("snapshot_version", T.LongType()),
        T.StructField("seq_min", T.LongType()),
        T.StructField("seq_max", T.LongType()),
        T.StructField("n_files_written", T.LongType()),
        T.StructField("buckets", T.ArrayType(T.IntegerType())),
        T.StructField("ts_ms", T.LongType()),
    ]
)


def _append(dirpath: str, row: dict) -> None:
    os.makedirs(dirpath, exist_ok=True)
    row = {**row, "ts_ms": int(time.time() * 1000)}
    path = os.path.join(dirpath, "log.jsonl")
    # torn-tail repair: a crash mid-append can leave a line without its
    # newline; start a fresh line so only THAT row is lost, not this one
    lead = ""
    try:
        with open(path, "rb") as f:
            f.seek(-1, os.SEEK_END)
            if f.read(1) != b"\n":
                lead = "\n"
    except (FileNotFoundError, OSError):
        pass
    with open(path, "a") as f:
        f.write(lead + json.dumps(row) + "\n")
    if os.path.getsize(path) >= ROLL_BYTES:
        # atomic rename; single writer (the Spark driver) assumed, same
        # as the snapshot log. Bump the stamp while the target exists —
        # two rolls in one millisecond must not overwrite a segment
        # (ADVICE r03; same idiom as cmd_config_backup)
        ts = row["ts_ms"]
        seg = os.path.join(dirpath, f"log-{ts}.jsonl")
        while os.path.exists(seg):
            ts += 1
            seg = os.path.join(dirpath, f"log-{ts}.jsonl")
        os.rename(path, seg)


def append_metrics(table_root: str, row: dict) -> None:
    _append(os.path.join(table_root, "_metrics"), row)


def append_lineage(table_root: str, row: dict) -> None:
    _append(os.path.join(table_root, "_lineage"), row)


def _iter_rows(dirpath: str):
    if not os.path.isdir(dirpath):
        return
    for name in sorted(os.listdir(dirpath)):
        if not name.endswith(".jsonl"):
            continue
        with open(os.path.join(dirpath, name)) as f:
            for line in f:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue  # torn tail line from a crash mid-append


def _read(spark, dirpath: str, schema: T.StructType):
    names = sorted(os.listdir(dirpath)) if os.path.isdir(dirpath) else []
    paths = [os.path.join(dirpath, n) for n in names if n.endswith(".jsonl")]
    if not paths:
        return empty_frame(spark, schema)
    # the listed paths, not a `*.jsonl` glob: Spark stats a lone path
    # for a streaming-sink metadata dir, and a glob fails that stat with
    # a logged stack trace on every read. DROPMALFORMED: a crash
    # mid-append can leave one torn tail line
    return (
        spark.read.schema(schema).option("mode", "DROPMALFORMED").json(paths)
    )


def read_metrics(spark, table_root: str):
    return _read(spark, os.path.join(table_root, "_metrics"), METRICS_SCHEMA)


def read_lineage(spark, table_root: str):
    return _read(spark, os.path.join(table_root, "_lineage"), LINEAGE_SCHEMA)


def to_prometheus_text(table_root: str) -> str:
    """Render cumulative counters in Prometheus exposition format — the
    observable replacement for the reference's ``/metrics`` endpoint
    (``pkg/api/metrics.go``; counter names match
    ``pkg/streams/stream.go:25-30``, ``pkg/replicator/replicator.go:23-28``
    modulo the reference's 'recieved' typo, which we do not reproduce).
    Driver-side JSONL scan — no Spark job."""
    totals = {
        "received": 0, "applied": 0,
        "deduped": 0, "deleted": 0, "schema_capped": 0,
    }
    n_batches = 0
    for row in _iter_rows(os.path.join(table_root, "_metrics")):
        n_batches += 1
        for c in totals:
            v = row.get(c)
            if v is not None:
                totals[c] += v
    lines = [
        "# HELP replicator_received_records_total Events received across batches",
        "# TYPE replicator_received_records_total counter",
        f"replicator_received_records_total {totals['received']}",
        "# HELP replicator_processed_records_total Events applied to the lake table",
        "# TYPE replicator_processed_records_total counter",
        f"replicator_processed_records_total {totals['applied']}",
        "# HELP replicator_deduped_records_total Redelivered/superseded duplicates collapsed",
        "# TYPE replicator_deduped_records_total counter",
        f"replicator_deduped_records_total {totals['deduped']}",
        "# HELP replicator_deleted_records_total Delete events applied",
        "# TYPE replicator_deleted_records_total counter",
        f"replicator_deleted_records_total {totals['deleted']}",
        "# HELP replicator_schema_capped_batches_total Batches committed lossily after the widening retry cap",
        "# TYPE replicator_schema_capped_batches_total counter",
        f"replicator_schema_capped_batches_total {totals['schema_capped']}",
        "# HELP replicator_batches_total Micro-batches committed",
        "# TYPE replicator_batches_total counter",
        f"replicator_batches_total {n_batches}",
    ]
    return "\n".join(lines) + "\n"

"""Estuaries — sink fan-out (SURVEY §2.3).

The reference writes every event to every registered estuary
(``pkg/estuary/estuary.go:72-85``; v2 loop ``pkg/replicator/
service.go:507-519``, continue-on-error). Here a micro-batch is
prepared once (normalize + LWW dedup), persisted, and fanned out to N
sinks — one pass over the data per sink, no per-event loop.

Sinks:

* LakeSink     — the MERGE path (laketable); the primary estuary
  (subsumes the reference's MySQL/Mongo/Elasticsearch apply operators,
  all of which reduce to upsert-by-key + delete).
* KeyedLogSink — Kafka-producer analogue: rows serialized to
  (key, value JSON) and appended partitioned by key hash. DIVERGENCE
  (deliberate, SURVEY §7.4): the reference produces *keyless* messages
  → random partition → ordering loss (``pkg/estuary/kafka.go:28-38``);
  we key by hash(repo,path) so per-key order is preserved. With a real
  broker this becomes ``df.write.format("kafka")`` with the same key
  expression.
* ConsoleSink  — stdout estuary (``pkg/estuary/estuary.go:95-103``),
  debug only.

Error policy matches the reference's continue-on-error fan-out: a sink
failure is recorded and the remaining sinks still run; the lake sink is
authoritative for exactly-once (its batch ledger), secondary sinks are
at-least-once exactly as in the reference.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .laketable import LakeTable, MergeStats
from .model import KEY_COLS


class Sink:
    name: str = "sink"

    def write(self, prepared: DataFrame, batch_key: str):  # pragma: no cover
        raise NotImplementedError


class LakeSink(Sink):
    def __init__(self, table: LakeTable, **merge_kw):
        self.table = table
        self.merge_kw = merge_kw
        self.name = f"lake:{table.root}"

    def write(self, prepared: DataFrame, batch_key: str) -> MergeStats:
        return self.table.merge(prepared, batch_key, **self.merge_kw)


def _keyed_kv(prepared: DataFrame, num_partitions: int) -> DataFrame:
    """The shared producer projection — key = repo/path/commit, value =
    full-row JSON, partition = hash(key) % N.  ONE definition: the
    KeyedLogSink and KafkaWireSink key→partition laws must agree (the
    SURVEY §7.4 ordering divergence depends on it)."""
    kcols = [k for k in KEY_COLS if k in prepared.columns]
    return prepared.select(
        F.concat_ws("/", *[F.col(k) for k in kcols]).alias("key"),
        F.to_json(F.struct(*[F.col(c) for c in prepared.columns])).alias("value"),
        F.pmod(F.xxhash64(*[F.col(k) for k in kcols]), F.lit(num_partitions))
        .cast("int")
        .alias("partition"),
    )


class KeyedLogSink(Sink):
    def __init__(self, out_dir: str, *, num_partitions: int = 16):
        self.out_dir = out_dir
        self.num_partitions = num_partitions
        self.name = f"keyedlog:{out_dir}"

    def write(self, prepared: DataFrame, batch_key: str) -> None:
        out = _keyed_kv(prepared, self.num_partitions)
        (
            out.repartition(self.num_partitions, F.col("partition"))
            .write.mode("append")
            .partitionBy("partition")
            .parquet(f"{self.out_dir}/batch={batch_key}")
        )


class KafkaWireSink(Sink):
    """Kafka-producer estuary emitting REAL RecordBatch v2 wire bytes
    into the broker's own on-disk layout (``partition=N/
    <baseOffset>.log``) — the recorded-log counterpart of
    ``pkg/estuary/kafka.go``'s produce path, closing the loop with
    ``sources.kafka_wire.read_kafka_segments`` (what this sink produces,
    the source decodes — full produce→decode roundtrip under test).

    Same deliberate KEYING divergence as KeyedLogSink (SURVEY §7.4):
    the reference produces keyless messages → random partition →
    ordering loss; here key = repo/path/commit and partition =
    hash(key) % N, so per-key order is preserved — which is also what
    makes the composed seq ``(partition<<40)|offset`` a valid LWW
    ordering for re-ingestion.

    Scale shape (VERDICT r04 #3 — the driver is OUT of the byte path):
    executors encode one RecordBatch per partition per micro-batch
    (Arrow in, wire bytes out) and spool the segment to shared storage
    under ``.spool/<batch_key>/`` (dot-prefixed → invisible to Spark's
    file index, so readers never see half-produced segments); only
    (partition, spool_path, n_records) metadata returns to the driver.
    The driver then assigns base offsets by seek-patching each batch's
    8-byte baseOffset header in the spooled file — the field sits
    OUTSIDE the CRC'd region (attributes..end), so no re-CRC and no
    byte re-read — and CAS-publishes via ``os.link``: O(#record-batch
    headers) driver work per segment, never O(bytes). A produce-heavy
    stream at 100× no longer funnels its payload through the driver;
    with a real broker this whole sink is ``df.write.format("kafka")``
    with the same key expression.
    """

    def __init__(self, out_dir: str, *, num_partitions: int = 4):
        self.out_dir = out_dir
        self.num_partitions = num_partitions
        self.name = f"kafkawire:{out_dir}"

    def write(self, prepared: DataFrame, batch_key: str) -> None:
        import os
        import shutil
        import uuid

        out = _keyed_kv(prepared, self.num_partitions)
        spool_dir = os.path.join(self.out_dir, ".spool", batch_key)
        run_id = uuid.uuid4().hex  # isolates task retries' spool files

        def _encode(pdf):
            import pandas as pd
            from pyspark import TaskContext

            from .sources.kafka_wire import KafkaSegmentWriter

            pdf = pdf.sort_values(["key", "value"], ignore_index=True)
            w = KafkaSegmentWriter()
            w.append_batch(
                [
                    (k.encode(), v.encode())
                    for k, v in zip(pdf["key"], pdf["value"])
                ]
            )
            part = int(pdf["partition"].iloc[0])
            ctx = TaskContext.get()
            attempt = ctx.taskAttemptId() if ctx is not None else 0
            os.makedirs(spool_dir, exist_ok=True)
            path = os.path.join(spool_dir, f"p{part}-{run_id}-a{attempt}.seg")
            tmp = path + ".tmp"
            with open(tmp, "wb") as f:
                f.write(bytes(w.buf))
                f.flush()
                os.fsync(f.fileno())
            os.rename(tmp, path)
            return pd.DataFrame(
                {
                    "partition": [part],
                    "path": [path],
                    "n_records": [len(pdf)],
                }
            )

        # collect() here moves O(partitions) METADATA rows, not bytes.
        # groupBy itself shuffles rows by partition id — a repartition()
        # in front of it would exchange the same keyed bytes a second
        # time for no placement benefit.
        metas = (
            out.groupBy("partition")
            .applyInPandas(_encode, "partition int, path string, n_records long")
            .collect()
        )
        try:
            for r in sorted(metas, key=lambda r: r["partition"]):
                self._publish(r["partition"], r["path"])
        finally:
            # winners are hard-linked into partition dirs; everything
            # left in the spool (incl. failed task attempts) is garbage
            shutil.rmtree(spool_dir, ignore_errors=True)

    # -- driver-side offset assignment (metadata-only) ---------------------

    def _publish(self, part: int, spool_path: str) -> None:
        """Assign this partition's next base offset by patching the
        spooled segment's RecordBatch headers in place (seek + 8-byte
        write per batch — baseOffset is outside the CRC'd region), then
        CAS-publish with a hard link. No segment byte ever transits the
        driver."""
        import os
        import struct

        d = os.path.join(self.out_dir, f"partition={part}")
        os.makedirs(d, exist_ok=True)
        base = self._next_offset(d)
        size = os.path.getsize(spool_path)
        n_records = 0
        with open(spool_path, "r+b") as f:
            pos = 0
            while pos + 61 <= size:
                f.seek(pos)
                head = f.read(61)
                old, blen = struct.unpack_from(">qi", head, 0)
                (cnt,) = struct.unpack_from(">i", head, 57)
                n_records += cnt
                f.seek(pos)
                f.write(struct.pack(">q", old + base))
                pos += 12 + blen
            f.flush()
            os.fsync(f.fileno())
        if base + n_records > 1 << 40:
            # enforce the seq budget at PRODUCE time: writing past it
            # would poison every subsequent read of the whole directory
            # (the consumer raises on >= 2^40); failing the batch here
            # keeps the at-least-once retry contract intact (the spool
            # file was never published)
            raise ValueError(
                f"partition {part} would cross the 2^40 offset budget "
                f"({base} + {n_records}); re-base the recorded log"
            )
        final = os.path.join(d, f"{base:020d}.log")
        try:
            # CAS publish (the repo's racing-publisher convention, as in
            # commitlog): os.link fails on an existing target instead of
            # silently replacing a concurrent writer's segment
            os.link(spool_path, final)
        except FileExistsError:
            raise RuntimeError(
                f"concurrent producer conflict on {final}; "
                "KafkaWireSink directories are single-writer"
            ) from None

    @staticmethod
    def _next_offset(d: str) -> int:
        """Next base offset for a partition dir: last segment's last
        batch's baseOffset + recordCount — header-to-header seeks only,
        never a full-segment read."""
        import os
        import struct

        segs = sorted(f for f in os.listdir(d) if f.endswith(".log"))
        if not segs:
            return 0
        last = os.path.join(d, segs[-1])
        nxt = int(segs[-1][: -len(".log")])
        with open(last, "rb") as f:
            while True:
                head = f.read(61)
                if len(head) < 61:
                    break
                base_off, blen = struct.unpack_from(">qi", head, 0)
                (cnt,) = struct.unpack_from(">i", head, 57)
                nxt = base_off + cnt
                f.seek(blen - 49, os.SEEK_CUR)  # skip records
        return nxt


class ConsoleSink(Sink):
    name = "console"

    def __init__(self, limit: int = 20):
        self.limit = limit

    def write(self, prepared: DataFrame, batch_key: str) -> None:
        prepared.show(self.limit, truncate=40)


@dataclass
class FanoutResult:
    batch_key: str
    results: dict
    errors: dict


def fan_out(prepared: DataFrame, batch_key: str, sinks: list[Sink]) -> FanoutResult:
    """Write one prepared batch to every sink, continue-on-error.

    Materialization is ``localCheckpoint(eager=True)``, NOT ``persist``:
    the prepared plan may carry ``observe()`` nodes (pipeline's
    received/seq-range/schema-stale counters), and a persist would let
    the FIRST sink's action drive the caching — a filtered/limited first
    action (``ConsoleSink.show``) would materialize partial partitions
    and fire those Observations with partial counts. The eager
    checkpoint computes everything exactly once up front, so every sink
    reads the same fully-materialized batch."""
    prepared = prepared.localCheckpoint(eager=True)
    results, errors = {}, {}
    for s in sinks:
        try:
            results[s.name] = s.write(prepared, batch_key)
        except Exception as ex:  # noqa: BLE001 — reference semantics
            errors[s.name] = repr(ex)
    return FanoutResult(batch_key, results, errors)

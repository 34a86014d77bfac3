"""End-to-end batch pipeline: canonical feed → normalize → LWW dedup →
MERGE → metrics. The Spark form of the reference's service loop
(``pkg/replicator/service.go:391-539``: channel consume → normalize map →
transform → estuary fan-out → metrics), with the event-at-a-time loop
replaced by set-oriented micro-batches.
"""

from __future__ import annotations

import json
import os
import sys
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import metrics as M
from .dedup import lww_latest
from .laketable import LakeTable, MergeStats, _widen_type, layout_width
from .model import KEY_COLS

_PYTYPE_TO_SPARK = {
    str: T.StringType(),
    bool: T.BooleanType(),
    int: T.LongType(),
    float: T.DoubleType(),
}



def infer_payload_schema(
    df: DataFrame, doc_col: str = "doc", sample: int = 200
) -> T.StructType:
    """Infer the payload StructType from a sample of doc JSON strings.

    Dynamic-schema sources (the reference carries opaque JSON payloads —
    ``pkg/events/events.go:27``) need a declared schema before Spark can
    run columnar transforms. We sample a bounded number of docs to the
    driver (cheap, bounded) and union their field sets — which is also
    how additive evolution is noticed mid-stream.
    """
    rows = (
        df.select(doc_col)
        .where(F.col(doc_col).isNotNull() & (F.col(doc_col) != "{}"))
        .limit(sample)
        .collect()
    )
    fields: dict[str, T.DataType] = {}
    for r in rows:
        try:
            obj = json.loads(r[0])
        except (json.JSONDecodeError, TypeError):
            continue
        if not isinstance(obj, dict):
            continue
        for k, v in obj.items():
            t = _PYTYPE_TO_SPARK.get(type(v))
            if t is None:
                t = T.StringType()  # nested/unknown → keep JSON text
            if k in fields:
                # same key, different JSON type across the sample →
                # widen: numerically-compatible conflicts keep the
                # least common numeric supertype (long/double →
                # double), anything else goes to string (the universal
                # carrier); null values don't vote
                if v is not None and fields[k] != t:
                    fields[k] = _widen_type(fields[k], t)
                continue
            fields[k] = t
    return T.StructType(
        [T.StructField(k, v, True) for k, v in sorted(fields.items())]
    )


def normalize(
    df: DataFrame,
    payload_schema: T.StructType,
    key_cols=tuple(KEY_COLS),
    partial_updates: bool = False,
    stale_obs: Observation | None = None,
) -> DataFrame:
    """Canonical change record → flat MERGE input.

    Key columns come from the ``key`` struct (authoritative — the
    reference re-attaches keys after transforms so they can't be
    clobbered, ``pkg/replicator/service.go:493-501``); payload columns
    from ``from_json(doc)``, excluding any field shadowing a key.

    ``partial_updates=True`` adds a ``_partial`` flag from
    ``meta['partial'] = 'true'`` — the v2 model's UpdateFields signal
    (``pkg/models/models.go:37``): the doc then carries only changed
    fields and the merge coalesces per column instead of replacing the
    full image.
    """
    # Protect the engine columns too, not just keys: a payload field
    # named seq/op/event_id would otherwise duplicate a select column and
    # poison the downstream LWW/MERGE ordering (the reference protects
    # the same critical tuple — service.go:493-501).
    reserved = set(key_cols) | {"event_id", "seq", "op"}
    payload_cols = [f.name for f in payload_schema.fields if f.name not in reserved]
    out = df.withColumn("_p", F.from_json(F.col("doc"), payload_schema))
    if stale_obs is not None:
        # lossy-parse detection rides the SAME typed parse the select
        # below consumes (no second full from_json): docs with unseen
        # keys (additive evolution) or whose known non-string fields
        # null under the typed parse while the narrow string-shadow
        # parse sees a value (type conflict)
        out = out.observe(
            stale_obs,
            F.sum(
                F.when(
                    _unseen_keys_flag(payload_schema)
                    | _type_conflict_flag(
                        payload_schema, typed_col=F.col("_p")
                    ),
                    1,
                ).otherwise(0)
            ).alias("unseen"),
        )
    sel = [F.col("event_id"), F.col("seq"), F.col("op")]
    sel += [F.col(f"key.{k}").alias(k) for k in key_cols]
    sel += [F.col(f"_p.{c}").alias(c) for c in payload_cols]
    if partial_updates:
        flag = (
            F.element_at(F.col("meta"), F.lit("partial")) == F.lit("true")
            if "meta" in df.columns
            else F.lit(False)
        )
        sel.append(F.coalesce(flag, F.lit(False)).alias("_partial"))
    return out.select(*sel)


@dataclass
class BatchResult:
    merge: MergeStats
    received: int
    deduped: int
    wall_ms: int
    schema_retries: int = 0  # evolution-triggered abort-and-retry count


class SchemaTracker:
    """Caches the inferred payload schema across micro-batches.

    r01 inferred per batch — one extra Spark job + driver round-trip of
    pure fixed cost on EVERY micro-batch (the steady-state throughput
    cap at small batches, BENCH/BASELINE.md). With a tracker the
    inference job runs once per stream; afterwards evolution is detected
    by an aggregate riding the merge write itself (zero extra passes)
    and handled by abort-and-retry before anything commits.
    """

    def __init__(self, schema: T.StructType | None = None):
        self.schema = schema
        self.retries = 0  # lifetime widenings (observable via metrics)


class _SchemaStale(Exception):
    """Raised by the pre-commit check when the batch carries payload
    fields outside the inferred schema — aborts the merge uncommitted."""


def _unseen_keys_flag(schema: T.StructType, doc_col: str = "doc"):
    """True where the doc JSON has keys outside ``schema`` (null/invalid
    docs → null → treated as seen)."""
    keys = F.json_object_keys(F.col(doc_col))
    known = [f.name for f in schema.fields]
    extra = F.array_except(keys, F.array(*[F.lit(k) for k in known])) if known else keys
    return F.size(extra) > 0


def _string_shadow(schema: T.StructType) -> T.StructType:
    """String-typed shadow of the NON-string fields only: string fields
    can't conflict, and skipping them keeps the shadow parse from
    re-reading the large text columns (content) on the hot path."""
    return T.StructType(
        [
            T.StructField(f.name, T.StringType(), True)
            for f in schema.fields
            if f.dataType != T.StringType()
        ]
    )


def _type_conflict_flag(
    schema: T.StructType, doc_col: str = "doc", typed_col: F.Column | None = None
):
    """True where a known field's raw JSON value is present but
    ``from_json`` under the inferred type nulls it — i.e. exactly the
    rows whose values the old first-seen-type lock would have silently
    dropped (int→string, scalar→object, ... mid-stream). Detection is a
    null-delta between the typed parse and a string shadow parse of the
    non-string fields (StringType captures any JSON token's text, so
    shadow-null ⇔ the value is genuinely absent/null).

    ``typed_col``: reuse an existing parsed-struct column (normalize's
    ``_p``) instead of parsing again — on the steady-state hot path the
    only extra work is then the narrow shadow parse."""
    shadow_schema = _string_shadow(schema)
    checked = [f.name for f in shadow_schema.fields]
    if not checked:
        return F.lit(False)
    typed = typed_col if typed_col is not None else F.from_json(F.col(doc_col), schema)
    shadow = F.from_json(F.col(doc_col), shadow_schema)
    cond = F.lit(False)
    for n in checked:
        cond = cond | (shadow[n].isNotNull() & typed[n].isNull())
    return cond


def _conflicted_fields(
    df: DataFrame, schema: T.StructType, doc_col: str = "doc"
) -> dict[str, T.DataType]:
    """Fields with ≥1 type-conflicting value in ``df``, each mapped to
    its widened target type: a long field whose conflicting values are
    all numeric widens to double (stays aggregatable/range-filterable);
    anything else widens to string. One agg job, run only on the rare
    widening-retry path."""
    shadow_schema = _string_shadow(schema)
    checked = [f.name for f in shadow_schema.fields]
    if not checked:
        return {}
    types = {f.name: f.dataType for f in schema.fields}
    # third parse: long fields re-typed as double — widening to double
    # is sound iff from_json ITSELF accepts every conflicting value as
    # a double (a quoted "3.5" casts fine but from_json still nulls it,
    # so a try_cast heuristic would pick a type that needs yet another
    # retry; asking from_json directly is exact)
    dbl_schema = T.StructType(
        [
            T.StructField(f.name, T.DoubleType(), True)
            for f in schema.fields
            if f.dataType == T.LongType()
        ]
    )
    typed = F.from_json(F.col(doc_col), schema).alias("_t")
    shadow = F.from_json(F.col(doc_col), shadow_schema).alias("_s")
    sel = [typed, shadow]
    if dbl_schema.fields:
        sel.append(F.from_json(F.col(doc_col), dbl_schema).alias("_d"))

    def _conflict(n):
        return (
            F.col("_s").getField(n).isNotNull()
            & F.col("_t").getField(n).isNull()
        )

    aggs = []
    for n in checked:
        aggs.append(F.max(F.when(_conflict(n), 1).otherwise(0)).alias(f"c_{n}"))
        if types[n] == T.LongType():
            aggs.append(
                F.max(
                    F.when(
                        _conflict(n) & F.col("_d").getField(n).isNull(), 1
                    ).otherwise(0)
                ).alias(f"nd_{n}")  # conflicting AND not double-parseable
            )
    row = df.select(*sel).agg(*aggs).first()
    out: dict[str, T.DataType] = {}
    for n in checked:
        if row[f"c_{n}"]:
            if types[n] == T.LongType() and not row[f"nd_{n}"]:
                out[n] = T.DoubleType()
            else:
                out[n] = T.StringType()
    return out


def _widen(schema: T.StructType, extra: T.StructType) -> T.StructType:
    have = {f.name for f in schema.fields}
    return T.StructType(
        list(schema.fields) + [f for f in extra.fields if f.name not in have]
    )


def auto_files_per_bucket(
    raw_batch: DataFrame,
    *,
    hot_share: float = 0.35,
    expansion: float = 2.5,
    target_task_bytes: int = 64 << 20,
    cap: int = 64,
) -> int:
    """The write layout's salt width (``laketable.layout_width``) from the
    batch's input bytes: ``inputFiles()`` + stat, no Spark job. The
    worst bucket is assumed to hold ``hot_share`` of the batch (a
    defensive default for power-law repo distributions). Width 1 when
    the driver can stat no input file (a plan without file-backed
    lineage, such as a foreachBatch frame, or a file it cannot reach).
    """
    try:
        files = raw_batch.inputFiles()
    except Exception:  # noqa: BLE001 — non-file-backed plans
        return 1
    total = 0
    for f in files:
        p = f[7:] if f.startswith("file://") else f
        try:
            total += os.path.getsize(p)
        except OSError:
            return 1
    return layout_width(total, hot_share=hot_share, expansion=expansion,
                        target_task_bytes=target_task_bytes, cap=cap)


def check_merge_mode(mode: str) -> None:
    """Every merge appends deltas (merge-on-read). ``mode`` stays on the
    entry points only so saved job configs and callers passing ``"mor"``
    keep working; any other value is refused before any work."""
    if mode != "mor":
        raise ValueError(
            f"mode must be 'mor', got {mode!r} (copy-on-write was removed)"
        )


def apply_batch(
    table: LakeTable,
    raw_batch: DataFrame,
    batch_key: str,
    payload_schema: T.StructType | None = None,
    *,
    mode: str = "mor",
    transform_engine=None,
    event_filter=None,
    files_per_bucket: int | str = "auto",
    compact_after_deltas: int = 8,
    write_metrics: bool = True,
    schema_tracker: SchemaTracker | None = None,
    partial_updates: bool = False,
    tombstone_retention: int | None = None,
    ledger_keep: int | None = 1024,
) -> BatchResult:
    """Normalize + transform + LWW dedup + MERGE one micro-batch,
    idempotently.

    ``partial_updates=True`` enables $set/UpdateFields semantics:
    ``meta['partial']='true'`` rows update only their non-null doc
    fields. The events then go to the merge uncollapsed, and it folds
    them into their buckets' rows in one per-column collapse (see
    LakeTable.merge). Leave False on feeds that never emit partials —
    it skips the checkpoint, the state read and the per-column collapse.

    ``mode`` must be ``"mor"`` (``check_merge_mode``).

    ``transform_engine`` (transform.TransformEngine) runs between
    normalize and dedup with event_id/seq/op/key columns protected
    (critical-field preservation, service.go:493-501); its dead-letter
    rows land in ``<table_root>/_dead_letter/batch_key=<k>`` parquet
    (per-batch path + overwrite + ledger check ⇒ replay-idempotent).

    ``files_per_bucket``: the write layout's salt width
    (``LakeTable._write_buckets``). "auto" (default) sizes it from the
    batch's input bytes (auto_files_per_bucket); an int fixes it.

    ``schema_tracker`` (when ``payload_schema`` is None) caches the
    inferred schema across batches and turns on lossless evolution
    detection: an aggregate riding the merge write counts docs with
    keys outside the schema; if any, the merge ABORTS pre-commit, the
    schema is widened from those rows, and the batch re-applies — no
    silently nulled columns, no per-batch inference job.

    All counters ride the single MERGE action via Observations — no
    extra passes over the batch.
    """
    check_merge_mode(mode)
    t0 = time.time()
    if event_filter is not None:
        # on the RAW feed, before normalize: the scalar clauses (op /
        # db / tbl / doc-path / custom jq) push down into the feed scan
        raw_batch = event_filter.apply(raw_batch)
    if files_per_bucket == "auto":
        files_per_bucket = auto_files_per_bucket(raw_batch)
    detect = False
    if payload_schema is None:
        if schema_tracker is not None:
            if schema_tracker.schema is None:
                schema_tracker.schema = infer_payload_schema(raw_batch)
            payload_schema = schema_tracker.schema
            detect = True
        else:
            payload_schema = infer_payload_schema(raw_batch)
    key_cols = table.key_columns()

    retries = 0
    capped = False
    while True:
        obs_unseen = None
        if detect:
            obs_unseen = Observation(f"unseen-{batch_key}-r{retries}")
        flat = normalize(
            raw_batch,
            payload_schema,
            key_cols=key_cols,
            partial_updates=partial_updates,
            stale_obs=obs_unseen,
        )
        if transform_engine is not None:
            flat, dead = transform_engine.apply(flat)
            if dead is not None and table.is_committed(batch_key) is None:
                dead.write.mode("overwrite").parquet(
                    f"{table.root}/_dead_letter/batch_key={batch_key}"
                )

        obs_in = Observation(f"in-{batch_key}-r{retries}")
        flat = flat.observe(
            obs_in,
            F.count(F.lit(1)).alias("received"),
            F.min("seq").alias("seq_lo"),
            F.max("seq").alias("seq_hi"),
        )
        # No separate event-id dedup pass: redelivered duplicates carry an
        # identical (key, seq), so the per-key LWW collapse already drops
        # them (tiebreak on event_id keeps it deterministic) — one shuffle
        # instead of two. A partial batch goes to merge uncollapsed: it
        # folds the events into their buckets' rows in one collapse.
        prepared = flat if partial_updates else lww_latest(flat, key_cols, "seq")

        def _check(obs=obs_unseen):
            if int(obs.get["unseen"] or 0) > 0:
                raise _SchemaStale()

        try:
            stats = table.merge(
                prepared,
                batch_key,
                files_per_bucket=files_per_bucket,
                compact_after_deltas=compact_after_deltas,
                pre_commit_check=_check if detect else None,
                tombstone_retention=tombstone_retention,
                ledger_keep=ledger_keep,
            )
            break
        except _SchemaStale:
            # widen from the rows that carry the unknown keys and/or
            # type-conflicting values, re-apply; after 3 widenings
            # commit as-is rather than loop (a doc whose keys never
            # stabilize would stall the stream)
            retries += 1
            conflicted = _conflicted_fields(raw_batch, payload_schema)
            if conflicted:
                payload_schema = T.StructType(
                    [
                        T.StructField(f.name, conflicted[f.name], True)
                        if f.name in conflicted
                        else f
                        for f in payload_schema.fields
                    ]
                )
            extra = infer_payload_schema(
                raw_batch.where(_unseen_keys_flag(payload_schema))
            )
            payload_schema = _widen(payload_schema, extra)
            if schema_tracker is not None:
                schema_tracker.schema = payload_schema
                schema_tracker.retries += 1
            if retries >= 3:
                # the lossless guarantee degrades here — say so loudly
                # and record it (ADVICE r02: no silent lossy commit)
                detect = False
                capped = True
                print(
                    f"WARNING replicator_spark: schema widening retry cap "
                    f"hit for batch {batch_key}; committing with "
                    f"still-unrecognized payload shapes nulled "
                    f"(schema_capped=1)",
                    file=sys.stderr,
                )

    wall_ms = int((time.time() - t0) * 1000)
    if stats.replayed:
        return BatchResult(stats, 0, 0, wall_ms, retries)

    m_in = obs_in.get
    received = int(m_in["received"] or 0)
    # rows removed before apply: redelivery duplicates + intra-batch
    # LWW-superseded images
    deduped = received - stats.applied
    res = BatchResult(stats, received, deduped, wall_ms, retries)
    if write_metrics:
        M.append_metrics(
            table.root,
            {
                "batch_key": batch_key,
                "snapshot_version": stats.version,
                "received": received,
                "applied": stats.applied,
                "deduped": deduped,
                "deleted": stats.deleted,
                "schema_evolved": stats.schema_evolved,
                "schema_retries": retries,
                "schema_capped": int(capped),
                "touched_buckets": len(stats.buckets),
                "wall_ms": wall_ms,
            },
        )
        M.append_lineage(
            table.root,
            {
                "batch_key": batch_key,
                "snapshot_version": stats.version,
                "seq_min": int(m_in["seq_lo"]) if m_in["seq_lo"] is not None else None,
                "seq_max": int(m_in["seq_hi"]) if m_in["seq_hi"] is not None else None,
                "n_files_written": len(stats.files_written),
                "buckets": stats.buckets,
            },
        )
    return res


def replay_feed(
    spark: SparkSession,
    feed_dir: str,
    table: LakeTable,
    *,
    payload_schema: T.StructType | None = None,
    batches: list[int] | None = None,
    mode: str = "mor",
    files_per_bucket: int | str = "auto",
    compact_after_deltas: int = 8,
    write_metrics: bool = True,
    stream_name: str = "feed",
    partial_updates: bool = False,
    tombstone_retention: int | None = None,
    transform_engine=None,
    event_filter=None,
    ledger_keep: int | None = 1024,
    qos=None,
) -> list[BatchResult]:
    """Batch-mode replay of a partitioned feed directory, one MERGE per
    batch partition — semantically identical to the streaming path
    (streaming.py) with Trigger.AvailableNow.

    ``stream_name`` namespaces batch keys in the idempotence ledger —
    REQUIRED to be distinct when several feeds (the reference's
    multi-source aggregation, ``examples/configs/
    multi-source-aggregation.yaml``) replay into one table; otherwise
    the second stream's batches alias the first's and are skipped as
    replays.

    With ``payload_schema=None`` a SchemaTracker is created for the
    whole replay: the schema is inferred once, and additive evolution
    mid-feed is caught losslessly by the pre-commit detection.

    A pause marker (lifecycle.pause) for ``stream_name`` stops the
    replay before the next batch; a later rerun after lifecycle.resume
    continues from the ledger — committed batches replay as no-ops.

    ``qos`` (qos.QoS): retry-with-backoff + circuit breaker around each
    batch apply — safe because a failed merge commits nothing and a
    retried committed batch is a ledger no-op.

    ``mode`` must be ``"mor"`` (``check_merge_mode``)."""
    from . import lifecycle

    check_merge_mode(mode)
    tracker = SchemaTracker() if payload_schema is None else None
    if batches is None:
        batches = sorted(
            int(d.split("=")[1])
            for d in os.listdir(feed_dir)
            if d.startswith("batch_id=")
        )
    out = []
    for b in batches:
        if lifecycle.is_paused(table.root, stream_name):
            break
        bdf = spark.read.parquet(f"{feed_dir}/batch_id={b}")

        def _one(b=b, bdf=bdf):
            return apply_batch(
                table,
                bdf,
                batch_key=f"{stream_name}-{b}",
                payload_schema=payload_schema,
                files_per_bucket=files_per_bucket,
                compact_after_deltas=compact_after_deltas,
                write_metrics=write_metrics,
                schema_tracker=tracker,
                partial_updates=partial_updates,
                tombstone_retention=tombstone_retention,
                transform_engine=transform_engine,
                event_filter=event_filter,
                ledger_keep=ledger_keep,
            )

        out.append(qos.run(_one) if qos is not None else _one())
    return out

"""Structured Streaming wiring: tail the change feed as a stream and
apply micro-batches through the same MERGE path as batch replay.

This is the Spark form of the reference's stream lifecycle
(``pkg/models/models.go:78-105`` Start/Stop/Pause/Resume +
checkpoints): one streaming query per stream config, resume =
restart from ``checkpointLocation``. Where the reference's stream
checkpoints are no-op stubs (``pkg/streams/mysql_stream.go:190-207``)
and MySQL always re-tails from the start of the log
(``mysql_stream.go:228``), here resume is real: Spark's offset WAL
names each micro-batch deterministically (``batch_id``), and the lake
table's committed-batch ledger makes re-delivered batches no-ops —
end-to-end exactly-once.

Rate limiting (the reference's declared ``RateLimitConfig``,
``pkg/models/types.go:137-141``) maps to ``maxFilesPerTrigger``; the
declared-only retry/circuit-breaker QoS block is implemented for real
in ``qos.py`` and wraps each micro-batch apply (``qos=`` parameter);
the reference's drop-on-full-channel data loss
(``mysql_stream.go:424-438``) has no analogue — the source is
pull-based.
"""

from __future__ import annotations

import heapq
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .laketable import LakeTable, layout_width
from .model import CHANGE_SCHEMA
from .pipeline import apply_batch, check_merge_mode


# current query generation per (table_root, stream_name): a restarted
# stream supersedes its predecessor's token, and a superseded foreachBatch
# callback stuck in an open-circuit wait aborts at its next poll instead
# of waking later as a zombie writer
_STREAM_GENERATION: dict[tuple[str, str], object] = {}


def bind_breaker_observability(breaker, table_root: str, stream_name: str) -> None:
    """(Re)bind the breaker's state-persistence writer for this
    (table, stream) — a QoS object reused across streams must not keep
    writing the FIRST stream's marker path (review r4 #7) — without
    clobbering a caller-installed custom listener, which is chained
    instead (review r4 second pass #6). A previous bind's writer/chain
    is recognized by its tag and replaced, re-chaining the surviving
    custom hook. Also writes the breaker's CURRENT state once, so a
    fresh (closed) run supersedes a stale "open" marker left by a
    previous run's pause-during-recovery stop."""
    from . import lifecycle as _lc

    writer_fn = _lc.breaker_state_writer(table_root, stream_name)
    prev = breaker.listener
    custom = getattr(prev, "_rs_custom_hook", None) or (
        prev if prev is not None and not getattr(prev, "_rs_writer", False)
        else None
    )
    if custom is None:
        bound = writer_fn
    else:
        def bound(b, _c=custom, _w=writer_fn):
            _c(b)
            _w(b)

        bound._rs_custom_hook = custom
    bound._rs_writer = True
    breaker.listener = bound
    try:
        writer_fn(breaker)
    except Exception:  # noqa: BLE001 — observability must not fail startup
        pass


def feed_stream_schema() -> T.StructType:
    # feed parquet = canonical record + batch_id partition column
    return T.StructType(
        list(CHANGE_SCHEMA.fields) + [T.StructField("batch_id", T.IntegerType(), True)]
    )


def trigger_files_per_bucket(feed_dir: str, max_files: int) -> int:
    """The write layout's salt width for a stream, from one listing of
    ``feed_dir``: the bytes of its ``max_files`` largest files, the most
    one trigger can admit. A foreachBatch frame has no input files for
    ``auto_files_per_bucket`` to stat. Hidden and ``_``-prefixed entries
    are skipped, as the file source skips them."""
    sizes = []
    for dirpath, dirs, files in os.walk(feed_dir):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if not f.startswith(("_", ".")):
                try:
                    sizes.append(os.path.getsize(os.path.join(dirpath, f)))
                except OSError:  # removed since the listing
                    pass
    return layout_width(sum(heapq.nlargest(max_files, sizes)))


def run_stream(
    spark: SparkSession,
    feed_dir: str,
    table: LakeTable,
    checkpoint_dir: str,
    *,
    payload_schema: T.StructType | None = None,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    stream_name: str = "cdc",
    mode: str = "mor",
    files_per_bucket: int | str = "auto",
    partial_updates: bool = False,
    tombstone_retention: int | None = None,
    transform_engine=None,
    event_filter=None,
    ledger_keep: int | None = 1024,
    qos=None,
    processing_time: str = "5 seconds",
):
    """Start the CDC streaming query; returns the StreamingQuery.

    ``available_now=True`` replays everything currently in the feed and
    stops (Trigger.AvailableNow) — the replay mode. ``False`` keeps
    tailing (processingTime trigger) — the live mode.

    ``files_per_bucket``: the write layout's salt width; "auto" sizes it
    once, at start, from the largest trigger the feed can hold now
    (``trigger_files_per_bucket``); an int fixes it.

    ``mode`` must be ``"mor"`` (``check_merge_mode``).
    """
    check_merge_mode(mode)
    max_files = max_files_per_trigger or 16
    if files_per_bucket == "auto":
        files_per_bucket = trigger_files_per_bucket(feed_dir, max_files)
    reader = (
        spark.readStream.schema(feed_stream_schema())
        .option("maxFilesPerTrigger", max_files)
        .parquet(feed_dir)
    )

    # one tracker per stream: schema inferred on the first micro-batch
    # only (not per batch — that fixed cost capped steady-state
    # throughput), with lossless pre-commit evolution detection
    from .pipeline import SchemaTracker

    tracker = SchemaTracker() if payload_schema is None else None

    # persist breaker state transitions next to the table so the health
    # surface (lifecycle.health / cli status --health) can see an open
    # circuit from outside this driver process
    if qos is not None and qos.breaker is not None:
        bind_breaker_observability(qos.breaker, table.root, stream_name)

    # generation fence (review r4 second pass #1): the transient-pause
    # handshake that aborts an open-circuit wait is inherently racy —
    # the marker can be written and cleared entirely inside one of the
    # zombie callback's 1 s sleep intervals. Registering this query as
    # the CURRENT generation for (table, stream) closes the hole: a
    # superseded callback aborts at its next poll once a replacement
    # query has started, pause marker or not.
    gen_key = (table.root, stream_name)
    gen_token = object()
    _STREAM_GENERATION[gen_key] = gen_token

    def _apply(batch_df, batch_id: int):
        def _one():
            return apply_batch(
                table,
                batch_df,
                batch_key=f"{stream_name}-{batch_id}",
                payload_schema=payload_schema,
                files_per_bucket=files_per_bucket,
                schema_tracker=tracker,
                partial_updates=partial_updates,
                tombstone_retention=tombstone_retention,
                transform_engine=transform_engine,
                event_filter=event_filter,
                ledger_keep=ledger_keep,
            )

        # QoS envelope (qos.QoS): retry/backoff + circuit breaker; an
        # open breaker BLOCKS here, which in Structured Streaming is
        # backpressure — no further micro-batches start until recovery.
        # The pause marker aborts the open-circuit wait so a lifecycle
        # pause isn't stuck for the recovery envelope; any OTHER stop
        # that must interrupt the wait (e.g. config reload) routes
        # through a transient pause marker for the same reason —
        # cli.run_streaming_watched does exactly that. q.stop() alone
        # would interrupt the JVM side while this callback keeps
        # sleeping, leaving a zombie apply to race the restarted query
        # (review r4 #2).
        if qos is not None:
            from . import lifecycle

            qos.run(
                _one,
                abort_check=lambda: (
                    lifecycle.is_paused(table.root, stream_name)
                    or _STREAM_GENERATION.get(gen_key) is not gen_token
                ),
            )
        else:
            _one()

    writer = (
        reader.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(stream_name)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def run_stream_to_completion(spark, feed_dir, table, checkpoint_dir, **kw):
    """Replay-to-done, honoring the stream's pause marker: a pause stops
    the query at the next poll (the in-flight micro-batch completes —
    micro-batch is the pause granularity); resume + rerun continues from
    the checkpoint/ledger."""
    import time

    from . import lifecycle

    stream_name = kw.get("stream_name", "cdc")
    q = run_stream(spark, feed_dir, table, checkpoint_dir, available_now=True, **kw)
    while q.isActive:
        if lifecycle.is_paused(table.root, stream_name):
            q.stop()
            break
        time.sleep(0.2)
    await_stream(q, table.root, stream_name)
    return q


def await_stream(q, table_root: str, stream_name: str) -> None:
    """awaitTermination that treats a pause-initiated CircuitOpen abort
    as a clean stop (ADVICE r03): pausing a stream whose breaker is in
    its open-circuit wait aborts the wait with CircuitOpen inside
    foreachBatch, which fails the StreamingQuery — but the operator
    asked for a pause, not a crash. The failed micro-batch is NOT in the
    checkpoint WAL, so resume re-delivers it; nothing is lost."""
    from pyspark.errors import StreamingQueryException

    from . import lifecycle

    try:
        q.awaitTermination()
    except StreamingQueryException as exc:
        if "CircuitOpen" in str(exc) and lifecycle.is_paused(table_root, stream_name):
            return
        raise


def run_stats_stream(
    spark: SparkSession,
    feed_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    window: str = "1 hour",
    watermark: str = "10 minutes",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Streaming EventStatistics rollup (O4's streaming form): tumbling
    event-time windows × op over the change feed, with a watermark
    bounding how late an event may arrive and still be counted.

    This is the Structured Streaming shape the reference's
    EventStatistics poller approximates with wall-clock sampling
    (``pkg/replicator/service.go`` statistics loop): windows are keyed
    by EVENT time (``ts``), the watermark lets Spark finalize and emit a
    window once no event older than (max seen ts − watermark) can
    arrive, and events later than that are dropped — the documented
    trade of completeness for bounded state. Output mode ``append``
    writes each window exactly once, so the parquet output is itself an
    idempotent, replayable table.

    State size is O(open windows × ops), independent of feed length —
    the property that makes this run forever at 10^10 events.
    """
    reader = (
        spark.readStream.schema(feed_stream_schema())
        .option("maxFilesPerTrigger", max_files_per_trigger or 64)
        .parquet(feed_dir)
    )
    agg = (
        reader.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("op"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "op",
            "n_events",
        )
    )
    writer = (
        agg.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("op-stats")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_repo_activity_stream(
    spark: SparkSession,
    feed_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    a per-repo running activity profile (cumulative events per op, seq
    high-water mark) carried in managed state across micro-batches —
    the arbitrary-state form the built-in window aggregation can't
    express (monotone cumulative output per key per batch).

    This is the reference's per-stream ``EventStatistics`` accumulator
    (held in a Go struct behind a mutex) as Spark-managed state: state
    lives in the state store keyed by repo, survives restarts via the
    checkpoint, and each micro-batch emits one updated row per touched
    repo (an append-only audit trail of the profile's evolution).

    State size is O(live repos); Arrow batches in, Arrow batches out —
    no row-at-a-time Python.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("repo", T.StringType()),
            T.StructField("n_inserts", T.LongType()),
            T.StructField("n_updates", T.LongType()),
            T.StructField("n_deletes", T.LongType()),
            T.StructField("seq_hi", T.LongType()),
        ]
    )
    state_schema = "n_inserts long, n_updates long, n_deletes long, seq_hi long"

    def _update(key, pdf_iter, state: GroupState):
        import pandas as pd

        if state.exists:
            ni, nu, nd, hi = state.get
        else:
            ni, nu, nd, hi = 0, 0, 0, -1
        for pdf in pdf_iter:
            ops = pdf["op"].value_counts()
            ni += int(ops.get("insert", 0))
            nu += int(ops.get("update", 0))
            nd += int(ops.get("delete", 0))
            hi = max(hi, int(pdf["seq"].max()))
        state.update((ni, nu, nd, hi))
        yield pd.DataFrame(
            {
                "repo": [key[0]],
                "n_inserts": [ni],
                "n_updates": [nu],
                "n_deletes": [nd],
                "seq_hi": [hi],
            }
        )

    reader = (
        spark.readStream.schema(feed_stream_schema())
        .option("maxFilesPerTrigger", max_files_per_trigger or 64)
        .parquet(feed_dir)
    )
    profiled = (
        reader.select(F.col("key.repo").alias("repo"), "op", "seq")
        .groupBy("repo")
        .applyInPandasWithState(
            _update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            # append: each batch's emitted profile rows are final (the
            # audit trail is append-only) — required by the file sink
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    writer = (
        profiled.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("repo-activity")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def attach_progress_listener(spark: SparkSession, out_path: str):
    """Persist StreamingQueryProgress as JSON lines — the observable
    replacement for the reference's management/metrics HTTP API
    (``pkg/api/metrics.go``): stream state, rows/sec, batch durations
    all land in a queryable file instead of a live endpoint."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _L(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            import os

            os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
            with open(out_path, "a") as f:
                f.write(event.progress.json + "\n")

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _L()
    spark.streams.addListener(listener)
    return listener

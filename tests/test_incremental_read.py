"""Incremental change-feed reads OUT of the lake table
(LakeTable.read_changes) and multi-hop chaining: hop N+1 consumes hop
N's changes-since-version — the reference's A→B→C replication topology
without re-tailing the original source."""

from pyspark.sql import functions as F

from replicator_spark.feedgen import gen_changes, write_feed
from replicator_spark.laketable import LakeTable
from replicator_spark.model import KEY_COLS, REPOS_SCHEMA
from replicator_spark.pipeline import replay_feed


def _ordered_feed(spark, tmp_path, n=3000):
    """Seq-ranged batches (in-order delivery — read_changes' documented
    assumption)."""
    feed = str(tmp_path / "feed")
    df = gen_changes(spark, n, n_repos=6, n_batches=1, dup_pct=0).drop("batch_id")
    mx = df.agg(F.max("seq")).first()[0]
    width = mx // 4 + 1
    df.withColumn("batch_id", (F.col("seq") / width).cast("int")).write.partitionBy(
        "batch_id"
    ).parquet(feed)
    return feed


def test_read_changes_since_version(spark, tmp_path):
    feed = _ordered_feed(spark, tmp_path)
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(REPOS_SCHEMA, num_buckets=4)
    replay_feed(spark, feed, t, batches=[0, 1], mode="mor", write_metrics=False)
    v_mid = t._snap().version
    floor = t._snap().props["max_seq"]
    replay_feed(spark, feed, t, batches=[2, 3], mode="mor", write_metrics=False)

    changes = t.read_changes(v_mid)
    rows = changes.collect()
    assert rows, "second half must have produced changes"
    # every change is newer than the base watermark
    assert all(r["_last_seq"] > floor for r in rows)
    # exactly the keys whose CURRENT image is newer than the watermark
    full = t.read(include_deleted=True, include_engine_cols=True)
    want = full.where(F.col("_last_seq") > floor).count()
    assert len(rows) == want
    # tombstones ride the change feed
    assert any(r["_deleted"] for r in rows)


def test_chained_replication_converges(spark, tmp_path):
    """A→B chaining: B consumes A's change feed in two increments and
    ends bit-identical to A (same live keys and images)."""
    feed = _ordered_feed(spark, tmp_path)
    a = LakeTable(spark, str(tmp_path / "a"))
    a.create(REPOS_SCHEMA, num_buckets=4)
    b = LakeTable(spark, str(tmp_path / "b"))
    b.create(REPOS_SCHEMA, num_buckets=4)

    def sync(since_version, batch_key):
        ch = a.read_changes(since_version)
        batch = ch.select(
            *KEY_COLS,
            "lang",
            "content",
            F.col("_last_seq").alias("seq"),
            F.when(F.col("_deleted"), F.lit("delete")).otherwise(F.lit("update")).alias("op"),
            F.concat(F.lit("sync"), F.col("_last_seq").cast("string")).alias("event_id"),
        )
        b.merge(batch, batch_key)

    replay_feed(spark, feed, a, batches=[0, 1], mode="mor", write_metrics=False)
    v1 = a._snap().version
    sync(0, "sync-0")  # initial hydration: full image
    replay_feed(spark, feed, a, batches=[2, 3], mode="mor", write_metrics=False)
    sync(v1, "sync-1")  # incremental

    a_live = a.read().select(*KEY_COLS, "lang", "content")
    b_live = b.read().select(*KEY_COLS, "lang", "content")
    assert a_live.count() == b_live.count()
    assert a_live.exceptAll(b_live).count() == 0
    assert b_live.exceptAll(a_live).count() == 0


def test_read_changes_prunes_files_post_compaction(spark, tmp_path):
    """VERDICT r02 #2: a steady-state poll after compaction must scan
    only files newer than the watermark — the base files compaction
    folded the pre-watermark deltas into carry max_last_seq ≤ floor in
    their manifest entries and are dropped before the LWW resolve."""
    feed = _ordered_feed(spark, tmp_path)
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(REPOS_SCHEMA, num_buckets=4)
    replay_feed(spark, feed, t, batches=[0, 1], mode="mor", write_metrics=False)
    t.compact()  # all pre-watermark data now lives in base files
    v_mid = t._snap().version
    floor = t._snap().props["max_seq"]
    replay_feed(spark, feed, t, batches=[2], mode="mor", write_metrics=False)

    snap = t._snap()
    base_files = {f for fs in snap.files.values() for f in fs}
    delta_files = {f for fs in snap.props["deltas"].values() for f in fs}
    scanned = set(t.changed_files(since_seq=floor))
    # every file written this commit has a known stat (no None fallback)
    assert all(snap.file_stats.get(f) is not None for f in base_files | delta_files)
    assert not scanned & base_files, "pre-watermark base files must be pruned"
    assert scanned == delta_files, "poll reads exactly the new delta files"

    # pruned result is identical to the unpruned filter
    changes = t.read_changes(v_mid)
    full = t.read(include_deleted=True, include_engine_cols=True)
    want = full.where(F.col("_last_seq") > floor)
    assert changes.count() == want.count()
    assert changes.exceptAll(want).count() == 0


def test_read_changes_pruning_keeps_tombstones_and_stale_interleave(spark, tmp_path):
    """Pruning must not change the answer when post-watermark delta
    files also contain rows at or below the watermark's seq range for
    keys whose winner sits in a pruned base file."""
    feed = _ordered_feed(spark, tmp_path)
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(REPOS_SCHEMA, num_buckets=4)
    replay_feed(spark, feed, t, batches=[0, 1, 2], mode="mor", write_metrics=False)
    v_mid = t._snap().version
    floor = t._snap().props["max_seq"]
    replay_feed(spark, feed, t, batches=[3], mode="mor", write_metrics=False)
    pruned = t.read_changes(since_seq=floor)
    unpruned = (
        t.read(include_deleted=True, include_engine_cols=True)
        .where(F.col("_last_seq") > floor)
    )
    assert pruned.exceptAll(unpruned).count() == 0
    assert unpruned.exceptAll(pruned).count() == 0
    assert pruned.where(F.col("_deleted")).count() == unpruned.where(
        F.col("_deleted")
    ).count()
    # version form matches the seq form
    assert t.read_changes(v_mid).count() == pruned.count()


def test_read_changes_base_without_seqs_raises(spark, tmp_path):
    """A merge of a batch whose seqs are all null commits rows with no
    ``max_seq`` watermark. A poll from that snapshot must raise, not
    silently report the whole table as changes."""
    import pytest

    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(REPOS_SCHEMA, num_buckets=4)
    batch = spark.createDataFrame(
        [("r1", "p1", "c1", "py", "v1", None, "insert", "e1")],
        "repo string, path string, commit string, lang string, "
        "content string, seq long, op string, event_id string",
    )
    st = t.merge(batch, "s-0")
    assert st.applied == 1 and st.seq_hi is None
    assert t._snap().props["max_seq"] is None
    with pytest.raises(ValueError, match="no max_seq"):
        t.read_changes(st.version)
    assert t.read().count() == 1


def test_three_hop_chain_survives_snapshot_expiry(spark, tmp_path):
    """VERDICT r02 #10: A→B→C chaining at depth 3 with expire_snapshots
    running on A (and B) between hops, consumers tracking since_seq —
    the documented GC-survival story, proven end-to-end: C ends
    bit-identical to A with GC active."""
    feed = _ordered_feed(spark, tmp_path)
    tables = {}
    for name in "abc":
        t = LakeTable(spark, str(tmp_path / name))
        t.create(REPOS_SCHEMA, num_buckets=4)
        tables[name] = t
    a, b, c = tables["a"], tables["b"], tables["c"]

    def sync(src, dst, since_seq, batch_key):
        ch = src.read_changes(since_seq=since_seq)
        batch = ch.select(
            *KEY_COLS,
            "lang",
            "content",
            F.col("_last_seq").alias("seq"),
            F.when(F.col("_deleted"), F.lit("delete"))
            .otherwise(F.lit("update"))
            .alias("op"),
            F.concat(F.lit("s"), F.col("_last_seq").cast("string")).alias("event_id"),
        )
        dst.merge(batch, batch_key)
        return src._snap().props["max_seq"]

    wm_ab = wm_bc = -1
    for i, batches in enumerate([[0], [1], [2], [3]]):
        replay_feed(spark, feed, a, batches=batches, mode="mor",
                    write_metrics=False)
        wm_ab = sync(a, b, wm_ab, f"ab-{i}")
        # aggressive GC between hops: keep only the newest snapshot
        a.expire_snapshots(keep_last=1, min_age_s=0)
        wm_bc = sync(b, c, wm_bc, f"bc-{i}")
        b.expire_snapshots(keep_last=1, min_age_s=0)
        a.compact()
        a.expire_snapshots(keep_last=1, min_age_s=0)

    cols = [*KEY_COLS, "lang", "content"]
    a_live, c_live = a.read().select(*cols), c.read().select(*cols)
    assert a_live.count() == c_live.count()
    assert a_live.exceptAll(c_live).count() == 0
    assert c_live.exceptAll(a_live).count() == 0
    # tombstones propagated the whole chain
    assert c.read(include_deleted=True).count() > c.read().count()

"""The write layout: every lake-table write (mor delta append, streamed
append, compaction) runs one writer task per shuffle partition, each
writing whole buckets, and reports the files it wrote."""

import os
from collections import Counter

from replicator_spark import metrics as M
from replicator_spark.feedgen import gen_changes, write_feed
from replicator_spark.laketable import LakeTable
from replicator_spark.model import REPOS_SCHEMA
from replicator_spark.pipeline import replay_feed
from replicator_spark.streaming import run_stream

from .conftest import spark_jobs

NUM_BUCKETS = 32


def _record_writes(spark, monkeypatch):
    """Wrap ``LakeTable._write_buckets`` so each call runs under its own
    job group; returns the list it fills with (touched buckets, task
    count of the write stage) per call."""
    orig = LakeTable._write_buckets
    calls = []

    def wrapped(self, df, *args, **kwargs):
        out, jobs = spark_jobs(spark, lambda: orig(self, df, *args, **kwargs))
        # the write job is the group's last; its result stage its last
        calls.append((list(args[1]), jobs[max(jobs)][-1]))
        return out

    monkeypatch.setattr(LakeTable, "_write_buckets", wrapped)
    return calls


def _new_files(table, v0, v1):
    """Data files version ``v1`` references that ``v0`` did not, by bucket."""
    def live(v):
        s = table._snap(v)
        return {p for fs in (*s.files.values(), *table._deltas(s).values()) for p in fs}

    added = live(v1) - live(v0)
    return Counter(os.path.basename(os.path.dirname(p)) for p in added)


def test_writes_run_one_task_per_shuffle_partition(spark, tmp_path, monkeypatch):
    """A table with more buckets than shuffle partitions: a mor append
    (byte-sized width from its input files), a stream ("auto", whose
    foreachBatch frame has no input files) and compact() each run a
    write stage of min(touched, shuffle partitions) tasks and write one
    file per bucket they touch."""
    slots = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert NUM_BUCKETS > slots
    feed = str(tmp_path / "feed")
    write_feed(gen_changes(spark, 3000, n_repos=200, n_batches=2), feed)
    calls = _record_writes(spark, monkeypatch)

    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(REPOS_SCHEMA, num_buckets=NUM_BUCKETS)
    replay_feed(spark, feed, t, mode="mor", batches=[0], write_metrics=False)
    v_append = t._snap().version
    assert t.compact() == v_append + 1
    s = LakeTable(spark, str(tmp_path / "s"))
    s.create(REPOS_SCHEMA, num_buckets=NUM_BUCKETS)
    q = run_stream(
        spark, feed, s, str(tmp_path / "ckpt"), mode="mor", stream_name="w"
    )
    q.awaitTermination()
    v_stream = s._snap().version
    assert v_stream >= 1

    # append, compact, then one write per stream trigger
    assert len(calls) == 2 + v_stream, calls
    for i, (touched, tasks) in enumerate(calls):
        assert len(touched) > slots, (i, touched)
        assert tasks == min(len(touched), slots), (i, len(touched), tasks)
    writes = [(t, 0, v_append), (t, v_append, v_append + 1)]
    writes += [(s, v - 1, v) for v in range(1, v_stream + 1)]
    for table, v0, v1 in writes:
        per_bucket = _new_files(table, v0, v1)
        assert len(per_bucket) > slots, (table.root, v1, per_bucket)
        assert set(per_bucket.values()) == {1}, (table.root, v1, per_bucket)


def test_lineage_names_the_files_a_mor_batch_wrote(spark, tmp_path):
    """A mor batch's lineage row counts the delta files that batch added
    and names their buckets — not the snapshot's base files, which a mor
    append never writes."""
    feed = str(tmp_path / "feed")
    write_feed(gen_changes(spark, 1500, n_repos=40, n_batches=2), feed)
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(REPOS_SCHEMA, num_buckets=8)
    replay_feed(spark, feed, t, mode="mor")
    rows = sorted(M._iter_rows(os.path.join(t.root, "_lineage")),
                  key=lambda r: r["snapshot_version"])
    assert [r["snapshot_version"] for r in rows] == [1, 2]
    for r in rows:
        v = r["snapshot_version"]
        added = _new_files(t, v - 1, v)
        assert r["n_files_written"] == sum(added.values()) > 0, (r, added)
        assert r["buckets"] == sorted(int(d.split("=")[1]) for d in added), r

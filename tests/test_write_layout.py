"""The write layout: every lake-table write (mor delta append, streamed
append, compaction) runs one writer task per shuffle partition. A delta
append writes one file per task, listed in the manifest under every
bucket whose rows it holds; compaction writes one base file per bucket."""

import os
import random

import pyarrow.compute as pc
import pyarrow.parquet as pq

from replicator_spark import metrics as M
from replicator_spark.feedgen import gen_changes, write_feed
from replicator_spark.laketable import LakeTable
from replicator_spark.model import BUCKET_COL, REPOS_SCHEMA
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


def _listing(table, v, deltas=True):
    """{data file: buckets listing it} of version ``v``'s delta files (or
    base files)."""
    s = table._snap(v)
    out = {}
    for b, fs in (table._deltas(s) if deltas else s.files).items():
        for p in fs:
            out.setdefault(p, set()).add(int(b))
    return out


def _new_deltas(table, v):
    """{delta file: buckets listing it} that version ``v`` added."""
    prev = _listing(table, v - 1)
    return {p: bs for p, bs in _listing(table, v).items() if p not in prev}


def _held(path):
    """The buckets whose rows a delta file holds, read back with pyarrow."""
    col = pq.read_table(path, columns=[BUCKET_COL]).column(0)
    return set(pc.unique(col).to_pylist())


def test_writes_run_one_task_per_shuffle_partition(spark, tmp_path, monkeypatch):
    """A table with more buckets than shuffle partitions: a mor append
    (byte-sized width from its input files), a stream ("auto", whose
    foreachBatch frame has no input files) and compact() each run a
    write stage of min(touched, shuffle partitions) tasks. An append or
    a stream trigger writes at most that many files, each listed under
    the buckets it holds; compaction writes one file per bucket."""
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
    appends = [(t, v_append)] + [(s, v) for v in range(1, v_stream + 1)]
    for table, v in appends:
        new = _new_deltas(table, v)
        touched = set().union(*new.values())
        assert len(touched) > slots, (table.root, v, new)
        assert 0 < len(new) <= min(len(touched), slots), (table.root, v, new)
        for p, bs in new.items():
            assert bs == _held(p), (p, bs)
    assert not any(t._deltas(t._snap()).values())
    base = _listing(t, v_append + 1, deltas=False)
    assert len(base) > slots
    assert all(len(bs) == 1 for bs in base.values()), base
    assert sorted(b for bs in base.values() for b in bs) == sorted(
        int(os.path.basename(os.path.dirname(p)).split("=")[1]) for p in base
    )
    assert len({b for bs in base.values() for b in bs}) == len(base)


def test_lineage_names_the_files_a_mor_batch_wrote(spark, tmp_path):
    """A mor batch's lineage row counts the distinct delta files that
    batch added and names the buckets they hold — not the snapshot's
    base files, which a mor append never writes."""
    feed = str(tmp_path / "feed")
    write_feed(gen_changes(spark, 1500, n_repos=40, n_batches=2), feed)
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(REPOS_SCHEMA, num_buckets=8)
    replay_feed(spark, feed, t, mode="mor")
    rows = sorted(M._iter_rows(os.path.join(t.root, "_lineage")),
                  key=lambda r: r["snapshot_version"])
    assert [r["snapshot_version"] for r in rows] == [1, 2]
    for r in rows:
        added = _new_deltas(t, r["snapshot_version"])
        assert r["n_files_written"] == len(added) > 0, (r, added)
        assert r["buckets"] == sorted(set().union(*added.values())), r


COLS = (
    "repo string, path string, commit string, lang string, content string, "
    "seq long, op string, event_id string"
)


def test_deltas_spanning_buckets_read_like_sequential_apply(spark, tmp_path):
    """Deltas written one file per task hold several buckets each. Every
    delta file is listed under exactly the buckets whose rows it holds,
    and the readers of a bucket subset — read(buckets=...), lookup and
    the partial upgrade, also over a folded table's base files — give
    the sequential-apply result."""
    rng = random.Random(7)
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(REPOS_SCHEMA, num_buckets=NUM_BUCKETS)
    keys = [(f"r{i}", p) for i in range(60) for p in ("a", "b")]
    state = {}
    seq = iter(range(1, 10**6))

    def merge(events, batch_key, partial=False):
        """events: (key, op, lang, content); applied in order to the
        oracle (a partial touches its non-null fields only)."""
        rows = []
        for (repo, path), op, lang, content in events:
            s = next(seq)
            row = (repo, path, "c", lang, content, s,
                   "update" if op == "partial" else op, f"e{s}")
            rows.append(row + (op == "partial",) if partial else row)
            if op == "delete":
                state.pop((repo, path), None)
            elif op == "partial":
                cur = state.get((repo, path), (None, None))
                state[(repo, path)] = (lang or cur[0], content or cur[1])
            else:
                state[(repo, path)] = (lang, content)
        schema = COLS + (", _partial boolean" if partial else "")
        t.merge(spark.createDataFrame(rows, schema), batch_key)

    def check_listing():
        listing = _listing(t, None)
        for p, bs in listing.items():
            assert bs == _held(p), (p, bs)
        return listing

    def rows_of(df):
        return {(r["repo"], r["path"]): (r["lang"], r["content"]) for r in df.collect()}

    def check_reads():
        assert rows_of(t.read()) == state
        for b in rng.sample(range(NUM_BUCKETS), 3):
            want = {k: v for k, v in state.items() if t.bucket_of(k[0]) == b}
            assert rows_of(t.read(buckets=[b])) == want, b
        for repo in rng.sample(sorted({k[0] for k in keys}), 3):
            want = {k: v for k, v in state.items() if k[0] == repo}
            assert rows_of(t.lookup(repo)) == want, repo

    merge([(k, "insert", "py", f"v0-{k}") for k in keys], "s-0")
    merge([(k, rng.choice(["update", "update", "delete"]), "go", f"v1-{k}")
           for k in rng.sample(keys, 70)], "s-1")
    listing = check_listing()
    assert max(len(bs) for bs in listing.values()) > 1, listing
    check_reads()

    # partials against state held in shared deltas: live keys keep their
    # untouched lang, deleted keys upsert only their content
    ops = ["partial", "partial", "update", "delete"]
    merge([(k, rng.choice(ops), rng.choice([None, None, "rs"]), f"v2-{k}")
           for k in rng.sample(keys, 60)], "s-2", partial=True)
    check_listing()
    check_reads()

    # a fold leaves no delta chain; the partial merge after it upgrades
    # against base files
    t.compact()
    assert not any(t._deltas(t._snap()).values())
    check_listing()
    check_reads()
    merge([(k, "partial", None, f"v3-{k}") for k in rng.sample(keys, 30)],
          "s-3", partial=True)
    check_listing()
    check_reads()

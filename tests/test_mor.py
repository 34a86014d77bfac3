"""Merge-on-read path: delta-append MERGE + compaction must produce the
same final state as the sequential oracle."""

import hashlib

import pytest

from replicator_spark.feedgen import gen_changes, write_feed
from replicator_spark.laketable import LakeTable
from replicator_spark.model import REPOS_SCHEMA
from replicator_spark.pipeline import replay_feed

from .conftest import formatted_plan, spark_jobs
from .oracle import content_sha, sequential_apply


@pytest.fixture(scope="module")
def feed(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("mfeed"))
    write_feed(gen_changes(spark, 3000, n_repos=10, paths_per_repo=40, n_batches=5), d)
    return d


def _sha_state(table):
    return {
        (r["repo"], r["path"], r["commit"]): hashlib.sha256(
            (r["content"] or "").encode()
        ).hexdigest()
        for r in table.read().collect()
    }


def test_mor_replay_matches_oracle(spark, feed, tmp_path):
    table = LakeTable(spark, str(tmp_path / "t"))
    table.create(REPOS_SCHEMA, num_buckets=8)
    # high threshold: no auto-compaction during replay → pure delta reads
    replay_feed(spark, feed, table, mode="mor", compact_after_deltas=100)
    events = [r.asDict(recursive=True) for r in spark.read.parquet(feed).collect()]
    assert _sha_state(table) == content_sha(sequential_apply(events))


def test_mor_compaction_preserves_state(spark, feed, tmp_path):
    table = LakeTable(spark, str(tmp_path / "t"))
    table.create(REPOS_SCHEMA, num_buckets=8)
    replay_feed(spark, feed, table, mode="mor", compact_after_deltas=100)
    before = _sha_state(table)
    snap = table._snap()
    assert any(v for v in snap.props["deltas"].values()), "deltas expected"
    table.compact()
    snap2 = table._snap()
    assert not any(v for v in snap2.props.get("deltas", {}).values())
    assert _sha_state(table) == before
    # compacted read has one row per key, no delta resolution needed
    live = table.read()
    assert live.count() == live.select("repo", "path", "commit").distinct().count()


def test_mor_auto_compaction_kicks_in(spark, feed, tmp_path):
    table = LakeTable(spark, str(tmp_path / "t"))
    table.create(REPOS_SCHEMA, num_buckets=8)
    replay_feed(spark, feed, table, mode="mor", compact_after_deltas=2)
    deltas = table._snap().props.get("deltas", {})
    assert max((len(v) for v in deltas.values()), default=0) < 3
    events = [r.asDict(recursive=True) for r in spark.read.parquet(feed).collect()]
    assert _sha_state(table) == content_sha(sequential_apply(events))


def test_mor_tombstone_expiry(spark, feed, tmp_path):
    table = LakeTable(spark, str(tmp_path / "t"))
    table.create(REPOS_SCHEMA, num_buckets=8)
    replay_feed(spark, feed, table, mode="mor", compact_after_deltas=100)
    live_before = _sha_state(table)
    n_with_tombstones = table.read(include_deleted=True).count()
    # feed fully replayed → every tombstone is expirable
    table.compact(expire_tombstones_below_seq=10**9)
    assert _sha_state(table) == live_before
    assert table.read(include_deleted=True).count() < n_with_tombstones
    assert table.read(include_deleted=True).count() == len(live_before)


def test_torn_write_recovery(spark, feed, tmp_path):
    """Crash AFTER delta data files are written but BEFORE the snapshot
    commit (the torn state the two-step commit permits): the version
    hint still points at the old snapshot, so the orphan data dir is
    invisible to readers; the re-driven batch writes its own
    writer-unique dir (r5 — racing writers must never share one), and
    the torn garbage is removed by reference-based GC — no duplicate,
    no loss, no garbage ever read."""
    import os
    import shutil

    from .oracle import content_sha, sequential_apply

    root = str(tmp_path / "t")
    table = LakeTable(spark, root)
    table.create(REPOS_SCHEMA, num_buckets=8)
    batches = sorted(
        int(d.split("=")[1]) for d in os.listdir(feed) if d.startswith("batch_id=")
    )
    # apply all but the last batch normally
    replay_feed(spark, feed, table, mode="mor", batches=batches[:-1], write_metrics=False)
    v_before = table._snap().version

    # simulate the torn write of the last batch: data files for the
    # next version exist on disk, snapshot was never committed
    last = batches[-1]
    orphan_dir = f"{root}/data/v{v_before + 1}"
    os.makedirs(orphan_dir, exist_ok=True)
    os.makedirs(f"{orphan_dir}/repo_bucket=0", exist_ok=True)
    with open(f"{orphan_dir}/repo_bucket=0/part-torn.parquet", "w") as fh:
        fh.write("garbage — must be overwritten, never read")

    # reader sees only the committed snapshot
    assert table._snap().version == v_before
    live_before = table.read().count()
    assert live_before > 0

    # the batch is re-driven (crash recovery): apply normally
    replay_feed(spark, feed, table, mode="mor", batches=[last], write_metrics=False)
    assert table._snap().version == v_before + 1
    # the torn file is never referenced by any snapshot, so it is
    # invisible to reads and reference-based GC removes it (min_age 0:
    # no writer is active in this test)
    torn = f"{orphan_dir}/repo_bucket=0/part-torn.parquet"
    snap = table._snap()
    referenced = {
        os.path.realpath(p)
        for fs in list(snap.files.values()) + list(table._deltas(snap).values())
        for p in fs
    }
    assert os.path.realpath(torn) not in referenced
    table.expire_snapshots(keep_last=100, min_age_s=0)
    assert not os.path.exists(torn)

    # final state equals the sequential oracle over the whole feed
    events = [r.asDict(recursive=True) for r in spark.read.parquet(feed).collect()]
    got = {
        (r["repo"], r["path"], r["commit"]): hashlib.sha256(
            (r["content"] or "").encode()
        ).hexdigest()
        for r in table.read().collect()
    }
    assert got == content_sha(sequential_apply(events))


def test_tombstone_expiry_bounded_under_retention(spark, tmp_path):
    """VERDICT r01 #9: auto-compaction drives expire_tombstones_below_seq
    from the tracked max applied seq minus the retention window, so
    tombstones no longer accumulate forever; tombstones inside the
    window survive (late stragglers stay rejected)."""
    from pyspark.sql import Row

    from replicator_spark.laketable import LakeTable
    from replicator_spark.model import REPOS_SCHEMA

    t = LakeTable(spark, str(tmp_path / "texp"))
    t.create(REPOS_SCHEMA, num_buckets=2)

    def batch(key_i, seq, op):
        return spark.createDataFrame(
            [Row(repo="r", path=f"p{key_i}", commit="c", lang="py",
                 content=f"v{seq}", seq=seq, op=op, event_id=f"e{seq}")]
        )

    # insert then delete each key; retention window = 10 seqs
    n = 24
    for i in range(0, n, 2):
        t.merge(batch(i, i, "insert"), f"s-{i}",
                compact_after_deltas=4, tombstone_retention=10)
        t.merge(batch(i, i + 1, "delete"), f"s-{i+1}",
                compact_after_deltas=4, tombstone_retention=10)

    # every key deleted
    assert t.read().count() == 0
    dead = t.read(include_deleted=True, include_engine_cols=True).where("_deleted")
    n_tomb = dead.count()
    # old tombstones expired; only those within the last-10-seq window
    # (or in not-yet-compacted deltas) remain
    assert 0 < n_tomb < n // 2, n_tomb
    hi = (t._snap().props or {}).get("max_seq")
    assert hi == n - 1
    # force a final compaction with the same watermark: everything older
    # than the window is gone
    t.compact(expire_tombstones_below_seq=hi - 10)
    dead = t.read(include_deleted=True, include_engine_cols=True).where("_deleted")
    assert dead.agg({"_last_seq": "min"}).first()[0] >= hi - 10


def test_tombstone_expiry_reaches_quiet_buckets(spark, tmp_path):
    """VERDICT r02 #2 (what's wrong): a tombstone compacted into the
    base file of a bucket that then stops receiving writes used to be
    retained forever (compact only visited delta-bearing buckets). Per-
    bucket tombstone stats recorded at compaction time now make quiet
    buckets expiry candidates."""
    from pyspark.sql import Row

    table = LakeTable(spark, str(tmp_path / "t"))
    table.create(REPOS_SCHEMA, num_buckets=4)

    def batch(rows):
        return spark.createDataFrame([Row(**r) for r in rows])

    def row(repo, path, seq, op):
        return dict(repo=repo, path=path, commit="c", lang="py",
                    content=f"v{seq}", seq=seq, op=op, event_id=f"e{seq}")

    # bucket A (repo 'cold'): insert then delete, then goes quiet
    table.merge(batch([row("cold", "p1", 1, "insert"),
                       row("cold", "p2", 2, "insert")]), "s-0")
    table.merge(batch([row("cold", "p1", 3, "delete")]), "s-1")
    table.compact()  # folds cold's tombstone into its base file
    snap = table._snap()
    bt = snap.props["bucket_tombstones"]
    assert any(n for n, _ in bt.values()), "stats must record the tombstone"
    assert not any(v for v in snap.props["deltas"].values())

    # hot traffic elsewhere only; cold bucket's chain stays empty
    for i in range(4, 10):
        table.merge(batch([row("hot", f"q{i}", i, "insert")]), f"s-{i}")

    dead = table.read(include_deleted=True, include_engine_cols=True).where(
        "_deleted")
    assert dead.count() == 1  # the quiet bucket's tombstone is still there

    # retention has passed (watermark above the tombstone's seq):
    # maintenance compaction must reach the quiet bucket and drop it
    live_before = {(r["repo"], r["path"]) for r in table.read().collect()}
    table.compact(expire_tombstones_below_seq=4)
    assert table.read(include_deleted=True, include_engine_cols=True).where(
        "_deleted").count() == 0
    assert {(r["repo"], r["path"]) for r in table.read().collect()} == live_before
    # stats now say clean → a further expiry run is a no-op version-wise
    v = table._snap().version
    bt2 = table._snap().props["bucket_tombstones"]
    assert not any(n for n, _ in bt2.values())
    table.compact(expire_tombstones_below_seq=10**9)
    assert table._snap().version == v


def test_expiry_in_delta_fold_never_resurrects(spark, tmp_path):
    """The delta-fold twin of the quiet-bucket never-resurrect test: an
    expiry compaction that folds the tombstone's own delta chain keeps a
    tombstone at/above the watermark, so an in-window straggler is still
    rejected."""
    from pyspark.sql import Row

    table = LakeTable(spark, str(tmp_path / "t"))
    table.create(REPOS_SCHEMA, num_buckets=4)

    def batch(rows):
        return spark.createDataFrame([Row(**r) for r in rows])

    def row(repo, path, seq, op):
        return dict(repo=repo, path=path, commit="c", lang="py",
                    content=f"v{seq}", seq=seq, op=op, event_id=f"e{seq}")

    table.merge(batch([row("a", "p", 1, "insert")]), "s-0")
    table.merge(batch([row("a", "p", 5, "delete")]), "s-1")
    # watermark below the tombstone: the fold keeps it
    table.compact(expire_tombstones_below_seq=3)
    assert table.read(include_deleted=True, include_engine_cols=True).where(
        "_deleted").count() == 1
    # straggler update with seq 2 arrives late → still rejected
    table.merge(batch([row("a", "p", 2, "update")]), "s-2")
    assert table.read().where("repo = 'a'").count() == 0


def test_quiet_bucket_expiry_never_resurrects(spark, tmp_path):
    """LWW safety: expiry must not drop a tombstone that still guards
    against an in-window straggler — only tombstones BELOW the
    watermark go."""
    from pyspark.sql import Row

    table = LakeTable(spark, str(tmp_path / "t"))
    table.create(REPOS_SCHEMA, num_buckets=4)

    def batch(rows):
        return spark.createDataFrame([Row(**r) for r in rows])

    def row(repo, path, seq, op):
        return dict(repo=repo, path=path, commit="c", lang="py",
                    content=f"v{seq}", seq=seq, op=op, event_id=f"e{seq}")

    table.merge(batch([row("a", "p", 1, "insert")]), "s-0")
    table.merge(batch([row("a", "p", 5, "delete")]), "s-1")
    table.compact()
    # watermark below the tombstone: expiry keeps it
    table.compact(expire_tombstones_below_seq=3)
    assert table.read(include_deleted=True, include_engine_cols=True).where(
        "_deleted").count() == 1
    # straggler update with seq 2 arrives late → still rejected
    table.merge(batch([row("a", "p", 2, "update")]), "s-2")
    assert table.read().where("repo = 'a'").count() == 0


def test_compaction_observes_its_tombstone_stats(spark, tmp_path):
    """compact() learns each rewritten bucket's tombstone count and min
    seq from an Observation on the rows it writes, not a re-scan of the
    new base files: 3 Spark jobs (the resolve's shuffle, the write's
    shuffle, the write), and props["bucket_tombstones"] equals a pyarrow
    count over the new base files."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql import Row

    table = LakeTable(spark, str(tmp_path / "t"))
    table.create(REPOS_SCHEMA, num_buckets=8)

    def batch(rows):
        return spark.createDataFrame([Row(**r) for r in rows])

    def row(repo, seq, op):
        return dict(repo=repo, path="p", commit="c", lang="py",
                    content=f"v{seq}", seq=seq, op=op, event_id=f"e{seq}")

    table.merge(batch([row(f"r{i}", i, "insert") for i in range(40)]), "s-0")
    table.merge(
        batch([row(f"r{i}", 100 + i, "delete") for i in range(0, 40, 3)]), "s-1"
    )
    v, jobs = spark_jobs(spark, table.compact)
    assert len(jobs) == 3, jobs
    snap = table._snap()
    assert snap.version == v
    want = {}
    for b, fs in snap.files.items():
        t = pq.read_table(fs, columns=["_deleted", "_last_seq"])
        dead = t.filter(pc.fill_null(t["_deleted"], False))["_last_seq"]
        want[b] = [len(dead), pc.min(dead).as_py()]
    assert sum(n for n, _ in want.values()) == 14
    assert sum(1 for n, _ in want.values() if n) > 1, want
    assert snap.props["bucket_tombstones"] == want


def test_empty_batch_merge_commits_cleanly(spark, tmp_path):
    """An empty micro-batch (a fully-filtered feed batch is legal) must
    commit as a zero-stat snapshot — the write runs zero
    tasks, so its CollectMetrics row never materializes and a naive
    obs.get raises — and the committed batch_key must replay as a
    ledger no-op."""
    root = str(tmp_path / "t")
    t = LakeTable(spark, root)
    t.create(REPOS_SCHEMA, num_buckets=4)
    cols = (
        "repo string, path string, commit string, content string, "
        "content_sha string, seq long, op string"
    )
    empty = spark.createDataFrame([], cols)
    st = t.merge(empty, "e0")
    assert (st.applied, st.deleted, st.seq_hi) == (0, 0, None)
    assert not st.replayed
    assert t.merge(empty, "e0").replayed
    # the ledger advanced but no data files exist; a real batch after
    # the empties applies normally
    ne = spark.createDataFrame(
        [("r", "p", "c", "x", "s", 1, "upsert")], cols
    )
    assert t.merge(ne, "e1").applied == 1
    assert t.read().count() == 1


def test_mor_read_unresolved_append_only(spark, tmp_path):
    """r6: ``read(resolve=False)`` skips the per-key LWW collapse across
    base+deltas. For an append-only-unique key set (each key written
    exactly once — the incremental dedup indexes' shape) it must return
    exactly the same rows while dropping the max_by shuffle; once a key
    is superseded it returns BOTH versions — which is why it is only
    sound for append-only tables."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("val", T.StringType()),
            T.StructField("seq", T.LongType()),
            T.StructField("op", T.StringType()),
        ]
    )
    table = LakeTable(spark, str(tmp_path / "t"))
    table.create(schema, num_buckets=4, key_cols=["id"])
    for b in range(3):  # disjoint keys per batch → base + unresolved deltas
        rows = [(b * 10 + i, f"v{b}-{i}", b * 10 + i, "upsert") for i in range(10)]
        table.merge(
            spark.createDataFrame(rows, schema),
            f"s-{b}",
            key_cols=["id"],
            compact_after_deltas=100,
        )
    assert any(table._deltas(table._snap()).values()), "deltas expected"
    resolved = table.read()
    unresolved = table.read(resolve=False)
    assert sorted(resolved.columns) == sorted(unresolved.columns)
    assert "max_by" in formatted_plan(resolved)
    assert "max_by" not in formatted_plan(unresolved)
    cols = sorted(resolved.columns)
    assert sorted(map(tuple, resolved.select(*cols).collect())) == sorted(
        map(tuple, unresolved.select(*cols).collect())
    )
    # supersede one key: the resolved read collapses it, the unresolved
    # read exposes both physical rows (the documented unsoundness)
    table.merge(
        spark.createDataFrame([(0, "v-new", 999, "upsert")], schema),
        "s-3",
        key_cols=["id"],
        compact_after_deltas=100,
    )
    assert table.read().where("id = 0").count() == 1
    assert table.read(resolve=False).where("id = 0").count() == 2


LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def _many_file_table(spark, root):
    """A mor table of 4 uncompacted batches written 5 files a bucket into
    2 buckets: ~24 delta files, a dozen in each bucket."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("val", T.StringType()),
            T.StructField("seq", T.LongType()),
            T.StructField("op", T.StringType()),
        ]
    )
    table = LakeTable(spark, root)
    table.create(schema, num_buckets=2, key_cols=["k"])
    for b in range(4):
        rows = [(f"k{i}", f"v{b}-{i}", b * 100 + i, "upsert") for i in range(60)]
        table.merge(
            spark.createDataFrame(rows, schema),
            f"s-{b}",
            files_per_bucket=5,
            compact_after_deltas=1000,
        )
    return table


def test_scans_launch_no_listing_job(spark, tmp_path):
    """Table scans plan their relation from the manifest's paths. Spark
    re-lists a scan's paths with a distributed job of one task per path
    once they outnumber ``parallelPartitionDiscovery.threshold`` — here
    lowered to 4 so a small table crosses it. read, read_changes, lookup
    and compact must run no such stage, and the session's threshold must
    be left as the test set it."""
    # one scan task for the whole table, so no scan stage can have one
    # task per file on a many-core host either
    min_parts = "spark.sql.files.minPartitionNum"
    table = _many_file_table(spark, str(tmp_path / "t"))
    snap = table._snap()
    deltas = table._deltas(snap)
    n_all = sum(len(v) for v in deltas.values())
    n_bucket = len(deltas[str(table.bucket_of("k1", snap))])
    assert n_bucket > 8 and n_all > 8, (n_bucket, n_all)

    prior = spark.conf.get(min_parts, None)
    spark.conf.set(LISTING_THRESHOLD, "4")
    spark.conf.set(min_parts, "1")
    try:
        scans = {
            "read": (n_all, lambda: table.read().collect()),
            "read_changes": (
                n_all, lambda: table.read_changes(since_seq=-1).collect()
            ),
            "lookup": (n_bucket, lambda: table.lookup("k1").collect()),
            "compact": (n_all, table.compact),
        }
        for name, (n_files, action) in scans.items():
            _, jobs = spark_jobs(spark, action)
            tasks = [n for stages in jobs.values() for n in stages]
            assert tasks, name
            assert n_files not in tasks, (name, n_files, tasks)
        assert spark.conf.get(LISTING_THRESHOLD) == "4"
    finally:
        spark.conf.unset(LISTING_THRESHOLD)
        if prior is None:
            spark.conf.unset(min_parts)
        else:
            spark.conf.set(min_parts, prior)
    assert not any(table._deltas(table._snap()).values())
    assert table.read().count() == 60


def test_concurrent_scans_restore_listing_threshold(spark, tmp_path):
    """Scans raise the listing threshold while they plan and put it back.
    Threads planning scans at once (the foreachBatch thread beside the
    main thread) must never leave the session's value changed: a restore
    lost to an interleaving would leave it raised."""
    import sys
    import threading

    table = _many_file_table(spark, str(tmp_path / "t"))
    errors = []

    def plan_reads():
        try:
            for _ in range(6):
                table.read()
                table.lookup("k1")
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    spark.conf.set(LISTING_THRESHOLD, "4")
    try:
        threads = [threading.Thread(target=plan_reads) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
        assert not errors, errors
        assert spark.conf.get(LISTING_THRESHOLD) == "4"
    finally:
        sys.setswitchinterval(switch)
        spark.conf.unset(LISTING_THRESHOLD)


def test_scan_round_trips_do_not_grow_with_files(spark, tmp_path, monkeypatch):
    """A scan hands its path list to the JVM in a constant number of py4j
    round trips: a Python list costs one per path (``ArrayList.add``)."""
    import gc
    import threading

    table = _many_file_table(spark, str(tmp_path / "t"))
    snap = table._snap()
    paths = sorted({p for fs in table._deltas(snap).values() for p in fs})
    schema = table._physical_schema(snap)
    threshold = int(spark.conf.get(LISTING_THRESHOLD))
    assert 2 < len(paths) <= threshold, len(paths)
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    me = threading.get_ident()

    def round_trips(n):
        """This thread's commands for one scan of ``n`` paths, without
        py4j's deletes of garbage-collected objects (the least of three
        scans: other work in the process can add to any one of them)."""
        counts = []
        for _ in range(3):
            sent = []

            def counted(command, *args, **kwargs):
                if threading.get_ident() == me and not command.startswith("m\nd\n"):
                    sent.append(command)
                return send(command, *args, **kwargs)

            gc.collect()
            monkeypatch.setattr(client, "send_command", counted)
            try:
                table._scan_parquet(schema, paths[:n])
            finally:
                monkeypatch.undo()
            counts.append(len(sent))
        return min(counts)

    table._scan_parquet(schema, paths)  # first-use costs are not per scan
    few, many = round_trips(2), round_trips(len(paths))
    assert few == many, (few, many, len(paths))


def test_empty_table_scans_launch_no_job(spark, tmp_path):
    """Scans of a table with no data files, and of a metrics log with no
    rows, fold to an empty local relation: collecting them runs no Spark
    job (an empty Python-RDD frame ran one task per core)."""
    from replicator_spark import metrics as M

    table = LakeTable(spark, str(tmp_path / "t"))
    table.create(REPOS_SCHEMA, num_buckets=4)
    scans = {
        "read": table.read,
        "lookup": lambda: table.lookup("repo-0001", "a/b"),
        "read_changes": lambda: table.read_changes(since_seq=-1),
        "read_metrics": lambda: M.read_metrics(spark, table.root),
    }
    for name, scan in scans.items():
        rows, jobs = spark_jobs(spark, lambda: scan().collect())
        assert rows == [], name
        assert jobs == {}, name


def test_lookup_runs_one_job(spark, tmp_path):
    """A lookup resolves its one small bucket in a single task: the LWW
    aggregate's child is one partition, so no exchange is planned and
    the whole lookup is one Spark job (a shuffle made it two). A bucket
    larger than ``openCostInBytes`` keeps the parallel scan and its
    exchange."""
    open_cost = "spark.sql.files.openCostInBytes"
    table = _many_file_table(spark, str(tmp_path / "t"))
    snap = table._snap()
    assert len(table._deltas(snap)[str(table.bucket_of("k1", snap))]) >= 2
    rows, jobs = spark_jobs(spark, lambda: table.lookup("k1").collect())
    assert [(r["k"], r["val"]) for r in rows] == [("k1", "v3-1")]
    assert len(jobs) == 1, jobs
    assert "Exchange" not in formatted_plan(table.lookup("k1"), execute=True)

    prior = spark.conf.get(open_cost, None)
    spark.conf.set(open_cost, "1k")  # below the bucket's bytes
    try:
        rows, jobs = spark_jobs(spark, lambda: table.lookup("k1").collect())
        assert "Exchange" in formatted_plan(table.lookup("k1"), execute=True)
    finally:
        if prior is None:
            spark.conf.unset(open_cost)
        else:
            spark.conf.set(open_cost, prior)
    assert [(r["k"], r["val"]) for r in rows] == [("k1", "v3-1")]
    assert len(jobs) == 2, jobs


RAW_SCHEMA = (
    "event_id string, seq long, op string, "
    "key struct<repo:string,path:string,commit:string>, doc string, "
    "meta map<string,string>"
)


def test_partial_merge_runs_at_most_four_jobs(spark, tmp_path, monkeypatch):
    """A partial-bearing mor batch onto a table with state: the buckets
    holding partials are observed on the batch's checkpoint (no
    discovery collect), and one ``lww_collapse_partial`` folds the
    uncollapsed events into those buckets' rows — at most 4 Spark jobs
    for the whole apply (5 when the batch was collapsed first and
    upgraded in a second aggregate, 8 when the target was resolved,
    then joined)."""
    from pyspark.sql import types as T

    from replicator_spark.pipeline import apply_batch

    payload = T.StructType(
        [T.StructField("lang", T.StringType()), T.StructField("content", T.StringType())]
    )
    part = {"partial": "true"}
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(REPOS_SCHEMA, num_buckets=4)

    def apply(rows, key):
        return apply_batch(
            t, spark.createDataFrame(rows, RAW_SCHEMA), key, payload,
            mode="mor", partial_updates=True, write_metrics=False,
        )

    apply(
        [
            (f"e{i}", i, "insert", (f"r{i}", "p", "c"), f'{{"lang":"py","content":"v{i}"}}', {})
            for i in range(8)
        ],
        "s-0",
    )
    collects = []
    frame_cls = type(t.read())
    orig_collect = frame_cls.collect

    def counting_collect(self):
        collects.append(self)
        return orig_collect(self)

    monkeypatch.setattr(frame_cls, "collect", counting_collect)
    _, jobs = spark_jobs(
        spark,
        lambda: apply(
            [
                ("f0", 10, "update", ("r0", "p", "c"), '{"content":"w0"}', part),
                ("f1", 11, "update", ("r1", "p", "c"), '{"lang":"go","content":"w1"}', {}),
                ("f9", 12, "update", ("r9", "p", "c"), '{"content":"w9"}', part),
            ],
            "s-1",
        ),
    )
    assert collects == []
    assert len(jobs) <= 4, jobs
    monkeypatch.undo()
    rows = {r["repo"]: (r["lang"], r["content"]) for r in t.read().collect()}
    assert rows["r0"] == ("py", "w0")  # partial: untouched lang kept
    assert rows["r1"] == ("go", "w1")
    assert rows["r9"] == (None, "w9")  # partial on an absent key
    assert rows["r2"] == ("py", "v2")


def test_empty_partial_batch_commits_cleanly(spark, tmp_path):
    """An empty batch that carries a ``_partial`` column goes through the
    checkpoint whose Observation names the partial rows' buckets: that
    observation must materialize on zero rows (a hang or a raise there
    would stall the stream), the merge must commit a zero-stat mor
    snapshot, and the batch key must replay as a ledger no-op."""
    import threading

    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(REPOS_SCHEMA, num_buckets=4)
    cols = (
        "repo string, path string, commit string, content string, "
        "seq long, op string, _partial boolean"
    )
    empty = spark.createDataFrame([], cols)
    out = []
    worker = threading.Thread(target=lambda: out.append(t.merge(empty, "e0")))
    worker.start()
    worker.join(timeout=300)
    assert not worker.is_alive(), "merge of an empty partial batch hung"
    (st,) = out
    assert (st.applied, st.deleted, st.seq_hi, st.files_written) == (0, 0, None, [])
    assert not st.replayed and st.version == 1
    assert t.merge(empty, "e0").replayed
    assert t._snap().version == 1
    assert t.read().count() == 0


def test_partial_upgrade_allows_any_payload_name(spark, tmp_path):
    """Payload fields may take any name the pipeline does not reserve,
    including ones that look like a partial merge's own working
    columns: the fold marks the table's rows with a NULL ``_partial``
    (a reserved name), not a column of its own, and its aggregate
    carries every column inside one struct, so nothing collides and
    every untouched field is kept."""
    from pyspark.sql import types as T

    from replicator_spark.pipeline import apply_batch

    names = ["_b", "_in_batch", "_s", "_t", "_top", "content"]
    payload = T.StructType([T.StructField(n, T.StringType()) for n in names])
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(REPOS_SCHEMA, num_buckets=2)

    def apply(rows, key):
        return apply_batch(
            t, spark.createDataFrame(rows, RAW_SCHEMA), key, payload,
            mode="mor", partial_updates=True, write_metrics=False,
        )

    full = '{"_b":"b0","_in_batch":"i0","_s":"s0","_t":"t0","_top":"o0","content":"c0"}'
    apply([("e0", 1, "insert", ("r0", "p", "c"), full, {})], "s-0")
    apply(
        [("e1", 2, "update", ("r0", "p", "c"), '{"_t":"t1"}', {"partial": "true"})],
        "s-1",
    )
    (row,) = t.read().collect()
    assert [row[n] for n in names] == ["b0", "i0", "s0", "t1", "o0", "c0"]


def test_cow_mode_is_refused_before_any_work(spark, feed, tmp_path):
    """Copy-on-write was removed. The entry points that still take
    ``mode`` (for saved job configs) refuse any value but "mor" before
    any Spark job or commit."""
    import os

    from replicator_spark.cli import JobConfig
    from replicator_spark.pipeline import apply_batch
    from replicator_spark.streaming import run_stream

    cfg = JobConfig(name="j", feed_dir=feed, table_root=str(tmp_path / "t"),
                    streaming=False, mode="cow")
    assert any("copy-on-write was removed" in e for e in cfg.validate())

    table = LakeTable(spark, str(tmp_path / "t"))
    table.create(REPOS_SCHEMA, num_buckets=4)
    version = table._snap().version
    raw = spark.read.parquet(f"{feed}/batch_id=0")
    ckpt = str(tmp_path / "ckpt")
    calls = [
        lambda: apply_batch(table, raw, "s-0", mode="cow"),
        lambda: replay_feed(spark, feed, table, mode="cow"),
        lambda: run_stream(spark, feed, table, ckpt, mode="cow"),
    ]
    for call in calls:
        def refused(call=call):
            with pytest.raises(ValueError, match="copy-on-write was removed"):
                call()

        _, jobs = spark_jobs(spark, refused)
        assert jobs == {}
    assert table._snap().version == version
    assert table.is_committed("feed-0") is None
    assert not os.path.exists(ckpt)

"""Multi-writer ingest: retry-with-rebase on commit conflict
(VERDICT r04 #4).

The reference exercises its position trackers under concurrency
(pkg/position/mongo_tracker_test.go:163-523); the Spark analogue is two
streams fanning into one lake table from separate drivers. The snapshot
CAS makes the race loud; this module proves the loser now REBASES when
the winner touched a disjoint bucket set (the common case), keeps the
loud CommitConflictError on overlap, and resolves a duplicated
batch_key as an exactly-once replay.

The interleaving is deterministic: ``pre_commit_check`` fires after the
loser's data files are written but before its snapshot commit — exactly
the window a real concurrent writer would land in — so the competing
merge commits there via a second table handle.
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from replicator_spark.commitlog import CommitConflictError
from replicator_spark.laketable import LakeTable, bucket_expr

SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("v", T.StringType()),
    ]
)


def _ids_by_bucket(spark, n_buckets=2, per_bucket=6):
    """Deterministic id strings grouped by the table's own bucket
    function — lets a test construct provably-disjoint batches."""
    cand = spark.createDataFrame(
        [(f"id{i}",) for i in range(200)], "id string"
    ).withColumn("b", bucket_expr(n_buckets, "id"))
    out: dict[int, list[str]] = {}
    for r in cand.collect():
        out.setdefault(r["b"], []).append(r["id"])
    return {b: ids[:per_bucket] for b, ids in out.items()}


def _batch(spark, ids, seq0, val):
    return spark.createDataFrame(
        [(i, f"{val}-{i}", seq0 + k, "insert") for k, i in enumerate(ids)],
        "id string, v string, seq long, op string",
    )


def _fresh_table(spark, tmp_path, name):
    t = LakeTable(spark, str(tmp_path / name))
    t.create(SCHEMA, num_buckets=2, key_cols=("id",))
    return t


@pytest.mark.parametrize("partial", [False, True], ids=["mor", "partial"])
def test_disjoint_concurrent_merges_both_land(spark, tmp_path, partial):
    """Both writers land when their buckets are disjoint — also for a
    merge that upgraded partial rows, which READ its buckets' state and
    so may rebase only over a winner that left those buckets alone."""
    ta = _fresh_table(spark, tmp_path, f"t_{partial}")
    tb = LakeTable(spark, ta.root)  # second driver's handle
    ids = _ids_by_bucket(spark)
    a = _batch(spark, ids[0], 100, "a")
    b = _batch(spark, ids[1], 200, "b")
    v0 = 0
    if partial:
        # A's partials upgrade against these rows of its own bucket
        ta.merge(_batch(spark, ids[0], 50, "base"), "s0-0", key_cols=("id",))
        a = a.withColumn("_partial", F.lit(True))
        v0 = 1

    st_b = {}

    def competing_commit():
        st_b["stats"] = tb.merge(b, "sB-0", key_cols=("id",))

    st_a = ta.merge(
        a, "sA-0", key_cols=("id",), pre_commit_check=competing_commit
    )
    # B won the race; A rebased and landed one version later
    assert st_b["stats"].version == v0 + 1
    assert st_a.version == v0 + 2
    assert st_a.replayed is False

    snap = ta._snap()
    assert ta.is_committed("sA-0") == v0 + 2
    assert ta.is_committed("sB-0") == v0 + 1
    rows = {r["id"]: r["v"] for r in ta.read().collect()}
    assert {i for i in ids[0]} <= set(rows) and {i for i in ids[1]} <= set(rows)
    assert all(rows[i] == f"a-{i}" for i in ids[0])
    assert all(rows[i] == f"b-{i}" for i in ids[1])
    # the rebase merged max_seq across both writers
    assert (snap.props or {}).get("max_seq") == 200 + len(ids[1]) - 1

    # the table stays fully functional: a later ordinary merge applies
    upd = _batch(spark, ids[0][:2], 300, "a2")
    st2 = ta.merge(upd, "sA-1", key_cols=("id",))
    assert st2.version == v0 + 3
    rows = {r["id"]: r["v"] for r in ta.read().collect()}
    assert rows[ids[0][0]] == f"a2-{ids[0][0]}"


def test_overlapping_mor_appends_rebase(spark, tmp_path):
    """A non-partial mor merge derives its delta files from the batch
    alone, so it rebases over a concurrent commit even when the bucket
    sets OVERLAP — the realistic fan-in shape (hash bucketing mixes
    every stream's keys into every bucket). Both writers' rows land;
    keys written by both resolve by seq-ordered LWW."""
    ta = _fresh_table(spark, tmp_path, "t_mor_overlap")
    tb = LakeTable(spark, ta.root)
    ids = _ids_by_bucket(spark)
    # same buckets, partly the same KEYS: b rewrites ids[0][:2] at
    # higher seqs and also touches bucket 1
    a = _batch(spark, ids[0], 100, "a")
    b = _batch(spark, ids[0][:2] + ids[1][:2], 200, "b")

    st_b = {}

    def competing_commit():
        st_b["stats"] = tb.merge(b, "sB-0", key_cols=("id",))

    st_a = ta.merge(
        a, "sA-0", key_cols=("id",), pre_commit_check=competing_commit
    )
    assert st_b["stats"].version == 1
    assert st_a.version == 2 and st_a.replayed is False
    rows = {r["id"]: r["v"] for r in ta.read().collect()}
    # b's seqs (200+) beat a's (100+) on the contended keys
    assert all(rows[i] == f"b-{i}" for i in ids[0][:2] + ids[1][:2])
    assert all(rows[i] == f"a-{i}" for i in ids[0][2:])
    # a later seq from a reclaims a contended key — LWW stays live
    st2 = ta.merge(
        _batch(spark, ids[0][:1], 300, "a2"), "sA-1",
        key_cols=("id",),
    )
    assert st2.version == 3
    assert {r["id"]: r["v"] for r in ta.read().collect()}[ids[0][0]] == (
        f"a2-{ids[0][0]}"
    )


def test_overlapping_partial_mor_stays_loud(spark, tmp_path):
    """A mor merge that upgraded partial rows READ the snapshot it
    started from (the touched buckets' state) — an overlapping
    concurrent commit invalidates that read, so the conflict stays
    loud for partial-bearing batches."""
    ta = _fresh_table(spark, tmp_path, "t_partial_overlap")
    tb = LakeTable(spark, ta.root)
    ids = _ids_by_bucket(spark)
    ta.merge(_batch(spark, ids[0], 50, "base"), "sA-0",
             key_cols=("id",))
    a = _batch(spark, ids[0][:3], 100, "a").withColumn(
        "_partial", F.lit(True)
    )
    b = _batch(spark, ids[0][3:5], 200, "b")  # same bucket → overlap

    def competing_commit():
        tb.merge(b, "sB-0", key_cols=("id",))

    with pytest.raises(CommitConflictError, match="concurrent writer"):
        ta.merge(
            a, "sA-1", key_cols=("id",),
            pre_commit_check=competing_commit,
        )
    assert ta.is_committed("sA-1") is None


def test_mor_merge_rebases_over_concurrent_compaction(spark, tmp_path):
    """The other direction of the maintenance race: compact() losing to
    an ingest commit is pinned in test_commitlog_bounds; here the INGEST
    merge loses CAS to a compaction that folded every delta chain into
    base. A non-partial mor merge's delta files derive from the batch
    alone, so layering them over the compacted lists is exactly the
    sequential outcome — the rebase must land, with LWW intact."""
    ta = _fresh_table(spark, tmp_path, "t_compact_race")
    tb = LakeTable(spark, ta.root)
    ids = _ids_by_bucket(spark)
    ta.merge(
        _batch(spark, ids[0] + ids[1], 100, "seed"), "sA-0",
        key_cols=("id",),
    )

    ver = {}

    def competing_compact():
        ver["compact"] = tb.compact()  # folds the seed delta → v2

    st = ta.merge(
        _batch(spark, ids[0][:3] + ids[1][:3], 200, "b"), "sB-0",
        key_cols=("id",), pre_commit_check=competing_compact,
    )
    assert ver["compact"] == 2
    assert st.version == 3 and st.replayed is False
    rows = {r["id"]: r["v"] for r in ta.read().collect()}
    assert all(rows[i] == f"b-{i}" for i in ids[0][:3] + ids[1][:3])
    assert all(rows[i] == f"seed-{i}" for i in ids[0][3:] + ids[1][3:])
    # a second compaction folds the rebased delta too — state unchanged
    assert ta.compact() == 4
    assert {r["id"]: r["v"] for r in ta.read().collect()} == rows


def test_partial_merge_stays_loud_under_concurrent_compaction(spark, tmp_path):
    """A merge that upgraded partial rows READ its touched buckets'
    state; a compaction that rewrote those same buckets invalidates
    that read, so the conflict must stay loud — same rule as an
    overlapping partial writer."""
    ta = _fresh_table(spark, tmp_path, "t_compact_partial")
    tb = LakeTable(spark, ta.root)
    ids = _ids_by_bucket(spark)
    ta.merge(
        _batch(spark, ids[0] + ids[1], 100, "seed"), "sA-0", key_cols=("id",)
    )
    part = _batch(spark, ids[0][:3], 200, "b").withColumn(
        "_partial", F.lit(True)
    )

    def competing_compact():
        tb.compact()

    with pytest.raises(CommitConflictError, match="concurrent writer"):
        ta.merge(
            part, "sB-0", key_cols=("id",), pre_commit_check=competing_compact
        )
    assert ta.is_committed("sB-0") is None
    # the compaction's state is intact and the table keeps working
    rows = {r["id"]: r["v"] for r in ta.read().collect()}
    assert all(rows[i] == f"seed-{i}" for i in ids[0] + ids[1])
    st = ta.merge(part, "sB-0", key_cols=("id",))
    assert st.version == 3


def test_two_threads_concurrent_mor_fanin(spark, tmp_path):
    """True concurrency, no deterministic interleave: two threads with
    separate table handles each merge 4 mor batches of their own stream
    into one table as fast as they can. Hash bucketing overlaps their
    buckets constantly; every conflict must resolve by rebase, all 8
    commits land, and the final state is the union with per-key LWW."""
    import threading

    ta = _fresh_table(spark, tmp_path, "t_threads")
    ids = _ids_by_bucket(spark, per_bucket=20)
    all_ids = ids[0] + ids[1]
    streams = {"sA": all_ids[0::2], "sB": all_ids[1::2]}
    errs: list[Exception] = []

    def writer(stream: str, keys: list[str]) -> None:
        t = LakeTable(spark, ta.root)
        try:
            for n in range(4):
                chunk = keys[n * 4 : (n + 1) * 4]
                # compaction disabled: it adds its own version bump,
                # which would make the version==8 assert below racy
                t.merge(
                    _batch(spark, chunk, 1000 * n, stream),
                    f"{stream}-{n}", key_cols=("id",),
                    compact_after_deltas=10_000,
                )
        except Exception as e:  # pragma: no cover - failure path
            errs.append(e)

    threads = [
        threading.Thread(target=writer, args=(s, k))
        for s, k in streams.items()
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errs == []
    snap = ta._snap()
    assert snap.version == 8  # every commit bumped exactly one version
    for s in streams:
        for n in range(4):
            assert ta.is_committed(f"{s}-{n}") is not None
    rows = {r["id"]: r["v"] for r in ta.read().collect()}
    for s, keys in streams.items():
        for k in keys[:16]:
            assert rows[k] == f"{s}-{k}"


def test_two_writers_plus_compactor_concurrent(spark, tmp_path):
    """The full production shape: two ingest streams AND a maintenance
    compaction cron hitting one table concurrently. Merges must rebase
    over merges and compactions alike, the compactor must retry over
    ingest commits, and the final state must be the per-key LWW union —
    no lost batch, no lost compaction side effects."""
    import threading

    ta = _fresh_table(spark, tmp_path, "t_cron")
    ids = _ids_by_bucket(spark, per_bucket=20)
    all_ids = ids[0] + ids[1]
    streams = {"sA": all_ids[0::2], "sB": all_ids[1::2]}
    errs: list[Exception] = []
    done = threading.Event()

    def writer(stream: str, keys: list[str]) -> None:
        t = LakeTable(spark, ta.root)
        try:
            for n in range(3):
                chunk = keys[n * 4 : (n + 1) * 4]
                t.merge(
                    _batch(spark, chunk, 1000 * n, stream),
                    f"{stream}-{n}", key_cols=("id",),
                    compact_after_deltas=10_000,
                )
        except Exception as e:  # pragma: no cover - failure path
            errs.append(e)

    def compactor() -> None:
        t = LakeTable(spark, ta.root)
        try:
            while not done.is_set():
                # generous retries: under 2-writer contention the
                # default budget of 2 can legitimately run out
                t.compact(retries=25)
        except Exception as e:  # pragma: no cover - failure path
            errs.append(e)

    threads = [
        threading.Thread(target=writer, args=(s, k))
        for s, k in streams.items()
    ]
    cron = threading.Thread(target=compactor)
    for th in threads:
        th.start()
    cron.start()
    for th in threads:
        th.join()
    done.set()
    cron.join()
    assert errs == []
    for s in streams:
        for n in range(3):
            assert ta.is_committed(f"{s}-{n}") is not None
    rows = {r["id"]: r["v"] for r in ta.read().collect()}
    for s, keys in streams.items():
        for k in keys[:12]:
            assert rows[k] == f"{s}-{k}"
    # a final quiesced compaction folds whatever remains; state fixed
    ta.compact()
    assert {r["id"]: r["v"] for r in ta.read().collect()} == rows


def test_duplicate_batch_key_resolves_as_replay(spark, tmp_path):
    """A crashed-and-restarted driver re-merging the batch another
    instance already committed must see exactly-once replay, not a
    conflict and not a double apply."""
    ta = _fresh_table(spark, tmp_path, "t_replay")
    tb = LakeTable(spark, ta.root)
    ids = _ids_by_bucket(spark)
    a = _batch(spark, ids[0], 100, "a")

    def competing_commit():
        tb.merge(a, "sA-0", key_cols=("id",))

    st = ta.merge(
        a, "sA-0", key_cols=("id",), pre_commit_check=competing_commit
    )
    assert st.replayed is True and st.version == 1
    assert ta._snap().version == 1
    assert ta.read().count() == len(ids[0])


def test_concurrent_schema_evolution_is_not_rebased(spark, tmp_path):
    ta = _fresh_table(spark, tmp_path, "t_schema")
    tb = LakeTable(spark, ta.root)
    ids = _ids_by_bucket(spark)
    a = _batch(spark, ids[0], 100, "a")
    # B's batch adds a NEW column → schema evolution in the winner
    b = _batch(spark, ids[1], 200, "b").withColumn("extra", F.lit("x"))

    def competing_commit():
        tb.merge(b, "sB-0", key_cols=("id",))

    with pytest.raises(CommitConflictError, match="schema"):
        ta.merge(
            a, "sA-0", key_cols=("id",),
            pre_commit_check=competing_commit,
        )

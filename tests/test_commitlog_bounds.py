"""Snapshot metadata must stay bounded over long histories (VERDICT r01
#4): manifest indirection keeps per-snapshot bytes O(num_buckets), and
ledger retention keeps the committed-batch map O(keep) per stream while
evicted batches remain replay-protected via the floor."""

import json
import os

from pyspark.sql import Row

from replicator_spark import commitlog as cl
from replicator_spark.laketable import LakeTable
from replicator_spark.model import REPOS_SCHEMA


def test_parse_and_retain_ledger():
    assert cl.parse_batch_key("feed-12") == ("feed", 12)
    assert cl.parse_batch_key("a-b-3") == ("a-b", 3)
    assert cl.parse_batch_key("noindex") is None
    committed = {f"s-{i}": i + 1 for i in range(100)}
    committed["custom"] = 7
    out, floor = cl.retain_ledger(committed, {}, keep=10)
    assert set(out) == {f"s-{i}" for i in range(90, 100)} | {"custom"}
    assert floor == {"s": 89}
    # keep=None disables retention
    out2, floor2 = cl.retain_ledger(committed, {}, keep=None)
    assert out2 == committed and floor2 == {}


def test_is_committed_covers_evicted_zone():
    snap = cl.Snapshot(
        version=50,
        parent=49,
        schema_json="{}",
        num_buckets=4,
        files={},
        committed_batches={"s-49": 50},
        ledger_floor={"s": 48},
    )
    assert cl.is_committed(snap, "s-49") == 50
    assert cl.is_committed(snap, "s-3") == 50  # evicted, below floor
    assert cl.is_committed(snap, "s-51") is None
    assert cl.is_committed(snap, "other-1") is None


def _tiny_batch(spark, i):
    return spark.createDataFrame(
        [
            Row(
                repo=f"r{i % 3}",
                path=f"p{i}",
                commit="c",
                lang="py",
                content=f"v{i}",
                seq=i,
                op="insert",
                event_id=f"e{i}",
            )
        ]
    )


def test_metadata_bounded_over_many_commits(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(REPOS_SCHEMA, num_buckets=4)
    n = 40
    for i in range(n):
        t.merge(_tiny_batch(spark, i), f"s-{i}", ledger_keep=8)

    # ledger bounded by keep (+ compaction snapshots don't add keys)
    assert len(t.committed_batches()) <= 8
    # evicted batches are still exactly-once
    assert t.is_committed("s-0") is not None
    res = t.merge(_tiny_batch(spark, 0), "s-0", ledger_keep=8)
    assert res.replayed
    # all rows still live (no data lost to retention/compaction)
    assert t.read().count() == n

    # snapshot JSON bytes stay flat: late snapshots no bigger than ~2x an
    # early one (inline file lists + full ledger grew linearly before)
    meta = cl.meta_dir(t.root)
    sizes = {
        v: os.path.getsize(os.path.join(meta, f"v{v}.json"))
        for v in cl.list_versions(t.root)
    }
    versions = sorted(sizes)
    early, late = sizes[versions[10]], max(sizes[v] for v in versions[-5:])
    assert late <= 2 * early + 512, (early, late)

    # manifests are content-addressed: untouched buckets dedupe
    manifests = os.listdir(os.path.join(meta, "manifests"))
    assert all(m.startswith("m-") for m in manifests)
    # round-trip: resolved snapshot still lists real files
    snap = cl.load_snapshot(t.root)
    for fs in snap.files.values():
        for f in fs:
            assert os.path.exists(f)
    assert json.loads(open(os.path.join(meta, f"v{snap.version}.json")).read())


def _disk_files(root):
    out = set()
    for dirpath, _d, files in os.walk(os.path.join(root, "data")):
        for f in files:
            if f.endswith(".parquet"):
                out.add(os.path.join(dirpath, f))
    return out


def test_expire_snapshots_gc_bounds_disk(spark, tmp_path):
    """Without expiry, compactions strand superseded files
    forever. expire_snapshots deletes everything no retained snapshot
    references (incl. aborted-commit orphans), keeps time travel for the
    retained window, and leaves reads + exactly-once intact."""
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(REPOS_SCHEMA, num_buckets=2)
    n = 14
    for i in range(n):
        # compaction every 4 deltas → plenty of superseded files
        t.merge(_tiny_batch(spark, i), f"s-{i}", compact_after_deltas=4)
    # plant an aborted-commit orphan dir
    orphan_dir = os.path.join(t.root, "data", "v9999", "repo_bucket=0")
    os.makedirs(orphan_dir)
    orphan = os.path.join(orphan_dir, "part-junk.parquet")
    open(orphan, "w").write("junk")

    before = _disk_files(t.root)
    live_before = {r["path"]: r["content"] for r in t.read().collect()}
    current = t._snap().version
    prev_count = t.read(version=current - 1).count()

    # concurrent-writer guard: with the default min-age, fresh
    # unreferenced files (like an in-flight merge's) are SPARED
    res_guarded = t.expire_snapshots(keep_last=3)
    assert res_guarded["removed_files"] == 0
    assert orphan in _disk_files(t.root)

    # GC through a sloppily-spelled root (trailing slash) must still
    # match live files — path comparison is realpath-normalized
    from replicator_spark.laketable import LakeTable as LT

    res = LT(None, t.root + "/").expire_snapshots(keep_last=3, min_age_s=0)
    after = _disk_files(t.root)

    assert res["removed_files"] > 0
    assert orphan not in after  # orphans collected
    assert after < before
    # every retained snapshot's files survived; reads identical
    assert {r["path"]: r["content"] for r in t.read().collect()} == live_before
    # retained time travel still returns the exact pre-expiry row count
    assert t.read(version=current - 1).count() == prev_count
    import pytest

    with pytest.raises(FileNotFoundError):
        t.read(version=1)  # expired version is gone
    # a consumer pinned to an expired base gets a CLEAR error, and the
    # seq-watermark form still works without any old snapshot
    with pytest.raises(ValueError, match="expired"):
        t.read_changes(1)
    assert t.read_changes(since_seq=n - 3).count() == 2
    # exactly-once unaffected (ledger rides every snapshot)
    assert t.merge(_tiny_batch(spark, 0), "s-0").replayed
    # and the table still accepts new merges after GC
    t.merge(_tiny_batch(spark, n), f"s-{n}")
    assert t.read().count() == n + 1
    # keep_last=0 never expires the current snapshot
    t.expire_snapshots(keep_last=0, min_age_s=0)
    assert t.read().count() == n + 1


def test_expire_dangling_snapshot_does_not_occupy_keep_slot(spark, tmp_path):
    """VERDICT r02 #5: a crash-orphaned v{N}.json above the hint
    (aborted commit) must not displace a committed version from the
    keep window — keep_last counts COMMITTED versions only."""
    from replicator_spark import commitlog as cl

    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(REPOS_SCHEMA, num_buckets=2)
    for i in range(6):
        t.merge(_tiny_batch(spark, i), f"s-{i}")
    current = t._snap().version  # 6
    # torn commit: snapshot json written, hint never swapped
    snap = t._snap()
    cl._atomic_write(
        os.path.join(cl.meta_dir(t.root), f"v{current + 1}.json"),
        open(os.path.join(cl.meta_dir(t.root), f"v{current}.json")).read()
        .replace(f'"version": {current}', f'"version": {current + 1}'),
    )
    assert cl.current_version(t.root) == current  # hint untouched

    res = t.expire_snapshots(keep_last=3, min_age_s=0)
    retained_committed = [v for v in res["retained"] if v <= current]
    assert retained_committed == [current - 2, current - 1, current]
    # all three committed keep slots are readable
    for v in retained_committed:
        t.read(version=v).count()
    # the aged dangling orphan's metadata was collected
    assert not os.path.exists(
        os.path.join(cl.meta_dir(t.root), f"v{current + 1}.json")
    )


def _mini_snap(version, parent, files):
    return cl.Snapshot(
        version=version,
        parent=parent,
        schema_json="{}",
        num_buckets=2,
        files=files,
    )


def test_commit_cas_rejects_racing_writer(tmp_path):
    """VERDICT r03 missing #1: two writers that both read version N and
    race to commit N+1 must never silently lose a commit — the loser
    gets CommitConflictError and the winner's snapshot stands."""
    import pytest

    root = str(tmp_path / "t")
    cl.commit_snapshot(root, _mini_snap(0, None, {"0": [], "1": []}))
    cl.commit_snapshot(root, _mini_snap(1, 0, {"0": ["fa"], "1": []}))
    with pytest.raises(cl.CommitConflictError):
        cl.commit_snapshot(root, _mini_snap(1, 0, {"0": ["fb"], "1": []}))
    assert cl.current_version(root) == 1
    assert cl.load_snapshot(root).files["0"] == ["fa"]  # winner intact


def test_commit_replaces_aged_dangling_leftover(tmp_path):
    """Crash-between-steps recovery: a v{N}.json the hint never
    referenced and that is past the grace window is a dead leftover —
    a re-run commit of the same version replaces it."""
    import time

    root = str(tmp_path / "t")
    cl.commit_snapshot(root, _mini_snap(0, None, {"0": [], "1": []}))
    p = cl._snap_path(root, 1)
    cl._atomic_write(p, '{"torn": true}')  # crashed commit's leftover
    old = time.time() - 2 * cl.DANGLING_COMMIT_GRACE_S
    os.utime(p, (old, old))
    cl.commit_snapshot(root, _mini_snap(1, 0, {"0": ["fa"], "1": []}))
    assert cl.current_version(root) == 1
    assert cl.load_snapshot(root).files["0"] == ["fa"]


def test_commit_spares_fresh_unreferenced_snapshot(tmp_path):
    """A seconds-fresh unreferenced v{N}.json is presumed to be a
    concurrent writer between its CAS and hint swap — raise, don't
    clobber."""
    import pytest

    root = str(tmp_path / "t")
    cl.commit_snapshot(root, _mini_snap(0, None, {"0": [], "1": []}))
    p = cl._snap_path(root, 1)
    cl._atomic_write(p, '{"in_flight": true}')
    with pytest.raises(cl.CommitConflictError):
        cl.commit_snapshot(root, _mini_snap(1, 0, {"0": ["fa"], "1": []}))
    assert open(p).read() == '{"in_flight": true}'  # untouched
    assert cl.current_version(root) == 0


def test_compact_retries_on_conflicting_ingest_commit(spark, tmp_path, monkeypatch):
    """The canonical race: a maintenance compact cron vs the ingest
    writer. The ingest commit sneaks in between compact's snapshot read
    and its commit; compact's CAS loses, and the retry re-runs against
    the new current snapshot. BOTH commits land — nothing vanishes."""
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(REPOS_SCHEMA, num_buckets=2)
    for i in range(6):
        t.merge(_tiny_batch(spark, i), f"s-{i}")
    v_before = t._snap().version

    orig = cl.commit_snapshot
    state = {"raced": False}

    def racy(root, snap):
        if not state["raced"] and (snap.props or {}).get("compaction"):
            state["raced"] = True
            t.merge(_tiny_batch(spark, 99), "s-99")
        return orig(root, snap)

    monkeypatch.setattr(cl, "commit_snapshot", racy)
    t.compact()
    assert state["raced"]
    # ingest commit survived the race AND the compaction landed
    assert t.read().count() == 7
    assert {r["path"] for r in t.read().collect()} >= {"p99", "p0"}
    assert t._snap().version == v_before + 2  # merge + retried compact
    assert not any((t._snap().props or {}).get("deltas", {}).values())
    # exactly-once intact across the conflict/retry
    assert t.merge(_tiny_batch(spark, 99), "s-99").replayed


def test_expire_spares_young_dangling_snapshot(spark, tmp_path):
    """A too-young orphan above the hint could be a commit racing the
    GC — its v{N}.json is spared by the min_age guard."""
    from replicator_spark import commitlog as cl

    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(REPOS_SCHEMA, num_buckets=2)
    for i in range(3):
        t.merge(_tiny_batch(spark, i), f"s-{i}")
    current = t._snap().version
    p = os.path.join(cl.meta_dir(t.root), f"v{current + 1}.json")
    cl._atomic_write(
        p, open(os.path.join(cl.meta_dir(t.root), f"v{current}.json")).read()
    )
    t.expire_snapshots(keep_last=2, min_age_s=600)
    assert os.path.exists(p)  # young orphan spared

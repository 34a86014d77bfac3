"""Incremental embedding near-dup index (ops/incremental_embed):
verified-pair equality with the exact all-pairs baseline, the
exact-pile terminal star, ledger replay across the two-table commit,
and arrival-order enforcement."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from replicator_spark.ops.incremental_embed import (
    EmbeddingIndex,
    replay_embeddings_incremental,
)
from replicator_spark.ops.similarity import cosine_near_dup_blocked

DIM = 32
N = 60


def _df(spark, mat, ids=None):
    ids = ids if ids is not None else range(len(mat))
    rows = [(int(i), [float(x) for x in v]) for i, v in zip(ids, mat)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@pytest.fixture(scope="module")
def planted(spark):
    """Near-orthogonal gaussians + planted near-copies: every %10 id
    gets a +0.02-perturbed copy at id+1000 (cos ≈ 0.999)."""
    rng = np.random.default_rng(31)
    base = rng.normal(size=(N, DIM)).astype("float64")
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    ids = list(range(N))
    copies = []
    for i in range(0, N, 10):
        v = base[i].copy()
        v[0] += 0.02
        copies.append((i + 1000, v / np.linalg.norm(v)))
    mat = np.vstack([base] + [c[1][None, :] for c in copies])
    ids += [c[0] for c in copies]
    return _df(spark, mat, ids)


def test_incremental_matches_exact_allpairs(spark, planted, tmp_path):
    inc = replay_embeddings_incremental(
        spark, planted, str(tmp_path / "idx"), dim=DIM, n_batches=3,
        tau=0.95, num_buckets=4,
    )
    got = {(r["id_a"], r["id_b"]): r["cos"] for r in inc.collect()}
    exact = cosine_near_dup_blocked(planted, threshold=0.95)
    want = {(r["id_a"], r["id_b"]): r["cos"] for r in exact.collect()}
    assert set(got) == set(want)
    assert len(want) >= 6  # the planted families are actually in play
    for k in want:
        assert abs(got[k] - want[k]) < 2e-4, k


def test_exact_pile_terminal_star(spark, tmp_path):
    """An exact-duplicate pile survives every refinement split; the
    terminal fallback probes the pile minimum only — O(1) per new
    vector — and every probe verifies at cos 1.0."""
    v = np.ones(DIM) / np.sqrt(DIM)
    pile = _df(spark, np.tile(v, (30, 1)))
    idx = EmbeddingIndex(
        spark, str(tmp_path / "idx"), dim=DIM, max_bucket=5, tau=0.99
    ).create(num_buckets=4)
    pairs = idx.add_batch(pile, "b0")
    got = sorted((r["id_a"], r["id_b"]) for r in pairs.collect())
    want = sorted(
        [(j, i) for i in range(1, 6) for j in range(i)]
        + [(0, i) for i in range(6, 30)]
    )
    assert got == want
    assert all(r["cos"] == 1.0 for r in pairs.collect())


def test_replay_noop_across_two_tables(spark, planted, tmp_path):
    idx = EmbeddingIndex(spark, str(tmp_path / "idx"), dim=DIM).create(
        num_buckets=4
    )
    first = idx.add_batch(planted, "b0")
    assert first.count() > 0
    st = idx.stats()
    assert idx.add_batch(planted, "b0") is None
    assert idx.stats() == st


def test_vectors_committed_bands_not_recovers(spark, planted, tmp_path):
    """Crash between the two merges: vectors committed, bands not.
    The re-run replays the vectors merge as a ledger no-op, completes
    the bands merge, and still returns the pairs."""
    idx = EmbeddingIndex(spark, str(tmp_path / "idx"), dim=DIM).create(
        num_buckets=4
    )
    pre = idx._prepared(planted, "vec_id", "embedding")
    idx.vectors.merge(
        pre.select("vec_id", "v").dropDuplicates(["vec_id"]).select(
            "vec_id", "v", F.col("vec_id").alias("seq"), F.lit("upsert").alias("op")
        ),
        "b0",
    )
    assert idx.bands.is_committed("b0") is None
    pairs = idx.add_batch(planted, "b0")
    assert pairs is not None and pairs.count() > 0
    assert idx.bands.is_committed("b0") is not None


def test_out_of_order_batch_raises(spark, planted, tmp_path):
    idx = EmbeddingIndex(spark, str(tmp_path / "idx"), dim=DIM).create(
        num_buckets=4
    )
    idx.add_batch(planted.where(F.col("vec_id") >= 1000), "b0")
    with pytest.raises(ValueError, match="arrival order"):
        idx.add_batch(planted.where(F.col("vec_id") < 100), "b1")


def test_plans_arrow_only(spark, planted, tmp_path):
    idx = EmbeddingIndex(spark, str(tmp_path / "idx"), dim=DIM).create(
        num_buckets=4
    )
    prep = idx._prepared(planted, "vec_id", "embedding")
    plan = prep._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan
    pairs = idx.add_batch(planted, "b0")
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the candidate join is keyed on band_key and the verify joins on
    # ids — never a cross product; the cap policy runs inside the
    # per-bucket grouped-Arrow kernel (r6), never row-at-a-time Python
    assert "CartesianProduct" not in plan
    assert "MapInPandas" in plan


def test_embed_stream_end_to_end(spark, planted, tmp_path):
    """Streaming drain over a 2-batch vector feed: landed pair files
    equal the batch replay, and a checkpointed restart re-merges
    nothing."""
    from replicator_spark.ops.incremental_embed import run_embed_index_stream

    feed = str(tmp_path / "feed")
    for b, (lo, hi) in enumerate([(0, 45), (45, 2000)]):
        (
            planted.where((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
            .withColumn("batch_id", F.lit(b))
            .repartition(1)
            .write.mode("overwrite")
            .parquet(f"{feed}/batch_id={b}")
        )
    kw = dict(
        index_root=str(tmp_path / "idx"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        pairs_dir=str(tmp_path / "pairs"),
        dim=DIM,
        num_buckets=4,
    )
    q = run_embed_index_stream(spark, feed, **kw)
    q.awaitTermination(120)
    got = sorted(
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(str(tmp_path / "pairs")).collect()
    )
    exact = cosine_near_dup_blocked(planted, threshold=0.95)
    assert got == sorted((r["id_a"], r["id_b"]) for r in exact.collect())
    idx = EmbeddingIndex(spark, str(tmp_path / "idx"), dim=DIM)
    v = idx.bands._snap().version
    q2 = run_embed_index_stream(spark, feed, **kw)
    q2.awaitTermination(120)
    assert idx.bands._snap().version == v

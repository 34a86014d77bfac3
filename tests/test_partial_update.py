"""$set / UpdateFields partial-update merge (reference
``pkg/estuary/mongo.go:345-347``, ``pkg/models/models.go:37``): an
update carrying only changed fields coalesces per column with the
target row instead of nulling untouched columns — over delta chains and
base files, through the intra-batch collapse, and end-to-end through
apply_batch."""

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from replicator_spark.dedup import lww_collapse_partial
from replicator_spark.laketable import LakeTable
from replicator_spark.model import REPOS_SCHEMA


def _row(seq, op, partial, content=None, lang=None, repo="r1", path="p1", commit="c1"):
    return Row(
        repo=repo, path=path, commit=commit, lang=lang, content=content,
        seq=seq, op=op, event_id=f"e{seq}", _partial=partial,
    )


FLAT_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("content", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("event_id", T.StringType()),
        T.StructField("_partial", T.BooleanType()),
    ]
)


def _df(spark, rows):
    return spark.createDataFrame(rows, FLAT_SCHEMA)


KEYS = ["repo", "path", "commit"]


def test_collapse_partial_per_column_last_toucher(spark):
    df = _df(
        spark,
        [
            _row(1, "insert", False, content="v1", lang="py"),
            _row(2, "update", True, content="v2"),  # touches content only
            _row(3, "update", True, lang="go"),  # touches lang only
        ],
    )
    out = lww_collapse_partial(df, KEYS).first()
    assert out["seq"] == 3 and out["op"] == "update"
    assert out["content"] == "v2" and out["lang"] == "go"
    assert out["_partial"] is False  # group held a full image


def test_collapse_delete_resets_columns(spark):
    df = _df(
        spark,
        [
            _row(1, "insert", False, content="v1", lang="py"),
            # a delete that carries its before image (binlog, pgoutput)
            _row(2, "delete", False, content="v1", lang="py"),
            _row(3, "update", True, content="v3"),
        ],
    )
    out = lww_collapse_partial(df, KEYS).first()
    # delete touched every column with null, whatever image it carried;
    # only the later partial set content
    assert out["content"] == "v3" and out["lang"] is None
    assert out["op"] == "update" and out["_partial"] is False


def test_collapse_all_partial_stays_partial(spark):
    df = _df(
        spark,
        [
            _row(5, "update", True, content="v5"),
            _row(6, "update", True, lang="go"),
        ],
    )
    out = lww_collapse_partial(df, KEYS).first()
    assert out["_partial"] is True
    assert out["content"] == "v5" and out["lang"] == "go"


def _merger(spark, t, compacted):
    """``t.merge`` of rows; ``compacted`` folds every merge into base
    files, so a partial upgrades against base files, not delta chains."""
    def merge(rows, key):
        t.merge(_df(spark, rows), key)
        if compacted:
            t.compact()
    return merge


@pytest.mark.parametrize("compacted", [False, True], ids=["mor", "compacted"])
def test_merge_partial_preserves_untouched_columns(spark, tmp_path, compacted):
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(REPOS_SCHEMA, num_buckets=4)
    merge = _merger(spark, t, compacted)
    merge([_row(1, "insert", False, content="v1", lang="py")], "b-0")
    # partial update: sets content only — lang must survive
    merge([_row(2, "update", True, content="v2")], "b-1")
    r = t.read().first()
    assert r["content"] == "v2" and r["lang"] == "py"

    # stale partial (older seq) is a no-op
    merge([_row(1, "update", True, lang="rb")], "b-2")
    r = t.read().first()
    assert r["lang"] == "py" and r["content"] == "v2"


@pytest.mark.parametrize("compacted", [False, True], ids=["mor", "compacted"])
def test_partial_after_delete_upserts_only_its_fields(spark, tmp_path, compacted):
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(REPOS_SCHEMA, num_buckets=4)
    merge = _merger(spark, t, compacted)
    merge([_row(1, "insert", False, content="secret", lang="py")], "b-0")
    merge([_row(2, "delete", False)], "b-1")
    assert t.read().count() == 0
    merge([_row(3, "update", True, lang="go")], "b-2")
    r = t.read().first()
    # tombstoned values must NOT be resurrected by the coalesce
    assert r["lang"] == "go" and r["content"] is None


def test_mor_partial_survives_compaction(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(REPOS_SCHEMA, num_buckets=4)
    t.merge(_df(spark, [_row(1, "insert", False, content="v1", lang="py")]), "b-0")
    t.merge(_df(spark, [_row(2, "update", True, content="v2")]), "b-1")
    t.compact()
    r = t.read().first()
    assert r["content"] == "v2" and r["lang"] == "py"


def test_apply_batch_partial_end_to_end(spark, tmp_path):
    """Full path: canonical events with meta.partial → normalize →
    collapse → merge. Two batches, cross-batch and intra-batch cases."""
    from replicator_spark.pipeline import apply_batch

    raw_schema = (
        "event_id string, seq long, op string, "
        "key struct<repo:string,path:string,commit:string>, doc string, "
        "meta map<string,string>"
    )
    full = {}
    part = {"partial": "true"}
    b0 = spark.createDataFrame(
        [
            ("e1", 1, "insert", ("r1", "p1", "c1"), '{"lang":"py","content":"v1"}', full),
            ("e2", 2, "insert", ("r1", "p2", "c1"), '{"lang":"go","content":"w1"}', full),
        ],
        raw_schema,
    )
    b1 = spark.createDataFrame(
        [
            # intra-batch: full image then partial touch-up
            ("e3", 3, "update", ("r1", "p1", "c1"), '{"lang":"rs","content":"v3"}', full),
            ("e4", 4, "update", ("r1", "p1", "c1"), '{"content":"v4"}', part),
            # cross-batch: partial against batch-0 image
            ("e5", 5, "update", ("r1", "p2", "c1"), '{"content":"w5"}', part),
        ],
        raw_schema,
    )
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(REPOS_SCHEMA, num_buckets=4)
    apply_batch(t, b0, "s-0", mode="mor", partial_updates=True, write_metrics=False)
    apply_batch(t, b1, "s-1", mode="mor", partial_updates=True, write_metrics=False)
    rows = {(r["repo"], r["path"]): r for r in t.read().collect()}
    assert rows[("r1", "p1")]["content"] == "v4"
    assert rows[("r1", "p1")]["lang"] == "rs"
    assert rows[("r1", "p2")]["content"] == "w5"
    assert rows[("r1", "p2")]["lang"] == "go"


def test_partial_update_with_type_widened_column(spark, tmp_path):
    """Type widening composing with $set partials: after stars widens
    long→string, a partial batch (string-typed stars in the batch,
    long-typed stars in the pre-widening base files) must upgrade
    against the grouped-scan read and coalesce per column — no nulled
    untouched columns, no cast error."""
    stars_schema = T.StructType(
        list(REPOS_SCHEMA.fields) + [T.StructField("stars", T.LongType(), True)]
    )
    wide = T.StructType(
        list(FLAT_SCHEMA.fields[:5])
        + [T.StructField("stars", T.StringType(), True)]
        + list(FLAT_SCHEMA.fields[5:])
    )

    def row(seq, op, partial, *, content=None, lang=None, stars=None, path="p1"):
        return Row(
            repo="r1", path=path, commit="c1", lang=lang, content=content,
            stars=stars, seq=seq, op=op, event_id=f"e{seq}", _partial=partial,
        )

    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(stars_schema, num_buckets=2)
    # batch 0: full images, long-typed stars
    b0 = spark.createDataFrame(
        [
            Row(repo="r1", path="p1", commit="c1", lang="py", content="v1",
                stars=7, seq=1, op="insert", event_id="e1"),
            Row(repo="r1", path="p2", commit="c1", lang="go", content="w1",
                stars=3, seq=2, op="insert", event_id="e2"),
        ]
    )
    t.merge(b0, "s-0")
    t.compact()  # the long-typed rows now live in base files
    # batch 1: string-typed stars (widens the table) + a PARTIAL that
    # touches only stars for p1 — lang/content must survive from the
    # long-typed base file via the partial fold
    b1 = spark.createDataFrame(
        [row(3, "update", True, stars="five")], wide
    )
    st = t.merge(b1, "s-1")
    assert st.schema_evolved == 1
    live = {r["path"]: r for r in t.read().collect()}
    assert live["p1"]["stars"] == "five"
    assert live["p1"]["lang"] == "py" and live["p1"]["content"] == "v1"
    assert live["p2"]["stars"] == "3"  # old long read under string
    # and a later full image over the widened column still works, also
    # once compaction folds it into the pre-widening base file
    b2 = spark.createDataFrame(
        [row(4, "update", False, content="v2", lang="py", stars="six")], wide
    )
    t.merge(b2, "s-2")
    t.compact()
    live = {r["path"]: r for r in t.read().collect()}
    assert live["p1"]["stars"] == "six" and live["p1"]["content"] == "v2"

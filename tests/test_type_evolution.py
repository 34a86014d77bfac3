"""Type-conflict schema evolution (VERDICT r02 missing #1): a payload
field whose JSON type changes mid-stream (int→string, scalar→object)
must be captured losslessly — widened to string via the same pre-commit
abort-and-retry as additive evolution — never silently nulled by
from_json. Existing files keep their physical type; the read path
resolves them through per-file schema ids (Iceberg-style), and
compaction migrates files forward incrementally.

Reference context: the reference never parses payloads (opaque JSON
bytes end-to-end, ``pkg/events/events.go:27``), so it cannot hit this;
we parse, so we own it."""

from pyspark.sql import functions as F
from pyspark.sql import types as T

from replicator_spark.laketable import LakeTable
from replicator_spark.model import REPOS_SCHEMA
from replicator_spark.pipeline import SchemaTracker, apply_batch, infer_payload_schema

from .test_schema_tracker import RAW_SCHEMA, _batch

STARS_SCHEMA = T.StructType(
    list(REPOS_SCHEMA.fields) + [T.StructField("stars", T.LongType(), True)]
)


def test_infer_widens_intra_sample_conflicts(spark):
    df = spark.createDataFrame(
        [('{"x": 1}',), ('{"x": "two"}',), ('{"y": 3}',), ('{"z": null}',)],
        ["doc"],
    ).coalesce(1)
    sch = {f.name: f.dataType for f in infer_payload_schema(df).fields}
    assert sch["x"] == T.StringType()  # conflicting sample → string
    assert sch["y"] == T.LongType()
    assert sch["z"] == T.StringType()  # all-null stays the string carrier


def _doc_int(s):
    return f'{{"lang":"py","content":"c{s}","stars":{s % 7}}}'


def _doc_str(s):
    return f'{{"lang":"py","content":"c{s}","stars":"s{s % 7}"}}'


def _roundtrip(spark, tmp_path):
    table = LakeTable(spark, str(tmp_path / "t"))
    table.create(STARS_SCHEMA, num_buckets=4)
    tr = SchemaTracker()

    b0 = _batch(spark, range(300), _doc_int)
    r0 = apply_batch(table, b0, "s-0", schema_tracker=tr,
                     write_metrics=False)
    assert r0.schema_retries == 0
    assert dict((f.name, f.dataType) for f in table.schema().fields)[
        "stars"
    ] == T.LongType()

    # mid-stream type flip: stars becomes a string — only the tail of
    # the batch, far outside any head sample
    def doc1(s):
        return _doc_str(s) if s >= 550 else _doc_int(s)

    b1 = _batch(spark, range(300, 600), doc1)
    r1 = apply_batch(table, b1, "s-1", schema_tracker=tr,
                     write_metrics=False)
    assert r1.schema_retries == 1, "conflict must trigger the widening retry"
    assert dict((f.name, f.dataType) for f in table.schema().fields)[
        "stars"
    ] == T.StringType()

    live = table.read()
    # NOTHING nulled: every live row still carries a stars value
    assert live.where("stars IS NULL").count() == 0
    # old longs survive as their decimal text, new strings verbatim
    assert live.where("stars = 's3'").count() > 0
    assert live.where("stars = '3'").count() > 0
    return table, tr


def test_int_to_string_roundtrip_mor(spark, tmp_path):
    table, tr = _roundtrip(spark, tmp_path)
    # compaction migrates old-typed files to the current schema
    table.compact()
    snap = table._snap()
    live = table.read()
    assert live.where("stars IS NULL").count() == 0
    assert live.where("stars = 's3'").count() > 0
    # post-compaction: compacted buckets' files carry the current schema id
    cur = snap.props["schema_id"]
    compacted = {f for fs in snap.files.values() for f in fs}
    assert all(snap.file_schema_ids.get(f) == cur for f in compacted)

    # a third batch with string stars applies with no further retry
    b2 = _batch(spark, range(600, 700), _doc_str)
    r2 = apply_batch(table, b2, "s-2", schema_tracker=tr, mode="mor",
                     write_metrics=False)
    assert r2.schema_retries == 0
    assert table.read().where("stars IS NULL").count() == 0


def test_scalar_to_object_conflict(spark, tmp_path):
    """scalar → nested object: the object's JSON text is captured."""
    table = LakeTable(spark, str(tmp_path / "t"))
    table.create(STARS_SCHEMA, num_buckets=4)
    tr = SchemaTracker()
    apply_batch(table, _batch(spark, range(100), _doc_int), "s-0",
                schema_tracker=tr, mode="mor", write_metrics=False)

    def doc1(s):
        return f'{{"lang":"py","content":"c{s}","stars":{{"n":{s}}}}}'

    r1 = apply_batch(table, _batch(spark, range(100, 150), doc1), "s-1",
                     schema_tracker=tr, mode="mor", write_metrics=False)
    assert r1.schema_retries == 1
    live = table.read()
    assert live.where("stars IS NULL").count() == 0
    assert live.where(F.col("stars").startswith('{"n":')).count() == 50


def test_time_travel_across_type_widening(spark, tmp_path):
    """Reading the PRE-widening snapshot still returns the old types."""
    table = LakeTable(spark, str(tmp_path / "t"))
    table.create(STARS_SCHEMA, num_buckets=4)
    tr = SchemaTracker()
    apply_batch(table, _batch(spark, range(100), _doc_int), "s-0",
                schema_tracker=tr, mode="mor", write_metrics=False)
    v_old = table._snap().version
    apply_batch(table, _batch(spark, range(100, 200), _doc_str), "s-1",
                schema_tracker=tr, mode="mor", write_metrics=False)

    old = table.read(version=v_old)
    assert dict((f.name, f.dataType) for f in old.schema.fields)[
        "stars"
    ] == T.LongType()
    assert old.where("stars IS NULL").count() == 0
    new = table.read()
    assert dict((f.name, f.dataType) for f in new.schema.fields)[
        "stars"
    ] == T.StringType()


def test_long_to_double_widens_numeric(spark, tmp_path):
    """Numerically-compatible conflicts (int field starts carrying
    floats) widen long→double, NOT string — downstream aggregations
    and range predicates stay numeric."""
    table = LakeTable(spark, str(tmp_path / "t"))
    table.create(STARS_SCHEMA, num_buckets=4)
    tr = SchemaTracker()
    apply_batch(table, _batch(spark, range(200), _doc_int), "s-0",
                schema_tracker=tr, mode="mor", write_metrics=False)

    def doc1(s):
        return (f'{{"lang":"py","content":"c{s}","stars":{s % 7}.5}}'
                if s >= 350 else _doc_int(s))

    r1 = apply_batch(table, _batch(spark, range(200, 400), doc1), "s-1",
                     schema_tracker=tr, mode="mor", write_metrics=False)
    assert r1.schema_retries == 1
    assert dict((f.name, f.dataType) for f in table.schema().fields)[
        "stars"
    ] == T.DoubleType()
    live = table.read()
    assert live.where("stars IS NULL").count() == 0
    # numeric semantics survive: aggregation works, halves present
    assert live.where("stars = 3.5").count() > 0
    assert live.agg(F.sum("stars")).first()[0] > 0

    # a LATER incompatible value escalates double → string
    def doc2(s):
        return f'{{"lang":"py","content":"c{s}","stars":"wow"}}'

    r2 = apply_batch(table, _batch(spark, range(400, 420), doc2), "s-2",
                     schema_tracker=tr, mode="mor", write_metrics=False)
    assert r2.schema_retries == 1
    assert dict((f.name, f.dataType) for f in table.schema().fields)[
        "stars"
    ] == T.StringType()
    live = table.read()
    assert live.where("stars IS NULL").count() == 0
    # three physical generations (long, double, string files) all read
    assert live.where("stars = 'wow'").count() == 20
    assert live.where("stars = '3.5'").count() > 0


def test_infer_prefers_numeric_supertype(spark):
    df = spark.createDataFrame(
        [('{"x": 1}',), ('{"x": 2.5}',)], ["doc"]
    ).coalesce(1)
    sch = {f.name: f.dataType for f in infer_payload_schema(df).fields}
    assert sch["x"] == T.DoubleType()


def test_quoted_numeric_string_goes_straight_to_string(spark, tmp_path):
    """A QUOTED "3.5" casts to double but from_json(DoubleType) still
    nulls it — the widener must ask from_json itself and pick string in
    ONE retry, not burn a retry on a double that also nulls."""
    table = LakeTable(spark, str(tmp_path / "t"))
    table.create(STARS_SCHEMA, num_buckets=4)
    tr = SchemaTracker()
    apply_batch(table, _batch(spark, range(100), _doc_int), "s-0",
                schema_tracker=tr, mode="mor", write_metrics=False)

    def doc1(s):
        return f'{{"lang":"py","content":"c{s}","stars":"{s % 7}.5"}}'

    r1 = apply_batch(table, _batch(spark, range(100, 150), doc1), "s-1",
                     schema_tracker=tr, mode="mor", write_metrics=False)
    assert r1.schema_retries == 1, "must converge in ONE widening retry"
    assert dict((f.name, f.dataType) for f in table.schema().fields)[
        "stars"
    ] == T.StringType()
    live = table.read()
    assert live.where("stars IS NULL").count() == 0
    assert live.where("stars = '3.5'").count() > 0


def test_long_batch_into_double_column_is_not_phantom_evolution(spark, tmp_path):
    """A long-typed batch merging into an already-double column casts
    but must NOT report schema_evolved or bump the schema id."""
    from pyspark.sql import Row

    wide = T.StructType(
        list(REPOS_SCHEMA.fields) + [T.StructField("stars", T.DoubleType(), True)]
    )
    table = LakeTable(spark, str(tmp_path / "t"))
    table.create(wide, num_buckets=4)

    def batch(i, stars_long):
        return spark.createDataFrame(
            [Row(repo="r", path=f"p{i}", commit="c", lang="py",
                 content="x", stars=stars_long, seq=i, op="insert",
                 event_id=f"e{i}")]
        )

    st = table.merge(batch(1, 5), "s-1")
    assert st.schema_evolved == 0
    sid_before = table._snap().props["schema_id"]
    st2 = table.merge(batch(2, 7), "s-2")
    assert st2.schema_evolved == 0
    assert table._snap().props["schema_id"] == sid_before
    assert dict((f.name, f.dataType) for f in table.schema().fields)[
        "stars"
    ] == T.DoubleType()
    assert table.read().where("stars = 5.0").count() == 1

"""EventFilter (filters.py): the reference's declared-only filter struct
(``pkg/models/types.go:218-236``) compiled to one pushdown-friendly
predicate — clause semantics, config round-trip, jq custom filter, and
the end-to-end replay path."""

import pytest
from pyspark.sql import functions as F

from replicator_spark.feedgen import gen_changes, write_feed
from replicator_spark.filters import EventFilter, FieldFilter
from replicator_spark.functions.jq import JqError
from replicator_spark.laketable import LakeTable
from replicator_spark.model import REPOS_SCHEMA
from replicator_spark.pipeline import replay_feed

from .conftest import formatted_plan


@pytest.fixture(scope="module")
def events(spark):
    return gen_changes(spark, 3000, n_repos=10, paths_per_repo=40, n_batches=3)


def test_operation_include_exclude(spark, events):
    inc = EventFilter(include_operations=["insert"]).apply(events)
    assert inc.select("op").distinct().collect()[0].op == "insert"
    exc = EventFilter(exclude_operations=["delete"]).apply(events)
    ops = {r.op for r in exc.select("op").distinct().collect()}
    assert "delete" not in ops and "insert" in ops
    assert inc.count() + exc.count() < events.count() + exc.count()


def test_database_collection_clauses(spark, events):
    # feedgen stamps db='srcdb', tbl='repos'
    assert EventFilter(include_databases=["srcdb"]).apply(events).count() == events.count()
    assert EventFilter(include_databases=["other"]).apply(events).count() == 0
    assert EventFilter(exclude_collections=["repos"]).apply(events).count() == 0
    assert (
        EventFilter(exclude_collections=["nope"]).apply(events).count()
        == events.count()
    )


def test_field_filter_doc_path_typed(spark, events):
    # doc JSON carries lang; string eq on a doc path
    f = EventFilter(field_filters=[FieldFilter("lang", "eq", "py")])
    got = f.apply(events)
    n_py = events.where(
        F.get_json_object("doc", "$.lang") == "py"
    ).count()
    assert got.count() == n_py > 0


def test_field_filter_exclude_keeps_nulls(spark, events):
    # include=False drops MATCHES; rows where the field is absent
    # (delete events have doc='{}') must be KEPT — absence is not a match
    f = EventFilter(field_filters=[FieldFilter("lang", "eq", "py", include=False)])
    got = f.apply(events)
    n_deletes = events.where(F.col("op") == "delete").count()
    assert got.where(F.col("op") == "delete").count() == n_deletes > 0
    assert got.where(F.get_json_object("doc", "$.lang") == "py").count() == 0


def test_field_filter_on_canonical_column(spark, events):
    f = EventFilter(field_filters=[FieldFilter("seq", "lt", 100)])
    assert f.apply(events).count() == events.where(F.col("seq") < 100).count()
    f2 = EventFilter(field_filters=[FieldFilter("key.repo", "in",
                                                ["repo-0000", "repo-0001"])])
    assert f2.apply(events).count() == events.where(
        F.col("key.repo").isin("repo-0000", "repo-0001")
    ).count() > 0


def test_custom_filter_jq(spark, events):
    f = EventFilter(custom_filter='(.op == "insert") and (.seq > 500)')
    want = events.where((F.col("op") == "insert") & (F.col("seq") > 500)).count()
    assert f.apply(events).count() == want > 0
    # full select(...) form also accepted
    f2 = EventFilter(custom_filter='select(.op == "insert")')
    assert f2.apply(events).count() == events.where(F.col("op") == "insert").count()
    with pytest.raises(JqError, match="filter-only"):
        EventFilter(custom_filter="{op}").predicate()


def test_custom_filter_javascript(spark, events):
    """types.go:226 declares CustomFilter as a JavaScript expression —
    custom_filter_lang='javascript' runs exactly that shape, compiled
    driver-side (functions/js.py), JS truthiness included."""
    from replicator_spark.functions.js import JsError

    f = EventFilter(
        custom_filter='row.op === "insert" && row.seq > 500',
        custom_filter_lang="javascript",
    )
    want = events.where((F.col("op") == "insert") & (F.col("seq") > 500)).count()
    assert f.apply(events).count() == want > 0
    # JS truthiness: a string-valued expression keeps non-empty rows
    f2 = EventFilter(custom_filter="row.db", custom_filter_lang="javascript")
    want2 = events.where(F.col("db").isNotNull() & (F.length("db") > 0)).count()
    assert f2.apply(events).count() == want2 > 0
    with pytest.raises(JsError, match="boolean expression"):
        EventFilter(
            custom_filter="({ op: row.op })", custom_filter_lang="javascript"
        ).predicate()
    # structural validate() catches language typos and bad programs
    assert EventFilter(
        custom_filter="row.op", custom_filter_lang="js"
    ).validate()
    assert EventFilter(
        custom_filter="row.op ==", custom_filter_lang="javascript"
    ).validate()
    assert not EventFilter(
        custom_filter='row.op === "insert"', custom_filter_lang="javascript"
    ).validate()


def test_clauses_conjoin(spark, events):
    f = EventFilter(
        include_operations=["insert", "update"],
        field_filters=[FieldFilter("seq", "gte", 100)],
        custom_filter=".seq < 2000",
    )
    want = events.where(
        F.col("op").isin("insert", "update")
        & (F.col("seq") >= 100) & (F.col("seq") < 2000)
    ).count()
    assert f.apply(events).count() == want > 0


def test_from_dict_roundtrip_and_unknown_key(spark, events):
    d = {
        "include_operations": ["insert"],
        "field_filters": [{"field": "seq", "operator": "lt", "value": 500}],
        "custom_filter": '.db == "srcdb"',
    }
    f = EventFilter.from_dict(d)
    want = events.where(
        (F.col("op") == "insert") & (F.col("seq") < 500)
    ).count()
    assert f.apply(events).count() == want > 0
    with pytest.raises(ValueError, match="unknown keys"):
        EventFilter.from_dict({"include_ops": ["x"]})


def test_replay_with_event_filter(spark, events, tmp_path):
    """End-to-end: a filtered replay applies only matching events, and
    the final state equals replaying a pre-filtered feed."""
    feed_all = str(tmp_path / "fa")
    feed_pre = str(tmp_path / "fp")
    write_feed(events, feed_all)
    write_feed(events.where(F.col("op") != "delete"), feed_pre)
    ef = EventFilter(exclude_operations=["delete"])

    t1 = LakeTable(spark, str(tmp_path / "t1"))
    t1.create(REPOS_SCHEMA, num_buckets=4)
    replay_feed(spark, feed_all, t1, event_filter=ef, write_metrics=False)

    t2 = LakeTable(spark, str(tmp_path / "t2"))
    t2.create(REPOS_SCHEMA, num_buckets=4)
    replay_feed(spark, feed_pre, t2, write_metrics=False)

    a = sorted(map(tuple, t1.read().collect()))
    b = sorted(map(tuple, t2.read().collect()))
    assert a == b and a


def test_filter_pushdown_to_feed_scan(spark, events, tmp_path):
    """The op clause must reach the parquet scan of the feed."""
    feed = str(tmp_path / "f")
    write_feed(events, feed)
    df = EventFilter(include_operations=["insert"]).apply(
        spark.read.parquet(f"{feed}/batch_id=0")
    )
    plan = formatted_plan(df)
    assert "PushedFilters: [" in plan
    assert "In(op" in plan or "EqualTo(op,insert)" in plan, plan[:1500]


def test_config_builds_filter(spark):
    from replicator_spark.cli import JobConfig, _build_filter

    cfg = JobConfig(name="j", feed_dir="x", table_root="y",
                    event_filter={"include_operations": ["insert"]})
    assert _build_filter(cfg) is not None
    assert _build_filter(JobConfig(name="j", feed_dir="x", table_root="y")) is None
    bad = JobConfig(name="j", feed_dir="x", table_root="y",
                    event_filter={"custom_filter": "{op}"})
    with pytest.raises(JqError):
        _build_filter(bad)

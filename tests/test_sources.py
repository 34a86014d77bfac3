"""Source normalizer + vectorized kernel tests (FIXTURES.md F4)."""

import json

from pyspark.sql import functions as F

from replicator_spark.functions import decode_extended_json
from replicator_spark.sources import (
    from_kafka_messages,
    from_mongo_events,
    from_mysql_rows,
    from_pg_tuples,
)


def test_mysql_positional_rows(spark):
    df = spark.createDataFrame(
        [('["1","jo","jo@x.com"]', "insert")], "row_json string, op string"
    )
    out = from_mysql_rows(df, ["id", "name", "email"])
    doc = json.loads(out.first()["doc"])
    assert doc == {"id": "1", "name": "jo", "email": "jo@x.com"}


def test_pg_tuples_with_rename(spark):
    df = spark.createDataFrame(
        [({"col_0": "7", "col_1": "abc"}, "relation_42")],
        "tuple map<string,string>, tbl string",
    )
    out = from_pg_tuples(df, rename={"col_0": "id", "col_1": "body"})
    assert json.loads(out.first()["doc"]) == {"id": "7", "body": "abc"}


def test_pg_tuples_raw(spark):
    df = spark.createDataFrame(
        [({"col_0": "7"}, "relation_1")], "tuple map<string,string>, tbl string"
    )
    assert json.loads(from_pg_tuples(df).first()["doc"]) == {"col_0": "7"}


def test_kafka_defaults_and_skip(spark):
    df = spark.createDataFrame(
        [
            ('{"action":"update","schema":"s1","collection":"c1","data":"{}"}', "t"),
            ('{"data":"{\\"x\\":1}"}', "topic-a"),
            ("not json at all", "t"),
        ],
        "value string, topic string",
    )
    rows = from_kafka_messages(df).orderBy("topic").collect()
    assert len(rows) == 2  # non-JSON skipped, like the reference
    by_topic = {r["topic"]: r for r in rows}
    assert by_topic["t"]["op"] == "update" and by_topic["t"]["db"] == "s1"
    assert by_topic["topic-a"]["op"] == "insert"
    assert by_topic["topic-a"]["db"] == "srcdb"
    assert by_topic["topic-a"]["tbl"] == "topic-a"


def test_mongo_fallback_fetch(spark):
    events = spark.createDataFrame(
        [
            ({"repo": "r", "path": "p", "commit": "c"}, "update", None, "coll", 5),
            ({"repo": "r", "path": "p2", "commit": "c"}, "insert", '{"a":1}', "coll", 6),
            ({"repo": "r", "path": "p", "commit": "c"}, "delete", None, "coll", 7),
        ],
        "documentKey struct<repo:string,path:string,commit:string>, "
        "operationType string, fullDocument string, ns_coll string, seq long",
    )
    state = spark.createDataFrame(
        [("r", "p", "c", '{"recovered":true}')],
        "repo string, path string, commit string, doc_json string",
    )
    out = {r["seq"]: r for r in from_mongo_events(events, state).collect()}
    assert json.loads(out[5]["doc"]) == {"recovered": True}  # tier-2 re-fetch
    assert json.loads(out[6]["doc"]) == {"a": 1}  # tier-1 normal
    assert out[7]["doc"] == "{}"  # delete convention


def test_mongo_fallback_prunes_state_with_semi_join(spark):
    """The table-state lookup must be pruned by a semi-join on the
    batch's keys BEFORE the left join — the state itself is never
    broadcast wholesale (VERDICT r01: unconditional F.broadcast of live
    table state OOMs executors at scale). The only explicit broadcast in
    the plan is the batch-keys side of the semi join."""
    events = spark.createDataFrame(
        [({"repo": "r", "path": "p", "commit": "c"}, "update", None, "coll", 5)],
        "documentKey struct<repo:string,path:string,commit:string>, "
        "operationType string, fullDocument string, ns_coll string, seq long",
    )
    state = spark.createDataFrame(
        [("r", "p", "c", '{"x":1}')],
        "repo string, path string, commit string, doc_json string",
    )
    plan = (
        from_mongo_events(events, state)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "LeftSemi" in plan, plan


def test_mongo_replace_folds_to_update(spark):
    events = spark.createDataFrame(
        [({"repo": "r", "path": "p", "commit": "c"}, "replace", "{}", "coll", 1)],
        "documentKey struct<repo:string,path:string,commit:string>, "
        "operationType string, fullDocument string, ns_coll string, seq long",
    )
    assert from_mongo_events(events).first()["op"] == "update"


def test_extended_json_decode(spark):
    doc = json.dumps(
        {
            "_id": {"$oid": "507f1f77bcf86cd799439011"},
            "n": {"$numberLong": "42"},
            "pi": {"$numberDouble": "3.5"},
            "at": {"$date": "2024-01-01T00:00:00Z"},
            "nested": {"deep": {"$numberInt": "7"}},
            "arr": [{"$numberInt": "1"}, "x"],
            "plain": "keep",
        }
    )
    df = spark.createDataFrame([(doc,), ("{}",), (None,)], "doc string")
    rows = df.select(decode_extended_json("doc").alias("d")).collect()
    got = json.loads(rows[0]["d"])
    assert got == {
        "_id": "507f1f77bcf86cd799439011",
        "n": 42,
        "pi": 3.5,
        "at": "2024-01-01T00:00:00Z",
        "nested": {"deep": 7},
        "arr": [1, "x"],
        "plain": "keep",
    }
    assert rows[1]["d"] == "{}" and rows[2]["d"] is None


def test_cosmos_normalize_token_inference_filters(spark):
    """from_cosmos_documents: high-water-mark scan (continuation-token
    analog), _ts-recency op inference, include/exclude op filters
    (cosmosdb.go:276-324,373-421)."""
    from replicator_spark.sources.normalize import from_cosmos_documents

    docs = spark.createDataFrame(
        [
            (1, '{"id":"a","_ts":100}'),   # below token → dropped
            (2, '{"id":"b","_ts":500}'),   # old → update
            (3, '{"id":"c","_ts":998}'),   # recent → insert
        ],
        "seq long, doc string",
    )
    out = from_cosmos_documents(
        docs, db="d", container="c", now_ts=1000,
        high_water_ts=200, recency_window_s=5,
    )
    rows = {r["seq"]: r for r in out.collect()}
    assert set(rows) == {2, 3}
    assert rows[2]["op"] == "update" and rows[3]["op"] == "insert"
    assert rows[2]["db"] == "d" and rows[2]["tbl"] == "c"

    only_ins = from_cosmos_documents(
        docs, db="d", container="c", now_ts=1000,
        high_water_ts=None, recency_window_s=5, include_ops=["INSERT"],
    )
    assert [r["seq"] for r in only_ins.collect()] == [3]
    no_upd = from_cosmos_documents(
        docs, db="d", container="c", now_ts=1000,
        recency_window_s=5, exclude_ops=["update"],
    )
    assert [r["seq"] for r in no_upd.collect()] == [3]

"""Transform rule engine tests — including the reference's own golden
pairs (pkg/transform/kazaam_test.go:10-48) and its condition-operator
surface (pkg/transform/engine.go:411-508)."""

import pytest
from pyspark.sql import functions as F

from replicator_spark.functions.jq import JqError
from replicator_spark.functions.js import JsError
from replicator_spark.functions.lua import LuaError
from replicator_spark.transform import Action, Condition, Rule, TransformEngine


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_kazaam_shift_golden(spark):
    """Reference golden pair: spec {"output":"input"} on {"input":"input value"}."""
    df = _df(spark, [("input value",)], "input string")
    eng = TransformEngine([Rule("shift", actions=[Action("shift", {"output": "input"})])])
    out, _ = eng.apply(df)
    assert out.columns == ["input", "output"]  # original kept as passthrough slot
    row = out.first()
    assert row["output"] == "input value"


def test_kazaam_shift_id_golden(spark):
    """Reference golden pair: {"id":"_id"} on {"_id":"14.3"}."""
    df = _df(spark, [("14.3",)], "_id string")
    eng = TransformEngine([Rule("shift", actions=[Action("shift", {"id": "_id"})])])
    out, _ = eng.apply(df)
    assert out.first()["id"] == "14.3"


def test_shift_clears_unlisted_fields_for_matched_rows(spark):
    df = _df(spark, [("a", "b")], "keep string, extra string")
    eng = TransformEngine([Rule("shift", actions=[Action("shift", {"kept": "keep"})])])
    out, _ = eng.apply(df)
    r = out.first()
    assert r["kept"] == "a" and r["keep"] is None and r["extra"] is None


def test_default_and_set(spark):
    df = _df(spark, [(None, "x"), ("v", "y")], "a string, b string")
    eng = TransformEngine(
        [Rule("d", actions=[Action("default", {"a": "dft"}), Action("set", {"c": "cc"})])]
    )
    out, _ = eng.apply(df).__iter__().__next__(), None
    rows = {r["b"]: r for r in eng.apply(df)[0].collect()}
    assert rows["x"]["a"] == "dft" and rows["y"]["a"] == "v"
    assert rows["x"]["c"] == "cc"


def test_concat_and_delete(spark):
    df = _df(spark, [("jo", "cohen")], "first string, last string")
    eng = TransformEngine(
        [
            Rule(
                "c",
                actions=[
                    Action("concat", {"sources": ["$.first", " ", "$.last"], "target": "full"}),
                    Action("delete", {"fields": ["first", "last"]}),
                ],
            )
        ]
    )
    r = eng.apply(df)[0].first()
    assert r["full"] == "jo cohen" and r["first"] is None


def test_conditions_typed_gt(spark):
    """Typed gt: 9 < 10 numerically (the reference would say '9' > '10'
    lexicographically — documented divergence)."""
    df = _df(spark, [(9, "a"), (11, "b")], "n long, tag string")
    eng = TransformEngine(
        [
            Rule(
                "r",
                conditions=[Condition("n", "gt", 10)],
                actions=[Action("set", {"hit": "yes"})],
            )
        ]
    )
    rows = {r["tag"]: r["hit"] for r in eng.apply(df)[0].collect()}
    assert rows == {"a": None, "b": "yes"}


def test_conditions_exists_contains_regex_in(spark):
    df = _df(
        spark,
        [("abc", "x"), (None, "y"), ("zzz", "q")],
        "s string, tag string",
    )
    eng = TransformEngine(
        [
            Rule(
                "r",
                conditions=[
                    Condition("s", "exists"),
                    Condition("s", "contains", "b"),
                    Condition("s", "regex", "^a"),
                    Condition("tag", "in", ["x", "y"]),
                ],
                actions=[Action("set", {"hit": "1"})],
            )
        ]
    )
    rows = {r["tag"]: r["hit"] for r in eng.apply(df)[0].collect()}
    assert rows == {"x": "1", "y": None, "q": None}


def test_priority_ordering_and_disabled(spark):
    df = _df(spark, [("v",)], "a string")
    eng = TransformEngine(
        [
            Rule("later", priority=2, actions=[Action("set", {"a": "second"})]),
            Rule("first", priority=1, actions=[Action("set", {"a": "first"})]),
            Rule("off", priority=0, enabled=False, actions=[Action("set", {"a": "never"})]),
        ]
    )
    assert eng.apply(df)[0].first()["a"] == "second"


def test_protected_columns_survive_shift(spark):
    """Critical-field preservation (service.go:493-501): seq/op/keys
    bypass the rule chain."""
    df = _df(spark, [(1, "insert", "data")], "seq long, op string, payload string")
    eng = TransformEngine(
        [Rule("s", actions=[Action("shift", {"out": "payload"})])],
        protected=("seq", "op"),
    )
    r = eng.apply(df)[0].first()
    assert r["seq"] == 1 and r["op"] == "insert" and r["out"] == "data"


def test_dead_letter_policy(spark):
    df = _df(spark, [("1", "a"), (None, "b")], "v string, tag string")
    eng = TransformEngine(
        [
            Rule(
                "r",
                actions=[Action("pass")],
                error_policy="dead_letter",
                validate=Condition("v", "exists"),
            )
        ]
    )
    out, dead = eng.apply(df)
    assert [r["tag"] for r in out.collect()] == ["a"]
    assert [r["tag"] for r in dead.collect()] == ["b"]


def test_fail_fast_policy_raises(spark):
    """fail_fast must abort the batch on an invalid row. Regression: the
    guard used to live in a withColumn(...).drop(...) that Catalyst
    column-pruned away, so invalid rows sailed through silently."""
    df = _df(spark, [("1", "a"), (None, "b")], "v string, tag string")
    eng = TransformEngine(
        [
            Rule(
                "r",
                actions=[Action("pass")],
                error_policy="fail_fast",
                validate=Condition("v", "exists"),
            )
        ]
    )
    out, dead = eng.apply(df)
    assert dead is None
    with pytest.raises(Exception, match="transform rule r: validation failed"):
        out.collect()


def test_fail_fast_policy_passes_valid_rows(spark):
    df = _df(spark, [("1", "a"), ("2", "b")], "v string, tag string")
    eng = TransformEngine(
        [
            Rule(
                "r",
                actions=[Action("pass")],
                error_policy="fail_fast",
                validate=Condition("v", "exists"),
            )
        ]
    )
    out, _ = eng.apply(df)
    assert sorted(r["tag"] for r in out.collect()) == ["a", "b"]


def test_skip_policy(spark):
    df = _df(spark, [("1", "a"), (None, "b")], "v string, tag string")
    eng = TransformEngine(
        [
            Rule(
                "r",
                actions=[Action("pass")],
                error_policy="skip",
                validate=Condition("v", "exists"),
            )
        ]
    )
    out, dead = eng.apply(df)
    assert [r["tag"] for r in out.collect()] == ["a"] and dead is None


def test_timestamp_action(spark):
    df = _df(spark, [("2024-03-05T10:00:00",)], "t string")
    eng = TransformEngine(
        [
            Rule(
                "ts",
                actions=[
                    Action("timestamp", {"field": "t", "target": "day", "out_format": "yyyy-MM-dd"})
                ],
            )
        ]
    )
    assert eng.apply(df)[0].first()["day"] == "2024-03-05"


def test_deterministic_uuid(spark):
    df = _df(spark, [("a",), ("a",)], "v string")
    eng = TransformEngine(
        [Rule("u", actions=[Action("uuid", {"field": "id", "from": ["v"]})])]
    )
    ids = [r["id"] for r in eng.apply(df)[0].collect()]
    assert ids[0] == ids[1] and len(ids[0]) == 64


def test_unknown_action_rejected():
    with pytest.raises(ValueError, match="unknown action"):
        TransformEngine([Rule("bad", actions=[Action("explode")])])


def test_whole_chain_is_single_projection(spark):
    """Catalyst must collapse the rule chain — no shuffle, one stage."""
    df = _df(spark, [("a", 1)], "s string, n long")
    eng = TransformEngine(
        [
            Rule("r1", priority=1, actions=[Action("set", {"x": "1"})]),
            Rule("r2", priority=2, actions=[Action("concat", {"sources": ["$.s", "$.x"], "target": "y"})]),
        ]
    )
    out, _ = eng.apply(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


@pytest.mark.parametrize(
    "engine, spec, broken, error",
    [
        ("jq", {"query": '{id, tag: (.tag + "-" + .name)}'},
         {"query": "{tag: ("}, JqError),
        ("lua", {"script": 'return { id = row.id, tag = row.tag .. "-" .. row.name }'},
         {"script": "return { tag = ( }"}, LuaError),
        ("javascript", {"script": 'return { id: row.id, tag: row.tag + "-" + row.name }'},
         {"script": "return { tag: ( }"}, JsError),
    ],
)
def test_script_action_mid_chain(spark, engine, spec, broken, error):
    """A script action after another action reads the payload as that
    action left it: its inputs are then expressions (the set literal),
    not bare columns. A syntax error raises when the engine is built."""
    df = _df(spark, [(1, "a"), (2, "b")], "id long, name string")
    eng = TransformEngine(
        [Rule("r", actions=[Action("set", {"tag": "t"}), Action(engine, spec)])]
    )
    out, _ = eng.apply(df)
    assert [r.asDict() for r in out.orderBy("id").collect()] == [
        {"id": 1, "name": None, "tag": "t-a"},
        {"id": 2, "name": None, "tag": "t-b"},
    ]
    with pytest.raises(error):
        TransformEngine([Rule("r", actions=[Action(engine, broken)])])

"""jq engine (functions/jq.py): parse/compile unit tests against
Python-computed expectations, engine-chain integration, and the
fail-loud contract for out-of-scope constructs.

The reference accepts ``engine: "jq"`` in rule configs
(``pkg/config/validation.go:246``) but never links an interpreter —
this is the executable version of that declared surface.
"""

import math

import pytest
from pyspark.sql import functions as F

from replicator_spark.functions.jq import (
    JqError,
    compile_program,
    jq_transform,
    parse,
)
from replicator_spark.functions.lowering import Compiled as CompiledJq
from replicator_spark.transform import Action, Condition, Rule, TransformEngine


@pytest.fixture(scope="module")
def people(spark):
    return spark.createDataFrame(
        [
            (1, "Ada Lovelace", "eng", 91000.0, 36, ["py", "c"], ("London", "UK")),
            (2, "Mary Shelley", "lit", 45500.5, 21, ["prose"], ("Bath", "UK")),
            (3, "Alan Turing", "eng", 78000.0, 41, [], ("Wilmslow", "UK")),
            (4, None, "ops", None, 29, ["sh"], (None, "IE")),
        ],
        "id long, name string, dept string, salary double, age long, "
        "skills array<string>, home struct<city:string,country:string>",
    )


def rows(df):
    return [r.asDict(recursive=True) for r in df.orderBy("id").collect()]


# -- paths, literals, operators ---------------------------------------------


def test_projection_and_rename(people):
    out = jq_transform(people, "{id, who: .name, d: .dept}")
    assert out.columns == ["id", "who", "d"]
    assert rows(out)[0]["who"] == "Ada Lovelace"


def test_struct_traversal_and_optional(people):
    out = jq_transform(
        people, '{id, city: .home.city, cc: .home.country, nope: .home.zip?}'
    )
    r = rows(out)
    assert r[0]["city"] == "London" and r[0]["cc"] == "UK"
    assert all(x["nope"] is None for x in r)
    with pytest.raises(JqError, match="no field"):
        compile_program("{z: .home.zip}", people.schema)


def test_arithmetic_matches_jq_semantics(people):
    # '/' is float division (jq numbers); + - * stay integer on longs
    out = jq_transform(
        people,
        "{id, half_age: (.age / 2), next: (.age + 1), m: (.age % 10)}",
    )
    r = rows(out)
    assert r[0]["half_age"] == 18.0 and isinstance(r[0]["half_age"], float)
    assert r[0]["next"] == 37 and r[0]["m"] == 6
    t = dict(out.dtypes)
    assert t["half_age"] == "double" and t["next"] == "bigint"


def test_string_concat_plus_and_type_error(people):
    out = jq_transform(people, '{id, t: (.dept + "-x")}')
    assert rows(out)[0]["t"] == "eng-x"
    with pytest.raises(JqError, match="cannot add string"):
        compile_program("{t: (.dept + .age)}", people.schema)


def test_interpolation_and_tostring(people):
    out = jq_transform(people, r'{id, tag: "p-\(.id)-\(.dept | ascii_upcase)"}')
    assert rows(out)[0]["tag"] == "p-1-ENG"


def test_if_elif_else_and_comparisons(people):
    out = jq_transform(
        people,
        '{id, band: (if .age < 25 then "young" elif .age < 40 then "mid" '
        'else "senior" end)}',
    )
    assert [x["band"] for x in rows(out)] == ["mid", "young", "senior", "mid"]
    with pytest.raises(JqError, match="explicit else"):
        parse('if .a then 1 end')


def test_select_stage_compiles_to_where(people):
    out = jq_transform(people, 'select(.dept == "eng") | {id}')
    assert [x["id"] for x in rows(out)] == [1, 3]
    # filter-only: projection untouched
    f = jq_transform(people, "select(.age > 30)")
    assert f.columns == people.columns and f.count() == 2


def test_select_null_semantics_match_jq(people):
    # row 4 has salary=null: a null comparison is falsy (excluded), and
    # its NEGATION is truthy (included) — jq's null-falsy under `not`,
    # which SQL three-valued logic alone would get wrong
    assert [x["id"] for x in rows(
        jq_transform(people, "select(.salary > 50000) | {id}"))] == [1, 3]
    assert [x["id"] for x in rows(
        jq_transform(people, "select((.salary > 50000) | not) | {id}"))] == [2, 4]
    # non-boolean select: truthy = non-null
    assert [x["id"] for x in rows(
        jq_transform(people, "select(.name) | {id}"))] == [1, 2, 3]
    # and/or trees stay pushable-raw but filter identically
    assert [x["id"] for x in rows(jq_transform(
        people, 'select((.salary > 50000) or (.dept == "ops")) | {id}'))] == [1, 3, 4]


def test_null_comparisons_use_jq_total_order(people):
    """jq comparisons are total — null is an ordinary value that equals
    null and sorts below everything. SQL 3-valued operators would emit
    null in value context and silently drop rows in WHERE context."""
    out = rows(
        jq_transform(
            people,
            '{id, no_sal: (.salary == null), has_sal: (.salary != null),'
            ' low: (.salary < 80000), pos: (.salary >= 0),'
            ' not_ada: (.name != "Ada Lovelace")}',
        )
    )
    assert out[3]["no_sal"] is True and out[3]["has_sal"] is False
    assert out[0]["no_sal"] is False and out[0]["has_sal"] is True
    # null < 80000 → true (null sorts first); never SQL-null
    assert out[3]["low"] is True and out[0]["low"] is False
    assert out[3]["pos"] is False  # null >= 0 → false, not null
    # null != "x" → true: row 4's null name is kept distinct
    assert [x["not_ada"] for x in out] == [False, True, True, True]
    # the same comparisons as select() predicates keep/drop jq's rows
    assert [x["id"] for x in rows(
        jq_transform(people, "select(.salary < 80000) | {id}"))] == [2, 3, 4]
    assert [x["id"] for x in rows(
        jq_transform(people, 'select(.name != "Ada Lovelace") | {id}'))] == [2, 3, 4]
    assert [x["id"] for x in rows(
        jq_transform(people, "select(.salary == null) | {id}"))] == [4]
    assert [x["id"] for x in rows(
        jq_transform(people, "select(.name != null) | {id}"))] == [1, 2, 3]


def test_select_in_value_context_raises(people):
    """select() in value context (object values, // operands, map
    bodies) has no one-Column equivalent of jq's empty-propagation —
    bubbling it to the global WHERE would silently drop rows, so it
    must raise. In row context (top-level stage, parenthesized group
    in stage position) it keeps compiling to WHERE."""
    with pytest.raises(JqError, match="value expression"):
        compile_program('{id, a: ((.name | select(.dept)) // "d")}', people.schema)
    with pytest.raises(JqError, match="value expression|pipe stage"):
        compile_program(
            '{id, s: (.skills | map(. | select(. == "py")))}', people.schema
        )
    out = jq_transform(people, '(select(.dept == "eng") | {id})')
    assert [x["id"] for x in rows(out)] == [1, 3]


def test_alternative_operator(people):
    out = jq_transform(people, '{id, n: (.name // "anon"), s: (.salary // 0)}')
    r = rows(out)
    assert r[3]["n"] == "anon" and r[3]["s"] == 0.0
    assert r[0]["n"] == "Ada Lovelace"


def test_truthiness_and_or_not(people):
    out = jq_transform(
        people,
        "{id, has_name: (.name | not | not), both: (.name and .salary)}",
    )
    r = rows(out)
    assert r[3]["has_name"] is False and r[0]["both"] is True


# -- builtins ----------------------------------------------------------------


def test_string_builtins(people):
    out = jq_transform(
        people,
        '{id, lo: (.dept | ascii_downcase), up: (.dept | ascii_upcase), '
        ' l: (.dept | length), sw: (.dept | startswith("e")), '
        ' trimmed: (.dept | ltrimstr("e") | rtrimstr("g")), '
        ' sub: (.dept | gsub("n"; "N")), re: (.dept | test("^e.g$"))}',
    )
    r = rows(out)[0]
    assert (r["lo"], r["up"], r["l"], r["sw"]) == ("eng", "ENG", 3, True)
    assert r["trimmed"] == "n" and r["sub"] == "eNg" and r["re"] is True


def test_split_join_index_length(people):
    out = jq_transform(
        people,
        '{id, first: (.name | split(" ") | .[0]), last: (.name | split(" ") | .[-1]), '
        ' nskills: (.skills | length), joined: (.skills | join("+"))}',
    )
    r = rows(out)
    assert r[0]["first"] == "Ada" and r[0]["last"] == "Lovelace"
    assert r[0]["nskills"] == 2 and r[0]["joined"] == "py+c"
    assert r[2]["nskills"] == 0 and r[2]["joined"] == ""
    # split separator is LITERAL (escaped), not regex
    dotty = jq_transform(
        people, '{id, p: ("a.b.c" | split(".") | .[1])}'
    )
    assert rows(dotty)[0]["p"] == "b"


def test_numeric_builtins(people):
    out = jq_transform(
        people,
        "{id, f: (.salary / 1000 | floor), c: (.salary / 1000 | ceil), "
        " r: (.salary / 1000 | round), a: (-.age | fabs), q: (.age | sqrt)}",
    )
    r = rows(out)[1]
    assert (r["f"], r["c"], r["r"]) == (45, 46, 46)
    assert r["a"] == 21 and r["q"] == pytest.approx(math.sqrt(21))
    t = dict(out.dtypes)
    assert t["f"] == "bigint" and t["r"] == "bigint"


def test_tonumber_has_array_nested_obj(people):
    out = jq_transform(
        people,
        '{id, n: ("42" | tonumber), h: has("salary"), '
        ' pair: [.id, .age], loc: {c: .home.city, k: .home.country}}',
    )
    r = rows(out)[0]
    assert r["n"] == 42.0 and r["h"] is True
    assert r["pair"] == [1, 36]
    assert r["loc"] == {"c": "London", "k": "UK"}


def test_array_builtins(people):
    out = jq_transform(
        people,
        '{id, up: (.skills | map(ascii_upcase)), lens: (.skills | map(length) | add), '
        ' mn: ([3, 1, 2] | min), mx: ([3, 1, 2] | max), srt: ([3, 1, 2] | sort), '
        ' uniq: ([2, 1, 2] | unique), rev: (.skills | reverse), '
        ' hd: (.skills | first), tl: (.skills | last), '
        ' any_c: (.skills | any(. == "c")), all_len2: (.skills | all(length <= 5))}',
    )
    r = rows(out)[0]
    assert r["up"] == ["PY", "C"] and r["lens"] == 3.0
    assert (r["mn"], r["mx"], r["srt"], r["uniq"]) == (1, 3, [1, 2, 3], [1, 2])
    assert r["rev"] == ["c", "py"] and r["hd"] == "py" and r["tl"] == "c"
    assert r["any_c"] is True and r["all_len2"] is True
    r3 = rows(out)[2]  # empty skills array
    assert r3["lens"] == 0.0 and r3["hd"] is None and r3["any_c"] is False
    # map body is type-checked against the ELEMENT type
    with pytest.raises(JqError, match="cannot add string"):
        compile_program('{x: (.skills | map(. + 1))}', people.schema)
    with pytest.raises(JqError, match="must be an array"):
        compile_program('{x: (.name | map(length))}', people.schema)


def test_array_builtins_stay_jvm(people):
    out = jq_transform(people, '{id, n: (.skills | map(length) | add)}')
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# -- engine integration ------------------------------------------------------


def test_jq_action_in_rule_chain(people):
    eng = TransformEngine([
        Rule(
            name="jq-shape",
            priority=1,
            conditions=[Condition("dept", "eq", "eng")],
            actions=[Action("jq", {
                "query": '{id, name, dept, salary, age, skills, home,'
                         ' grade: (if .salary > 80000 then "A" else "B" end)}'
            })],
        ),
    ])
    out, dead = eng.apply(people)
    assert dead is None
    r = rows(out)
    assert r[0]["grade"] == "A" and r[2]["grade"] == "B"
    assert r[1]["grade"] is None  # condition unmatched -> original (absent)


def test_jq_action_after_prior_action_sees_chained_exprs(people):
    # the jq program must see the PRIOR action's output, not raw columns
    eng = TransformEngine([
        Rule(name="chain", priority=1, actions=[
            Action("set", {"bonus": 7}),
            Action("jq", {"query": "{id, total: (.age + .bonus)}"}),
        ]),
    ])
    out, _ = eng.apply(people)
    assert rows(out)[0]["total"] == 43


def test_jq_action_validation_fails_fast():
    with pytest.raises(JqError):
        TransformEngine([
            Rule(name="bad", actions=[Action("jq", {"query": "{a: .x +"})])
        ])
    with pytest.raises(ValueError, match="spec\\['query'\\]"):
        TransformEngine([Rule(name="bad2", actions=[Action("jq", {})])])


def test_jq_action_rejects_select(people):
    eng = TransformEngine([
        Rule(name="sel", actions=[
            Action("jq", {"query": "select(.age > 30) | {id}"})
        ]),
    ])
    with pytest.raises(ValueError, match="rule conditions"):
        eng.apply(people)


def test_jq_rule_through_job_config(people):
    """Config-driven jq: a transform_rules entry with a jq action builds
    through cli._build_engine exactly like kazaam rules — the
    reference's `engine: "jq"` config shape, executable."""
    from replicator_spark.cli import JobConfig, _build_engine

    cfg = JobConfig(
        name="jqcfg", feed_dir="x", table_root="y",
        transform_rules=[{
            "name": "jq-from-config",
            "actions": [{"type": "jq", "spec": {
                "query": '{id, name, dept, salary, age, skills, home,'
                         ' senior: (.age >= 36)}'
            }}],
        }],
    )
    eng = _build_engine(cfg)
    out, _ = eng.apply(people.withColumns({
        "event_id": F.lit("e"), "seq": F.lit(1), "op": F.lit("insert"),
        "repo": F.lit("r"), "path": F.lit("p"), "commit": F.lit("c"),
    }))
    got = {r.id: r.senior for r in out.collect()}
    assert got == {1: True, 2: False, 3: True, 4: False}


# -- fail-loud out-of-scope constructs --------------------------------------


@pytest.mark.parametrize("prog", [
    ".[] | {a: .}",                # stream iteration
    "reduce .[] as $x (0; . + $x)",  # reduce (and $ bindings)
    "{a: (.name | sub(\"a\"; \"b\"))}",  # sub: first-match-only unsupported
    "{a: (.skills | ltrimstr(.name))}",  # non-literal builtin arg
    "{a: .name | length}",        # '|' inside object value needs parens
])
def test_unsupported_constructs_raise(people, prog):
    with pytest.raises(JqError):
        compile_program(prog, people.schema)


def test_compiled_filter_only_shape(people):
    c = compile_program('select(.age > 30)', people.schema)
    assert isinstance(c, CompiledJq)
    assert c.columns is None and c.where is not None


def test_no_python_in_jq_plan(people):
    out = jq_transform(
        people,
        r'select(.age > 18) | {id, tag: "x-\(.id)", b: (.salary / 7 | floor)}',
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

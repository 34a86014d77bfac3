"""Transformation rule engine — the reference's kazaam-based JSON
transform chain (``pkg/transform/engine.go:69-167``, 595 LoC) compiled to
Spark Column expressions.

The reference sorts ``TransformationRule``s by ascending priority,
skips disabled rules, AND-evaluates ``Conditions`` per event, and
applies ``Actions`` sequentially, marshalling the payload map → JSON →
kazaam → JSON → map *per event* (``engine.go:359-385``). Here each rule
compiles to ONE projection over the micro-batch: for every output
column ``c``, ``when(<conditions>, <transformed c>).otherwise(<original
c>)`` — fully vectorized inside whole-stage codegen, zero per-row
Python, and Catalyst collapses the rule chain into a single projection.

Supported actions (the kazaam verbs the reference exposes through
``Action{Type:"kazaam", Spec}`` — ``engine.go:328-356`` — plus the
computed-field enrichment of ``examples/configs/
multi-source-aggregation.yaml:97-106``):

shift, default, set, concat, extract, delete, pass, timestamp, uuid,
computed (year/month/tier via when-chains supplied as Column), plus the
THREE engine types ``models.go:30,59`` / ``validation.go:246`` declare
but never execute — ``jq``, ``lua``, ``javascript`` — here compiled to
Column expressions by ``functions.jq`` / ``functions.lua`` /
``functions.js``, three front-ends over one lowering core
(``functions/lowering.py``). The program's final object/table is the
new payload, same contract as kazaam shift; see each module for its
supported subset and per-language null/nil semantics.

Conditions: exists / not_exists / eq / ne / gt / lt / gte / lte /
contains / in / nin / regex over dot-paths (``engine.go:411-508``,
``pkg/models/types.go:218-235``). DIVERGENCE (deliberate, SURVEY §7.4):
comparisons are *typed* — the reference coerces via ``fmt.Sprintf`` so
its gt/lt are lexicographic (``engine.go:472-508``); reproduce that
with an explicit ``.cast("string")`` on the field if bit-exactness with
the reference is ever needed.

Error policies (``pkg/transform/models.go:46-55``): ``fail_fast`` —
raise at compile/apply (micro-batch aborts and replays, the Spark
analogue of aborting the event loop); ``skip`` — drop rows failing the
rule's ``validate`` predicate; ``dead_letter`` — route them to a DLQ
DataFrame returned alongside; ``continue`` — keep them unmodified.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .functions import js, jq, lua

# -- spec model -------------------------------------------------------------


@dataclass
class Condition:
    field: str
    operator: str  # exists|not_exists|eq|ne|gt|lt|gte|lte|contains|in|nin|regex
    value: object = None


@dataclass
class Action:
    type: str
    spec: dict = dc_field(default_factory=dict)


@dataclass
class Rule:
    name: str
    priority: int = 0
    enabled: bool = True
    conditions: list[Condition] = dc_field(default_factory=list)
    actions: list[Action] = dc_field(default_factory=list)
    error_policy: str = "fail_fast"  # fail_fast|skip|dead_letter|continue
    validate: Condition | None = None  # rows must satisfy this post-transform


def _path(col_name: str) -> Column:
    # dot-paths traverse struct fields natively ("data.active")
    return F.col(col_name)


def compile_condition(c: Condition) -> Column:
    return compile_condition_on(_path(c.field), c.operator, c.value)


def compile_condition_on(f: Column, op: str, value) -> Column:
    """Operator core shared with filters.EventFilter (same taxonomy —
    ``pkg/models/types.go:231-236`` FieldFilter reuses these ops)."""
    if op == "exists":
        return f.isNotNull()
    if op == "not_exists":
        return f.isNull()
    if op == "eq":
        return f == F.lit(value)
    if op == "ne":
        return f != F.lit(value)
    if op == "gt":
        return f > F.lit(value)
    if op == "lt":
        return f < F.lit(value)
    if op == "gte":
        return f >= F.lit(value)
    if op == "lte":
        return f <= F.lit(value)
    if op == "contains":
        return f.contains(value)
    if op == "in":
        return f.isin(*list(value))
    if op == "nin":
        return ~f.isin(*list(value))
    if op == "regex":
        return f.rlike(value)
    raise ValueError(f"unknown condition operator: {op}")


# -- action compilation -----------------------------------------------------
#
# Each action transforms a dict {column name -> Column expr} describing
# the payload of a MATCHED row. Sequential action application is dict
# rewriting; nothing touches the cluster until the final projection.


# script action type → (engine module, the spec key holding its program)
_SCRIPTS = {"jq": (jq, "query"), "lua": (lua, "script"), "javascript": (js, "script")}


def _apply_action(
    cols: dict[str, Column], a: Action, typer=None
) -> dict[str, Column]:
    t, s = a.type, a.spec
    if t == "pass":
        return cols
    if t in _SCRIPTS:
        # the three engine types models.go:30,59 declares (validation.go:246
        # accepts them) but the reference never links an interpreter for:
        # compiled driver-side to Column expressions. The program's final
        # object/table is the new payload — same contract as kazaam shift.
        engine, key = _SCRIPTS[t]
        if typer is None:
            name = engine.__name__.rsplit(".", 1)[-1]
            raise ValueError(
                f"{t} action needs the engine's schema context; use "
                f"TransformEngine.apply or functions.{name}.{name}_transform directly"
            )
        compiled = engine.compile_program(s[key], typer(cols), cols)
        if compiled.where is not None:
            raise ValueError(
                f"{t} action: select() filters rows — express that as rule "
                "conditions (or a validate predicate), not inside an action"
            )
        return dict(cols) if compiled.columns is None else dict(compiled.columns)
    if t == "shift":
        # kazaam shift: output doc = exactly the spec's projection
        # ({"output": "input"} — pkg/transform/kazaam_test.go:10-48)
        return {target: _spec_source(cols, src) for target, src in s.items()}
    if t == "default":
        out = dict(cols)
        for fname, v in s.items():
            out[fname] = (
                F.coalesce(cols[fname], F.lit(v)) if fname in cols else F.lit(v)
            )
        return out
    if t == "set":
        out = dict(cols)
        for fname, v in s.items():
            out[fname] = F.lit(v)
        return out
    if t == "concat":
        out = dict(cols)
        parts = [
            _spec_source(cols, p) if isinstance(p, str) and p.startswith("$.") else F.lit(p)
            for p in s["sources"]
        ]
        out[s["target"]] = F.concat(*parts)
        return out
    if t == "extract":
        # hoist a struct column's fields to the root
        src = s["field"]
        out = {k: v for k, v in cols.items() if k != src}
        base = cols[src]
        for sub in s["subfields"]:
            out[sub] = base.getField(sub)
        return out
    if t == "delete":
        return {k: v for k, v in cols.items() if k not in set(s["fields"])}
    if t == "timestamp":
        out = dict(cols)
        fname = s["field"]
        src = cols[fname]
        parsed = F.to_timestamp(src, s["in_format"]) if s.get("in_format") else F.to_timestamp(src)
        out[s.get("target", fname)] = (
            F.date_format(parsed, s["out_format"]) if s.get("out_format") else parsed
        )
        return out
    if t == "uuid":
        out = dict(cols)
        if s.get("deterministic", True):
            # content-derived id: reproducible across replays (a replayed
            # batch must not mint new ids — exactly-once would break)
            basis = [cols[c] for c in s.get("from", sorted(cols))]
            out[s["field"]] = F.sha2(F.concat_ws("|", *basis), 256)
        else:
            out[s["field"]] = F.uuid()
        return out
    if t == "computed":
        out = dict(cols)
        out[s["field"]] = s["expr"]  # caller-supplied Column
        return out
    raise ValueError(f"unknown action type: {t}")


def _spec_source(cols: dict[str, Column], src: str) -> Column:
    """Resolve a kazaam source path '$.a.b' / 'a.b' / 'a' against cols."""
    p = src[2:] if src.startswith("$.") else src
    head, _, rest = p.partition(".")
    if head not in cols:
        return F.lit(None)
    return cols[head].getField(rest) if rest else cols[head]


# -- engine -----------------------------------------------------------------


class TransformEngine:
    """Ordered rule chain over a payload DataFrame.

    ``apply(df)`` returns ``(out_df, dead_df)``; ``dead_df`` is None
    unless some rule uses the dead_letter policy.
    """

    def __init__(self, rules: list[Rule], protected: tuple[str, ...] = ()):
        # priority ascending, disabled skipped — engine.go:69-103
        self.rules = sorted(
            (r for r in rules if r.enabled), key=lambda r: r.priority
        )
        # critical-field preservation (service.go:493-501): these
        # columns bypass the rule chain entirely by construction
        self.protected = tuple(protected)
        for r in self.rules:
            self._validate_rule(r)

    def _validate_rule(self, r: Rule) -> None:
        for a in r.actions:
            if a.type not in (
                "pass", "shift", "default", "set", "concat", "extract",
                "delete", "timestamp", "uuid", "computed", *_SCRIPTS,
            ):
                raise ValueError(f"rule {r.name}: unknown action {a.type}")
            if a.type in _SCRIPTS:
                # fail-fast at construction: syntax errors surface here,
                # type errors at apply() (schema-dependent) — both before
                # any executor work
                engine, key = _SCRIPTS[a.type]
                if key not in a.spec:
                    raise ValueError(
                        f"rule {r.name}: {a.type} action needs spec['{key}']"
                    )
                engine.parse(a.spec[key])
        if r.error_policy not in ("fail_fast", "skip", "dead_letter", "continue"):
            raise ValueError(f"rule {r.name}: unknown error policy {r.error_policy}")

    def apply(self, df: DataFrame) -> tuple[DataFrame, DataFrame | None]:
        dead: DataFrame | None = None
        payload = [c for c in df.columns if c not in self.protected]
        for r in self.rules:
            matched = (
                F.lit(True)
                if not r.conditions
                else __import__("functools").reduce(
                    lambda x, y: x & y, (compile_condition(c) for c in r.conditions)
                )
            )
            orig = {c: F.col(c) for c in payload}
            new = dict(orig)
            # script actions need types: resolve the CURRENT payload exprs'
            # schema against df — driver-side analysis only, no job
            typer = lambda cs: df.select(  # noqa: E731
                *[v.alias(k) for k, v in cs.items()]
            ).schema
            for a in r.actions:
                new = _apply_action(new, a, typer)
            out_cols = list(dict.fromkeys([*orig, *new]))
            proj = [F.col(c) for c in self.protected]
            for c in out_cols:
                on_match = new.get(c, F.lit(None))
                on_miss = orig.get(c, F.lit(None))
                proj.append(F.when(matched, on_match).otherwise(on_miss).alias(c))
            nxt = df.select(*proj)

            if r.validate is not None:
                ok = compile_condition(r.validate)
                bad = nxt.where(~F.coalesce(ok, F.lit(False)))
                if r.error_policy == "dead_letter":
                    dead = bad if dead is None else dead.unionByName(bad, allowMissingColumns=True)
                    nxt = nxt.where(F.coalesce(ok, F.lit(False)))
                elif r.error_policy == "skip":
                    nxt = nxt.where(F.coalesce(ok, F.lit(False)))
                elif r.error_policy == "fail_fast":
                    # resolved at action time: any invalid row aborts the
                    # micro-batch, which then replays (at-least-once).
                    # The guard must live in a FILTER predicate: a
                    # withColumn(...).drop(...) formulation is removed by
                    # Catalyst column pruning and the raise never fires.
                    nxt = nxt.where(
                        F.when(ok, F.lit(True)).otherwise(
                            F.raise_error(
                                F.lit(f"transform rule {r.name}: validation failed")
                            )
                        )
                    )
                # continue: keep rows unmodified? they already carry the
                # transformed values; 'continue' records and moves on
            df = nxt
            payload = out_cols
        return df, dead

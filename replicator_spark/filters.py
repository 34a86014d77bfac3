"""Config-level event filtering — the reference's ``EventFilter``
(``pkg/models/types.go:218-227``) compiled to ONE Column predicate over
the canonical change record.

The reference declares the full struct — operation / database /
collection include-exclude lists, ``FieldFilter`` rows (``types.go:
230-236``: eq/ne/gt/lt/gte/lte/in/nin/regex with an ``Include`` bool),
and a ``CustomFilter`` "JavaScript expression" — but, like the jq
engine, never evaluates any of it: no code reads the fields. Here the
surface runs, with every clause ANDed into a single predicate that is
applied to the RAW feed before normalization, so Catalyst pushes the
scalar clauses into the parquet scan of the feed (pinned in
test_plan_quality.py).

``custom_filter`` languages: the default is a **jq** boolean expression;
set ``custom_filter_lang: "javascript"`` for the reference's declared
JavaScript-expression shape (``types.go:226``). Either compiles
driver-side to one Column by its engine's ``compile_predicate``
(``functions.jq`` / ``functions.js``) — never a per-event interpreter.
(The reference never executed its JS string; here both languages run as
native Column predicates and the scalar clauses stay pushable to the
scan.)

Field resolution for ``FieldFilter.field``:

- a canonical column (``op``, ``db``, ``tbl``, ``seq``, ``event_id``,
  ``ts``) or dotted struct path (``key.repo``) resolves to that column;
- anything else is a path into the ``doc`` JSON (``price`` →
  ``get_json_object(doc, '$.price')``), compared TYPED when the config
  value is numeric (cast to double) — the typed-comparison divergence
  shared with transform.Condition.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .functions import js, jq
from .functions.lowering import ScriptError
from .model import CHANGE_SCHEMA
from .transform import compile_condition_on

# custom_filter_lang → the engine that compiles its boolean expressions
_CUSTOM_FILTER_LANGS = {"jq": jq, "javascript": js}


@dataclass
class FieldFilter:
    field: str
    operator: str  # eq|ne|gt|lt|gte|lte|in|nin|regex — types.go:234
    value: object = None
    include: bool = True  # True: keep matching rows; False: drop them


@dataclass
class EventFilter:
    include_operations: list[str] | None = None
    exclude_operations: list[str] | None = None
    include_databases: list[str] | None = None
    exclude_databases: list[str] | None = None
    include_collections: list[str] | None = None
    exclude_collections: list[str] | None = None
    field_filters: list[FieldFilter] = dc_field(default_factory=list)
    custom_filter: str | None = None  # boolean expression (lang below)
    custom_filter_lang: str = "jq"    # "jq" (default) | "javascript"

    @staticmethod
    def from_dict(d: dict) -> "EventFilter":
        d = dict(d)
        ff = [
            FieldFilter(
                field=x["field"],
                operator=x["operator"],
                value=x.get("value"),
                include=x.get("include", True),
            )
            for x in d.pop("field_filters", [])
        ]
        allowed = {
            "include_operations", "exclude_operations",
            "include_databases", "exclude_databases",
            "include_collections", "exclude_collections", "custom_filter",
            "custom_filter_lang",
        }
        unknown = set(d) - allowed
        if unknown:
            raise ValueError(f"event_filter: unknown keys {sorted(unknown)}")
        return EventFilter(field_filters=ff, **d)

    _OPERATORS = ("eq", "ne", "gt", "lt", "gte", "lte",
                  "contains", "in", "nin", "regex")

    def validate(self) -> list[str]:
        """Spark-free structural validation (for `cli validate`, which
        runs without a session): operator whitelist + custom_filter
        parse/shape. Column-level errors still fail fast at build."""
        errs = []
        for ff in self.field_filters:
            if ff.operator not in self._OPERATORS:
                errs.append(
                    f"field_filters[{ff.field}]: unknown operator {ff.operator!r}"
                )
        try:
            engine = self._engine()
        except ValueError as e:
            errs.append(str(e))
        else:
            if self.custom_filter:
                try:
                    engine.parse_predicate(self.custom_filter.strip())
                except ScriptError as e:
                    errs.append(f"custom_filter: {e}")
        return errs

    # -- compilation ---------------------------------------------------------

    def _engine(self):
        """The custom_filter language's engine module."""
        if self.custom_filter_lang not in _CUSTOM_FILTER_LANGS:
            raise ValueError(
                f"custom_filter_lang: unknown language "
                f"{self.custom_filter_lang!r} (jq | javascript)"
            )
        return _CUSTOM_FILTER_LANGS[self.custom_filter_lang]

    def _resolve(self, name: str) -> tuple[Column, bool]:
        """(column expr, is_doc_path)."""
        root = name.split(".", 1)[0]
        if root in CHANGE_SCHEMA.fieldNames():
            return F.col(name), False
        return F.get_json_object(F.col("doc"), f"$.{name}"), True

    def _field_pred(self, ff: FieldFilter) -> Column:
        col, is_doc = self._resolve(ff.field)
        v = ff.value
        if is_doc and isinstance(v, (int, float)) and not isinstance(v, bool):
            col = col.cast("double")
            v = float(v)
        elif is_doc and isinstance(v, (list, tuple)) and v and all(
            isinstance(x, (int, float)) and not isinstance(x, bool) for x in v
        ):
            col = col.cast("double")
            v = [float(x) for x in v]
        m = compile_condition_on(col, ff.operator, v)
        # include=True keeps matches (null comparisons excluded by the
        # WHERE); include=False drops matches but must KEEP null/missing
        # fields — absence is not a match
        return m if ff.include else ~F.coalesce(m, F.lit(False))

    def predicate(self) -> Column:
        """All clauses ANDed (the struct implies conjunction; nothing
        upstream executes it, so conjunction — the strictest reading —
        is pinned here)."""
        preds: list[Column] = []
        for vals, col in (
            (self.include_operations, "op"),
            (self.include_databases, "db"),
            (self.include_collections, "tbl"),
        ):
            if vals:
                preds.append(F.col(col).isin(*vals))
        for vals, col in (
            (self.exclude_operations, "op"),
            (self.exclude_databases, "db"),
            (self.exclude_collections, "tbl"),
        ):
            if vals:
                preds.append(~F.coalesce(F.col(col).isin(*vals), F.lit(False)))
        for ff in self.field_filters:
            preds.append(self._field_pred(ff))
        if self.custom_filter:
            preds.append(self._engine().compile_predicate(
                self.custom_filter.strip(), CHANGE_SCHEMA))
        if not preds:
            return F.lit(True)
        out = preds[0]
        for p in preds[1:]:
            out = out & p
        return out

    def apply(self, df: DataFrame) -> DataFrame:
        return df.where(self.predicate())

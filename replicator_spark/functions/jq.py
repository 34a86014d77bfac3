"""jq transform engine — a jq-language subset compiled to Spark Column
expressions (zero Python in the data path).

The reference declares ``"jq"`` as a first-class transform-engine type —
``pkg/transform/models.go:30,59`` and ``pkg/config/validation.go:246``
accept ``engine: "jq"`` in rule configs — but never links an
interpreter: no gojq import exists anywhere in the tree, so a config
that selects the jq engine validates and then silently falls through.
Here the declared surface is made real for the subset of jq that maps
onto relational row transforms: each program compiles ONCE (driver-side
parse + type-propagation against the DataFrame schema) into native
Column expressions, so execution is whole-stage-codegen JVM work — a
per-event jq interpreter (what gojq would have been) is exactly the
row-at-a-time slow path this engine bans.

Supported subset (everything else raises ``JqError`` at compile time —
fail-loud, never silently wrong):

- paths ``.a``, ``.a.b`` (struct traversal), optional ``.a?`` (missing
  field -> null instead of compile error), array index ``.[0]``
- pipes ``f | g``, parentheses
- object construction ``{a, b: expr}`` (shorthand ``{a}`` == ``{a: .a}``),
  array construction ``[e1, e2]``
- literals: numbers, strings (with ``"\\(expr)"`` interpolation), true /
  false / null
- operators: ``+`` (numeric add / string concat / array concat by
  compile-time type), ``- * %``; ``/`` is float division like jq (both
  sides cast to double); comparisons ``== != < <= > >=`` with jq's
  TOTAL order on null (null == null → true, null sorts below every
  value: ``==`` compiles to null-safe equality, orders to isNull/
  isNotNull algebra — never SQL 3-valued null); ``and`` / ``or`` (jq
  truthiness: false and null are falsy, everything else truthy);
  alternative ``l // r`` (l if truthy else r)
- ``if c then a elif c2 then b else z end`` (``else`` required)
- ``select(f)`` as a ROW-context pipe stage (top-level, or inside a
  parenthesized group in top-level stage position) — compiles to a
  WHERE predicate; select in VALUE context (object values, ``//``
  operands, ``map`` bodies, interpolations) raises, since jq's
  empty-propagation there is not expressible as one Column
- builtins: ``length`` (string chars / array size), ``not``,
  ``tostring``, ``tonumber``, ``floor``, ``ceil``, ``round``, ``fabs``,
  ``sqrt``, ``ascii_downcase``, ``ascii_upcase``, ``ltrimstr(s)``,
  ``rtrimstr(s)``, ``startswith(s)``, ``endswith(s)``, ``test(re)``,
  ``gsub(re; repl)``, ``split(s)``, ``join(s)``, ``has(k)`` — argument
  separators are ``;`` as in jq, and string-typed builtin args must be
  literals (they parameterize the compiled expression)
- array builtins via Spark higher-order functions (per-element lambdas
  compile once and run JVM-side): ``map(f)``, ``any`` / ``any(f)``,
  ``all`` / ``all(f)``, ``add`` (numeric sum; [] sums to 0.0, where jq
  yields null), ``min``, ``max``, ``sort``, ``unique``, ``reverse``,
  ``first``, ``last``

Deliberately out of scope (all raise): stream iteration ``.[]`` and
``,`` streams (they change cardinality — that is ``explode``, not a
projection), ``reduce`` / ``foreach``, ``as`` bindings, function
definitions, ``sub`` (jq's first-match-only; use ``gsub``). The ``lua``
/ ``javascript`` engine types the reference also only declares are
executed the same way by ``functions/lua.py`` / ``functions/js.py``.

jq-vs-Spark numeric note: jq has one number type (float); this subset
keeps Spark's integer arithmetic for ``+ - * %`` (so long columns stay
long) and matches jq only for ``/`` (always float) and ``floor`` /
``ceil`` / ``round`` (always integer-typed, as jq produces integral
values there). ``tonumber`` yields double.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .lowering import (
    BOOL, DOUBLE, LONG, STR, Compiled, Compiler, Parser, ScriptError, Val,
    element_type, num_type, result_type, root_from_schema, same_type, transform,
)


class JqError(ScriptError):
    """Parse or compile error in a jq program (always compile-time)."""


# -- parser (recursive descent; AST = nested tuples) -------------------------


class _Parser(Parser):
    Error = JqError
    TOKEN_RE = re.compile(
        r"""
        (?P<ws>\s+)
      | (?P<num>\d+(?:\.\d+)?)
      | (?P<op>\.\.|//|==|!=|<=|>=|\||\.|\(|\)|\{|\}|\[|\]|:|;|,|\?|\+|-|\*|/|%|<|>)
      | (?P<ident>[A-Za-z_][A-Za-z0-9_]*)
        """,
        re.VERBOSE,
    )
    KEYWORDS = frozenset(
        {"and", "or", "if", "then", "elif", "else", "end", "true", "false", "null"}
    )
    QUOTES = {'"': ("str", {"n": "\n", "t": "\t", "r": "\r", '"': '"', "\\": "\\",
                            "/": "/"}, "\\(")}

    # pipe := alt ('|' alt)*
    def parse_pipe(self):
        stages = [self.parse_alt()]
        while self.at_op("|"):
            self.next()
            stages.append(self.parse_alt())
        return stages[0] if len(stages) == 1 else ("pipe", stages)

    # alt := or ('//' or)*   (right-assoc like jq)
    def parse_alt(self):
        left = self.binary(self.parse_and, ("or",), "or")
        if self.at_op("//"):
            self.next()
            return ("alt", left, self.parse_alt())
        return left

    def parse_and(self):
        return self.binary(self.parse_cmp, ("and",), "and")

    def parse_cmp(self):
        left = self.parse_add()
        if self.at_op("==", "!=", "<", "<=", ">", ">="):
            op = self.next().val
            return ("cmp", op, left, self.parse_add())
        return left

    def parse_add(self):
        return self.binary(self.parse_mul, ("+", "-"))

    def parse_mul(self):
        return self.binary(self.parse_unary, ("*", "/", "%"))

    def parse_unary(self):
        if self.at_op("-"):
            self.next()
            return ("neg", self.parse_unary())
        return self.parse_postfix()

    def parse_postfix(self):
        node = self.parse_primary()
        while True:
            if self.at_op("."):
                # lookahead: '.' IDENT  (path continuation on a value)
                if self.toks[self.i + 1].kind != "ident":
                    break
                self.next()
                node = self._field(node)
            elif self.at_op("["):
                self.next()
                node = ("index", node, self._index_literal())
            else:
                break
        return node

    def _field(self, base):
        """``NAME ['?']`` after a '.' → a field access on ``base``."""
        name = self.next().val
        opt = self.at_op("?")
        if opt:
            self.next()
        return ("field", base, name, opt)

    def parse_primary(self):
        t = self.peek()
        if t.kind == "op" and t.val == ".":
            self.next()
            if self.peek().kind == "ident":  # .a(.b)* path from the input
                return self._field(("identity",))
            if self.at_op("["):  # .[0]
                self.next()
                if self.at_op("]"):
                    raise JqError(".[] stream iteration is not expressible as a "
                                  "column transform (use explode outside jq)")
                return ("index", ("identity",), self._index_literal())
            return ("identity",)
        if t.kind == "num":
            self.next()
            return ("lit", t.val)
        if t.kind == "str":
            self.next()
            if all(kind == "lit" for kind, _ in t.val):
                return ("lit", "".join(s for _, s in t.val))
            return ("str", t.val)
        if t.kind == "kw" and t.val in ("true", "false", "null"):
            self.next()
            return ("lit", {"true": True, "false": False, "null": None}[t.val])
        if t.kind == "kw" and t.val == "if":
            return self.parse_if()
        if t.kind == "op" and t.val == "(":
            self.next()
            node = self.parse_pipe()
            self.expect("op", ")")
            return node
        if t.kind == "op" and t.val == "{":
            return self.parse_object()
        if t.kind == "op" and t.val == "[":
            return ("arr", self.delimited("[", "]", self.parse_alt))
        if t.kind == "ident":
            name = self.next().val
            args = []
            if self.at_op("("):
                args = self.delimited("(", ")", self.parse_pipe, ";", empty=False)
            return ("call", name, args)
        raise JqError(f"unexpected token {t.val!r} at {t.pos}")

    def _index_literal(self) -> int:
        """Parse the inside of '[n]' after '[' was consumed (n may be
        negative — jq counts from the end, as does element_at)."""
        neg = False
        if self.at_op("-"):
            self.next()
            neg = True
        idx = self.expect("num").val
        self.expect("op", "]")
        if not isinstance(idx, int):
            raise JqError("array index must be an integer literal")
        return -idx if neg else idx

    def parse_if(self):
        self.expect("kw", "if")
        branches = []
        cond = self.parse_pipe()
        self.expect("kw", "then")
        branches.append((cond, self.parse_pipe()))
        while self.at_kw("elif"):
            self.next()
            c = self.parse_pipe()
            self.expect("kw", "then")
            branches.append((c, self.parse_pipe()))
        if not self.at_kw("else"):
            raise JqError("if requires an explicit else branch in this subset")
        self.next()
        els = self.parse_pipe()
        self.expect("kw", "end")
        return ("if", branches, els)

    def parse_object(self):
        self.expect("op", "{")
        entries = []
        while True:
            t = self.next()
            if t.kind == "ident":
                key = t.val
            elif t.kind == "str":
                if len(t.val) != 1 or t.val[0][0] != "lit":
                    raise JqError("object keys must be plain strings")
                key = t.val[0][1]
            else:
                raise JqError(f"bad object key at {t.pos}")
            if self.at_op(":"):
                self.next()
                # value expr: anything up to ',' or '}' — parse_alt keeps
                # '|' available via parens, matching jq's {k: f} grammar
                entries.append((key, self.parse_alt()))
            else:
                entries.append((key, ("field", ("identity",), key, False)))
            if self.at_op(","):
                self.next()
                continue
            self.expect("op", "}")
            return ("obj", entries)


def parse(program: str):
    """Parse a jq program; returns the AST (raises JqError on syntax errors)."""
    p = _Parser(program)
    ast = p.parse_pipe()
    p.end("")
    return ast


# -- compiler ----------------------------------------------------------------
#
# The program input is either an object (dict of named values — the row)
# or a single value; a value's type of None means "unknown, assume
# numeric scalar".


def _truthy(v: Val) -> Column:
    if v.is_obj:
        return F.lit(True)  # an object is always truthy in jq
    if isinstance(v.dtype, T.BooleanType):
        return F.coalesce(v.col, F.lit(False))
    return v.col.isNotNull()


def _tostring(v: Val) -> Column:
    if isinstance(v.dtype, T.StringType):
        return v.col
    return v.col.cast("string")


# builtins that differ only in their Spark function and result type:
# name → (input kind, count of string-literal arguments — they
# parameterize the expression —, lowering of (input column, *literals),
# result type: fixed, or derived from the input's type)
_BUILTINS = {
    "tonumber": ("value", 0, lambda c: c.cast("double"), DOUBLE),
    # floor / ceil / round are integer-typed, as jq produces integral values
    "floor": ("value", 0, lambda c: F.floor(c.cast("double")), LONG),
    "ceil": ("value", 0, lambda c: F.ceil(c.cast("double")), LONG),
    "round": ("value", 0, lambda c: F.round(c.cast("double")).cast("long"), LONG),
    "fabs": ("value", 0, F.abs, same_type),
    "sqrt": ("value", 0, lambda c: F.sqrt(c.cast("double")), DOUBLE),
    "ascii_downcase": ("value", 0, F.lower, STR),
    "ascii_upcase": ("value", 0, F.upper, STR),
    "ltrimstr": ("value", 1, lambda c, s: F.when(
        c.startswith(s), c.substr(F.lit(len(s) + 1), F.length(c))).otherwise(c), STR),
    "rtrimstr": ("value", 1, lambda c, s: F.when(
        c.endswith(s), c.substr(F.lit(1), F.length(c) - len(s))).otherwise(c), STR),
    "startswith": ("value", 1, lambda c, s: c.startswith(s), BOOL),
    "endswith": ("value", 1, lambda c, s: c.endswith(s), BOOL),
    "test": ("value", 1, lambda c, s: c.rlike(s), BOOL),
    "gsub": ("value", 2, F.regexp_replace, STR),
    # jq add on a numeric array (sum); jq yields null on [], the
    # aggregate its 0.0 start (documented)
    "add": ("array", 0, lambda c: F.aggregate(
        c, F.lit(0.0), lambda acc, x: acc + x.cast("double")), DOUBLE),
    "min": ("array", 0, F.array_min, element_type),
    "max": ("array", 0, F.array_max, element_type),
    "sort": ("array", 0, F.sort_array, same_type),
    "reverse": ("array", 0, F.reverse, same_type),
    "unique": ("array", 0, lambda c: F.sort_array(F.array_distinct(c)), same_type),
    "first": ("array", 0, lambda c: F.try_element_at(c, F.lit(1)), element_type),
    "last": ("array", 0, lambda c: F.try_element_at(c, F.lit(-1)), element_type),
    "join": ("array", 1, F.array_join, STR),
}

# ``any`` / ``any(f)``, ``all`` / ``all(f)`` — jq truthiness per element
_QUANTIFIERS = {"any": F.exists, "all": F.forall}


class _Compiler(Compiler):
    Error = JqError
    LANG = "jq"

    # select() is legal only in ROW context — a top-level pipe stage, or
    # a pipe stage of a parenthesized group that is itself a top-level
    # stage — where it compiles to a WHERE predicate ANDed into
    # self.where. In VALUE context (object values, // operands, map
    # bodies, interpolations) jq's empty-propagation has no one-Column
    # equivalent: bubbling the predicate up to the global WHERE would
    # silently drop whole rows (e.g. `{a: ((.x | select(.y)) // "d")}`
    # keeps the row with a="d" in jq), and inside a higher-order lambda
    # the predicate references the lambda variable, unresolvable in a
    # row filter — so it raises instead.
    def run(self, ast, inp: Val) -> Val:
        self.where: Column | None = None
        return self._pipe_stages(ast, inp, top=True)

    def _pipe_stages(self, node, inp: Val, top: bool = False) -> Val:
        stages = node[1] if node[0] == "pipe" else [node]
        cur = inp
        for s in stages:
            if s[0] == "call" and s[1] == "select":
                if not top:
                    raise JqError(
                        "select() inside a value expression is not "
                        "expressible as one Column (the row-level WHERE "
                        "it compiles to cannot apply there); move it to "
                        "a top-level pipe stage"
                    )
                if len(s[2]) != 1:
                    raise JqError("select takes exactly one argument")
                pred = self._compile_pred(s[2][0], cur)
                self.where = pred if self.where is None else (self.where & pred)
                continue
            if s[0] == "pipe":
                # parenthesized pipe group in stage position keeps row
                # context: `(select(.a) | {id})` ≡ `select(.a) | {id}`
                cur = self._pipe_stages(s, cur, top=top)
                continue
            cur = self.compile(s, cur)
        return cur

    def _compile_pred(self, node, inp: Val) -> Column:
        """Compile a select() argument in WHERE context. Comparisons are
        already total (never-null — see _c_cmp), so they pass through
        pushable as-is; and/or trees compile operand-wise. Non-boolean
        values use jq truthiness (null→falsy), which a SQL WHERE's
        null-exclusion matches RAW (a `coalesce(p, false)` wrapper would
        block PushedFilters). `not` routes through the value path, whose
        coalesce gives jq's null flip (jq: null|not → true)."""
        if node[0] == "and":
            return self._compile_pred(node[2], inp) & self._compile_pred(node[3], inp)
        if node[0] == "or":
            return self._compile_pred(node[2], inp) | self._compile_pred(node[3], inp)
        v = self.compile(node, inp)
        if v.is_obj:
            return F.lit(True)
        if isinstance(v.dtype, T.BooleanType):
            return v.col  # null excluded by WHERE ≡ jq falsy-null
        return v.col.isNotNull()

    def _c_pipe(self, node, inp):
        return self._pipe_stages(node, inp)

    def _c_identity(self, node, inp):
        return inp

    def splice(self, payload: str, inp: Val) -> Val:  # "\(payload)"
        return self._pipe_stages(parse(payload), inp)

    stringify = staticmethod(_tostring)

    def _c_field(self, node, inp):
        _, base, name, opt = node
        b = self.compile(base, inp)
        if b.is_obj:
            if name in b.obj:
                return b.obj[name]
            if opt:
                return Val(F.lit(None), None)
            raise JqError(
                f".{name}: no such field (have: {sorted(b.obj)[:8]}...); "
                f"use .{name}? for optional access"
            )
        if isinstance(b.dtype, T.StructType):
            if name in b.dtype.fieldNames():
                return Val(b.col.getField(name), b.dtype[name].dataType)
            if opt:
                return Val(F.lit(None), None)
            raise JqError(f".{name}: struct has no field {name!r}")
        if b.dtype is None or opt:
            # unknown type (e.g. came through //) — late-bound getField
            return Val(b.col.getField(name) if b.col is not None else F.lit(None), None)
        raise JqError(f".{name}: cannot index a {b.dtype.simpleString()} value")

    def _c_index(self, node, inp):
        _, base, idx = node
        b = self.scalar(self.compile(base, inp), "[...]")
        if b.dtype is not None and not isinstance(b.dtype, T.ArrayType):
            raise JqError(f".[{idx}]: cannot index a {b.dtype.simpleString()}")
        # jq is 0-based and yields null out of range; element_at is 1-based
        # (negative jq indexes count from the end, like element_at's)
        pos = idx + 1 if idx >= 0 else idx
        return Val(F.try_element_at(b.col, F.lit(pos)), element_type(b.dtype))

    def _c_neg(self, node, inp):
        v = self.scalar(self.compile(node[1], inp), "unary -")
        return Val(-v.col, v.dtype)

    def _c_arith(self, node, inp):
        _, op, ln, rn = node
        l = self.scalar(self.compile(ln, inp), op)
        r = self.scalar(self.compile(rn, inp), op)
        if op == "+":
            if isinstance(l.dtype, T.StringType) or isinstance(r.dtype, T.StringType):
                if not (
                    (l.dtype is None or isinstance(l.dtype, T.StringType))
                    and (r.dtype is None or isinstance(r.dtype, T.StringType))
                ):
                    raise JqError("+: cannot add string and non-string (jq errors too; "
                                  "pipe through tostring)")
                return Val(F.concat(l.col, r.col), STR)
            if isinstance(l.dtype, T.ArrayType) or isinstance(r.dtype, T.ArrayType):
                return Val(F.concat(l.col, r.col), l.dtype or r.dtype)
            return Val(l.col + r.col, num_type(l, r))
        for d in (l, r):
            if d.dtype is not None and not isinstance(d.dtype, T.NumericType):
                raise JqError(f"{op}: requires numbers, got {d.dtype.simpleString()}")
        if op == "-":
            return Val(l.col - r.col, num_type(l, r))
        if op == "*":
            return Val(l.col * r.col, num_type(l, r))
        if op == "%":
            return Val(l.col % r.col, num_type(l, r))
        # '/' — jq division is always float
        return Val(l.col.cast("double") / r.col.cast("double"), DOUBLE)

    def _c_cmp(self, node, inp):
        _, op, ln, rn = node
        l = self.scalar(self.compile(ln, inp), op).col
        r = self.scalar(self.compile(rn, inp), op).col
        # jq comparisons are TOTAL: null is an ordinary value that sorts
        # below everything else (null == null → true, null < 5 → true,
        # .a != "x" with null .a → true). Raw SQL operators are 3-valued
        # and silently diverge on null operands — dropping rows a jq
        # select() keeps and emitting null where jq emits true/false. So
        # == compiles to null-safe equality (<=>, pushable as
        # EqualNullSafe) and the order comparisons to boolean algebra
        # over isNull/isNotNull (And/Or of pushable leaves — a CASE WHEN
        # form would block parquet pushdown). Every branch is never-null.
        if op in ("==", "!="):
            lit_null = ("lit", None)
            if ln == lit_null and rn == lit_null:
                expr = F.lit(op == "==")
            elif rn == lit_null or ln == lit_null:
                # literal-null comparand → the pushdown-native Is[Not]Null
                tgt = l if rn == lit_null else r
                expr = tgt.isNull() if op == "==" else tgt.isNotNull()
            elif op == "==":
                expr = l.eqNullSafe(r)
            else:
                expr = ~l.eqNullSafe(r)
        elif op == "<":
            expr = (l.isNull() & r.isNotNull()) | (r.isNotNull() & (l < r))
        elif op == "<=":
            expr = l.isNull() | (r.isNotNull() & (l <= r))
        elif op == ">":
            expr = (r.isNull() & l.isNotNull()) | (l.isNotNull() & (l > r))
        else:  # ">="
            expr = r.isNull() | (l.isNotNull() & (l >= r))
        return Val(expr, BOOL)

    def _c_and(self, node, inp):
        l = _truthy(self.compile(node[2], inp))
        r = _truthy(self.compile(node[3], inp))
        return Val(l & r, BOOL)

    def _c_or(self, node, inp):
        l = _truthy(self.compile(node[2], inp))
        r = _truthy(self.compile(node[3], inp))
        return Val(l | r, BOOL)

    def _c_alt(self, node, inp):
        l = self.scalar(self.compile(node[1], inp), "//")
        r = self.scalar(self.compile(node[2], inp), "//")
        return Val(F.when(_truthy(l), l.col).otherwise(r.col), l.dtype or r.dtype)

    def _c_if(self, node, inp):
        _, branches, els = node
        out: Column | None = None
        dt: T.DataType | None = None
        for cond, then in branches:
            c = _truthy(self.compile(cond, inp))
            t = self.scalar(self.compile(then, inp), "if-branch")
            out = F.when(c, t.col) if out is None else out.when(c, t.col)
            dt = dt or t.dtype
        e = self.scalar(self.compile(els, inp), "else-branch")
        return Val(out.otherwise(e.col), dt or e.dtype)

    # -- builtins ------------------------------------------------------------

    def _c_call(self, node, inp):
        _, name, args = node
        if name == "select":
            raise JqError("select is only supported as a pipe stage "
                          "(… | select(f) | …)")
        if name in _BUILTINS:
            kind, n, lower, out = _BUILTINS[name]
            self.argc(name, len(args), n)
            lits = [self.str_arg(args, i, name) for i in range(n)]
            v = self._array_in(inp, name) if kind == "array" else self.scalar(inp, name)
            return Val(lower(v.col, *lits), result_type(out, v.dtype))
        if name in _QUANTIFIERS:
            v = self._array_in(inp, name)
            self.argc(name, len(args), 0, 1)
            body = args[0] if args else ("identity",)
            el = element_type(v.dtype)
            return Val(_QUANTIFIERS[name](
                v.col, lambda x: _truthy(self.compile(body, Val(x, el)))), BOOL)
        fn = getattr(self, f"_fn_{name}", None)
        if fn is None:
            raise JqError(f"unsupported jq function: {name}")
        return fn(args, inp)

    def _array_in(self, inp: Val, what: str) -> Val:
        v = self.scalar(inp, what)
        if v.dtype is not None and not isinstance(v.dtype, T.ArrayType):
            raise JqError(f"{what}: input must be an array, got "
                          f"{v.dtype.simpleString()}")
        return v

    def _fn_length(self, args, inp):
        self.argc("length", len(args), 0)
        return Val(self.length(self.scalar(inp, "length"), "length"), T.IntegerType())

    def _fn_not(self, args, inp):
        self.argc("not", len(args), 0)
        return Val(~_truthy(inp), BOOL)

    def _fn_tostring(self, args, inp):
        self.argc("tostring", len(args), 0)
        return Val(_tostring(self.scalar(inp, "tostring")), STR)

    def _fn_split(self, args, inp):
        self.argc("split", len(args), 1)
        sep = self.str_arg(args, 0, "split")
        if not sep:
            raise JqError("split: separator must be non-empty")
        # jq splits on a LITERAL separator; F.split takes a regex
        return Val(F.split(self.scalar(inp, "split").col, re.escape(sep)), T.ArrayType(STR))

    def _fn_map(self, args, inp):
        """jq ``map(f)`` → ``F.transform``: f runs per element, compiled
        once against the element type — no iteration leaves the JVM."""
        self.argc("map", len(args), 1)
        v = self._array_in(inp, "map")
        el = element_type(v.dtype)
        out_dtype: list = [None]

        def _f(x: Column) -> Column:
            r = self.scalar(self.compile(args[0], Val(x, el)), "map body")
            out_dtype[0] = r.dtype
            return r.col

        col = F.transform(v.col, _f)
        return Val(col, T.ArrayType(out_dtype[0]) if out_dtype[0] else None)

    def _fn_has(self, args, inp):
        self.argc("has", len(args), 1)
        key = self.str_arg(args, 0, "has")
        if inp.is_obj:
            return Val(F.lit(key in inp.obj), BOOL)
        if isinstance(inp.dtype, T.StructType):
            return Val(F.lit(key in inp.dtype.fieldNames()), BOOL)
        raise JqError("has: input must be an object")


# -- public API --------------------------------------------------------------

_NOT_A_PREDICATE = ("predicate must be a boolean jq expression (filter-only), "
                    "not a projection")


def _lower(ast, schema: T.StructType, cols: dict[str, Column] | None = None) -> Compiled:
    comp = _Compiler()
    root = root_from_schema(schema, cols)
    out = comp.run(ast, root)
    if not out.is_obj:
        raise JqError(
            "program must produce an object ({...}) or be filter-only; "
            "a bare scalar result has no column name"
        )
    if out.obj is root.obj:  # filter-only program: '.' passed through
        return Compiled(None, comp.where)
    return Compiled.of(out, comp.where)


def compile_program(
    program: str,
    schema: T.StructType,
    cols: dict[str, Column] | None = None,
) -> Compiled:
    """Compile ``program`` against a row ``schema``.

    The input object ``.`` is the row; ``.col`` is a column reference.
    The program must end in an object construction (a projection), or in
    the identity (filter-only programs like ``select(.a > 1)``).
    ``cols`` optionally maps field names to the Column expressions that
    back them (the transform engine's payload dict mid-chain); defaults
    to ``F.col(name)``.
    """
    return _lower(parse(program), schema, cols)


def parse_predicate(program: str):
    """Parse a boolean jq expression (the CustomFilter shape) as the
    ``select(...)`` it filters by. Spark-free, so config validation runs
    it. A final object construction raises: as a select() argument it
    would keep EVERY row (any jq object is truthy)."""
    ast = parse(program)
    stages = ast[1] if ast[0] == "pipe" else [ast]
    if stages[-1][0] == "obj":
        raise JqError(_NOT_A_PREDICATE)
    if stages[0][:2] != ("call", "select"):
        ast = ("call", "select", [ast])
    return ast


def compile_predicate(program: str, schema: T.StructType) -> Column:
    """Compile a boolean jq expression to one WHERE Column (jq
    truthiness: null and false drop the row)."""
    compiled = _lower(parse_predicate(program), schema)
    if compiled.columns is not None:
        raise JqError(_NOT_A_PREDICATE)
    return compiled.where


def jq_transform(df: DataFrame, program: str) -> DataFrame:
    """Apply a jq program to a DataFrame: selects become WHERE, the
    final object becomes the projection. One driver-side compile; the
    executed plan is pure Column expressions (no Python in the path)."""
    return transform(df, compile_program(program, df.schema))

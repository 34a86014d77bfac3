"""JavaScript transform engine — an ES-expression subset compiled to
Spark Column expressions (zero Python in the data path).

The reference declares ``"javascript"`` as a transform-engine type
(``pkg/transform/models.go:30,59``, accepted by
``pkg/config/validation.go:246``) and a ``CustomFilter`` described as a
"JavaScript expression" (``pkg/models/types.go:226``) — but never links
an interpreter (no goja/otto import in the tree), so both validate
upstream and silently do nothing. Here the declared surface is made
real the same way the jq engine was (``functions/jq.py``): the program
compiles ONCE driver-side against the DataFrame schema into native
Column expressions — never a per-event interpreter.

Two entry points:

- ``compile_program`` — ``return { name: expr, ... }`` (or a
  parenthesized object literal): the returned object is the new payload
  (same contract as the jq engine's final object). The input row is
  ``row`` (alias ``event``).
- ``compile_predicate`` — a boolean expression → one WHERE Column (the
  CustomFilter shape; JS truthiness applied to non-boolean results).

Supported subset (anything else raises ``JsError`` at compile time):

- values: numbers, ``'s'`` / ``"s"`` strings, template literals
  ``` `a ${expr} b` ``` (String() coercion on the splices),
  ``true/false``, ``null`` and ``undefined`` (both map to SQL null —
  a Spark column has ONE absent value, so ``undefined === null`` is
  true here where JS says false; documented conflation)
- ``row.field`` / nested struct traversal; ``row.xs[i]`` (0-based;
  out of range → undefined); absent properties read as undefined, but
  accessing a property THROUGH null/undefined is a TypeError →
  statically-undefined bases are compile errors, nullable bases get a
  runtime ``raise_error`` guard — unless you use optional chaining
  ``?.``, which propagates null exactly like JS
- operators with JS's coercion semantics:
  - ``===`` / ``!==`` (strict; different static type categories are
    constant false/true). Loose ``==`` / ``!=`` are compile errors —
    the full coercion table would silently surprise; use ``===``
  - ``< <= > >=`` — both-strings compare lexicographically (a null
    operand → false, matching JS's Number(string-or-null) NaN path);
    otherwise numeric with ``Number()`` coercion: null → 0 (so
    ``null < 5`` is true, as in JS) and unparseable strings → NaN →
    false
  - ``+`` — string concatenation when either side is a string (other
    side coerced via ``String()``: null → ``"null"``, integral doubles
    render without the ``.0`` as JS does, exact to 2^63), numeric
    otherwise with null → 0
  - ``- * / %`` — numeric, null → 0; ``/`` is always float; ``%`` is
    JS's truncated remainder (sign follows the dividend — Spark's
    native rule, unlike Lua's floored ``%``)
  - ``&&`` / ``||`` — VALUE semantics (yield an operand, not a
    boolean); ``??`` nullish coalescing → ``coalesce``; ``c ? a : b``
  - ``!``, unary ``-`` / ``+`` (``Number()`` coercion)
  - JS truthiness throughout: false, 0, "" and null/undefined are
    falsy; NaN-falsiness is NOT reproduced (a NaN double is truthy
    here; documented)
- properties/methods (TypeError-guarded on nullable bases, ``?.``-safe):
  ``.length`` (string chars / array size), ``.toUpperCase()``,
  ``.toLowerCase()``, ``.trim()``, ``.startsWith(e)``, ``.endsWith(e)``,
  ``.includes(e)`` (string or array), ``.split(sep)`` / ``.join(sep)``
  / ``.replaceAll(find, repl)`` / ``.charAt(i)`` / ``.slice(i[, j])``
  (string: 0-based end-exclusive negatives-from-end clamped, JS's exact
  rules; sep/find/repl/i/j must be literals — they parameterize the
  compiled expression)
- globals: ``Math.floor/ceil/trunc/abs/sqrt/pow/max/min`` and
  ``Math.round`` (JS's half-toward-+∞, not SQL HALF_UP),
  ``String(x)``, ``Number(x)`` (``Number("") === 0`` reproduced),
  ``parseInt(x)`` / ``parseFloat(x)`` (leading-prefix parse,
  ``"12px"`` → 12; no-digits → null for JS's NaN)

Deliberately out of scope (all raise, never silently diverge): loose
``==``, ``=`` assignments, functions/arrow lambdas, ``typeof``,
regex literals and ``.replace`` (first-match-only; use
``.replaceAll``), ``new``, statements beyond one ``return``-expression.
NaN has no column representation — where JS yields NaN this engine
yields null (the SQL cast behavior), documented per-operator above.
"""

from __future__ import annotations

import operator
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .lowering import (
    BOOL, DOUBLE, LONG, STR, Compiled, Compiler, Parser, ScriptError, Val, cat,
    element_type, root_from_schema, transform,
)


class JsError(ScriptError):
    """Parse or compile error in a JavaScript program (always compile-time)."""


# -- parser -------------------------------------------------------------------

_STR_ESC = {"n": "\n", "t": "\t", "r": "\r", '"': '"', "'": "'", "\\": "\\",
            "`": "`", "$": "$", "/": "/"}


class _Parser(Parser):
    Error = JsError
    TOKEN_RE = re.compile(
        r"""
        (?P<ws>\s+|//[^\n]*|/\*.*?\*/)
      | (?P<num>\d+(?:\.\d+)?|\.\d+)
      | (?P<op>===|!==|==|!=|<=|>=|&&|\|\||\?\?|\?\.|[<>+\-*/%!?:.,;(){}\[\]])
      | (?P<ident>[A-Za-z_$][A-Za-z0-9_$]*)
        """,
        re.VERBOSE | re.DOTALL,
    )
    KEYWORDS = frozenset({"return", "true", "false", "null", "undefined"})
    # template literals (`a ${expr} b`) lex to ("lit" | "expr") parts
    QUOTES = {"'": ("str", _STR_ESC, None), '"': ("str", _STR_ESC, None),
              "`": ("tmpl", _STR_ESC, "${")}

    def __init__(self, src: str):
        super().__init__(src)
        for t in self.toks:
            if t.kind == "op" and t.val in ("==", "!="):
                raise JsError(
                    f"loose {t.val} at {t.pos}: its coercion table is "
                    f"not supported — use strict {t.val}="
                )

    # ternary := nullish ('?' expr ':' expr)?
    def parse_expr(self):
        cond = self.binary(self.parse_or, ("??",), "nullish")
        if self.at_op("?"):
            self.next()
            a = self.parse_expr()
            self.expect("op", ":")
            b = self.parse_expr()
            return ("ternary", cond, a, b)
        return cond

    def parse_or(self):
        return self.binary(self.parse_and, ("||",), "or")

    def parse_and(self):
        return self.binary(self.parse_eq, ("&&",), "and")

    def parse_eq(self):
        return self.binary(self.parse_rel, ("===", "!=="), "eq")

    def parse_rel(self):
        left = self.parse_add()
        if self.at_op("<", "<=", ">", ">="):
            op = self.next().val
            return ("rel", op, left, self.parse_add())
        return left

    def parse_add(self):
        return self.binary(self.parse_mul, ("+", "-"))

    def parse_mul(self):
        return self.binary(self.parse_unary, ("*", "/", "%"))

    def parse_unary(self):
        if self.at_op("!"):
            self.next()
            return ("not", self.parse_unary())
        if self.at_op("-"):
            self.next()
            return ("neg", self.parse_unary())
        if self.at_op("+"):
            self.next()
            return ("tonum", self.parse_unary())
        return self.parse_postfix()

    def parse_postfix(self):
        node = self.parse_primary()
        while True:
            if self.at_op(".", "?."):
                opt = self.next().val == "?."
                name = self.expect("ident").val
                if self.at_op("("):
                    node = ("method", node, name, self._call_args(), opt)
                else:
                    node = ("member", node, name, opt)
            elif self.at_op("["):
                self.next()
                idx = self.parse_expr()
                self.expect("op", "]")
                node = ("index", node, idx)
            else:
                break
        return node

    def _call_args(self) -> list:
        return self.delimited("(", ")", self.parse_expr)

    def parse_primary(self):
        t = self.peek()
        if t.kind in ("num", "str"):
            self.next()
            return ("lit", t.val)
        if t.kind == "tmpl":
            self.next()
            return ("str", t.val)
        if t.kind == "kw" and t.val in ("true", "false", "null", "undefined"):
            self.next()
            return ("lit", {"true": True, "false": False,
                            "null": None, "undefined": None}[t.val])
        if t.kind == "op" and t.val == "(":
            self.next()
            node = self.parse_expr()
            self.expect("op", ")")
            return node
        if t.kind == "op" and t.val == "{":
            return self.parse_object()
        if t.kind == "op" and t.val == "[":
            return ("arr", self.delimited("[", "]", self.parse_expr))
        if t.kind == "ident":
            name = self.next().val
            if self.at_op("(") and name not in ("row", "event", "Math"):
                return ("call", name, self._call_args())
            return ("name", name)
        raise JsError(f"unexpected token {t.val!r} at {t.pos}")

    def parse_object(self):
        self.expect("op", "{")
        entries = []
        while not self.at_op("}"):
            t = self.next()
            if t.kind in ("ident", "kw", "str"):
                key = t.val
            else:
                raise JsError(f"bad object key at {t.pos}")
            if not self.at_op(":"):
                raise JsError(
                    f"object shorthand {{{key}}} at {t.pos} would reference an "
                    f"undeclared variable in real JS — write {key}: row.{key}"
                )
            self.next()
            entries.append((key, self.parse_expr()))
            if self.at_op(","):
                self.next()
            elif not self.at_op("}"):
                raise JsError(f"expected , or }} at {self.peek().pos}")
        self.next()
        return ("obj", entries)


def parse(program: str):
    """Parse an expression program (optionally ``return``-prefixed,
    optionally ``;``-terminated); returns the AST."""
    p = _Parser(program)
    if p.at_kw("return"):
        p.next()
    ast = p.parse_expr()
    if p.at_op(";"):
        p.next()
    p.end(" (one expression only)")
    return ast


# -- compiler -----------------------------------------------------------------


def _truthy(v: Val) -> Column:
    # JS: false, 0, "", null/undefined are falsy (NaN divergence documented)
    if v.is_obj:
        return F.lit(True)
    c = cat(v.dtype)
    if c == "boolean":
        return F.coalesce(v.col, F.lit(False))
    if c == "number":
        return F.coalesce(v.col != F.lit(0), F.lit(False))
    if c == "string":
        return v.col.isNotNull() & (F.length(v.col) != F.lit(0))
    return v.col.isNotNull()


_ORDER = {"<": operator.lt, "<=": operator.le, ">": operator.gt, ">=": operator.ge}

# methods: name → (argument count range, base category — None: string
# or array, lowering of (base column, *argument columns) — None: the
# _m_<name> method —, result type)
_METHODS = {
    "toUpperCase": (0, 0, "string", F.upper, STR),
    "toLowerCase": (0, 0, "string", F.lower, STR),
    "trim": (0, 0, "string", F.trim, STR),
    "startsWith": (1, 1, "string", lambda c, a: c.startswith(a), BOOL),
    "endsWith": (1, 1, "string", lambda c, a: c.endswith(a), BOOL),
    "includes": (1, 1, None, None, BOOL),
    "split": (1, 1, "string", None, T.ArrayType(STR)),
    "join": (0, 1, "array", None, STR),
    "replaceAll": (2, 2, "string", None, STR),
    "charAt": (1, 1, "string", None, STR),
    "slice": (1, 2, "string", None, STR),
}

# one-argument Math functions on the Number()-coerced argument
_MATH = {
    "floor": (F.floor, LONG),
    "ceil": (F.ceil, LONG),
    # JS rounds half toward +∞ (Math.round(-2.5) === -2), unlike
    # SQL's HALF_UP-away-from-zero
    "round": (lambda c: F.floor(c + F.lit(0.5)), LONG),
    "trunc": (lambda c: c.cast("long"), LONG),
    "abs": (F.abs, DOUBLE),
    "sqrt": (F.sqrt, DOUBLE),
}

# leading-prefix number parses ("12px" → 12; no digits → null for NaN):
# name → (prefix regex, cast type, result type)
_PARSE_NUM = {
    "parseInt": (r"^[+-]?\d+", "long", LONG),
    "parseFloat": (r"^[+-]?(\d+\.?\d*|\.\d+)", "double", DOUBLE),
}


class _Compiler(Compiler):
    Error = JsError
    LANG = "JavaScript"
    OBJ_NOUN = "the row object"
    ROW_VALUE_ERROR = "the whole row object is not a value; project fields"
    NAME_NOUN = "identifier"
    MIXED_HINT = " — use a ternary (cond ? x : y) instead"

    def splice(self, payload: str, inp: Val) -> Val:  # `${payload}`
        return self.compile(parse(payload), inp)

    def stringify(self, v: Val) -> Column:
        """String(x): null/undefined → 'null' (the JS null rendering;
        undefined's 'undefined' is conflated — one SQL null), booleans →
        'true'/'false', integral doubles render without '.0' as all JS
        numbers are doubles (exact to 2^63)."""
        if v.known_nil:
            return F.lit("null")
        if isinstance(v.dtype, T.FractionalType):
            as_long = v.col.cast("long")
            s = F.when(
                as_long.cast("double").eqNullSafe(v.col), as_long.cast("string")
            ).otherwise(v.col.cast("string"))
        else:
            s = v.col.cast("string")
        return F.coalesce(s, F.lit("null"))

    def _to_number(self, v: Val) -> Val:
        """Number(x): null → 0, '' → 0, booleans → 0/1, unparseable →
        null (JS NaN has no column representation; documented)."""
        if v.known_nil:
            return Val(F.lit(0.0), DOUBLE, nn=True)
        c = cat(v.dtype)
        if c == "boolean":
            out = F.coalesce(v.col.cast("int").cast("double"), F.lit(0.0))
            return Val(out, DOUBLE, nn=True)
        if c == "string":
            out = (
                F.when(v.col.isNull() | (F.trim(v.col) == ""), F.lit(0.0))
                .otherwise(v.col.cast("double"))
            )
            return Val(out, DOUBLE)
        if c in (None, "number"):
            return Val(F.coalesce(v.col.cast("double"), F.lit(0.0)), DOUBLE, nn=True)
        raise JsError(f"Number(): cannot coerce a {c} value")

    # property access through null/undefined is a TypeError → raise_error
    # (skipped for ?.-chained access, which null-propagates like JS)
    def _type_guard(self, base: Val, result: Column, what: str, opt: bool) -> Column:
        if opt or base.nn:
            return result
        return F.when(
            base.col.isNull(),
            F.raise_error(F.lit(f"js: TypeError: cannot read {what} of null "
                                f"(use ?. to null-propagate)")),
        ).otherwise(result)

    def _c_member(self, node, inp):
        _, base, name, opt = node
        b = self.compile(base, inp)
        if b.is_obj:
            if name in b.obj:
                return b.obj[name]
            return Val(F.lit(None), None, known_nil=True)
        if b.known_nil:
            raise JsError(
                f".{name}: TypeError — the base is statically null/undefined"
            )
        if name == "length":
            out = self.length(b, ".length").cast("long")
            return Val(self._type_guard(b, out, ".length", opt), LONG, nn=b.nn)
        if isinstance(b.dtype, T.StructType):
            if name not in b.dtype.fieldNames():
                return Val(F.lit(None), None, known_nil=True)
            out = self._type_guard(b, b.col.getField(name), f".{name}", opt)
            return Val(out, b.dtype[name].dataType)
        raise JsError(f".{name}: cannot read properties of a {cat(b.dtype)} value")

    def _c_index(self, node, inp):
        _, base, idxn = node
        b = self.scalar(self.compile(base, inp), "[...]")
        if b.known_nil:
            raise JsError("[...]: TypeError — the base is statically null/undefined")
        if b.dtype is not None and not isinstance(b.dtype, T.ArrayType):
            raise JsError(f"[...]: only array indexing is supported, got "
                          f"{cat(b.dtype)}")
        idx = self.scalar(self.compile(idxn, inp), "index")
        # JS is 0-based; element_at is 1-based; out of range → undefined
        out = F.try_element_at(b.col, (idx.col + F.lit(1)).cast("int"))
        return Val(self._type_guard(b, out, "[...]", False), element_type(b.dtype))

    def _c_ternary(self, node, inp):
        c = _truthy(self.compile(node[1], inp))
        a = self.scalar(self.compile(node[2], inp), "?:")
        b = self.scalar(self.compile(node[3], inp), "?:")
        dt = self._unify(a, b)
        return Val(F.when(c, a.col).otherwise(b.col), dt, nn=a.nn and b.nn)

    def _c_nullish(self, node, inp):
        l = self.scalar(self.compile(node[2], inp), "??")
        r = self.scalar(self.compile(node[3], inp), "??")
        dt = self._unify(l, r)
        return Val(F.coalesce(l.col, r.col), dt, nn=l.nn or r.nn)

    @staticmethod
    def _unify(l: Val, r: Val) -> T.DataType | None:
        """Declared type of a two-branch value (&&/||/??/?:): when the
        branches mix integer and fractional NUMBER types, Spark coerces
        the actual column to the wider type — the declared dtype must
        follow, or String() coercion downstream reads a lying integral
        dtype and renders '-1.0' where JS (one number type) says '-1'
        (caught by test_js_differential.py)."""
        if l.dtype == r.dtype:
            return l.dtype or r.dtype
        if cat(l.dtype) == "number" and cat(r.dtype) == "number":
            if isinstance(l.dtype, T.FractionalType) or isinstance(
                r.dtype, T.FractionalType
            ):
                return DOUBLE
            return LONG
        return l.dtype or r.dtype

    def _c_or(self, node, inp):
        ln, rn = node[2], node[3]
        if ln[0] == "and":
            # `cond && b || c`: one CASE WHEN — exact JS semantics when b
            # is statically never falsy (a truthy literal, or a non-null
            # array/object); otherwise generic value semantics below
            # (mixed types then raise rather than silently coerce)
            cond = self.compile(ln[2], inp)
            bn = ln[3]
            b = self.scalar(self.compile(bn, inp), "&&")
            never_falsy = (
                (bn[0] == "lit" and bool(bn[1]))
                or (b.nn and cat(b.dtype) in ("array", "object"))
            )
            if never_falsy:
                c = self.scalar(self.compile(rn, inp), "||")
                dt = self._unify(b, c)
                return Val(
                    F.when(_truthy(cond), b.col).otherwise(c.col), dt,
                    nn=b.nn and c.nn,
                )
        l = self.scalar(self.compile(ln, inp), "||")
        r = self.scalar(self.compile(rn, inp), "||")
        self.mixed_check(l, r, "||")
        if l.nn and r.nn and cat(l.dtype) == "boolean" \
                and cat(r.dtype) == "boolean":
            # both non-null booleans: plain OR (true || b ≡ true,
            # false || b ≡ b) — stays pushable
            return Val(l.col | r.col, BOOL, nn=True)
        dt = self._unify(l, r)
        return Val(F.when(_truthy(l), l.col).otherwise(r.col), dt, nn=r.nn)

    def _c_and(self, node, inp):
        l = self.scalar(self.compile(node[2], inp), "&&")
        r = self.scalar(self.compile(node[3], inp), "&&")
        self.mixed_check(l, r, "&&")
        if l.nn and r.nn and cat(l.dtype) == "boolean" \
                and cat(r.dtype) == "boolean":
            # both non-null booleans: value semantics collapse to plain
            # AND (true && b ≡ b, false && b ≡ false) — stays pushable
            return Val(l.col & r.col, BOOL, nn=True)
        dt = self._unify(l, r)
        return Val(F.when(_truthy(l), r.col).otherwise(l.col), dt, nn=l.nn and r.nn)

    def _c_not(self, node, inp):
        return Val(~_truthy(self.compile(node[1], inp)), BOOL, nn=True)

    def _c_neg(self, node, inp):
        v = self._to_number(self.scalar(self.compile(node[1], inp), "unary -"))
        return Val(-v.col, DOUBLE, nn=v.nn)

    def _c_tonum(self, node, inp):
        return self._to_number(self.scalar(self.compile(node[1], inp), "unary +"))

    def _c_eq(self, node, inp):
        _, op, ln, rn = node
        l = self.scalar(self.compile(ln, inp), op)
        r = self.scalar(self.compile(rn, inp), op)
        lc, rc = cat(l.dtype), cat(r.dtype)
        if lc is not None and rc is not None and lc != rc:
            # strict equality never coerces: different types → false
            return Val(F.lit(op == "!=="), BOOL, nn=True)
        expr = l.col.eqNullSafe(r.col)
        return Val(expr if op == "===" else ~expr, BOOL, nn=True)

    @staticmethod
    def _num_const(node) -> float | None:
        """The Python value of a numeric-literal AST node (incl. unary
        minus), else None."""
        if node[0] == "lit" and isinstance(node[1], (int, float)) \
                and not isinstance(node[1], bool):
            return float(node[1])
        if node[0] == "neg":
            inner = _Compiler._num_const(node[1])
            return None if inner is None else -inner
        return None

    def _c_rel(self, node, inp):
        _, op, ln, rn = node
        l = self.scalar(self.compile(ln, inp), op)
        r = self.scalar(self.compile(rn, inp), op)
        if cat(l.dtype) == "string" and cat(r.dtype) == "string":
            # both strings: lexicographic; a null operand takes JS's
            # Number() path → NaN → every comparison false
            return Val(l.col.isNotNull() & r.col.isNotNull() & _ORDER[op](l.col, r.col),
                       BOOL, nn=True)
        # Pushdown-friendly form: a plain numeric column vs a numeric
        # literal folds the null→0 coercion into isNull/isNotNull algebra
        # instead of a coalesce() the parquet scan cannot push — same
        # results bit-for-bit, but the comparison reaches PushedFilters
        # (the jq engine's approach — see functions/jq.py's null-order
        # note; Spark's UnwrapCastInBinaryComparison then strips the
        # widening cast so the raw column predicate lands on the scan).
        for col_v, const in ((l, self._num_const(rn)), (r, self._num_const(ln))):
            if const is None or not isinstance(col_v.dtype, T.NumericType) \
                    or col_v.known_nil:
                continue
            a, b = (col_v.col.cast("double"), F.lit(const))
            raw = _ORDER[op](a, b) if col_v is l else _ORDER[op](b, a)
            if col_v.nn:
                return Val(raw, BOOL, nn=True)
            null_res = _ORDER[op](0.0, const) if col_v is l else _ORDER[op](const, 0.0)
            if null_res:
                return Val(col_v.col.isNull() | raw, BOOL, nn=True)
            return Val(col_v.col.isNotNull() & raw, BOOL, nn=True)
        ln_, rn_ = self._to_number(l), self._to_number(r)
        # an unparseable string coerced to null (JS NaN) → comparison false
        return Val(F.coalesce(_ORDER[op](ln_.col, rn_.col), F.lit(False)), BOOL, nn=True)

    def _c_arith(self, node, inp):
        _, op, ln, rn = node
        l = self.scalar(self.compile(ln, inp), op)
        r = self.scalar(self.compile(rn, inp), op)
        if op == "+" and ("string" in (cat(l.dtype), cat(r.dtype))):
            return Val(
                F.concat(self.stringify(l), self.stringify(r)), STR, nn=True
            )
        for v in (l, r):
            if cat(v.dtype) not in (None, "number", "boolean"):
                raise JsError(f"{op}: cannot apply to a {cat(v.dtype)} value")
        ln_, rn_ = self._to_number(l), self._to_number(r)
        both_int = (
            isinstance(l.dtype, T.IntegralType) and isinstance(r.dtype, T.IntegralType)
            and l.nn and r.nn
        )
        # null→0 coercion forces the double path unless both sides are
        # statically non-null integers (then keep exact long arithmetic)
        if both_int and op in ("+", "-", "*", "%"):
            out = {"+": l.col + r.col, "-": l.col - r.col,
                   "*": l.col * r.col, "%": l.col % r.col}[op]
            return Val(out, LONG, nn=True)
        out = {"+": ln_.col + rn_.col, "-": ln_.col - rn_.col,
               "*": ln_.col * rn_.col, "/": ln_.col / rn_.col,
               "%": ln_.col % rn_.col}[op]
        return Val(out, DOUBLE, nn=ln_.nn and rn_.nn)

    # -- methods ---------------------------------------------------------------

    def _c_method(self, node, inp):
        _, basen, name, args, opt = node
        if basen == ("name", "Math"):
            return self._math(name, args, inp)
        b = self.scalar(self.compile(basen, inp), f".{name}()")
        if b.known_nil:
            raise JsError(f".{name}(): TypeError — the base is statically "
                          f"null/undefined")
        if name not in _METHODS:
            if name == "replace":
                raise JsError(".replace() replaces only the first match in JS — "
                              "use .replaceAll(find, repl)")
            raise JsError(f"unsupported method .{name}()")
        vals = [self.scalar(self.compile(a, inp), f".{name}()") for a in args]
        lo, hi, base, lower, dt = _METHODS[name]
        self.argc(f".{name}()", len(vals), lo, hi)
        allowed = (base,) if base else ("string", "array")
        if cat(b.dtype) not in (None, *allowed):
            kind = {"string": "a string", "array": "an array", None: "a string or array"}
            raise JsError(f".{name}(): base must be {kind[base]}, got {cat(b.dtype)}")
        if lower is not None:
            out = lower(b.col, *[v.col for v in vals])
        else:
            out = getattr(self, f"_m_{name}")(b, args, vals)
        return Val(self._type_guard(b, out, f".{name}", opt), dt, nn=b.nn)

    def _m_includes(self, b, args, vals):
        if isinstance(b.dtype, T.ArrayType):
            return F.array_contains(b.col, vals[0].col)
        return b.col.contains(vals[0].col)

    def _m_split(self, b, args, vals):
        sep = self.str_arg(args, 0, ".split()")
        if not sep:
            raise JsError(".split(''): per-character splits are not supported")
        return F.split(b.col, re.escape(sep))

    def _m_join(self, b, args, vals):
        return F.array_join(b.col, self.str_arg(args, 0, ".join()") if vals else ",")

    def _m_replaceAll(self, b, args, vals):
        find = self.str_arg(args, 0, ".replaceAll()")
        repl = self.str_arg(args, 1, ".replaceAll()")
        return F.regexp_replace(b.col, re.escape(find), repl.replace("\\", "\\\\"))

    def _m_charAt(self, b, args, vals):
        i = self.int_arg(args, 0, ".charAt()")
        # JS: out of range → ""
        return F.lit("") if i < 0 else F.substring(b.col, i + 1, 1)

    def _m_slice(self, b, args, vals):
        """JS String.prototype.slice: 0-based, end-exclusive, negative
        indexes count from the end, clamped to [0, len]."""
        slen = F.length(b.col)

        def bound(k: int) -> Column:
            i = self.int_arg(args, k, ".slice()")
            return F.least(F.lit(i), slen) if i >= 0 else F.greatest(slen + F.lit(i), F.lit(0))

        start = bound(0)
        stop = bound(1) if len(args) > 1 else slen
        return F.substring(b.col, start + F.lit(1), F.greatest(stop - start, F.lit(0)))

    # -- globals -----------------------------------------------------------------

    def _math(self, name: str, args: list, inp: Val) -> Val:
        vals = [self.scalar(self.compile(a, inp), f"Math.{name}") for a in args]
        nums = [self._to_number(v) for v in vals]
        if name in _MATH:
            self.argc(f"Math.{name}()", len(nums), 1)
            lower, out = _MATH[name]
            return Val(lower(nums[0].col), out, nn=True)
        if name == "pow":
            self.argc("Math.pow()", len(nums), 2)
            return Val(F.pow(nums[0].col, nums[1].col), DOUBLE, nn=True)
        if name in ("max", "min"):
            if not nums:
                raise JsError(f"Math.{name}() needs at least one argument")
            f = F.greatest if name == "max" else F.least
            out = nums[0].col if len(nums) == 1 else f(*[n.col for n in nums])
            return Val(out, DOUBLE, nn=True)
        raise JsError(f"unsupported Math.{name}")

    def _c_call(self, node, inp):
        _, name, args = node
        vals = [self.scalar(self.compile(a, inp), name) for a in args]
        if name not in ("String", "Number") and name not in _PARSE_NUM:
            raise JsError(f"unsupported function {name}()")
        self.argc(f"{name}()", len(vals), 1)
        if name == "String":
            return Val(self.stringify(vals[0]), STR, nn=True)
        if name == "Number":
            return self._to_number(vals[0])
        prefix, to, dt = _PARSE_NUM[name]
        num = F.regexp_extract(F.trim(vals[0].col.cast("string")), prefix, 0)
        return Val(F.when(num == "", F.lit(None)).otherwise(num.cast(to)), dt)


# -- public API ----------------------------------------------------------------


def compile_program(
    program: str,
    schema: T.StructType,
    cols: dict[str, Column] | None = None,
) -> Compiled:
    """Compile ``return { ... }`` (or a parenthesized object literal)
    against a row ``schema``. ``cols`` optionally maps field names to
    the Column expressions backing them (the transform engine's payload
    dict mid-chain)."""
    ast = parse(program)
    if ast[0] != "obj":
        raise JsError("program must return an object literal "
                      "{ name: expr, ... } (the new payload)")
    return Compiled.of(_Compiler().compile(ast, root_from_schema(schema, cols)))


def parse_predicate(program: str):
    """Parse a boolean JS expression (the CustomFilter shape) — Spark-free,
    so config validation runs it; an object literal raises."""
    ast = parse(program)
    if ast[0] == "obj":
        raise JsError("predicate must be a boolean expression, not an object literal")
    return ast


def compile_predicate(program: str, schema: T.StructType) -> Column:
    """Compile a boolean JS expression (the reference's CustomFilter
    shape, ``pkg/models/types.go:226``) to one WHERE Column. JS
    truthiness applies when the expression is not boolean-typed."""
    out = _Compiler().compile(parse_predicate(program), root_from_schema(schema))
    if out.is_obj:
        raise JsError("predicate must be a boolean expression, not the row")
    if isinstance(out.dtype, T.BooleanType):
        # a statically non-null boolean skips the coalesce wrapper —
        # coalesce() at the top would block parquet filter pushdown
        return out.col if out.nn else F.coalesce(out.col, F.lit(False))
    return _truthy(out)


def js_transform(df: DataFrame, program: str) -> DataFrame:
    """Apply a JS ``return {...}`` program to a DataFrame: the returned
    object becomes the projection. One driver-side compile; the executed
    plan is pure Column expressions (no Python in the path)."""
    return transform(df, compile_program(program, df.schema))

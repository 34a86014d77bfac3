"""Lua transform engine — a Lua-5.4 expression subset compiled to Spark
Column expressions (zero Python in the data path).

The reference declares ``"lua"`` as a transform-engine type —
``pkg/transform/models.go:30,59`` and ``pkg/config/validation.go:246``
accept ``engine: "lua"`` in rule configs — but never links an
interpreter (no gopher-lua import exists in the tree), so a config that
selects the Lua engine validates upstream and then silently does
nothing. Here the declared surface is made real the same way the jq
engine was (``functions/jq.py``): the program compiles ONCE driver-side
against the DataFrame schema into native Column expressions, so
execution is whole-stage-codegen JVM work — never a per-event
interpreter.

A program is ``return { name = expr, ... }``: the input row is the
table ``row`` (alias ``event``), the returned table is the new payload
(same contract as the jq engine's final object / kazaam shift).

Supported subset (anything else raises ``LuaError`` at compile time):

- values: ``nil`` ≡ SQL null, booleans, numbers (Lua integer/float →
  long/double), single- or double-quoted strings
- ``row.field`` / ``row.a.b`` struct traversal; ``row.xs[i]`` array
  indexing (both Lua and ``element_at`` are 1-based; out of range → nil,
  as Lua); indexing a table with an absent key yields ``nil`` (real Lua
  table semantics — unlike jq's compile error), but indexing THROUGH a
  nil value is Lua's "attempt to index a nil value" error: statically
  absent bases are compile errors, nullable struct bases get a runtime
  ``raise_error`` guard
- operators with Lua's exact semantics:
  - ``== ~=`` — nil-safe (``nil == nil`` → true); operands of
    different type categories are constant-false (Lua never coerces
    across types in ``==``)
  - ``< <= > >=`` — both numbers or both strings (compile error
    otherwise); a nil operand is a Lua runtime error → compiled to a
    conditional ``raise_error`` (fail-loud, never SQL 3-valued null)
  - ``+ - * / // % ^`` — arithmetic on nil is a Lua error →
    ``raise_error`` guard. ``/`` and ``^`` are always float (Lua 5.4),
    ``//`` floors (integer result for integer operands — note the
    double round-trip bounds exactness to 2^53), ``%`` is Lua's FLOORED
    modulo (sign follows the divisor: ``-7 % 3 == 2``), not SQL's
    truncated remainder
  - ``..`` — string concatenation; numbers coerce via tostring, nil is
    a Lua error → ``raise_error`` guard
  - ``and`` / ``or`` — VALUE semantics (``a and b`` yields ``a`` when
    falsy else ``b``), so the ``cond and x or y`` idiom works; only
    ``nil`` and ``false`` are falsy (0 and "" are truthy)
  - ``not``, unary ``-``, ``#`` (string byte-length / array length;
    ``#nil`` is a Lua error → guard)
- builtins: ``tostring`` (``nil`` → ``"nil"``, booleans → ``"true"`` /
  ``"false"``), ``tonumber`` (non-numeric → nil, like Lua; always
  float-typed here), ``math.floor`` / ``math.ceil`` (integer-valued),
  ``math.abs``, ``math.sqrt``, ``math.max`` / ``math.min`` (variadic;
  nil args are Lua errors → guard), ``string.upper`` / ``string.lower``
  / ``string.len`` / ``string.reverse`` / ``string.rep(s, n)`` /
  ``string.sub(s, i[, j])`` (1-based inclusive, negative indexes count
  from the end, clamped — Lua's exact rules, with integer-literal i/j)
- table constructors: ``{k = e, ["k"] = e}`` → output columns (nested
  tables → struct columns), ``{e1, e2}`` (pure array part) → array

Deliberately out of scope (all raise, never silently diverge):
``string.gsub`` / ``find`` / ``match`` (Lua patterns are not regexes —
a translated approximation would lie), ``string.format``, multiple
return values / assignments / statements beyond the single ``return``,
``ipairs`` / ``pairs`` loops (cardinality changes are ``explode``, not
a projection), metatables, ``..`` varargs.

Numeric note: Lua 5.4 integer arithmetic wraps at 2^63 exactly like
Spark longs; ``//`` here routes through a double (2^53 exactness
bound, documented above) because Spark's integer ``/`` is already
float. One typed-column divergence from dynamic Lua: a conditional
whose branches mix integer and float (``cond and 2 or x/2.0``) takes
the unified column type double, so the integer branch renders as
``"2.0"`` through ``tostring``/``..`` where Lua 5.4 would keep the
integer subtype and print ``"2"`` (pinned by
tests/test_lua_differential.py, which models the unification).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .lowering import (
    BOOL, DOUBLE, LONG, STR, Compiled, Compiler, Parser, ScriptError, Val, cat,
    element_type, num_type, result_type, root_from_schema, same_type, transform,
)


class LuaError(ScriptError):
    """Parse or compile error in a Lua program (always compile-time)."""


# -- parser (Lua 5.4 expression precedence) ----------------------------------

_STR_ESC = {"n": "\n", "t": "\t", "r": "\r", '"': '"', "'": "'", "\\": "\\"}


class _Parser(Parser):
    Error = LuaError
    TOKEN_RE = re.compile(
        r"""
        (?P<ws>\s+|--[^\n]*)
      | (?P<num>\d+(?:\.\d+)?|\.\d+)
      | (?P<op>==|~=|<=|>=|\.\.|//|[<>=+\-*/%^#.,;:(){}\[\]])
      | (?P<ident>[A-Za-z_][A-Za-z0-9_]*)
        """,
        re.VERBOSE,
    )
    KEYWORDS = frozenset({"and", "or", "not", "nil", "true", "false", "return"})
    QUOTES = {"'": ("str", _STR_ESC, None), '"': ("str", _STR_ESC, None)}

    def parse_expr(self):
        return self.binary(self.parse_and, ("or",), "or")

    def parse_and(self):
        return self.binary(self.parse_cmp, ("and",), "and")

    def parse_cmp(self):
        left = self.parse_concat()
        if self.at_op("==", "~=", "<", "<=", ">", ">="):
            op = self.next().val
            return ("cmp", op, left, self.parse_concat())
        return left

    def parse_concat(self):  # '..' is right-associative
        left = self.parse_add()
        if self.at_op(".."):
            self.next()
            return ("concat", left, self.parse_concat())
        return left

    def parse_add(self):
        return self.binary(self.parse_mul, ("+", "-"))

    def parse_mul(self):
        return self.binary(self.parse_unary, ("*", "/", "//", "%"))

    def parse_unary(self):
        if self.at_kw("not"):
            self.next()
            return ("not", self.parse_unary())
        if self.at_op("-"):
            self.next()
            return ("neg", self.parse_unary())
        if self.at_op("#"):
            self.next()
            return ("len", self.parse_unary())
        return self.parse_pow()

    def parse_pow(self):  # '^' right-assoc, binds tighter than unary on left
        left = self.parse_postfix()
        if self.at_op("^"):
            self.next()
            return ("arith", "^", left, self.parse_unary())
        return left

    def parse_postfix(self):
        node = self.parse_primary()
        while True:
            if self.at_op("."):
                self.next()
                name = self.expect("ident").val
                if node[0] == "name" and node[1] in ("math", "string"):
                    node = ("call", f"{node[1]}.{name}", self._call_args())
                else:
                    node = ("field", node, name)
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
        if t.kind == "kw" and t.val in ("nil", "true", "false"):
            self.next()
            return ("lit", {"nil": None, "true": True, "false": False}[t.val])
        if t.kind == "op" and t.val == "(":
            self.next()
            node = self.parse_expr()
            self.expect("op", ")")
            return node
        if t.kind == "op" and t.val == "{":
            return self.parse_table()
        if t.kind == "ident":
            name = self.next().val
            if self.at_op("(") and name not in ("row", "event"):
                return ("call", name, self._call_args())
            return ("name", name)
        raise LuaError(f"unexpected token {t.val!r} at {t.pos}")

    def parse_table(self):
        self.expect("op", "{")
        named: list = []
        positional: list = []
        while not self.at_op("}"):
            t = self.peek()
            if t.kind == "ident" and self.toks[self.i + 1].kind == "op" \
                    and self.toks[self.i + 1].val == "=":
                self.next()
                self.next()
                named.append((t.val, self.parse_expr()))
            elif t.kind == "op" and t.val == "[":
                self.next()
                k = self.next()
                if k.kind != "str":
                    raise LuaError("table keys must be names or string literals")
                self.expect("op", "]")
                self.expect("op", "=")
                named.append((k.val, self.parse_expr()))
            else:
                positional.append(self.parse_expr())
            if self.at_op(",", ";"):
                self.next()
            elif not self.at_op("}"):
                raise LuaError(f"expected , or }} at {self.peek().pos}")
        self.next()
        if named and positional:
            raise LuaError("mixed array/record table constructors are not supported")
        return ("arr", positional) if positional and not named else ("obj", named)


def parse(program: str):
    """Parse ``return { ... }``; returns the AST of the returned expression."""
    p = _Parser(program)
    p.expect("kw", "return")
    ast = p.parse_expr()
    if p.at_op(";"):
        p.next()
    p.end(" (one return statement only)")
    return ast


# -- compiler -----------------------------------------------------------------


def _truthy(v: Val) -> Column:
    # Lua: only nil and false are falsy (0 and "" are truthy)
    if v.is_obj:
        return F.lit(True)
    if isinstance(v.dtype, T.BooleanType):
        return F.coalesce(v.col, F.lit(False))
    return v.col.isNotNull()


# one-argument builtins (nil argument → guard): name → (lowering of the
# argument column, result type, required argument category)
_UNARY = {
    "math.floor": (lambda c: F.floor(c.cast("double")), LONG, None),
    "math.ceil": (lambda c: F.ceil(c.cast("double")), LONG, None),
    "math.abs": (F.abs, same_type, None),
    "math.sqrt": (lambda c: F.sqrt(c.cast("double")), DOUBLE, None),
    "string.upper": (F.upper, STR, "string"),
    "string.lower": (F.lower, STR, "string"),
    "string.len": (lambda c: F.length(c).cast("long"), LONG, "string"),
    "string.reverse": (F.reverse, STR, "string"),
}

# variadic numeric builtins (any nil argument → guard)
_VARIADIC = {"math.max": F.greatest, "math.min": F.least}


class _Compiler(Compiler):
    Error = LuaError
    LANG = "Lua"
    OBJ_NOUN = "the row table"
    ROW_VALUE_ERROR = "the whole row table is not a value; project fields"
    NAME_NOUN = "variable"
    MIXED_HINT = ("; Lua's conditional idiom `cond and x or y` is supported "
                  "when x can never be nil/false")

    # a nil operand where Lua raises → conditional raise_error (fail-loud;
    # statically-nil operands are compile errors, statically-non-nil skip
    # the guard entirely so literal-heavy programs stay branch-free)
    def _guard(self, result: Column, what: str, *operands: Val) -> Column:
        if any(v.known_nil for v in operands):
            raise LuaError(f"{what} on a nil value (Lua runtime error, caught at compile)")
        nils = [v.col.isNull() for v in operands if not v.nn]
        if not nils:
            return result
        cond = nils[0]
        for n in nils[1:]:
            cond = cond | n
        return F.when(
            cond, F.raise_error(F.lit(f"lua: attempt to perform {what} on a nil value"))
        ).otherwise(result)

    def _c_field(self, node, inp):
        _, base, name = node
        b = self.compile(base, inp)
        if b.is_obj:
            if name in b.obj:
                return b.obj[name]
            # real Lua table semantics: absent key reads as nil
            return Val(F.lit(None), None, known_nil=True)
        if b.known_nil:
            raise LuaError(
                f".{name}: attempt to index a nil value (the base is statically nil)"
            )
        if isinstance(b.dtype, T.StructType):
            if name not in b.dtype.fieldNames():
                return Val(F.lit(None), None, known_nil=True)
            out = b.col.getField(name)
            dt = b.dtype[name].dataType
            if not b.nn:  # indexing through nil is a Lua error
                out = F.when(
                    b.col.isNull(),
                    F.raise_error(F.lit(f"lua: attempt to index a nil value (.{name})")),
                ).otherwise(out)
            return Val(out, dt)
        raise LuaError(f".{name}: cannot index a {cat(b.dtype)} value")

    def _c_index(self, node, inp):
        _, base, idxn = node
        b = self.scalar(self.compile(base, inp), "[...]")
        if b.known_nil:
            raise LuaError("[...]: attempt to index a nil value")
        if b.dtype is not None and not isinstance(b.dtype, T.ArrayType):
            raise LuaError(f"[...]: cannot index a {cat(b.dtype)} value")
        idx = self.scalar(self.compile(idxn, inp), "index")
        # Lua arrays and element_at are both 1-based; out of range → nil
        out = F.try_element_at(b.col, idx.col.cast("int"))
        return Val(self._guard(out, "index", b), element_type(b.dtype))

    def _c_neg(self, node, inp):
        v = self.scalar(self.compile(node[1], inp), "unary -")
        if v.dtype is not None and not isinstance(v.dtype, T.NumericType):
            raise LuaError("unary -: operand must be a number")
        return Val(self._guard(-v.col, "arithmetic (unary -)", v), v.dtype, nn=v.nn)

    def _c_len(self, node, inp):
        v = self.scalar(self.compile(node[1], inp), "#")
        out = self.length(v, "#").cast("long")
        return Val(self._guard(out, "length (#)", v), LONG, nn=v.nn)

    def _c_not(self, node, inp):
        v = self.compile(node[1], inp)
        return Val(~_truthy(v), BOOL, nn=True)

    def _c_and(self, node, inp):
        l = self.scalar(self.compile(node[2], inp), "and")
        r = self.scalar(self.compile(node[3], inp), "and")
        self.mixed_check(l, r, "and")
        dt = l.dtype if cat(l.dtype) == cat(r.dtype) else (r.dtype or l.dtype)
        return Val(
            F.when(_truthy(l), r.col).otherwise(l.col), dt, nn=l.nn and r.nn
        )

    def _c_or(self, node, inp):
        ln, rn = node[2], node[3]
        if ln[0] == "and":
            # Lua's conditional idiom `cond and b or c`: compiles to one
            # CASE WHEN — EXACT Lua semantics when b is statically never
            # falsy (the idiom's own documented precondition); otherwise
            # fall through to generic value semantics (mixed types then
            # raise rather than silently coerce)
            cond = self.compile(ln[2], inp)
            b = self.scalar(self.compile(ln[3], inp), "and")
            if b.nn and not isinstance(b.dtype, T.BooleanType):
                c = self.scalar(self.compile(rn, inp), "or")
                dt = b.dtype if cat(b.dtype) == cat(c.dtype) else (b.dtype or c.dtype)
                return Val(
                    F.when(_truthy(cond), b.col).otherwise(c.col), dt,
                    nn=b.nn and c.nn,
                )
        l = self.scalar(self.compile(ln, inp), "or")
        r = self.scalar(self.compile(rn, inp), "or")
        self.mixed_check(l, r, "or")
        dt = l.dtype if cat(l.dtype) == cat(r.dtype) else (l.dtype or r.dtype)
        return Val(F.when(_truthy(l), l.col).otherwise(r.col), dt, nn=r.nn)

    def _c_cmp(self, node, inp):
        _, op, ln, rn = node
        l = self.scalar(self.compile(ln, inp), op)
        r = self.scalar(self.compile(rn, inp), op)
        lc, rc = cat(l.dtype), cat(r.dtype)
        if op in ("==", "~="):
            # Lua ==: nil-safe, never coerces across types
            if lc is not None and rc is not None and lc != rc:
                return Val(F.lit(op == "~="), BOOL, nn=True)
            expr = l.col.eqNullSafe(r.col)
            return Val(expr if op == "==" else ~expr, BOOL, nn=True)
        for c in (lc, rc):
            if c not in (None, "number", "string"):
                raise LuaError(f"{op}: cannot compare {c} values")
        if lc is not None and rc is not None and lc != rc:
            raise LuaError(f"{op}: cannot compare {lc} with {rc}")
        cmp = {
            "<": l.col < r.col, "<=": l.col <= r.col,
            ">": l.col > r.col, ">=": l.col >= r.col,
        }[op]
        return Val(self._guard(cmp, f"comparison ({op})", l, r), BOOL, nn=True)

    def _c_concat(self, node, inp):
        l = self.scalar(self.compile(node[1], inp), "..")
        r = self.scalar(self.compile(node[2], inp), "..")
        parts = []
        for v in (l, r):
            if cat(v.dtype) not in (None, "number", "string"):
                raise LuaError(f"..: cannot concatenate a {cat(v.dtype)} value")
            parts.append(v.col.cast("string") if cat(v.dtype) == "number" else v.col)
        return Val(
            self._guard(F.concat(*parts), "concatenation (..)", l, r),
            STR, nn=l.nn and r.nn,
        )

    def _c_arith(self, node, inp):
        _, op, ln, rn = node
        l = self.scalar(self.compile(ln, inp), op)
        r = self.scalar(self.compile(rn, inp), op)
        for v in (l, r):
            if cat(v.dtype) not in (None, "number"):
                raise LuaError(f"{op}: cannot perform arithmetic on a {cat(v.dtype)} value")
        num_dt = num_type(l, r)
        both_int = num_dt == LONG
        if op == "+":
            out, dt = l.col + r.col, num_dt
        elif op == "-":
            out, dt = l.col - r.col, num_dt
        elif op == "*":
            out, dt = l.col * r.col, num_dt
        elif op == "/":
            out, dt = l.col.cast("double") / r.col.cast("double"), DOUBLE
        elif op == "^":
            out, dt = F.pow(l.col.cast("double"), r.col.cast("double")), DOUBLE
        elif op == "//":
            fl = F.floor(l.col.cast("double") / r.col.cast("double"))
            out, dt = (fl, LONG) if both_int else (fl.cast("double"), DOUBLE)
        else:  # '%' — Lua FLOORED modulo: sign follows the divisor
            out, dt = ((l.col % r.col) + r.col) % r.col, num_dt
        return Val(self._guard(out, f"arithmetic ({op})", l, r), dt, nn=l.nn and r.nn)

    # -- builtins -------------------------------------------------------------

    def _c_call(self, node, inp):
        _, name, args = node
        if name.startswith(("string.gsub", "string.find", "string.match")):
            raise LuaError(f"{name}: Lua patterns are not regexes — descoped "
                           "(a translated approximation would silently diverge)")
        fn = getattr(self, "_fn_" + name.replace(".", "_"), None)
        if fn is None and name not in _UNARY and name not in _VARIADIC:
            raise LuaError(f"unsupported Lua function: {name}")
        vals = [self.scalar(self.compile(a, inp), name) for a in args]
        if name in _UNARY:
            self.argc(name, len(vals), 1)
            lower, out, need = _UNARY[name]
            v = self._cat_in(name, vals[0], need) if need else vals[0]
            return Val(self._guard(lower(v.col), name, v), result_type(out, v.dtype),
                       nn=v.nn)
        if name in _VARIADIC:
            self.argc(name, len(vals), 1, 64)
            for v in vals:
                self._cat_in(name, v, "number", "arguments must be numbers")
            out = vals[0].col if len(vals) == 1 else _VARIADIC[name](*[v.col for v in vals])
            frac = any(isinstance(v.dtype, T.FractionalType) for v in vals)
            unknown = any(v.dtype is None for v in vals)
            dt = None if unknown else (DOUBLE if frac else LONG)
            return Val(self._guard(out, name, *vals), dt, nn=all(v.nn for v in vals))
        return fn(name, args, vals)

    def _cat_in(self, name: str, v: Val, need: str, msg: str | None = None) -> Val:
        if cat(v.dtype) not in (None, need):
            raise LuaError(f"{name}: {msg or f'argument must be a {need}'}")
        return v

    def _fn_tostring(self, name, args, vals):
        self.argc(name, len(vals), 1)
        v = vals[0]
        if v.known_nil:
            return Val(F.lit("nil"), STR, nn=True)
        # cast covers numbers and booleans ("true"/"false", as Lua prints)
        return Val(F.coalesce(v.col.cast("string"), F.lit("nil")), STR, nn=True)

    def _fn_tonumber(self, name, args, vals):
        self.argc(name, len(vals), 1)
        # non-numeric input → nil, exactly Lua; always float-typed here
        # (try_cast: ANSI mode would otherwise raise on malformed input)
        return Val(vals[0].col.try_cast("double"), DOUBLE)

    def _fn_string_rep(self, name, args, vals):
        self.argc(name, len(vals), 2)
        v = self._cat_in(name, vals[0], "string")
        n = self._cat_in(name, vals[1], "number", "count must be a number")
        return Val(
            self._guard(F.repeat(v.col, n.col.cast("int")), name, v, n), STR,
            nn=v.nn and n.nn,
        )

    def _fn_string_sub(self, name, args, vals):
        """Lua string.sub(s, i[, j]): 1-based inclusive, negatives count
        from the end, out-of-range clamps to an empty/shorter slice —
        i/j must be integer literals (they parameterize the expression)."""
        self.argc(name, len(vals), 2, 3)
        v = self._cat_in(name, vals[0], "string")
        i = self.int_arg(args, 1, name)
        j = self.int_arg(args, 2, name) if len(args) > 2 else -1
        slen = F.length(v.col)
        start = F.lit(i) if i > 0 else F.greatest(slen + F.lit(i + 1), F.lit(1))
        stop = F.lit(j) if j > 0 else slen + F.lit(j + 1)
        stop = F.least(stop, slen)
        n = F.greatest(stop - start + F.lit(1), F.lit(0))
        return Val(
            self._guard(F.substring(v.col, start, n), name, v), STR, nn=v.nn
        )


# -- public API ----------------------------------------------------------------


def compile_program(
    program: str,
    schema: T.StructType,
    cols: dict[str, Column] | None = None,
) -> Compiled:
    """Compile ``return { ... }`` against a row ``schema``. ``cols``
    optionally maps field names to the Column expressions backing them
    (the transform engine's payload dict mid-chain)."""
    ast = parse(program)
    if ast[0] != "obj":
        raise LuaError("program must return a table constructor "
                       "{ name = expr, ... } (the new payload)")
    return Compiled.of(_Compiler().compile(ast, root_from_schema(schema, cols)))


def lua_transform(df: DataFrame, program: str) -> DataFrame:
    """Apply a Lua ``return {...}`` program to a DataFrame: the returned
    table becomes the projection. One driver-side compile; the executed
    plan is pure Column expressions (no Python in the path)."""
    return transform(df, compile_program(program, df.schema))

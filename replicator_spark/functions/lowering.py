"""Lowering core of the script engines: how a parsed jq, Lua or
JavaScript program becomes Spark Column expressions.

The three engine modules (``functions/jq.py``, ``lua.py``, ``js.py``)
are front-ends. Each keeps its token regex, keywords and grammar, its
semantics (truthiness, equality/order algebra, nil guards, coercions)
and its builtins. Everything they share lives here, once:

- lexing: the regex tokenizer loop, quoted strings with per-language
  escapes, and the balanced scan of an embedded expression (jq
  ``"\\(e)"``, JS ``${e}``);
- parsing: the recursive-descent ``Parser`` base (token cursor,
  delimited lists, left-associative binary levels);
- values: ``Val`` (a Column plus its schema-derived type and static
  null facts), the type categories, literal typing;
- lowering: the ``compile`` dispatch, object → struct and array
  construction, string splicing, literal-argument checks, the row
  input (``root_from_schema``), the ``Compiled`` result and its
  application to a DataFrame.

Every program compiles ONCE on the driver against the DataFrame schema;
execution is native Column work — never a per-event interpreter.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


class ScriptError(ValueError):
    """Parse or compile error in a script program (always compile-time)."""


# -- lexing ------------------------------------------------------------------


@dataclass
class Tok:
    kind: str  # num | str | op | ident | kw | eof (+ each language's string kinds)
    val: object
    pos: int


_CLOSERS = {"(": ")", "{": "}"}


def lex_string(src: str, i: int, err, escapes: dict, splice: str | None,
               quotes: dict) -> tuple[list, int]:
    """Lex the quoted string opening at ``src[i]``. Returns ``(parts,
    next_index)``: parts alternate ``("lit", text)`` and ``("expr",
    source)`` for each embedded expression opened by ``splice`` (``\\(``
    or ``${``) and closed at its balanced bracket. Quoted strings inside
    a splice (any opener in ``quotes``) are skipped whole, so a bracket
    in them does not count."""
    quote, j, buf, parts = src[i], i + 1, [], []
    while j < len(src):
        c = src[j]
        if c == quote:
            if buf:
                parts.append(("lit", "".join(buf)))
            return parts, j + 1
        if splice and src.startswith(splice, j):
            opener = splice[-1]
            depth, k = 1, j + len(splice)
            while k < len(src) and depth:
                if src[k] in quotes:
                    _, k = lex_string(src, k, err, *quotes[src[k]][1:], quotes)
                    continue
                if src[k] == opener:
                    depth += 1
                elif src[k] == _CLOSERS[opener]:
                    depth -= 1
                k += 1
            if depth:
                raise err(f"unterminated {splice}...{_CLOSERS[opener]} splice at {j}")
            if buf:
                parts.append(("lit", "".join(buf)))
                buf = []
            parts.append(("expr", src[j + len(splice) : k - 1]))
            j = k
            continue
        if c == "\\":
            if j + 1 >= len(src):
                break
            if src[j + 1] not in escapes:
                raise err(f"unsupported string escape \\{src[j + 1]} at {j}")
            buf.append(escapes[src[j + 1]])
            j += 2
            continue
        buf.append(c)
        j += 1
    raise err("unterminated string literal")


def tokenize(src: str, token_re: re.Pattern, keywords: frozenset, err,
             quotes: dict) -> list[Tok]:
    """Split ``src`` into tokens. ``token_re`` has the groups ``ws``
    (skipped), ``num``, ``op`` and ``ident`` (``kw`` when in
    ``keywords``); ``quotes`` maps each string opener to ``(token kind,
    escapes, splice)``. A string token's value is its text, or its parts
    list when its kind can splice."""
    toks: list[Tok] = []
    i = 0
    while i < len(src):
        if src[i] in quotes:
            kind, escapes, splice = quotes[src[i]]
            parts, j = lex_string(src, i, err, escapes, splice, quotes)
            val = parts if splice else "".join(p for _, p in parts)
            toks.append(Tok(kind, val, i))
            i = j
            continue
        m = token_re.match(src, i)
        if not m:
            raise err(f"unexpected character {src[i]!r} at {i}")
        i = m.end()
        if m.lastgroup == "ws":
            continue
        if m.lastgroup == "num":
            txt = m.group("num")
            toks.append(Tok("num", float(txt) if "." in txt else int(txt), m.start()))
        elif m.lastgroup == "ident":
            w = m.group("ident")
            toks.append(Tok("kw" if w in keywords else "ident", w, m.start()))
        else:
            toks.append(Tok("op", m.group("op"), m.start()))
    toks.append(Tok("eof", None, len(src)))
    return toks


# -- parsing -----------------------------------------------------------------


class Parser:
    """Recursive-descent base; the AST is nested tuples. A language sets
    its ``Error`` class and lexical tables and writes its grammar."""

    Error: type[ScriptError] = ScriptError
    TOKEN_RE: re.Pattern
    KEYWORDS: frozenset = frozenset()
    QUOTES: dict = {}

    def __init__(self, src: str):
        self.toks = tokenize(src, self.TOKEN_RE, self.KEYWORDS, self.Error, self.QUOTES)
        self.i = 0

    def peek(self) -> Tok:
        return self.toks[self.i]

    def next(self) -> Tok:
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, kind: str, val: object = None) -> Tok:
        t = self.next()
        if t.kind != kind or (val is not None and t.val != val):
            raise self.Error(f"expected {val or kind}, got {t.val!r} at {t.pos}")
        return t

    def at_op(self, *ops: str) -> bool:
        t = self.peek()
        return t.kind == "op" and t.val in ops

    def at_kw(self, *kws: str) -> bool:
        t = self.peek()
        return t.kind == "kw" and t.val in kws

    def binary(self, sub, ops, tag: str = "arith"):
        """Left-associative ``sub (op sub)*`` over operator or keyword
        tokens → nested ``(tag, op, left, right)``."""
        left = sub()
        while self.at_op(*ops) or self.at_kw(*ops):
            op = self.next().val
            left = (tag, op, left, sub())
        return left

    def delimited(self, open_: str, close: str, item, sep: str = ",",
                  empty: bool = True) -> list:
        """``open_ [item (sep item)*] close`` → the items (call arguments,
        array elements)."""
        self.expect("op", open_)
        items = []
        if not (empty and self.at_op(close)):
            items.append(item())
            while self.at_op(sep):
                self.next()
                items.append(item())
        self.expect("op", close)
        return items

    def end(self, what: str) -> None:
        """Raise unless every token was consumed."""
        t = self.peek()
        if t.kind != "eof":
            raise self.Error(f"trailing input at {t.pos}: {t.val!r}{what}")


# -- values ------------------------------------------------------------------
#
# A value carries its Column and its type, propagated from the schema.
# Type info drives the polymorphic bits (+, length, truthiness, coercion)
# and is best-effort: None means "unknown".

STR = T.StringType()
BOOL = T.BooleanType()
LONG = T.LongType()
DOUBLE = T.DoubleType()


@dataclass
class Val:
    col: Column | None = None
    dtype: T.DataType | None = None
    obj: dict | None = None     # name -> Val: the row, or a constructed object
    nn: bool = False            # statically known never-null
    known_nil: bool = False     # statically known to BE null (absent, nil literal)

    @property
    def is_obj(self) -> bool:
        return self.obj is not None


def cat(dt: T.DataType | None) -> str | None:
    """The language-level type category of a column type (None: unknown)."""
    if dt is None:
        return None
    if isinstance(dt, T.NumericType):
        return "number"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, T.ArrayType):
        return "array"
    if isinstance(dt, T.StructType):
        return "object"
    return dt.simpleString()


def num_type(l: Val, r: Val) -> T.DataType | None:
    """Result type of integer-preserving arithmetic: double if either
    side is fractional, long if both are known, else unknown."""
    if isinstance(l.dtype, T.FractionalType) or isinstance(r.dtype, T.FractionalType):
        return DOUBLE
    if l.dtype is None or r.dtype is None:
        return None
    return LONG


def element_type(dt: T.DataType | None) -> T.DataType | None:
    return dt.elementType if isinstance(dt, T.ArrayType) else None


def same_type(dt: T.DataType | None) -> T.DataType | None:
    return dt


def result_type(spec, dt: T.DataType | None) -> T.DataType | None:
    """A builtin table's result type: a fixed type, or a function of the
    input's type (``same_type``, ``element_type``)."""
    return spec if isinstance(spec, T.DataType) else spec(dt)


def lit(v) -> Val:
    """A literal: null is statically nil, anything else never-null."""
    if v is None:
        return Val(F.lit(None), None, known_nil=True)
    dt = (
        BOOL if isinstance(v, bool)
        else LONG if isinstance(v, int)
        else DOUBLE if isinstance(v, float)
        else STR
    )
    return Val(F.lit(v), dt, nn=True)


def struct_of(v: Val) -> Val:
    """A constructed object as one struct column."""
    return Val(
        F.struct(*[c.col.alias(n) for n, c in v.obj.items()]),
        T.StructType([
            T.StructField(n, c.dtype or T.NullType()) for n, c in v.obj.items()
        ]),
        nn=True,
    )


# -- lowering ----------------------------------------------------------------


class Compiler:
    """The ``compile`` dispatch (``_c_<node kind>``) and the lowerings
    every language shares. A language sets its ``Error`` class and the
    nouns of its messages and adds its own node kinds and builtins."""

    Error: type[ScriptError] = ScriptError
    LANG = "script"             # "unsupported <LANG> construct"
    OBJ_NOUN = "an object"      # what a value position got instead of a value
    ROW_VALUE_ERROR: str | None = None  # set: the whole row is not a value
    MIXED_HINT = ""             # how to write a two-type value instead
    NAME_NOUN = "name"          # "unknown <NAME_NOUN> 'x'"

    def compile(self, node, inp: Val) -> Val:
        m = getattr(self, f"_c_{node[0]}", None)
        if m is None:
            raise self.Error(f"unsupported {self.LANG} construct: {node[0]}")
        return m(node, inp)

    def scalar(self, v: Val, what: str) -> Val:
        if v.is_obj:
            raise self.Error(f"{what}: expected a value, got {self.OBJ_NOUN}")
        return v

    def mixed_check(self, l: Val, r: Val, op: str) -> None:
        """Raise when a two-branch value mixes type categories: one
        column holds one type."""
        lc, rc = cat(l.dtype), cat(r.dtype)
        if lc is not None and rc is not None and lc != rc:
            raise self.Error(f"{op}: a {lc}-or-{rc} value has no single column "
                             f"type{self.MIXED_HINT}")

    def length(self, v: Val, label: str) -> Column:
        """String length in chars / array size (int-typed)."""
        if isinstance(v.dtype, T.ArrayType):
            return F.size(v.col)
        if v.dtype is None or isinstance(v.dtype, T.StringType):
            return F.length(v.col)
        raise self.Error(f"{label}: unsupported on a {cat(v.dtype)} value")

    def _c_lit(self, node, inp):
        return lit(node[1])

    def _c_name(self, node, inp):
        if node[1] in ("row", "event"):
            return inp
        raise self.Error(f"unknown {self.NAME_NOUN} {node[1]!r} (the input row is 'row')")

    def _c_obj(self, node, inp):
        """Object/table construction: each entry one value; a nested
        construction becomes a struct column."""
        out = {}
        for k, e in node[1]:
            v = self.compile(e, inp)
            if v.is_obj:
                if self.ROW_VALUE_ERROR and v.obj is inp.obj:
                    raise self.Error(f"{k}: {self.ROW_VALUE_ERROR}")
                v = struct_of(v)
            out[k] = v
        return Val(obj=out)

    def _c_arr(self, node, inp):
        items = [self.scalar(self.compile(e, inp), "array") for e in node[1]]
        el = next((i.dtype for i in items if i.dtype is not None), None)
        return Val(
            F.array(*[i.col for i in items]) if items else F.array(),
            T.ArrayType(el) if el is not None else None,
            nn=True,
        )

    def _c_str(self, node, inp):
        """A string with embedded expressions (jq ``"\\(e)"``, JS
        ``${e}``): each splice compiles against the same input and is
        rendered as text. A language whose strings splice defines
        ``splice(source, inp)`` and ``stringify(value)``."""
        cols = [
            F.lit(payload) if kind == "lit"
            else self.stringify(self.scalar(self.splice(payload, inp), "interpolation"))
            for kind, payload in node[1]
        ]
        return Val(F.concat(*cols) if cols else F.lit(""), STR, nn=True)

    def argc(self, label: str, n: int, lo: int, hi: int | None = None) -> None:
        hi = lo if hi is None else hi
        if not lo <= n <= hi:
            raise self.Error(f"{label}: expected {lo}{'' if hi == lo else f'-{hi}'} "
                             f"argument(s), got {n}")

    def str_arg(self, args: list, i: int, label: str) -> str:
        """Argument ``i`` as a string literal (it parameterizes the
        compiled expression: a separator, a pattern)."""
        if i >= len(args):
            raise self.Error(f"{label}: missing argument {i + 1}")
        a = args[i]
        if a[0] == "lit" and isinstance(a[1], str):
            return a[1]
        raise self.Error(f"{label}: argument {i + 1} must be a string literal "
                         f"(it parameterizes the compiled expression)")

    def int_arg(self, args: list, i: int, label: str) -> int:
        """Argument ``i`` as an integer literal, optionally negated."""
        a = args[i]
        neg = a[0] == "neg"
        lit_node = a[1] if neg else a
        v = lit_node[1] if lit_node[0] == "lit" else None
        if not isinstance(v, int) or isinstance(v, bool):
            raise self.Error(f"{label}: argument {i + 1} must be an integer literal")
        return -v if neg else v


def root_from_schema(schema: T.StructType, cols: dict[str, Column] | None = None) -> Val:
    """The program input: the row as an object of its columns. ``cols``
    optionally maps field names to the Column expressions that back them
    (the transform engine's payload mid-chain); default ``F.col(name)``."""
    return Val(obj={
        f.name: Val(cols[f.name] if cols else F.col(f.name), f.dataType)
        for f in schema.fields
    })


@dataclass
class Compiled:
    """A compiled program: output projection + optional filter predicate.

    ``columns`` is None when the program is pure filtering (its value is
    the unchanged input row) — callers keep their own projection then.
    """

    columns: dict[str, Column] | None
    where: Column | None = None

    @staticmethod
    def of(out: Val, where: Column | None = None) -> "Compiled":
        return Compiled({k: v.col for k, v in out.obj.items()}, where)


def transform(df: DataFrame, compiled: Compiled) -> DataFrame:
    """Apply a compiled program: its filter becomes WHERE, its object
    the projection."""
    if compiled.where is not None:
        df = df.where(compiled.where)
    if compiled.columns is not None:
        df = df.select(*[v.alias(k) for k, v in compiled.columns.items()])
    return df

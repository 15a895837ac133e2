"""Restricted JavaScript-expression → Catalyst Column translation.

Backs the ScriptValuesMod (.ktr "Modified Java Script Value") step builder
(SURVEY §2.7, scriptvalues_mod/ScriptValuesMod.java). The reference runs
Rhino per row; arbitrary JS cannot (and should not) run inside a Catalyst
plan, but the overwhelmingly common real-world use of the step is one-line
derived fields — `var fee = amount * rate / 100;`, `var flag = qty > 10 ?
'big' : 'small';`, `var key = name + '_' + id;`. This module declares
exactly that subset as a dialect of plans/exprcore.py, which compiles it to
native Spark expressions (JVM codegen — the FAST path, faster than the
reference's per-row Rhino), and raises NotImplementedError naming the
offending construct for anything else, so a user knows precisely which
script needs porting to script_values() (operators/scripting.py
mapInPandas — the general fallback).

Supported grammar (C-style precedence):
  literals        123, 1.5, 'str', "str", true, false, null; string
                  escapes \\n \\t \\r \\b \\f \\v \\0 \\\\ \\' \\" \\xHH \\uHHHH
                  decode as in JS, any other escaped character stands for
                  itself
  identifiers     input columns or previously-assigned script vars
  arithmetic      + - * / %  (unary -); `+` follows JS semantics: when
                  either operand is string-typed it is CONCATENATION (both
                  sides coerced to string), else numeric addition — operand
                  types come from the input schema passed to compile_script
                  plus literal/method/function result types
  comparison      == != === !== < <= > >=
  logic           && || !
  ternary         cond ? a : b
  grouping        ( ... )
  methods         .toUpperCase() .toLowerCase() .trim() .length
                  .substr(start[, len])  .substring(start, end)
                  .indexOf(s)  .replace(a, b)  .concat(s)
  functions       Math.abs/round/floor/ceil/min/max/pow/sqrt,
                  parseInt(x), parseFloat(x), str2num(x), num2str(x)
  comments        // ... and /* ... */, anywhere between tokens

Math.round rounds half toward +∞, as JS does: Math.round(-2.5) = -2,
Math.round(2.5) = 3 (Spark's round goes half away from zero). .substr's
negative start counts from the end and .substring swaps reversed bounds, as
in JS. parseInt/parseFloat read the leading number ('12px' → 12); text with
no leading number gives NULL, the stand-in for JS's NaN.

Known coercion caveat (documented, not hidden): JS stringifies an integral
double as "2" while Spark's CAST(double AS STRING) gives "2.0". String-`+`
over *integer* and *string* columns matches JS exactly; over doubles the
fractional formatting differs. Scripts that depend on JS double formatting
belong in script_values().
"""

from __future__ import annotations

import operator
import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from pentaho_kettle_spark.plans.exprcore import MANY, TV, Dialect, Parser, binop, concat, nary


def _schema_types(schema) -> dict[str, str | None]:
    """StructType (or name→DataType mapping) → {column: 'str'|'num'|'bool'|None}."""
    if schema is None:
        return {}
    import pyspark.sql.types as T

    fields = (
        [(f.name, f.dataType) for f in schema.fields]
        if hasattr(schema, "fields")
        else list(schema.items())
    )
    kinds = ((T.StringType, "str"), (T.BooleanType, "bool"), (T.NumericType, "num"))
    return {n: next((k for c, k in kinds if isinstance(dt, c)), None) for n, dt in fields}


def _plus(a: TV, b: TV) -> TV:
    # JS '+': string operand ⇒ concatenation, both sides coerced to string
    # (the single most common ScriptValuesMod idiom: var key = name + '_' + id;)
    if "str" in (a.t, b.t):
        return TV(concat(a.col, b.col), "str")
    return TV(a.col + b.col, "num" if a.t == b.t == "num" else None)


def _round(x: Column) -> Column:
    return F.when(x - F.floor(x) >= 0.5, F.ceil(x)).otherwise(F.floor(x))


_ESCAPES = {"n": "\n", "t": "\t", "r": "\r", "b": "\b", "f": "\f", "v": "\v", "0": "\0"}
_ESCAPE_RE = re.compile(r"\\(u[0-9a-fA-F]{4}|x[0-9a-fA-F]{2}|.)", re.S)


def _unescape(m: re.Match) -> str:
    c = m[1]
    return chr(int(c[1:], 16)) if len(c) > 1 else _ESCAPES.get(c, c)


def _substr(a: list[Column]) -> Column:
    # JS substr(start[, len]): a negative start counts from the end (clamped
    # at 0); Spark's substring is 1-based
    s, start = a[0], a[1]
    start = F.when(start < 0, F.greatest(F.length(s) + start, F.lit(0))).otherwise(start)
    return F.substring(s, start + 1, a[2] if len(a) > 2 else F.lit(2**31 - 1))


def _substring(a: list[Column]) -> Column:
    # JS substring(start, end): negative bounds clamp to 0 and the bounds
    # swap when start > end
    lo = F.greatest(F.least(a[1], a[2]), F.lit(0))
    hi = F.greatest(a[1], a[2], F.lit(0))
    return F.substring(a[0], lo + 1, hi - lo)


def _parse(pattern: str, to: str):
    # JS parseInt/parseFloat read the leading number; text with none is NaN,
    # here NULL (try_cast, so nothing raises under ANSI)
    return lambda a: F.regexp_extract(a[0].cast("string"), pattern, 1).try_cast(to)


_FUNCTIONS = {
    # name -> ((min_arity, max_arity), builder over Column args, result type)
    "Math.abs": ((1, 1), lambda a: F.abs(a[0]), "num"),
    "Math.round": ((1, 1), lambda a: _round(a[0]), "num"),
    "Math.floor": ((1, 1), lambda a: F.floor(a[0]), "num"),
    "Math.ceil": ((1, 1), lambda a: F.ceil(a[0]), "num"),
    "Math.sqrt": ((1, 1), lambda a: F.sqrt(a[0]), "num"),
    "Math.min": ((1, MANY), nary(F.least), "num"),
    "Math.max": ((1, MANY), nary(F.greatest), "num"),
    "Math.pow": ((2, 2), lambda a: F.pow(a[0], a[1]), "num"),
    "parseInt": ((1, 1), _parse(r"^\s*([+-]?\d+)", "long"), "num"),
    "parseFloat": (
        (1, 1),
        _parse(r"^\s*([+-]?(?:Infinity|(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?))", "double"),
        "num",
    ),
    "str2num": ((1, 1), lambda a: a[0].cast("double"), "num"),
    "num2str": ((1, 1), lambda a: a[0].cast("string"), "str"),
}

_METHODS = {
    # .name -> as _FUNCTIONS; the receiver is the builder's first Column
    ".toUpperCase": ((0, 0), lambda a: F.upper(a[0]), "str"),
    ".toLowerCase": ((0, 0), lambda a: F.lower(a[0]), "str"),
    ".trim": ((0, 0), lambda a: F.trim(a[0]), "str"),
    ".concat": ((1, 1), lambda a: F.concat(a[0], a[1]), "str"),
    ".indexOf": ((1, 1), lambda a: F.instr(a[0], a[1]) - 1, "num"),  # JS 0-based, -1 miss
    ".replace": ((2, 2), lambda a: F.replace(a[0], a[1], a[2]), "str"),
    ".substr": ((1, 2), _substr, "str"),
    ".substring": ((2, 2), _substring, "str"),
}


def _postfix(p: Parser, e: TV) -> TV | None:
    if not p.accept("."):
        return None
    name = "." + p.take()[1]
    if name == ".length":
        return TV(F.length(e.col), "num")
    return p.call(name, _METHODS, (e,))


def _bool(fn):
    return binop(fn, "bool")


_JS = Dialect(
    name="js expression",
    tokens=[
        ("num", r"\d+\.\d+|\d+"),
        ("str", r"'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\""),
        # Math.* is one name, so a Math function is an ordinary call
        ("name", r"Math\.[A-Za-z_$][A-Za-z0-9_$]*|[A-Za-z_$][A-Za-z0-9_$]*"),
        ("op", r"===|!==|==|!=|<=|>=|&&|\|\||[-+*/%<>!?:().,;=]"),
    ],
    skip=r"(?:\s+|//[^\n]*|/\*[\s\S]*?\*/)*",
    levels=[
        ({"||": _bool(operator.or_)}, False),
        ({"&&": _bool(operator.and_)}, False),
        ({"==": _bool(operator.eq), "===": _bool(operator.eq),
          "!=": _bool(operator.ne), "!==": _bool(operator.ne)}, False),
        ({"<": _bool(operator.lt), "<=": _bool(operator.le),
          ">": _bool(operator.gt), ">=": _bool(operator.ge)}, False),
        ({"+": _plus, "-": binop(operator.sub, "num")}, False),
        ({"*": binop(operator.mul, "num"), "/": binop(operator.truediv, "num"),
          "%": binop(operator.mod, "num")}, False),
    ],
    unary={"-": lambda e: TV(-e.col, "num"), "!": lambda e: TV(~e.col, "bool")},
    postfix=_postfix,
    ternary=True,
    atoms={"str": lambda v: TV(F.lit(_ESCAPE_RE.sub(_unescape, v[1:-1])), "str")},
    functions=_FUNCTIONS,
)


def _parser(src: str, env: dict[str, TV], coltypes: dict[str, str | None]) -> Parser:
    def name(val: str) -> TV:
        if val in ("true", "false"):
            return TV(F.lit(val == "true"), "bool")
        if val == "null":
            return TV(F.lit(None))
        if val in env:
            return env[val]
        if val.startswith("Math."):
            raise NotImplementedError(f"js expression: unsupported {val}")
        return TV(F.col(val), coltypes.get(val))

    return Parser(_JS, src, name)


def compile_expr(
    src: str,
    env: dict[str, Column] | None = None,
    schema=None,
) -> Column:
    """One JS expression → a Column. `env` maps script-local var names
    (earlier `var x = ...` lines) to their compiled expressions; `schema`
    (StructType or name→DataType mapping) types the input columns so string
    `+` resolves to concatenation."""
    tenv = {k: (v if isinstance(v, TV) else TV(v)) for k, v in (env or {}).items()}
    return _parser(src, tenv, _schema_types(schema)).parse().col


def compile_script(script: str, schema=None) -> dict[str, Column]:
    """A transform script (a sequence of `var NAME = EXPR;` statements;
    comments, blank lines and several statements on one line allowed) →
    {var name: Column}. Later vars may reference earlier ones; the
    expressions inline (no intermediate columns). `schema` is the input
    DataFrame's schema (or a name→DataType mapping) — it drives JS `+`
    string-concat resolution."""
    env: dict[str, TV] = {}
    p = _parser(script, env, _schema_types(schema))
    while p.toks[p.i][0] != "eof":
        if p.toks[p.i][:2] == ("op", ";"):
            p.i += 1
            continue
        head = [t[:2] for t in p.toks[p.i:p.i + 3]]
        if len(head) < 3 or (head[0], head[1][0], head[2]) != (
            ("name", "var"), "name", ("op", "=")
        ):
            stmt = script[p.toks[p.i][2]:].split("\n", 1)[0]
            raise NotImplementedError(
                f"ScriptValuesMod: only `var NAME = EXPR;` statements are "
                f"compilable to a Catalyst plan (got {stmt[:60]!r}); port this "
                "script to operators/scripting.py script_values (mapInPandas)"
            )
        p.i += 3
        env[head[1][1]] = p.expr()
    return {k: v.col for k, v in env.items()}

"""OpenFormula (libformula) expression → Catalyst Column translation.

Backs the Kettle "Formula" step (SURVEY §2.7, formula/Formula.java — the
reference embeds Pentaho's libformula, an OpenFormula/ODF-formula
implementation). A real .ktr Formula step carries `[fieldname]` bracket
references, `&` string concatenation, and spreadsheet-style functions
(`IF(...)`, `LEFT/MID/RIGHT`, `UPPER`, ...), none of which Spark SQL's
parser accepts — this module declares the practical subset as a dialect of
plans/exprcore.py, which compiles it straight to native Catalyst
expressions (JVM codegen; the reference evaluates libformula's AST per row).

Grammar (precedence low → high, per ODF OpenFormula §5):
  comparison   = <> < <= > >=
  text concat  &          (both operands coerced to string)
  additive     + -
  multiplicative * /
  power        ^          (right-associative)
  unary        - +
  postfix      %          (percent: value / 100)
  primary      number, "string" ("" escapes a quote), [field ref],
               bare identifier (extension: unbracketed field ref),
               TRUE() FALSE() TRUE FALSE, function call, ( ... )

Function names are case-insensitive; arguments separate with `;`
(OpenFormula) or `,` (libformula accepts both). Unsupported constructs
raise NotImplementedError naming the construct, so the user knows the step
needs porting.

Citation for semantics: OASIS OpenFormula spec (ODF 1.2 part 2) text
functions are 1-based (MID("abc";2;1) = "b"); IF takes (cond; then; else);
MOD(a; b) = a − b·INT(a/b) takes the sign of the divisor (MOD(-7; 2) = 1);
comparison of mixed types follows the column types (Spark casts), which
matches libformula's coerced comparisons for the numeric/string cases the
tests pin.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

from pentaho_kettle_spark.plans.exprcore import MANY, TV, Dialect, Parser, binop, concat, nary


def _fn_if(a: list[Column]) -> Column:
    return F.when(a[0], a[1]) if len(a) == 2 else F.when(a[0], a[1]).otherwise(a[2])


def _fn_left(a: list[Column]) -> Column:
    return F.substring(a[0], 1, a[1] if len(a) == 2 else F.lit(1))


def _fn_right(a: list[Column]) -> Column:
    n = a[1] if len(a) == 2 else F.lit(1)
    # RIGHT("ab"; 5) is the whole string: negative-start substring would
    # miss characters when n > length, so clamp via greatest
    start = F.greatest(F.length(a[0]) - n + 1, F.lit(1))
    return F.substring(a[0], start, F.greatest(n, F.lit(0)))


_FUNCTIONS: dict[str, tuple[tuple[int, float], object]] = {
    # name -> ((min_arity, max_arity), builder over Column args)
    "IF": ((2, 3), _fn_if),
    "AND": ((1, MANY), lambda a: reduce(operator.and_, a)),
    "OR": ((1, MANY), lambda a: reduce(operator.or_, a)),
    "NOT": ((1, 1), lambda a: ~a[0]),
    "XOR": ((2, 2), lambda a: a[0] != a[1]),
    "TRUE": ((0, 0), lambda a: F.lit(True)),
    "FALSE": ((0, 0), lambda a: F.lit(False)),
    "ISBLANK": ((1, 1), lambda a: a[0].isNull()),
    "LEN": ((1, 1), lambda a: F.length(a[0])),
    "LEFT": ((1, 2), _fn_left),
    "RIGHT": ((1, 2), _fn_right),
    "MID": ((3, 3), lambda a: F.substring(*a)),  # both already 1-based
    "UPPER": ((1, 1), lambda a: F.upper(a[0])),
    "LOWER": ((1, 1), lambda a: F.lower(a[0])),
    "TRIM": ((1, 1), lambda a: F.trim(a[0])),
    "CONCATENATE": ((1, MANY), lambda a: F.concat(*(x.cast("string") for x in a))),
    "SUBSTITUTE": ((3, 3), lambda a: F.replace(a[0], a[1], a[2])),
    "FIND": ((2, 2), lambda a: F.instr(a[1], a[0])),
    "REPT": ((2, 2), lambda a: F.repeat(a[0], a[1])),
    "ABS": ((1, 1), lambda a: F.abs(a[0])),
    "ROUND": ((1, 2), lambda a: F.round(*a)),
    "INT": ((1, 1), lambda a: F.floor(a[0])),
    # Spark's % takes the dividend's sign; adding the divisor and taking %
    # again moves the remainder to the divisor's sign, exactly (no double
    # division), and a zero divisor still raises under ANSI mode
    "MOD": ((2, 2), lambda a: (a[0] % a[1] + a[1]) % a[1]),
    "MIN": ((1, MANY), nary(F.least)),
    "MAX": ((1, MANY), nary(F.greatest)),
    "POWER": ((2, 2), lambda a: F.pow(a[0], a[1])),
    "SQRT": ((1, 1), lambda a: F.sqrt(a[0])),
    "EXP": ((1, 1), lambda a: F.exp(a[0])),
    "LN": ((1, 1), lambda a: F.log(a[0])),
    "LOG10": ((1, 1), lambda a: F.log10(a[0])),
    "TODAY": ((0, 0), lambda a: F.current_date()),
    "NOW": ((0, 0), lambda a: F.current_timestamp()),
    # date/time accessors (OpenFormula §6.10; libformula maps these to the
    # same calendar fields — WEEKDAY type 1 = Sunday 1..Saturday 7, the
    # OpenFormula default, which is Spark's dayofweek numbering)
    "YEAR": ((1, 1), lambda a: F.year(a[0])),
    "MONTH": ((1, 1), lambda a: F.month(a[0])),
    "DAY": ((1, 1), lambda a: F.dayofmonth(a[0])),
    "HOUR": ((1, 1), lambda a: F.hour(a[0])),
    "MINUTE": ((1, 1), lambda a: F.minute(a[0])),
    "SECOND": ((1, 1), lambda a: F.second(a[0])),
    "WEEKDAY": ((1, 1), lambda a: F.dayofweek(a[0])),
    "ISOWEEKNUM": ((1, 1), lambda a: F.weekofyear(a[0])),
    "DATE": ((3, 3), lambda a: F.make_date(a[0], a[1], a[2])),
    # DAYS(end; start) / spreadsheet date arithmetic; DATEDIF's unit-string
    # dispatch is not translated — its two common units have direct forms
    "DAYS": ((2, 2), lambda a: F.datediff(a[0], a[1])),
    "MONTHS": ((2, 2), lambda a: F.floor(F.months_between(a[1], a[0])).cast("int")),
    "EDATE": ((2, 2), lambda a: F.add_months(a[0], a[1])),
    "EOMONTH": ((2, 2), lambda a: F.last_day(F.add_months(a[0], a[1]))),
}

_CMP = {"=": operator.eq, "<>": operator.ne, "<": operator.lt,
        "<=": operator.le, ">": operator.gt, ">=": operator.ge}

_OPENFORMULA = Dialect(
    name="OpenFormula",
    tokens=[
        ("num", r"\d+\.\d+|\d+"),
        ("str", r'"(?:[^"]|"")*"'),
        ("ref", r"\[[^\]]+\]"),
        ("name", r"[A-Za-z_][A-Za-z0-9_.]*"),
        ("op", r"<>|<=|>=|[-+*/^%<>=&();,]"),
    ],
    levels=[
        ({op: binop(fn) for op, fn in _CMP.items()}, False),
        ({"&": binop(concat)}, False),
        ({"+": binop(operator.add), "-": binop(operator.sub)}, False),
        ({"*": binop(operator.mul), "/": binop(operator.truediv)}, False),
        ({"^": binop(F.pow)}, True),
    ],
    unary={"-": lambda e: TV(-e.col), "+": lambda e: e},
    postfix=lambda p, e: TV(e.col / F.lit(100)) if p.accept("%") else None,
    atoms={
        "str": lambda v: TV(F.lit(v[1:-1].replace('""', '"'))),
        "ref": lambda v: TV(F.col(v[1:-1].strip())),
    },
    functions=_FUNCTIONS,
    seps=(";", ","),
    fold=True,
)


def _name(val: str) -> TV:
    # TRUE/FALSE without parentheses are constants; any other bare
    # identifier is a field reference — an extension beyond strict
    # OpenFormula that keeps Spark-SQL-style formula strings like
    # `l_quantity * l_extendedprice` compiling
    up = val.upper()
    return TV(F.lit(up == "TRUE")) if up in ("TRUE", "FALSE") else TV(F.col(val))


def compile_formula(src: str) -> Column:
    """One OpenFormula expression → a Column. Raises NotImplementedError
    naming the construct for anything outside the subset."""
    src = src.strip()
    if src.startswith("="):  # libformula accepts a leading '='
        src = src[1:]
    return Parser(_OPENFORMULA, src, _name).parse().col

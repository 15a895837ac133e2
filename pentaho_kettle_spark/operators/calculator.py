"""Calculator — prebuilt row-function library, one output field per calc.

Reference: engine/.../trans/steps/calculator/Calculator.java +
CalculatorMetaFunction.java CALC_* constants (SURVEY §2.2, ~100 functions).
Every function is a Catalyst expression builder over up to three operand
columns (A, B, C) — JVM-side, inside whole-stage codegen; zero Python in the
hot path. Functions Kettle evaluates with java.util.Calendar (working days,
ISO week) are expressed with Spark datetime functions. Phonetic and
edit-distance codes with no Catalyst builtin (METAPHONE, DOUBLE_METAPHONE,
DAMERAU_LEVENSHTEIN, NEEDLEMAN_WUNSCH, JARO, JARO_WINKLER,
CHECKSUM_ADLER32) run as Arrow-batched pandas_udfs over self-contained
pure-python kernels in functions/strings_udf.py. DOUBLE_METAPHONE is the Philips-2000 variant
(primary code, maxCodeLen=4 — what Kettle gets from Commons Codec).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F



def _working_days(a: Column, b: Column) -> Column:
    """Date working days between A and B (inclusive), Kettle CALC_DATE_WORKING_DIFF:
    count of Mon-Fri days in [min,max] signed by direction."""
    lo, hi = F.least(a, b), F.greatest(a, b)
    seq = F.sequence(F.to_date(lo), F.to_date(hi))
    cnt = F.size(F.filter(seq, lambda d: ~F.dayofweek(d).isin(1, 7)))
    return F.when(a <= b, cnt).otherwise(-cnt)


# name -> lambda(a, b, c) -> Column   (names follow CalculatorMetaFunction)
CALC_FUNCTIONS: dict[str, object] = {
    # arithmetic
    "CONSTANT": lambda a, b, c: a,
    "COPY_FIELD": lambda a, b, c: a,
    "ADD": lambda a, b, c: a + b,
    "SUBTRACT": lambda a, b, c: a - b,
    "MULTIPLY": lambda a, b, c: a * b,
    "DIVIDE": lambda a, b, c: a / b,
    "SQUARE": lambda a, b, c: a * a,
    "SQRT": lambda a, b, c: F.sqrt(a),
    "PERCENT_1": lambda a, b, c: a * 100 / b,                 # A/B in %
    "PERCENT_2": lambda a, b, c: a - (a * b / 100),           # A - A*B%
    "PERCENT_3": lambda a, b, c: a + (a * b / 100),           # A + A*B%
    "COMBINATION_1": lambda a, b, c: a + b * c,               # A + B*C
    "COMBINATION_2": lambda a, b, c: F.sqrt(a * a + b * b),   # hypot
    "ROUND_1": lambda a, b, c: F.round(a, 0),
    "ROUND_2": lambda a, b, c: F.round(a, b),                 # B decimals (literal)
    "ROUND_STD_1": lambda a, b, c: F.bround(a, 0),
    "ROUND_STD_2": lambda a, b, c: F.bround(a, b),
    "CEIL": lambda a, b, c: F.ceil(a),
    "FLOOR": lambda a, b, c: F.floor(a),
    "ABS": lambda a, b, c: F.abs(a),
    "NEGATE": lambda a, b, c: -a,
    "NVL": lambda a, b, c: F.coalesce(a, b),
    "MOD": lambda a, b, c: a % b,
    # dates (Kettle Date carries time-of-day → timestamp ops)
    "ADD_DAYS": lambda a, b, c: F.timestamp_add("DAY", b.cast("int"), a),
    "ADD_HOURS": lambda a, b, c: F.timestamp_add("HOUR", b.cast("int"), a),
    "ADD_MINUTES": lambda a, b, c: F.timestamp_add("MINUTE", b.cast("int"), a),
    "ADD_SECONDS": lambda a, b, c: F.timestamp_add("SECOND", b.cast("int"), a),
    "ADD_MONTHS": lambda a, b, c: F.to_timestamp(F.add_months(a, b.cast("int"))),
    "DATE_DIFF": lambda a, b, c: F.datediff(F.to_date(a), F.to_date(b)),
    "DATE_WORKING_DIFF": lambda a, b, c: _working_days(b, a),
    "MONTHS_BETWEEN": lambda a, b, c: F.months_between(a, b),
    "YEAR_OF_DATE": lambda a, b, c: F.year(a),
    "MONTH_OF_DATE": lambda a, b, c: F.month(a),
    "DAY_OF_YEAR": lambda a, b, c: F.dayofyear(a),
    "DAY_OF_MONTH": lambda a, b, c: F.dayofmonth(a),
    "DAY_OF_WEEK": lambda a, b, c: F.dayofweek(a),
    "WEEK_OF_YEAR": lambda a, b, c: F.weekofyear(a),
    "WEEK_OF_YEAR_ISO8601": lambda a, b, c: F.weekofyear(a),  # Spark weekofyear IS ISO
    # ISO year = calendar year of the Thursday in this ISO week
    "YEAR_OF_DATE_ISO8601": lambda a, b, c: F.year(
        F.date_add(F.to_date(a), 4 - (((F.dayofweek(a) + 5) % 7) + 1))
    ),
    "FIRST_DAY_OF_MONTH": lambda a, b, c: F.trunc(F.to_date(a), "month"),
    "LAST_DAY_OF_MONTH": lambda a, b, c: F.last_day(a),
    "REMOVE_TIME_FROM_DATE": lambda a, b, c: F.date_trunc("day", a),
    "QUARTER_OF_DATE": lambda a, b, c: F.quarter(a),
    "HOUR_OF_DAY": lambda a, b, c: F.hour(a),
    "MINUTE_OF_HOUR": lambda a, b, c: F.minute(a),
    "SECOND_OF_MINUTE": lambda a, b, c: F.second(a),
    # checksums / hashes
    "MD5": lambda a, b, c: F.md5(a.cast("string")),
    "SHA1": lambda a, b, c: F.sha1(a.cast("string")),
    "SHA256": lambda a, b, c: F.sha2(a.cast("string"), 256),
    "CRC32": lambda a, b, c: F.crc32(a.cast("string")),
    # strings
    "STRING_LEN": lambda a, b, c: F.length(a),
    "INITCAP": lambda a, b, c: F.initcap(a),
    "UPPER_CASE": lambda a, b, c: F.upper(a),
    "LOWER_CASE": lambda a, b, c: F.lower(a),
    "LEVENSHTEIN_DISTANCE": lambda a, b, c: F.levenshtein(a, b),
    "SOUNDEX": lambda a, b, c: F.soundex(a),
    "GET_ONLY_DIGITS": lambda a, b, c: F.regexp_replace(a, "[^0-9]", ""),
    "REMOVE_DIGITS": lambda a, b, c: F.regexp_replace(a, "[0-9]", ""),
    "ADD_TIME_TO_DATE": lambda a, b, c: a + F.make_dt_interval(F.lit(0), F.hour(b), F.minute(b), F.second(b)),
    "CONCAT": lambda a, b, c: F.concat(a, b),
    # boolean
    "IS_NULL": lambda a, b, c: a.isNull(),
    "IS_NOT_NULL": lambda a, b, c: a.isNotNull(),
    "TRUE": lambda a, b, c: F.lit(True),
    "FALSE": lambda a, b, c: F.lit(False),
    "JARO": lambda a, b, c: _udf2("jaro_udf", a, b),
    "JARO_WINKLER": lambda a, b, c: _udf2("jaro_winkler_udf", a, b),
    # extended sweep (round 2): remaining CalculatorMetaFunction constants
    "ADD3": lambda a, b, c: a + b + c,
    "MAXIMUM": lambda a, b, c: F.greatest(a, b),
    "MINIMUM": lambda a, b, c: F.least(a, b),
    "REMAINDER": lambda a, b, c: a % b,
    "DATE_DIFF_MSEC": lambda a, b, c: F.unix_millis(a.cast("timestamp"))
    - F.unix_millis(b.cast("timestamp")),
    "CHAR_TO_HEX_ENCODE": lambda a, b, c: F.hex(F.encode(a.cast("string"), "utf-8")),
    "HEX_TO_CHAR_DECODE": lambda a, b, c: F.decode(F.unhex(a), "utf-8"),
    "BYTE_TO_HEX_ENCODE": lambda a, b, c: F.hex(a),
    "HEX_TO_BYTE_DECODE": lambda a, b, c: F.unhex(a),
    "CHECKSUM_ADLER32": lambda a, b, c: _udf1("adler32_udf", a),
    "METAPHONE": lambda a, b, c: _udf1("metaphone_udf", a),
    "DOUBLE_METAPHONE": lambda a, b, c: _udf1("double_metaphone_udf", a),
    "DAMERAU_LEVENSHTEIN": lambda a, b, c: _udf2("damerau_levenshtein_udf", a, b),
    "NEEDLEMAN_WUNSCH": lambda a, b, c: _udf2("needleman_wunsch_udf", a, b),
}


def _udf1(name: str, a: Column) -> Column:
    from pentaho_kettle_spark.functions import strings_udf

    return getattr(strings_udf, name)(a.cast("string"))


def _udf2(name: str, a: Column, b: Column) -> Column:
    from pentaho_kettle_spark.functions import strings_udf

    return getattr(strings_udf, name)(a.cast("string"), b.cast("string"))


@dataclass
class Calc:
    field_name: str
    calc_type: str
    field_a: str | None = None
    field_b: str | None = None
    field_c: str | None = None
    value_type: str | None = None  # optional Kettle result type
    remove: bool = False  # Kettle "remove from result" flag


def _operand(ref: str | None, df_cols: list[str]):
    if ref is None:
        return F.lit(None)
    if ref in df_cols:
        return F.col(ref)
    # literal operand (Kettle lets constants stand in via a Constant step;
    # we accept bare literals for ergonomics)
    try:
        return F.lit(int(ref))
    except (TypeError, ValueError):
        try:
            return F.lit(float(ref))
        except (TypeError, ValueError):
            return F.lit(ref)


def calculator(df: DataFrame, calcs: list[Calc | dict]) -> DataFrame:
    """Apply calcs in order; later calcs can reference earlier results
    (Kettle evaluates top-to-bottom within the step)."""
    from pentaho_kettle_spark.types import cast_to_kettle_type

    tmp_remove = []
    for c in calcs:
        if isinstance(c, dict):
            c = Calc(**c)
        fn = CALC_FUNCTIONS[c.calc_type.upper()]
        cols = df.columns
        expr = fn(_operand(c.field_a, cols), _operand(c.field_b, cols), _operand(c.field_c, cols))
        if c.value_type:
            expr = cast_to_kettle_type(
                expr, df.select(expr).schema[0].dataType, c.value_type
            )
        df = df.withColumn(c.field_name, expr)
        if c.remove:
            tmp_remove.append(c.field_name)
    if tmp_remove:
        df = df.drop(*tmp_remove)
    return df

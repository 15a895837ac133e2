"""Formula step: OpenFormula (libformula) → Catalyst (plans/openformula.py)
and the operator + .ktr builder wired onto it."""

from __future__ import annotations

import os

import pytest

from pentaho_kettle_spark.plans.openformula import compile_formula

FIX = os.path.join(os.path.dirname(__file__), "fixtures")


def _eval(spark, expr, row):
    df = spark.createDataFrame([row])
    return df.select(compile_formula(expr).alias("r")).first().r


def test_arithmetic_precedence_power_percent(spark):
    row = {"a": 7.0, "b": 2.0}
    assert _eval(spark, "[a] + [b] * 3", row) == 13.0
    assert _eval(spark, "([a] + [b]) * 3", row) == 27.0
    assert _eval(spark, "2 ^ 3 ^ 2", row) == 512.0  # right-associative
    assert _eval(spark, "-[b] ^ 2", row) == 4.0     # unary binds the operand
    assert _eval(spark, "200 * 10%", row) == 20.0   # percent postfix
    assert _eval(spark, "=1 + 1", row) == 2         # leading '=' accepted


def test_text_functions_and_concat(spark):
    row = {"name": "  Acme Corp  ", "id": 7}
    assert _eval(spark, 'TRIM([name]) & "-" & [id]', row) == "Acme Corp-7"
    assert _eval(spark, "UPPER(LEFT(TRIM([name]); 4))", row) == "ACME"
    assert _eval(spark, 'MID(TRIM([name]); 6; 4)', row) == "Corp"
    assert _eval(spark, "RIGHT(TRIM([name]); 4)", row) == "Corp"
    assert _eval(spark, "RIGHT(TRIM([name]); 99)", row) == "Acme Corp"
    assert _eval(spark, "LEN(TRIM([name]))", row) == 9
    assert _eval(spark, 'CONCATENATE("x"; [id]; "y")', row) == "x7y"
    assert _eval(spark, 'SUBSTITUTE(TRIM([name]); "Corp"; "Inc")', row) == "Acme Inc"
    assert _eval(spark, 'FIND("Corp"; TRIM([name]))', row) == 6
    assert _eval(spark, 'REPT("ab"; 3)', row) == "ababab"
    # "" escapes a quote inside a string literal
    assert _eval(spark, '"say ""hi"""', row) == 'say "hi"'


def test_logic_and_comparisons(spark):
    row = {"qty": 15, "status": "open"}
    assert _eval(spark, 'IF([qty] > 10; "big"; "small")', row) == "big"
    assert _eval(spark, 'IF([qty] <> 15; "n"; "y")', row) == "y"
    assert _eval(spark, 'AND([qty] >= 10; [status] = "open")', row) is True
    assert _eval(spark, 'OR([qty] < 10; NOT([status] = "open"))', row) is False
    assert _eval(spark, "XOR(TRUE(); FALSE())", row) is True
    assert _eval(spark, "ISBLANK([status])", row) is False
    # nested IF — the standard tiering idiom
    assert (
        _eval(spark, 'IF([qty] > 100; "hi"; IF([qty] > 10; "mid"; "lo"))', row)
        == "mid"
    )
    # comma separators also accepted (libformula tolerance)
    assert _eval(spark, 'IF([qty] > 10, "big", "small")', row) == "big"


def test_numeric_functions(spark):
    row = {"x": -3.7, "y": 2.0}
    assert _eval(spark, "ABS([x])", row) == 3.7
    assert _eval(spark, "ROUND([x]; 0)", row) == -4.0
    assert _eval(spark, "INT([x])", row) == -4
    assert _eval(spark, "MOD(7; [y])", row) == 1.0
    # ODF MOD(a; b) = a - b*INT(a/b): the result takes the divisor's sign
    assert _eval(spark, "MOD(-7; 2)", row) == 1
    assert _eval(spark, "MOD(7; -2)", row) == -1
    assert _eval(spark, "MIN(1; [y]; 3)", row) == 1.0
    assert _eval(spark, "MAX(1; [y]; 3)", row) == 3.0
    assert _eval(spark, "POWER([y]; 10)", row) == 1024.0
    assert _eval(spark, "SQRT(16)", row) == 4.0


def test_mod_by_zero_raises_and_single_argument_min_max(spark):
    row = {"x": 7, "z": 0}
    # ANSI mode (Spark's default): a zero divisor is an error, not NULL
    with pytest.raises(Exception, match="BY_ZERO"):
        _eval(spark, "MOD([x]; [z])", row)
    assert _eval(spark, "MIN([x])", row) == 7
    assert _eval(spark, "MAX([x])", row) == 7


def test_bracket_refs_with_spaces(spark):
    df = spark.createDataFrame([{"v": 2.0}]).withColumnRenamed("v", "unit price")
    got = df.select(compile_formula("[unit price] * 3").alias("r")).first().r
    assert got == 6.0


def test_unsupported_constructs_raise():
    with pytest.raises(NotImplementedError, match="unsupported function"):
        compile_formula("VLOOKUP([a]; [b]; 2)")
    with pytest.raises(NotImplementedError, match="arity"):
        compile_formula("MID([a]; 2)")
    with pytest.raises(NotImplementedError, match="tokenize|unexpected"):
        compile_formula("[a] ! 2")


def test_formula_operator_fallback(spark):
    """ops.formula: OpenFormula first; bracket-free strings it cannot parse
    fall back to Spark SQL expr (legacy passthrough); bracket-carrying
    failures raise (authentic OpenFormula must not silently degrade)."""
    import pentaho_kettle_spark.operators as ops

    df = spark.createDataFrame([{"a": 3.0, "b": 4.0}])
    # plain arithmetic: parses as OpenFormula (bare-identifier extension)
    assert ops.formula(df, "c", "a * b").first().c == 12.0
    # Spark-SQL-only syntax, no brackets → expr() fallback
    assert ops.formula(df, "h", "hash(a) = hash(a)").first().h is True
    with pytest.raises(NotImplementedError, match="unsupported function"):
        ops.formula(df, "bad", "VLOOKUP([a]; [b]; 2)")


def test_ktr_formula_step(spark):
    """A .ktr Formula step with REAL OpenFormula syntax (bracket refs, &,
    IF, LEFT/UPPER) runs through the loader."""
    from pentaho_kettle_spark.plans.ktr import run_ktr

    outs = run_ktr(spark, os.path.join(FIX, "sample_formula.ktr"))
    rows = {r.order_id: r for r in outs["Formula"].collect()}
    assert rows[1].tier == "mid" and rows[2].tier == "high" and rows[3].tier == "low"
    assert rows[1].label == "P-100.0"
    assert rows[1].net == pytest.approx(100.0 * 0.9)


def test_date_functions(spark):
    import datetime

    row = {"d": datetime.date(2024, 3, 15), "e": datetime.date(2024, 5, 1)}
    assert _eval(spark, "YEAR([d])", row) == 2024
    assert _eval(spark, "MONTH([d])", row) == 3
    assert _eval(spark, "DAY([d])", row) == 15
    assert _eval(spark, "WEEKDAY([d])", row) == 6  # 2024-03-15 is a Friday
    assert _eval(spark, "DATE(2024; 3; 15) = [d]", row) is True
    assert _eval(spark, "DAYS([e]; [d])", row) == 47
    assert _eval(spark, "MONTHS([d]; [e])", row) == 1
    assert _eval(spark, "EDATE([d]; 2)", row) == datetime.date(2024, 5, 15)
    assert _eval(spark, "EOMONTH([d]; 0)", row) == datetime.date(2024, 3, 31)
    assert _eval(
        spark, 'IF(MONTH([d]) < 4; "Q1"; "later")', row
    ) == "Q1"

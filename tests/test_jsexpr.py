"""ScriptValuesMod: the JS-expression → Catalyst subset (plans/jsexpr.py)
and the .ktr step builder wired onto it."""

from __future__ import annotations

import os

import pytest

from pentaho_kettle_spark.plans.jsexpr import compile_expr, compile_script

FIX = os.path.join(os.path.dirname(__file__), "fixtures")


def _eval(spark, expr, row, env=None):
    df = spark.createDataFrame([row])
    return df.select(compile_expr(expr, env).alias("r")).first().r


def test_arithmetic_and_precedence(spark):
    row = {"a": 7, "b": 2.0}
    assert _eval(spark, "a + b * 3", row) == 13.0
    assert _eval(spark, "(a + b) * 3", row) == 27.0
    assert _eval(spark, "a % 4 - -b", row) == 5.0
    assert _eval(spark, "Math.round(a / b)", row) == 4


def test_ternary_logic_comparison(spark):
    row = {"qty": 15, "name": "widget"}
    assert _eval(spark, "qty > 10 ? 'big' : 'small'", row) == "big"
    assert _eval(spark, "qty > 10 && name == 'widget'", row) is True
    assert _eval(spark, "qty < 10 || name != 'widget'", row) is False
    assert _eval(spark, "!(qty === 15)", row) is False


def test_string_methods(spark):
    row = {"s": "  Hello World  "}
    assert _eval(spark, "s.trim().toUpperCase()", row) == "HELLO WORLD"
    assert _eval(spark, "s.trim().substr(0, 5)", row) == "Hello"
    assert _eval(spark, "s.trim().substring(6, 11)", row) == "World"
    assert _eval(spark, "s.trim().indexOf('World')", row) == 6
    assert _eval(spark, "s.trim().replace('World', 'JS')", row) == "Hello JS"
    assert _eval(spark, "s.length", row) == 15
    assert _eval(spark, "'id-'.concat(s.trim().toLowerCase())", row) == "id-hello world"


def test_script_var_chaining(spark):
    env = compile_script(
        """
        // net then tax referencing net
        var net = price * qty;
        var taxed = net * 1.19;
        """
    )
    df = spark.createDataFrame([{"price": 10.0, "qty": 3}])
    r = df.select(*[c.alias(n) for n, c in env.items()]).first()
    assert r.net == 30.0 and abs(r.taxed - 35.7) < 1e-9


def test_plus_is_concat_on_string_operands(spark):
    """JS '+' with a string operand is CONCATENATION — the single most
    common ScriptValuesMod idiom (var key = name + '_' + id;). Operand
    types flow from the schema passed to compile_script/compile_expr;
    string literals type themselves."""
    df = spark.createDataFrame([{"name": "ord", "id": 7, "amt": 2.5}])
    env = compile_script(
        """
        var key = name + '_' + id;
        var total = amt + id;
        var label = 'amt=' + amt;
        var keyed = key + id;
        """,
        schema=df.schema,
    )
    r = df.select(*[c.alias(n) for n, c in env.items()]).first()
    assert r.key == "ord_7"           # str col + str lit + num col → concat
    assert r.total == 9.5             # num + num stays numeric addition
    assert r.label == "amt=2.5"       # str lit + double col
    assert r.keyed == "ord_77"        # script var typed str propagates

    # without a schema the columns are untyped → numeric '+' (legacy path)
    legacy = compile_script("var total = amt + id;")
    assert df.select(legacy["total"].alias("t")).first().t == 9.5


def test_unsupported_constructs_raise():
    with pytest.raises(NotImplementedError, match="script_values"):
        compile_script("for (var i = 0; i < 10; i++) { x += i; }")
    with pytest.raises(NotImplementedError, match="unsupported method"):
        compile_expr("s.match('x')")
    with pytest.raises(NotImplementedError, match="Math"):
        compile_expr("Math.random()")


def test_math_round_half_toward_positive_infinity(spark):
    """JS Math.round rounds .5 up (toward +inf), unlike Spark's round."""
    df = spark.createDataFrame(
        [(i, x) for i, x in enumerate([-2.5, 2.5, -0.4, 0.49999999999999994, None])],
        "i int, x double",
    )
    got = [r.r for r in df.orderBy("i").select(compile_expr("Math.round(x)").alias("r")).collect()]
    assert got == [-2, 3, 0, 0, None]


def test_string_literal_escapes(spark):
    row = {"a": 1}
    assert _eval(spark, r"'a\tb'", row) == "a\tb"
    assert _eval(spark, r"'a\nb\rc'", row) == "a\nb\rc"
    assert _eval(spark, r"'\b\f\v\0'", row) == "\b\f\v\0"
    assert _eval(spark, r"'it\'s \"q\" \\ end'", row) == 'it\'s "q" \\ end'
    assert _eval(spark, r'"\x41\u00e9"', row) == "A\u00e9"
    assert _eval(spark, r"'\q\%'", row) == "q%"  # any other escape: the char itself


def test_substr_negative_start_and_substring_reversed_bounds(spark):
    """JS .substr counts a negative start from the end (clamped at 0);
    .substring clamps negative bounds to 0 and swaps reversed ones."""
    row = {"s": "abcdef"}
    assert _eval(spark, "s.substr(-3)", row) == "def"
    assert _eval(spark, "s.substr(-3, 2)", row) == "de"
    assert _eval(spark, "s.substr(-10, 2)", row) == "ab"
    assert _eval(spark, "s.substr(2, 3)", row) == "cde"
    assert _eval(spark, "s.substring(4, 1)", row) == "bcd"
    assert _eval(spark, "s.substring(1, 4)", row) == "bcd"
    assert _eval(spark, "s.substring(3, -2)", row) == "abc"
    assert _eval(spark, "s.substring(2, 2)", row) == ""


def test_parse_int_and_float_read_the_leading_number(spark):
    """parseInt/parseFloat read the leading number, as JS does; text with
    none gives NULL (the stand-in for NaN), and nothing raises under ANSI."""
    cases = [
        ("12px", 12, 12.0),
        ("  -7.5e1 apples", -7, -75.0),
        ("+3.9", 3, 3.9),
        (".5", None, 0.5),
        ("px12", None, None),
        ("", None, None),
        (None, None, None),
    ]
    df = spark.createDataFrame([(i, s) for i, (s, _, _) in enumerate(cases)], "i int, s string")
    got = df.orderBy("i").select(
        compile_expr("parseInt(s)").alias("n"), compile_expr("parseFloat(s)").alias("f")
    ).collect()
    assert [(r.n, r.f) for r in got] == [(n, f) for _, n, f in cases]
    assert _eval(spark, "parseInt(x)", {"x": 3.7}) == 3


def test_script_statements_share_the_expression_tokenizer(spark):
    df = spark.createDataFrame([{"price": 10.0}])
    env = compile_script("var u = 'http://x'; // a URL, then a comment")
    assert df.select(env["u"].alias("u")).first().u == "http://x"
    env = compile_script("var a = 1; var b = a + 1; /* two statements, one line */")
    assert df.select(env["b"].alias("b")).first().b == 2
    env = compile_script("var p = price /* inline */ * 2\nvar q = p + 1")
    assert df.select(env["q"].alias("q")).first().q == 21.0
    with pytest.raises(NotImplementedError, match="only `var NAME = EXPR;`"):
        compile_script("var a = 1; a = a + 1;")
    with pytest.raises(NotImplementedError, match="only `var NAME = EXPR;`"):
        compile_script("if (price > 1) { var a = 1; }")


def test_ktr_script_values_mod_step(spark):
    from pentaho_kettle_spark.plans.ktr import run_ktr

    outs = run_ktr(spark, os.path.join(FIX, "sample_js.ktr"))
    rows = {r.order_id: r for r in outs["Script"].collect()}
    assert rows[1].fee == round(200.0 * 2.5 / 100, 10)
    assert rows[1].size_label == "big"
    assert rows[2].size_label == "small"
    # declared Integer output is cast
    assert isinstance(rows[1].fee_cents, int)
    assert rows[1].fee_cents == 500

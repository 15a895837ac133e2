"""Kettle value conversion: every typed field and literal goes through
types.cast_to_kettle_type — text gets Kettle's lenient parse, typed input a
cast — and the .ktr loader keeps no conversion of its own."""

from __future__ import annotations

import ast
import datetime as dt
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from pentaho_kettle_spark import operators as ops
from pentaho_kettle_spark.operators.calculator import Calc
from pentaho_kettle_spark.plans import ktr
from pentaho_kettle_spark.types import KETTLE_TO_SPARK, coerce_to_date

# Kettle type → (XML text, the value it parses to)
SAMPLES = {
    "Number": ("2.5", 2.5),
    "String": ("abc", "abc"),
    "Date": ("2024-01-02", dt.datetime(2024, 1, 2)),
    "Boolean": ("Y", True),
    "Integer": ("9000000000", 9_000_000_000),  # past 32 bits
    "BigNumber": ("12.5", Decimal("12.5")),
    "Serializable": ("ab", b"ab"),
    "Binary": ("ab", b"ab"),
    "Timestamp": ("2024/01/02 10:00:00", dt.datetime(2024, 1, 2, 10)),
    "Internet Address": ("10.0.0.1", "10.0.0.1"),
}
TYPES = list(KETTLE_TO_SPARK)
COLS = {t: f"f{i}" for i, t in enumerate(TYPES)}  # one column per type


def _run(spark, tmp_path, steps: str, hops: list[tuple[str, str]], variables=None):
    order = "".join(
        f"<hop><from>{a}</from><to>{b}</to><enabled>Y</enabled></hop>" for a, b in hops
    )
    p = tmp_path / "t.ktr"
    p.write_text(
        '<?xml version="1.0"?><transformation><info><name>t</name></info>'
        f"{steps}<order>{order}</order></transformation>"
    )
    return ktr.run_ktr(spark, str(p), variables=variables)


def _fields(value_tag: str | None) -> str:
    return "".join(
        f"<field><name>{COLS[t]}</name><type>{t}</type>"
        + (f"<{value_tag}>{SAMPLES[t][0]}</{value_tag}>" if value_tag else "")
        + "</field>"
        for t in TYPES
    )


def _grid(name: str, fields: str, lines: list[list[str]]) -> str:
    data = "".join(
        "<line>" + "".join(f"<item>{v}</item>" for v in line) + "</line>" for line in lines
    )
    return (
        f"<step><name>{name}</name><type>DataGrid</type>"
        f"<fields>{fields}</fields><data>{data}</data></step>"
    )


def _step_output(spark, tmp_path, step: str):
    if step == "DataGrid":
        grid = _grid("S", _fields(None), [[SAMPLES[t][0] for t in TYPES]])
        return _run(spark, tmp_path, grid, [])["S"]
    if step == "Constant":
        steps = _grid("G", "<field><name>k</name><type>Integer</type></field>", [["1"]])
        steps += f"<step><name>S</name><type>Constant</type><fields>{_fields('value')}</fields></step>"
        return _run(spark, tmp_path, steps, [("G", "S")])["S"].drop("k")
    if step == "RowGenerator":
        steps = (
            "<step><name>S</name><type>RowGenerator</type><limit>1</limit>"
            f"<fields>{_fields('nullif')}</fields></step>"
        )
        return _run(spark, tmp_path, steps, [])["S"]
    variables = {f"V{i}": SAMPLES[t][0] for i, t in enumerate(TYPES)}
    fields = "".join(
        f"<field><name>{COLS[t]}</name><variable>${{V{i}}}</variable><type>{t}</type></field>"
        for i, t in enumerate(TYPES)
    )
    steps = f"<step><name>S</name><type>GetVariable</type><fields>{fields}</fields></step>"
    return _run(spark, tmp_path, steps, [], variables)["S"]


@pytest.mark.parametrize("step", ["DataGrid", "Constant", "RowGenerator", "GetVariable"])
def test_typed_field_has_the_kettle_type_and_parsed_value(spark, tmp_path, step):
    df = _step_output(spark, tmp_path, step)
    (row,) = df.collect()
    for t in TYPES:
        col = COLS[t]
        assert df.schema[col].dataType == KETTLE_TO_SPARK[t], (step, t)
        got = row[col]
        got = bytes(got) if isinstance(got, bytearray) else got
        assert got == SAMPLES[t][1], (step, t, got)


@pytest.mark.parametrize(
    "vtype, function, value, want",
    [
        ("Date", ">=", "<text>2024/01/02 00:00:00.000</text><mask>yyyy/MM/dd HH:mm:ss.SSS</mask>", [2, 3]),
        ("Date", "<", "<text>2024/01/02 00:00:00.000</text>", [1]),
        ("Integer", ">", "<text>5000000000</text>", [3]),
        ("Number", "<=", "<text>2.5</text>", [1, 2]),
        ("Boolean", "=", "<text>Y</text>", [1, 3]),
    ],
)
def test_filter_rows_typed_value(spark, tmp_path, vtype, function, value, want):
    field = {"Date": "d", "Integer": "i", "Number": "n", "Boolean": "b"}[vtype]
    grid = _grid(
        "G",
        "<field><name>k</name><type>Integer</type></field>"
        "<field><name>d</name><type>Date</type></field>"
        "<field><name>i</name><type>Integer</type></field>"
        "<field><name>n</name><type>Number</type></field>"
        "<field><name>b</name><type>Boolean</type></field>",
        [
            ["1", "2024-01-01", "1", "1.5", "Y"],
            ["2", "2024-01-02", "5000000000", "2.5", "N"],
            ["3", "2024-01-03 12:00:00", "5000000001", "3.5", "yes"],
        ],
    )
    func = {">=": "&gt;=", "<": "&lt;", ">": "&gt;", "<=": "&lt;=", "=": "="}[function]
    steps = grid + (
        "<step><name>F</name><type>FilterRows</type>"
        "<send_true_to>T</send_true_to><send_false_to>N</send_false_to>"
        f"<compare><condition><leftvalue>{field}</leftvalue><function>{func}</function>"
        f"<value><name>constant</name><type>{vtype}</type>{value}</value>"
        "</condition></compare></step>"
        "<step><name>T</name><type>Dummy</type></step>"
        "<step><name>N</name><type>Dummy</type></step>"
    )
    outs = _run(spark, tmp_path, steps, [("G", "F"), ("F", "T"), ("F", "N")])
    assert sorted(r.k for r in outs["T"].collect()) == want


def test_filter_rows_in_list_splits_the_text_on_semicolons(spark, tmp_path):
    """Kettle's Condition reads an IN LIST value as `;`-separated items: the
    list `ab;c` holds `ab` and `c`, not the characters a, b and c."""
    grid = _grid("G", "<field><name>s</name><type>String</type></field>", [["a"], ["b"], ["c"]])
    steps = grid + (
        "<step><name>F</name><type>FilterRows</type>"
        "<send_true_to>T</send_true_to><send_false_to>N</send_false_to>"
        "<compare><condition><leftvalue>s</leftvalue><function>IN LIST</function>"
        "<value><name>constant</name><type>String</type><text>ab;c</text></value>"
        "</condition></compare></step>"
        "<step><name>T</name><type>Dummy</type></step>"
        "<step><name>N</name><type>Dummy</type></step>"
    )
    outs = _run(spark, tmp_path, steps, [("G", "F"), ("F", "T"), ("F", "N")])
    assert sorted(r.s for r in outs["T"].collect()) == ["c"]
    assert sorted(r.s for r in outs["N"].collect()) == ["a", "b"]


def test_number_to_integer_casts_in_calculator_and_select_values(spark):
    """Typed Number → Integer is a cast: it truncates toward zero."""
    df = spark.createDataFrame([(2.7,), (-2.7,)], "x double")
    calc = ops.calculator(df, [Calc("i", "COPY_FIELD", "x", value_type="Integer")])
    sel = ops.select_values(df, meta=[{"name": "x", "type": "Integer"}])
    assert calc.schema["i"].dataType == KETTLE_TO_SPARK["Integer"]
    assert sel.schema["x"].dataType == KETTLE_TO_SPARK["Integer"]
    assert sorted(r.i for r in calc.collect()) == [-2, 2]
    assert sorted(r.x for r in sel.collect()) == [-2, 2]


@pytest.mark.parametrize(
    "text, want",
    [
        ("2024-01-02", dt.datetime(2024, 1, 2)),
        ("2024/01/02 10:00:00", dt.datetime(2024, 1, 2, 10)),
        ("2024-01-02 10:00:00", dt.datetime(2024, 1, 2, 10)),
    ],
)
def test_coerce_to_date_default_patterns(spark, text, want):
    assert spark.range(1).select(coerce_to_date(F.lit(text)).alias("d")).first().d == want


def test_coerce_to_date_malformed_text_raises(spark):
    with pytest.raises(Exception, match="CANNOT_PARSE_TIMESTAMP"):
        spark.range(1).select(coerce_to_date(F.lit("02.01.2024"))).collect()


def test_set_value_constant_keeps_the_field_type(spark, tmp_path):
    df = spark.createDataFrame([(1,)], "a bigint")
    out = ops.set_field_value(df, "a", value="9")
    assert out.schema["a"].dataType == df.schema["a"].dataType
    assert out.first().a == 9
    steps = _grid("G", "<field><name>a</name><type>Integer</type></field>", [["1"]]) + (
        "<step><name>S</name><type>SetValueConstant</type>"
        "<fields><field><name>a</name><value>9</value></field></fields></step>"
    )
    out = _run(spark, tmp_path, steps, [("G", "S")])["S"]
    assert out.schema["a"].dataType == KETTLE_TO_SPARK["Integer"]
    assert out.first().a == 9


def test_ktr_reads_kettle_to_spark_only_in_the_schema_helper():
    """The loader maps a Kettle type name to a Spark type in one place, the
    file readers' `_fields_schema`; every other typed field or literal goes
    through types.cast_to_kettle_type."""
    tree = ast.parse(open(ktr.__file__).read())
    allowed = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and node.name == "_fields_schema":
            allowed = {id(n) for n in ast.walk(node)}
    assert allowed, "_fields_schema is gone"
    reads = [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Name)
        and node.id == "KETTLE_TO_SPARK"
        and id(node) not in allowed
    ]
    assert reads == [], f"plans/ktr.py reads KETTLE_TO_SPARK at lines {reads}"

"""Kettle .ktr transformation loader → composed DataFrame plan.

The reference parses `.ktr` XML into a TransMeta step graph and runs one
thread per step (engine/.../trans/TransMeta.java#loadXML, SURVEY §3.1).
Here the same XML compiles into a composition of the operator-library stage
functions: steps become expressions, hops become data dependencies, and
Catalyst plans the whole graph — so an existing Kettle transformation file
runs on this engine unchanged (for the supported step types).

Supported <type>s (the row-shaping core; connectors map to sources/):
  CSVInput / CsvInput, DataGrid, Constant, FilterRows, SelectValues,
  Calculator, GroupBy, MemoryGroupBy, SortRows, MergeJoin, StreamLookup,
  Unique, UniqueRowsByHashSet, ValueMapper, ReplaceString, Denormaliser,
  Normaliser, SwitchCase, Dummy (DUMMY), TextFileOutput, Sequence,
  NumberRange, IfNull, SetValueConstant, SetValueField, CheckSum, Janino,
  Formula, MergeRows, JoinRows, FuzzyMatch, StringOperations, StringCut,
  FieldSplitter, SplitFieldToRows3, ConcatFields, AnalyticQuery,
  ScriptValueMod/ScriptValuesMod (JS-expression subset via plans/jsexpr.py),
  GetVariable, Mapping/SimpleMapping/MappingInput/MappingOutput, MetaInject.
  ${VAR} substitution everywhere via plans/variables.py.

Kettle values: every typed field and literal (DataGrid items, Constant and
RowGenerator values, GetVariable fields, FilterRows `<value>`,
ScriptValuesMod and JsonInput fields, SetValueConstant) converts through
the one conversion, types.cast_to_kettle_type: text gets Kettle's lenient
parse (trim, grouping mask, Y/TRUE/YES/1, the date mask or the default
date patterns), typed input a cast; Integer is 64-bit. The file readers
(CsvInput, TextFileInput) take their schema from `_fields_schema`, the
one place this module maps a Kettle type name to a Spark type.

Semantics pins preserved from the reference: FilterRows' two-way routing
(NULL → false target), GroupBy aggregate type names, SortRows asc/desc
flags. Unknown step types raise with the step name so a user knows exactly
what to port.

Note: the reference repo mount was empty at build time (SURVEY §0); the XML
shapes follow the public upstream format and are exercised by hand-authored
sample files in tests/.
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pentaho_kettle_spark import operators as ops
from pentaho_kettle_spark.operators.calculator import Calc
from pentaho_kettle_spark.operators.group_by import Agg
from pentaho_kettle_spark.types import KETTLE_TO_SPARK, cast_to_kettle_type


@dataclass
class KtrStep:
    name: str
    type: str
    elem: ET.Element
    dir: str = ""  # directory of the owning .ktr (for relative child paths)
    vars: object = None  # the Variables space the file was parsed under
    repo: str | None = None  # file-repository root (for rep_name child refs)


@dataclass
class KtrTrans:
    name: str
    steps: dict[str, KtrStep]
    hops: list[tuple[str, str]]  # (from, to), enabled only


def parse_ktr(path: str, variables: dict | None = None,
              repository: str | None = None) -> KtrTrans:
    """Parse a .ktr. ``variables`` feeds the Kettle variable space —
    ``${VAR}`` / ``%%VAR%%`` in any text node resolves against caller values,
    then the process environment, then the file's own <parameters> defaults
    (plans/variables.py; reference core/.../variables/Variables.java).
    ``repository`` names a Kettle FILE-repository root directory — sub-
    transformation references by repository name (<specification_method>
    rep_name) resolve under it (see _resolve_trans_ref)."""
    from pentaho_kettle_spark.plans.variables import (
        Variables,
        file_parameter_defaults,
        resolve_tree,
    )

    root = ET.parse(path).getroot()
    if root.tag != "transformation":
        raise ValueError(f"{path}: not a .ktr transformation (root <{root.tag}>)")
    vspace = (
        variables
        if isinstance(variables, Variables)
        else Variables(variables)
    )
    vspace.defaults = {**file_parameter_defaults(root), **vspace.defaults}
    resolve_tree(root, vspace)
    name = root.findtext("info/name", default=path)
    import os

    kdir = os.path.dirname(os.path.abspath(path))
    steps = {}
    for s in root.findall("step"):
        sname = s.findtext("name")
        steps[sname] = KtrStep(sname, s.findtext("type"), s, kdir, vspace,
                                repository)
    hops = [
        (h.findtext("from"), h.findtext("to"))
        for h in root.findall("order/hop")
        if (h.findtext("enabled") or "Y") == "Y"
    ]
    return KtrTrans(name, steps, hops)


def _txt(e: ET.Element, tag: str, default: str | None = None) -> str | None:
    v = e.findtext(tag)
    return v if v is not None else default


def _bool(e: ET.Element, tag: str, default: bool = False) -> bool:
    return (_txt(e, tag) or ("Y" if default else "N")) == "Y"


# ---------------- per-step builders ----------------
# builder(spark, step, inputs) -> DataFrame | dict[target_step_name, DataFrame]
# `inputs` is {upstream_step_name: DataFrame}.


def _single(inputs: dict) -> DataFrame:
    if len(inputs) != 1:
        raise ValueError(f"expected exactly one input, got {list(inputs)}")
    return next(iter(inputs.values()))


def _fields_schema(fields: list[ET.Element]) -> T.StructType:
    """A file reader's <fields>/<field> name+type list as its Spark schema."""
    return T.StructType(
        [
            T.StructField(_txt(f, "name"), KETTLE_TO_SPARK[_txt(f, "type", "String")], True)
            for f in fields
        ]
    )


def _text_value(text: str | None, ktype: str, mask: str | None = None) -> Column:
    """A typed Kettle literal written as XML text."""
    return cast_to_kettle_type(F.lit(text).cast("string"), T.StringType(), ktype, mask)


def _literal_fields(e: ET.Element, value_tag: str) -> dict[str, Column]:
    """<fields>/<field> name, type, format and `value_tag` text (Constant,
    RowGenerator, GetVariable) → {name: typed literal}."""
    return {
        _txt(f, "name"): _text_value(
            "" if _bool(f, "set_empty_string") else _txt(f, value_tag),
            _txt(f, "type", "String"),
            _txt(f, "format"),
        )
        for f in e.findall("fields/field")
    }


def _b_csv_input(spark, step, inputs):
    from pentaho_kettle_spark.sources import csv_input

    e = step.elem
    fields = e.findall("fields/field")
    return csv_input(
        spark,
        _txt(e, "filename"),
        schema=_fields_schema(fields) if fields else None,
        header=_bool(e, "header", True),
        delimiter=_txt(e, "separator", ",") or ",",
        enclosure=_txt(e, "enclosure", '"') or '"',
    )


def _b_data_grid(spark, step, inputs):
    """Data Grid: the <data> items as string rows, then one projection
    converts each column to its field's type."""
    e = step.elem
    fields = e.findall("fields/field")
    names = [_txt(f, "name") for f in fields]
    text = T.StructType([T.StructField(n, T.StringType(), True) for n in names])
    rows = [
        tuple(i.text for i in line.findall("item")) for line in e.findall("data/line")
    ]
    return spark.createDataFrame(rows, text).select(
        *(
            cast_to_kettle_type(
                F.col(n), T.StringType(), _txt(f, "type", "String"), _txt(f, "format")
            ).alias(n)
            for n, f in zip(names, fields)
        )
    )


def _b_constant(spark, step, inputs):
    return ops.add_constants(_single(inputs), _literal_fields(step.elem, "value"))


def _parse_condition(c: ET.Element) -> dict:
    conds = c.findall("conditions/condition")
    if conds:
        ops_ = [(_txt(x, "operator") or "-").upper() for x in conds]
        kids = [_parse_condition(x) for x in conds]
        tree = kids[0]
        for op, kid in zip(ops_[1:], kids[1:]):
            tree = {"op": "AND" if op in ("AND", "-") else op, "children": [tree, kid]}
        if _bool(c, "negated"):
            tree = {"op": "NOT", "children": [tree]}
        return tree
    func = (_txt(c, "function", "=") or "=").upper()
    leaf: dict = {"field": _txt(c, "leftvalue"), "function": func}
    val = c.find("value")
    if val is not None:
        text, vtype = _txt(val, "text"), _txt(val, "type", "String")
        if func == "IN LIST":
            # Kettle's Condition splits the list text on `;` (`\;` keeps a
            # literal `;`) and drops the escapes
            leaf["value"] = [v.replace("\\", "") for v in re.split(r"(?<!\\);", text or "")]
        else:
            # a String stays a str: REGEXP/LIKE take Python strings
            leaf["value"] = (
                text if vtype == "String" else _text_value(text, vtype, _txt(val, "mask"))
            )
    if _bool(c, "negated"):
        return {"op": "NOT", "children": [leaf]}
    return leaf


def _b_filter_rows(spark, step, inputs):
    df = _single(inputs)
    e = step.elem
    cond = _parse_condition(e.find("compare/condition"))
    t, f = ops.filter_rows(df, cond)
    out = {}
    true_to = _txt(e, "send_true_to")
    false_to = _txt(e, "send_false_to")
    if true_to:
        out[true_to] = t
    if false_to:
        out[false_to] = f
    return out if out else t


def _b_select_values(spark, step, inputs):
    df = _single(inputs)
    e = step.elem
    select = [
        (_txt(f, "name"), _txt(f, "rename"))
        for f in e.findall("fields/field")
    ] or None
    remove = [_txt(r, "name") for r in e.findall("fields/remove")] or None
    meta = [
        {
            "name": _txt(m, "name"),
            "rename": _txt(m, "rename"),
            "type": _txt(m, "type"),
            "mask": _txt(m, "conversion_mask"),
        }
        for m in e.findall("fields/meta")
    ] or None
    return ops.select_values(df, select=select, remove=remove, meta=meta)


def _b_calculator(spark, step, inputs):
    df = _single(inputs)
    calcs = [
        Calc(
            field_name=_txt(c, "field_name"),
            calc_type=_txt(c, "calc_type"),
            field_a=_txt(c, "field_a"),
            field_b=_txt(c, "field_b"),
            field_c=_txt(c, "field_c"),
            value_type=_txt(c, "value_type"),
            remove=_bool(c, "remove"),
        )
        for c in step.elem.findall("calculation")
    ]
    return ops.calculator(df, calcs)


def _b_group_by(spark, step, inputs):
    df = _single(inputs)
    e = step.elem
    keys = [_txt(f, "name") for f in e.findall("group/field")]
    aggs = [
        Agg(
            field=_txt(f, "subject") or "*",
            type=_txt(f, "type"),
            out=_txt(f, "aggregate"),
            separator=_txt(f, "valuefield", ",") or ",",
        )
        for f in e.findall("fields/field")
    ]
    return ops.group_by(df, keys, aggs)


def _b_sort_rows(spark, step, inputs):
    df = _single(inputs)
    keys = [
        (_txt(f, "name"), _bool(f, "ascending", True))
        for f in step.elem.findall("fields/field")
    ]
    return ops.sort_rows(df, keys)


def _b_merge_join(spark, step, inputs):
    e = step.elem
    s1, s2 = _txt(e, "step1"), _txt(e, "step2")
    left, right = inputs[s1], inputs[s2]
    k1 = [k.text for k in e.findall("keys_1/key")]
    k2 = [k.text for k in e.findall("keys_2/key")]
    how = (_txt(e, "join_type", "INNER") or "INNER").lower()
    how = {"full outer": "full", "left outer": "left", "right outer": "right"}.get(how, how)
    keys = list(zip(k1, k2)) if k1 != k2 else k1
    return ops.merge_join(left, right, keys, how=how)


def _b_stream_lookup(spark, step, inputs):
    e = step.elem
    lkp_step = _txt(e, "from")
    lookup = inputs[lkp_step]
    stream = _single({k: v for k, v in inputs.items() if k != lkp_step})
    keys = [
        (_txt(k, "field"), _txt(k, "lookupfield"))
        for k in e.findall("lookup/key")
    ]
    retrieve = {}
    for v in e.findall("lookup/value"):
        name = _txt(v, "name")
        retrieve[_txt(v, "rename") or name] = _txt(v, "default")
        if _txt(v, "rename"):
            lookup = lookup.withColumnRenamed(name, _txt(v, "rename"))
    return ops.stream_lookup(stream, lookup, keys, retrieve)


def _b_unique(spark, step, inputs):
    df = _single(inputs)
    keys = [_txt(f, "name") for f in step.elem.findall("fields/field")]
    return ops.unique_rows(df, keys or df.columns)


def _b_value_mapper(spark, step, inputs):
    df = _single(inputs)
    e = step.elem
    mapping = {
        _txt(v, "source_value"): _txt(v, "target_value")
        for v in e.findall("fields/field")
    }
    return ops.value_mapper(
        df,
        _txt(e, "field_to_use"),
        mapping,
        default=_txt(e, "non_match_default"),
        out_field=_txt(e, "target_field") or None,
    )


def _b_replace_string(spark, step, inputs):
    df = _single(inputs)
    for f in step.elem.findall("fields/field"):
        df = ops.replace_in_string(
            df,
            _txt(f, "in_stream_name"),
            _txt(f, "replace_string") or "",
            _txt(f, "replace_by_string") or "",
            use_regex=_bool(f, "use_regex"),
            out_field=_txt(f, "out_stream_name") or None,
        )
    return df


def _b_denormaliser(spark, step, inputs):
    df = _single(inputs)
    e = step.elem
    group = [_txt(f, "name") for f in e.findall("group/field")]
    key_field = _txt(e, "key_field")
    targets = [
        {
            "key_value": _txt(f, "key_value"),
            "value_field": _txt(f, "field_name"),
            "out": _txt(f, "target_name"),
            "agg": (_txt(f, "target_aggregation_type", "first") or "first").lower(),
        }
        for f in e.findall("fields/field")
    ]
    return ops.denormaliser(df, group, key_field, targets)


def _b_normaliser(spark, step, inputs):
    df = _single(inputs)
    e = step.elem
    mapping = [
        (_txt(f, "name"), _txt(f, "value"))
        for f in e.findall("fields/field")
    ]
    keep = [c for c in df.columns if c not in [m[0] for m in mapping]]
    return ops.normaliser(
        df, keep, mapping,
        type_field=_txt(e, "typefield", "type") or "type",
        value_field=_txt(e.find("fields/field"), "norm", "value") or "value",
    )


def _b_switch_case(spark, step, inputs):
    df = _single(inputs)
    e = step.elem
    cases = {
        _txt(c, "value"): _txt(c, "target_step")
        for c in e.findall("cases/case")
    }
    outs = ops.switch_case(df, _txt(e, "fieldname"), cases,
                           contains=_bool(e, "use_contains"))
    routed = {target: outs[target] for target in cases.values() if target in outs}
    default_target = _txt(e, "default_target_step")
    if default_target:
        routed[default_target] = outs["default"]
    return routed


def _b_sequence(spark, step, inputs):
    df = _single(inputs)
    e = step.elem
    return ops.add_sequence(
        df,
        out_field=_txt(e, "valuename", "valuename") or "valuename",
        start=int(_txt(e, "start_at", "1") or 1),
    )


def _b_number_range(spark, step, inputs):
    df = _single(inputs)
    e = step.elem
    ranges = []
    for r in e.findall("rules/rule"):
        lo, hi = _txt(r, "lower_bound"), _txt(r, "upper_bound")
        ranges.append(
            (float(lo) if lo else None, float(hi) if hi else None, _txt(r, "value"))
        )
    return ops.number_range(
        df,
        _txt(e, "inputField"),
        _txt(e, "outputField", "range") or "range",
        ranges,
        default=_txt(e, "fallBackValue", "unknown") or "unknown",
    )


def _b_if_null(spark, step, inputs):
    df = _single(inputs)
    defaults = {
        _txt(f, "name"): _txt(f, "value")
        for f in step.elem.findall("fields/field")
    }
    return ops.if_null(df, defaults)


def _b_set_value_constant(spark, step, inputs):
    df = _single(inputs)
    for f in step.elem.findall("fields/field"):
        df = ops.set_field_value(df, _txt(f, "name"), value=_txt(f, "value"))
    return df


def _b_set_value_field(spark, step, inputs):
    df = _single(inputs)
    for f in step.elem.findall("fields/field"):
        df = ops.set_field_value(
            df, _txt(f, "name"), from_field=_txt(f, "replaceby")
        )
    return df


def _b_checksum(spark, step, inputs):
    df = _single(inputs)
    e = step.elem
    fields = [_txt(f, "name") for f in e.findall("fields/field")]
    algo = (_txt(e, "checksumtype", "sha256") or "sha256").lower().replace("-", "")
    return ops.add_checksum(
        df, fields, out_field=_txt(e, "resultfieldName", "checksum") or "checksum",
        algo=algo,
    )


def _b_janino(spark, step, inputs):
    df = _single(inputs)
    for f in step.elem.findall("fields/field"):
        df = ops.janino_expression(df, _txt(f, "fieldName"), _txt(f, "formula"))
    return df


def _b_script_values_mod(spark, step, inputs):
    """Modified Java Script Value — scriptvalues_mod/ScriptValuesMod.java
    (SURVEY §2.7). The compilable subset (`var NAME = EXPR;` lines — see
    plans/jsexpr.py for the full grammar) becomes native Catalyst
    expressions, which is FASTER than the reference's per-row Rhino
    interpreter; scripts outside the subset raise with the offending line so
    the user knows to port them to operators/scripting.py script_values
    (the mapInPandas general path). Only the declared <fields> become output
    columns (Kettle contract); each converts to its declared <type>, and
    <rename> names the output."""
    from pentaho_kettle_spark.plans.jsexpr import compile_script

    df = _single(inputs)
    e = step.elem
    scripts = [
        _txt(js, "jsScript_script") or ""
        for js in e.findall("jsScripts/jsScript")
        if (_txt(js, "jsScript_type", "0") or "0") == "0"  # 0 = transform script
    ]
    env = compile_script("\n".join(scripts), schema=df.schema)
    for f in e.findall("fields/field"):
        name = _txt(f, "name")
        out = _txt(f, "rename") or name
        if name not in env:
            raise ValueError(
                f"ScriptValuesMod '{step.name}': declared field {name!r} is "
                "not assigned in the script"
            )
        col = env[name]
        ktype = _txt(f, "type")
        if ktype:
            col = cast_to_kettle_type(col, df.select(col).schema[0].dataType, ktype)
        df = df.withColumn(out, col)
    return df


def _b_formula(spark, step, inputs):
    df = _single(inputs)
    for f in step.elem.findall("fields/field"):
        df = ops.formula(df, _txt(f, "field_name"), _txt(f, "formula_string"))
    return df


def _b_merge_rows(spark, step, inputs):
    e = step.elem
    ref_step, cmp_step = _txt(e, "reference"), _txt(e, "compare")
    keys = [k.text for k in e.findall("keys/key")]
    values = [v.text for v in e.findall("values/value")] or None
    return ops.merge_rows_diff(
        inputs[ref_step], inputs[cmp_step], keys,
        value_cols=values, flag_field=_txt(e, "flag_field", "flagfield") or "flagfield",
    )


def _b_join_rows(spark, step, inputs):
    e = step.elem
    main = _txt(e, "main")
    if main and main in inputs and len(inputs) == 2:
        other = _single({k: v for k, v in inputs.items() if k != main})
        left, right = inputs[main], other
    else:
        left, right = list(inputs.values())[:2]
    cond_el = e.find("compare/condition")
    cond = None
    if cond_el is not None and cond_el.find("leftvalue") is not None:
        from pentaho_kettle_spark.operators.filter_rows import kettle_condition

        cond = kettle_condition(_parse_condition(cond_el))
    return ops.join_rows_cartesian(left, right, condition=cond)


def _b_fuzzy_match(spark, step, inputs):
    e = step.elem
    lkp_step = _txt(e, "from")
    lookup = inputs[lkp_step]
    stream = _single({k: v for k, v in inputs.items() if k != lkp_step})
    algo = (_txt(e, "algorithm", "levenshtein") or "levenshtein").lower()
    min_v, max_v = _txt(e, "minimalValue"), _txt(e, "maximalValue")
    return ops.fuzzy_match(
        stream, lookup,
        stream_field=_txt(e, "mainstreamfield"),
        lookup_field=_txt(e, "lookupfield"),
        algorithm=algo,
        match_field=_txt(e, "outputmatchfield", "match") or "match",
        max_distance=int(max_v) if (max_v and algo == "levenshtein") else None,
        min_similarity=float(min_v) if (min_v and algo != "levenshtein") else None,
    )


def _b_string_operations(spark, step, inputs):
    df = _single(inputs)
    trims = {"none": "none", "left": "left", "right": "right", "both": "both"}
    cases = {"upper": "upper", "lower": "lower", "init cap": "initcap"}
    for f in step.elem.findall("fields/field"):
        df = ops.string_operations(
            df,
            _txt(f, "in_stream_name"),
            trim_type=trims.get((_txt(f, "trim_type", "none") or "none").lower(), "none"),
            case=cases.get((_txt(f, "lower_upper", "") or "").lower()),
            digits={"only": "only", "remove": "remove"}.get(
                (_txt(f, "digits", "") or "").lower()
            ),
            out_field=_txt(f, "out_stream_name") or None,
        )
    return df


def _b_string_cut(spark, step, inputs):
    df = _single(inputs)
    for f in step.elem.findall("fields/field"):
        df = ops.strings_cut(
            df,
            _txt(f, "in_stream_name"),
            int(_txt(f, "cut_from", "0") or 0),
            int(_txt(f, "cut_to", "0") or 0),
            out_field=_txt(f, "out_stream_name") or None,
        )
    return df


def _b_field_splitter(spark, step, inputs):
    df = _single(inputs)
    e = step.elem
    new_fields = [_txt(f, "name") for f in e.findall("fields/field")]
    return ops.split_fields(
        df, _txt(e, "splitfield"), _txt(e, "delimiter", ",") or ",", new_fields
    )


def _b_split_field_to_rows(spark, step, inputs):
    df = _single(inputs)
    e = step.elem
    rownum = _txt(e, "rownum_field") if _bool(e, "rownum") else None
    return ops.split_field_to_rows(
        df,
        _txt(e, "splitfield"),
        _txt(e, "delimiter", ";") or ";",
        _txt(e, "newfield", "value") or "value",
        rownum_field=rownum,
        is_regex=_bool(e, "delimiter_is_regex"),
    )


def _b_concat_fields(spark, step, inputs):
    df = _single(inputs)
    e = step.elem
    fields = [_txt(f, "name") for f in e.findall("fields/field")]
    return ops.concat_fields(
        df, fields,
        _txt(e, "separator", "") or "",
        _txt(e, "targetFieldName", "concat") or "concat",
    )


def _b_analytic_query(spark, step, inputs):
    df = _single(inputs)
    e = step.elem
    group = [_txt(f, "name") for f in e.findall("group/field")]
    specs = []
    for f in e.findall("fields/field"):
        typ = (_txt(f, "aggregatetype", "LAG") or "LAG").lower()
        specs.append({
            "subject": _txt(f, "subjectfield"),
            "type": "lead" if typ.startswith("lead") else "lag",
            "n": int(_txt(f, "valuefield", "1") or 1),
            "out": _txt(f, "aggregatefield"),
        })
    order = [_txt(f, "name") for f in e.findall("order/field")] or group
    return ops.analytic_query(df, group, order, specs)


def _b_dummy(spark, step, inputs):
    return _single(inputs)


def _b_text_output(spark, step, inputs):
    from pentaho_kettle_spark.sources.files import csv_output

    df = _single(inputs)
    e = step.elem
    filename = _txt(e, "file/name") or _txt(e, "filename")
    csv_output(
        df, filename,
        header=_bool(e.find("file") if e.find("file") is not None else e, "header", True),
        delimiter=_txt(e, "separator", ",") or ",",
        single_file=True,
    )
    return df


# ---------------- round-2 builders: high-frequency remainder ----------------


def _b_row_generator(spark, step, inputs):
    from pentaho_kettle_spark.sources.generators import row_generator

    e = step.elem
    consts = _literal_fields(e, "nullif")
    rownum_field = _txt(e, "rownum_field") or None
    if _bool(e, "never_ending"):
        # Kettle's never-ending generator emits the constant row every
        # <interval_in_ms>; the Structured Streaming twin is the rate
        # source at the equivalent rows/sec. Downstream row-shaping steps
        # compose lazily; the caller sinks via writeStream/foreachBatch
        # (streaming/ingest.py) — a .ktr file cannot express the sink.
        interval_ms = int(_txt(e, "interval_in_ms", "1000") or 1000)
        if interval_ms <= 1000:
            # sub-second intervals map directly to rowsPerSecond
            rps, stride = max(1, round(1000.0 / max(interval_ms, 1))), 1
        else:
            # rowsPerSecond is an integer ≥1 — it cannot express slower than
            # one row/sec, so emit at 1 rps and keep every ceil(interval/1s)th
            # row: interval_in_ms=5000 yields one row per 5s, not 1/sec (the
            # old clamp emitted 5× Kettle's rate for any interval > ~1.5s)
            rps, stride = 1, -(-interval_ms // 1000)
        rate = spark.readStream.format("rate").option("rowsPerSecond", rps).load()
        if stride > 1:
            rate = rate.filter(F.col("value") % stride == 0)
        cols = [v.alias(k) for k, v in consts.items()]
        cols.append(F.col("timestamp").alias("generated_ts"))
        if rownum_field:
            cols.append((F.col("value") / stride).cast("long").alias(rownum_field))
        return rate.select(*cols)
    return row_generator(spark, int(_txt(e, "limit", "10")), consts, rownum_field)


def _b_system_info(spark, step, inputs):
    from pentaho_kettle_spark.sources.generators import get_system_data

    fields = {
        _txt(f, "name"): _txt(f, "type")
        for f in step.elem.findall("fields/field")
    }
    base = get_system_data(spark, fields)
    if inputs:  # appends system fields to each incoming row
        return _single(inputs).crossJoin(base)
    return base


def _b_random_value(spark, step, inputs):
    from pentaho_kettle_spark.sources.generators import random_value

    e = step.elem
    fields = {_txt(f, "name"): _txt(f, "type") for f in e.findall("fields/field")}
    seed = int(_txt(e, "seed", "42") or 42)
    df = _single(inputs) if inputs else spark.range(1).drop("id")
    return random_value(df, fields, seed=seed)


def _b_sample_rows(spark, step, inputs):
    df = _single(inputs)
    e = step.elem
    ranges = []
    for part in (_txt(e, "linesrange", "1..100") or "").split(","):
        part = part.strip()
        if ".." in part:
            lo, hi = part.split("..")
            ranges.append((int(lo), int(hi)))
        elif part:
            ranges.append((int(part), int(part)))
    order_by = [c.strip() for c in (_txt(e, "order_by") or "").split(",") if c.strip()]
    if not order_by:
        order_by = [df.columns[0]]
    return ops.sample_rows(df, ranges, order_by)


def _b_clone_row(spark, step, inputs):
    df = _single(inputs)
    e = step.elem
    n = int(_txt(e, "nrclones", "1") or 1)
    num_field = _txt(e, "clonenumfield") if _bool(e, "addclonenum") else None
    return ops.clone_row(df, n, clone_num_field=num_field)


def _b_flattener(spark, step, inputs):
    df = _single(inputs)
    e = step.elem
    out_names = [_txt(f, "name") for f in e.findall("fields/field")]
    group = [c.strip() for c in (_txt(e, "group_fields") or "").split(",") if c.strip()]
    order_by = [c.strip() for c in (_txt(e, "order_by") or "").split(",") if c.strip()]
    out = ops.flattener(
        df, _txt(e, "field_name"), group, order_by or group, len(out_names),
    )
    # rename positional columns to the declared target names
    prefix = _txt(e, "field_name")
    for i, name in enumerate(out_names):
        out = out.withColumnRenamed(f"{prefix}_{i + 1}", name)
    return out


def _b_validator(spark, step, inputs):
    df = _single(inputs)
    e = step.elem
    rules = []
    for v in e.findall("validator_field"):
        field = _txt(v, "name")
        if _bool(v, "null_allowed", True) is False:
            rules.append({"field": field, "kind": "not_null"})
        if _txt(v, "min_value"):
            rules.append({"field": field, "kind": "min", "value": float(_txt(v, "min_value"))})
        if _txt(v, "max_value"):
            rules.append({"field": field, "kind": "max", "value": float(_txt(v, "max_value"))})
        if _txt(v, "regex_expected"):
            rules.append({"field": field, "kind": "regex", "value": _txt(v, "regex_expected")})
        vals = [x.text for x in v.findall("value")]
        if vals:
            rules.append({"field": field, "kind": "in_list", "value": vals})
        if _txt(v, "max_length"):
            rules.append({"field": field, "kind": "max_length", "value": int(_txt(v, "max_length"))})
    valid, errors = ops.validator(df, rules)
    error_to = _txt(e, "send_error_to")
    if error_to:
        ok_to = [t for t in (_txt(e, "send_valid_to") or "").split(",") if t]
        out = {error_to: errors}
        for t in ok_to:
            out[t] = valid
        return out
    return valid


def _b_regex_eval(spark, step, inputs):
    df = _single(inputs)
    e = step.elem
    captures = [_txt(f, "name") for f in e.findall("fields/field")]
    return ops.regex_eval(
        df,
        _txt(e, "matcher") or _txt(e, "fieldname"),
        _txt(e, "script"),
        result_field=_txt(e, "resultfieldname", "result") or "result",
        capture_fields=captures if _bool(e, "allowcapturegroups") else None,
    )


def _b_append(spark, step, inputs):
    e = step.elem
    head_name, tail_name = _txt(e, "head_name"), _txt(e, "tail_name")
    return ops.append_streams(
        inputs[head_name], inputs[tail_name],
        order_field=_txt(e, "order_field") or None,
    )


def _b_prioritize_streams(spark, step, inputs):
    e = step.elem
    order = [_txt(s, "name") for s in e.findall("steps/step")]
    return ops.prioritize_streams([inputs[n] for n in order])


def _b_sorted_merge(spark, step, inputs):
    e = step.elem
    keys = [_txt(f, "name") for f in e.findall("fields/field")]
    return ops.sorted_merge(list(inputs.values()), keys)


def _b_blocking(spark, step, inputs):
    return ops.blocking_step(_single(inputs), pass_all=_bool(step.elem, "pass_all_rows", True))


def _b_detect_empty(spark, step, inputs):
    return ops.detect_empty_stream(_single(inputs))


def _b_write_to_log(spark, step, inputs):
    df = _single(inputs)
    limit = int(_txt(step.elem, "limitRows", "0") or 0)
    if limit:
        for row in df.limit(limit).collect():
            print(f"[writetolog:{step.name}] {row.asDict()}")
    return df


def _b_abort(spark, step, inputs):
    df = _single(inputs)
    threshold = int(_txt(step.elem, "row_threshold", "0") or 0)
    n = df.count()
    if n > threshold:
        msg = _txt(step.elem, "message") or "aborted"
        raise RuntimeError(f"Abort step '{step.name}': {n} rows > {threshold}: {msg}")
    return df


def _b_exec_sql(spark, step, inputs):
    from pentaho_kettle_spark.operators.scripting import execute_sql

    if inputs:
        _single(inputs).createOrReplaceTempView(f"pks_in_{step.name}")
    return execute_sql(spark, _txt(step.elem, "sql"))


def _b_table_input(spark, step, inputs):
    """TableInput: bind from `run_ktr(inputs=...)` (snapshot injection), else
    build the JDBC read from the step's SQL — gated on a driver jar."""
    from pentaho_kettle_spark.sources.jdbc import JdbcSpec, jdbc_input

    e = step.elem
    url = _txt(e, "connection_url")  # extension: full url in the step
    if not url:
        raise NotImplementedError(
            f"TableInput '{step.name}' needs a pre-bound input "
            "(run_ktr(inputs={name: df})) or a connection_url (JDBC jar required)"
        )
    return jdbc_input(spark, JdbcSpec(url=url, query=_txt(e, "sql")))


def _resolve_trans_ref(step, what: str) -> str:
    """Resolve a sub-transformation reference to a .ktr path.

    Kettle stores the reference three ways (StepWithMappingMeta /
    MappingMeta XML, SURVEY §2.7): <specification_method> `filename` with a
    <filename> (resolved relative to the owning file), `rep_name` with
    <trans_name> + <directory_path> (resolved against a repository), and
    `rep_ref` with a <trans_object_id> (a repository database object id).
    A Kettle FILE repository (repository/filerep/KettleFileRepository.java)
    is literally a directory tree of .ktr/.kjb files, so rep_name resolves
    as <repo-root>/<directory_path>/<trans_name>.ktr when the caller passes
    run_ktr(repository=...). rep_ref has no file-system analog and raises.
    """
    import os

    e = step.elem
    fname = _txt(e, "filename")
    if fname:
        return fname if os.path.isabs(fname) else os.path.join(step.dir, fname)
    tname = _txt(e, "trans_name")
    if tname:
        if not step.repo:
            raise NotImplementedError(
                f"{what} '{step.name}': repository-by-name reference "
                f"('{tname}') — pass run_ktr(repository=<file-repo root dir>)"
            )
        d = (_txt(e, "directory_path") or "/").strip("/")
        path = os.path.join(step.repo, d, tname + ".ktr")
        if not os.path.exists(path):
            raise FileNotFoundError(
                f"{what} '{step.name}': '{tname}' not found in file "
                f"repository ({path})"
            )
        return path
    if _txt(e, "trans_object_id"):
        raise NotImplementedError(
            f"{what} '{step.name}': repository-by-reference "
            "(<trans_object_id>) needs a repository database; re-export the "
            "job with rep_name or filename references"
        )
    raise NotImplementedError(
        f"{what} '{step.name}': no <filename>, <trans_name>, or "
        "<trans_object_id> reference"
    )


def _b_mapping(spark, step, inputs):
    """Mapping (sub-transformation) — mapping/MappingMeta.java + the
    MappingIODefinition connector lists (SURVEY §2.7). The child .ktr is a
    reusable stage: the parent's input rows are renamed parent→child along
    the <input> connectors, pre-bound onto the child's MappingInput step,
    the child graph is compiled in place (one Catalyst plan — there is no
    materialization boundary at the mapping edge), and the child's
    MappingOutput result is renamed child→parent along the <output>
    connectors. Supported subset: one MappingInput + one MappingOutput,
    child referenced by <filename> (absolute, or relative to the parent
    file) or by repository name against a file repository
    (_resolve_trans_ref); repository-by-reference (object ids) raises."""
    e = step.elem
    path = _resolve_trans_ref(step, "Mapping")
    # child inherits the parent's variable space (Kettle: mappings share the
    # parent TransMeta's space); <parameters><parameter><name>/<value> pairs
    # on the Mapping step override — their values were already substituted
    # against the parent space during the parent's parse
    extra = {
        p.findtext("name"): p.findtext("value") or ""
        for p in e.findall("parameters/parameter")
        if p.findtext("name")
    }
    child_vars = step.vars.child(extra) if step.vars is not None else extra
    child = parse_ktr(path, variables=child_vars, repository=step.repo)
    mi = [s for s in child.steps.values() if s.type == "MappingInput"]
    mo = [s for s in child.steps.values() if s.type == "MappingOutput"]
    if len(mi) != 1 or len(mo) != 1:
        raise NotImplementedError(
            f"Mapping '{step.name}': child must have exactly one MappingInput "
            f"and one MappingOutput (found {len(mi)}/{len(mo)})"
        )
    df = _single(inputs)
    maps = e.find("mappings")
    if maps is not None:
        for conn in maps.findall("input/mapping/connectors/connector"):
            df = df.withColumnRenamed(
                conn.findtext("parent"), conn.findtext("child")
            )
    outs = run_ktr(spark, path, inputs={mi[0].name: df}, variables=child_vars,
                   repository=step.repo)
    res = outs.get(mo[0].name)
    if res is None:
        raise ValueError(
            f"Mapping '{step.name}': child MappingOutput "
            f"'{mo[0].name}' must be a terminal step"
        )
    if maps is not None:
        # Kettle reverts the input renames once rows leave the mapping when
        # the input definition's <rename_on_output> is Y. MappingIODefinition
        # loads the tag as 'Y'.equalsIgnoreCase(getTagValue(...)) — a MISSING
        # tag is FALSE (keep child-side names, no revert). Only SimpleMapping
        # forces renamingOnOutput=true in its meta regardless of the tag.
        force_revert = step.type == "SimpleMapping"
        for m in maps.findall("input/mapping"):
            if not force_revert and (m.findtext("rename_on_output") or "N") != "Y":
                continue
            for conn in m.findall("connectors/connector"):
                res = res.withColumnRenamed(
                    conn.findtext("child"), conn.findtext("parent")
                )
        for conn in maps.findall("output/mapping/connectors/connector"):
            res = res.withColumnRenamed(
                conn.findtext("child"), conn.findtext("parent")
            )
    return res


def _b_rows_to_result(spark, step, inputs):
    """Copy rows to result — rowstoresult/RowsToResult.java: the stream is
    published to the JOB's result-row buffer for the next TRANS entry.
    Identity on data; plans/kjb.py captures this step's output after the
    transformation runs and pre-binds it onto the next entry's
    RowsFromResult steps. Lazy end to end: the rows are never collected,
    the next transformation's plan simply composes on this one."""
    return _single(inputs)


def _b_rows_from_result(spark, step, inputs):
    """Get rows from result — rowsfromresult/RowsFromResult.java. Outside a
    job there is nothing to read: run_ktr must pre-bind this step's name
    (plans/kjb.py does it automatically with the previous TRANS entry's
    result rows)."""
    raise NotImplementedError(
        f"RowsFromResult '{step.name}': no result rows bound — run this "
        "transformation from a job (run_kjb) after an entry that ends in "
        "'Copy rows to result', or pre-bind via run_ktr(inputs={name: df})"
    )


def _b_get_variables(spark, step, inputs):
    """Get Variables — getvariable/GetVariableMeta.java: append fields whose
    values come from the variable space (resolved at parse time by
    plans/variables.py; a missing variable leaves ${NAME} verbatim, exactly
    like the reference's environmentSubstitute). With no incoming hop the
    step emits ONE row of the variables, per the reference."""
    # Spoon writes the value as <variable>${NAME}</variable>; by now the
    # parse-time pass substituted it, so the text IS the value
    cols = [c.alias(n) for n, c in _literal_fields(step.elem, "variable").items()]
    if inputs:
        return _single(inputs).select("*", *cols)
    return spark.range(1).select(*cols)


def _b_delay(spark, step, inputs):
    """Delay — delay/Delay.java holds each row for N time units: a rate
    limiter for the reference's push-based row engine. A batch DataFrame
    plan has no per-row stream to throttle, and the step's declared data
    semantics (rows unchanged, order preserved) make it an identity here.
    Streaming rate limiting belongs to the SOURCE options instead
    (maxFilesPerTrigger / maxOffsetsPerTrigger in streaming/ingest.py)."""
    return _single(inputs)


def _b_metainject(spark, step, inputs):
    """MetaInject — metainject/MetaInject.java: rows from the incoming
    config streams rewrite a template .ktr's step settings, then the
    template runs (SURVEY §2.7). Target keys are XML paths under the target
    step (see plans/metainject.py for why, vs the reference's per-step
    injection-key registry). A `<list>Y</list>` flag on a mapping marks a
    repeating-group injection ("fields/field/name"): list mappings sharing
    a target container zip one element per config row."""
    import os

    from pentaho_kettle_spark.plans import metainject as mi

    e = step.elem
    path = _resolve_trans_ref(step, "MetaInject")

    rows_cache: dict[str, list[dict]] = {}

    def rows_of(src: str) -> list[dict]:
        if src not in rows_cache:
            if src not in inputs:
                raise ValueError(
                    f"MetaInject '{step.name}': source step {src!r} is not "
                    "an incoming hop"
                )
            rows_cache[src] = mi.collect_rows(inputs[src])
        return rows_cache[src]

    injections: list = []
    lists: dict[tuple[str, str, str], list[tuple[str, str]]] = {}
    for m in e.findall("mappings/mapping"):
        tgt = m.findtext("target_step_name")
        key = m.findtext("target_attribute_key")
        src = m.findtext("source_step")
        fld = m.findtext("source_field")
        if (m.findtext("list") or "N") == "Y":
            container, _, leaf = key.rpartition("/")
            lists.setdefault((tgt, container, src), []).append((leaf, fld))
        else:
            rs = rows_of(src)
            injections.append(
                mi.InjectValue(tgt, key, rs[0][fld] if rs else None)
            )
    for (tgt, container, src), leaf_fields in lists.items():
        injections.append(
            mi.InjectRows(
                tgt,
                container,
                [{lf: r[f] for lf, f in leaf_fields} for r in rows_of(src)],
            )
        )
    outs = mi.run_metainject(spark, path, injections, variables=step.vars)
    if len(outs) != 1:
        raise NotImplementedError(
            f"MetaInject '{step.name}': template must have exactly one "
            f"terminal step (got {sorted(outs)})"
        )
    return next(iter(outs.values()))


def _b_mapping_input(spark, step, inputs):
    raise NotImplementedError(
        f"MappingInput '{step.name}' only runs inside a parent Mapping step "
        "(or pre-bind it via run_ktr(inputs={name: df}))"
    )


def _b_mapping_output(spark, step, inputs):
    return _single(inputs)


def _file_specs(e):
    """<file><name>/<filemask> parallel lists (Kettle serializes them as
    sibling repeated tags under one <file> element)."""
    f = e.find("file")
    if f is None:
        return []
    names = [n.text or "" for n in f.findall("name")]
    masks = [m.text for m in f.findall("filemask")]
    masks += [None] * (len(names) - len(masks))
    return list(zip(names, masks))


def _b_text_file_input(spark, step, inputs):
    """Text file input — textfileinput/TextFileInput.java (SURVEY §2.1):
    wildcard directory+filemask file lists, gzip (transparent by
    extension), header/footer line skipping, CSV field split. filetype
    Fixed routes to fixed_input; anything but CSV/Fixed raises."""
    from pentaho_kettle_spark.sources import (
        resolve_file_specs,
        text_file_input_csv,
    )

    e = step.elem
    paths = resolve_file_specs(_file_specs(e))
    filetype = (_txt(e, "filetype", "CSV") or "CSV").upper()
    fields = e.findall("fields/field")
    if filetype == "FIXED":
        from pentaho_kettle_spark.sources import fixed_input

        spec = [
            (
                _txt(f, "name"),
                int(_txt(f, "position", "0") or 0),
                int(_txt(f, "length", "0") or 0),
                _txt(f, "type", "String"),
            )
            for f in fields
        ]
        if len(paths) != 1:
            raise NotImplementedError(
                "TextFileInput: Fixed filetype with multiple files"
            )
        return fixed_input(spark, paths[0], spec)
    if filetype != "CSV":
        raise NotImplementedError(
            f"TextFileInput '{step.name}': filetype {filetype!r}"
        )
    return text_file_input_csv(
        spark,
        paths,
        _fields_schema(fields),
        header=_bool(e, "header", True),
        nr_header_lines=int(_txt(e, "nr_headerlines", "1") or 1),
        nr_footer_lines=(
            int(_txt(e, "nr_footerlines", "1") or 1)
            if _bool(e, "footer", False)
            else 0
        ),
        delimiter=_txt(e, "separator", ";") or ";",
        enclosure=_txt(e, "enclosure", '"') or '"',
    )


def _b_json_input(spark, step, inputs):
    """JSON input — kettle-json-plugin JsonInput.java (SURVEY §2.1). Two
    modes like the reference: file mode (JSON-lines documents from a
    directory+filemask list) and in-field mode (<IsInFields>Y — JSONPath
    over an upstream string column, <valueField>). Extraction is
    get_json_object per declared <path>, cast to the Kettle <type>."""
    from pentaho_kettle_spark.sources import json_lines_input, resolve_file_specs

    e = step.elem
    fields = [
        (
            _txt(f, "name"),
            _txt(f, "path") or f"$.{_txt(f, 'name')}",
            _txt(f, "type", "String"),
        )
        for f in e.findall("fields/field")
    ]
    if not fields:
        raise ValueError(f"JsonInput '{step.name}': no <fields> declared")
    if _bool(e, "IsInFields", False):
        from pentaho_kettle_spark.sources.files import json_path_fields

        src = _txt(e, "valueField")
        if not src:
            raise ValueError(
                f"JsonInput '{step.name}': IsInFields=Y needs <valueField>"
            )
        df = _single(inputs)
        df = json_path_fields(df, src, {n: p for n, p, _ in fields})
        for n, _p, kt in fields:
            df = df.withColumn(n, cast_to_kettle_type(F.col(n), T.StringType(), kt))
        if _bool(e, "removeSourceField", False):
            df = df.drop(src)
        return df
    paths = resolve_file_specs(_file_specs(e))
    return json_lines_input(spark, paths, fields)


BUILDERS = {
    "CSVInput": _b_csv_input,
    "CsvInput": _b_csv_input,
    "TextFileInput": _b_text_file_input,
    "TextInput": _b_text_file_input,
    "JsonInput": _b_json_input,
    "DataGrid": _b_data_grid,
    "Constant": _b_constant,
    "FilterRows": _b_filter_rows,
    "SelectValues": _b_select_values,
    "Calculator": _b_calculator,
    "GroupBy": _b_group_by,
    "MemoryGroupBy": _b_group_by,
    "SortRows": _b_sort_rows,
    "MergeJoin": _b_merge_join,
    "StreamLookup": _b_stream_lookup,
    "Unique": _b_unique,
    "UniqueRowsByHashSet": _b_unique,
    "ValueMapper": _b_value_mapper,
    "ReplaceString": _b_replace_string,
    "Denormaliser": _b_denormaliser,
    "Normaliser": _b_normaliser,
    "SwitchCase": _b_switch_case,
    "RowsToResult": _b_rows_to_result,
    "RowsFromResult": _b_rows_from_result,
    "Dummy": _b_dummy,
    "TextFileOutput": _b_text_output,
    "Sequence": _b_sequence,
    "NumberRange": _b_number_range,
    "IfNull": _b_if_null,
    "SetValueConstant": _b_set_value_constant,
    "SetValueField": _b_set_value_field,
    "CheckSum": _b_checksum,
    "GetVariable": _b_get_variables,
    "Janino": _b_janino,
    # both spellings appear in the wild (plugin id vs. class name)
    "ScriptValueMod": _b_script_values_mod,
    "ScriptValuesMod": _b_script_values_mod,
    "Formula": _b_formula,
    "MergeRows": _b_merge_rows,
    "JoinRows": _b_join_rows,
    "FuzzyMatch": _b_fuzzy_match,
    "StringOperations": _b_string_operations,
    "StringCut": _b_string_cut,
    "FieldSplitter": _b_field_splitter,
    "SplitFieldToRows3": _b_split_field_to_rows,
    "ConcatFields": _b_concat_fields,
    "AnalyticQuery": _b_analytic_query,
    # round-2 additions
    "RowGenerator": _b_row_generator,
    "SystemInfo": _b_system_info,
    "RandomValue": _b_random_value,
    "SampleRows": _b_sample_rows,
    "CloneRow": _b_clone_row,
    "Flattener": _b_flattener,
    "Validator": _b_validator,
    "RegexEval": _b_regex_eval,
    "Append": _b_append,
    "PrioritizeStreams": _b_prioritize_streams,
    "SortedMerge": _b_sorted_merge,
    "BlockingStep": _b_blocking,
    "DetectEmptyStream": _b_detect_empty,
    "WriteToLog": _b_write_to_log,
    "Abort": _b_abort,
    "ExecSQL": _b_exec_sql,
    "TableInput": _b_table_input,
    # round-3 additions
    "Mapping": _b_mapping,
    "SimpleMapping": _b_mapping,  # simplemapping/: same engine path, one in/out
    "MappingInput": _b_mapping_input,
    "MappingOutput": _b_mapping_output,
    "MetaInject": _b_metainject,
    "Delay": _b_delay,
}


def run_ktr(
    spark: SparkSession,
    path: str,
    inputs: dict[str, DataFrame] | None = None,
    variables: dict | None = None,
    extra_outputs: list[str] | None = None,
    repository: str | None = None,
) -> dict[str, DataFrame]:
    """Execute a .ktr: returns {step_name: DataFrame} for every TERMINAL step
    (no outgoing hop). `inputs` can pre-bind step names to DataFrames
    (replacing e.g. TableInput steps the sandbox can't reach). `variables`
    resolves ${VAR} placeholders in the file (see parse_ktr).
    `extra_outputs` names steps whose output is included in the result even
    when they have outgoing hops (plans/kjb.py uses it to capture every
    RowsToResult step — in the reference the step publishes to the job
    Result regardless of what is wired after it). `repository` is a Kettle
    file-repository root for rep_name sub-transformation references."""
    trans = parse_ktr(path, variables=variables, repository=repository)
    produced: dict[str, DataFrame] = dict(inputs or {})
    # routed outputs: (from_step, to_step) -> DataFrame
    routed: dict[tuple[str, str], DataFrame] = {}

    incoming: dict[str, list[str]] = {s: [] for s in trans.steps}
    outgoing: dict[str, list[str]] = {s: [] for s in trans.steps}
    for frm, to in trans.hops:
        incoming.setdefault(to, []).append(frm)
        outgoing.setdefault(frm, []).append(to)

    # topological evaluation
    resolved = set(produced)
    pending = [s for s in trans.steps if s not in resolved]
    progress = True
    while pending and progress:
        progress = False
        for sname in list(pending):
            ups = incoming.get(sname, [])
            if any(u not in resolved for u in ups):
                continue
            step = trans.steps[sname]
            ins = {}
            for u in ups:
                ins[u] = routed.get((u, sname), produced.get(u))
            builder = BUILDERS.get(step.type)
            if builder is None:
                raise NotImplementedError(
                    f"step '{sname}' has unsupported type '{step.type}'"
                )
            out = builder(spark, step, ins)
            if isinstance(out, dict):  # multi-target routing (FilterRows/SwitchCase)
                for target, df in out.items():
                    routed[(sname, target)] = df
                produced[sname] = next(iter(out.values()))
            else:
                produced[sname] = out
            resolved.add(sname)
            pending.remove(sname)
            progress = True
    if pending:
        raise ValueError(f"unresolvable steps (cycle or missing input): {pending}")

    terminals = [s for s in trans.steps if not outgoing.get(s)]
    keep = terminals + [
        s for s in (extra_outputs or []) if s in produced and s not in terminals
    ]
    return {s: produced[s] for s in keep}

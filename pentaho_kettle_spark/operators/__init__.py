"""Kettle step semantics as pure DataFrame stage functions (SURVEY §2).

Every operator is `(DataFrame, config...) -> DataFrame` (or a tuple of
DataFrames for multi-output steps). Composition of these functions IS the
transformation graph — Catalyst optimizes the composed plan (pushdown,
pruning, join reordering), which the reference engine left to the user.
"""

from pentaho_kettle_spark.operators.analytic_query import (  # noqa: F401
    analytic_query,
    cumulative,
    get_previous_row_field,
)
from pentaho_kettle_spark.operators.calculator import Calc, calculator  # noqa: F401
from pentaho_kettle_spark.operators.dimensions import (  # noqa: F401
    combination_lookup,
    delete_rows,
    insert_update,
    update_rows,
    scd1_apply,
    scd2_apply,
)
from pentaho_kettle_spark.operators.filter_rows import filter_rows, kettle_condition  # noqa: F401
from pentaho_kettle_spark.operators.group_by import (  # noqa: F401
    Agg,
    group_by,
    group_by_include_all_rows,
    univariate_stats,
)
from pentaho_kettle_spark.operators.joins import (  # noqa: F401
    anti_join,
    closure_generator,
    fuzzy_match,
    join_rows_cartesian,
    merge_join,
    multi_merge_join,
    semi_join,
    stream_lookup,
)
from pentaho_kettle_spark.operators.merge_rows import (  # noqa: F401
    diff_rows,
    diff_to_changelog,
    merge_rows_diff,
    table_compare,
)
from pentaho_kettle_spark.operators.restructure import (  # noqa: F401
    denormaliser,
    flattener,
    metadata_structure,
    normaliser,
    switch_case,
    switch_case_tag,
)
from pentaho_kettle_spark.operators.row_shaping import (  # noqa: F401
    add_checksum,
    add_constants,
    add_sequence,
    clone_row,
    fields_change_sequence,
    if_null,
    null_if,
    number_range,
    reservoir_sampling,
    sample_rows,
    set_field_value,
    value_mapper,
)
from pentaho_kettle_spark.operators.scripting import (  # noqa: F401
    execute_sql,
    formula,
    grouped_transform,
    janino_expression,
    script_values,
)
from pentaho_kettle_spark.operators.select_values import select_values  # noqa: F401
from pentaho_kettle_spark.operators.sort_rows import (  # noqa: F401
    append_streams,
    blocking_step,
    detect_empty_stream,
    prioritize_streams,
    sort_rows,
    sorted_merge,
    top_k,
    unique_rows,
)
from pentaho_kettle_spark.operators.strings import (  # noqa: F401
    concat_fields,
    regex_eval,
    replace_in_string,
    split_field_to_rows,
    split_fields,
    string_operations,
    strings_cut,
)
from pentaho_kettle_spark.operators.validator import validator  # noqa: F401

"""The shared expression compiler (plans/exprcore.py): every function and
method of both dialects checks its argument count through the one call
path."""

from __future__ import annotations

import re

import pytest

from pentaho_kettle_spark.plans import jsexpr, openformula
from pentaho_kettle_spark.plans.exprcore import MANY


def _arity_cases():
    tables = [
        ("openformula", openformula._FUNCTIONS, "{name}({args})", "; "),
        ("js", jsexpr._FUNCTIONS, "{name}({args})", ", "),
        ("js", jsexpr._METHODS, "s{name}({args})", ", "),
    ]
    for dialect, table, shape, sep in tables:
        for name, ((lo, hi), *_) in table.items():
            counts = ([lo - 1] if lo > 0 else []) + ([hi + 1] if hi != MANY else [])
            for n in counts:
                src = shape.format(name=name, args=sep.join(["1"] * n))
                yield pytest.param(dialect, name, src, id=f"{dialect}:{src}")


@pytest.mark.parametrize("dialect,name,src", list(_arity_cases()))
def test_wrong_argument_count_raises_naming_the_function(spark, dialect, name, src):
    compile_ = openformula.compile_formula if dialect == "openformula" else jsexpr.compile_expr
    with pytest.raises(NotImplementedError, match=rf"{re.escape(name)} arity"):
        compile_(src)

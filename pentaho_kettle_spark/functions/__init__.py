"""Function libraries: the Calculator registry plus training-data-pipeline
primitives (text analysis, dedup, similarity, multimodal plumbing)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def bind_once(expr: Column, fn) -> Column:
    """`fn(expr)` with `expr` evaluated once per row and bound as a lambda
    variable (a single-element outer `transform`). Catalyst does not hoist
    loop-invariant subexpressions out of higher-order-function lambdas, so a
    lambda body that references an array EXPRESSION (`F.get(ls, i - 1)` with
    `ls = array_sort(split(text))`) re-runs the whole split+sort once per
    ELEMENT — O(n·|text|) per row. Bound as a variable, every reference is a
    cheap index (measured 1.8-2.6x on the full minhash pipeline at sf1.0, r6)."""
    return F.element_at(F.transform(F.array(expr), fn), 1)

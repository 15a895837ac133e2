"""Scale-adaptive input spreading: for sort-aggregates (guide §2.5) and for
per-row compute that dwarfs the input bytes.

`max_by`/`min_by` over a struct plan as SortAggregate (declarative
aggregate with an immutable struct buffer — not hash-aggregable), so the
PARTIAL aggregate sorts every input partition. An input that arrives in
fewer partitions than the session can run in parallel (a one-row-group
parquet file, a gzip single-split, a filtered scan that pruned to one
file) serializes that sort onto a handful of tasks while the rest of the
cluster idles.

`spread_if_narrow` re-keys such an input by the grouping columns first:
one exchange of the raw rows, after which the aggregate runs complete-mode
at full width and the groupBy reuses the exchange (no second shuffle).
Well-partitioned inputs pass through untouched — the ingest path's
multi-split scans never see a plan change.

`spread_for_compute` serves the training-data functions instead: shingle
explosion and per-row vector math multiply each row's work ~|text| or
~dim×queries times, so parallelism must be sized to that compute volume,
not to the input bytes. It repartitions whenever the input has fewer
partitions than the session's default parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def spread_if_narrow(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Repartition `df` by `key_cols` iff it arrives in fewer partitions
    than half the session's default parallelism."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target, *[F.col(k) for k in key_cols])
    return df


def spread_for_compute(df: DataFrame, id_col: str) -> DataFrame:
    """Repartition `df` by `id_col` iff it arrives in fewer partitions than
    the session's default parallelism — a single small parquet row group
    (one scan task) would otherwise run a whole corpus's shingle hashing or
    vector scoring on one core. A real sharded corpus arrives in thousands
    of scan tasks and passes through untouched (no shuffle added)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, id_col)
    return df

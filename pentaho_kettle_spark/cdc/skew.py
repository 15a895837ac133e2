"""Hot-key detection by sampling (feeds the salted two-phase collapse).

At 10^10-event scale a Zipf-skewed conversation key saturates one reducer;
the reference had no answer to this (SURVEY §4.1: a hot key saturates one
step copy). We detect hot keys on a small sample — cheap, one narrow pass —
and salt only those, leaving the cold majority on the single-shuffle path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pentaho_kettle_spark.cdc.changelog import parquet_row_groups

# should_salt's bounds: a hot key must exceed SALT_SKEW_FACTOR × the average
# task's rows AND this many rows per batch before salting pays
SALT_MIN_KEY_ROWS = 100_000
SALT_SKEW_FACTOR = 4.0


def hot_key_counts(
    events: DataFrame,
    key_cols: list[str] | None = None,
    sample_fraction: float = 0.01,
    hot_threshold_share: float = 0.001,
    max_hot_keys: int = 1000,
) -> tuple[list, int, float]:
    """Sampled hot-key candidates WITH their sampled counts.

    Returns (rows, sampled_total, fraction) where rows is a ≤ max_hot_keys
    list of Rows(key_cols..., count) ordered hottest-first, sampled_total is
    the sample's event count and fraction the share of the log actually
    sampled — enough for a caller to estimate each key's true volume
    (count / fraction) and decide whether salting is worth its extra
    exchange (see `should_salt`).
    """
    key_cols = key_cols or ["conv_id", "turn_idx"]
    # Fast path: when the log is a plain parquet scan, sample a bounded set
    # of row groups DRIVER-SIDE with pyarrow — zero Spark jobs (guide §1.2:
    # don't run cluster jobs for a driver-sized decision). Detection only
    # steers the salting cost model, never results, so the slight bias of a
    # chunked sample vs a uniform one is an acceptable trade for removing
    # 2-3 jobs per replay. Falls back to the Spark sample for non-file
    # plans (streaming micro-batches, derived DataFrames).
    arrow = _arrow_key_sample(events, key_cols, hot_threshold_share, max_hot_keys)
    if arrow is not None:
        return arrow
    sample = events.sample(fraction=sample_fraction, seed=42)
    # ONE full pass: the per-key counts are aggregated once and materialized
    # (localCheckpoint — bounded: ≤ distinct sampled keys, spread across
    # executors); the sampled total is then derived from the counts instead
    # of a second `sample.count()` scan of the log (guide §1.2: don't pay
    # two passes for one decision). The threshold/filter jobs that follow
    # run on the materialized counts, not the log.
    counts = sample.groupBy(*key_cols).count().localCheckpoint(eager=True)
    # threshold in sampled counts: share * sampled_total ≈ share * (E * frac)
    sampled_total = counts.agg(F.sum("count")).first()[0] or 0
    thresh = max(int(hot_threshold_share * sampled_total), 2)
    rows = (
        counts.filter(F.col("count") >= thresh)
        .orderBy(F.desc("count"))
        .limit(max_hot_keys)
        .collect()
    )
    return rows, sampled_total, sample_fraction


def _arrow_key_sample(
    events: DataFrame,
    key_cols: list[str],
    hot_threshold_share: float,
    max_hot_keys: int,
    target_rows: int = 250_000,
) -> tuple[list, int, float] | None:
    """Driver-side hot-key sample from evenly-spaced parquet row groups.
    Returns (rows, sampled_total, fraction) shaped like the Spark path (each
    row supports r[key] and r["count"]; fraction = sampled rows / the
    footers' row total), or None when the plan is not a plain parquet scan /
    pyarrow can't serve it."""
    # only safe when the DataFrame IS the bare scan: any Project/Filter
    # on top would make a file-level sample silently read pre-transform
    # rows (and pyarrow ignores missing columns rather than raising).
    # A bare scan's analyzed plan is a LEAF relation.
    try:
        if not events._jdf.queryExecution().analyzed().children().isEmpty():
            return None
    except Exception:  # noqa: BLE001
        return None
    # key columns must exist PHYSICALLY in the files
    row_groups = parquet_row_groups(events, key_cols)
    if row_groups is None:
        return None
    groups = [(path, rg, rows) for path, rg, rows, _chunks in row_groups]
    if not groups:
        return None
    # evenly-spaced subset until the row target is met
    total_rows = sum(r for _, _, r in groups)
    want = max(1, min(len(groups), round(
        target_rows / max(total_rows / len(groups), 1)
    )))
    step = max(1, len(groups) // want)
    picked = groups[::step][:want]
    import pandas as pd
    import pyarrow.parquet as pq

    parts = []
    for path, rg, _rows in picked:
        try:
            parts.append(
                pq.ParquetFile(path).read_row_group(rg, columns=key_cols).to_pandas()
            )
        except Exception:  # noqa: BLE001 - exotic types → Spark path
            return None
    pdf = pd.concat(parts, ignore_index=True)
    sampled_total = len(pdf)
    if sampled_total == 0:
        return [], 0, 1.0
    counts = pdf.groupby(key_cols, dropna=False).size().sort_values(ascending=False)
    thresh = max(int(hot_threshold_share * sampled_total), 2)
    def _native(x):
        return x.item() if hasattr(x, "item") else x

    rows = [
        {
            **{
                c: _native(v)
                for c, v in zip(key_cols, k if isinstance(k, tuple) else (k,))
            },
            "count": int(v_cnt),
        }
        for k, v_cnt in counts[counts >= thresh].head(max_hot_keys).items()
    ]
    return rows, sampled_total, sampled_total / total_rows


def should_salt(
    rows: list,
    sampled_total: int,
    sample_fraction: float = 0.01,
    n_batches: int = 1,
    n_partitions: int = 32,
) -> bool:
    """Decide whether the salted two-phase collapse pays for itself.

    Salting costs a second full exchange + aggregate per batch — a fixed
    O(batch) price. It only buys anything when a single key's per-batch
    volume would dominate one reducer task: below that, the straggler it
    prevents is cheaper than the exchange it adds (measured r6: the always-
    salt plan was +0.3-0.4s per 567k-row batch when the hottest key held
    0.5% of events). Rule: salt iff the hottest key's estimated rows per
    batch exceed BOTH SALT_SKEW_FACTOR × the average task's rows AND an
    absolute floor (SALT_MIN_KEY_ROWS — below it even a 10× relative skew
    clears one task in well under a second). A genuinely hot key at cluster
    scale (≥0.1% of a 10^8-row batch) trips both bounds and keeps the
    guaranteed two-phase plan the north_rule asks for. `sample_fraction`
    is the share of the log the sample covers (hot_key_counts' third
    value), so the log size estimate is sampled_total / sample_fraction.
    """
    if not rows or not sampled_total:
        return False
    est_total = sampled_total / max(sample_fraction, 1e-9)
    est_batch = est_total / max(n_batches, 1)
    top_rows = rows[0]["count"] / sampled_total * est_batch
    avg_task_rows = est_batch / max(n_partitions, 1)
    return top_rows > max(SALT_MIN_KEY_ROWS, SALT_SKEW_FACTOR * avg_task_rows)


def skewed_keys(
    events: DataFrame,
    key_cols: list[str],
    n_batches: int = 1,
    n_partitions: int = 32,
) -> list[tuple] | None:
    """THE salt decision (replay's and streaming ingest's `salted="auto"`):
    the sampled hot keys as key tuples when salting pays for its second
    exchange (`should_salt`), else None. The ≤1000-entry list compiles into
    the collapse plan as a literal IN-set — no per-batch join."""
    rows, sampled_total, fraction = hot_key_counts(events, key_cols=key_cols)
    if not should_salt(rows, sampled_total, fraction, n_batches=n_batches,
                       n_partitions=n_partitions):
        return None
    return [tuple(r[k] for k in key_cols) for r in rows]


def detect_hot_keys(
    events: DataFrame,
    key_cols: list[str] | None = None,
    sample_fraction: float = 0.01,
    hot_threshold_share: float = 0.001,
    max_hot_keys: int = 1000,
) -> DataFrame:
    """Keys whose sampled share of events exceeds `hot_threshold_share`.

    Returns a SMALL DataFrame (≤ max_hot_keys rows) suitable for broadcast.
    """
    key_cols = key_cols or ["conv_id", "turn_idx"]
    rows, _total, _fraction = hot_key_counts(
        events, key_cols, sample_fraction, hot_threshold_share, max_hot_keys
    )
    spark = events.sparkSession
    if not rows:
        return spark.createDataFrame([], events.select(*key_cols).schema)
    return spark.createDataFrame(
        [tuple(r[k] for k in key_cols) for r in rows],
        events.select(*key_cols).schema,
    )

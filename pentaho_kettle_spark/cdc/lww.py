"""Last-writer-wins collapse of a change-event batch — one row per key.

Semantics (the engine-wide contract, shared with the pandas oracle in
fixtures/changelog_gen.py): the winner for a key is the event with the
lexicographically greatest `(ts, seq)`. This makes replay order-insensitive —
any partitioning, batching, duplication, or resume point yields the same
winner — which is what turns at-least-once delivery into exactly-once effect.

The rule is written once, in `_winner`: `max_by(struct(payload),
struct(ts, seq))`, one aggregate whose map-side partial aggregation drops
duplicates and stale events BEFORE the shuffle. `lww_winners` is the bare
collapse the table IO's read, fold and merge plans use (no spreading, no
renaming); `lww_fold_columns` is its column-wise form for `patch_apply`.
`lww_collapse` is the change-batch collapse; its arguments pick one of four
shapes:

  * key-partitioned (default) — one exchange on the key;
  * salted two-phase (`n_salts` > 1) — (key, salt), then key;
  * bucket-fused (`n_buckets`) — one exchange on the table's bucket layout;
  * bucket-fused salted — (bucket, salt), then bucket.

Kettle parity: this collapse replaces the sorted-input Unique Rows step
(uniquerows/UniqueRows.java) + Merge Rows flag logic the reference would
chain to deduplicate a change stream (SURVEY §2.4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pentaho_kettle_spark.tableio.parquet_snapshot import bucket_expr

# Unit separator: cannot occur in key values, so multi-column keys like
# ("ab","c") and ("a","bc") map to distinct membership strings.
_HOT_SEP = "\x1f"


def _winner(df: DataFrame, group_cols: list[str], payload: list[str] | Column,
            lww_col: str, seq_col: str) -> DataFrame:
    """THE winner rule: per group, the `payload` columns (packed into a
    struct) of the row with the greatest (lww_col, seq_col) — nulls
    smallest, Spark struct ordering. Returns group_cols + `w`. `payload` may
    also be an already-packed struct Column (phase 2 of the key-partitioned
    salted collapse)."""
    value = payload if isinstance(payload, Column) else F.struct(*payload)
    return df.groupBy(*group_cols).agg(
        F.max_by(value, F.struct(lww_col, seq_col)).alias("w")
    )


def lww_fold_columns(df: DataFrame, group_cols: list[str], columns: list[str],
                     lww_col: str, seq_col: str) -> DataFrame:
    """Column-wise collapse (partial-column upserts): per group, the winning
    (lww_col, seq_col) stamp and each of `columns`' latest NON-NULL value
    under `_winner`'s order (NULL when the group has none). `max_by` skips
    rows whose ordering is NULL, so masking the order with the column's
    nullness leaves the NULL rows out. One aggregate, no window sort.
    Returns group_cols + lww_col + seq_col + columns."""
    order = F.struct(lww_col, seq_col)
    agg = df.groupBy(*group_cols).agg(
        F.max_by(order, order).alias("w"),
        *[F.max_by(c, F.when(F.col(c).isNotNull(), order)).alias(c) for c in columns],
    )
    return agg.select(*group_cols, f"w.{lww_col}", f"w.{seq_col}", *columns)


def _unpack(agg: DataFrame, lead: list[str], payload: list[str],
            seq_col: str | None = None) -> DataFrame:
    """`lead` + the winner struct's `payload` fields; with `seq_col` the
    seq field is renamed `_seq` and moved last (merge_apply's input)."""
    cols = [F.col(c) for c in lead]
    cols += [F.col(f"w.{c}").alias(c) for c in payload if c != seq_col]
    if seq_col is not None:
        cols.append(F.col(f"w.{seq_col}").alias("_seq"))
    return agg.select(*cols)


def lww_winners(df: DataFrame, group_cols: list[str], lww_col: str,
                seq_col: str) -> DataFrame:
    """Bare collapse: group_cols + every other column of each group's
    winning row, in input order. No spreading, no renaming."""
    payload = [c for c in df.columns if c not in group_cols]
    return _unpack(_winner(df, group_cols, payload, lww_col, seq_col), group_cols, payload)


def _salt(key_cols: list[str], seq_col: str, n_salts: int,
          hot_keys: DataFrame | list | None) -> Column | None:
    """The salt column of a two-phase collapse, or None for a single-phase
    plan (n_salts ≤ 1, or an empty hot list). With a hot list (a small
    DataFrame or list of Rows/tuples of the key cols, bounded at ~1000) ONLY
    those keys get a nonzero salt, through a literal IN-set compiled into
    the plan — no broadcast join, no union, and a cold key costs exactly
    what the unsalted path costs. hot_keys=None salts every key."""
    if not n_salts or n_salts <= 1:
        return None
    full_salt = F.pmod(F.xxhash64(F.col(seq_col)), F.lit(n_salts))
    if hot_keys is None:
        return full_salt
    rows = hot_keys if isinstance(hot_keys, list) else hot_keys.collect()
    joined = [_HOT_SEP.join(str(v) for v in r) for r in rows]
    if not joined:
        return None
    key_str = F.concat_ws(_HOT_SEP, *[F.col(k).cast("string") for k in key_cols])
    return F.when(key_str.isin(joined), full_salt).otherwise(F.lit(0))


def lww_collapse(
    events: DataFrame,
    key_cols: list[str] | None = None,
    lww_col: str = "ts",
    seq_col: str = "seq",
    *,
    n_buckets: int | None = None,
    n_salts: int = 0,
    hot_keys: DataFrame | list | None = None,
) -> DataFrame:
    """Collapse to one winning event per key by max (lww_col, seq_col).

    Output columns: key cols + all payload cols + op + `_seq` (winner's seq),
    ready for ParquetSnapshotTableIO.merge_apply. With `n_buckets` the output
    leads with `_bucket` and is hash-partitioned on it
    (ParquetSnapshotTableIO._write_buckets detects `_bucket` and skips its
    own repartition).

    Bucket-fused shape: the naive pipeline shuffles twice per batch, once for
    the key-collapse aggregate and once to lay the collapsed rows out by
    storage bucket. Because bucket = hash(key_cols[0]) (the table's bucket
    column) is a pure function of the key, repartitioning the RAW events by
    `_bucket` and aggregating by (_bucket, *key) satisfies Catalyst's
    clustering requirement
    (HashPartitioning([_bucket]) ⊆ ClusteredDistribution([_bucket, key...]))
    — no second Exchange, and the output is write-ready. Measured on the
    16M-event bench: ~20% faster end-to-end at both 2 and 8 cores than
    collapse-then-repartition. Trade-off: that exchange moves raw events (no
    map-side partial aggregation), so on very duplicate-heavy logs the
    key-partitioned shape can move fewer bytes. At 10^10 scale keep
    n_buckets ≫ executor slots so hot buckets interleave with cold ones.

    Salted shapes (`n_salts` > 1, see `_salt`): phase 1 groups by
    (..., salt) so a hot key's events split across `n_salts` reducers;
    phase 2 reduces the ≤ n_salts phase-1 winners per key (for cold keys
    phase 1 already collapsed to one row, so phase 2 moves |unique keys|
    rows, not |batch|). Partial aggregation gives most of this for free;
    the two phases guarantee it even when the map-side hash table overflows
    — what BASELINE.json#north_rule asks for.
    """
    key_cols = key_cols or ["conv_id", "turn_idx"]
    payload = [c for c in events.columns if c not in key_cols]
    salt = _salt(key_cols, seq_col, n_salts, hot_keys)
    if n_buckets is None:
        lead = list(key_cols)
        if salt is None:
            # Scale-adaptive spread (plans/spread.py): max_by(struct) plans
            # as a SortAggregate, so a one-row-group input would serialize
            # the partial sort onto one task; well-partitioned ingest scans
            # pass untouched.
            from pentaho_kettle_spark.plans.spread import spread_if_narrow

            events = spread_if_narrow(events, key_cols)
            agg = _winner(events, lead, payload, lww_col, seq_col)
        else:
            phase1 = _winner(
                events.withColumn("_salt", salt), [*lead, "_salt"],
                payload, lww_col, seq_col,
            )
            agg = _winner(phase1, lead, F.col("w"), f"w.{lww_col}", f"w.{seq_col}")
    else:
        lead = ["_bucket", *key_cols]
        staged = events.withColumn(
            "_bucket", bucket_expr(key_cols[0], n_buckets)
        )
        if salt is not None:
            phase1 = _winner(
                staged.withColumn("_salt", salt)
                .repartition(n_buckets, "_bucket", "_salt"),
                [*lead, "_salt"], payload, lww_col, seq_col,
            )
            staged = _unpack(phase1, lead, payload)
        agg = _winner(
            staged.repartition(n_buckets, "_bucket"), lead,
            payload, lww_col, seq_col,
        )
    return _unpack(agg, lead, payload, seq_col)


# Former names of the salted and bucket-fused shapes, kept importable.
lww_collapse_salted = lww_collapse
lww_collapse_bucketed = lww_collapse

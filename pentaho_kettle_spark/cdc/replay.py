"""Batch replay driver: changelog → micro-batches → collapse → MERGE.

Replays an already-landed change log (parquet) as a sequence of micro-batches
in delivery order — the batch twin of streaming/ingest.py, used by the bench
and by kill/resume tests. Exactly-once across resume comes from the table's
committed-batch manifest: re-running a replay skips batches that already
committed, and LWW makes any forced re-apply idempotent anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import datetime as _dt

from pentaho_kettle_spark.cdc.changelog import parquet_row_groups, read_changelog
from pentaho_kettle_spark.cdc.schema_evolution import evolve_and_conform
from pentaho_kettle_spark.tableio.parquet_snapshot import ParquetSnapshotTableIO

# MoR batches in flight at once during a replay (see replay_changelog)
REPLAY_PIPELINE = 4


def replay_changelog(
    spark: SparkSession,
    table: ParquetSnapshotTableIO,
    changelog: DataFrame | str,
    n_batches: int = 1,
    salted: bool | str = False,
    n_salts: int = 16,
    rename_hints: dict[str, str] | None = None,
    run_id: str = "replay",
    stop_after_batch: int | None = None,
) -> list[dict]:
    """Replay the log in `n_batches` delivery-order chunks. Returns lineage
    records. `stop_after_batch` simulates a crash for resume tests.

    `salted`: False = single-shuffle collapse; True = every key takes the
    two-phase salted path; "auto" = detect hot keys once by sampling
    (cdc/skew.py) and salt ONLY those — the cold majority keeps the
    single-shuffle plan, so a uniform log pays nothing for skew handling.
    """
    if isinstance(changelog, str):
        changelog = read_changelog(spark, changelog)

    payload_cols = [c for c in changelog.columns if c not in ("ingest_ts",)]

    hot_keys = None
    if salted == "auto":
        # one sampled pass over the whole log. Salting is only ENGAGED when
        # the hottest key's estimated per-batch volume would dominate a
        # reducer task (skew.should_salt): the two-phase plan costs a second
        # full exchange per batch, which a mildly-hot log never earns back
        # (measured r6: +0.3-0.4s per 567k-row batch for a 0.5%-share
        # hottest key).
        from pentaho_kettle_spark.cdc.skew import skewed_keys

        hot_keys = skewed_keys(
            changelog, table.key_cols, n_batches=n_batches,
            n_partitions=spark.sparkContext.defaultParallelism,
        )
        salted = hot_keys is not None

    if n_batches <= 1:
        bounds = None
    else:
        # delivery order = ingest_ts; chunk by equi-depth quantiles. Bounds
        # become TIMESTAMP literals so the per-batch filter pushes down to
        # the parquet scan — on a time-ordered log (any real WAL/binlog
        # segment layout) whole files/row-groups are skipped by footer stats
        # and each batch scans ~1/n_batches of the log. The bounds only
        # decide how events are CHUNKED — LWW replay is order-insensitive,
        # so any split yields the identical final table — which lets us take
        # them from parquet footer statistics (driver-side, zero Spark jobs)
        # when the log is a parquet scan, instead of a full percentile pass
        # over the column (guide §1/§6: don't run a job for what the footers
        # already know). Non-parquet sources fall back to percentile_approx.
        bounds = _footer_ts_bounds(changelog, n_batches)
        if bounds is None:
            qs = [i / n_batches for i in range(1, n_batches)]
            raw = changelog.select(
                F.percentile_approx(F.col("ingest_ts").cast("double"), qs, 10000).alias("b")
            ).collect()[0]["b"]
            bounds = [
                _dt.datetime.fromtimestamp(b, tz=_dt.timezone.utc).replace(tzinfo=None)
                for b in raw
            ]

    def _batch_df(i: int) -> DataFrame:
        if bounds is None:
            batch = changelog
        else:
            lo = bounds[i - 1] if i > 0 else None
            hi = bounds[i] if i < n_batches - 1 else None
            cond = F.lit(True)
            if lo is not None:
                cond = cond & (F.col("ingest_ts") > F.lit(lo))
            if hi is not None:
                cond = cond & (F.col("ingest_ts") <= F.lit(hi))
            batch = changelog.filter(cond)
        return batch.select(*payload_cols)

    import time as _time

    def _apply(i: int) -> dict:
        _t0 = _time.time()
        rec = apply_batch(
            table,
            _batch_df(i),
            batch_id=f"{run_id}-{i:05d}",
            salted=salted,
            n_salts=n_salts,
            rename_hints=rename_hints,
            hot_keys=hot_keys,
        )
        rec["batch_sec"] = round(_time.time() - _t0, 2)
        return rec

    # MoR batches PIPELINE (guide §2.6 — overlap independent jobs): a MoR
    # apply is an append-only optimistic commit, so adjacent batches can
    # compute concurrently and back-fill each other's stage tails and
    # driver-side commit gaps; LWW makes the result identical under any
    # completion order, and the committed-batch manifest keeps resume
    # exactly-once either way. Depth REPLAY_PIPELINE = 4 (interleaved A/B
    # r6: depth 4 = 2.4-2.7s vs depth 2 = 2.9-3.7s on the 2M-event replay —
    # the batch jobs don't saturate the cores, so deeper overlap fills the
    # gaps). CoW batches stay sequential — two concurrent CoW merges over
    # the same buckets would just livelock the conflict-retry loop — as do
    # crash-simulation runs (stop_after_batch).
    if table.write_mode == "mor" and stop_after_batch is None and n_batches > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=REPLAY_PIPELINE) as pool:
            futs = [pool.submit(_apply, i) for i in range(n_batches)]
            return [f.result() for f in futs]

    lineage: list[dict] = []
    for i in range(n_batches):
        lineage.append(_apply(i))
        if stop_after_batch is not None and i >= stop_after_batch:
            break
    return lineage


def _footer_ts_bounds(changelog: DataFrame, n_batches: int) -> list | None:
    """Equi-depth `ingest_ts` split bounds from parquet row-group footer
    statistics — a driver-side metadata read, no Spark job.

    Only used for batch CHUNKING (see caller): approximate bounds are fully
    correct, they just shift which delivery chunk an event lands in. Row
    groups are ranked by their ts minimum and boundaries taken at the
    cumulative row-count quantiles; for a time-ordered log (the only layout
    where per-batch pruning pays anyway) this matches the exact quantiles to
    within one row group. Returns None (→ caller falls back to a Spark
    percentile pass) when the plan is not a plain parquet scan or any row
    group lacks ts stats."""
    row_groups = parquet_row_groups(changelog, ["ingest_ts"])
    if row_groups is None:
        return None
    groups: list[tuple] = []  # (min_ts, max_ts, rows)
    for _path, _i, rows, chunks in row_groups:
        st = chunks["ingest_ts"].statistics
        if st is None or not st.has_min_max:
            return None
        groups.append((st.min, st.max, rows))
    if not groups:
        return None
    groups.sort(key=lambda g: (g[0], g[1]))
    total = sum(g[2] for g in groups)
    if total == 0:
        return None
    bounds = []
    cum = 0
    targets = [total * i / n_batches for i in range(1, n_batches)]
    ti = 0
    for mn, mx, rows in groups:
        cum += rows
        while ti < len(targets) and cum >= targets[ti]:
            b = mx
            if getattr(b, "tzinfo", None) is not None:
                b = b.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            bounds.append(b)
            ti += 1
    while len(bounds) < n_batches - 1:
        bounds.append(groups[-1][1])
    return bounds


def apply_batch(
    table: ParquetSnapshotTableIO,
    batch: DataFrame,
    batch_id: str,
    salted: bool = False,
    n_salts: int = 16,
    rename_hints: dict[str, str] | None = None,
    hot_keys: DataFrame | None = None,
) -> dict:
    """The per-micro-batch stage chain (shared by batch replay + streaming):
    schema-evolve table → conform batch → LWW collapse → salted MERGE.

    MoR tables and steady-state CoW tables take the bucket-fused collapse:
    the collapse aggregate runs directly on the table's bucket partitioning,
    so a MoR batch is one exchange (two when salting is active) with
    `_write_buckets` appending without re-staging, and a CoW merge joins
    co-partitioned on `_bucket` with its output already write-aligned. Only
    the CoW BOOTSTRAP (empty table, join-free fast path) keeps the
    key-partitioned collapse, whose map-side partial aggregation wins when
    there is nothing to join against.
    """
    if batch_id in table.committed_batches():
        return {"skipped_duplicate_batch": batch_id}
    batch = evolve_and_conform(table, batch, rename_hints)
    m = table.current_manifest()
    table_empty = not any((m or {}).get("files", {}).values())
    # bucket-fused (r6 extends it to steady-state CoW; MoR-only before): MoR
    # appends with zero extra exchange and the CoW merge join co-partitions
    # on `_bucket` instead of re-shuffling the batch by key AND re-staging
    # the merged output (interleaved A/B r6: 10.7-11.9s → 5.4-7.1s for a
    # 1M-row batch merged into a 1.3M-row table at 32 cores). The CoW
    # bootstrap's key-partitioned collapse measured ~1s faster per 2M-event
    # load than the one-exchange complete aggregate (interleaved A/B r6:
    # 2.5-3.0s vs 3.6-4.0s). Resolved at call time, so a wrapped
    # `lww_collapse` sees every batch.
    from pentaho_kettle_spark.cdc.lww import lww_collapse

    fused = table.write_mode == "mor" or not table_empty
    collapsed = lww_collapse(
        batch, key_cols=table.key_cols, lww_col=table.lww_col,
        n_buckets=table.n_buckets if fused else None,
        n_salts=n_salts if salted else 0, hot_keys=hot_keys,
    )
    # the collapse above already resolved per-key winners — skip
    # merge_apply's safety collapse so the batch keeps one exchange
    return table.merge_apply(collapsed, batch_id=batch_id, assume_collapsed=True)

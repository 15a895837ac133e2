"""Per-round benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS], plus the CDC merge-apply replay
throughput (the BASELINE.json#metric proxy).

Prints exactly ONE JSON line:
  {"metric": "...", "value": <total headline seconds>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "cdc": {...}}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
BENCH_EVENTS = int(os.environ.get("PKS_BENCH_EVENTS", "2000000"))
BENCH_CONVS = int(os.environ.get("PKS_BENCH_CONVS", "40000"))

HEADLINE = [
    "q1_pricing_summary",
    "multiway_join_agg",
    "merge_rows_diff",
    "cdc_lww_collapse",
    "top_k",
    "denormaliser_pivot",
    "unique_rows",
    "stream_lookup",
    "minhash_dedup",
    "embedding_topk",
]


# tmpfs when available: the sandbox virtio disk has multi-second writeback
# stalls that are pure measurement noise (see BENCH/BASELINE.md)
TMP_BASE = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"


def _cached_changelog(spark):
    """Deterministic bench change log, generated once and cached as parquet."""
    cache = f"{TMP_BASE}/pks_bench_cache/changelog_e{BENCH_EVENTS}_c{BENCH_CONVS}_s42_z1.2_rng"
    if not os.path.exists(os.path.join(cache, "_SUCCESS")):
        from pentaho_kettle_spark.cdc.changelog import CHANGELOG_SCHEMA
        from pentaho_kettle_spark.fixtures.changelog_gen import gen_changelog

        pdf = gen_changelog(BENCH_EVENTS, BENCH_CONVS, seed=42)
        spark.createDataFrame(pdf, schema=CHANGELOG_SCHEMA).repartitionByRange(
            32, "ingest_ts"
        ).sortWithinPartitions("ingest_ts").write.mode("overwrite").parquet(cache)
    return cache


def _bench_cdc(spark) -> dict:
    import shutil
    import tempfile

    import pyspark.sql.types as T

    from pentaho_kettle_spark.cdc.changelog import CHANGELOG_SCHEMA, read_changelog
    from pentaho_kettle_spark.cdc.replay import replay_changelog
    from pentaho_kettle_spark.tableio.parquet_snapshot import ParquetSnapshotTableIO

    cache = _cached_changelog(spark)
    log = read_changelog(spark, cache)
    # row count from parquet footers (driver-side metadata, no Spark scan —
    # the old log.count() here was an extra full-table action per bench run)
    import pyarrow.dataset as _pads

    n_delivered = sum(
        f.count_rows() for f in _pads.dataset(cache, format="parquet").get_fragments()
    )
    sch = T.StructType(
        [f for f in CHANGELOG_SCHEMA.fields if f.name not in ("seq", "op", "ingest_ts")]
    )

    out: dict = {"events": n_delivered}
    # headline: merge-on-read ingest, 4 micro-batches, compaction running
    # ASYNC alongside ingest (the sustained deployment shape; drain fold
    # included in the timed window). Best of three passes: this shared VM
    # has minute-scale load bursts that can 1.5-3x a single wall-clock
    # sample (see BENCH/BASELINE.md); pass 1 doubles as the JIT warm-up and
    # the extra pass keeps one burst from defining the round's number.
    from pentaho_kettle_spark.tableio.compaction import (
        CompactionPolicy,
        CompactionScheduler,
    )

    def _mor_once(run: int) -> tuple[float, dict]:
        root = tempfile.mkdtemp(prefix="pks_bench_mor_", dir=TMP_BASE)
        table = ParquetSnapshotTableIO(
            spark, root + "/t", n_buckets=32, write_mode="mor",
            compact_delta_files=None, minor_compaction_engine="arrow",
        )
        table.init_empty(sch)
        # major_min_delta_share routes low-share buckets to the cheap minor
        # delta-merge instead of a full base rewrite: measured +58-65% at 32
        # cores on the 16M-event replay, no 8-core loss (BENCH/BASELINE.md r4).
        # stagger phase-shifts per-bucket fold thresholds so the first
        # major-fold wave spreads over batches instead of landing on one:
        # measured batch-tail max/median 1.17 (vs 2.4-4.2 unstaggered) and
        # +15% median throughput at 32 cores (BENCH/BASELINE.md r4).
        # minor_compaction_engine="arrow" folds each due bucket's deltas in
        # a pyarrow kernel on a driver thread — no Spark job, no JVM memory
        # traffic: +16% median at 32 cores, 8-core tie (BENCH/BASELINE.md r5)
        sched = CompactionScheduler(
            table,
            CompactionPolicy(max_delta_files=2, major_min_delta_share=0.25,
                             stagger=3),
            interval_sec=1.0,
        )
        t0 = time.time()
        sched.start()
        replay_changelog(spark, table, log, n_batches=4, salted="auto", n_salts=16,
                         run_id=f"bench{run}")
        sched.stop(final_cycle=True)
        wall = time.time() - t0
        info = {
            "compactions": sum(
                1 for r in table.current_manifest()["lineage"]
                if r.get("mode") == "compact"
            ),
            "final_rows": table.read().count(),
        }
        shutil.rmtree(root, ignore_errors=True)
        return wall, info

    walls = []
    for run in range(3):
        wall, info = _mor_once(run)
        walls.append(round(wall, 2))
    best = min(walls)
    out["mor"] = {
        "replay_sec": best,
        "events_per_sec": round(n_delivered / best, 1),
        "batches": 4,
        "passes_sec": walls,
        **info,
    }

    # comparison: copy-on-write, single batch (full-table merge), best of 3
    cow_walls = []
    for run in range(3):
        root = tempfile.mkdtemp(prefix="pks_bench_cow_", dir=TMP_BASE)
        table = ParquetSnapshotTableIO(spark, root + "/t", n_buckets=32, write_mode="cow")
        table.init_empty(sch)
        t0 = time.time()
        replay_changelog(spark, table, log, n_batches=1, salted="auto", n_salts=16,
                         run_id=f"bench{run}")
        cow_walls.append(round(time.time() - t0, 2))
        shutil.rmtree(root, ignore_errors=True)
    best = min(cow_walls)
    out["cow_1batch"] = {
        "replay_sec": best,
        "events_per_sec": round(n_delivered / best, 1),
        "passes_sec": cow_walls,
    }
    out["replay_sec"] = out["mor"]["replay_sec"]
    out["events_per_sec"] = out["mor"]["events_per_sec"]
    return out


def main() -> None:
    from pentaho_kettle_spark.session import get_spark

    import __spark_entry__ as entrymod

    fair_xml = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench", "fairscheduler.xml"
    )
    spark = get_spark(app_name="pks-bench", master=f"local[{CPUS}]",
                      shuffle_partitions=int(CPUS),
                      extra_conf={
                          # async compaction folds yield slots to ingest
                          "spark.scheduler.mode": "FAIR",
                          "spark.scheduler.allocation.file": fair_xml,
                      })
    # 32MB scan splits: balanced task waves at any width (see bench/scaling.py)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
    qs = entrymod.queries()

    def _minhash_scale(spark, sf):
        # the bench measures the DEFAULT xxhash64 scale path; the driver's
        # correctness gate runs the portable-md5 twin (same plan shape,
        # slower hash) so DuckDB can recompute it
        from pentaho_kettle_spark.functions import dedup as fdedup

        d = spark.read.parquet(f"{sf}/documents.parquet")
        kept = fdedup.minhash_lsh_keep(d, "text", "doc_id", num_hashes=32, bands=8)
        return kept.select("doc_id", "n_chars")

    qs = {**qs, "minhash_dedup": _minhash_scale}

    # MEDIAN of 3 timed passes per query (after a warm-up): sub-second
    # queries on this shared host are noise-dominated — a single sample (or
    # best-of-2) can't attribute a ±0.1s delta to the engine. The median is
    # robust to one load burst either way; per-pass samples ride along in
    # "query_passes" so a reader can judge the spread.
    timings: dict[str, float] = {}
    passes: dict[str, list[float]] = {}
    for name in HEADLINE:
        fn = qs[name]
        fn(spark, SF_DIR).count()  # warm-up: JIT + file listing
        samples = []
        for _ in range(3):
            t0 = time.time()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            samples.append(round(time.time() - t0, 3))
        passes[name] = samples
        timings[name] = sorted(samples)[1]

    cdc = _bench_cdc(spark)

    out = {
        "metric": "headline_suite_plus_cdc_replay",
        "value": round(sum(timings.values()) + cdc["replay_sec"], 2),
        "unit": "sec",
        "queries": timings,
        "query_passes": passes,
        "timing": "median-of-3",
        "sf": SF_DIR,
        "cpus": int(CPUS),
        "cdc": cdc,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()

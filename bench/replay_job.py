"""Standalone replay job for the two-parallelism scaling protocol
(BASELINE.md): spark-submit --master local[N] --py-files pks.zip
bench/replay_job.py <changelog_dir> <n_batches> <salted:0|1|auto> <out_json>.

Measures end-to-end merge-apply replay (ingest → collapse → salted MERGE →
commit) and writes {"events": E, "wall_sec": s, "events_per_sec": t}.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

import pyspark.sql.types as T
from pyspark.sql import SparkSession


def main() -> None:
    changelog_dir, n_batches, out_json = sys.argv[1], int(sys.argv[2]), sys.argv[4]
    salted: bool | str = "auto" if sys.argv[3] == "auto" else sys.argv[3] == "1"
    mode = sys.argv[5] if len(sys.argv) > 5 else "mor"
    # argv[6]: major_min_delta_share for the async CompactionPolicy —
    # "none" (default) = every due bucket majors (round-3 behavior);
    # a float routes low-share buckets to the cheap minor delta-merge
    share_arg = sys.argv[6] if len(sys.argv) > 6 else "none"
    major_share = None if share_arg == "none" else float(share_arg)
    # argv[7]: CompactionPolicy.stagger — phase-shift per-bucket fold
    # thresholds so the first major-fold wave spreads over several batches
    stagger = int(sys.argv[7]) if len(sys.argv) > 7 else 0
    spark = SparkSession.builder.getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # smaller scan splits: the default 128MB leaves the changelog scan with
    # ~1.4 ragged task waves at 8 cores (11 partitions / 8 slots); 32MB gives
    # every width several balanced waves. A real cluster reading an object
    # store does the same via input-split tuning.
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))

    from pentaho_kettle_spark.cdc.changelog import CHANGELOG_SCHEMA, read_changelog
    from pentaho_kettle_spark.cdc.replay import replay_changelog
    from pentaho_kettle_spark.tableio.parquet_snapshot import ParquetSnapshotTableIO

    log = read_changelog(spark, changelog_dir)
    n = log.count()

    data_schema = T.StructType(
        [f for f in CHANGELOG_SCHEMA.fields if f.name not in ("seq", "op", "ingest_ts")]
    )

    # The metric is SUSTAINED throughput (BASELINE.json#metric): a fresh JVM
    # spends its first ~30-40s JIT-compiling codegen'd stages, a fixed cost
    # that is pure measurement noise for a pipeline meant to run for hours.
    # Warm the JVM on a 10% sample into a throwaway table, then time.
    # tables live on tmpfs: the sandbox's virtio disk has multi-second
    # writeback stalls (observed 100s+ on a 2s batch) that are measurement
    # noise for a compute-scaling benchmark; a real cluster writes to an
    # object store whose aggregate bandwidth scales with the cluster
    tbl_base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    warm_root = tempfile.mkdtemp(prefix="pks_scale_warm_", dir=tbl_base)
    warm_table = ParquetSnapshotTableIO(
        spark, warm_root + "/t", n_buckets=32, write_mode=mode,
        compact_delta_files=1,  # force a compaction so that path JITs too
    )
    warm_table.init_empty(data_schema)
    replay_changelog(
        spark, warm_table, log.sample(0.1, seed=1), n_batches=2, salted=salted,
        n_salts=16, run_id="warm",
    )
    shutil.rmtree(warm_root, ignore_errors=True)

    root = tempfile.mkdtemp(prefix="pks_scale_tbl_", dir=tbl_base)
    # compaction runs ASYNC (tableio/compaction.py), overlapped with ingest —
    # the sustained-state deployment shape; inline compaction is disabled.
    # The drain fold (scheduler.stop) is INSIDE the timed window, so total
    # work matches the inline variant; only the overlap differs.
    from pentaho_kettle_spark.tableio.compaction import (
        CompactionPolicy,
        CompactionScheduler,
    )

    table = ParquetSnapshotTableIO(
        spark, root + "/t", n_buckets=32, write_mode=mode,
        compact_delta_files=None,
    )
    table.init_empty(data_schema)
    sched = CompactionScheduler(
        table,
        CompactionPolicy(max_delta_files=4, major_min_delta_share=major_share,
                         stagger=stagger),
        interval_sec=1.0,
    )
    t0 = time.time()
    sched.start()
    lineage = replay_changelog(spark, table, log, n_batches=n_batches, salted=salted,
                               n_salts=16, run_id="scale")
    sched.stop(final_cycle=True)
    wall = time.time() - t0
    batch_secs = [r.get("batch_sec") for r in lineage]
    rows = table.read().count()
    shutil.rmtree(root, ignore_errors=True)

    parallelism = spark.sparkContext.defaultParallelism
    shuffle_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.stop()  # REQUIRED under spark-submit: a lingering JVM would
    # contend with the next trial and wreck the measurement
    with open(out_json, "w") as f:
        json.dump(
            {
                "events": n,
                "wall_sec": round(wall, 2),
                "events_per_sec": round(n / wall, 1),
                "final_rows": rows,
                "parallelism": parallelism,
                "shuffle_partitions": shuffle_parts,
                "mode": mode,
                "batch_secs": batch_secs,
            },
            f,
        )


if __name__ == "__main__":
    main()

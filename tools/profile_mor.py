"""Phase-level profile of one MoR replay pass (guide §1): where do the
~7s go — hot-key sampling, quantile bounds, per-batch collapse+write+commit,
async compaction cycles, final drain?  Throwaway measurement tool."""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.types as T

CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
TMP_BASE = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
BENCH_EVENTS = int(os.environ.get("PKS_BENCH_EVENTS", "2000000"))
BENCH_CONVS = int(os.environ.get("PKS_BENCH_CONVS", "40000"))


def main():
    from pentaho_kettle_spark.session import get_spark

    fair_xml = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "bench", "fairscheduler.xml")
    spark = get_spark(app_name="pks-profile-mor", master=f"local[{CPUS}]",
                      shuffle_partitions=int(CPUS),
                      extra_conf={
                          "spark.scheduler.mode": "FAIR",
                          "spark.scheduler.allocation.file": fair_xml,
                      })
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))

    from pentaho_kettle_spark.cdc.changelog import CHANGELOG_SCHEMA, read_changelog
    from pentaho_kettle_spark.cdc import replay as rp
    from pentaho_kettle_spark.tableio.compaction import (
        CompactionPolicy,
        CompactionScheduler,
    )
    from pentaho_kettle_spark.tableio.parquet_snapshot import ParquetSnapshotTableIO

    cache = f"{TMP_BASE}/pks_bench_cache/changelog_e{BENCH_EVENTS}_c{BENCH_CONVS}_s42_z1.2_rng"
    if not os.path.exists(os.path.join(cache, "_SUCCESS")):
        from pentaho_kettle_spark.fixtures.changelog_gen import gen_changelog

        pdf = gen_changelog(BENCH_EVENTS, BENCH_CONVS, seed=42)
        spark.createDataFrame(pdf, schema=CHANGELOG_SCHEMA).repartitionByRange(
            32, "ingest_ts"
        ).sortWithinPartitions("ingest_ts").write.mode("overwrite").parquet(cache)
    log = read_changelog(spark, cache)
    sch = T.StructType(
        [f for f in CHANGELOG_SCHEMA.fields if f.name not in ("seq", "op", "ingest_ts")]
    )

    n_passes = int(os.environ.get("PKS_PASSES", "3"))
    for p in range(n_passes):
        root = tempfile.mkdtemp(prefix="pks_prof_mor_", dir=TMP_BASE)
        table = ParquetSnapshotTableIO(
            spark, root + "/t", n_buckets=32, write_mode="mor",
            compact_delta_files=None,
        )
        table.init_empty(sch)
        sched = CompactionScheduler(
            table,
            CompactionPolicy(max_delta_files=2, major_min_delta_share=0.25,
                             stagger=3),
            interval_sec=1.0,
        )
        t0 = time.time()
        t_hot = t0
        sched.start()
        spark.sparkContext.setJobDescription("replay")
        lineage = rp.replay_changelog(
            spark, table, log, n_batches=4, salted="auto", n_salts=16,
            run_id=f"prof{p}",
        )
        t_replay = time.time()
        sched.stop(final_cycle=True)
        t_drain = time.time()
        batch_secs = [r.get("batch_sec") for r in lineage]
        print(json.dumps({
            "pass": p,
            "replay_sec": round(t_replay - t_hot, 2),
            "batch_secs": batch_secs,
            "bounds_sec": round((t_replay - t_hot) - sum(b or 0 for b in batch_secs), 2),
            "drain_sec": round(t_drain - t_replay, 2),
            "total_sec": round(t_drain - t0, 2),
            "async_cycles": sched.cycles,
            "compacted": sched.compacted,
        }), flush=True)
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()

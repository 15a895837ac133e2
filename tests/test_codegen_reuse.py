"""Generated code is compiled once per JVM: a query shape the session has
already run compiles no class again.

The counter is Spark's `CodegenMetrics` compilation-time histogram, one
sample per Janino compile, that is, per miss of Spark's codegen cache. The
cache is an LRU of `spark.sql.codegen.cache.maxEntries` classes. The 11
`kettle_steps` queries cycle through about 100 classes, always in the same
order. At Spark's default of 100 entries every lookup missed, so every run
recompiled every class. `get_spark` sizes the cache to the engine's working
set, and these gates pin that:

* a second run of the 11 perfbench queries compiles nothing;
* a MoR replay of an unseen log with the same batch bounds on a warm
  session compiles nothing; new bounds recompile only the stages that
  filter the log by them;
* a query shape the session has never seen does compile, so a counter that
  counts nothing cannot pass the other two."""

from __future__ import annotations

import time

import pandas as pd
import pyspark.sql.types as T

from perfbench.inputs import write_log
from perfbench.workloads import QUERIES
from pentaho_kettle_spark.cdc.changelog import CHANGELOG_SCHEMA, read_changelog
from pentaho_kettle_spark.cdc.replay import replay_changelog
from pentaho_kettle_spark.fixtures.changelog_gen import gen_changelog, pandas_oracle_apply
from pentaho_kettle_spark.tableio.parquet_snapshot import ParquetSnapshotTableIO
from tests.conftest import assert_df_equals_pandas


def _compiles(spark) -> int:
    """Janino compiles (codegen-cache misses) in this JVM so far."""
    cm = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(cm.METRIC_COMPILATION_TIME().getCount())


def _run_queries(spark, sf_dir, queries) -> dict[str, int]:
    """Each perfbench query built and run to the noop sink: compiles per query."""
    per = {}
    for name in QUERIES:
        c0 = _compiles(spark)
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        per[name] = _compiles(spark) - c0
    return per


def test_an_unseen_query_shape_compiles(spark):
    k = time.time_ns() % (1 << 40)  # a long literal is inlined into the generated code
    c0 = _compiles(spark)
    spark.range(8).selectExpr(f"id * {k} + {k + 1} AS x").write.format("noop").mode(
        "overwrite").save()
    assert _compiles(spark) > c0


def test_second_run_of_the_benchmark_queries_compiles_nothing(spark, sf_dir):
    import __spark_entry__ as entry

    queries = entry.queries()
    _run_queries(spark, sf_dir, queries)
    second = _run_queries(spark, sf_dir, queries)
    assert {q: n for q, n in second.items() if n} == {}


N_EVENTS, N_CONVS, N_FILES, N_BATCHES = 4_000, 200, 4, 4


def _mor_replay(spark, root, seed: int, shift_ms: int = 0):
    """A MoR replay, in 4 batches, of a seeded parquet log (one `ingest_ts`
    range per file, so the batch bounds come from the footers) into a new
    table; returns the table and the log. `gen_changelog` stamps
    `ingest_ts` by row position alone, so logs of any seed share their
    batch bounds unless `shift_ms` moves them."""
    pdf = gen_changelog(N_EVENTS, N_CONVS, seed=seed)
    pdf["ingest_ts"] += pd.Timedelta(milliseconds=shift_ms)
    write_log(pdf, f"{root}/log", N_FILES)
    table = ParquetSnapshotTableIO(spark, f"{root}/t", n_buckets=4, write_mode="mor")
    table.init_empty(T.StructType([f for f in CHANGELOG_SCHEMA.fields
                                   if f.name not in ("seq", "op", "ingest_ts")]))
    replay_changelog(spark, table, read_changelog(spark, f"{root}/log"),
                     n_batches=N_BATCHES, run_id=f"seed{seed}")
    return table, pdf


def test_replaying_an_unseen_log_compiles_nothing(spark, tmp_path):
    """New keys, payloads and key skew, the same batch bounds: the collapse
    and the bucket write put no value of the data into generated code."""
    _mor_replay(spark, tmp_path / "warm", seed=1)
    c0 = _compiles(spark)
    replays = [_mor_replay(spark, tmp_path / f"s{seed}", seed) for seed in (2, 3)]
    assert _compiles(spark) - c0 == 0
    table, pdf = replays[-1]
    assert_df_equals_pandas(table.read(), pandas_oracle_apply(pdf), ["conv_id", "turn_idx"])


def test_new_batch_bounds_recompile_only_the_batch_filters(spark, tmp_path):
    """The batch bounds are TIMESTAMP literals, so the parquet scan can
    prune on them, and the stages that filter the log inline them into
    their generated code: a log with new bounds compiles those stages
    again, and nothing else."""
    _mor_replay(spark, tmp_path / "warm", seed=1)
    c0 = _compiles(spark)
    _mor_replay(spark, tmp_path / "shifted", seed=4, shift_ms=137)
    assert _compiles(spark) - c0 <= 2 * N_BATCHES

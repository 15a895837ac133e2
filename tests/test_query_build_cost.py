"""What building a Kettle query costs before it scans anything, pinned for
the 11 perfbench `kettle_steps` queries at sf0.001.

* Spark jobs: after one warm build, a build runs none. `parquet_input`
  passes back the schema Spark inferred for unchanged files (no footer
  inference job).
* py4j round trips from the building thread: at most the query's ceiling,
  about 1.25x the count measured when the ceilings were set. Python
  call-site capture (`getActiveSession`, a conf read and a
  `PySparkCurrentOrigin` set + clear around every DataFrame and Column
  call) roughly triples the counts, so a session that turns it back on, or
  query code that goes back to one round trip per column or per element,
  fails here. A change that lowers a count may lower its ceiling."""

from __future__ import annotations

import threading

import py4j.clientserver
import pytest

from perfbench.workloads import QUERIES
from tests.test_manifest_planned_reads import _jobs

ROUND_TRIP_CEILINGS = {
    "q1_pricing_summary": 260,
    "multiway_join_agg": 150,
    "merge_rows_diff": 266,
    "cdc_lww_collapse": 219,
    "top_k": 52,
    "denormaliser_pivot": 176,
    "unique_rows": 195,
    "stream_lookup": 112,
    "minhash_dedup": 1459,
    "embedding_topk": 409,
    "gopher_quality": 1254,
}


@pytest.fixture(scope="module")
def queries(spark, sf_dir):
    import __spark_entry__ as entry

    qs = entry.queries()
    for name in QUERIES:  # the warm build: first schema inference per table
        qs[name](spark, sf_dir)
    return qs


def _round_trips(fn) -> int:
    """py4j commands `fn()` sends from this thread (py4j's finalizer thread
    deletes dead Java objects on its own connection: not counted)."""
    me, n = threading.get_ident(), [0]
    send = py4j.clientserver.ClientServerConnection.send_command

    def counting(self, command):
        if threading.get_ident() == me:
            n[0] += 1
        return send(self, command)

    py4j.clientserver.ClientServerConnection.send_command = counting
    try:
        fn()
    finally:
        py4j.clientserver.ClientServerConnection.send_command = send
    return n[0]


def test_ceilings_cover_the_benchmark_queries():
    assert sorted(ROUND_TRIP_CEILINGS) == sorted(QUERIES)


@pytest.mark.parametrize("name", QUERIES)
def test_building_a_query_runs_no_spark_job(spark, sf_dir, queries, name):
    _, ran = _jobs(spark, lambda: queries[name](spark, sf_dir))
    assert ran == []


@pytest.mark.parametrize("name", QUERIES)
def test_query_build_round_trips_under_ceiling(spark, sf_dir, queries, name):
    n = _round_trips(lambda: queries[name](spark, sf_dir))
    assert 0 < n <= ROUND_TRIP_CEILINGS[name], f"{name}: {n} py4j round trips"


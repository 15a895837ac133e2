"""The traced benchmark run wraps the engine's public entry points by name
(perfbench/layers.py). Installing and removing those wrappers must work
against the current code, so renaming an instrumented entry point fails
here instead of only crashing a traced run."""

from __future__ import annotations

from perfbench import layers
from perfbench.tracer import Tracer
from pentaho_kettle_spark.cdc import lww, replay, skew
from pentaho_kettle_spark.tableio.parquet_snapshot import ParquetSnapshotTableIO as P


def test_layers_install_and_uninstall(spark):
    before = {
        "apply_batch": replay.apply_batch,
        "lww_collapse": lww.lww_collapse,
        "should_salt": skew.should_salt,
        "compact": P.__dict__["compact"],
        "compact_minor": P.__dict__["compact_minor"],
    }
    tracer = Tracer(spark)
    layers.install(tracer)
    try:
        assert replay.apply_batch is not before["apply_batch"]
        assert P.__dict__["compact_minor"] is not before["compact_minor"]
    finally:
        tracer.uninstall()
    after = {
        "apply_batch": replay.apply_batch,
        "lww_collapse": lww.lww_collapse,
        "should_salt": skew.should_salt,
        "compact": P.__dict__["compact"],
        "compact_minor": P.__dict__["compact_minor"],
    }
    assert after == before
    # the former collapse names stay aliases of the one collapse
    assert lww.lww_collapse_salted is lww.lww_collapse_bucketed is lww.lww_collapse

"""The engine's settings, pinned: every constructor/method parameter, policy
field and environment variable a caller can set, and every Spark config
`get_spark` sets. A new knob or engine switch has to be added here
deliberately — and earn its keep — or this test fails. The
measurement scripts' environment keys, and the files the docs' `python`
commands name, are pinned the same way."""

from __future__ import annotations

import dataclasses
import inspect
import re
from pathlib import Path

import pytest

from pentaho_kettle_spark.cdc import lww, skew
from pentaho_kettle_spark.tableio.compaction import CompactionPolicy
from pentaho_kettle_spark.tableio.parquet_snapshot import ParquetSnapshotTableIO as P

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "pentaho_kettle_spark"
ENV_KEY = re.compile(r"""(?:environ\.get\(|environ\[|getenv\()\s*["'](\w+)["']""")
CONF_KEY = re.compile(r"""\.config\(\s*["']([\w.]+)["']""")


def _params(fn) -> list[str]:
    return list(inspect.signature(fn).parameters)


def test_table_and_policy_settings():
    assert _params(P.__init__) == [
        "self", "spark", "root", "key_cols", "lww_col", "n_buckets",
        "write_mode", "compact_delta_files", "minor_compaction_engine",
    ]
    assert _params(P.compact) == ["self", "buckets"]
    assert _params(P.compact_minor) == ["self", "buckets"]
    assert _params(P.merge_apply) == [
        "self", "changes", "batch_id", "seq_high_watermark", "assume_collapsed",
    ]
    assert [f.name for f in dataclasses.fields(CompactionPolicy)] == [
        "max_delta_files", "stagger", "major_min_delta_share",
    ]
    assert _params(skew.should_salt) == [
        "rows", "sampled_total", "sample_fraction", "n_batches", "n_partitions",
    ]
    assert _params(lww.lww_collapse) == [
        "events", "key_cols", "lww_col", "seq_col", "n_buckets", "n_salts", "hot_keys",
    ]


def test_environment_variables_read_by_the_package():
    keys = {k for py in PKG.rglob("*.py") for k in ENV_KEY.findall(py.read_text())}
    assert keys == {"PKS_MASTER", "SPARK_GRAFT_CPUS", "PKS_DRIVER_MEM", "PKS_LOCAL_DIR"}


def test_session_configs_pinned_by_get_spark():
    keys = set(CONF_KEY.findall((PKG / "session.py").read_text()))
    assert keys == {
        "spark.sql.session.timeZone", "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled", "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.skewJoin.enabled", "spark.sql.execution.arrow.pyspark.enabled",
        "spark.sql.parquet.compression.codec", "spark.sql.parquet.outputTimestampType",
        "spark.driver.memory", "spark.ui.enabled", "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.requireAllClusterKeysForCoPartition",
        "spark.python.sql.dataFrameDebugging.enabled", "spark.sql.codegen.cache.maxEntries",
        "spark.local.dir",
    }


def test_environment_variables_read_by_the_scripts():
    scripts = [REPO / "bench.py", *(REPO / "bench").glob("*.py"), *(REPO / "tools").glob("*.py")]
    keys = {k for py in scripts for k in ENV_KEY.findall(py.read_text())}
    assert keys == {
        "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS", "PKS_BENCH_EVENTS", "PKS_BENCH_CONVS",
        "SPARK_GRAFT_SF_CHECK_DIR", "SPARK_GRAFT_SF01_DIR",
    }


def test_documented_commands_name_existing_files():
    docs = [REPO / "README.md", REPO / ".claude" / "skills" / "verify" / "SKILL.md"]
    paths = {p for d in docs for p in re.findall(r"\bpython3? +([\w./-]+\.py)\b", d.read_text())}
    assert "bench.py" in paths
    assert sorted(p for p in paths if not (REPO / p).is_file()) == []


@pytest.mark.parametrize("engine", ["spark", "arrow-distributed"])
def test_fold_engine_is_not_a_setting(tmp_path, engine):
    with pytest.raises(ValueError, match="chosen per bucket"):
        P(None, str(tmp_path / "t"), minor_compaction_engine=engine)

"""The engine's settings, pinned: every constructor/method parameter, policy
field and environment variable a caller can set. A new knob has to be added
here deliberately — and earn its keep — or this test fails."""

from __future__ import annotations

import dataclasses
import inspect
import re
from pathlib import Path

import pytest

from pentaho_kettle_spark.cdc import skew
from pentaho_kettle_spark.tableio.compaction import CompactionPolicy
from pentaho_kettle_spark.tableio.parquet_snapshot import ParquetSnapshotTableIO as P

PKG = Path(__file__).resolve().parents[1] / "pentaho_kettle_spark"


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


def test_environment_variables_read_by_the_package():
    pattern = re.compile(r"""(?:environ\.get\(|environ\[|getenv\()\s*["'](\w+)["']""")
    keys = {k for py in PKG.rglob("*.py") for k in pattern.findall(py.read_text())}
    assert keys == {"PKS_MASTER", "SPARK_GRAFT_CPUS", "PKS_DRIVER_MEM", "PKS_LOCAL_DIR"}


@pytest.mark.parametrize("engine", ["spark", "arrow-distributed"])
def test_fold_engine_is_not_a_setting(tmp_path, engine):
    with pytest.raises(ValueError, match="chosen per bucket"):
        P(None, str(tmp_path / "t"), minor_compaction_engine=engine)

"""Property fuzz: generated schedules interleaving merge_apply with
maintenance ops (compact_minor on either fold engine, compact, expire_tombstones,
rebucket, expire_snapshots) — fired either between commits or INSIDE another
writer's pre-commit window (the `_write_buckets` hook from
test_concurrent_writers.py, where the r4 lost-update bugs lived).

The property: maintenance never changes visible state, and LWW makes merge
order irrelevant — so the final `read()` must equal the sequential
last-writer-wins fold of every merged event, no matter the schedule.

Timestamps are generated monotone per schedule STEP and every
expire_tombstones watermark is <= the minimum ts of all later batches, so
tombstone expiry is always within its documented out-of-order bound (the
contract under which expiry is state-preserving).
"""

from __future__ import annotations

from unittest import mock

import pyspark.sql.types as T
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pentaho_kettle_spark.tableio import parquet_snapshot
from pentaho_kettle_spark.tableio.parquet_snapshot import ParquetSnapshotTableIO

SCHEMA = T.StructType([
    T.StructField("k", T.StringType()),
    T.StructField("v", T.DoubleType()),
    T.StructField("ts", T.LongType()),
])

KEYS = [f"k{i}" for i in range(6)]  # small pool → guaranteed collisions

_event = st.tuples(
    st.sampled_from(KEYS),
    st.floats(min_value=0, max_value=9, allow_nan=False).map(lambda x: round(x, 1)),
    st.integers(min_value=0, max_value=99),  # ts offset within the step
    st.sampled_from(["U", "U", "U", "D"]),
)

_step = st.one_of(
    st.tuples(st.just("merge"), st.lists(_event, min_size=1, max_size=4)),
    st.tuples(st.just("minor_spark"), st.none()),
    st.tuples(st.just("minor_arrow"), st.none()),
    st.tuples(st.just("major"), st.none()),
    st.tuples(st.just("expire_stones"), st.none()),
    st.tuples(st.just("rebucket"), st.sampled_from([1, 2, 4])),
    st.tuples(st.just("expire_snaps"), st.none()),
    st.tuples(st.just("optimize"), st.none()),
)

_schedule = st.lists(_step, min_size=3, max_size=7).filter(
    lambda s: sum(1 for op, _ in s if op == "merge") >= 2
)
# one maintenance step may fire INSIDE the next merge's pre-commit window
_nested_idx = st.integers(min_value=0, max_value=6)


def _oracle(merged: list[tuple]) -> dict:
    """Sequential LWW fold: state[k] = (v, ts, seq, deleted)."""
    state: dict = {}
    for k, v, ts, seq, op in merged:
        cur = state.get(k)
        if cur is None or (ts, seq) > (cur[1], cur[2]):
            state[k] = (None if op == "D" else v, ts, seq, op == "D")
    return {k: (v, ts) for k, (v, ts, _s, d) in state.items() if not d}


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(schedule=_schedule, nested_idx=_nested_idx, data=st.data())
def test_maintenance_interleaved_with_merges_preserves_lww(
    spark, tmp_path_factory, schedule, nested_idx, data
):
    root = str(tmp_path_factory.mktemp("fuzz") / "t")
    t = ParquetSnapshotTableIO(
        spark, root, key_cols=("k",), lww_col="ts", n_buckets=2,
        write_mode="mor", compact_delta_files=None,
    )
    t.init_empty(SCHEMA)
    # a second handle plays the "other process" for nested maintenance
    w = ParquetSnapshotTableIO(
        spark, root, key_cols=("k",), lww_col="ts", n_buckets=2,
        write_mode="mor", compact_delta_files=None,
    )

    maint_steps = [i for i, (op, _) in enumerate(schedule) if op != "merge"]
    nested_at = maint_steps[nested_idx % len(maint_steps)] if maint_steps else None

    def run_maint(op: str, arg, handle) -> None:
        if op == "minor_spark":
            # every bucket over the arrow size bound → the Spark fold
            with mock.patch.object(parquet_snapshot, "ARROW_FOLD_MAX_BYTES", 0):
                handle.compact_minor()
        elif op == "minor_arrow":
            handle.compact_minor()
        elif op == "major":
            handle.compact()
        elif op == "expire_stones":
            # watermark = everything generated before this step; later
            # steps only produce ts >= this bound (monotone step bases)
            handle.expire_tombstones(watermark=step_base)
        elif op == "rebucket":
            handle.rebucket(arg)
        elif op == "expire_snaps":
            handle.expire_snapshots(keep_last=2, grace_seconds=0.0)
        elif op == "optimize":
            # the composite sweep: policy folds + stone expiry (same
            # watermark bound as expire_stones) + snapshot GC at grace 0
            # (safe against in-flight writers via the _inflight markers)
            from pentaho_kettle_spark.tableio.compaction import optimize

            optimize(handle, keep_last=2, grace_seconds=0.0,
                     tombstone_watermark=step_base)

    merged: list[tuple] = []
    seq = 0
    pending_nested = None
    for i, (op, arg) in enumerate(schedule):
        step_base = i * 100
        if op == "merge":
            rows = []
            for k, v, ts_off, evop in arg:
                seq += 1
                rows.append((k, None if evop == "D" else v,
                             step_base + ts_off, seq, evop))
                merged.append((k, v, step_base + ts_off, seq, evop))
            df = spark.createDataFrame(
                rows, "k string, v double, ts long, _seq long, op string"
            ).select("k", "v", "ts", "op", "_seq")
            if pending_nested is not None:
                nop, narg, nbase = pending_nested
                pending_nested = None
                orig = t._write_buckets
                fired = {"n": 0}

                def hooked(dfx, sv, kind="base", _o=orig, _op=nop, _a=narg,
                           _f=fired):
                    files = _o(dfx, sv, kind)
                    _f["n"] += 1
                    if _f["n"] == 1:
                        run_maint(_op, _a, w)
                    return files

                t._write_buckets = hooked
                try:
                    t.merge_apply(df, batch_id=f"b{i}")
                finally:
                    t._write_buckets = orig
            else:
                t.merge_apply(df, batch_id=f"b{i}")
        else:
            if i == nested_at:
                # defer: fire inside the NEXT merge's pre-commit window
                pending_nested = (op, arg, step_base)
            else:
                run_maint(op, arg, t)
    if pending_nested is not None:  # no merge followed; run it standalone
        run_maint(pending_nested[0], pending_nested[1], t)

    got = {r.k: (r.v, r.ts) for r in t.read().collect()}
    assert got == _oracle(merged)
    # lineage history survived every maintenance op
    assert f"b{max(i for i, (op, _) in enumerate(schedule) if op == 'merge')}" \
        in t.committed_batches()


# ---------------------------------------------------------------------------
# Writer-vs-writer fuzz: a second process COMMITS A MERGE inside the first
# writer's pre-commit window (the exact interleave where the r4 CoW
# lost-update bugs lived, but with generated batches instead of the two
# pinned cases in test_concurrent_writers.py). LWW + global seqs make
# commit order irrelevant, so the final state must equal the sequential
# fold of every event from both writers, under both CoW (optimistic retry)
# and MoR (delta append) modes.
# ---------------------------------------------------------------------------

_batches = st.lists(st.lists(_event, min_size=1, max_size=4), min_size=2, max_size=4)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    batches=_batches,
    nested_events=st.lists(_event, min_size=1, max_size=4),
    outer_idx=st.integers(min_value=0, max_value=3),
    mode=st.sampled_from(["mor", "cow"]),
)
def test_concurrent_merge_inside_merge_preserves_lww(
    spark, tmp_path_factory, batches, nested_events, outer_idx, mode
):
    root = str(tmp_path_factory.mktemp("fuzz2") / "t")
    kw = dict(key_cols=("k",), lww_col="ts", n_buckets=2,
              write_mode=mode, compact_delta_files=None)
    t = ParquetSnapshotTableIO(spark, root, **kw)
    t.init_empty(SCHEMA)
    w = ParquetSnapshotTableIO(spark, root, **kw)

    target = outer_idx % len(batches)
    merged: list[tuple] = []
    seq = 0

    def _df(events, step_base):
        nonlocal seq
        rows = []
        for k, v, ts_off, evop in events:
            seq += 1
            rows.append((k, None if evop == "D" else v, step_base + ts_off, seq, evop))
            merged.append((k, v, step_base + ts_off, seq, evop))
        return spark.createDataFrame(
            rows, "k string, v double, ts long, _seq long, op string"
        ).select("k", "v", "ts", "op", "_seq")

    for i, events in enumerate(batches):
        df = _df(events, i * 100)
        if i == target:
            ndf = _df(nested_events, i * 100 + 50)  # interleaved ts range
            orig = t._write_buckets
            fired = {"n": 0}

            def hooked(dfx, sv, kind="base", _o=orig, _ndf=ndf, _f=fired):
                files = _o(dfx, sv, kind)
                _f["n"] += 1
                if _f["n"] == 1:
                    w.merge_apply(_ndf, batch_id="nested")
                return files

            t._write_buckets = hooked
            try:
                t.merge_apply(df, batch_id=f"b{i}")
            finally:
                t._write_buckets = orig
        else:
            t.merge_apply(df, batch_id=f"b{i}")

    got = {r.k: (r.v, r.ts) for r in t.read().collect()}
    assert got == _oracle(merged)
    committed = t.committed_batches()
    assert "nested" in committed
    assert all(f"b{i}" in committed for i in range(len(batches)))


# ---------------------------------------------------------------------------
# Schema-evolution-vs-writer fuzz (r6, VERDICT #7 third axis): a second
# handle COMMITS an add/widen evolution inside the first writer's
# pre-commit window, so the writer's files land under the pre-evolution
# schema version while the manifest has already moved on. Later batches
# then merge under the evolved schema (mixed-version files per bucket).
# The property: the LWW fold is schema-version-blind — reads must equal
# the sequential oracle on the original columns, with the added column
# null everywhere no batch supplied it.
# ---------------------------------------------------------------------------


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    batches=_batches,
    outer_idx=st.integers(min_value=0, max_value=3),
    mode=st.sampled_from(["mor", "cow"]),
    new_type=st.sampled_from(["string", "double"]),
)
def test_schema_evolution_inside_merge_preserves_lww(
    spark, tmp_path_factory, batches, outer_idx, mode, new_type
):
    root = str(tmp_path_factory.mktemp("fuzz3") / "t")
    kw = dict(key_cols=("k",), lww_col="ts", n_buckets=2,
              write_mode=mode, compact_delta_files=None)
    t = ParquetSnapshotTableIO(spark, root, **kw)
    t.init_empty(SCHEMA)
    w = ParquetSnapshotTableIO(spark, root, **kw)

    target = outer_idx % len(batches)
    merged: list[tuple] = []
    seq = 0

    def _df(events, step_base):
        nonlocal seq
        rows = []
        for k, v, ts_off, evop in events:
            seq += 1
            rows.append((k, None if evop == "D" else v, step_base + ts_off, seq, evop))
            merged.append((k, v, step_base + ts_off, seq, evop))
        return spark.createDataFrame(
            rows, "k string, v double, ts long, _seq long, op string"
        ).select("k", "v", "ts", "op", "_seq")

    for i, events in enumerate(batches):
        df = _df(events, i * 100)
        if i == target:
            orig = t._write_buckets
            fired = {"n": 0}

            def hooked(dfx, sv, kind="base", _o=orig, _f=fired):
                files = _o(dfx, sv, kind)
                _f["n"] += 1
                if _f["n"] == 1:
                    w.evolve_schema(
                        [{"action": "add", "name": "extra", "type": new_type}]
                    )
                return files

            t._write_buckets = hooked
            try:
                t.merge_apply(df, batch_id=f"b{i}")
            finally:
                t._write_buckets = orig
        else:
            t.merge_apply(df, batch_id=f"b{i}")

    rows = t.read().collect()
    got = {r.k: (r.v, r.ts) for r in rows}
    assert got == _oracle(merged)
    assert all(r.extra is None for r in rows)  # evolution visible, all-null
    committed = t.committed_batches()
    assert all(f"b{i}" in committed for i in range(len(batches)))

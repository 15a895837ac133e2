"""Seeded benchmark inputs: change logs for the CDC workloads, a star schema
for the Kettle step workload, and the reference answers they are checked
against.

Everything is generated from the workload seed with numpy, written with
pyarrow (no Spark job), and cached under the benchmark's work directory so a
repeated seed skips generation. The program under test only ever sees the
files written here.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

CHANGELOG_ARROW = pa.schema([
    ("seq", pa.int64()), ("op", pa.string()), ("conv_id", pa.string()),
    ("turn_idx", pa.int32()), ("role", pa.string()), ("text", pa.string()),
    ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
    ("ingest_ts", pa.timestamp("us", tz="UTC")),
])


def write_log(pdf: pd.DataFrame, path: str, n_files: int) -> int:
    """Write a delivery-ordered change log as `n_files` parquet files of
    consecutive rows, so each file covers one `ingest_ts` range and the
    replay's footer-bounds split sees a time-ordered log (the layout a WAL
    or binlog segment has). Returns the row count."""
    os.makedirs(path, exist_ok=True)
    tbl = pa.Table.from_pandas(pdf, schema=CHANGELOG_ARROW, preserve_index=False)
    step = -(-len(pdf) // n_files)
    for i in range(n_files):
        pq.write_table(tbl.slice(i * step, step), f"{path}/part-{i:04d}.parquet",
                       row_group_size=max(step // 4, 1))
    return len(pdf)


def batch_bounds(path: str, n_batches: int) -> list[str]:
    """The `ingest_ts` upper bounds that split a log written by `write_log`
    into `n_batches` of equal row count at row-group granularity: the
    largest `ingest_ts` of the row group in which each n-th of the rows is
    reached, read from the footers in write order. On a time-ordered log
    this is the equi-depth split `replay_changelog` documents. ISO strings,
    naive UTC."""
    groups = []  # (max ingest_ts, rows) per row group, in delivery order
    for f in sorted(os.listdir(path)):
        md = pq.ParquetFile(os.path.join(path, f)).metadata
        col = md.schema.names.index("ingest_ts")
        for rg in range(md.num_row_groups):
            r = md.row_group(rg)
            groups.append((pd.Timestamp(r.column(col).statistics.max), r.num_rows))
    total = sum(n for _, n in groups)
    bounds, cum = [], 0
    for mx, rows in groups:
        cum += rows
        while len(bounds) < n_batches - 1 and cum >= total * (len(bounds) + 1) / n_batches:
            bounds.append((mx.tz_convert(None) if mx.tzinfo else mx).isoformat())
    return bounds


def cached_entry(cache: str, key: str, build, keep: int = 48) -> dict:
    """Build the inputs and reference answers for `key` once: `build()`
    writes its files under `<cache>/<key>/` and returns a small JSON-able
    record, which is stored beside them. A later run with the same key
    reuses both. The least recently used entries beyond `keep` are deleted
    so the cache stays bounded."""
    base = os.path.join(cache, key)
    ref = os.path.join(base, "ref.json")
    if os.path.exists(ref):
        os.utime(base)
        with open(ref) as f:
            return json.load(f)
    shutil.rmtree(base, ignore_errors=True)  # a build cut short is redone
    os.makedirs(base)
    value = build()
    with open(ref + ".tmp", "w") as f:
        json.dump(value, f)
    os.replace(ref + ".tmp", ref)
    entries = sorted((os.path.getmtime(os.path.join(cache, d)), d) for d in os.listdir(cache))
    for _, d in entries[:-keep]:
        shutil.rmtree(os.path.join(cache, d), ignore_errors=True)
    return value


# --------------------------------------------------------------------------
# star schema for the Kettle step workload
# --------------------------------------------------------------------------

_VOCAB = np.array(
    "key agg row scan slow fast table value part hash batch window spark order "
    "data column join small line customer query merge event turn stream shuffle "
    "plan filter sort group vector big the a and of".split()
)
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_DAY_US = 86_400_000_000


def _days(rng, n: int, lo: int, hi: int) -> np.ndarray:
    return _EPOCH_1995 + (rng.integers(lo, hi, size=n) * _DAY_US).astype("timedelta64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _sentences(rng, n: int, lo: int, hi: int) -> list[str]:
    lengths = rng.integers(lo, hi + 1, size=n)
    words = _VOCAB[rng.integers(0, len(_VOCAB), size=int(lengths.sum()))]
    out, pos = [], 0
    for ln in lengths:
        out.append(" ".join(words[pos:pos + ln]))
        pos += ln
    return out


def gen_star_schema(out_dir: str, seed: int, n_orders: int) -> dict[str, int]:
    """The ten tables the headline queries read, with the column names, types
    and value domains of the repository's TPC-H-style test data, sized by
    `n_orders` (lineitem ≈ 4×, customer 1/10, events 2/3, documents and
    embeddings 1/30). Returns rows per table."""
    rng = np.random.default_rng(seed)
    n_li, n_cust, n_part = 4 * n_orders, n_orders // 10, n_orders // 8
    n_supp, n_ev, n_docs = max(n_orders // 150, 10), 2 * n_orders // 3, n_orders // 30
    i32, i64 = pa.int32(), pa.int64()
    tables: dict[str, pa.Table] = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, n_cust, -999, 9999),
            "c_mktsegment": np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
                                      "FURNITURE"])[rng.integers(0, 5, n_cust)]}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, n_supp, -999, 9999)}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": _sentences(rng, n_part, 2, 2),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(["ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL"])[
                rng.integers(0, 5, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900 + np.arange(n_part) % 1000 * 0.1, 2)}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_orders), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), i64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
            "o_totalprice": _money(rng, n_orders, 1000, 500000),
            "o_orderdate": _days(rng, n_orders, 0, 2404),
            "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                         "5-LOW"])[rng.integers(0, 5, n_orders)]}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_orders, n_li), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900, 105000),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _days(rng, n_li, 1, 2499)}),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": np.datetime64("2024-01-01", "us") + np.sort(
                rng.integers(0, 30 * _DAY_US, n_ev)).astype("timedelta64[us]"),
            "user_id": pa.array(rng.integers(0, max(n_ev // 66, 1), n_ev), i64),
            "event_type": np.array(["signup", "click", "error", "view", "purchase"])[
                rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
    }
    # documents: every 10th is a lightly edited copy of an earlier one, so
    # the MinHash dedup has near-duplicates to drop
    texts = _sentences(rng, n_docs, 8, 80)
    for i in range(10, n_docs, 10):
        texts[i] = texts[int(rng.integers(0, i))] + " " + str(_VOCAB[i % len(_VOCAB)])
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": np.array(["en", "de", "fr"])[rng.integers(0, 3, n_docs)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    emb = rng.normal(size=(n_docs, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_docs), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_docs), i32)})
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, f"{out_dir}/{name}.parquet")
    return {name: tbl.num_rows for name, tbl in tables.items()}

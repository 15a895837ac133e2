"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB at sf0.01; compare row count, schema
(column names), and order-insensitive values (exact after the queries' own
rounding). Usage: python tools/check_oracle.py [--json OUT.json] [name ...]

--json writes a per-query attestation artifact ({name: {pass, rows, sec}})
— committed per round (ORACLE_LOCAL_r{N}.json) so queries rotated out of the
external gate's 50-entry window still carry machine-checkable evidence.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

import __spark_entry__ as entrymod
from pentaho_kettle_spark.session import get_spark

SF = os.environ.get("SPARK_GRAFT_SF_CHECK_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if str(pdf[c].dtype).startswith("datetime"):
            pdf[c] = pdf[c].astype("datetime64[us]").astype("int64")
        elif pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
        elif str(pdf[c].dtype).startswith("float"):
            pdf[c] = pdf[c].astype("float64")
        elif str(pdf[c].dtype) in ("int8", "int16", "int32", "uint8", "uint16", "uint32"):
            pdf[c] = pdf[c].astype("int64")
        elif str(pdf[c].dtype) == "decimal":
            pdf[c] = pdf[c].astype("float64")
    return pdf.sort_values(list(pdf.columns), kind="stable").reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Mismatches of a Spark result against its DuckDB oracle, after
    `_normalize`: row count, column names, dtypes, then exact values. An
    empty list means equal."""
    g, w = _normalize(got), _normalize(want)
    status = []
    if len(g) != len(w):
        status.append(f"rowcount {len(g)} != {len(w)}")
    if list(g.columns) != list(w.columns):
        status.append(f"columns {list(g.columns)} != {list(w.columns)}")
    if not status:
        # The driver's value hash is TYPE-SENSITIVE (int 3 != float 3.0):
        # after width normalization, dtypes must match exactly.  A DuckDB
        # HUGEINT (sum(int)) arrives as float64 while Spark's long is
        # int64 — that exact mismatch was driver-red for two rounds while
        # this replica's old check_dtype=False waved it through.
        dg, dw = [str(d) for d in g.dtypes], [str(d) for d in w.dtypes]
        if dg != dw:
            bad = [f"{c}: spark {a} vs oracle {b}"
                   for c, a, b in zip(g.columns, dg, dw) if a != b]
            status.append(f"dtypes {'; '.join(bad)}")
    if not status:
        try:
            pd.testing.assert_frame_equal(g, w, check_dtype=True, check_exact=True)
        except AssertionError as e:
            status.append(f"values: {str(e).splitlines()[-1][:200]}")
    return status


def main(names: list[str], json_out: str | None = None) -> int:
    spark = get_spark(app_name="oracle-check", master="local[8]", shuffle_partitions=16)
    report: dict[str, dict] = {}
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    targets = names or list(qs)
    failures = []
    for name in targets:
        t0 = time.time()
        try:
            got = qs[name](spark, SF).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            report[name] = {"pass": False, "err": f"spark: {e}"[:300]}
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows-only ({len(got)} rows, {time.time()-t0:.1f}s)")
            bad = len(got) == 0 and name != "simhash_candidates"
            if bad:
                failures.append(name)
                print(f"FAIL {name}: 0 rows from rows-only query")
            report[name] = {"pass": not bad, "rows": len(got), "rows_only": True,
                            "sec": round(time.time() - t0, 1)}
            continue
        try:
            want = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            report[name] = {"pass": False, "err": f"duckdb: {e}"[:300]}
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        status = compare(got, want)
        if status:
            failures.append(name)
            report[name] = {"pass": False, "err": "; ".join(status)[:300]}
            print(f"FAIL {name}: {'; '.join(status)}")
        else:
            report[name] = {"pass": True, "rows": len(got),
                            "sec": round(time.time() - t0, 1)}
            print(f"PASS {name} ({len(got)} rows, {time.time()-t0:.1f}s)")
    print(f"\n{len(targets) - len(failures)}/{len(targets)} passed")
    if json_out:
        import json

        with open(json_out, "w") as fh:
            json.dump({"sf": SF, "total": len(targets),
                       "passed": len(targets) - len(failures),
                       "queries": report}, fh, indent=1)
    return 1 if failures else 0


if __name__ == "__main__":
    argv = sys.argv[1:]
    out = None
    if "--json" in argv:
        i = argv.index("--json")
        out = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    raise SystemExit(main(argv, json_out=out))

"""TextFileInput / JsonInput .ktr builders (SURVEY §2.1:
textfileinput/TextFileInput.java, kettle-json-plugin JsonInput.java):
directory+filemask lists, gzip, header/footer skip, JSONPath fields."""

from __future__ import annotations

import gzip
import os

import pytest

from pentaho_kettle_spark.plans.ktr import run_ktr
from pentaho_kettle_spark.sources import resolve_file_specs

FIX = os.path.join(os.path.dirname(__file__), "fixtures")


def _write_gz(path: str, text: str) -> None:
    with gzip.open(path, "wt") as f:
        f.write(text)


def test_textfileinput_gz_wildcard_header_footer(spark, tmp_path):
    """Two gzipped files selected by a filemask REGEX; each has one header
    line and one trailer line to skip (nr_headerlines/nr_footerlines)."""
    _write_gz(
        str(tmp_path / "part-000.csv.gz"),
        "k;city;amount\n1;berlin;10.5\n2;oslo;20.0\nTRAILER 2 rows\n",
    )
    _write_gz(
        str(tmp_path / "part-001.csv.gz"),
        "k;city;amount\n3;lima;30.25\nTRAILER 1 rows\n",
    )
    _write_gz(str(tmp_path / "ignored.csv.gz"), "k;city;amount\n9;x;9.0\n")
    outs = run_ktr(
        spark,
        os.path.join(FIX, "sample_textfile.ktr"),
        variables={"DATA_DIR": str(tmp_path)},
    )
    rows = outs["Sorted"].collect()
    assert [(r.k, r.city, r.amount) for r in rows] == [
        (1, "berlin", 10.5),
        (2, "oslo", 20.0),
        (3, "lima", 30.25),
    ]
    # declared Kettle types became the Spark schema
    sch = dict(outs["Sorted"].dtypes)
    assert sch == {"k": "bigint", "city": "string", "amount": "double"}


def test_textfileinput_fast_path_no_footer(spark, tmp_path):
    """Without a footer the builder must hit the NATIVE csv reader (scan
    with ReadSchema; no window/shuffle in the plan)."""
    import re

    (tmp_path / "a.csv").write_text("k;city;amount\n1;berlin;10.5\n")
    import xml.etree.ElementTree as ET

    # same step, no footer, direct filename (no mask)
    tree = ET.parse(os.path.join(FIX, "sample_textfile.ktr"))
    step = tree.getroot().find("step")
    step.find("footer").text = "N"
    step.find("file/name").text = str(tmp_path / "a.csv")
    step.find("file/filemask").text = None
    p = tmp_path / "nofooter.ktr"
    tree.write(p)
    outs = run_ktr(spark, str(p))
    df = outs["Sorted"]
    assert df.count() == 1
    # the file scan is the native csv source (pushdown-capable), not the
    # text + per-file-window + from_csv rewrite the footer path needs
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "from_csv" not in plan
    assert "csv" in plan.lower()


def test_jsoninput_files_gz(spark, tmp_path):
    _write_gz(
        str(tmp_path / "events-0.jsonl.gz"),
        '{"user": {"name": "ada"}, "payload": {"amount": 1.5, "n": 2}}\n'
        '{"user": {"name": "bob"}, "payload": {"amount": 2.5, "n": 4}}\n',
    )
    outs = run_ktr(
        spark,
        os.path.join(FIX, "sample_json_input.ktr"),
        variables={"DATA_DIR": str(tmp_path)},
    )
    rows = sorted(outs["Read json"].collect(), key=lambda r: r.user)
    assert [(r.user, r.amount, r.n_items) for r in rows] == [
        ("ada", 1.5, 2),
        ("bob", 2.5, 4),
    ]


def test_jsoninput_in_field_mode(spark):
    outs = run_ktr(spark, os.path.join(FIX, "sample_json_infield.ktr"))
    rows = sorted(outs["Extract"].collect(), key=lambda r: r.id)
    assert [(r.id, r.b, r.tag) for r in rows] == [(1, 10, "x"), (2, 20, "y")]
    assert "doc" not in outs["Extract"].columns  # removeSourceField=Y


def test_resolve_file_specs_regex_and_misses(tmp_path):
    (tmp_path / "a-1.csv").write_text("x")
    (tmp_path / "a-2.csv").write_text("x")
    (tmp_path / "b.txt").write_text("x")
    got = resolve_file_specs([(str(tmp_path), r"a-\d\.csv")])
    assert [os.path.basename(p) for p in got] == ["a-1.csv", "a-2.csv"]
    with pytest.raises(ValueError, match="no files matched"):
        resolve_file_specs([(str(tmp_path), r"z-.*")])


def test_footer_skip_on_multisplit_plain_file(spark, tmp_path):
    """VERDICT r5 'what's wrong' #1: the footer/header line-numbering path
    orders lines per file with row_number over monotonically_increasing_id,
    which is correct only if FileScan keeps a single file's splits in
    offset order (equal-size splits pack stably in practice, but it is not
    contractual). Pin it: a plain-text file forced into MANY splits via a
    tiny maxPartitionBytes must survive header+footer skip with exactly
    the interior rows intact."""
    import pyspark.sql.types as T

    from pentaho_kettle_spark.sources.files import text_file_input_csv

    n = 2000
    body = "".join(f"{i};name{i}\n" for i in range(n))
    p = tmp_path / "wide.csv"
    p.write_text("h1;h1\nh2;h2\n" + body + "TRAILER A\nTRAILER B\n")

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("name", T.StringType())]
    )
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(2 * 1024))
    try:
        raw = spark.read.text(str(p))
        assert raw.rdd.getNumPartitions() > 4  # the scan really is multi-split
        df = text_file_input_csv(
            spark, [str(p)], schema,
            header=False, nr_header_lines=2, nr_footer_lines=2, delimiter=";",
        )
        got = df.orderBy("k").collect()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert len(got) == n
    assert [r.k for r in got] == list(range(n))
    assert got[0].name == "name0" and got[-1].name == f"name{n - 1}"


def test_parquet_input_schema_follows_rewrites(spark, tmp_path):
    """parquet_input keeps Spark's inferred schema per local path: a build
    over unchanged files runs no Spark job, and a rewrite at the same path
    (a file or a directory) with an added column and a changed type reads
    the new schema and the new rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pentaho_kettle_spark.sources.files import parquet_input
    from tests.test_manifest_planned_reads import _jobs

    f = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": pa.array([1, 2], pa.int32()), "v": ["a", "b"]}), f)
    assert parquet_input(spark, f).schema.simpleString() == "struct<k:int,v:string>"
    again, ran = _jobs(spark, lambda: parquet_input(spark, f))
    assert ran == [] and again.schema.simpleString() == "struct<k:int,v:string>"
    pq.write_table(pa.table({"k": pa.array([3], pa.int64()), "v": ["c"], "w": [1.5]}), f)
    new = parquet_input(spark, f)
    assert new.schema.simpleString() == "struct<k:bigint,v:string,w:double>"
    assert [tuple(r) for r in new.collect()] == [(3, "c", 1.5)]

    d = str(tmp_path / "dir")
    spark.createDataFrame([(1, "a")], "k int, v string").write.parquet(d)
    assert [tuple(r) for r in parquet_input(spark, d).collect()] == [(1, "a")]
    spark.createDataFrame([(2, "b", 2.5)], "k long, v string, w double") \
        .write.mode("overwrite").parquet(d)
    new = parquet_input(spark, d)
    assert new.schema.simpleString() == "struct<k:bigint,v:string,w:double>"
    assert [tuple(r) for r in new.collect()] == [(2, "b", 2.5)]


def test_parquet_input_deleted_files_fail_loudly(spark, tmp_path):
    """A path whose files are gone raises, also after its schema was kept:
    it never reads as an empty result."""
    import shutil

    from pyspark.errors import AnalysisException

    from pentaho_kettle_spark.sources.files import parquet_input

    f = str(tmp_path / "t.parquet")
    d = str(tmp_path / "dir")
    spark.createDataFrame([(1, "a")], "k int, v string").coalesce(1).write.parquet(d)
    shutil.copy(next(os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet")), f)
    built = parquet_input(spark, f)
    assert built.count() == 1 and parquet_input(spark, d).count() == 1

    os.remove(f)
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        parquet_input(spark, f)
    with pytest.raises(Exception, match="FILE_NOT_EXIST|does not exist"):
        built.collect()  # built before the delete: the scan fails, not empties
    for n in os.listdir(d):
        os.remove(os.path.join(d, n))
    with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        parquet_input(spark, d)

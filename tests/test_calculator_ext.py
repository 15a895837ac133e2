"""Round-2 additions: extended Calculator functions (phonetics, edit
distances, hex codecs, checksums), the portable hash, salted-collapse key
separation, and deep-closure cache bounding."""

from __future__ import annotations

import zlib

from pyspark.sql import functions as F

from pentaho_kettle_spark.functions.strings_udf import (
    _damerau_levenshtein,
    _metaphone,
    _needleman_wunsch,
)
from pentaho_kettle_spark.operators.calculator import Calc, calculator


def test_metaphone_vectors(spark):
    # classic Philips metaphone behaviors that are unambiguous across
    # implementations (initial-pair drops, digraphs, theta)
    assert _metaphone("knight") == "NT"
    assert _metaphone("wright") == "RT"
    assert _metaphone("school") == "SKL"
    assert _metaphone("testing") == "TSTN"
    assert _metaphone("philip") == "FLP"
    assert _metaphone("xavier")[0] == "S"
    assert _metaphone("theory") == "0R"  # theta; trailing Y dropped
    assert _metaphone("") == ""
    assert _metaphone(None) is None
    # vowels only kept at position 0
    assert _metaphone("audio") == "AT"


def test_damerau_and_nw():
    assert _damerau_levenshtein("ca", "abc") == 3  # OSA variant (not full DL=2)
    assert _damerau_levenshtein("ab", "ba") == 1  # transposition
    assert _damerau_levenshtein("kitten", "sitting") == 3
    assert _damerau_levenshtein("", "abc") == 3
    assert _needleman_wunsch("abc", "abc") == 3
    assert _needleman_wunsch("abc", "abd") == 1  # 2 match - 1 mismatch
    assert _needleman_wunsch("abc", "") == -3


def test_calculator_ext_functions(spark):
    df = spark.createDataFrame(
        [(1, 10.0, 3.0, "knight", "knigth")],
        ["id", "a", "b", "s1", "s2"],
    )
    out = calculator(df, [
        Calc("add3", "ADD3", "a", "b", "id"),
        Calc("mx", "MAXIMUM", "a", "b"),
        Calc("mn", "MINIMUM", "a", "b"),
        Calc("rem", "REMAINDER", "a", "b"),
        Calc("hexed", "CHAR_TO_HEX_ENCODE", "s1"),
        Calc("rt", "HEX_TO_CHAR_DECODE", "hexed"),
        Calc("mp", "METAPHONE", "s1"),
        Calc("dl", "DAMERAU_LEVENSHTEIN", "s1", "s2"),
        Calc("nw", "NEEDLEMAN_WUNSCH", "s1", "s2"),
        Calc("adler", "CHECKSUM_ADLER32", "s1"),
    ]).collect()[0]
    assert out.add3 == 14.0
    assert out.mx == 10.0 and out.mn == 3.0
    assert out.rem == 1.0
    assert out.rt == "knight"
    assert out.mp == "NT"
    assert out.dl == 1  # adjacent transposition th <-> ht
    assert out.nw == 3  # 5 matches - 2 gaps (knigh-t / knig-th)
    assert out.adler == zlib.adler32(b"knight")


def test_portable_hash_matches_duckdb(spark):
    import duckdb

    from pentaho_kettle_spark.functions.portable import phash64, phash64_sql

    vals = ["", "a", "hello world", "tab\there", "ünïcode"]
    got = {
        r.t: r.h
        for r in spark.createDataFrame([(v,) for v in vals], ["t"])
        .select("t", phash64(F.col("t")).alias("h"))
        .collect()
    }
    con = duckdb.connect()
    for v in vals:
        want = con.execute(f"SELECT {phash64_sql('?')}", [v]).fetchone()[0]
        assert got[v] == want, v


def test_salted_collapse_adversarial_keys(spark):
    """("ab","c") vs ("a","bc") must not collide in the hot-key IN-set."""
    from pentaho_kettle_spark.cdc.lww import lww_collapse_salted

    rows = [
        ("ab", "c", 1, 100, 1.0),
        ("ab", "c", 2, 200, 2.0),
        ("a", "bc", 3, 150, 3.0),
    ]
    df = spark.createDataFrame(rows, ["k1", "k2", "seq", "ts", "v"])
    out = lww_collapse_salted(
        df, key_cols=["k1", "k2"], lww_col="ts", seq_col="seq",
        n_salts=4, hot_keys=[("ab", "c")],
    )
    got = {(r.k1, r.k2): (r.v, r._seq) for r in out.collect()}
    assert got == {("ab", "c"): (2.0, 2), ("a", "bc"): (3.0, 3)}


def test_closure_deep_chain_bounded_cache(spark):
    """50-level linear chain: correct distances and no unbounded cache."""
    from pentaho_kettle_spark.operators.joins import closure_generator

    n = 20
    cached_before = len(spark.sparkContext._jsc.getPersistentRDDs())
    edges = [(f"n{i:02d}", f"n{i+1:02d}") for i in range(n)]
    df = spark.createDataFrame(edges, ["parent", "child"])
    out = closure_generator(df, "parent", "child", max_depth=n + 5)
    rows = out.collect()
    dist = {(r.parent, r.child): r.distance for r in rows}
    assert dist[(f"n{0:02d}", f"n{n:02d}")] == n
    assert dist[("n00", "n00")] == 0
    assert len(rows) == (n + 1) + (n + 1) * n // 2  # selfs + all pairs i<j
    # cached RDD delta should be small (edges + final closure + final
    # frontier = 3), NOT proportional to the chain depth
    n_cached = len(spark.sparkContext._jsc.getPersistentRDDs())
    assert n_cached - cached_before <= 4, (
        f"cache leak: {n_cached - cached_before} new persistent RDDs"
    )


def test_double_metaphone_vectors():
    # published Double Metaphone vectors (Philips CUJ-2000 reference set, as
    # shipped in Apache Commons Codec's test suite) — primary code, maxLen=4
    from pentaho_kettle_spark.functions.strings_udf import _double_metaphone as dm

    primary = {
        "testing": "TSTN", "The": "0", "quick": "KK", "brown": "PRN",
        "fox": "FKS", "jumped": "JMPT", "over": "AFR", "lazy": "LS",
        "dogs": "TKS", "smith": "SM0", "schmidt": "XMT", "snider": "SNTR",
        "school": "SKL", "philip": "FLP", "knight": "NT", "wright": "RT",
        "ghost": "KST", "jose": "HS", "cabrillo": "KPRL", "Xavier": "SF",
        "Zhang": "JNK", "dumb": "TM", "accident": "AKST", "Caesar": "SSR",
        "Wasserman": "ASRM", "Vasserman": "FSRM",
    }
    for w, want in primary.items():
        assert dm(w) == want, (w, dm(w), want)
    # the alternate code diverges exactly where the algorithm is ambiguous
    alternate = {
        "smith": "XMT", "schmidt": "SMT", "snider": "XNTR",
        "cabrillo": "KPR", "Wasserman": "FSRM",
    }
    for w, want in alternate.items():
        assert dm(w, alternate=True) == want, (w, dm(w, alternate=True), want)
    assert dm(None) is None
    assert dm("") == ""
    assert dm("   ") == ""


def test_double_metaphone_via_calculator(spark):
    from pentaho_kettle_spark import operators as ops
    from pentaho_kettle_spark.operators.calculator import Calc

    df = spark.createDataFrame(
        [("smith",), ("schmidt",), ("jose",), (None,)], ["name"]
    )
    out = ops.calculator(df, [Calc("code", "DOUBLE_METAPHONE", "name")])
    got = {r.name: r.code for r in out.collect()}
    assert got == {"smith": "SM0", "schmidt": "XMT", "jose": "HS", None: None}


def test_jaro_via_calculator_matches_udfs(spark):
    """JARO / JARO_WINKLER through ops.calculator give exactly what the
    strings_udf pandas_udfs give, NULL operands included."""
    from pentaho_kettle_spark import operators as ops
    from pentaho_kettle_spark.functions.strings_udf import jaro_udf, jaro_winkler_udf
    from pentaho_kettle_spark.operators.calculator import Calc

    df = spark.createDataFrame(
        [(1, "martha", "marhta"), (2, "dwayne", "duane"), (3, "dixon", "dicksonx"),
         (4, "same", "same"), (5, "abc", None), (6, None, None)],
        "id int, s1 string, s2 string",
    )
    out = ops.calculator(df, [
        Calc("j", "JARO", "s1", "s2"),
        Calc("jw", "JARO_WINKLER", "s1", "s2"),
    ]).withColumn("ref_j", jaro_udf(F.col("s1"), F.col("s2"))) \
      .withColumn("ref_jw", jaro_winkler_udf(F.col("s1"), F.col("s2")))
    rows = {r.id: r for r in out.collect()}
    for r in rows.values():
        assert (r.j, r.jw) == (r.ref_j, r.ref_jw), r
    assert abs(rows[1].j - 0.944444) < 1e-6 and abs(rows[1].jw - 0.961111) < 1e-6
    assert rows[4].j == rows[4].jw == 1.0
    assert rows[5].j is None and rows[6].jw is None

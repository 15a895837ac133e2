"""M5: skew handling (hot-key detection + salted two-phase collapse) and the
training-data dedup/similarity ops."""

from __future__ import annotations

import pyspark.sql.functions as F

from pentaho_kettle_spark.cdc.changelog import CHANGELOG_SCHEMA
from pentaho_kettle_spark.cdc.lww import lww_collapse, lww_collapse_salted
from pentaho_kettle_spark.cdc.skew import detect_hot_keys
from pentaho_kettle_spark.fixtures.changelog_gen import gen_changelog


def test_hot_key_detection_and_salted_equivalence(spark):
    # zipf a=1.2 → conv-00000000 is hot by construction
    pdf = gen_changelog(8_000, 300, seed=31)
    log = spark.createDataFrame(pdf, schema=CHANGELOG_SCHEMA).drop("ingest_ts")
    hot = detect_hot_keys(log, ["conv_id"], sample_fraction=0.5, hot_threshold_share=0.01)
    hot_ids = [r.conv_id for r in hot.collect()]
    assert "conv-00000000" in hot_ids

    plain = lww_collapse(log).orderBy("conv_id", "turn_idx").collect()
    salted = (
        lww_collapse_salted(log, n_salts=8, hot_keys=hot.withColumn("turn_idx", F.lit(None)))
        if False
        else lww_collapse_salted(log, n_salts=8)
    ).orderBy("conv_id", "turn_idx").collect()
    assert plain == salted


def test_salted_with_hot_key_routing(spark):
    pdf = gen_changelog(5_000, 200, seed=32)
    log = spark.createDataFrame(pdf, schema=CHANGELOG_SCHEMA).drop("ingest_ts")
    hot = detect_hot_keys(log, ["conv_id", "turn_idx"], sample_fraction=0.5,
                          hot_threshold_share=0.005)
    plain = lww_collapse(log).orderBy("conv_id", "turn_idx").collect()
    routed = lww_collapse_salted(log, n_salts=4, hot_keys=hot).orderBy(
        "conv_id", "turn_idx"
    ).collect()
    assert plain == routed


def test_exact_dedup_keeps_one_per_text(spark):
    from pentaho_kettle_spark.functions.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, "Hello  world"), (2, "hello world"), (3, "different")],
        "doc_id long, text string",
    )
    kept = exact_dedup(df, "text", "doc_id")
    assert sorted(r.doc_id for r in kept.collect()) == [1, 3]


def test_minhash_finds_near_dup(spark):
    from pentaho_kettle_spark.functions.dedup import minhash_lsh_dedup

    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tonight")
    far = "completely unrelated text about spark shuffles and parquet files here"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    pairs = minhash_lsh_dedup(df, "text", "doc_id", num_hashes=32, bands=16, k_shingle=3)
    got = {(r.doc_id, r.dup_of) for r in pairs.collect()}
    assert (2, 1) in got
    assert all(p[0] != 3 for p in got)


def test_minhash_codegen_signatures_match_hof_shingles(spark):
    """The exploded-index signature path (Generate + codegen projection)
    must be bit-identical to aggregating over `_shingles`'s HOF array —
    including the duplicate-shingle difference (min is insensitive), the
    short-doc branch (n < k hashes the whole text), and empty text. Pinned
    for BOTH hash functions (xxhash64 scale path, phash64 oracle twin)."""
    import pandas as pd

    from pentaho_kettle_spark.functions import dedup as D
    from pentaho_kettle_spark.functions.portable import phash64

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again today"),
        (2, "the quick brown fox jumps over the lazy dog again and again tonight"),
        (3, "repeat repeat repeat repeat repeat repeat repeat repeat"),  # dup shingles
        (4, "short doc"),  # n < k
        (5, ""),  # empty after normalize
        (6, "  Mixed   CASE   and    runs	of whitespace normalize down  "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for hash_fn in (F.xxhash64, phash64):
        got = (
            D.minhash_signatures_exploded(df, "text", "doc_id", 16, 5, hash_fn)
            .toPandas().sort_values("doc_id").reset_index(drop=True)
        )
        # reference: min over the HOF shingle array, per coefficient
        sh = D._shingles(F.col("text"), 5, hash_fn)
        ref_cols = [
            F.array_min(
                F.transform(sh, lambda h: (F.pmod(h, F.lit(D._MERSENNE)) * a + b) % D._MERSENNE)
            ).alias(f"h{i}")
            for i, (a, b) in enumerate(D._minhash_coeffs(16))
        ]
        ref = (
            df.select("doc_id", *ref_cols)
            .toPandas().sort_values("doc_id").reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got, ref)


def test_simhash_hamming_near_zero_for_near_dup(spark):
    from pentaho_kettle_spark.functions.dedup import simhash_table

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [(1, base), (2, base + " extra"), (3, "umami soup recipe with miso")],
        "doc_id long, text string",
    )
    t = {r.doc_id: r.simhash for r in simhash_table(df, "text", "doc_id").collect()}
    ham = lambda a, b: bin((a ^ b) & ((1 << 64) - 1)).count("1")  # noqa: E731
    assert ham(t[1], t[2]) < ham(t[1], t[3])


def test_brute_force_topk_self_is_top1(spark):
    from pentaho_kettle_spark.functions.similarity import brute_force_topk

    import numpy as np

    rng = np.random.default_rng(5)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(20)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = corpus.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = brute_force_topk(corpus, queries, k=3)
    best = {r.query_id: r.vec_id for r in top.filter("cosine > 0.9999").collect()}
    assert best == {0: 0, 1: 1}


def test_ngram_stop_shingle_cap_bounds_pairs(spark):
    """Adversarial hot shingle: every doc shares one ubiquitous phrase. The
    inverted-index self-join would pair every co-occurrence — f·(f−1)/2
    pairs from that one shingle. max_doc_freq drops it and only genuinely
    similar docs pair; similarity is then over the retained universe."""
    from pentaho_kettle_spark.functions.dedup import ngram_jaccard_pairs

    n = 60
    rows = [
        # unique body + the corpus-wide phrase "click here to subscribe now"
        (i, f"alpha{i} beta{i} gamma{i} delta{i} click here to subscribe now")
        for i in range(n)
    ]
    # one true near-dup pair sharing their body too
    rows.append((n, rows[0][1]))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = ngram_jaccard_pairs(
        df, "text", "doc_id", k_shingle=3, min_jaccard=0.5, max_doc_freq=10
    ).collect()
    got = {(r.id_a, r.id_b): r.jaccard for r in out}
    # only the planted duplicate survives; the hot phrase alone pairs nobody
    assert set(got) == {(0, n)}
    assert got[(0, n)] == 1.0  # identical retained shingle sets
    # without the cap, the shared phrase pairs EVERY doc combination above
    # the threshold 0 — sanity-check the hazard actually exists
    uncapped = ngram_jaccard_pairs(
        df, "text", "doc_id", k_shingle=3, min_jaccard=0.01
    )
    assert uncapped.count() > n  # quadratic blow-up the cap prevents


def test_salted_collapse_plan_is_two_phase(spark):
    """Plan shape of the driver's cdc_salted_collapse path: exactly TWO
    exchanges (phase-1 (key,salt) agg + phase-2 key agg) — salting must not
    add joins/broadcasts, and the hot-key list rides as plan literals."""
    from pentaho_kettle_spark.plans.explain import count_shuffles

    pdf = gen_changelog(3_000, 150, seed=33)
    log = spark.createDataFrame(pdf, schema=CHANGELOG_SCHEMA).drop("ingest_ts")
    hot = detect_hot_keys(log, ["conv_id", "turn_idx"], sample_fraction=0.5,
                          hot_threshold_share=0.005)
    out = lww_collapse_salted(log, n_salts=8, hot_keys=hot)
    assert count_shuffles(out) == 2
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan  # IN-set literal, not a broadcast join


def test_ivf_topk_recall_and_plan(spark):
    """IVF ANN: self is always recalled at cosine 1.0 (the query's own cell
    is its nearest probe), candidates come from an equi-join on cell (no
    cartesian), and the centroid literals compile into the plan (no extra
    join for assignment)."""
    import numpy as np
    import pyspark.sql.functions as SF

    from pentaho_kettle_spark.functions.similarity import ivf_topk

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(300, 16)).astype(float)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(300)],
        "vec_id int, embedding array<double>",
    )
    queries = corpus.filter(SF.col("vec_id") < 5).select(
        SF.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_topk(corpus, queries, k=3, n_cells=8, n_probe=2)
    rows = out.collect()
    got = {}
    for r in rows:
        got.setdefault(r.query_id, []).append((r.vec_id, r.cosine))
    assert set(got) == {0, 1, 2, 3, 4}
    for qid, hits in got.items():
        assert len(hits) == 3
        # rank 1 is the query itself at cosine ~1
        assert hits[0][0] == qid and abs(hits[0][1] - 1.0) < 1e-9
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "BroadcastHashJoin" in plan


def test_connected_components_chain_and_islands(spark):
    """Min-label propagation with pointer jumping: a 6-node chain (worst
    case for plain propagation) resolves to one component in log rounds,
    islands stay separate."""
    from pentaho_kettle_spark.functions.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11), (20, 21), (21, 22)],
        "doc_id long, dup_of long",
    )
    got = {
        (r.node, r.component)
        for r in connected_components(pairs, "doc_id", "dup_of").collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1), (5, 1), (6, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }


def test_decontaminate_flags_overlap_and_reports_clean_docs(spark):
    from pentaho_kettle_spark.functions.dedup import decontaminate

    bench_text = "which us president signed the louisiana purchase treaty in april"
    corpus = spark.createDataFrame(
        [
            # verbatim benchmark leak
            (1, "trivia night answer which us president signed the louisiana purchase treaty in april of that year"),
            # clean doc, zero shared 5-grams
            (2, "spark shuffles partition data across executors using hash partitioning"),
            # shares words but no 5-gram run
            (3, "the president signed many a treaty but never in april or march"),
            # short doc (< k words): whole-text hash, no bench match
            (4, "short doc"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, bench_text)], "doc_id long, text string")

    out = decontaminate(corpus, bench, "text", "doc_id", k_shingle=5, min_hits=1)
    rows = {r.doc_id: r for r in out.collect()}
    # every corpus doc is reported, including zero-hit ones
    assert set(rows) == {1, 2, 3, 4}
    assert rows[1].contaminated == 1 and rows[1].n_hits >= 5
    assert rows[2].contaminated == 0 and rows[2].n_hits == 0
    assert rows[3].contaminated == 0 and rows[3].n_hits == 0
    assert rows[4].n_grams == 1 and rows[4].contaminated == 0
    assert abs(rows[1].hit_ratio - rows[1].n_hits / rows[1].n_grams) < 1e-6


def test_decontaminate_min_hits_threshold(spark):
    from pentaho_kettle_spark.functions.dedup import decontaminate

    bench = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        # exactly one shared 5-gram (two 5-grams exist in the doc; the first
        # matches the benchmark, the second does not)
        [(10, "alpha beta gamma delta epsilon omega")], "doc_id long, text string"
    )
    one = decontaminate(corpus, bench, k_shingle=5, min_hits=1).collect()[0]
    two = decontaminate(corpus, bench, k_shingle=5, min_hits=2).collect()[0]
    assert one.n_hits == 1 and one.contaminated == 1
    assert two.n_hits == 1 and two.contaminated == 0


def test_decontaminate_plan_broadcasts_benchmark(spark):
    # the benchmark gram set must stay on the broadcast side — a sort-merge
    # join here would shuffle the full exploded corpus by gram hash
    from pentaho_kettle_spark.functions.dedup import decontaminate

    corpus = spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("corpus doc number "), F.col("id"),
                 F.lit(" about spark shuffles and hash partitioning")).alias("text"),
    )
    bench = spark.range(0, 5).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("benchmark question "), F.col("id")).alias("text"),
    )
    out = decontaminate(corpus, bench, k_shingle=5, min_hits=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_gopher_quality_metrics_and_flag(spark):
    from pentaho_kettle_spark.functions.text import gopher_quality

    good = ("the quick brown fox jumps over the lazy dog and that is fine "
            "to be sure of it with more words here to cross fifty total "
            + " ".join(f"w{i}" for i in range(30)))
    docs = spark.createDataFrame(
        [
            (1, good),                                          # passes
            (2, "dup line\ndup line\ndup line\nunique one\nfin"),  # line dup
            (3, "foo bar foo bar foo bar foo bar foo bar"),      # 2-gram dup
            (4, "### ### ... ... ### symbols ..."),              # symbol heavy
            (5, ""),                                             # empty
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in gopher_quality(docs, min_words=10).collect()}
    assert out[1].gopher_pass == 1 and out[1].stop_hits >= 2
    # doc 2: 2 of 5 lines are repeats of an earlier line
    assert abs(out[2].dup_line_frac - 0.4) < 1e-6
    assert out[2].dup_line_char_frac > 0.5 and out[2].gopher_pass == 0
    # doc 3: "foo bar" occurs 5 times among 9 2-grams
    assert abs(out[3].top_2gram_share - 5 / 9) < 1e-5
    assert out[4].symbol_ratio > 0.1 and out[4].gopher_pass == 0
    assert out[5].n_words == 0 and out[5].gopher_pass == 0


def test_gopher_quality_zero_shuffle_plan(spark):
    from pentaho_kettle_spark.functions.text import gopher_quality
    from pentaho_kettle_spark.plans.explain import count_shuffles

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    assert count_shuffles(gopher_quality(docs)) == 0


def test_should_salt_cost_model():
    """Salting engages only when the hottest key's per-batch volume would
    dominate a reducer task (r6: the always-salt plan cost a second full
    exchange per batch that a mildly-hot log never earns back)."""
    from pyspark.sql import Row

    from pentaho_kettle_spark.cdc.skew import should_salt

    # cold: nothing detected
    assert not should_salt([], 0)
    # mildly hot: 0.5% share of a 2M-event log split 4 ways = ~2.5k rows
    rows = [Row(conv_id="c", turn_idx=0, count=100)]
    assert not should_salt(rows, 20000, sample_fraction=0.01, n_batches=4,
                           n_partitions=32)
    # genuinely hot: 25% share of a 40M-event log = 2.5M rows per batch,
    # 8x the average task's load — trips both the absolute floor and the
    # skew_factor bound
    rows = [Row(conv_id="c", turn_idx=0, count=100000)]
    assert should_salt(rows, 400000, sample_fraction=0.01, n_batches=4,
                       n_partitions=32)


def test_footer_ts_bounds_split_and_fallback(spark, tmp_path):
    """Parquet-backed logs get driver-side equi-depth bounds from footer
    stats (no Spark job); non-file plans return None (caller falls back)."""
    import datetime as dt

    from pentaho_kettle_spark.cdc.changelog import CHANGELOG_SCHEMA
    from pentaho_kettle_spark.cdc.replay import _footer_ts_bounds
    from pentaho_kettle_spark.fixtures import gen_changelog

    pdf = gen_changelog(4000, 100, seed=5)
    path = str(tmp_path / "log")
    df = spark.createDataFrame(pdf, schema=CHANGELOG_SCHEMA)
    df.repartitionByRange(4, "ingest_ts").sortWithinPartitions(
        "ingest_ts"
    ).write.parquet(path)
    log = spark.read.schema(CHANGELOG_SCHEMA).parquet(path)
    bounds = _footer_ts_bounds(log, 4)
    assert bounds is not None and len(bounds) == 3
    assert all(isinstance(b, dt.datetime) for b in bounds)
    assert bounds == sorted(bounds)
    # equi-depth within a row group: each chunk holds a sane share
    from pyspark.sql import functions as F
    n = log.count()
    first = log.filter(F.col("ingest_ts") <= F.lit(bounds[0])).count()
    assert 0 < first < n
    # non-file-backed plan -> None
    assert _footer_ts_bounds(df, 4) is None


def test_arrow_key_sample_rejects_derived_frames(spark, tmp_path):
    """The driver-side row-group sampler must only serve BARE parquet
    scans: a projected/filtered frame would silently sample pre-transform
    rows (r6 regression — pyarrow ignores missing columns instead of
    raising)."""
    from pyspark.sql import functions as F

    from pentaho_kettle_spark.cdc.skew import _arrow_key_sample

    path = str(tmp_path / "ev")
    spark.range(1000).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("v")
    ).write.parquet(path)
    scan = spark.read.parquet(path)
    # bare scan -> served
    r = _arrow_key_sample(scan, ["k"], 0.01, 10)
    assert r is not None and r[1] == 1000
    # derived column -> refused (falls back to the Spark sample)
    derived = scan.select(F.when(F.col("k") > 3, -1).otherwise(F.col("k")).alias("k2"), "v")
    assert _arrow_key_sample(derived, ["k2"], 0.01, 10) is None
    # filtered scan -> refused (rows would be wrong)
    assert _arrow_key_sample(scan.filter("v < 10"), ["k"], 0.01, 10) is None


def test_salt_estimate_uses_the_fraction_actually_sampled(spark, tmp_path):
    """A 20k-event one-file log whose hottest key holds half its events
    puts 10k rows of that key in a batch — far below SALT_MIN_KEY_ROWS, so
    salting must not engage. The row-group sampler reads the whole log, and
    the log size estimate must divide by that fraction (1.0), not by the
    Spark sample's nominal 1%, which inflated the log 100× to 2M events and
    salted it."""
    from pentaho_kettle_spark.cdc.skew import hot_key_counts, skewed_keys

    path = str(tmp_path / "log")
    spark.range(20_000).select(
        F.when(F.col("id") % 2 == 0, F.lit(-1)).otherwise(F.col("id")).alias("k")
    ).coalesce(1).write.parquet(path)
    log = spark.read.parquet(path)
    assert skewed_keys(log, ["k"]) is None
    rows, sampled_total, fraction = hot_key_counts(log, ["k"])
    assert rows[0]["k"] == -1 and rows[0]["count"] == 10_000
    assert sampled_total == 20_000 and fraction == 1.0

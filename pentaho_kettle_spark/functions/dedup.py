"""Deduplication for training-data pipelines: exact, MinHash+LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup.

Scale design notes:
  * Exact: hash-groupBy — one shuffle on a 64-bit hash, never on raw text.
  * MinHash+LSH: shingle → K minhashes → B bands → one window min per
    (band, bucket): each doc links to its bucket's smallest id, NOT an
    all-pairs join. This is the 100 TB path: Σ(bucket size − 1) ≤ B × docs
    star edges instead of n² pairs.
  * SimHash: 64-bit sign-aggregated shingle hashes; near-dups differ in few
    bits — banded by 16-bit chunks for candidate generation.
  * All shingling/hashing is Catalyst higher-order functions (transform /
    aggregate) — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pentaho_kettle_spark.functions import bind_once
from pentaho_kettle_spark.functions.portable import floor_round
from pentaho_kettle_spark.functions.text import fingerprint, normalize_text
from pentaho_kettle_spark.plans.spread import spread_for_compute

# 31-bit Mersenne prime: pmod(h, p) < 2^31 and coeff < 2^31 keep every
# intermediate product under 2^62 — no int64 overflow under ANSI mode.
_MERSENNE = (1 << 31) - 1


def _shingles(col: Column, k: int = 5, hash_fn=F.xxhash64) -> Column:
    """Word k-shingles → array of 64-bit hashes. `hash_fn` defaults to
    xxhash64 (fastest, the scale path); pass `portable.phash64` for runs that
    must be reproducible in engines without xxhash64 (the DuckDB oracle).
    The word array is bound once per row (`bind_once`), so the per-shingle
    lambda does not re-run the O(|text|) normalize+split per SHINGLE."""

    def _from_words(words: Column) -> Column:
        n = F.size(words)
        idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
        return F.when(n >= k,
            F.array_distinct(
                F.transform(idx, lambda i: hash_fn(F.concat_ws(" ", F.slice(words, i + 1, k))))
            ),
        ).otherwise(F.array(hash_fn(F.array_join(words, " "))))

    return bind_once(F.split(normalize_text(col), " "), _from_words)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one doc per normalized-text hash (lowest id wins — deterministic)."""
    return (
        df.withColumn("_h", fingerprint(F.col(text_col)))
        .groupBy("_h")
        .agg(F.min(F.col(id_col)).alias(id_col))
        .join(df, on=id_col, how="inner")
        .drop("_h")
    )


def _minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    import random

    rnd = random.Random(42)
    return [(rnd.randrange(1, _MERSENNE), rnd.randrange(0, _MERSENNE)) for _ in range(num_hashes)]


def minhash_signatures_exploded(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int, k_shingle: int,
    hash_fn=F.xxhash64,
) -> DataFrame:
    """Scale path: one row per doc with h0..h{n-1} minhash columns, computed
    by exploding shingle INDEXES and hash-aggregating per id — map-side
    partial mins shrink the shuffle to num_hashes longs per doc.

    The per-shingle slice+concat+hash runs on the exploded rows, NOT inside
    a higher-order-function lambda: HOF lambdas are CodegenFallback
    (interpreted per element), while Generate + Project whole-stage-codegen
    the identical expressions — measured 2.5-3.3x on the signature stage at
    sf1/32c (r6). `_shingles`'s per-doc array_distinct is deliberately NOT
    replicated: min() is insensitive to duplicate shingles, so the
    signatures are bit-identical (equality asserted against the HOF form
    for both xxhash64 and phash64 in tests), and skipping the distinct
    avoids materializing the per-doc hash array entirely. Short/null docs
    keep the exact `_shingles` semantics: greatest(n-k, 0) yields index 0,
    whose `otherwise` branch hashes the whole joined text."""
    k = k_shingle
    words = F.split(normalize_text(F.col(text_col)), " ")
    base = spread_for_compute(df, id_col).select(F.col(id_col), words.alias("_w"))
    n = F.size(F.col("_w"))
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    ex = base.select(F.col(id_col), F.col("_w"), F.explode(idx).alias("_i"))
    sh = F.when(
        F.size(F.col("_w")) >= k,
        hash_fn(F.concat_ws(" ", F.slice(F.col("_w"), F.col("_i") + 1, k))),
    ).otherwise(hash_fn(F.array_join(F.col("_w"), " ")))
    ex = ex.select(F.col(id_col), F.pmod(sh, F.lit(_MERSENNE)).alias("_sm"))
    aggs = [
        F.min((F.col("_sm") * a + b) % _MERSENNE).alias(f"h{i}")
        for i, (a, b) in enumerate(_minhash_coeffs(num_hashes))
    ]
    return ex.groupBy(id_col).agg(*aggs)


def _lsh_stars(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int, bands: int,
    k_shingle: int, hash_fn,
) -> DataFrame:
    """Banded MinHash LSH as star edges (id, dup_of): every doc that shares a
    (band, bucket) with a smaller id, linked to that bucket's min id.

    A window min over the banded rows instead of aggregate-then-self-join:
    the join form instantiates the whole shingle+signature subtree once per
    branch (Catalyst has no cross-branch reuse through an aggregate), so
    every signature was computed twice. One partition-by-bucket window
    keeps the subtree single-instance — fresh-plan noop wall at sf1.0/32c
    fell 3.1s → 1.7s (r6). Skew note: a pathological mega-bucket funnels
    into one window task, but the join form's shuffle keyed the same
    (band, bucket) pair to one task too — no robustness lost."""
    rows_per_band = num_hashes // bands
    with_sig = minhash_signatures_exploded(df, text_col, id_col, num_hashes, k_shingle, hash_fn)
    band_rows = with_sig.select(
        id_col,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    hash_fn(
                        F.concat_ws(",", *[
                            F.col(f"h{b * rows_per_band + r}").cast("string")
                            for r in range(rows_per_band)
                        ])
                    ).alias("bucket"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")
    w = Window.partitionBy("band", "bucket")
    return (
        band_rows.withColumn("_rep", F.min(id_col).over(w))
        .filter(F.col(id_col) != F.col("_rep"))
        .select(F.col(id_col), F.col("_rep").alias("dup_of"))
    )


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    k_shingle: int = 5,
    hash_fn=F.xxhash64,
) -> DataFrame:
    """Near-duplicate clusters via banded MinHash LSH. Returns (id, dup_of)
    pairs where dup_of is the smallest id sharing a band bucket (candidate
    near-dup). Union-find over connected components is left to the caller
    (or iterate pairs→min-label to convergence for full clustering)."""
    stars = _lsh_stars(df, text_col, id_col, num_hashes, bands, k_shingle, hash_fn)
    return stars.groupBy(id_col).agg(F.min("dup_of").alias("dup_of"))


def minhash_lsh_edges(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    k_shingle: int = 5,
    hash_fn=F.xxhash64,
) -> DataFrame:
    """Candidate near-dup EDGES (id, rep) — one star per LSH bucket, rooted
    at the bucket's min id. Same banding as minhash_lsh_dedup but without
    the final per-id min, so the full co-bucket relation survives for
    clustering: two docs share a component iff a bucket chain links them.
    Edge count is Σ(bucket size − 1) ≤ bands × docs — linear, never the
    quadratic all-pairs within a bucket."""
    return _lsh_stars(df, text_col, id_col, num_hashes, bands, k_shingle, hash_fn).distinct()


def connected_components(
    pairs: DataFrame,
    src: str = "doc_id",
    dst: str = "dup_of",
    max_rounds: int = 50,
) -> DataFrame:
    """Cluster near-dup pairs into components: (node, component) where
    component = the min node id reachable — the step between LSH candidate
    pairs and "keep one canonical doc per duplicate cluster".

    Min-label propagation WITH pointer jumping (label ← label's label each
    round, the hash-to-min trick): rounds grow with log(diameter), not
    diameter, so a 10^9-node near-dup graph (diameter rarely > a few
    hundred) converges in ≤ ~10 rounds of 3 shuffles each. Per round the
    lineage is truncated (localCheckpoint) exactly like closure_generator
    — iterative plans otherwise nest past the planner's depth. The
    convergence check is one bounded count() per round (driver scalar)."""
    edges = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    edges = (
        edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        nl = (
            edges.join(labels, edges["b"] == labels["node"])
            .groupBy("a")
            .agg(F.min("label").alias("_nl"))
            .withColumnRenamed("a", "node")
        )
        merged = labels.join(nl, on="node", how="left").select(
            "node",
            F.least(F.col("label"), F.coalesce(F.col("_nl"), F.col("label"))).alias("label"),
        )
        lab2 = merged.select(F.col("node").alias("_n2"), F.col("label").alias("_l2"))
        jumped = (
            merged.join(lab2, merged["label"] == lab2["_n2"], how="left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("_l2"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            jumped.alias("j")
            .join(labels.alias("o"), on="node")
            .filter(F.col("j.label") != F.col("o.label"))
            .count()
        )
        labels = jumped
        if changed == 0:
            break
    return labels.select(F.col("node"), F.col("label").alias("component"))


def minhash_lsh_keep(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", **kw) -> DataFrame:
    """Convenience: drop near-duplicates, keeping each cluster's smallest id."""
    dups = minhash_lsh_dedup(df, text_col, id_col, **kw)
    return df.join(dups.select(id_col), on=id_col, how="left_anti")


def simhash_table(
    df: DataFrame, text_col: str, id_col: str, k_shingle: int = 3,
    hash_fn=F.xxhash64, n_bits: int = 64,
) -> DataFrame:
    """64-bit SimHash per doc: explode shingles, per-bit ±1 vote sums as 64
    hash-agg columns (all shift amounts are literals → whole-stage codegen),
    then reassemble the sign pattern into one long. Map-side partial sums
    make the shuffle 64 longs per doc regardless of doc length."""
    ex = spread_for_compute(df, id_col).select(
        F.col(id_col), F.explode(_shingles(F.col(text_col), k_shingle, hash_fn)).alias("_s")
    )
    votes = [
        F.sum(
            F.when(F.shiftrightunsigned(F.col("_s"), b).bitwiseAND(F.lit(1)) != 0, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(n_bits)
    ]
    agg = ex.groupBy(id_col).agg(*votes)
    out = F.lit(0).cast("long")
    for b in range(n_bits):
        bitval = F.lit(1 << b if b < 63 else -(1 << 63)).cast("long")
        out = out.bitwiseOR(F.when(F.col(f"v{b}") > 0, bitval).otherwise(F.lit(0).cast("long")))
    return agg.select(F.col(id_col), out.alias("simhash"))


def simhash_hamming(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_candidates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", max_hamming: int = 3,
    hash_fn=F.xxhash64, n_bits: int = 64, n_chunks: int = 4,
) -> DataFrame:
    """Candidate near-dup pairs: band the n_bits simhash into n_chunks chunks
    (pigeonhole: ≤ n_chunks-1 differing bits ⇒ ≥1 identical chunk),
    bucket-join, then verify by full hamming distance."""
    chunk_bits = n_bits // n_chunks
    mask = (1 << chunk_bits) - 1
    # materialized once: the self-join below instantiates `chunks` twice
    # (l/r), which without this recomputes the full shingle+vote subtree
    # per side (see minhash_lsh_dedup). Not free to build: under AQE a
    # non-eager local checkpoint runs the shuffle map stage of the spread
    # exchange below it when the DataFrame is built, one job that scans
    # `df` and writes the spread shuffle (measured with a job group: 1 job
    # of 1 task at sf0.001 and sf0.01). The shingle+vote subtree runs at the
    # first action; over an input that needs no spread, building runs none.
    base = simhash_table(df, text_col, id_col, hash_fn=hash_fn, n_bits=n_bits)\
        .withColumnRenamed("simhash", "_sh").localCheckpoint(eager=False)
    chunks = base.select(
        id_col,
        "_sh",
        F.explode(
            F.array(*[
                F.struct(F.lit(i).alias("chunk"),
                         F.shiftrightunsigned(F.col("_sh"), i * chunk_bits).bitwiseAND(F.lit(mask)).alias("v"))
                for i in range(n_chunks)
            ])
        ).alias("cc"),
    ).select(id_col, "_sh", "cc.chunk", "cc.v")
    l, r = chunks.alias("l"), chunks.alias("r")
    pairs = (
        l.join(r, (F.col("l.chunk") == F.col("r.chunk")) & (F.col("l.v") == F.col("r.v"))
               & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"),
                simhash_hamming(F.col("l._sh"), F.col("r._sh")).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 3,
    min_jaccard: float = 0.8,
    max_shingles_per_doc: int = 512,
    hash_fn=F.xxhash64,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over LSH-free inverted-index candidates: explode
    shingles → co-occurrence counts per pair → |A∩B| / (|A|+|B|-|A∩B|).
    The shingle cap bounds the explode fan-out (log what was dropped at call
    sites). Suited to verifying LSH candidates or small-to-medium corpora;
    at full scale run it on minhash_lsh candidates only.

    `max_doc_freq` drops STOP-SHINGLES — shingles appearing in more than
    that many documents — before the self-join (one cheap groupBy + a
    broadcast anti-join; the hot set is small by construction). Without it a
    corpus-ubiquitous trigram makes one quadratic join bucket: the pair
    count of a shingle with document frequency f is f·(f−1)/2. Jaccard is
    then computed over the RETAINED shingle universe (per-doc sizes
    recomputed after the filter), i.e. standard stop-word-removed
    similarity — deterministic and mirrored exactly by the SQL oracle."""
    # sort before capping: "the max_shingles smallest shingle hashes" is a
    # deterministic, engine-independent subset (array_distinct order is not)
    sh = F.slice(F.array_sort(_shingles(F.col(text_col), k_shingle, hash_fn)), 1, max_shingles_per_doc)
    # materialized once: `ex` below is instantiated up to four times (stop-
    # shingle count, per-doc sizes, and both sides of the self-join) — the
    # shingle arrays must not be recomputed per instantiation. Building it
    # runs the spread exchange's shuffle map stage, as in simhash_candidates
    # (1 job of 1 task at sf0.001 and sf0.01); the shingling runs later.
    base = spread_for_compute(df, id_col).select(F.col(id_col), sh.alias("_sh")).withColumn(
        "_n", F.size("_sh")
    ).localCheckpoint(eager=False)
    ex = base.select(id_col, "_n", F.explode("_sh").alias("_s"))
    if max_doc_freq is not None:
        hot = (
            ex.groupBy("_s")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_doc_freq)
            .select("_s")
        )
        ex = ex.join(F.broadcast(hot), "_s", "left_anti")
        # per-doc sizes over the retained universe (one extra exploded-volume
        # shuffle — only paid when the stop-shingle cap is requested)
        sizes = ex.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n2"))
        ex = ex.drop("_n").join(sizes, id_col).withColumnRenamed("_n2", "_n")
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(b, (F.col("a._s") == F.col("b._s")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"),
                 F.col("a._n").alias("na"), F.col("b._n").alias("nb"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = inter.withColumn(
        "jaccard", floor_round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6)
    )
    return jac.filter(F.col("jaccard") >= min_jaccard).select("id_a", "id_b", "jaccard")


def decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 8,
    min_hits: int = 1,
    hash_fn=F.xxhash64,
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share at
    least `min_hits` distinct word k-grams with any document in `bench`
    (the held-out eval/test corpus). This is the standard training-data
    hygiene pass (n-gram overlap decontamination as published in the GPT-3
    appendix-C / Llama-2 methodology; 8-13 word grams are the common
    settings).

    Scale shape — the benchmark side is small by definition, the corpus is
    the 100 TB side:

      bench  → distinct k-gram hashes (tiny)              → broadcast
      corpus → per-row shingle arrays (no shuffle)
             → explode → broadcast LEFT probe (hit / miss per gram)
             → groupBy(doc) count  — the ONLY shuffle, and its input is
               map-side combined to one row per (partition, doc)

    Cost is one pass over corpus shingles plus an O(1) hash probe per
    gram; no pairwise joins anywhere, so the plan survives any corpus
    size. Every corpus doc appears in the output (zero-hit docs included —
    a decontamination report must prove absence, not just list hits).

    Returns (id_col, n_grams, n_hits, hit_ratio, contaminated):
      n_grams      distinct k-grams in the doc (whole-text hash if < k words)
      n_hits       of those, how many occur anywhere in the benchmark
      hit_ratio    n_hits / n_grams, floor-rounded to 6 dp (oracle-stable)
      contaminated 1 when n_hits >= min_hits else 0
    """
    bench_grams = (
        bench.select(F.explode(_shingles(F.col(text_col), k_shingle, hash_fn)).alias("_s"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    base = spread_for_compute(docs, id_col).select(
        F.col(id_col), _shingles(F.col(text_col), k_shingle, hash_fn).alias("_sh")
    )
    ex = base.select(id_col, F.size("_sh").alias("_n"), F.explode("_sh").alias("_s"))
    # _sh is distinct per doc and bench_grams is distinct, so each (doc,
    # gram) row matches at most once: sum(_hit) == distinct matched grams
    hits = (
        ex.join(F.broadcast(bench_grams), "_s", "left")
        .groupBy(id_col, "_n")
        .agg(F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_hits"))
    )
    return hits.select(
        F.col(id_col),
        F.col("_n").cast("long").alias("n_grams"),
        F.col("n_hits").cast("long").alias("n_hits"),
        floor_round(F.col("n_hits") / F.col("_n"), 6).alias("hit_ratio"),
        (F.col("n_hits") >= min_hits).cast("long").alias("contaminated"),
    )


def embedding_cosine_near_dups(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    min_cosine: float = 0.95,
    n_lsh_planes: int = 12,
    dim: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs via random-hyperplane LSH bucketing + exact
    cosine verify inside buckets (see functions/similarity.py for the
    plane construction). Pass `dim` to keep the plan fully lazy (otherwise a
    one-row driver sniff reads it)."""
    from pentaho_kettle_spark.functions.similarity import (
        dot_expr,
        hyperplane_bucket,
        norm_expr,
        vector_dim,
    )

    if dim is None:
        dim = vector_dim(df, vec_col)
    # spread: the in-bucket pair count is ~|bucket|² per bucket — compute
    # volume far above the input bytes — and the scoring join's streaming
    # side inherits the partitioning materialized here. A single-row-group
    # parquet input would otherwise score every pair on one core (measured
    # 36 s → 3 s at 32 cores for 3.4M pairs, sf1).
    base = spread_for_compute(df.select(F.col(id_col), F.col(vec_col)), id_col)
    # materialized once: the self-join instantiates `bucketed` twice, which
    # would run the n_planes dot products per side. The vector norm rides
    # along (one fold per ROW, materialized), so each of the quadratically
    # many in-bucket PAIRS pays a single dot product instead of dot + two
    # re-derived norms — same doubles, same ops, bit-identical cosines.
    # Building it runs the spread exchange's shuffle map stage, as in
    # simhash_candidates (1 job of 1 task at sf0.001 and sf0.01); the dot
    # products run at the first action.
    bucketed = base.withColumn(
        "_bkt", hyperplane_bucket(F.col(vec_col), dim, n_lsh_planes)
    ).withColumn("_nrm", norm_expr(F.col(vec_col))).localCheckpoint(eager=False)
    a, b = bucketed.alias("a"), bucketed.alias("b")
    cos = dot_expr(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")) / (
        F.col("a._nrm") * F.col("b._nrm")
    )
    pairs = (
        a.join(b, (F.col("a._bkt") == F.col("b._bkt")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            floor_round(cos, 5).alias("cosine"),
        )
        .filter(F.col("cosine") >= min_cosine)
    )
    return pairs

"""Text analysis for training-data pipelines (brief mandate): language ID,
quality scoring, token counting, document fingerprinting. All pure Catalyst
expressions over the `documents` table — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pentaho_kettle_spark.functions import bind_once
from pentaho_kettle_spark.functions.portable import floor_round

_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that",
    "for", "on", "with", "as", "was", "at", "by", "be", "this",
]

# crude n-gram/function-word heuristic profiles per language
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "la", "los", "que", "es"],
}


def token_count(col: Column) -> Column:
    """Whitespace + BPE-ish token estimate: words + punctuation marks counted
    separately (a cheap stand-in for a real tokenizer at survey fidelity)."""
    words = F.size(F.split(F.trim(col), r"\s+"))
    punct = F.length(F.regexp_replace(col, r"[^\.,;:!\?\(\)\[\]]", ""))
    return (words + punct).cast("long")


def normalize_text(col: Column) -> Column:
    """Trimmed, lower-cased, whitespace runs collapsed to one space — the
    text that fingerprints and shingles hash."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def fingerprint(col: Column, hash_fn=F.xxhash64) -> Column:
    """Document fingerprint: 64-bit hash of the normalized text (rolling-hash
    equivalent at document granularity; shingle-level hashing lives in
    functions/dedup.py). `hash_fn=portable.phash64` gives a DuckDB-
    reproducible fingerprint for oracle runs."""
    return hash_fn(normalize_text(col))


def add_text_features(df: DataFrame, text_col: str = "text", hash_fn=F.xxhash64) -> DataFrame:
    """Token count, quality score, language id and fingerprint in one pass.

    `quality` is a length / punctuation / stopword-ratio composite in
    [0, 1], floor-rounded to 6 dp; `lang_pred` is a function-word vote →
    2-letter code or 'und'. Separate per-feature expressions would each
    re-split the text per referencing expression — Catalyst CSE does not
    fire across higher-order-function trees — so the shared lowercase word
    array is evaluated ONCE per row into a struct in its own projection,
    and every word-derived term reads a struct field (same binding fix as
    gopher_quality; measured 8.5 → ~4 s per 50 k sf1 docs)."""
    c = F.col(text_col)
    lower_words = F.split(F.lower(c), r"\s+")

    def _word_metrics(ws):
        return F.struct(
            F.size(ws).cast("double").alias("n_words"),
            F.size(F.filter(ws, lambda w: w.isin(*_STOPWORDS)))
            .cast("double")
            .alias("stop_hits"),
            *[
                F.size(F.filter(ws, lambda w: w.isin(*markers))).alias(f"hits_{lang}")
                for lang, markers in _LANG_MARKERS.items()
            ],
        )

    stats = df.withColumn("_tw", bind_once(lower_words, _word_metrics))
    m = F.col("_tw")
    n_words = m["n_words"]
    stop_hits = m["stop_hits"]

    # quality score over the bound fields
    length = F.length(c).cast("double")
    stop_ratio = F.when(n_words > 0, stop_hits / n_words).otherwise(F.lit(0.0))
    punct_ratio = F.length(F.regexp_replace(c, r"[a-zA-Z0-9\s]", "")) / F.greatest(
        length, F.lit(1.0)
    )
    len_score = F.least(length / F.lit(500.0), F.lit(1.0))
    avg_word = F.when(n_words > 0, length / n_words).otherwise(F.lit(0.0))
    word_score = F.when((avg_word >= 3) & (avg_word <= 12), F.lit(1.0)).otherwise(
        F.lit(0.3)
    )
    raw = (
        0.4 * len_score + 0.2 * (1 - F.least(punct_ratio * 4, F.lit(1.0)))
        + 0.2 * F.least(stop_ratio * 5, F.lit(1.0)) + 0.2 * word_score
    )
    quality = floor_round(raw, 6)

    # language id: struct-vote over the bound per-language hits
    scores = [
        F.struct(m[f"hits_{lang}"].alias("hits"), F.lit(lang).alias("lang"))
        for lang in _LANG_MARKERS
    ]
    best = F.array_max(F.array(*scores))
    lang_pred = F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))

    return (
        stats.withColumn("n_tokens", token_count(c))
        .withColumn("quality", quality)
        .withColumn("lang_pred", lang_pred)
        .withColumn("fingerprint", fingerprint(c, hash_fn=hash_fn))
        .drop("_tw")
    )


# PII redaction patterns, ordered: email first (contains dots/digits that
# later families could nibble), then SSN (3-2-4) before phone (3-3-4 —
# disjoint shapes, but explicit order makes that irrelevant), IP last.
# Every pattern sticks to the regex subset where Java regex (Spark) and
# RE2 (DuckDB) agree: character classes, bounded repeats, \b, (…) groups —
# no lookaround, no backrefs.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}-\d{3}-\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b(\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
]


def redact_pii(col: Column, families: tuple = ("email", "ssn", "phone", "ipv4")) -> Column:
    """Scrub PII from free text before it enters a training corpus: chained
    Catalyst regexp_replace (JVM, codegen — no Python in the path), one
    pass per enabled family, replacement tokens preserved so downstream
    dedup/quality stages see stable text."""
    out = col
    for name, pat, tok in PII_PATTERNS:
        if name in families:
            out = F.regexp_replace(out, pat, tok)
    return out


def pii_hit_counts(col: Column) -> Column:
    """Struct of per-family match counts — the audit twin of redact_pii
    (how much PII a corpus slice carries, without materializing it)."""
    return F.struct(
        *[
            F.size(F.regexp_extract_all(col, F.lit(pat), F.lit(0))).alias(name)
            for name, pat, _ in PII_PATTERNS
        ]
    )


# Gopher quality-filter thresholds (Rae et al. 2021, "Scaling Language
# Models: Methods, Analysis & Insights from Training Gopher", table A1 —
# the published web-text repetition/quality rules).
GOPHER_DEFAULTS = dict(
    min_words=50,
    max_words=100_000,
    min_mean_word_len=3.0,
    max_mean_word_len=10.0,
    max_symbol_ratio=0.1,
    min_alpha_word_frac=0.8,
    min_stop_hits=2,
    max_dup_line_frac=0.30,
    max_dup_line_char_frac=0.20,
    max_top_2gram_share=0.20,
)

_GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **thresholds,
) -> DataFrame:
    """Gopher-style repetition/quality filtering (Rae et al. 2021 §A1.1):
    per-document word-shape stats, duplicate-line repetition metrics, and
    the most-frequent-2-gram share, plus a `gopher_pass` flag that ANDs the
    published thresholds (overridable per call — the corpus-specific knobs
    the paper tunes).

    Scale shape: ZERO shuffles. Every metric is a Catalyst expression over
    the row itself — the repetition metrics avoid the naive O(lines²)
    occurrence count by `array_sort`ing once and comparing neighbours
    (duplicates are adjacent in a sorted array), and the top-2-gram count
    is the longest equal-run in the sorted gram array, folded with a
    struct-accumulator `aggregate`. The whole job is scan → project →
    write: embarrassingly parallel at any corpus size, no Python anywhere.

    Returns (id_col, n_words, mean_word_len, frac_alpha_words,
    symbol_ratio, stop_hits, n_lines, dup_line_frac, dup_line_char_frac,
    top_2gram_share, gopher_pass). Ratios are floor-rounded to 6 dp so the
    DuckDB oracle twin (oracle_sqlgen.gopher_quality_sql) matches exactly;
    `dup_line_frac` counts repeat occurrences of an earlier line (extras),
    `dup_line_char_frac` counts characters in ALL members of duplicated
    line groups, per the paper's wording.
    """
    th = {**GOPHER_DEFAULTS, **thresholds}
    c = F.col(text_col)

    words = F.filter(F.split(F.lower(F.trim(c)), r"\s+"), lambda w: w != "")
    nonspace_chars = F.length(F.regexp_replace(c, r"\s", "")).cast("double")
    symbols = F.size(F.regexp_extract_all(c, F.lit(r"(#|\.\.\.)"), F.lit(0)))

    # duplicate-line metrics: sort once, duplicates become adjacent
    lines = F.array_sort(
        F.filter(F.split(c, "\n"), lambda x: F.trim(x) != "")
    )

    def _line_metrics(ls):
        prev_eq = F.transform(ls, lambda x, i: x.eqNullSafe(F.get(ls, i - 1)))
        next_eq = F.transform(ls, lambda x, i: x.eqNullSafe(F.get(ls, i + 1)))
        extras = F.aggregate(
            F.zip_with(prev_eq, ls, lambda p, x: p.cast("int")),
            F.lit(0), lambda a, x: a + x,
        )
        member_chars = F.aggregate(
            F.zip_with(
                F.zip_with(prev_eq, next_eq, lambda p, n: p | n),
                ls,
                lambda dup, x: F.when(dup, F.length(x)).otherwise(F.lit(0)),
            ),
            F.lit(0), lambda a, x: a + x,
        )
        total_chars = F.aggregate(
            F.transform(ls, F.length), F.lit(0), lambda a, x: a + x
        )
        return F.struct(
            F.size(ls).alias("n"),
            extras.alias("extras"),
            member_chars.alias("member_chars"),
            total_chars.alias("total_chars"),
        )

    # top-2-gram share: longest equal run in the sorted gram array —
    # words and the gram array are each bound once (bind_once)
    def _word_metrics(ws):
        grams = F.array_sort(
            F.transform(
                F.slice(ws, 1, F.greatest(F.size(ws) - 1, F.lit(0))),
                lambda x, i: F.concat(x, F.lit(" "), F.get(ws, i + 1)),
            )
        )

        def _top_run(gs):
            return F.struct(
                F.size(gs).alias("n"),
                F.aggregate(
                    gs,
                    F.struct(
                        F.lit(None).cast("string").alias("prev"),
                        F.lit(0).alias("cur"),
                        F.lit(0).alias("best"),
                    ),
                    lambda acc, x: F.struct(
                        x.alias("prev"),
                        F.when(x.eqNullSafe(acc["prev"]), acc["cur"] + 1)
                        .otherwise(F.lit(1))
                        .alias("cur"),
                        F.greatest(
                            acc["best"],
                            F.when(x.eqNullSafe(acc["prev"]), acc["cur"] + 1)
                            .otherwise(F.lit(1)),
                        ).alias("best"),
                    ),
                    lambda acc: acc["best"],
                ).alias("top"),
            )

        return F.struct(
            F.size(ws).alias("n"),
            F.size(F.filter(ws, lambda w: w.rlike("[a-zA-Z]"))).alias("alpha"),
            F.size(
                F.array_intersect(
                    ws, F.array(*[F.lit(s) for s in _GOPHER_STOPS])
                )
            ).alias("stop_hits"),
            bind_once(grams, _top_run).alias("gram"),
        )

    # ONE evaluation of the text → words/lines pipelines per row (second
    # half of the r6 binding fix): every word- and line-derived metric is a
    # field of a single struct computed in its own projection. The field
    # extractions live in a SEPARATE projection over the struct attribute —
    # CollapseProject leaves the pair alone because the struct alias is
    # non-cheap and referenced many times, so split/lower/sort run once per
    # row instead of once per referencing output column.
    metrics = F.struct(
        bind_once(words, _word_metrics).alias("w"),
        bind_once(lines, _line_metrics).alias("l"),
        nonspace_chars.alias("nonspace"),
        symbols.alias("symbols"),
    )
    stats = df.select(F.col(id_col), metrics.alias("_m"))

    m = F.col("_m")
    n_words = m["w"]["n"].cast("long")
    mean_word_len = F.when(
        n_words > 0, floor_round(m["nonspace"] / n_words, 6)
    ).otherwise(F.lit(0.0))
    frac_alpha = F.when(
        n_words > 0, floor_round(m["w"]["alpha"] / n_words, 6)
    ).otherwise(F.lit(0.0))
    symbol_ratio = F.when(
        n_words > 0, floor_round(m["symbols"] / n_words, 6)
    ).otherwise(F.lit(0.0))
    stop_hits = m["w"]["stop_hits"].cast("long")
    n_lines = m["l"]["n"].cast("long")
    dup_line_frac = F.when(
        n_lines > 0, floor_round(m["l"]["extras"] / n_lines, 6)
    ).otherwise(F.lit(0.0))
    dup_line_char_frac = F.when(
        m["l"]["total_chars"] > 0,
        floor_round(m["l"]["member_chars"] / m["l"]["total_chars"], 6),
    ).otherwise(F.lit(0.0))
    n_grams = m["w"]["gram"]["n"]
    top_share = F.when(
        n_grams > 0, floor_round(m["w"]["gram"]["top"] / n_grams, 6)
    ).otherwise(F.lit(0.0))

    out = stats.select(
        F.col(id_col),
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        frac_alpha.alias("frac_alpha_words"),
        symbol_ratio.alias("symbol_ratio"),
        stop_hits.alias("stop_hits"),
        n_lines.alias("n_lines"),
        dup_line_frac.alias("dup_line_frac"),
        dup_line_char_frac.alias("dup_line_char_frac"),
        top_share.alias("top_2gram_share"),
    )
    passes = (
        (F.col("n_words") >= th["min_words"])
        & (F.col("n_words") <= th["max_words"])
        & (F.col("mean_word_len") >= th["min_mean_word_len"])
        & (F.col("mean_word_len") <= th["max_mean_word_len"])
        & (F.col("symbol_ratio") <= th["max_symbol_ratio"])
        & (F.col("frac_alpha_words") >= th["min_alpha_word_frac"])
        & (F.col("stop_hits") >= th["min_stop_hits"])
        & (F.col("dup_line_frac") <= th["max_dup_line_frac"])
        & (F.col("dup_line_char_frac") <= th["max_dup_line_char_frac"])
        & (F.col("top_2gram_share") <= th["max_top_2gram_share"])
    )
    return out.withColumn("gopher_pass", passes.cast("long"))

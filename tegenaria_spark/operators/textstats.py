"""Text analysis operators: language-ID, quality scoring, token
counting, document fingerprinting.

All four are expressed with built-in ``pyspark.sql.functions`` (regex /
string expressions inside whole-stage codegen) — no Python in the hot
path — except the rolling-hash fingerprint, which shares the XXH64 twin
used everywhere else.  Integer outputs throughout so the DuckDB oracles
compare exactly (no float-boundary flakiness).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# stopword marker sets per language — tiny and deliberately simple so
# the rule is implementable identically in ANSI SQL for the oracle
_LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " with "],
    "fr": [" le ", " la ", " les "],
    "de": [" der ", " und ", " das "],
    "es": [" el ", " los ", " una "],
}


def lang_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """First-match n-gram/stopword heuristic; 'other' when nothing hits."""
    t = F.concat(F.lit(" "), F.lower(F.col(text_col)), F.lit(" "))
    expr = F.lit("other")
    for lang in reversed(list(_LANG_MARKERS)):
        hit = None
        for m in _LANG_MARKERS[lang]:
            c = t.contains(m)
            hit = c if hit is None else (hit | c)
        expr = F.when(hit, F.lit(lang)).otherwise(expr)
    return docs.select(F.col(id_col).alias("doc_id"), expr.alias("lang_guess"))


def quality_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Length/punctuation/stopword quality signals (all integers)."""
    t = F.col(text_col)
    words = F.filter(F.split(t, " "), lambda w: w != "")
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.length(t).alias("n_chars"),
        F.size(words).alias("n_words"),
        F.length(F.regexp_replace(t, "[^.!?,;:]", "")).alias("n_punct"),
        F.size(F.filter(words, lambda w: F.lower(w).isin("the", "a", "and", "of", "to"))).alias(
            "n_stopwords"
        ),
        F.size(F.array_distinct(F.transform(words, F.lower))).alias("n_distinct_words"),
    )


def token_counts(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace tokens + a BPE-ish segment count (letter runs, digit
    runs, and single punctuation marks — the pre-tokenizer shape most
    BPE vocabularies assume)."""
    t = F.col(text_col)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.filter(F.split(t, "\\s+"), lambda w: w != "")).alias("n_ws_tokens"),
        F.regexp_count(t, F.lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).alias("n_bpe_segments"),
    )


def repetition_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1 "repetition
    removal"), the standard quality gate between a crawl and a training
    set: documents dominated by one word or by repeated phrases are
    SEO spam / boilerplate, not prose.

    Per document (all integer parts-per-million — no float compares):
      - ``dup_word_ppm``     1 − distinct/total words
      - ``top_word_ppm``     share of the single most frequent word
      - ``dup_bigram_ppm``   1 − distinct/total word bigrams

    Plan shape (100 TB): ONE map-only Arrow pass — every signal is a
    per-document statistic, so no shuffle is fundamentally required
    (guide §1.1).  r6: the old plan exploded the token stream through
    two word-mode exchanges and built bigrams with an interpreted
    Catalyst higher-order transform; a vectorized ``mapInArrow``
    tokenizer (C-level split + one Counter pass per doc) computes all
    five counters in a single pipeline stage with zero exchanges.
    Measured once, at sf0.1 on ``local[32]``: the query went from
    3.2 s to 0.5-0.6 s.  The pass moves tokenizing from JVM codegen to
    Python workers, so it trades CPU for Arrow boundary cost; no other
    scale was measured.
    """
    import pyarrow as pa
    import pandas as pd

    def stats(batches):
        from collections import Counter

        for batch in batches:
            pdf = batch.to_pandas()
            n_words, n_bg, n_bg_d, n_distinct, top_cnt = [], [], [], [], []
            for txt in pdf["_t"]:
                ws = [w for w in (txt or "").lower().split(" ") if w]
                wc = Counter(ws)
                n_words.append(len(ws))
                n_distinct.append(len(wc))
                top_cnt.append(max(wc.values()) if wc else 0)
                if len(ws) >= 2:
                    bgs = {(ws[i], ws[i + 1]) for i in range(len(ws) - 1)}
                    n_bg.append(len(ws) - 1)
                    n_bg_d.append(len(bgs))
                else:
                    n_bg.append(0)
                    n_bg_d.append(0)
            yield pa.RecordBatch.from_pandas(
                pd.DataFrame(
                    {
                        "doc_id": pdf["_id"],
                        "n_words": pd.Series(n_words, dtype="int64"),
                        "_n_bg": pd.Series(n_bg, dtype="int64"),
                        "_n_bg_distinct": pd.Series(n_bg_d, dtype="int64"),
                        "_n_distinct": pd.Series(n_distinct, dtype="int64"),
                        "_top_cnt": pd.Series(top_cnt, dtype="int64"),
                    }
                )
            )

    from tegenaria_spark.operators.curation import spread_to_parallelism

    j = spread_to_parallelism(
        docs.select(F.col(id_col).cast("long").alias("_id"), F.col(text_col).alias("_t"))
    ).mapInArrow(
        stats,
        "doc_id long, n_words long, _n_bg long, _n_bg_distinct long, "
        "_n_distinct long, _top_cnt long",
    )
    # exact integer floor division (`div`, never float `/`): ppm values
    # must be bit-identical to the oracle's `//`
    return j.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.expr(
            "coalesce(if(n_words > 0, ((cast(n_words as bigint) - coalesce(_n_distinct, 0))"
            " * 1000000L) div n_words, 0L), 0L)"
        ).alias("dup_word_ppm"),
        F.expr(
            "coalesce(if(n_words > 0, (coalesce(_top_cnt, 0) * 1000000L) div n_words,"
            " 0L), 0L)"
        ).alias("top_word_ppm"),
        F.expr(
            "coalesce(if(_n_bg > 0, ((cast(_n_bg as bigint) - _n_bg_distinct) * 1000000L)"
            " div _n_bg, 0L), 0L)"
        ).alias("dup_bigram_ppm"),
    )


def py_winnow_fp(text: str, window: int = 8, stride: int = 4) -> int:
    """Oracle twin of :func:`winnow_fp_col`: min XXH64 over char windows."""
    from tegenaria_spark.functions.xxh64 import xxh64_str

    t = text or ""
    if len(t) <= window:
        return xxh64_str(t)
    return min(xxh64_str(t[i : i + window]) for i in range(0, len(t) - window + 1, stride))


def winnow_fp_col(text, window: int = 8, stride: int = 4):
    """Winnowing-style fingerprint: min rolling-hash over char windows —
    entirely JVM-side (the old pandas UDF called a pure-Python XXH64
    per window).  ``sequence`` generates the window start offsets,
    ``transform`` + built-in ``xxhash64`` hashes each window inside
    whole-stage codegen, ``array_min`` winnows."""
    t = F.col(text) if isinstance(text, str) else text
    starts = F.sequence(F.lit(0), F.length(t) - window, F.lit(stride))
    hashes = F.transform(starts, lambda i: F.xxhash64(F.substring(t, i + 1, window)))
    return F.when(F.length(t) <= window, F.xxhash64(t)).otherwise(F.array_min(hashes))


def doc_fingerprints(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    t = F.coalesce(F.col(text_col), F.lit(""))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        # hash the null-coalesced column: Spark's xxhash64(NULL) returns
        # the seed (42) while the twin hashes '' — NULL text must agree
        F.xxhash64(t).alias("content_hash"),
        winnow_fp_col(t).alias("winnow_fp"),
    )


# PII patterns — deliberately restricted to a regex subset with
# IDENTICAL semantics in Java regex (Spark) and RE2 (DuckDB oracle):
# char classes, +, bounded repeats, \b.  No backrefs, no lookaround.
_PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b", "<PHONE>"),
    ("ip", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
]


def pii_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """PII detection + redaction (emails, NANP-style phone numbers,
    IPv4 addresses) — the privacy scrub every public-crawl training
    pipeline runs before release.  Counts are taken on the ORIGINAL
    text; ``redacted`` applies the replacements in declaration order
    (email → phone → ip).  Pure Catalyst (`regexp_count` /
    `regexp_replace` inside codegen) — zero shuffle, zero Python;
    at 100 TB this is a map-only pass that pipelines into the scan.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    counts = [
        F.regexp_count(t, F.lit(pat)).cast("long").alias(f"n_{name}s")
        for name, pat, _ in _PII_PATTERNS
    ]
    red = t
    for _, pat, repl in _PII_PATTERNS:
        red = F.regexp_replace(red, pat, repl)
    return docs.select(F.col(id_col).alias("doc_id"), *counts, red.alias("redacted"))


def quality_rule_flags(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Rule-based quality filters from the two canonical curation
    recipes — Gopher (Rae et al. 2021, app. A1.1) and C4 (Raffel et
    al. 2020, §2.2) — as per-document boolean flags plus a keep
    decision per family.  All comparisons are integer (ratios are
    cross-multiplied: mean word length in [3, 10] becomes
    ``3·n ≤ Σlen ≤ 10·n``), so the DuckDB oracle agrees bit-for-bit.

    Gopher flags: word count in [50, 100k]; mean word length in
    [3, 10]; ≥ 80 % of words contain an alphabetic character;
    ≥ 2 stop-word hits.  C4 flags: no ``{``; no ``lorem ipsum``; no
    ``javascript``; ≥ 3 terminal-punctuation marks (sentence proxy).

    Plan shape (100 TB): map-only — one projection over the corpus
    scan, no shuffle, no UDF; every rule is a Catalyst expression
    inside one whole-stage-codegen span.
    """
    t = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    ws = F.filter(F.split(t, " "), lambda w: w != "")
    n_words = F.size(ws).cast("long")
    sum_len = F.coalesce(
        F.aggregate(ws, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)),
        F.lit(0).cast("long"),
    )
    alpha_words = F.size(F.filter(ws, lambda w: w.rlike("[a-z]"))).cast("long")
    stop_hits = F.size(
        F.filter(ws, lambda w: w.isin("the", "be", "to", "of", "and", "that", "have", "with"))
    ).cast("long")
    n_sentences = F.regexp_count(t, F.lit("[.!?]")).cast("long")

    g_wc = (n_words >= 50) & (n_words <= 100_000)
    g_mwl = (n_words > 0) & (sum_len >= 3 * n_words) & (sum_len <= 10 * n_words)
    g_alpha = (n_words > 0) & (5 * alpha_words >= 4 * n_words)
    g_stop = stop_hits >= 2
    c_curly = ~t.contains("{")
    c_lorem = ~t.contains("lorem ipsum")
    c_js = ~t.contains("javascript")
    c_sent = n_sentences >= 3

    return docs.select(
        F.col(id_col).alias("doc_id"),
        n_words.alias("n_words"),
        g_wc.alias("gopher_word_count_ok"),
        g_mwl.alias("gopher_mean_word_len_ok"),
        g_alpha.alias("gopher_alpha_ratio_ok"),
        g_stop.alias("gopher_stopwords_ok"),
        c_curly.alias("c4_no_curly"),
        c_lorem.alias("c4_no_lorem"),
        c_js.alias("c4_no_javascript"),
        c_sent.alias("c4_sentences_ok"),
        (g_wc & g_mwl & g_alpha & g_stop).alias("gopher_keep"),
        (c_curly & c_lorem & c_js & c_sent).alias("c4_keep"),
    )

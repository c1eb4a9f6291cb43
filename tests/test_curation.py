"""Curation operators: stratified sampling determinism/nesting, tf-idf
ranking vs a direct pandas recomputation."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest

from tegenaria_spark.operators.curation import (
    sample_bucket,
    stratified_sample,
    tfidf_top_terms,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (i, f"word{i % 7} shared common word{i % 3} tail{i}", ["en", "fr", "de", "zz"][i % 4])
        for i in range(200)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string").cache()


def test_sample_deterministic_and_rates(docs):
    out1 = stratified_sample(docs, {"en": 500, "fr": 250}, default_permille=100)
    out2 = stratified_sample(docs, {"en": 500, "fr": 250}, default_permille=100)
    ids1 = sorted(r.doc_id for r in out1.collect())
    assert ids1 == sorted(r.doc_id for r in out2.collect())
    # every surviving row's bucket respects its stratum's rate
    for r in out1.collect():
        limit = {"en": 500, "fr": 250}.get(r.lang, 100)
        assert r.bucket < limit


def test_sample_nested(docs):
    lo = {r.doc_id for r in stratified_sample(docs, {"en": 200}, 100).collect()}
    hi = {r.doc_id for r in stratified_sample(docs, {"en": 600}, 300).collect()}
    assert lo <= hi  # raising rates only ADDS rows


def test_sample_multiplicative_matches_formula(docs):
    out = docs.withColumn("bucket", sample_bucket("doc_id", "multiplicative")).collect()
    for r in out:
        assert r.bucket == ((r.doc_id * 2654435761) % 4294967296) % 1000


def test_tfidf_ranks_match_pandas(spark):
    rows = [
        (0, "apple banana apple cherry"),
        (1, "banana banana cherry"),
        (2, "apple cherry cherry dates"),
        (3, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = tfidf_top_terms(docs, k=2)
    got = {(r.doc_id, r.rank): (r.term, r.score) for r in out.collect()}
    # recompute directly
    n, scale = 4, 1_000_000
    corpora = {i: t.split() for i, t in rows if t}
    df = {}
    for toks in corpora.values():
        for t in set(toks):
            df[t] = df.get(t, 0) + 1
    for i, toks in corpora.items():
        tf = {t: toks.count(t) for t in set(toks)}
        scored = sorted(
            ((tf[t] * ((n * scale) // df[t]), t) for t in tf),
            key=lambda p: (-p[0], p[1]),
        )
        for rank, (score, term) in enumerate(scored[:2], start=1):
            assert got[(i, rank)] == (term, score)
    assert not [k for k in got if k[0] == 3]  # empty doc emits nothing


def test_ngram_decontaminate_flags_overlap(spark):
    from tegenaria_spark.operators.curation import ngram_decontaminate

    train = spark.createDataFrame(
        [
            (0, "a b c d e"),       # shares "b c d" with eval
            (1, "x y z w v"),       # clean
            (2, "a b"),             # shorter than n: zero n-grams, clean
            (3, None),              # NULL text: zero n-grams, clean
        ],
        "doc_id long, text string",
    )
    eval_docs = spark.createDataFrame(
        [(100, "q q b c d q q")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: (r["n_ngrams"], r["n_matched"], r["matched_ppm"], r["contaminated"])
        for r in ngram_decontaminate(train, eval_docs, n=3, contaminated_ppm=100_000).collect()
    }
    assert out[0] == (3, 1, 333333, 1)
    assert out[1] == (3, 0, 0, 0)
    assert out[2] == (0, 0, 0, 0)
    assert out[3] == (0, 0, 0, 0)
    assert set(out) == {0, 1, 2, 3}  # every train doc appears exactly once


def test_ngram_decontaminate_counts_distinct_grams(spark):
    from tegenaria_spark.operators.curation import ngram_decontaminate

    # repeated phrase inside one doc counts ONCE (distinct n-grams)
    train = spark.createDataFrame(
        [(0, "p q r p q r p q r")], "doc_id long, text string"
    )
    eval_docs = spark.createDataFrame([(9, "p q r")], "doc_id long, text string")
    row = ngram_decontaminate(train, eval_docs, n=3).collect()[0]
    # grams: {p q r, q r p, r p q} — 3 distinct of 7 positional windows
    assert row["n_ngrams"] == 3
    assert row["n_matched"] == 1


def test_word_ngram_stream_rejects_non_integral_ids(spark):
    """The Arrow n-gram pass carries ids as int64: a string id column
    is refused up front rather than cast to NULL ids."""
    from tegenaria_spark.operators.curation import word_ngram_hash_stream

    docs = spark.createDataFrame([("d0", "a b c d")], "doc_id string, text string")
    with pytest.raises(TypeError, match="doc_id must be an integral column"):
        word_ngram_hash_stream(docs, 3)
    ints = spark.createDataFrame([(7, "a b c d")], "doc_id int, text string")
    assert sorted(r.doc_id for r in word_ngram_hash_stream(ints, 3).collect()) == [7, 7]


def test_pack_sequences_hand_case(spark):
    from tegenaria_spark.operators.curation import pack_sequences

    # shard A: docs of 3, 4, 0, 5 tokens packed at seq_len=4
    #   doc 0: tokens [0,3)   → seq 0 only, offset 0
    #   doc 1: tokens [3,7)   → spans seq 0..1, offset 3
    #   doc 2: empty at 7     → pins to seq 1 (its start boundary)
    #   doc 3: tokens [7,12)  → spans seq 1..2, offset 3
    # shard B packs independently from offset 0.
    rows = [
        (0, "A", "a b c"),
        (1, "A", "d e f g"),
        (2, "A", None),
        (3, "A", "h i j k l"),
        (10, "B", "x y"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {
        r.doc_id: (r.n_tokens, r.seq_first, r.seq_last, r.seq_offset, r.n_seqs)
        for r in pack_sequences(docs, seq_len=4).collect()
    }
    assert out[0] == (3, 0, 0, 0, 1)
    assert out[1] == (4, 0, 1, 3, 2)
    assert out[2] == (0, 1, 1, 3, 1)
    assert out[3] == (5, 1, 2, 3, 2)
    assert out[10] == (2, 0, 0, 0, 1)  # shard B restarts at zero


def test_pack_sequences_shard_independence(spark):
    from tegenaria_spark.operators.curation import pack_sequences

    # total token count per shard is preserved: last doc's cum offset +
    # its n_tokens == shard token total (no tokens lost or double-packed)
    rows = [(i, "S" if i % 2 else "T", " ".join(["w"] * (i % 7))) for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = pack_sequences(docs, seq_len=8).collect()
    per_shard = {}
    for r in sorted(out, key=lambda r: r.doc_id):
        end = r.seq_first * 8 + r.seq_offset + r.n_tokens
        per_shard[r.shard] = per_shard.get(r.shard, 0) + r.n_tokens
        assert end == per_shard[r.shard]  # contiguous: each doc starts where the previous ended


def test_corpus_dup_ngrams_hand_case(spark):
    from tegenaria_spark.operators.curation import corpus_dup_ngrams

    rows = [
        (0, "a b c d"),      # grams: {a b c, b c d} — both shared with doc 1
        (1, "a b c d e"),    # grams: {a b c, b c d, c d e} — 2 of 3 shared
        (2, "x y z"),        # gram {x y z} unique
        (3, "q r"),          # too short: zero grams
        (4, None),           # NULL: zero grams
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: (r.n_ngrams, r.n_dup, r.dup_ppm)
        for r in corpus_dup_ngrams(docs, n=3, min_df=2).collect()
    }
    assert out[0] == (2, 2, 1000000)
    assert out[1] == (3, 2, 666666)
    assert out[2] == (1, 0, 0)
    assert out[3] == (0, 0, 0)
    assert out[4] == (0, 0, 0)
    assert set(out) == {0, 1, 2, 3, 4}


def test_corpus_dup_ngrams_within_doc_repeat_not_dup(spark):
    from tegenaria_spark.operators.curation import corpus_dup_ngrams

    # a gram repeated INSIDE one doc counts once (per-doc distinct):
    # df stays 1, so it is not "duplicated across the corpus"
    docs = spark.createDataFrame(
        [(0, "p q r p q r"), (1, "unrelated text here")], "doc_id long, text string"
    )
    out = {r.doc_id: r.n_dup for r in corpus_dup_ngrams(docs, n=3, min_df=2).collect()}
    assert out[0] == 0


def test_reweight_to_token_budget(spark):
    from tegenaria_spark.operators.curation import reweight_to_token_budget

    # stratum A: 3 docs x 4 tokens = 12; stratum B: 2 docs x 4 = 8;
    # stratum C unlisted.  budget 20, shares A=200 B=800:
    #   A target 4  -> permille (4*1000)//12  = 333 (shrinks)
    #   B target 16 -> permille min(1000, 16000//8) = 1000 (kept whole)
    #   C -> share 0 -> permille 0 (dropped)
    rows = [(i, "A", "w x y z") for i in range(3)]
    rows += [(10 + i, "B", "w x y z") for i in range(2)]
    rows += [(20, "C", "w x y z")]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = reweight_to_token_budget(
        docs, {"A": 200, "B": 800}, total_target_tokens=20, mode="multiplicative"
    ).collect()
    by_stratum = {}
    for r in out:
        by_stratum.setdefault(r.stratum, []).append(r)
        assert r.bucket < r.permille
        assert r.n_tokens == 4
    assert "C" not in by_stratum                      # unlisted stratum dropped
    assert all(r.permille == 333 for r in by_stratum.get("A", []))
    assert len(by_stratum["B"]) == 2                  # under budget: kept whole
    assert all(r.permille == 1000 for r in by_stratum["B"])


def test_reweight_nested_samples(spark):
    from tegenaria_spark.operators.curation import reweight_to_token_budget

    # raising the budget strictly grows the kept set (same hash buckets)
    rows = [(i, "A", " ".join(["t"] * 5)) for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    small = {
        r.doc_id
        for r in reweight_to_token_budget(
            docs, {"A": 1000}, total_target_tokens=200, mode="multiplicative"
        ).collect()
    }
    big = {
        r.doc_id
        for r in reweight_to_token_budget(
            docs, {"A": 1000}, total_target_tokens=500, mode="multiplicative"
        ).collect()
    }
    assert small and small < big

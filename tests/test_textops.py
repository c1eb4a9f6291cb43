"""Analytics operators: dedup suite, similarity, text stats, multimodal."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),          # exact dup of 0
    (2, "the quick brown fox leaps over the lazy dog"),          # near dup of 0
    (3, "completely different content about spark engines"),
    (4, "le chat noir et la souris dans la maison"),
    (5, "der hund und das haus sind hier"),
    (6, ""),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id bigint, text string")


def test_exact_dedup(spark, docs):
    from tegenaria_spark.operators.textdedup import exact_dedup

    out = {r["kept_doc_id"]: r["group_size"] for r in exact_dedup(docs).collect()}
    assert out[0] == 2  # docs 0,1 collapse
    assert 1 not in out
    assert out[3] == 1


def test_word_jaccard_pairs(spark, docs):
    from tegenaria_spark.operators.textdedup import word_jaccard_pairs

    pairs = {(r["doc_a"], r["doc_b"]) for r in word_jaccard_pairs(docs, 70).collect()}
    assert (0, 1) in pairs  # identical
    assert (0, 2) in pairs and (1, 2) in pairs  # one word changed
    assert not any({3, 4, 5} & set(p) for p in pairs)


def test_ngram_jaccard_pairs(spark, docs):
    """Char-3-gram set Jaccard agrees with a brute-force python oracle
    on every pair (exactness of the PPJoin prunes under the n-gram
    tokenizer), and short/NULL texts never pair."""
    from tegenaria_spark.operators.textdedup import ngram_jaccard_pairs

    def grams(t):
        t = (t or "").lower()
        return {t[i : i + 3] for i in range(len(t) - 2)}

    import itertools

    want = {}
    texts = dict((d, t) for d, t in DOCS)
    for a, b in itertools.combinations(sorted(texts), 2):
        ga, gb = grams(texts[a]), grams(texts[b])
        if not ga or not gb:
            continue
        i = len(ga & gb)
        u = len(ga | gb)
        if i * 100 >= 70 * u:
            want[(a, b)] = (i, u)

    got = {
        (r["doc_a"], r["doc_b"]): (r["n_common"], r["n_union"])
        for r in ngram_jaccard_pairs(docs, n=3, threshold_pct=70).collect()
    }
    assert got == want
    assert (0, 1) in got  # exact dup pair survives any threshold
    assert not any(6 in p for p in got)  # empty text has no 3-grams


def test_jaccard_bitset_and_open_vocab_paths_agree(spark, docs):
    """The small-vocabulary bitset fast path and the open-vocabulary
    string PPJoin are the same exact operator — forcing the fallback
    (bitset_max=0) must change nothing."""
    from tegenaria_spark.operators.textdedup import word_jaccard_pairs

    def rows(df):
        return {
            (r["doc_a"], r["doc_b"], r["n_common"], r["n_union"]) for r in df.collect()
        }

    fast = rows(word_jaccard_pairs(docs, 70))  # vocab ≈ 30 ⇒ bitset path
    slow = rows(word_jaccard_pairs(docs, 70, bitset_max=0))
    assert fast == slow and fast


def test_spread_to_parallelism_branches_agree(spark, docs, monkeypatch):
    """``spread_to_parallelism`` round-robins an input with fewer
    partitions than the default parallelism and passes any other input
    through: word_jaccard_pairs on a 1-partition input (repartition
    branch) and on a fully split one (no-op branch) must agree."""
    from tegenaria_spark.operators import curation
    from tegenaria_spark.operators.textdedup import word_jaccard_pairs

    par = spark.sparkContext.defaultParallelism
    spread = curation.spread_to_parallelism
    taken = []

    def spy(df):
        out = spread(df)
        taken.append("noop" if out is df else out.rdd.getNumPartitions())
        return out

    monkeypatch.setattr(curation, "spread_to_parallelism", spy)

    def rows(df):
        return {
            (r["doc_a"], r["doc_b"], r["n_common"], r["n_union"]) for r in df.collect()
        }

    one = docs.coalesce(1)
    assert one.rdd.getNumPartitions() == 1 < par <= docs.rdd.getNumPartitions()
    spread_rows = rows(word_jaccard_pairs(one, 70))
    passed_rows = rows(word_jaccard_pairs(docs, 70))
    assert taken == [par, "noop"]
    assert spread_rows == passed_rows and passed_rows


def test_ngram_jaccard_short_texts(spark):
    from tegenaria_spark.operators.textdedup import ngram_jaccard_pairs

    df = spark.createDataFrame(
        [(0, "ab"), (1, "ab"), (2, None), (3, "abc"), (4, "abc")],
        "doc_id bigint, text string",
    )
    got = {
        (r["doc_a"], r["doc_b"]) for r in ngram_jaccard_pairs(df, threshold_pct=50).collect()
    }
    assert got == {(3, 4)}  # sub-n and NULL texts tokenize to nothing


def test_minhash_lsh_finds_near_dups(spark, docs):
    from tegenaria_spark.operators.textdedup import minhash_lsh_pairs

    def pairs(**kw):
        out = minhash_lsh_pairs(docs, n_perm=64, n_bands=16, threshold=0.5, **kw)
        return {(r["doc_a"], r["doc_b"]): r["est_jaccard"] for r in out.collect()}

    default = pairs()
    assert default.get((0, 1)) == 1.0  # identical docs: all minhashes agree
    assert (0, 2) in default  # near dup found via shared band
    assert (3, 4) not in default
    # broadcast_max_docs=0 forces the codegen verify (corpora above the
    # broadcast cap): same pairs, same estimates
    assert pairs(broadcast_max_docs=0) == default


def test_simhash_near_pairs(spark, docs):
    from tegenaria_spark.operators.textdedup import simhash_near_pairs, simhash_table

    t = {r["doc_id"]: r["simhash"] for r in simhash_table(docs).collect()}
    assert t[0] == t[1]  # identical docs hash identically
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_pairs(docs, max_hamming=16).collect()
    }
    assert pairs[(0, 1)] == 0  # identical pair always blocked together
    # every returned pair honors the threshold, none fabricated
    assert all(h <= 16 for h in pairs.values())
    # pigeonhole guarantee is COMPLETE at the requested radius now
    # (max_hamming+1 blocks): every pair within the radius must be found
    import itertools

    for a, b in itertools.combinations(sorted(t), 2):
        h = bin((t[a] ^ t[b]) & ((1 << 64) - 1)).count("1")
        if h <= 16:
            assert (a, b) in pairs and pairs[(a, b)] == h


def test_cosine_topk_exact_vs_numpy(spark):
    from tegenaria_spark.operators.similarity import cosine_topk_bruteforce

    rng = np.random.RandomState(0)
    vecs = rng.normal(size=(50, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(50)],
        "vec_id bigint, embedding array<float>",
    )
    queries = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in cosine_topk_bruteforce(df, queries, k=3).collect()
    }
    v64 = vecs.astype(np.float64)
    norms = np.linalg.norm(v64, axis=1)
    for q in range(3):
        sims = (v64 @ v64[q]) / (norms * norms[q])
        sims[q] = -np.inf
        expect = list(np.argsort(-sims)[:3])
        assert [got[(q, r)] for r in (1, 2, 3)] == expect


def test_cosine_lsh_recall(spark):
    from tegenaria_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_lsh,
    )

    rng = np.random.RandomState(1)
    base = rng.normal(size=(20, 16))
    # make clusters: near-copies of each base vector
    rows = []
    vid = 0
    for b in base:
        for _ in range(5):
            rows.append((vid, [float(x) for x in b + rng.normal(scale=0.05, size=16)]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    queries = df.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in cosine_topk_bruteforce(df, queries, k=1).collect()
    }
    approx = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in cosine_topk_lsh(df, queries, dim=16, k=1, n_bits=8, n_tables=6).collect()
    }
    hits = sum(1 for k in exact if approx.get(k) == exact[k])
    assert hits >= int(0.8 * len(exact))  # ≥80% recall@1 on clustered data


def test_cosine_ivf_exact_when_probing_all_cells(spark):
    from tegenaria_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
    )

    rng = np.random.RandomState(2)
    vecs = rng.normal(size=(60, 16))
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        "vec_id bigint, embedding array<float>",
    )
    queries = df.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = sorted(
        tuple(r)
        for r in cosine_topk_bruteforce(df, queries, k=3).collect()
    )
    # nprobe == n_clusters probes every cell: must equal brute force exactly
    ivf = sorted(
        tuple(r)
        for r in cosine_topk_ivf(
            df, queries, dim=16, k=3, n_clusters=8, nprobe=8
        ).collect()
    )
    assert ivf == exact


def test_cosine_ivf_recall_on_clusters(spark):
    from tegenaria_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
    )

    rng = np.random.RandomState(3)
    base = rng.normal(size=(20, 16))
    rows = []
    vid = 0
    for b in base:
        for _ in range(5):
            rows.append((vid, [float(x) for x in b + rng.normal(scale=0.05, size=16)]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    queries = df.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in cosine_topk_bruteforce(df, queries, k=1).collect()
    }
    approx = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in cosine_topk_ivf(
            df, queries, dim=16, k=1, n_clusters=16, nprobe=3
        ).collect()
    }
    hits = sum(1 for k in exact if approx.get(k) == exact[k])
    assert hits >= int(0.8 * len(exact))  # ≥80% recall@1 with 3/16 cells probed


def test_lang_id(spark, docs):
    from tegenaria_spark.operators.textstats import lang_id

    out = {r["doc_id"]: r["lang_guess"] for r in lang_id(docs).collect()}
    assert out[0] == "en" and out[4] == "fr" and out[5] == "de" and out[6] == "other"


def test_quality_and_tokens(spark, docs):
    from tegenaria_spark.operators.textstats import quality_stats, token_counts

    q = {r["doc_id"]: r for r in quality_stats(docs).collect()}
    assert q[0]["n_words"] == 9 and q[0]["n_stopwords"] == 2
    assert q[6]["n_words"] == 0
    t = {r["doc_id"]: r for r in token_counts(docs).collect()}
    assert t[0]["n_ws_tokens"] == 9 and t[0]["n_bpe_segments"] == 9


def test_doc_fingerprints_stable(spark, docs):
    from tegenaria_spark.operators.textstats import doc_fingerprints

    a = {r["doc_id"]: (r["content_hash"], r["winnow_fp"]) for r in doc_fingerprints(docs).collect()}
    b = {r["doc_id"]: (r["content_hash"], r["winnow_fp"]) for r in doc_fingerprints(docs).collect()}
    assert a == b
    assert a[0] == a[1] and a[0] != a[3]


def test_multimodal_resize_and_features(spark):
    from tegenaria_spark.operators.multimodal import extract_features, resize_images
    from tegenaria_spark.sources.synth import SiteConfig, image_record

    site = SiteConfig()
    rows = [
        tuple(
            image_record(f"img-{i:03d}-{i:04d}", f"c{i}", "png", site)[k]
            for k in ("image_id", "bytes")
        )
        for i in range(6)
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    resized = resize_images(df, target=16).collect()
    assert all(r["rw"] == 16 and r["rh"] == 16 for r in resized)
    from tegenaria_spark.functions.images import png_decode

    assert png_decode(bytes(resized[0]["resized"])).shape == (16, 16, 3)

    feats = extract_features(df).collect()
    assert all(len(r["features"]) == 6 for r in feats)
    assert all(r["phash"] is not None for r in feats)


def test_repetition_stats_hand_case(spark, docs):
    from tegenaria_spark.operators.textstats import repetition_stats

    out = {
        r["doc_id"]: (
            r["n_words"],
            r["dup_word_ppm"],
            r["top_word_ppm"],
            r["dup_bigram_ppm"],
        )
        for r in repetition_stats(docs).collect()
    }
    # doc 0: 9 words, "the" twice -> 8 distinct; 8 bigrams all distinct
    assert out[0] == (9, 1000000 // 9, 2000000 // 9, 0)
    # doc 6 is empty: everything zero
    assert out[6] == (0, 0, 0, 0)
    assert set(out) == set(range(7))


def test_repetition_stats_repeated_phrase(spark):
    from tegenaria_spark.operators.textstats import repetition_stats

    df = spark.createDataFrame(
        [(0, "spam spam spam spam"), (1, "a b a b a b")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_words"], r["dup_word_ppm"], r["top_word_ppm"], r["dup_bigram_ppm"])
        for r in repetition_stats(df).collect()
    }
    # 4x "spam": 3/4 dup words, top word 4/4, bigrams 3 windows 1 distinct
    assert out[0] == (4, 750000, 1000000, 2000000 // 3)
    # "a b a b a b": 6 words 2 distinct; top 3/6; 5 bigrams 2 distinct
    assert out[1] == (6, 4000000 // 6, 500000, 600000)


def test_pii_stats_counts_and_redaction(spark):
    from tegenaria_spark.operators.textstats import pii_stats

    rows = [
        (0, "mail bob.smith+x@corp.example.com or call 415-555-0199 now"),
        (1, "server at 10.0.255.7 and 192.168.1.1; no mail"),
        (2, "plain text, phone-ish 12-345-6789 and not-ip 1.2.3"),
        (3, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in pii_stats(docs).collect()}
    assert (out[0].n_emails, out[0].n_phones, out[0].n_ips) == (1, 1, 0)
    assert out[0].redacted == "mail <EMAIL> or call <PHONE> now"
    assert (out[1].n_emails, out[1].n_phones, out[1].n_ips) == (0, 0, 2)
    assert out[1].redacted == "server at <IP> and <IP>; no mail"
    assert (out[2].n_emails, out[2].n_phones, out[2].n_ips) == (0, 0, 0)
    assert out[2].redacted == rows[2][1]  # untouched
    assert out[3].redacted == ""  # NULL text → empty, zero counts
    assert (out[3].n_emails, out[3].n_phones, out[3].n_ips) == (0, 0, 0)


def test_duplicate_token_spans_hand_case(spark):
    """ExactSubstr span semantics (Lee et al. 2022): maximal merged
    spans, cross-doc AND self-repetition occurrences, short/empty docs
    emit nothing; removal stage strips exactly the covered tokens."""
    from tegenaria_spark.operators.textdedup import (
        duplicate_token_spans,
        strip_duplicate_spans,
    )

    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (1, "xx alpha beta gamma delta epsilon zeta eta theta yy zz"),
        (2, "unique words only here nothing repeated at all today friend"),
        (4, "self self self self self self self self self self self self"),
        (5, "short doc"),
        (6, ""),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    spans = sorted(
        (r["doc_id"], r["start_tok"], r["end_tok"], r["span_len"])
        for r in duplicate_token_spans(docs, n=8, min_occ=2).collect()
    )
    # the shared 8 tokens "alpha..theta" sit at doc0 pos 0-7 and doc1
    # pos 1-8 (exactly one duplicated window each); doc4's self-repeats
    # cover the whole doc (5 identical windows merge to ONE maximal
    # span); docs 2/5/6 emit nothing
    assert spans == [(0, 0, 7, 8), (1, 1, 8, 8), (4, 0, 11, 12)]

    clean = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
        for r in strip_duplicate_spans(docs, n=8, min_occ=2).collect()
    }
    assert clean[0] == (10, 8, "iota kappa")
    assert clean[1] == (11, 8, "xx yy zz")  # order of survivors preserved
    assert clean[2][1] == 0 and clean[2][2] == rows[2][1]
    assert clean[4] == (12, 12, "")
    assert clean[5] == (2, 0, "short doc")
    assert clean[6] == (0, 0, "")


def test_quality_rule_flags_hand_cases(spark):
    """Gopher/C4 rule boundaries: word-count bounds, mean-word-length
    cross-multiplied bounds, alpha ratio, stopwords, and the C4
    content flags, each exercised on a crafted doc."""
    from tegenaria_spark.operators.textstats import quality_rule_flags

    good = " ".join(["the"] * 2 + ["word"] * 48)  # 50 words, mwl ok, stops ok
    rows = [
        (0, good + ". Done. Yes? Go!"),  # everything passes, 4 sentence marks
        (1, "short doc"),  # word count + stopwords fail
        (2, " ".join(["ab"] * 60)),  # mean word length 2 < 3 fails
        (3, " ".join(["1234"] * 30 + ["the", "the"] + ["word"] * 30)),  # alpha 30/62 < 80%
        (4, good + " lorem ipsum { javascript"),  # all three C4 content flags fail
        (5, None),  # NULL text: empty doc, nothing passes
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in quality_rule_flags(docs).collect()}

    assert out[0]["gopher_keep"] and out[0]["c4_keep"]
    assert not out[1]["gopher_word_count_ok"] and not out[1]["gopher_stopwords_ok"]
    assert out[1]["gopher_mean_word_len_ok"]  # 5+3 chars over 2 words
    assert not out[2]["gopher_mean_word_len_ok"]
    assert not out[3]["gopher_alpha_ratio_ok"] and out[3]["gopher_word_count_ok"]
    assert not out[4]["c4_no_lorem"] and not out[4]["c4_no_curly"]
    assert not out[4]["c4_no_javascript"] and not out[4]["c4_keep"]
    assert out[4]["gopher_keep"]  # C4 content flags don't affect gopher_keep
    assert out[5]["n_words"] == 0 and not out[5]["gopher_keep"] and not out[5]["c4_keep"]


def test_dup_gram_count_is_skew_proof(spark):
    """r4 verdict #4: the duplicated-gram count must NOT be a window
    partitioned by the gram — under `count().over(partitionBy(g))` a
    viral boilerplate gram pins all its occurrences to ONE task.  The
    rewrite is a map-side-combined aggregate + AQE-splittable semi
    join; this asserts the plan shape AND correctness on a corpus
    where one gram dominates (one hot 2-gram in every doc)."""
    from tegenaria_spark.operators.curation import corpus_dup_ngrams
    from tegenaria_spark.operators.textdedup import (
        duplicate_token_spans,
        strip_duplicate_spans,
    )

    # every doc repeats the hot pair "hot gram"; doc i also carries a
    # unique tail so docs are not identical
    rows = [(i, ("hot gram " * 5) + f"tail{i} end{i}") for i in range(40)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    spans = duplicate_token_spans(docs, n=2, min_occ=2)
    plan = spans._jdf.queryExecution().optimizedPlan().toString()
    assert "windowspecdefinition(g#" not in plan, plan
    got = {r.doc_id: (r.start_tok, r.end_tok) for r in spans.collect()}
    # tokens 0..9 are the repeated hot/gram alternation; 2-gram windows
    # 0..8 are all duplicated (window 9 = "gram tailN" is unique), so
    # the maximal span covers tokens 0..9
    assert got == {i: (0, 9) for i in range(40)}

    clean = {r.doc_id: r.clean_text for r in strip_duplicate_spans(docs, n=2, min_occ=2).collect()}
    assert clean == {i: f"tail{i} end{i}" for i in range(40)}

    dup = corpus_dup_ngrams(docs, n=2, min_df=2)
    plan2 = dup._jdf.queryExecution().optimizedPlan().toString()
    assert "windowspecdefinition(g#" not in plan2, plan2
    out = {r.doc_id: (r.n_ngrams, r.n_dup) for r in dup.collect()}
    # distinct 2-grams per doc: "hot gram", "gram hot", "hot tailN",
    # "tailN endN" → 4; the first two occur in every doc (df=40)
    assert out == {i: (4, 2) for i in range(40)}

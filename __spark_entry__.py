"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship smoke query on sf0.001.
``queries()`` — one entry per implemented operator from SURVEY.md §2
plus the training-data-pipeline operators; each callable takes
``(spark, sf_dir)`` and returns a DataFrame.
``oracle_sql()`` — DuckDB-equivalent ANSI SQL per query (omitted for
ops whose semantics aren't SQL-expressible — those get rows-only
checks).

Column names and integer types are aligned on both sides; float-valued
comparisons are avoided (integer cross-multiplication for thresholds,
rank-only outputs for similarity) so value-hash comparison is exact.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# expected-result fixtures for non-SQL-expressible queries
#
# For operators whose semantics DuckDB cannot re-derive (hash-seeded
# LSH, engine scheduling, image codecs), the oracle is an INDEPENDENT
# single-threaded implementation (tegenaria_spark/oracle_twins.py)
# materialized to parquet; the oracle SQL is a read_parquet() of that
# fixture.  The fixture regenerates inside the queries() callable when
# the requested sf_dir differs from the stamped one, so driver runs at
# any sf stay self-consistent; the committed fixtures are built at the
# driver's sf0.01.  SPARK_GRAFT_SKIP_FIXTURES=1 skips regeneration
# (bench timing must not include oracle work).
# ---------------------------------------------------------------------------

_FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "expected")

# bump when twin semantics change (forces fixture regeneration even at
# an already-stamped sf_dir).  Per-KEY overrides instead of a global
# bump: a semantic change to one twin must not invalidate the other 29
# committed fixtures — rebuilding them all inside the driver's gate is
# exactly the time pressure that truncated r4's certification.
_FIXTURE_VERSION = 4
_FIXTURE_VERSION_OVERRIDES = {
    # r5: RFC 9309 split-group merging + new corpus idiom/paths
    "robots_txt_gate": 5,
    # r5: kill/resume boundary shrunk to 1+1 rounds (same parity contract)
    "crawl_resume_parity": 5,
}


def _fixture_version(key: str) -> int:
    return _FIXTURE_VERSION_OVERRIDES.get(key, _FIXTURE_VERSION)


def _fixture_path(key: str) -> str:
    return os.path.join(_FIXTURE_DIR, f"{key}.parquet")


def _ensure_fixture(key: str, sf_dir: str, builder) -> None:
    """Materialize the expected table if missing or built for another sf."""
    if os.environ.get("SPARK_GRAFT_SKIP_FIXTURES") == "1":
        return
    path = _fixture_path(key)
    stamp = path + ".meta.json"
    try:
        with open(stamp) as fh:
            meta = json.load(fh)
        if (
            meta.get("sf_dir") == sf_dir
            and meta.get("v") == _fixture_version(key)
            and os.path.exists(path)
        ):
            return
    except (OSError, ValueError):
        pass
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(_FIXTURE_DIR, exist_ok=True)
    pdf = builder()
    tmp = path + ".tmp"
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), tmp)
    os.replace(tmp, path)
    with open(stamp + ".tmp", "w") as fh:
        json.dump({"sf_dir": sf_dir, "rows": len(pdf), "v": _fixture_version(key)}, fh)
    os.replace(stamp + ".tmp", stamp)


def _docs_pdf(sf_dir: str):
    import pyarrow.parquet as pq

    return pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]).to_pandas()


def _emb_pdf(sf_dir: str):
    import pyarrow.parquet as pq

    return pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]).to_pandas()


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the engine's politeness-budget scheduler (Q1/Q2) over
    the events stream — per event_type ("domain"), the first 16 events
    by (ts, event_id) are "fetched this round", exactly the window-rank
    budget the crawl engine runs every round."""
    return _q2_politeness_budget(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# crawl-engine operators in SQL-checkable shapes (TPC-H-ish tables)
# ---------------------------------------------------------------------------


def _f1_dedup_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # F1 dedup gate shape: frontier ∖ url_seen as a left-anti join
    # (orders with no lineitem = "unseen" rows passing the gate)
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    return (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey, "left_anti")
        .select("o_orderkey", "o_custkey")
        .orderBy("o_orderkey")
    )


def _f5_status_allow_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # F5 allow-list filter shape (downloader.go:236-244): reject "bad"
    # rows unless whitelisted
    events = _t(spark, sf_dir, "events")
    return events.filter(
        (F.col("value") < 300) | F.col("event_type").isin("error", "signup")
    ).select("event_id", "event_type")


def _q1_priority_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q1 priority dequeue shape: top-3 per group by rank
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "rank")
    )


def _q2_politeness_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q2/Q3 budget-per-round: first 16 rows per domain-analog
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return (
        events.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 16)
        .select("event_type", "event_id", "rank")
    )


def _a1_metrics_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A1 stats counters as aggregates (stats.go:185-205)
    events = _t(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(F.count("*").alias("n"))


def _a3_count_over_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A3 InfluxDB count-over-time analog
    events = _t(spark, sf_dir, "events")
    return events.groupBy(
        F.to_date("ts").alias("day"), F.col("event_type")
    ).agg(F.count("*").alias("n"))


def _a3_stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A3's streaming rendering: the same daily rollup as a Structured
    # Streaming stateful aggregation (file source → event-time tumbling
    # window → complete-mode memory sink), drained with availableNow.
    # SURVEY §2.6: streaming is a skin over the same round semantics —
    # this certifies the stateful streaming plan in the driver contract.
    from tegenaria_spark.streaming.rounds import stream_windowed_counts

    return stream_windowed_counts(spark, f"{sf_dir}/events.parquet")


def _a1_stream_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A1's custom-stateful rendering: per-event-type running totals as
    # explicit GroupState (applyInPandasWithState) over the events
    # stream — the arbitrary-python-state surface the built-in streaming
    # aggregations can't express (streaming/stateful.py).  Settled
    # totals must equal the batch group count regardless of micro-batch
    # split, so the oracle is plain SQL.
    from tegenaria_spark.streaming.stateful import stream_running_counts_drained

    return stream_running_counts_drained(
        spark, f"{sf_dir}/events.parquet", "event_type"
    )


def _a6_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A6 seen-set union
    events = _t(spark, sf_dir, "events").select(F.col("user_id").alias("key"))
    orders = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("key"))
    return events.union(orders).distinct()


def _a8_outcome_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A8 per-round outcome metrics shape: grouped counts + exact sums.
    # House rule (see module docstring): money is integer cents via
    # floor — decimal sums render as decimal(28,2) in Spark vs
    # decimal(38,2) in DuckDB and hash-mismatch even when values agree.
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("total_price_cents"),
    )


def _q5_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q5/Q7 round-loop shape generalized: gap-based sessionization of the
    # event stream (lag + cumulative-sum windows) — the stateful
    # windowing a crawl's revisit scheduling builds on
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_session = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    return (
        events.withColumn("_new", new_session)
        .withColumn("session_no", F.sum("_new").over(w).cast("int"))
        .groupBy("user_id", "session_no")
        .agg(F.count("*").alias("n_events"))
    )


def _a5_dedup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A8 dedup-rate metric shape: distinct vs total per group
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("text").alias("n_distinct"),
        F.countDistinct("lang").alias("n_langs"),
    )


def _a5_cuckoo_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Cuckoo-filter URL-seen gate (the north rule's "bloom/cuckoo"
    # second half, operators/cuckoo.py): per-bucket executor-side
    # cuckoo state over the seen set (doc_id < 400), cogroup verdicts,
    # then exact correction of maybe-rows — so the output is EXACT
    # membership and the oracle is plain SQL set membership.  fps are
    # xxhash64(text): identical texts share a fingerprint, exactly the
    # URL-seen semantics (2^-64 cross-text collision accepted, as for
    # every fingerprint op in this repo).
    from tegenaria_spark.operators.cuckoo import cuckoo_bucket_filter
    from tegenaria_spark.operators.dedup import filter_delta_state, filter_fp_verdicts

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.xxhash64(F.coalesce(F.col("text"), F.lit(""))).alias("fp")
    )
    seen = docs.filter(F.col("doc_id") < 400).select("fp").distinct()
    B = 8
    new, load = cuckoo_bucket_filter(512, B)
    verd = filter_fp_verdicts(docs, filter_delta_state(seen, B, new), B, load)
    # exact correction: cuckoo "definitely new" is final (no false
    # negatives); "maybe" rows confirm against the seen table
    confirmed = (
        verd.filter(F.col("_maybe")).join(seen, "fp", "left_semi").withColumn("_seen", F.lit(True))
    )
    return (
        docs.join(confirmed.select("fp", "_seen"), "fp", "left")
        .select("doc_id", F.coalesce("_seen", F.lit(False)).alias("seen_exact"))
    )


def _robots_txt_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # robots.txt TEXT → the engine's robots gate: parse per-domain
    # robots text (RFC 9309 group selection for the image crawler
    # agent), lower every rule — `*`/`$` patterns included — into the
    # scheduler's politeness dim, and decide every (domain, path) with
    # its one longest-match fold (operators/schedule.with_robots_allowed).
    # Twin: an independent parser + matcher in
    # oracle_twins.expected_robots_gate.
    from tegenaria_spark.functions.robots import robots_engine_inputs
    from tegenaria_spark.operators.schedule import politeness_dim, with_robots_allowed
    from tegenaria_spark.oracle_twins import expected_robots_gate
    from tegenaria_spark.sources.synth import ROBOTS_GATE_PATHS, robots_txt_corpus

    _ensure_fixture("robots_txt_gate", sf_dir, expected_robots_gate)
    corpus = robots_txt_corpus()
    rows, _delays = robots_engine_inputs(corpus, "tegenaria-image/1.0")
    grid = spark.createDataFrame(
        [(domain, path) for domain in sorted(corpus) for path in ROBOTS_GATE_PATHS],
        "domain string, path string",
    )
    politeness = politeness_dim(spark, rows, None)
    return with_robots_allowed(grid, politeness, F.col("path")).select(
        "domain", "path", F.col("_allowed").alias("allowed")
    )


def _robots_residual_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the ENGINE's schedule_round over a robots.txt corpus with `*`/`$`
    # rules and Crawl-delays: the lowered rules and the Crawl-delay
    # budget rows (functions.robots.crawl_delay_budget_rows) form one
    # politeness dim, so one join gives each URL its robots decision
    # and its domain's per-round budget.
    # Twin: an independent parse+match+rank in
    # oracle_twins.expected_robots_residual_schedule.
    from tegenaria_spark.config import EngineConfig
    from tegenaria_spark.functions.robots import (
        crawl_delay_budget_rows,
        robots_engine_inputs,
    )
    from tegenaria_spark.operators.schedule import politeness_dim, schedule_round
    from tegenaria_spark.oracle_twins import expected_robots_residual_schedule
    from tegenaria_spark.sources.synth import ROBOTS_GATE_PATHS, robots_txt_corpus

    _ensure_fixture(
        "robots_residual_schedule", sf_dir, expected_robots_residual_schedule
    )
    agent, default_budget = "tegenaria", 3
    cfg = EngineConfig(shuffle_partitions=8, default_budget_per_round=default_budget)
    corpus = robots_txt_corpus()
    rows, delays = robots_engine_inputs(corpus, agent)
    budget_rows = crawl_delay_budget_rows(
        delays, cfg.round_interval_s, default_budget=default_budget
    )
    frontier_rows = []
    seq = 0
    for domain in sorted(corpus):
        for path in ROBOTS_GATE_PATHS:
            frontier_rows.append(
                (f"c{seq}", f"http://{domain}{path}", domain, path, seq % 3, seq, None)
            )
            seq += 1
    frontier = spark.createDataFrame(
        frontier_rows,
        "ctx_id string, canon_url string, domain string, path string, "
        "priority int, enqueue_seq bigint, next_fetch_time timestamp",
    ).withColumn("next_fetch_time", F.timestamp_millis(F.lit(cfg.epoch_ms)))
    decided = schedule_round(frontier, politeness_dim(spark, rows, budget_rows), 0, cfg)
    return decided.select("domain", "path", "sched")


def _m1_transform_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    # M1/M2 middleware chain shape: ordered column transforms
    lineitem = _t(spark, sf_dir, "lineitem")
    return (
        lineitem.withColumn(
            # integer cents via floor on the identical double product —
            # avoids decimal rounding-mode differences across engines
            "disc_price_cents",
            F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long"),
        )
        .withColumn("is_return", (F.col("l_returnflag") == "R").cast("int"))
        .filter(F.col("l_quantity") >= 25)
        .select("l_orderkey", "l_linenumber", "disc_price_cents", "is_return")
    )


def _m10_response_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # M10 response decode surface (.String()/.Json(), response.go:89-113):
    # rows are serialized to JSON *binary bodies* (the fetched-payload
    # shape), then decoded back entirely inside Catalyst — encode →
    # decode → from_json, no Python.  The oracle reads the same fields
    # straight off the table, so the decode chain must be lossless.
    from tegenaria_spark.functions.decode import response_json

    orders = _t(spark, sf_dir, "orders")
    bodies = orders.select(
        F.col("o_orderkey").alias("key"),
        F.encode(
            F.to_json(F.struct("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")),
            "UTF-8",
        ).alias("body"),
    )
    j = response_json(
        bodies,
        "body",
        schema="o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_orderpriority STRING",
    )
    return bodies.select(j.alias("j")).select(
        F.col("j.o_orderkey").alias("o_orderkey"),
        F.col("j.o_custkey").alias("o_custkey"),
        F.col("j.o_orderstatus").alias("status"),
        F.col("j.o_orderpriority").alias("priority"),
    )


def _q8_backpressure_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q8 bounded in-flight: global top-100 by priority analog
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
        .select("o_orderkey")
    )


def _agg_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the robots/budget broadcast-join shape: fact ⋈ broadcast(dim)
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("revenue_cents"),
        )
    )


# ---------------------------------------------------------------------------
# training-data pipeline operators
# ---------------------------------------------------------------------------


def _dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tegenaria_spark.operators.textdedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


def _dedup_jaccard_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tegenaria_spark.operators.textdedup import word_jaccard_pairs

    return word_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold_pct=95)


def _dedup_jaccard_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tegenaria_spark.operators.textdedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), n=3, threshold_pct=90)


def _dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact substring dedup, span-emission stage (Lee et al. 2022
    # ExactSubstr): maximal token spans whose every 8-token window
    # occurs >= 2 times corpus-wide
    from tegenaria_spark.operators.textdedup import duplicate_token_spans

    return duplicate_token_spans(_t(spark, sf_dir, "documents"), n=8, min_occ=2)


def _dedup_substring_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact substring dedup, removal stage: cleaned text per document
    from tegenaria_spark.operators.textdedup import strip_duplicate_spans

    return strip_duplicate_spans(_t(spark, sf_dir, "documents"), n=8, min_occ=2)


def _dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tegenaria_spark.operators.textdedup import minhash_lsh_pairs
    from tegenaria_spark.oracle_twins import expected_minhash_pairs

    _ensure_fixture(
        "dedup_minhash_lsh", sf_dir, lambda: expected_minhash_pairs(_docs_pdf(sf_dir))
    )
    pairs = minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), n_perm=64, n_bands=16, threshold=0.5
    )
    return pairs.select("doc_a", "doc_b")  # rank/pair set only (no floats)


def _dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tegenaria_spark.operators.textdedup import simhash_near_pairs
    from tegenaria_spark.oracle_twins import expected_simhash_pairs

    _ensure_fixture(
        "dedup_simhash", sf_dir, lambda: expected_simhash_pairs(_docs_pdf(sf_dir))
    )
    return simhash_near_pairs(_t(spark, sf_dir, "documents"), max_hamming=6)


def _text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tegenaria_spark.operators.textstats import quality_stats

    return quality_stats(_t(spark, sf_dir, "documents"))


def _quality_rule_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gopher (Rae et al. 2021) + C4 (Raffel et al. 2020) rule filters,
    # integer-exact, map-only
    from tegenaria_spark.operators.textstats import quality_rule_flags

    return quality_rule_flags(_t(spark, sf_dir, "documents"))


def _text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tegenaria_spark.operators.textstats import lang_id

    return lang_id(_t(spark, sf_dir, "documents"))


def _text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tegenaria_spark.operators.textstats import token_counts

    return token_counts(_t(spark, sf_dir, "documents"))


def _text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tegenaria_spark.operators.textstats import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"))


def _decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    # train/eval split is a deterministic id rule so the DuckDB oracle
    # re-derives both sides; n=3 because the synthetic docs are word
    # soup (real pipelines use 8-13; the plan is n-independent)
    from tegenaria_spark.operators.curation import ngram_decontaminate

    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 23 != 0)
    eval_docs = docs.filter(F.col("doc_id") % 23 == 0)
    return ngram_decontaminate(train, eval_docs, n=3, contaminated_ppm=100_000)


def _doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tegenaria_spark.operators.textstats import doc_fingerprints
    from tegenaria_spark.oracle_twins import expected_doc_fingerprints

    _ensure_fixture(
        "doc_fingerprints", sf_dir, lambda: expected_doc_fingerprints(_docs_pdf(sf_dir))
    )
    return doc_fingerprints(_t(spark, sf_dir, "documents"))


def _pipeline_quality_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The operators COMPOSE: language-ID + quality gates feed exact
    # dedup, the canonical shape of a training-data ingestion pipeline
    # (filter junk → keep one copy).  All three stages are the library
    # operators, not re-implementations.
    from tegenaria_spark.operators.textdedup import exact_dedup
    from tegenaria_spark.operators.textstats import lang_id, quality_stats

    docs = _t(spark, sf_dir, "documents")
    q = quality_stats(docs).select("doc_id", "n_words", "n_punct", "n_chars")
    l = lang_id(docs).select("doc_id", "lang_guess")
    kept_ids = (
        q.join(l, "doc_id")
        .filter(
            (F.col("lang_guess") == "en")
            & (F.col("n_words") >= 15)
            & (F.col("n_punct") * 10 <= F.col("n_chars"))
        )
        .select("doc_id")
    )
    kept = docs.join(kept_ids, "doc_id", "left_semi")
    return exact_dedup(kept).select("kept_doc_id", "group_size")


def _ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tegenaria_spark.operators.similarity import cosine_topk_bruteforce
    from tegenaria_spark.oracle_twins import expected_ann_topk

    _ensure_fixture("ann_cosine_topk", sf_dir, lambda: expected_ann_topk(_emb_pdf(sf_dir)))
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk_bruteforce(emb, queries, k=5)


def _ann_cosine_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tegenaria_spark.operators.similarity import cosine_topk_lsh
    from tegenaria_spark.oracle_twins import expected_ann_lsh

    _ensure_fixture("ann_cosine_topk_lsh", sf_dir, lambda: expected_ann_lsh(_emb_pdf(sf_dir)))
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk_lsh(emb, queries, dim=64, k=5, n_bits=8, n_tables=4)


def _ann_cosine_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tegenaria_spark.operators.similarity import cosine_topk_ivf
    from tegenaria_spark.oracle_twins import expected_ann_ivf

    _ensure_fixture("ann_cosine_topk_ivf", sf_dir, lambda: expected_ann_ivf(_emb_pdf(sf_dir)))
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk_ivf(emb, queries, dim=64, k=5, n_clusters=32, nprobe=4)


def _embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tegenaria_spark.operators.similarity import embedding_neardup_pairs

    return embedding_neardup_pairs(_t(spark, sf_dir, "embeddings"), min_cosine=0.4).select(
        "vec_a", "vec_b"
    )


# ---------------------------------------------------------------------------
# crawl-native demos (non-SQL-expressible → rows-only checks)
# ---------------------------------------------------------------------------


def _crawl_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tegenaria_spark.functions.canonical import with_canonical, with_fingerprint
    from tegenaria_spark.oracle_twins import expected_crawl_fingerprints
    from tegenaria_spark.schemas import FRONTIER_SCHEMA
    from tegenaria_spark.sources.synth import SiteConfig, seed_urls
    from datetime import datetime, timezone

    _ensure_fixture("crawl_fingerprints", sf_dir, lambda: expected_crawl_fingerprints(200))

    site = SiteConfig(n_domains=8, pages_per_domain=32)
    ts0 = datetime.fromtimestamp(1_700_000_000, tz=timezone.utc)
    # option_ratio > 0: params/cookies/proxy/timeout/redirect/POST-body
    # columns are part of the certified contract (VERDICT r2 Missing #2)
    rows = [
        {**r, "next_fetch_time": ts0}
        for r in seed_urls(site, n_seeds=200, option_ratio=0.5)
    ]
    df = spark.createDataFrame(rows, FRONTIER_SCHEMA)
    return with_fingerprint(with_canonical(df)).select("ctx_id", "canon_url", "domain", "fp")


def _crawl_round_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datetime import datetime, timezone

    from tegenaria_spark.config import EngineConfig
    from tegenaria_spark.functions.canonical import with_canonical, with_fingerprint
    from tegenaria_spark.operators.dedup import dedup_gate
    from tegenaria_spark.operators.schedule import politeness_dim, schedule_round
    from tegenaria_spark.schemas import FRONTIER_SCHEMA, URL_SEEN_SCHEMA
    from tegenaria_spark.oracle_twins import expected_crawl_round_schedule
    from tegenaria_spark.sources.synth import SiteConfig, domain_budgets, robots_rules, seed_urls

    _ensure_fixture("crawl_round_schedule", sf_dir, lambda: expected_crawl_round_schedule(300))
    cfg = EngineConfig(shuffle_partitions=16)
    site = SiteConfig(n_domains=8, pages_per_domain=32)
    ts0 = datetime.fromtimestamp(cfg.epoch_ms / 1000, tz=timezone.utc)
    rows = [
        {**r, "next_fetch_time": ts0}
        for r in seed_urls(site, n_seeds=300, option_ratio=0.5)
    ]
    # pin the canonicalize+fingerprint+dedup chain ONCE, as engine.py
    # does in production: the scheduler output and the gate's dup rows
    # both read it, and each would otherwise re-derive the upstream
    # (createDataFrame → canonical UDF → fingerprint → gate)
    frontier = with_fingerprint(with_canonical(spark.createDataFrame(rows, FRONTIER_SCHEMA)))
    frontier = frontier.filter(F.col("valid")).localCheckpoint(eager=True)
    fresh, dups = dedup_gate(frontier, spark.createDataFrame([], URL_SEEN_SCHEMA))
    fresh = fresh.localCheckpoint(eager=True)
    politeness = politeness_dim(spark, robots_rules(site), domain_budgets(site, 8))
    # the engine's own scheduler; sleeping rows are not an outcome
    decided = schedule_round(fresh, politeness, 0, cfg)
    return (
        decided.filter(F.col("sched") != "sleeping")
        .select("ctx_id", "domain", F.col("sched").alias("outcome"))
        .unionByName(dups.select("ctx_id", "domain", F.lit("dup_dropped").alias("outcome")))
    )


def _multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tegenaria_spark.operators.multimodal import extract_features
    from tegenaria_spark.oracle_twins import expected_multimodal_features
    from tegenaria_spark.sources.synth import SiteConfig, image_record

    _ensure_fixture("multimodal_features", sf_dir, lambda: expected_multimodal_features(24))
    site = SiteConfig()
    rows = [
        tuple(
            image_record(f"img-{i:03d}-{i:04d}", f"cap {i}", "png" if i % 2 else "jpeg", site)[k]
            for k in ("image_id", "bytes", "w", "h", "fmt")
        )
        for i in range(24)
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, w int, h int, fmt string")
    return extract_features(df).select("image_id", "w", "h", "fmt", "phash")


# ---------------------------------------------------------------------------


def _multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # image near-dup by perceptual hash: decode → phash (Arrow-batched
    # UDF) → pigeonhole-blocked hamming join.  The twin brute-forces
    # all pairs, so the blocked join's recall must be total.
    from tegenaria_spark.operators.multimodal import extract_features, phash_near_pairs
    from tegenaria_spark.oracle_twins import expected_phash_neardup
    from tegenaria_spark.sources.synth import phash_testset

    _ensure_fixture(
        "multimodal_phash_neardup", sf_dir, lambda: expected_phash_neardup(24, 12, 8)
    )
    df = spark.createDataFrame(phash_testset(24, 12), "image_id string, bytes binary")
    feats = extract_features(df)
    return phash_near_pairs(feats, max_hamming=8)


def _dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    # near-dup pairs -> connected components -> canonical doc per
    # transitive cluster (the step that makes pair-wise dedup safe:
    # A~B, B~C must collapse to ONE kept doc, not pairwise deletes).
    # CC is the alternating large-star/small-star algorithm — O(log n)
    # rounds regardless of cluster diameter (operators/cluster.py).
    from tegenaria_spark.operators.cluster import canonical_assignments
    from tegenaria_spark.operators.textdedup import word_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = word_jaccard_pairs(docs, threshold_pct=95).select("doc_a", "doc_b")
    asg = canonical_assignments(docs.select("doc_id"), pairs)
    w = Window.partitionBy("component")
    return asg.withColumn("cluster_size", F.count("*").over(w).cast("long"))


def _sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic per-stratum downsampling (curation rebalance):
    # multiplicative-hash bucket so the oracle re-derives the exact
    # sample in SQL; the library default is xxhash64 (curation.py).
    from tegenaria_spark.operators.curation import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    out = stratified_sample(
        docs,
        {"en": 500, "fr": 300, "de": 200},
        default_permille=100,
        mode="multiplicative",
    )
    return out.select("doc_id", "lang", "bucket")


def _tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tegenaria_spark.operators.curation import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf_dir, "documents"), k=3)


def _corpus_dup_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    # n=3 because the synthetic docs are short word soup; the plan is
    # n-independent (grams become 64-bit keys either way)
    from tegenaria_spark.operators.curation import corpus_dup_ngrams

    return corpus_dup_ngrams(_t(spark, sf_dir, "documents"), n=3, min_df=2)


def _reweight_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    # multiplicative bucket so DuckDB re-derives the exact kept set
    from tegenaria_spark.operators.curation import reweight_to_token_budget

    return reweight_to_token_budget(
        _t(spark, sf_dir, "documents"),
        {"src0": 300, "src1": 300, "src2": 200, "src3": 100, "src4": 50, "src5": 50},
        total_target_tokens=10_000,
        mode="multiplicative",
    )


def _bucketed_quality_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # corpus⋈corpus on doc_id over a BUCKETED layout: the merge-hinted
    # self-join plans with ZERO Exchange and zero Sort (PLANS.md row) —
    # the repeated-join layout contract described in sources/bucketing.py
    from tegenaria_spark.sources.bucketing import read_table, write_bucketed

    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    tbl = f"bq_docs_{tag}"
    # cache key = source file identity, not just the path: if the
    # dataset at sf_dir is regenerated mid-session the stale bucketed
    # copy would silently diverge from the oracle (r3 ADVICE).  The
    # stamp lives next to the table files so a fresh session revalidates
    # a cache left by an earlier one.
    src = f"{sf_dir}/documents.parquet"
    st = os.stat(src)
    fingerprint = f"{st.st_mtime_ns}:{st.st_size}"
    base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    tbl_path = f"{base}/tegenaria_bucketed/{tag}"
    stamp = f"{base}/tegenaria_bucketed/{tag}.src.stamp"
    try:
        with open(stamp) as fh:
            stale = fh.read() != fingerprint
    except OSError:
        stale = True
    if stale or not spark.catalog.tableExists(tbl):
        if spark.catalog.tableExists(tbl):
            spark.sql(f"DROP TABLE {tbl}")
        write_bucketed(
            _t(spark, sf_dir, "documents").select("doc_id", "lang", "text"),
            tbl,
            "doc_id",
            8,
            path=tbl_path,
        )
        os.makedirs(os.path.dirname(stamp), exist_ok=True)
        with open(stamp, "w") as fh:
            fh.write(fingerprint)
    docs = read_table(spark, tbl)
    n_words = F.size(
        F.filter(F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), " "), lambda w: w != "")
    ).cast("long")
    a = docs.select("doc_id", "lang")
    b = docs.select("doc_id", n_words.alias("n_words")).filter(F.col("n_words") >= 10)
    return a.join(b.hint("merge"), "doc_id").select("doc_id", "lang", "n_words")


def _pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tegenaria_spark.operators.curation import pack_sequences

    return pack_sequences(_t(spark, sf_dir, "documents"), seq_len=512)


def _pii_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tegenaria_spark.operators.textstats import pii_stats

    return pii_stats(_t(spark, sf_dir, "documents"))


def _image_caption_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the north-rule store shape end-to-end: image+caption rows ->
    # decode -> phash (Arrow-batched) -> blocked hamming pairs ->
    # connected components -> keep the best-captioned copy per visual
    # cluster.  Twin re-derives everything via brute force + union-find.
    from tegenaria_spark.operators.multimodal import caption_dedup, extract_features
    from tegenaria_spark.oracle_twins import expected_caption_dedup
    from tegenaria_spark.sources.synth import captioned_phash_testset

    _ensure_fixture(
        "image_caption_dedup", sf_dir, lambda: expected_caption_dedup(24, 12, 8)
    )
    df = spark.createDataFrame(
        captioned_phash_testset(24, 12), "image_id string, bytes binary, caption string"
    )
    feats = extract_features(df)
    return caption_dedup(feats, max_hamming=8)


def _render_html_testset(spark: SparkSession):
    """(canon_url, body_html) rows for the fixed markup testset —
    rendered executor-side (mapInPandas), one deterministic page per
    URL (sources/synth.py page_html)."""
    import pandas as pd

    from tegenaria_spark.sources.synth import SiteConfig, html_testset_urls

    site = SiteConfig()
    urls = html_testset_urls(site)

    def render(it):
        from tegenaria_spark.functions.canonical import py_canonicalize
        from tegenaria_spark.sources.synth import page_html

        for pdf in it:
            yield pd.DataFrame(
                {
                    "url": [py_canonicalize(u)[0] for u in pdf["u"]],
                    "body_html": [page_html(u, site) for u in pdf["u"]],
                }
            )

    df = spark.createDataFrame([(u,) for u in urls], "u string")
    return df.repartition(8).mapInPandas(render, "url string, body_html string")


def _html_extract_quotes(spark: SparkSession, sf_dir: str) -> DataFrame:
    # real-markup item extraction (M4 over HTML, quotes-spider parity:
    # goquery `.quote`/`span.text`/`small.author`, spider.go:48-66):
    # render -> html.parser DOM -> selector extraction; the twin derives
    # the same rows from the generative quote model without parsing
    from tegenaria_spark.functions.html import html_select_udf
    from tegenaria_spark.oracle_twins import expected_html_quotes

    _ensure_fixture("html_extract_quotes", sf_dir, lambda: expected_html_quotes())
    pages = _render_html_testset(spark)
    texts = html_select_udf("div.quote span.text")
    authors = html_select_udf("div.quote small.author")
    quoted = pages.select(
        "url",
        F.arrays_zip(
            texts(F.col("body_html")).alias("text"),
            authors(F.col("body_html")).alias("author"),
        ).alias("qs"),
    )
    return quoted.select("url", F.posexplode("qs").alias("pos", "q")).select(
        "url", "pos", F.col("q.text").alias("text"), F.col("q.author").alias("author")
    )


def _html_extract_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    # real-markup outlink extraction + urljoin resolution (spider.go
    # 74-88 `li.next a[href]` next-page semantics); must recover the
    # structured outlinks bit-for-bit from relative hrefs
    from tegenaria_spark.functions.html import html_links_udf
    from tegenaria_spark.oracle_twins import expected_html_links

    _ensure_fixture("html_extract_links", sf_dir, lambda: expected_html_links())
    pages = _render_html_testset(spark)
    links = html_links_udf("ul.pager li.next a", "href")
    return pages.select(
        "url",
        F.posexplode(links(F.col("url"), F.col("body_html"))).alias("pos", "href"),
    )


def _crawl_resume_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q6/Q7 as a driver-contract row: run 2 rounds, "kill" (drop the
    # engine), resume from the committed snapshot with a FRESH engine,
    # drain — the final fetch log + url_seen set must equal the
    # simulator run straight through (twin).  Certifies that the
    # snapshot marker is a complete checkpoint and that the resumed
    # engine recomputes the interrupted round bit-identically.
    import shutil
    import tempfile

    from tegenaria_spark.config import EngineConfig
    from tegenaria_spark.oracle_twins import expected_crawl_resume
    from tegenaria_spark.plans.engine import CrawlEngine
    from tegenaria_spark.sources.store import LocalSnapshotStore
    from tegenaria_spark.sources.synth import (
        SiteConfig,
        domain_budgets,
        robots_rules,
        seed_urls,
    )

    _ensure_fixture("crawl_resume_parity", sf_dir, lambda: expected_crawl_resume())
    site = SiteConfig(n_domains=3, pages_per_domain=8)
    cfg = EngineConfig(shuffle_partitions=2, fetch_partitions=2)
    seeds = seed_urls(site, n_seeds=10)
    robots = robots_rules(site)
    budgets = domain_budgets(site, default_budget=4)
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    workdir = tempfile.mkdtemp(prefix="resume-parity-", dir=base)
    try:
        store = LocalSnapshotStore(workdir, spark, fp_buckets=cfg.fp_buckets)
        engine = CrawlEngine(
            spark, store, site, cfg, robots_rows=robots, budget_rows=budgets
        )
        engine.run(seeds, max_rounds=1)  # interrupted here
        store2 = LocalSnapshotStore(workdir, spark, fp_buckets=cfg.fp_buckets)
        engine2 = CrawlEngine(
            spark, store2, site, cfg, robots_rows=robots, budget_rows=budgets
        )
        # 1 more round (2 total, aligned with the twin's cap): the
        # parity assertion needs the kill/resume BOUNDARY — a fresh
        # engine recomputing from the round-1 snapshot — not a long
        # drain; extra rounds only added per-round Spark-stage
        # constants to the gate's wall (26 s at r4, the gate-budget
        # suspect that left this key driver-uncertified)
        engine2.run(resume=True, max_rounds=1)
        log = store2.read_log("fetch_log").select(
            F.lit("log").alias("kind"),
            F.col("round").cast("int").alias("round"),
            F.col("seq").cast("long").alias("seq"),
            F.col("url"),
            F.col("outcome"),
            F.lit(0).cast("long").alias("fp"),
        )
        seen = store2.read_url_seen(store2.last_committed_round()).select(
            F.lit("seen").alias("kind"),
            F.lit(-1).cast("int").alias("round"),
            F.lit(-1).cast("long").alias("seq"),
            F.lit("").alias("url"),
            F.lit("").alias("outcome"),
            F.col("fp").cast("long").alias("fp"),
        )
        # pin before the workdir vanishes (the driver collects later)
        return log.unionByName(seen).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Dict order is the order the driver's gate runs; r4's gate was
    # truncated by its time budget with the last three keys uncertified.
    # The keys that have never appeared in a driver CORRECTNESS file run
    # FIRST; the long-certified expensive dedup family runs last.
    return {
        "html_extract_quotes": _html_extract_quotes,
        "html_extract_links": _html_extract_links,
        "crawl_resume_parity": _crawl_resume_parity,
        "robots_residual_schedule": _robots_residual_schedule,
        "f1_dedup_anti_join": _f1_dedup_anti_join,
        "f5_status_allow_filter": _f5_status_allow_filter,
        "q1_priority_window_topk": _q1_priority_window_topk,
        "q2_politeness_budget": _q2_politeness_budget,
        "q5_sessionize": _q5_sessionize,
        "q8_backpressure_topk": _q8_backpressure_topk,
        "a5_dedup_rate": _a5_dedup_rate,
        "a5_cuckoo_dedup_gate": _a5_cuckoo_dedup_gate,
        "a1_metrics_counts": _a1_metrics_counts,
        "a3_count_over_time": _a3_count_over_time,
        "a3_stream_windowed_counts": _a3_stream_windowed_counts,
        "a1_stream_stateful_counts": _a1_stream_stateful_counts,
        "a6_union_distinct": _a6_union_distinct,
        "a8_outcome_rollup": _a8_outcome_rollup,
        "m1_transform_chain": _m1_transform_chain,
        "m10_response_decode": _m10_response_decode,
        "join_broadcast_rollup": _agg_join_broadcast,
        "dedup_exact": _dedup_exact,
        "dedup_jaccard_words": _dedup_jaccard_words,
        "dedup_jaccard_ngrams": _dedup_jaccard_ngrams,
        "dedup_substring_spans": _dedup_substring_spans,
        "dedup_substring_clean": _dedup_substring_clean,
        "dedup_minhash_lsh": _dedup_minhash_lsh,
        "dedup_simhash": _dedup_simhash,
        "text_quality": _text_quality,
        "quality_rule_flags": _quality_rule_flags,
        "text_lang_id": _text_lang_id,
        "text_token_counts": _text_token_counts,
        "text_repetition": _text_repetition,
        "decontaminate_ngrams": _decontaminate_ngrams,
        "doc_fingerprints": _doc_fingerprints,
        "pipeline_quality_dedup": _pipeline_quality_dedup,
        "ann_cosine_topk": _ann_cosine_topk,
        "ann_cosine_topk_lsh": _ann_cosine_topk_lsh,
        "ann_cosine_topk_ivf": _ann_cosine_topk_ivf,
        "embedding_neardup": _embedding_neardup,
        "crawl_fingerprints": _crawl_fingerprints,
        "robots_txt_gate": _robots_txt_gate,
        "crawl_round_schedule": _crawl_round_schedule,
        "multimodal_features": _multimodal_features,
        "multimodal_phash_neardup": _multimodal_phash_neardup,
        "dedup_cluster_canonical": _dedup_cluster_canonical,
        "sample_stratified": _sample_stratified,
        "tfidf_top_terms": _tfidf_top_terms,
        "image_caption_dedup": _image_caption_dedup,
        "pack_sequences": _pack_sequences,
        "pii_stats": _pii_stats,
        "corpus_dup_ngrams": _corpus_dup_ngrams,
        "reweight_token_budget": _reweight_token_budget,
        "bucketed_quality_join": _bucketed_quality_join,
    }


def oracle_sql() -> dict[str, str]:
    lang_case = (
        "CASE "
        "WHEN ' ' || lower(text) || ' ' LIKE '% the %' OR ' ' || lower(text) || ' ' LIKE '% and %' "
        "OR ' ' || lower(text) || ' ' LIKE '% with %' THEN 'en' "
        "WHEN ' ' || lower(text) || ' ' LIKE '% le %' OR ' ' || lower(text) || ' ' LIKE '% la %' "
        "OR ' ' || lower(text) || ' ' LIKE '% les %' THEN 'fr' "
        "WHEN ' ' || lower(text) || ' ' LIKE '% der %' OR ' ' || lower(text) || ' ' LIKE '% und %' "
        "OR ' ' || lower(text) || ' ' LIKE '% das %' THEN 'de' "
        "WHEN ' ' || lower(text) || ' ' LIKE '% el %' OR ' ' || lower(text) || ' ' LIKE '% los %' "
        "OR ' ' || lower(text) || ' ' LIKE '% una %' THEN 'es' "
        "ELSE 'other' END"
    )
    return {
        "f1_dedup_anti_join": (
            "SELECT o_orderkey, o_custkey FROM orders "
            "WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey) "
            "ORDER BY o_orderkey"
        ),
        "f5_status_allow_filter": (
            "SELECT event_id, event_type FROM events "
            "WHERE value < 300 OR event_type IN ('error','signup')"
        ),
        "q1_priority_window_topk": (
            "SELECT o_custkey, o_orderkey, rank FROM ("
            "  SELECT o_custkey, o_orderkey, "
            "         row_number() OVER (PARTITION BY o_custkey "
            "             ORDER BY o_totalprice DESC, o_orderkey ASC)::INT AS rank "
            "  FROM orders) WHERE rank <= 3"
        ),
        "q2_politeness_budget": (
            "SELECT event_type, event_id, rank FROM ("
            "  SELECT event_type, event_id, "
            "         row_number() OVER (PARTITION BY event_type "
            "             ORDER BY ts ASC, event_id ASC)::INT AS rank "
            "  FROM events) WHERE rank <= 16"
        ),
        "q5_sessionize": (
            "SELECT user_id, session_no, count(*) AS n_events FROM ("
            "  SELECT user_id, "
            "         CAST(sum(is_new) OVER (PARTITION BY user_id "
            "             ORDER BY ts ASC, event_id ASC) AS INT) AS session_no "
            "  FROM ("
            "    SELECT user_id, ts, event_id, "
            "           CASE WHEN prev_ts IS NULL "
            "                  OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END AS is_new "
            "    FROM ("
            "      SELECT user_id, ts, event_id, "
            "             lag(ts) OVER (PARTITION BY user_id "
            "                 ORDER BY ts ASC, event_id ASC) AS prev_ts "
            "      FROM events))) "
            "GROUP BY user_id, session_no"
        ),
        "q8_backpressure_topk": (
            "SELECT o_orderkey FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100"
        ),
        "a5_dedup_rate": (
            "SELECT source, count(*) AS n_docs, count(DISTINCT text) AS n_distinct, "
            "       count(DISTINCT lang) AS n_langs FROM documents GROUP BY source"
        ),
        "a5_cuckoo_dedup_gate": (
            "SELECT doc_id, coalesce(text, '') IN "
            "  (SELECT coalesce(text, '') FROM documents WHERE doc_id < 400) "
            "  AS seen_exact FROM documents"
        ),
        "a1_metrics_counts": (
            "SELECT event_type, count(*) AS n FROM events GROUP BY event_type"
        ),
        "a1_stream_stateful_counts": (
            "SELECT event_type AS key, count(*) AS n FROM events GROUP BY event_type"
        ),
        "a3_count_over_time": (
            "SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n "
            "FROM events GROUP BY 1, 2"
        ),
        "a3_stream_windowed_counts": (
            "SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n "
            "FROM events GROUP BY 1, 2"
        ),
        "a6_union_distinct": (
            "SELECT user_id AS key FROM events UNION SELECT o_custkey AS key FROM orders"
        ),
        "a8_outcome_rollup": (
            "SELECT o_orderstatus, o_orderpriority, count(*) AS n, "
            "       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_price_cents "
            "FROM orders GROUP BY 1, 2"
        ),
        "m1_transform_chain": (
            "SELECT l_orderkey, l_linenumber, "
            "       CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) "
            "           AS disc_price_cents, "
            "       (l_returnflag = 'R')::INT AS is_return "
            "FROM lineitem WHERE l_quantity >= 25"
        ),
        "m10_response_decode": (
            "SELECT o_orderkey, o_custkey, o_orderstatus AS status, "
            "       o_orderpriority AS priority FROM orders"
        ),
        "join_broadcast_rollup": (
            "SELECT c_mktsegment, count(*) AS n_orders, "
            "       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents "
            "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1"
        ),
        "dedup_exact": (
            "SELECT min(doc_id) AS kept_doc_id, count(*) AS group_size "
            "FROM documents GROUP BY text"
        ),
        "dedup_jaccard_words": (
            "WITH words AS ("
            "  SELECT DISTINCT doc_id, w FROM ("
            "    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents) "
            "  WHERE w <> ''), "
            "counts AS (SELECT doc_id, count(*) AS n FROM words GROUP BY doc_id), "
            "inter AS ("
            "  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i "
            "  FROM words a JOIN words b ON a.w = b.w AND a.doc_id < b.doc_id "
            "  GROUP BY 1, 2) "
            "SELECT da AS doc_a, db AS doc_b, i AS n_common, "
            "       (ca.n + cb.n - i) AS n_union "
            "FROM inter JOIN counts ca ON da = ca.doc_id JOIN counts cb ON db = cb.doc_id "
            "WHERE i * 100 >= 95 * (ca.n + cb.n - i)"
        ),
        "dedup_jaccard_ngrams": (
            "WITH toks AS ("
            "  SELECT DISTINCT doc_id, substr(lt, CAST(i AS INT), 3) AS w "
            "  FROM (SELECT doc_id, lower(text) AS lt, "
            "               unnest(generate_series(1, length(lower(text)) - 2)) AS i "
            "        FROM documents WHERE length(text) >= 3)), "
            "counts AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id), "
            "inter AS ("
            "  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i "
            "  FROM toks a JOIN toks b ON a.w = b.w AND a.doc_id < b.doc_id "
            "  GROUP BY 1, 2) "
            "SELECT da AS doc_a, db AS doc_b, i AS n_common, "
            "       (ca.n + cb.n - i) AS n_union "
            "FROM inter JOIN counts ca ON da = ca.doc_id JOIN counts cb ON db = cb.doc_id "
            "WHERE i * 100 >= 90 * (ca.n + cb.n - i)"
        ),
        "text_quality": (
            "SELECT doc_id, length(text) AS n_chars, "
            "       len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_words, "
            "       length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct, "
            "       len(list_filter(string_split(text, ' '), "
            "           x -> lower(x) IN ('the','a','and','of','to'))) AS n_stopwords, "
            "       len(list_distinct(list_transform("
            "           list_filter(string_split(text, ' '), x -> x <> ''), x -> lower(x)))) "
            "           AS n_distinct_words "
            "FROM documents"
        ),
        "text_lang_id": f"SELECT doc_id, {lang_case} AS lang_guess FROM documents",
        "quality_rule_flags": (
            "WITH base AS ("
            "  SELECT doc_id, lower(coalesce(text, '')) AS t, "
            "         list_filter(string_split(lower(coalesce(text, '')), ' '), "
            "                     w -> w <> '') AS ws FROM documents), "
            "m AS ("
            "  SELECT doc_id, t, CAST(len(ws) AS BIGINT) AS n_words, "
            "    CAST(coalesce(list_sum(list_transform(ws, w -> length(w))), 0) AS BIGINT) "
            "      AS sum_len, "
            "    CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) AS BIGINT) "
            "      AS alpha_words, "
            "    CAST(len(list_filter(ws, w -> w IN ('the','be','to','of','and','that',"
            "'have','with'))) AS BIGINT) AS stop_hits, "
            "    CAST(length(regexp_replace(t, '[^.!?]', '', 'g')) AS BIGINT) "
            "      AS n_sentences "
            "  FROM base) "
            "SELECT doc_id, n_words, "
            "  (n_words >= 50 AND n_words <= 100000) AS gopher_word_count_ok, "
            "  (n_words > 0 AND sum_len >= 3 * n_words AND sum_len <= 10 * n_words) "
            "    AS gopher_mean_word_len_ok, "
            "  (n_words > 0 AND 5 * alpha_words >= 4 * n_words) AS gopher_alpha_ratio_ok, "
            "  (stop_hits >= 2) AS gopher_stopwords_ok, "
            "  (NOT contains(t, '{')) AS c4_no_curly, "
            "  (NOT contains(t, 'lorem ipsum')) AS c4_no_lorem, "
            "  (NOT contains(t, 'javascript')) AS c4_no_javascript, "
            "  (n_sentences >= 3) AS c4_sentences_ok, "
            "  ((n_words >= 50 AND n_words <= 100000) "
            "   AND (n_words > 0 AND sum_len >= 3 * n_words AND sum_len <= 10 * n_words) "
            "   AND (n_words > 0 AND 5 * alpha_words >= 4 * n_words) "
            "   AND (stop_hits >= 2)) AS gopher_keep, "
            "  ((NOT contains(t, '{')) AND (NOT contains(t, 'lorem ipsum')) "
            "   AND (NOT contains(t, 'javascript')) AND (n_sentences >= 3)) AS c4_keep "
            "FROM m"
        ),
        "pipeline_quality_dedup": (
            "WITH q AS ("
            "  SELECT doc_id, text, length(text) AS n_chars, "
            "         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_words, "
            "         length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct, "
            f"        {lang_case} AS lang_guess "
            "  FROM documents) "
            "SELECT min(doc_id) AS kept_doc_id, count(*) AS group_size FROM q "
            "WHERE lang_guess = 'en' AND n_words >= 15 AND n_punct * 10 <= n_chars "
            "GROUP BY text"
        ),
        "text_token_counts": (
            "SELECT doc_id, "
            "       len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) "
            "           AS n_ws_tokens, "
            "       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) "
            "           AS n_bpe_segments "
            "FROM documents"
        ),
        # integer-ppm repetition signals; floor division (`div` / `//`)
        # on both sides so no float ever crosses the engine boundary
        "text_repetition": (
            "WITH toks AS ("
            "  SELECT doc_id, list_filter(string_split(lower(coalesce(text, '')), ' '), "
            "                             w -> w <> '') AS ws FROM documents), "
            "words AS (SELECT doc_id, unnest(ws) AS w FROM toks), "
            "wc AS ("
            "  SELECT doc_id, count(*) AS n_distinct, max(cnt) AS topc "
            "  FROM (SELECT doc_id, w, count(*) AS cnt FROM words GROUP BY doc_id, w) "
            "  GROUP BY doc_id), "
            "bg AS ("
            "  SELECT doc_id, len(ws) AS nw, greatest(len(ws) - 1, 0) AS n_bg, "
            "         len(list_distinct(list_transform(generate_series(1, len(ws) - 1), "
            "             i -> ws[i] || ' ' || ws[i + 1]))) AS n_bg_d "
            "  FROM toks) "
            "SELECT bg.doc_id, CAST(bg.nw AS BIGINT) AS n_words, "
            "  CAST(coalesce(CASE WHEN bg.nw > 0 THEN "
            "    ((bg.nw - coalesce(wc.n_distinct, 0)) * 1000000) // bg.nw "
            "    ELSE 0 END, 0) AS BIGINT) AS dup_word_ppm, "
            "  CAST(coalesce(CASE WHEN bg.nw > 0 THEN "
            "    (coalesce(wc.topc, 0) * 1000000) // bg.nw ELSE 0 END, 0) AS BIGINT) "
            "    AS top_word_ppm, "
            "  CAST(coalesce(CASE WHEN bg.n_bg > 0 THEN "
            "    ((bg.n_bg - bg.n_bg_d) * 1000000) // bg.n_bg ELSE 0 END, 0) AS BIGINT) "
            "    AS dup_bigram_ppm "
            "FROM bg LEFT JOIN wc USING (doc_id)"
        ),
        # train/eval n-gram overlap; the eval set is the doc_id % 23
        # stratum on both sides
        "decontaminate_ngrams": (
            "WITH grams AS ("
            "  SELECT doc_id, list_distinct(CASE WHEN len(ws) >= 3 THEN "
            "      list_transform(generate_series(1, len(ws) - 2), "
            "                     i -> array_to_string(ws[i:i+2], ' ')) "
            "      ELSE [] END) AS gs "
            "  FROM (SELECT doc_id, list_filter(string_split(lower(coalesce(text, '')), ' '), "
            "                                   w -> w <> '') AS ws FROM documents)), "
            "ev AS (SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id % 23 = 0), "
            "tg AS (SELECT doc_id, unnest(gs) AS g FROM grams WHERE doc_id % 23 <> 0), "
            "counts AS ("
            "  SELECT tg.doc_id, count(*) AS n_ngrams, count(ev.g) AS n_matched "
            "  FROM tg LEFT JOIN ev ON tg.g = ev.g GROUP BY tg.doc_id) "
            "SELECT d.doc_id, "
            "  CAST(coalesce(n_ngrams, 0) AS BIGINT) AS n_ngrams, "
            "  CAST(coalesce(n_matched, 0) AS BIGINT) AS n_matched, "
            "  CAST(coalesce(CASE WHEN n_ngrams > 0 THEN "
            "    (coalesce(n_matched, 0) * 1000000) // n_ngrams ELSE 0 END, 0) AS BIGINT) "
            "    AS matched_ppm, "
            "  CAST(CASE WHEN coalesce(CASE WHEN n_ngrams > 0 THEN "
            "    (coalesce(n_matched, 0) * 1000000) // n_ngrams ELSE 0 END, 0) >= 100000 "
            "    THEN 1 ELSE 0 END AS INT) AS contaminated "
            "FROM (SELECT doc_id FROM documents WHERE doc_id % 23 <> 0) d "
            "LEFT JOIN counts USING (doc_id)"
        ),
        # fixture oracle (oracle_twins.expected_ann_topk): the fold-exact
        # twin — a DuckDB list_dot_product oracle sums in a different
        # order, so float ranks agreed only absent near-ties
        "ann_cosine_topk": (
            "SELECT query_id, neighbor_id, rank "
            f"FROM read_parquet('{_fixture_path('ann_cosine_topk')}')"
        ),
        # integer-exact twin of the operator's accept rule: Q=floor(v·2^20)
        # (power-of-two scale + floor — bit-identical across engines), then
        # cos ≥ 2/5  ⟺  dot>0 ∧ 25·dot² ≥ 4·|Qa|²·|Qb|² in exact integers
        # (dots ≤ 2^46 are exact in float64; the cross-multiplied squares
        # go through HUGEINT).  No float threshold crosses engines.
        "embedding_neardup": (
            "WITH q AS (SELECT vec_id, "
            "           list_transform(embedding::DOUBLE[], x -> floor(x * 1048576.0)) AS qv "
            "           FROM embeddings) "
            "SELECT a.vec_id AS vec_a, b.vec_id AS vec_b "
            "FROM q a JOIN q b ON a.vec_id < b.vec_id "
            "WHERE list_dot_product(a.qv, b.qv) > 0 "
            "  AND 25 * CAST(list_dot_product(a.qv, b.qv) AS HUGEINT) "
            "         * CAST(list_dot_product(a.qv, b.qv) AS HUGEINT) "
            "      >= 4 * CAST(list_dot_product(a.qv, a.qv) AS HUGEINT) "
            "           * CAST(list_dot_product(b.qv, b.qv) AS HUGEINT)"
        ),
        # --- expected-fixture oracles: independent single-threaded
        # twins (tegenaria_spark/oracle_twins.py) materialized to
        # parquet by the queries() callables; semantics not ANSI-SQL-
        # expressible (hash-seeded LSH / engine scheduling / codecs)
        "dedup_minhash_lsh": (
            f"SELECT doc_a, doc_b FROM read_parquet('{_fixture_path('dedup_minhash_lsh')}')"
        ),
        "dedup_simhash": (
            f"SELECT doc_a, doc_b, hamming FROM read_parquet('{_fixture_path('dedup_simhash')}')"
        ),
        "doc_fingerprints": (
            "SELECT doc_id, content_hash, winnow_fp "
            f"FROM read_parquet('{_fixture_path('doc_fingerprints')}')"
        ),
        "ann_cosine_topk_lsh": (
            "SELECT query_id, neighbor_id, rank "
            f"FROM read_parquet('{_fixture_path('ann_cosine_topk_lsh')}')"
        ),
        "ann_cosine_topk_ivf": (
            "SELECT query_id, neighbor_id, rank "
            f"FROM read_parquet('{_fixture_path('ann_cosine_topk_ivf')}')"
        ),
        "html_extract_quotes": (
            "SELECT url, pos, text, author "
            f"FROM read_parquet('{_fixture_path('html_extract_quotes')}')"
        ),
        "html_extract_links": (
            "SELECT url, pos, href "
            f"FROM read_parquet('{_fixture_path('html_extract_links')}')"
        ),
        "crawl_resume_parity": (
            "SELECT kind, round, seq, url, outcome, fp "
            f"FROM read_parquet('{_fixture_path('crawl_resume_parity')}')"
        ),
        "crawl_fingerprints": (
            "SELECT ctx_id, canon_url, domain, fp "
            f"FROM read_parquet('{_fixture_path('crawl_fingerprints')}')"
        ),
        "robots_txt_gate": (
            "SELECT domain, path, allowed "
            f"FROM read_parquet('{_fixture_path('robots_txt_gate')}')"
        ),
        "robots_residual_schedule": (
            "SELECT domain, path, sched "
            f"FROM read_parquet('{_fixture_path('robots_residual_schedule')}')"
        ),
        "crawl_round_schedule": (
            "SELECT ctx_id, domain, outcome "
            f"FROM read_parquet('{_fixture_path('crawl_round_schedule')}')"
        ),
        "multimodal_features": (
            "SELECT image_id, w, h, fmt, phash "
            f"FROM read_parquet('{_fixture_path('multimodal_features')}')"
        ),
        "multimodal_phash_neardup": (
            "SELECT image_a, image_b, hamming "
            f"FROM read_parquet('{_fixture_path('multimodal_phash_neardup')}')"
        ),
        # transitive closure of the SAME jaccard-95 pair set, min-id per
        # component via recursive CTE — independently re-derives what the
        # large-star/small-star DataFrame loop computes
        "dedup_cluster_canonical": (
            "WITH RECURSIVE words AS ("
            "  SELECT DISTINCT doc_id, w FROM ("
            "    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents) "
            "  WHERE w <> ''), "
            "counts AS (SELECT doc_id, count(*) AS n FROM words GROUP BY doc_id), "
            "inter AS ("
            "  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i "
            "  FROM words a JOIN words b ON a.w = b.w AND a.doc_id < b.doc_id "
            "  GROUP BY 1, 2), "
            "pairs AS ("
            "  SELECT da, db FROM inter "
            "  JOIN counts ca ON da = ca.doc_id JOIN counts cb ON db = cb.doc_id "
            "  WHERE i * 100 >= 95 * (ca.n + cb.n - i)), "
            "edges AS (SELECT da AS u, db AS v FROM pairs UNION SELECT db, da FROM pairs), "
            "reach(u, v) AS ("
            "  SELECT u, v FROM edges "
            "  UNION "
            "  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u), "
            "comp AS (SELECT u AS doc_id, least(u, min(v)) AS component FROM reach GROUP BY u), "
            "asg AS ("
            "  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component "
            "  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id) "
            "SELECT doc_id, component, "
            "       count(*) OVER (PARTITION BY component) AS cluster_size FROM asg"
        ),
        "sample_stratified": (
            "SELECT doc_id, lang, "
            "       ((doc_id * 2654435761) % 4294967296) % 1000 AS bucket "
            "FROM documents "
            "WHERE ((doc_id * 2654435761) % 4294967296) % 1000 < "
            "      CASE lang WHEN 'en' THEN 500 WHEN 'fr' THEN 300 "
            "                WHEN 'de' THEN 200 ELSE 100 END"
        ),
        "tfidf_top_terms": (
            "WITH words AS ("
            "  SELECT doc_id, w AS term FROM ("
            "    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents) "
            "  WHERE w <> ''), "
            "tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY 1, 2), "
            "df AS (SELECT term, count(DISTINCT doc_id) AS df FROM words GROUP BY 1), "
            "n AS (SELECT count(*) AS n FROM documents), "
            "scored AS ("
            "  SELECT tf.doc_id, tf.term, tf.tf * ((n.n * 1000000) // df.df) AS score "
            "  FROM tf JOIN df USING (term) CROSS JOIN n) "
            "SELECT doc_id, term, "
            "       (row_number() OVER (PARTITION BY doc_id "
            "            ORDER BY score DESC, term ASC))::INT AS rank, score "
            "FROM scored QUALIFY rank <= 3"
        ),
        "image_caption_dedup": (
            "SELECT image_id, component, kept_image_id, cluster_size, is_kept "
            f"FROM read_parquet('{_fixture_path('image_caption_dedup')}')"
        ),
        "pack_sequences": (
            "WITH toks AS ("
            "  SELECT doc_id, source AS shard, "
            "         CAST(len(list_filter(string_split(lower(coalesce(text, '')), ' '), "
            "                              w -> w <> '')) AS BIGINT) AS n_tokens "
            "  FROM documents), "
            "cums AS ("
            "  SELECT doc_id, shard, n_tokens, "
            "         CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id "
            "              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum "
            "  FROM toks) "
            "SELECT doc_id, shard, n_tokens, "
            "       CAST((cum - n_tokens) // 512 AS BIGINT) AS seq_first, "
            "       CAST((CASE WHEN n_tokens > 0 THEN cum - 1 ELSE cum END) // 512 AS BIGINT) "
            "           AS seq_last, "
            "       CAST((cum - n_tokens) % 512 AS BIGINT) AS seq_offset, "
            "       CAST((CASE WHEN n_tokens > 0 THEN cum - 1 ELSE cum END) // 512 "
            "            - (cum - n_tokens) // 512 + 1 AS BIGINT) AS n_seqs "
            "FROM cums"
        ),
        "pii_stats": (
            # patterns are the RE2∩Java-safe subset declared in
            # textstats._PII_PATTERNS; counts on the original text,
            # replacement order email → phone → ip, as in the operator
            r"SELECT doc_id, "
            r"  CAST(len(regexp_extract_all(coalesce(text, ''), "
            r"       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails, "
            r"  CAST(len(regexp_extract_all(coalesce(text, ''), "
            r"       '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b')) AS BIGINT) AS n_phones, "
            r"  CAST(len(regexp_extract_all(coalesce(text, ''), "
            r"       '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ips, "
            r"  regexp_replace(regexp_replace(regexp_replace(coalesce(text, ''), "
            r"       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), "
            r"       '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g'), "
            r"       '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') "
            r"     AS redacted "
            r"FROM documents"
        ),
        "dedup_substring_spans": (
            "WITH toks AS ("
            "  SELECT doc_id, list_filter(string_split(lower(coalesce(text, '')), ' '), "
            "                             w -> w <> '') AS ws FROM documents), "
            "grams AS ("
            "  SELECT doc_id, i AS pos, array_to_string(ws[i+1:i+8], ' ') AS g "
            "  FROM (SELECT doc_id, ws, unnest(generate_series(0, len(ws) - 8)) AS i "
            "        FROM toks WHERE len(ws) >= 8)), "
            "dup AS (SELECT doc_id, pos FROM ("
            "  SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS occ FROM grams) "
            "  WHERE occ >= 2), "
            "isl AS (SELECT doc_id, pos, "
            "        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp "
            "        FROM dup) "
            "SELECT doc_id, CAST(min(pos) AS BIGINT) AS start_tok, "
            "       CAST(max(pos) + 7 AS BIGINT) AS end_tok, "
            "       CAST(max(pos) - min(pos) + 8 AS BIGINT) AS span_len "
            "FROM isl GROUP BY doc_id, grp"
        ),
        "dedup_substring_clean": (
            "WITH toks AS ("
            "  SELECT doc_id, list_filter(string_split(lower(coalesce(text, '')), ' '), "
            "                             w -> w <> '') AS ws FROM documents), "
            "tok AS (SELECT doc_id, i AS pos, ws[i+1] AS tok "
            "        FROM (SELECT doc_id, ws, unnest(generate_series(0, len(ws) - 1)) AS i "
            "              FROM toks WHERE len(ws) >= 1)), "
            "grams AS ("
            "  SELECT doc_id, i AS pos, array_to_string(ws[i+1:i+8], ' ') AS g "
            "  FROM (SELECT doc_id, ws, unnest(generate_series(0, len(ws) - 8)) AS i "
            "        FROM toks WHERE len(ws) >= 8)), "
            "dup AS (SELECT doc_id, pos FROM ("
            "  SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS occ FROM grams) "
            "  WHERE occ >= 2), "
            "cov AS (SELECT DISTINCT doc_id, unnest(generate_series(pos, pos + 7)) AS pos "
            "        FROM dup), "
            "kept AS ("
            "  SELECT t.doc_id, count(*) AS n_tokens, "
            "         sum(CASE WHEN c.pos IS NOT NULL THEN 1 ELSE 0 END) AS n_removed, "
            "         string_agg(CASE WHEN c.pos IS NULL THEN t.tok END, ' ' ORDER BY t.pos) "
            "           AS clean_text "
            "  FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos "
            "  GROUP BY t.doc_id) "
            "SELECT d.doc_id, CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens, "
            "       CAST(coalesce(n_removed, 0) AS BIGINT) AS n_removed, "
            "       coalesce(clean_text, '') AS clean_text "
            "FROM (SELECT doc_id FROM documents) d LEFT JOIN kept USING (doc_id)"
        ),
        "corpus_dup_ngrams": (
            "WITH grams AS ("
            "  SELECT doc_id, list_distinct(CASE WHEN len(ws) >= 3 THEN "
            "      list_transform(generate_series(1, len(ws) - 2), "
            "                     i -> array_to_string(ws[i:i+2], ' ')) "
            "      ELSE [] END) AS gs "
            "  FROM (SELECT doc_id, list_filter(string_split(lower(coalesce(text, '')), ' '), "
            "                                   w -> w <> '') AS ws FROM documents)), "
            "g AS (SELECT doc_id, unnest(gs) AS g FROM grams), "
            "wd AS (SELECT doc_id, count(*) OVER (PARTITION BY g) AS df FROM g), "
            "counts AS ("
            "  SELECT doc_id, count(*) AS n_ngrams, "
            "         sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS n_dup "
            "  FROM wd GROUP BY doc_id) "
            "SELECT d.doc_id, "
            "  CAST(coalesce(n_ngrams, 0) AS BIGINT) AS n_ngrams, "
            "  CAST(coalesce(n_dup, 0) AS BIGINT) AS n_dup, "
            "  CAST(coalesce(CASE WHEN n_ngrams > 0 THEN "
            "    (coalesce(n_dup, 0) * 1000000) // n_ngrams ELSE 0 END, 0) AS BIGINT) "
            "    AS dup_ppm "
            "FROM (SELECT doc_id FROM documents) d LEFT JOIN counts USING (doc_id)"
        ),
        "reweight_token_budget": (
            "WITH base AS ("
            "  SELECT doc_id, source AS stratum, "
            "         CAST(len(list_filter(string_split(lower(coalesce(text, '')), ' '), "
            "                              w -> w <> '')) AS BIGINT) AS n_tokens "
            "  FROM documents), "
            "mass AS (SELECT stratum, sum(n_tokens) AS stratum_tokens "
            "         FROM base GROUP BY stratum), "
            "rates AS ("
            "  SELECT stratum, CAST(least(1000, CASE WHEN stratum_tokens > 0 THEN "
            "      ((10000 * CASE stratum WHEN 'src0' THEN 300 WHEN 'src1' THEN 300 "
            "                             WHEN 'src2' THEN 200 WHEN 'src3' THEN 100 "
            "                             WHEN 'src4' THEN 50 WHEN 'src5' THEN 50 "
            "                             ELSE 0 END) // 1000) * 1000 // stratum_tokens "
            "      ELSE 1000 END) AS BIGINT) AS permille "
            "  FROM mass) "
            "SELECT doc_id, stratum, n_tokens, "
            "       CAST(((doc_id * 2654435761) % 4294967296) % 1000 AS BIGINT) AS bucket, "
            "       permille "
            "FROM base JOIN rates USING (stratum) "
            "WHERE ((doc_id * 2654435761) % 4294967296) % 1000 < permille"
        ),
        "bucketed_quality_join": (
            # doc_id is unique, so the bucketed self-join collapses to a
            # single-scan equivalent in ANSI SQL
            "SELECT doc_id, lang, n_words FROM ("
            "  SELECT doc_id, lang, "
            "         CAST(len(list_filter(string_split(lower(coalesce(text, '')), ' '), "
            "                              w -> w <> '')) AS BIGINT) AS n_words "
            "  FROM documents) WHERE n_words >= 10"
        ),
    }

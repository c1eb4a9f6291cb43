"""Parse stage: parser registry, item extraction, outlink growth.

The reference dispatches to a parser by reflective method-name lookup
(/root/reference/engine.go:466-489, utils.go:65-75) and parsers push
items into a channel and new requests back into the engine
(example/quotes/spider.go:48-90).  The rebuild replaces reflection with
a plain registry dict; a parser is a *DataFrame transform*
``parse(fetched_df) -> (items_df, links_df)`` — column-level work stays
JVM-side, and a parser that genuinely needs Python does its work in a
pandas UDF it owns.

Deterministic FIFO sequencing: new requests are ordered by
``(parent enqueue_seq, outlink position)`` — the linearization of the
reference's enqueue order — and assigned
``enqueue_seq = round·stride + rank`` via range-partition +
``zipWithIndex`` (distributed: one count job + per-partition offsets; no
single-task global window)."""

from __future__ import annotations

from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from tegenaria_spark.config import EngineConfig
from tegenaria_spark.schemas import IMAGES_SCHEMA

ParserFn = Callable[[DataFrame], tuple[DataFrame, DataFrame]]

PARSER_REGISTRY: dict[str, ParserFn] = {}


def register_parser(name: str):
    """Registry-key dispatch replacing Go reflection (utils.go:73-75);
    like the reference (distributed/utils.go:40-42) unnamed parsers are
    rejected — here by requiring explicit registration."""

    def deco(fn: ParserFn) -> ParserFn:
        PARSER_REGISTRY[name] = fn
        return fn

    return deco


@register_parser("image_parser")
def image_parser(ok: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The flagship parser (quotes-spider analogue): emit one image
    item per 200-page carrying a payload, and every outlink as a new
    request candidate.  phash rides along from the fetch stage (computed
    vectorized there, over the stored bytes) — the item table matches
    the input_hint shape exactly.  ``functions.images.with_phash`` is
    the standalone vectorized recompute used for store verification."""
    items = ok.filter(F.col("image_id").isNotNull()).select(
        F.col("image_id"),
        F.col("image_bytes").alias("bytes"),
        F.col("img_w").alias("w"),
        F.col("img_h").alias("h"),
        F.col("img_fmt").alias("fmt"),
        F.col("caption"),
        F.col("img_phash").alias("phash"),
    ).select([f.name for f in IMAGES_SCHEMA.fields])
    links = ok.select(
        F.col("enqueue_seq").alias("parent_seq"),
        F.col("priority").alias("parent_priority"),
        F.col("parser").alias("parent_parser"),
        F.posexplode(F.col("outlinks")).alias("pos", "url"),
    )
    return items, links


def build_quote_html_parser(name: str = "quote_html_parser") -> str:
    """Register (idempotently) a parser that extracts BOTH items and
    outlinks from real markup — the ported quotes spider
    (example/quotes/spider.go:48-90): ``div.quote`` items with
    ``span.text`` / ``small.author`` fields, next links from
    ``ul.pager li.next a`` hrefs resolved absolute against the page URL.
    Requires ``EngineConfig(render_html=True)`` so fetched rows carry
    ``body_html``.  Registration is opt-in (a module-level second parser
    would push every engine onto the multi-parser dispatch path)."""
    if name in PARSER_REGISTRY:
        return name

    from tegenaria_spark.functions.html import html_links_udf, html_select_udf

    texts_udf = html_select_udf("div.quote span.text")
    authors_udf = html_select_udf("div.quote small.author")
    links_udf = html_links_udf("ul.pager li.next a", "href")

    @register_parser(name)
    def quote_html_parser(ok: DataFrame) -> tuple[DataFrame, DataFrame]:
        ok200 = ok.filter((F.col("status") == 200) & F.col("body_html").isNotNull())
        quoted = ok200.select(
            F.col("canon_url").alias("url"),
            F.arrays_zip(
                texts_udf(F.col("body_html")).alias("text"),
                authors_udf(F.col("body_html")).alias("author"),
            ).alias("qs"),
        )
        items = quoted.select(
            "url", F.posexplode(F.col("qs")).alias("pos", "q")
        ).select("url", "pos", F.col("q.text").alias("text"), F.col("q.author").alias("author"))
        links = ok200.select(
            F.col("enqueue_seq").alias("parent_seq"),
            F.col("priority").alias("parent_priority"),
            F.col("parser").alias("parent_parser"),
            F.posexplode(links_udf(F.col("canon_url"), F.col("body_html"))).alias(
                "pos", "url"
            ),
        )
        return items, links

    return name


def run_parsers(ok: DataFrame, links_from: DataFrame) -> tuple[DataFrame, DataFrame]:
    """M3: route fetched rows to their parser by the ``parser`` column.

    With one registered parser this is a single pass; with many, each
    parser sees only its slice (same effect as the reference's
    per-request reflective dispatch, engine.go:477-479).

    ``links_from``: schema-identical twin of ``ok`` whose payload
    columns are NULL literals (the engine's narrow meta pin).  Link
    extraction runs against it so the outlink path never scans the
    round's pinned image bytes; item extraction always reads ``ok``.
    Both halves stay lazy, so the unused half of each parser call is
    never executed."""
    if len(PARSER_REGISTRY) == 1:
        # fast path: no distinct job — everything routes to the one parser
        name, fn = next(iter(PARSER_REGISTRY.items()))
        items, _ = fn(ok)
        _, links = fn(links_from)
        return items, links
    names = [r["parser"] for r in links_from.select("parser").distinct().collect()]
    items_parts: list[DataFrame] = []
    links_parts: list[DataFrame] = []
    for name in names:
        fn = PARSER_REGISTRY.get(name)
        if fn is None:
            raise KeyError(f"parser not registered: {name!r}")
        items, _ = fn(ok.filter(F.col("parser") == name))
        _, links = fn(links_from.filter(F.col("parser") == name))
        items_parts.append(items)
        links_parts.append(links)
    if not items_parts:
        spark = ok.sparkSession
        return (
            spark.createDataFrame([], IMAGES_SCHEMA),
            spark.createDataFrame([], "parent_seq bigint, parent_priority int, pos int, url string"),
        )
    items = items_parts[0]
    links = links_parts[0]
    for p in items_parts[1:]:
        items = items.unionByName(p)
    for p in links_parts[1:]:
        links = links.unionByName(p)
    return items, links


def assign_enqueue_seq(links: DataFrame, round_no: int, cfg: EngineConfig, pin) -> DataFrame:
    """Deterministic distributed sequence assignment (zipWithIndex
    semantics, one Catalyst expression).

    Total order = (parent_seq, pos) — unique keys, so the rank is
    independent of where range partitioning draws its boundaries.  Two
    passes over the pinned partitioning: (1) per-partition row counts →
    cumulative offsets (O(partitions) driver state), (2) ``offset[pid] +
    row index``, where the row index is ``monotonically_increasing_id()``
    minus its partition base ``pid << 33``.  Spark calls that id
    nondeterministic, but over a checkpointed block with no exchange
    above it the partition ids and row order are fixed."""
    ordered = pin(
        links.repartitionByRange(cfg.shuffle_partitions, F.col("parent_seq"), F.col("pos"))
        .sortWithinPartitions("parent_seq", "pos")
    )
    pid = F.spark_partition_id()
    counts = dict(ordered.groupBy(pid).count().collect())
    offsets, acc = [], round_no * cfg.seq_stride
    for p in range(max(counts, default=0) + 1):
        offsets.append(F.lit(acc).cast("long"))
        acc += counts.get(p, 0)
    row_index = F.monotonically_increasing_id() - F.shiftleft(pid.cast("long"), 33)
    return ordered.withColumn("enqueue_seq", F.get(F.array(*offsets), pid) + row_index)


def links_to_candidates(links_with_seq: DataFrame, round_no: int, next_fetch_time_col) -> DataFrame:
    """Shape exploded outlinks as frontier candidate rows (S2 input).

    Children inherit the parent's priority AND parser (the reference's
    spiders route follow-up requests back through the spider's own
    Parser unless overridden, example/quotes/spider.go:74-88) — a
    custom spider's outlinks must not fall back to the flagship
    image_parser.  ``parent_parser`` is optional in the links contract
    for parsers that predate it."""
    parser_col = (
        F.coalesce(F.col("parent_parser"), F.lit("image_parser"))
        if "parent_parser" in links_with_seq.columns
        else F.lit("image_parser")
    )
    return links_with_seq.select(
        F.concat(F.lit("ctx-"), F.col("enqueue_seq").cast("string")).alias("ctx_id"),
        F.col("url"),
        F.lit("GET").alias("method"),
        F.create_map(F.lit("User-Agent"), F.lit("tegenaria-spark/0.1")).alias("headers"),
        F.lit(None).cast("binary").alias("body"),
        F.lit(None).cast("map<string,string>").alias("params"),
        F.lit(None).cast("map<string,string>").alias("meta"),
        parser_col.alias("parser"),
        F.lit(False).alias("do_not_filter"),
        F.lit([]).cast("array<int>").alias("allow_status"),
        F.col("parent_priority").alias("priority"),
        F.col("enqueue_seq"),
        next_fetch_time_col.alias("next_fetch_time"),
        F.lit(0).cast("int").alias("retries"),
        F.lit(round_no + 1).cast("int").alias("round_added"),
        # children fetch with engine defaults (quotes spider enqueues
        # next-page requests with default options, spider.go:74-88)
        F.lit(None).cast("map<string,string>").alias("cookies"),
        F.lit(None).cast("string").alias("proxy_url"),
        F.lit(None).cast("int").alias("timeout_ms"),
        F.lit(None).cast("int").alias("max_redirects"),
        F.lit(None).cast("boolean").alias("allow_redirects"),
    )


def retry_candidates(failed: DataFrame, round_no: int, cfg: EngineConfig, next_fetch_time_col) -> DataFrame:
    """M5 (engine.go:269-281 + tutorial ErrorHandler): failed requests
    re-enqueue with DoNotFilter (they are already in url_seen) until the
    retry cap; they keep their enqueue_seq (queue position semantics are
    per-round, and determinism only needs a stable unique key)."""
    cols = [
        "ctx_id", "url", "method", "headers", "body", "params", "meta", "parser",
        "do_not_filter", "allow_status", "priority", "enqueue_seq",
        "next_fetch_time", "retries", "round_added",
        "cookies", "proxy_url", "timeout_ms", "max_redirects", "allow_redirects",
        # scheduling state already computed pre-fetch — no recanonicalization
        "canon_url", "domain", "fp",
    ]
    return (
        failed.filter(F.col("retries") < cfg.max_retries)
        .withColumn("retries", F.col("retries") + F.lit(1))
        .withColumn("do_not_filter", F.lit(True))
        .withColumn("next_fetch_time", next_fetch_time_col)
        .select(*cols)
    )

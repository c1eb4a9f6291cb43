"""Table schemas for the engine (FIXTURES.md tables 1-7).

The reference's unit of work is one in-memory Go struct per request
(``Request`` request.go:47-80, ``Context`` context.go:36-60); here the
same fields are columns of the frontier table and a Context *is a row*.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# frontier — the URL/request queue (Request, request.go:47-80 + ctx_id context.go:47)
FRONTIER_SCHEMA = StructType(
    [
        StructField("ctx_id", StringType(), False),
        StructField("url", StringType(), False),
        StructField("method", StringType(), False),
        StructField("headers", MapType(StringType(), StringType()), True),
        StructField("body", BinaryType(), True),
        StructField("params", MapType(StringType(), StringType()), True),
        StructField("meta", MapType(StringType(), StringType()), True),
        StructField("parser", StringType(), False),
        StructField("do_not_filter", BooleanType(), False),
        StructField("allow_status", ArrayType(IntegerType()), True),
        StructField("priority", IntegerType(), False),
        StructField("enqueue_seq", LongType(), False),
        StructField("next_fetch_time", TimestampType(), False),
        StructField("retries", IntegerType(), False),
        StructField("round_added", IntegerType(), False),
        # per-request fetch options (request.go:41-77): null ⇒ engine
        # defaults.  cookies ride to the fetch; proxy_url routes it;
        # timeout_ms bounds it; max_redirects/allow_redirects cap the
        # redirect chain per request (downloader.go:110-146)
        StructField("cookies", MapType(StringType(), StringType()), True),
        StructField("proxy_url", StringType(), True),
        StructField("timeout_ms", IntegerType(), True),
        StructField("max_redirects", IntegerType(), True),
        StructField("allow_redirects", BooleanType(), True),
    ]
)

# derived columns appended by canonicalize/fingerprint stages
CANONICAL_COLS = ["canon_url", "domain", "valid", "fp"]

# frontier *state* as persisted by the store: request columns plus the
# derived identity columns (valid is dropped — state rows passed it)
FRONTIER_STATE_SCHEMA = StructType(
    FRONTIER_SCHEMA.fields
    + [
        StructField("canon_url", StringType(), True),
        StructField("domain", StringType(), True),
        StructField("fp", LongType(), True),
    ]
)

# url_seen — dedup state (bloom contents, dupefilters.go:131-141)
URL_SEEN_SCHEMA = StructType(
    [
        StructField("fp", LongType(), False),
        StructField("first_round", IntegerType(), False),
    ]
)

# robots — per-domain rules (north_rule; no reference counterpart);
# path_prefix holds an RFC 9309 pattern: a plain prefix, or one with
# `*` (any sequence) and a trailing `$` (end anchor)
ROBOTS_SCHEMA = StructType(
    [
        StructField("domain", StringType(), False),
        StructField("path_prefix", StringType(), False),
        StructField("allow", BooleanType(), False),
    ]
)

# domain_budget — politeness (rate 16/32 req/s → budget/round; components.go:73)
DOMAIN_BUDGET_SCHEMA = StructType(
    [
        StructField("domain", StringType(), False),
        StructField("budget_per_round", IntegerType(), False),
        StructField("max_conns", IntegerType(), False),
    ]
)

# images — the output store, exact input_hint shape
IMAGES_SCHEMA = StructType(
    [
        StructField("image_id", StringType(), False),
        StructField("bytes", BinaryType(), False),
        StructField("w", IntegerType(), False),
        StructField("h", IntegerType(), False),
        StructField("fmt", StringType(), False),
        StructField("caption", StringType(), False),
        StructField("phash", LongType(), False),
    ]
)

# fetch_log — per-attempt outcome rows; ordering parity asserts on (round, seq)
FETCH_LOG_SCHEMA = StructType(
    [
        StructField("round", IntegerType(), False),
        StructField("seq", LongType(), False),
        StructField("ctx_id", StringType(), False),
        StructField("url", StringType(), False),
        StructField("domain", StringType(), True),
        StructField("status", IntegerType(), True),
        StructField("delay", DoubleType(), True),
        StructField("content_length", LongType(), True),
        StructField("error", StringType(), True),
        StructField("outcome", StringType(), False),
    ]
)

OUTCOMES = ("fetched", "dup_dropped", "robots_blocked", "deferred", "failed", "invalid")

# metrics — reference stats keys (stats.go:39-48) + per-status counts
METRICS_SCHEMA = StructType(
    [
        StructField("round", IntegerType(), False),
        StructField("metric", StringType(), False),
        StructField("value", LongType(), False),
    ]
)

# lineage — per-partition provenance of each snapshot commit (north_rule)
LINEAGE_SCHEMA = StructType(
    [
        StructField("round", IntegerType(), False),
        StructField("table", StringType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("snapshot_id", StringType(), False),
        StructField("n_rows", LongType(), False),
    ]
)

# site_graph — deterministic fetch-simulator backing shape (FIXTURES.md §2);
# materialization of the synthetic web for oracle checks
SITE_GRAPH_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("status", IntegerType(), False),
        StructField("redirect_to", StringType(), True),
        StructField("outlinks", ArrayType(StringType()), False),
        StructField("image_id", StringType(), True),
        StructField("caption", StringType(), True),
    ]
)

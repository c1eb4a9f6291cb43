"""Direct unit tests for cells previously covered only via e2e/parity:
Q4 (per-host concurrency cap bounds the salt width), F8 (outlink option
defaulting), M5 (retry re-enqueue semantics).  Each asserts the
OBSERVABLE contract, not implementation internals."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from tegenaria_spark.config import EngineConfig
from tegenaria_spark.operators.parse import links_to_candidates, retry_candidates
from tegenaria_spark.operators.schedule import politeness_dim, salt_for_fetch, schedule_round


def test_q4_conn_cap_bounds_parallelism(spark):
    # request.go:71 MaxConnsPerHost: a domain must never occupy more
    # concurrent fetch tasks than min(salt width S, its max_conns).
    cfg = EngineConfig(shuffle_partitions=8)  # S = 4 (default salt width)
    rows = [
        (f"http://capped.example/p{i}", "capped.example", i) for i in range(60)
    ] + [
        (f"http://open.example/p{i}", "open.example", 60 + i) for i in range(60)
    ]
    frontier = spark.createDataFrame(
        rows, "canon_url string, domain string, enqueue_seq bigint"
    ).select(
        "*",
        F.lit(0).alias("priority"),
        F.timestamp_millis(F.lit(cfg.epoch_ms)).alias("next_fetch_time"),
    )
    politeness = politeness_dim(
        spark,
        None,
        [
            {"domain": "capped.example", "budget_per_round": 60, "max_conns": 2},
            {"domain": "open.example", "budget_per_round": 60, "max_conns": 128},
        ],
    )
    sel = schedule_round(frontier, politeness, 0, cfg).drop("sched")
    out = salt_for_fetch(sel, cfg).withColumn("pid", F.spark_partition_id())
    per_domain = {
        r.domain: r.n
        for r in out.groupBy("domain").agg(F.countDistinct("pid").alias("n")).collect()
    }
    assert per_domain["capped.example"] <= 2  # max_conns caps the spread
    assert per_domain["open.example"] <= cfg.domain_salt_width  # S caps it
    assert out.count() == 120  # nothing dropped


def test_f8_outlink_option_defaulting(spark):
    # children fetch with engine defaults (spider.go:74-88) but INHERIT
    # the parent's parser and priority.
    links = spark.createDataFrame(
        [("http://a.example/x", 7, 5, "my_parser"), ("http://a.example/y", 8, 1, None)],
        "url string, enqueue_seq long, parent_priority int, parent_parser string",
    )
    out = {r.url: r for r in links_to_candidates(links, round_no=3, next_fetch_time_col=F.current_timestamp()).collect()}
    x, y = out["http://a.example/x"], out["http://a.example/y"]
    assert x.parser == "my_parser" and y.parser == "image_parser"  # inherit | default
    assert x.priority == 5 and y.priority == 1
    for r in (x, y):
        assert r.method == "GET" and r.do_not_filter is False and r.retries == 0
        assert r.round_added == 4 and r.body is None and r.params is None
        assert r.cookies is None and r.proxy_url is None and r.timeout_ms is None
        assert r.max_redirects is None and r.allow_redirects is None
        assert r.ctx_id == f"ctx-{r.enqueue_seq}"


@pytest.fixture()
def failed_df(spark):
    cols = (
        "ctx_id string, url string, method string, headers map<string,string>, "
        "body binary, params map<string,string>, meta map<string,string>, "
        "parser string, do_not_filter boolean, allow_status array<int>, "
        "priority int, enqueue_seq long, next_fetch_time timestamp, "
        "retries int, round_added int, cookies map<string,string>, "
        "proxy_url string, timeout_ms int, max_redirects int, "
        "allow_redirects boolean, canon_url string, domain string, fp long"
    )
    mk = lambda i, retries: (
        f"ctx-{i}", f"http://d.example/{i}", "GET", None, None, None, None,
        "image_parser", False, [], 0, i, None, retries, 0, None, None, None,
        None, None, f"http://d.example/{i}", "d.example", i * 7,
    )
    return spark.createDataFrame([mk(1, 0), mk(2, 2), mk(3, 3)], cols)


def test_m5_retry_reenqueue(spark, failed_df):
    # engine.go:269-281: failed requests re-enqueue with DoNotFilter
    # (already in url_seen) and bump retries; the cap drops them.
    cfg = EngineConfig(max_retries=3)
    out = {r.ctx_id: r for r in retry_candidates(
        failed_df, round_no=5, cfg=cfg, next_fetch_time_col=F.current_timestamp()
    ).collect()}
    assert set(out) == {"ctx-1", "ctx-2"}  # retries=3 hit the cap
    assert out["ctx-1"].retries == 1 and out["ctx-2"].retries == 3
    for r in out.values():
        assert r.do_not_filter is True  # skips the dedup gate next round
        assert r.fp is not None and r.canon_url  # no recanonicalization


def test_m9_redirect_cap_and_disable(spark):
    # downloader.go:136-146 CheckRedirect: cap exceeded → MaxRedirectError
    # (exceptions.go:61-63); allow_redirects=False → ErrUseLastResponse
    # (the 301 IS the response).  redirect_ratio=1.0 makes p0→p1→…→p8 a
    # deterministic 9-hop chain (p9, unable to redirect, is an error page).
    from tegenaria_spark.operators.fetch import simulate_fetch_one
    from tegenaria_spark.sources.synth import SiteConfig

    site = SiteConfig(n_domains=1, pages_per_domain=10, redirect_ratio=1.0, error_ratio=0.0)
    url = site.page_url(0, 0)

    capped = simulate_fetch_one(url, site, max_redirects=3)
    assert capped["status"] == 301
    assert capped["error"] == "max redirects exceeded"

    followed = simulate_fetch_one(url, site, max_redirects=20)
    assert "/p/9" in followed["final_url"]  # chain walked to the end
    assert followed["status"] in (403, 404, 500)

    no_follow = simulate_fetch_one(url, site, max_redirects=20, allow_redirects=False)
    assert no_follow["status"] == 301 and no_follow["error"] is None
    assert "/p/0" in no_follow["final_url"]  # the 301 came back as-is


def test_m8_proxy_column_honored_in_fetch_stage(spark):
    # M8 (request.go proxy option): the per-request proxy_url column
    # must reach the fetch UDF — observable as the deterministic proxy
    # hop added to the request's delay; cookies ride without altering
    # content (stateless synthetic web).
    from tegenaria_spark.operators.fetch import fetch_stage
    from tegenaria_spark.sources.synth import SiteConfig

    site = SiteConfig(n_domains=1, pages_per_domain=4, redirect_ratio=0.0, error_ratio=0.0)
    url = site.page_url(0, 1)
    sel = spark.createDataFrame(
        [(url, None, None), (url, "http://proxy.local:8080", {"sid": "abc"})],
        "url string, proxy_url string, cookies map<string,string>",
    )
    cfg = EngineConfig(shuffle_partitions=2)
    rows = fetch_stage(sel, site, cfg).collect()
    plain = next(r for r in rows if r.proxy_url is None)
    proxied = next(r for r in rows if r.proxy_url is not None)
    assert abs(proxied.delay - plain.delay - 0.0005) < 1e-12
    # cookies carried, content identical
    assert proxied.status == plain.status == 200
    assert proxied.content_length == plain.content_length
    assert proxied.caption == plain.caption

"""Ordering + URL-seen + store parity: single-threaded reference
simulator vs the distributed Spark engine, same seeds + budgets
(north_rule: 'matching the reference's crawl ordering and URL-seen set
under the same seed list and politeness budget')."""

from __future__ import annotations

import pyspark.sql.functions as F

from tegenaria_spark.config import EngineConfig
from tegenaria_spark.plans.engine import CrawlEngine
from tegenaria_spark.plans.simulator import simulate_crawl
from tegenaria_spark.sources.store import LocalSnapshotStore
from tegenaria_spark.sources.synth import SiteConfig, domain_budgets, robots_rules, seed_urls

# fetch_partitions=8: the default (shuffle x salt = 32) means 32 tasks
# per fetch stage for ~50-row test rounds — pure scheduler constant
# 4/4 partitions: ~3 s/engine-run cheaper than 8/8 at test scale
# (pure scheduler constants; parity output is partition-invariant)
CFG = EngineConfig(shuffle_partitions=4, fetch_partitions=4)


def test_spark_engine_matches_simulator(spark, tmp_store_dir):
    site = SiteConfig(n_domains=4, pages_per_domain=10)
    seeds = seed_urls(site, n_seeds=12)
    robots = robots_rules(site)
    budgets = domain_budgets(site, default_budget=6)

    # 6 rounds covers seeds, outlink growth, dedup cycles and retries;
    # the parity prefix is the contract (a drain adds only Spark-stage
    # constants per extra round — r3 verdict #3 suite-wall budget)
    sim = simulate_crawl(seeds, site, CFG, robots=robots, budgets=budgets, max_rounds=4)

    store = LocalSnapshotStore(tmp_store_dir, spark)
    engine = CrawlEngine(spark, store, site, CFG, robots_rows=robots, budget_rows=budgets)
    engine.run(seeds, max_rounds=4)

    log = store.read_log("fetch_log")

    # --- identical fetch order: every (round, seq, url) fetched, sorted
    spark_fetched = sorted(
        (r["round"], r["seq"], r["url"])
        for r in log.filter(F.col("outcome") == "fetched").collect()
    )
    sim_fetched = sorted((t[0], t[1], t[3]) for t in sim.fetch_log if t[6] == "fetched")
    assert spark_fetched == sim_fetched

    # --- identical URL-seen set, each fp registered once
    seen = store.read_url_seen(store.last_committed_round())
    assert seen.count() == seen.select("fp").distinct().count()
    assert {r["fp"] for r in seen.collect()} == sim.url_seen

    # --- identical outcome multiset for every outcome class
    spark_outcomes = sorted(
        (r["round"], r["seq"], r["outcome"])
        for r in log.collect()
    )
    sim_outcomes = sorted((t[0], t[1], t[6]) for t in sim.fetch_log)
    assert spark_outcomes == sim_outcomes

    # --- image/caption store parity: bit-exact bytes, caption, phash
    items = {r["image_id"]: r for r in store.read_log("items").collect()}
    assert set(items) == set(sim.items)
    for image_id, oracle in sim.items.items():
        got = items[image_id]
        assert bytes(got["bytes"]) == oracle["bytes"], image_id
        assert got["caption"] == oracle["caption"]
        assert got["phash"] == oracle["phash"]
        assert (got["w"], got["h"], got["fmt"]) == (
            oracle["w"],
            oracle["h"],
            oracle["fmt"],
        )


def test_parity_with_per_request_options(spark, tmp_store_dir):
    """The downloader option matrix (params/cookies/proxy/timeout/
    redirect caps — reference downloader_test.go:29-282) runs through
    BOTH implementations: fetch order, URL-seen set (params-merged
    fingerprints, F7) and outcome multiset must stay identical."""
    site = SiteConfig(n_domains=4, pages_per_domain=12, redirect_ratio=0.2)
    seeds = seed_urls(site, n_seeds=40, option_ratio=0.6)
    assert any(s["params"] for s in seeds)
    assert any(s["timeout_ms"] for s in seeds)
    assert any(not s["allow_redirects"] for s in seeds)
    assert any(s["method"] == "POST" and s["body"] for s in seeds)
    budgets = domain_budgets(site, default_budget=8)

    # every option path lives on the seeds (rounds 0-1) and the
    # timeout-retry path resolves by round 2 — 5 rounds is full coverage
    sim = simulate_crawl(seeds, site, CFG, budgets=budgets, max_rounds=5)

    store = LocalSnapshotStore(tmp_store_dir, spark)
    engine = CrawlEngine(spark, store, site, CFG, budget_rows=budgets)
    engine.run(seeds, max_rounds=5)

    log = store.read_log("fetch_log")
    spark_outcomes = sorted((r["round"], r["seq"], r["url"], r["outcome"]) for r in log.collect())
    sim_outcomes = sorted((t[0], t[1], t[3], t[6]) for t in sim.fetch_log)
    assert spark_outcomes == sim_outcomes

    spark_seen = {
        r["fp"] for r in store.read_url_seen(store.last_committed_round()).collect()
    }
    assert spark_seen == sim.url_seen

    # params-merge is live: a params seed fingerprints differently from
    # the same URL without params
    from tegenaria_spark.functions.canonical import py_fingerprint, py_merge_params

    s = next(s for s in seeds if s["params"])
    fp_plain = py_fingerprint("GET", s["url"], None, s["headers"])
    fp_merged = py_fingerprint(
        "GET", py_merge_params(s["url"], s["params"]), None, s["headers"]
    )
    assert fp_plain != fp_merged and fp_merged in sim.url_seen


def test_post_content_distinct_from_get():
    """A POST (or body-bearing) request to the same URL yields DISTINCT
    synthetic content, not just a distinct fingerprint (reference
    example.go:143-246: /testPOST, /testForm, /testJson are separate
    handlers) — and the plain-GET page hash is unchanged (committed
    fixtures depend on it)."""
    from tegenaria_spark.sources.synth import SiteConfig, _page_hash, synth_page

    site = SiteConfig(n_domains=2, pages_per_domain=50, redirect_ratio=0.0, error_ratio=0.0)
    url = site.page_url(0, 3)
    get_page = synth_page(url, site)
    post_page = synth_page(url, site, method="POST", body=b"q=1&form=1")
    post_page2 = synth_page(url, site, method="POST", body=b"q=2&form=1")
    assert get_page.status == post_page.status == 200
    # distinct content: hash-derived fields differ
    assert (post_page.content_length, post_page.outlinks) != (
        get_page.content_length,
        get_page.outlinks,
    )
    assert (post_page.content_length, post_page.outlinks) != (
        post_page2.content_length,
        post_page2.outlinks,
    )  # body-sensitive too
    assert post_page.image_id is None  # data endpoints serve no image
    # plain GET keeps the historical page hash (fixture stability)
    canon = url  # already canonical-enough for the hash comparison
    assert _page_hash(canon, site) == _page_hash(canon, site, method="GET", body=None)

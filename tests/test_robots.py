"""robots.txt parsing/matching: stdlib-oracle agreement on
wildcard-free files, Google-documented wildcard cases, group
selection, engine-schema lowering, and the vectorized pandas gate."""

from __future__ import annotations

import urllib.robotparser
from datetime import datetime, timezone

import pandas as pd
import pytest

from tegenaria_spark.functions.robots import (
    parse_robots_txt,
    robots_allowed,
    robots_gate_pandas,
    robots_rows_from_txt,
)

PATHS = [
    "/", "/fish", "/fish.html", "/fish/salmon.html", "/fishheads/yummy.html",
    "/Fish.asp", "/catfish", "/peix", "/fish/", "/animals/fish/",
    "/fish.php?id=anything", "/folder/page", "/folder/other", "/page",
    "/page/index.html", "/x/page.htm", "/admin/", "/admin/secret",
    "/public/doc.html", "/private", "/private/", "/p", "/filename.php",
    "/filename.php?parameters", "/filename.php/", "/a/b/c",
]


def _stdlib_allowed(txt: str, agent: str, path: str) -> bool:
    rp = urllib.robotparser.RobotFileParser()
    rp.parse(txt.splitlines())
    return rp.can_fetch(agent, path)


def test_wildcard_free_files_agree_with_stdlib():
    """Independent-oracle check: on files whose rules DON'T overlap,
    first-match (urllib.robotparser's legacy semantics) and RFC 9309
    longest-match (ours — what Google documents) decide identically,
    so the stdlib is a valid oracle for the parse + prefix-match core.
    Overlapping-rule precedence, where the two standards genuinely
    diverge, is asserted in test_rfc_longest_match_precedence."""
    files = [
        "User-agent: *\nDisallow: /admin/\nDisallow: /private\n",
        "User-agent: *\nDisallow:\n",  # empty Disallow = allow all
        "# comments only\nUser-agent: *\nDisallow: /folder/  # trailing\n",
        "User-agent: *\nDisallow: /fish\nDisallow: /page\nDisallow: /a/b/\n",
        "",
    ]
    for txt in files:
        rules = parse_robots_txt(txt, "tegenaria")["rules"]
        for path in PATHS:
            assert robots_allowed(rules, path) == _stdlib_allowed(
                txt, "tegenaria", path
            ), (txt, path)


def test_rfc_longest_match_precedence():
    """Where first-match and longest-match disagree, we follow RFC 9309
    (Google semantics): the MOST SPECIFIC rule decides, not the first."""
    rules = parse_robots_txt("User-agent: *\nDisallow: /\nAllow: /public/\n")["rules"]
    assert robots_allowed(rules, "/public/doc.html")  # Allow len 8 beats /
    assert not robots_allowed(rules, "/private")
    rules = parse_robots_txt("User-agent: *\nAllow: /fish\nDisallow: /fish/\n")["rules"]
    assert robots_allowed(rules, "/fish")  # only /fish matches
    assert not robots_allowed(rules, "/fish/salmon.html")  # /fish/ longer
    rules = parse_robots_txt(
        "User-agent: *\nDisallow: /private\nAllow: /private/public\n"
    )["rules"]
    assert robots_allowed(rules, "/private/public/x")
    assert not robots_allowed(rules, "/private/secret")


def test_google_documented_wildcard_cases():
    """The worked examples from Google's robots.txt documentation
    (also RFC 9309 §2.2.2/§5 illustrations)."""
    rules = parse_robots_txt("User-agent: *\nDisallow: /fish*\n")["rules"]
    assert not robots_allowed(rules, "/fish")
    assert not robots_allowed(rules, "/fish.html")
    assert not robots_allowed(rules, "/fishheads/yummy.html")
    assert robots_allowed(rules, "/Fish.asp")  # matching is case-sensitive
    assert robots_allowed(rules, "/peix")

    rules = parse_robots_txt("User-agent: *\nDisallow: /*.php$\n")["rules"]
    assert not robots_allowed(rules, "/filename.php")
    assert not robots_allowed(rules, "/folder/filename.php")
    assert robots_allowed(rules, "/filename.php?parameters")
    assert robots_allowed(rules, "/filename.php/")

    # longest match wins; equal length => allow wins
    rules = parse_robots_txt("User-agent: *\nAllow: /page\nDisallow: /*.htm\n")["rules"]
    assert robots_allowed(rules, "/page")
    assert not robots_allowed(rules, "/x/page.htm")
    rules = parse_robots_txt("User-agent: *\nAllow: /folder\nDisallow: /folder\n")["rules"]
    assert robots_allowed(rules, "/folder/page")


def test_group_selection_most_specific_agent():
    txt = (
        "User-agent: *\nDisallow: /all/\n\n"
        "User-agent: tegenaria\nDisallow: /teg/\n\n"
        "User-agent: tegenaria-image\nDisallow: /img/\nCrawl-delay: 2.5\n"
    )
    g = parse_robots_txt(txt, "tegenaria-image/1.0")
    assert g["agent_matched"] == "tegenaria-image"
    assert g["crawl_delay"] == 2.5
    assert ("/img/", False) in g["rules"] and ("/teg/", False) not in g["rules"]
    g2 = parse_robots_txt(txt, "tegenaria/1.0")
    assert g2["agent_matched"] == "tegenaria"
    g3 = parse_robots_txt(txt, "otherbot")
    assert g3["agent_matched"] == "*" and g3["rules"] == [("/all/", False)]
    # shared group: two agent lines, one rule set
    shared = parse_robots_txt("User-agent: a\nUser-agent: b\nDisallow: /x/\n", "b")
    assert shared["rules"] == [("/x/", False)]


def test_split_groups_merge_per_rfc9309():
    """RFC 9309 §2.2.1: rules from EVERY group the winning agent token
    matches combine — files that split one agent's rules across blocks
    must not silently drop the later blocks (r4 ADVICE, medium)."""
    txt = "User-agent: *\nDisallow: /a/\n\nUser-agent: *\nDisallow: /b/\n"
    g = parse_robots_txt(txt, "tegenaria")
    assert sorted(g["rules"]) == [("/a/", False), ("/b/", False)]
    assert not robots_allowed(g["rules"], "/b/x")
    # specific agent still beats the merged fallback
    mixed = (
        "User-agent: *\nDisallow: /a/\n\n"
        "User-agent: teg\nDisallow: /t1/\nCrawl-delay: 1\n\n"
        "User-agent: *\nDisallow: /b/\n\n"
        "User-agent: teg\nDisallow: /t2/\nCrawl-delay: 3\n"
    )
    g2 = parse_robots_txt(mixed, "tegenaria")
    assert sorted(g2["rules"]) == [("/t1/", False), ("/t2/", False)]
    # conflicting Crawl-delays resolve to the most conservative (max)
    assert g2["crawl_delay"] == 3.0
    g3 = parse_robots_txt(mixed, "otherbot")
    assert sorted(g3["rules"]) == [("/a/", False), ("/b/", False)]


def test_lowering_to_engine_rows_and_residual():
    rows, residual = robots_rows_from_txt(
        {
            "d0.example": "User-agent: *\nDisallow: /admin/\nAllow: /admin/help\n",
            "d1.example": "User-agent: *\nDisallow: /*.php$\n",
        }
    )
    assert {(r["domain"], r["path_prefix"], r["allow"]) for r in rows} == {
        ("d0.example", "/admin/", False),
        ("d0.example", "/admin/help", True),
    }
    assert residual == [("d1.example", "/*.php$", False)]


def test_pandas_gate_matches_scalar():
    txt = "User-agent: *\nDisallow: /fish*\nAllow: /fish/safe$\nDisallow: /admin/\n"
    rules = parse_robots_txt(txt)["rules"]
    s = pd.Series(PATHS + ["/fish/safe", None])
    got = robots_gate_pandas(s, rules)
    want = [robots_allowed(rules, p if p is not None else "/") for p in s]
    assert list(got) == want
    assert bool(got.iloc[-2])  # the $-anchored Allow fires


# wildcard-free files lower to prefix rows, wildcard files to the
# residual map; each shape below hands schedule_round a subset
_PREFIX_TXTS = {
    "d0.io": (
        "User-agent: *\nDisallow: /admin/\nAllow: /admin/help\n"
        "Disallow: /private\nAllow: /private/public\n"
    ),
    # equal-length conflicting pair: Allow must win the tie
    "d1.io": "User-agent: *\nAllow: /folder\nDisallow: /folder\n",
    "d2.io": "User-agent: *\nDisallow:\n",
    # nested prefixes: the longest match decides
    "d3.io": "User-agent: *\nAllow: /\nDisallow: /private\nAllow: /private/open\n",
}
_RESIDUAL_TXTS = {
    # a prefix Disallow beside wildcards: the whole group stays residual
    "w0.io": "User-agent: *\nDisallow: /fish*\nAllow: /fish/safe$\nDisallow: /admin/\n",
    "w1.io": "User-agent: *\nDisallow: /*.php$\nAllow: /folder\nDisallow: /private\n",
}
_ROBOTS_SHAPES = {
    "none": {},
    "prefix": _PREFIX_TXTS,
    "residual": _RESIDUAL_TXTS,
    "residual_prefix": {**_PREFIX_TXTS, **_RESIDUAL_TXTS},
}


@pytest.mark.parametrize("shape", list(_ROBOTS_SHAPES))
def test_schedule_round_robots_shapes_match_rfc_matcher(spark, shape):
    """robots.txt → robots_engine_inputs → the ENGINE's schedule_round
    decides every URL exactly like parse_robots_txt + robots_allowed,
    for each robots input shape it takes: no rules, prefix rows only,
    residual map only (``robots=None``), and both.  Covers the
    equal-length Allow/Disallow tie (RFC 9309 §2.2.2), nested
    longest-prefix wins, `*`/`$` patterns, and domains without a file
    (default allow)."""
    from tegenaria_spark.config import EngineConfig
    from tegenaria_spark.functions.robots import robots_engine_inputs
    from tegenaria_spark.operators.schedule import schedule_round
    from tegenaria_spark.schemas import DOMAIN_BUDGET_SCHEMA, ROBOTS_SCHEMA

    txts = _ROBOTS_SHAPES[shape]
    rows, residual, _delays = robots_engine_inputs(txts)
    # the lowering produced exactly the shape under test
    assert bool(rows) == (shape in ("prefix", "residual_prefix"))
    assert bool(residual) == (shape in ("residual", "residual_prefix"))
    # as CrawlEngine builds its inputs: no rows ⇒ no robots frame
    robots = (
        spark.createDataFrame(
            [(r["domain"], r["path_prefix"], r["allow"]) for r in rows], ROBOTS_SCHEMA
        )
        if rows
        else None
    )

    cfg = EngineConfig(shuffle_partitions=4)
    paths = ["/", "/admin/", "/admin/help/x", "/private/public/y", "/private/z",
             "/private/open/x", "/folder/page", "/folder", "/fish", "/fish/safe",
             "/fish/safe/x", "/a.php", "/a.php/x", "/else"]
    domains = sorted({**_PREFIX_TXTS, **_RESIDUAL_TXTS}) + ["nofile.io"]
    ts0 = datetime.fromtimestamp(cfg.epoch_ms / 1000, tz=timezone.utc)
    frontier_rows = [
        (f"c{i}", f"http://{domain}{p}?", domain, 0, i, ts0)
        for i, (domain, p) in enumerate((d, p) for d in domains for p in paths)
    ]
    frontier = spark.createDataFrame(
        frontier_rows,
        "ctx_id string, canon_url string, domain string, priority int, "
        "enqueue_seq bigint, next_fetch_time timestamp",
    )
    # budget above the per-domain row count: robots alone decides
    budgets = spark.createDataFrame(
        [(d, len(paths), 128) for d in domains], DOMAIN_BUDGET_SCHEMA
    )
    decided = schedule_round(frontier, robots, budgets, 0, cfg, residual or None)
    got = {r["ctx_id"]: r["sched"] for r in decided.collect()}

    assert len(got) == len(frontier_rows)
    for ctx, _url, domain, _prio, i, _ts in frontier_rows:
        path = paths[i % len(paths)]
        rules = parse_robots_txt(txts.get(domain, ""))["rules"]
        want = "selected" if robots_allowed(rules, path) else "robots_blocked"
        assert got[ctx] == want, (shape, domain, path)


def test_wildcard_residual_and_crawl_delay_drive_engine(spark, tmp_path):
    """r4 verdict #3: a `*`/`$` Disallow must actually BLOCK a fetch on
    the engine path (schedule_round's residual matcher), and a Crawl-delay
    must shrink the domain's per-round politeness budget."""
    from tegenaria_spark.config import EngineConfig
    from tegenaria_spark.functions.robots import (
        crawl_delay_budget_rows,
        robots_engine_inputs,
    )
    from tegenaria_spark.plans.engine import CrawlEngine
    from tegenaria_spark.sources.store import LocalSnapshotStore
    from tegenaria_spark.sources.synth import SiteConfig

    site = SiteConfig(n_domains=2, pages_per_domain=12,
                      error_ratio=0.0, redirect_ratio=0.0)
    d0, d1 = site.domain(0), site.domain(1)
    txts = {
        # wildcard + anchored carve-out: blocks /p/1, /p/10, /p/11 —
        # except /p/10 exactly (Allow "/p/10$" is longer than "/p/1*")
        d0: "User-agent: *\nDisallow: /p/1*\nAllow: /p/10$\n",
        # wildcard-free: lowers to the broadcast prefix join; the
        # Crawl-delay caps the round budget at interval/delay = 1
        d1: "User-agent: *\nDisallow: /p/3\nCrawl-delay: 1\n",
    }
    rows, residual, delays = robots_engine_inputs(txts)
    assert set(residual) == {d0} and all(r["domain"] == d1 for r in rows)
    assert delays == {d1: 1.0}
    cfg = EngineConfig(shuffle_partitions=4, fetch_partitions=4)
    budgets = crawl_delay_budget_rows(
        delays, cfg.round_interval_s, default_budget=cfg.default_budget_per_round
    )
    assert budgets == [{"domain": d1, "budget_per_round": 1, "max_conns": 128}]

    seeds = []
    for k, domain_idx in enumerate((0, 1)):
        for p in range(12):
            seeds.append({
                "ctx_id": f"seed-{domain_idx}-{p}",
                "url": site.page_url(domain_idx, p),
                "method": "GET", "headers": None, "body": None,
                "params": None, "meta": None, "parser": "image_parser",
                "do_not_filter": False, "allow_status": [], "priority": 0,
                "enqueue_seq": k * 12 + p, "retries": 0, "round_added": 0,
            })
    store = LocalSnapshotStore(str(tmp_path / "robots-engine"), spark,
                               fp_buckets=cfg.fp_buckets)
    engine = CrawlEngine(
        spark, store, site, cfg,
        robots_rows=rows, budget_rows=budgets, robots_residual=residual,
    )
    engine.run(seeds, max_rounds=2)

    log = store.read_log("fetch_log").collect()
    by_outcome: dict[str, set] = {}
    for r in log:
        by_outcome.setdefault(r["outcome"], set()).add((r["url"], r["round"]))
    blocked_urls = {u for u, _ in by_outcome.get("robots_blocked", set())}
    fetched = sorted(by_outcome.get("fetched", set()))

    # d0: the wildcard Disallow blocked /p/1 and /p/11; the anchored
    # Allow carved /p/10 back out; unrelated paths untouched
    assert any("/p/1?" in u for u in blocked_urls)
    assert any("/p/11?" in u for u in blocked_urls)
    assert not any(f"{d0}/p/10?" in u for u in blocked_urls)
    assert any(f"{d0}/p/10?" in u for u, _rnd in fetched)
    assert not any(f"{d0}/p/11?" in u for u, _rnd in fetched)
    # d1: prefix Disallow still blocks via the broadcast join
    assert any(f"{d1}/p/3?" in u for u in blocked_urls)
    # Crawl-delay lowered the budget: exactly ONE d1 fetch per round
    d1_rounds = [rnd for u, rnd in fetched if d1 in u]
    assert sorted(d1_rounds) == sorted(set(d1_rounds)), d1_rounds

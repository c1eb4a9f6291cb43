"""robots.txt parsing + matching (RFC 9309 / Google wildcard
semantics).

The engine's scheduler consumes structured per-domain prefix rules
(schemas.ROBOTS_SCHEMA, joined broadcast in operators/schedule.py);
a porter crawling the real web starts from robots.txt BYTES.  This
module closes that gap:

- :func:`parse_robots_txt` — group selection per RFC 9309 §2.2.1
  (most-specific matching ``User-agent``, ``*`` fallback; groups with
  multiple agent lines share rules), case-insensitive field names,
  comment stripping, ``Crawl-delay`` capture.
- :func:`robots_allowed` — longest-match precedence over the selected
  group's rules with ``*`` (any sequence) and ``$`` (end anchor)
  wildcards; tie between Allow and Disallow of equal specificity →
  Allow wins (RFC 9309 §2.2.2).  Default allow.
- :func:`robots_rows_from_txt` — lower wildcard-free rules into the
  engine's broadcastable prefix-rule schema; wildcard rules stay on
  the exact matcher via :func:`robots_gate_pandas`, the vectorized
  per-domain gate for ``mapInPandas``/``applyInPandas`` use.

Reference counterpart: tegenaria (Go) ships no robots support at all —
its politeness is the rate limiter only (limiter.go); robots handling
is part of this repo's north-rule surface ("joined against robots.txt
rules and per-domain politeness budgets").

Scale shape: robots rules are a per-domain dimension (a few KB per
domain, millions of domains at most) — they broadcast or cogroup by
domain; the frontier never shuffles for the gate.
"""

from __future__ import annotations

import re
from typing import Iterable, Optional

import pandas as pd

_FIELD_RE = re.compile(r"^\s*([A-Za-z-]+)\s*:\s*(.*?)\s*$")


def parse_robots_txt(txt: str, agent: str = "tegenaria") -> dict:
    """Parse robots.txt text and select the rule group for *agent*.

    Returns ``{"rules": [(pattern, allow), ...], "crawl_delay":
    float | None, "agent_matched": str | None}`` — rules in file
    order; matching precedence is applied by :func:`robots_allowed`,
    not by order.  Group selection: the longest ``User-agent`` token
    that is a case-insensitive substring-prefix of *agent* wins;
    ``*`` is the fallback; no group ⇒ empty rules (allow all).
    """
    agent_l = agent.lower()
    groups: list[tuple[list[str], list[tuple[str, bool]], Optional[float]]] = []
    cur_agents: list[str] = []
    cur_rules: list[tuple[str, bool]] = []
    cur_delay: Optional[float] = None
    seen_rule_in_group = False

    def flush():
        nonlocal cur_agents, cur_rules, cur_delay, seen_rule_in_group
        if cur_agents:
            groups.append((cur_agents, cur_rules, cur_delay))
        cur_agents, cur_rules, cur_delay = [], [], None
        seen_rule_in_group = False

    for raw in (txt or "").splitlines():
        line = raw.split("#", 1)[0]
        m = _FIELD_RE.match(line)
        if not m:
            continue
        field, value = m.group(1).lower(), m.group(2)
        if field == "user-agent":
            if seen_rule_in_group:
                flush()
            cur_agents.append(value.strip().lower())
        elif field in ("allow", "disallow") and cur_agents:
            seen_rule_in_group = True
            if value == "" and field == "disallow":
                # empty Disallow = allow everything (classic idiom)
                cur_rules.append(("", True))
            elif value:
                cur_rules.append((value, field == "allow"))
        elif field == "crawl-delay" and cur_agents:
            seen_rule_in_group = True
            try:
                cur_delay = float(value)
            except ValueError:
                pass
    flush()

    # RFC 9309 §2.2.1: groups matched by the same (most-specific) agent
    # token MERGE — real-world files routinely split one agent's rules
    # across several `User-agent: *` blocks, and keeping only the first
    # max-spec group silently drops the later rules (r4 ADVICE, medium).
    def _spec(a: str) -> Optional[int]:
        if a == "*":
            return 0
        return len(a) if a and a in agent_l else None

    per_group: list[tuple[int, str, list[tuple[str, bool]], Optional[float]]] = []
    for agents, rules, delay in groups:
        matches = [(s, a) for a in agents if (s := _spec(a)) is not None]
        if matches:
            s, a = max(matches)
            per_group.append((s, a, rules, delay))
    if not per_group:
        return {"rules": [], "crawl_delay": None, "agent_matched": None}
    best_spec = max(s for s, _a, _r, _d in per_group)
    merged_rules: list[tuple[str, bool]] = []
    merged_delay: Optional[float] = None
    matched: Optional[str] = None
    for s, a, rules, delay in per_group:
        if s != best_spec:
            continue
        merged_rules.extend(rules)
        if delay is not None:
            # most-conservative politeness when groups disagree
            merged_delay = delay if merged_delay is None else max(merged_delay, delay)
        if matched is None:
            matched = a
    return {"rules": merged_rules, "crawl_delay": merged_delay, "agent_matched": matched}


def _pattern_regex(pattern: str) -> re.Pattern:
    """RFC 9309 wildcard pattern → anchored regex: ``*`` = any
    sequence, trailing ``$`` = end anchor, otherwise prefix match."""
    anchored = pattern.endswith("$")
    if anchored:
        pattern = pattern[:-1]
    parts = [re.escape(p) for p in pattern.split("*")]
    body = ".*".join(parts)
    return re.compile("^" + body + ("$" if anchored else ""))


def robots_allowed(rules: Iterable[tuple[str, bool]], path: str) -> bool:
    """Longest-match precedence with Allow-wins ties; default allow."""
    best_len = -1
    best_allow = True
    for pattern, allow in rules:
        if pattern == "":
            matched, spec = True, 0
        else:
            matched = _pattern_regex(pattern).match(path or "/") is not None
            spec = len(pattern)
        if not matched:
            continue
        if spec > best_len or (spec == best_len and allow and not best_allow):
            best_len, best_allow = spec, allow
    return best_allow


def robots_rows_from_txt(
    txt_by_domain: dict[str, str], agent: str = "tegenaria"
) -> tuple[list[dict], list[tuple[str, str, bool]]]:
    """Lower parsed rules into the engine's prefix-rule rows
    (ROBOTS_SCHEMA).  Returns ``(rows, residual)`` where *residual*
    holds (domain, pattern, allow) rules that need wildcard matching —
    route those through :func:`robots_gate_pandas`; a file with no
    wildcards lowers completely."""
    rows: list[dict] = []
    residual: list[tuple[str, str, bool]] = []
    for domain, txt in txt_by_domain.items():
        parsed = parse_robots_txt(txt, agent)
        for pattern, allow in parsed["rules"]:
            if pattern == "":
                continue  # allow-all idiom: the gate's default
            if "*" in pattern or pattern.endswith("$"):
                residual.append((domain, pattern, allow))
            else:
                rows.append({"domain": domain, "path_prefix": pattern, "allow": allow})
    return rows, residual


def robots_engine_inputs(
    txt_by_domain: dict[str, str], agent: str = "tegenaria"
) -> tuple[list[dict], dict[str, list[tuple[str, bool]]], dict[str, float]]:
    """Lower a robots.txt corpus to the ENGINE's three inputs:
    ``(prefix_rows, residual_map, crawl_delays)``.

    Longest-match precedence is only correct when ONE matcher sees a
    domain's whole rule list — a prefix Disallow must lose to a longer
    wildcard Allow.  So a domain with ANY wildcard/anchored rule routes
    its ENTIRE group (prefix rules included) through the exact matcher
    (``residual_map`` → schedule._residual_allowed) and contributes
    no prefix rows; wildcard-free domains lower fully to the broadcast
    prefix join.  ``crawl_delays`` feeds :func:`crawl_delay_budget_rows`.

    Scale shape: both outputs are per-domain dimensions (a few rules
    per domain); the frontier never shuffles for either gate."""
    prefix_rows: list[dict] = []
    residual_map: dict[str, list[tuple[str, bool]]] = {}
    delays: dict[str, float] = {}
    for domain, txt in txt_by_domain.items():
        parsed = parse_robots_txt(txt, agent)
        if parsed["crawl_delay"] is not None:
            delays[domain] = parsed["crawl_delay"]
        rules = [(p, a) for p, a in parsed["rules"] if p != ""]
        if any("*" in p or p.endswith("$") for p, _a in rules):
            residual_map[domain] = rules
        else:
            prefix_rows.extend(
                {"domain": domain, "path_prefix": p, "allow": a} for p, a in rules
            )
    return prefix_rows, residual_map, delays


def crawl_delay_budget_rows(
    delays: dict[str, float],
    round_interval_s: float,
    budget_rows: Optional[list[dict]] = None,
    default_budget: int = 16,
    default_max_conns: int = 128,
) -> list[dict]:
    """Lower ``Crawl-delay`` into the engine's per-domain politeness
    budget: a delay of *d* seconds between requests caps a round of
    *T* seconds at ``max(1, floor(T / d))`` fetches.  Merged with any
    existing budget rows by taking the MORE conservative (smaller)
    budget; domains with a delay but no budget row get a new row."""
    by_domain = {r["domain"]: dict(r) for r in (budget_rows or [])}
    for domain, d in delays.items():
        if d <= 0:
            continue
        cap = max(1, int(round_interval_s / d))
        row = by_domain.get(domain)
        if row is None:
            by_domain[domain] = {
                "domain": domain,
                "budget_per_round": min(cap, default_budget),
                "max_conns": default_max_conns,
            }
        else:
            row["budget_per_round"] = min(int(row["budget_per_round"]), cap)
    return list(by_domain.values())


def robots_gate_pandas(
    paths: pd.Series, rules: list[tuple[str, bool]]
) -> pd.Series:
    """Vectorized allowed-mask for one domain's rule group — the
    pandas-UDF body for a mapInPandas/applyInPandas robots gate over a
    domain-cogrouped frontier (wildcard-capable, unlike the prefix
    join).  Patterns compile once per batch, not per row."""
    compiled = [
        (len(p), _pattern_regex(p) if p else None, allow) for p, allow in rules
    ]
    out = []
    for path in paths.fillna("/"):
        best_len, best_allow = -1, True
        for spec, rx, allow in compiled:
            if rx is None:
                matched, s = True, 0
            else:
                matched, s = rx.match(path) is not None, spec
            if matched and (s > best_len or (s == best_len and allow and not best_allow)):
                best_len, best_allow = s, allow
        out.append(best_allow)
    return pd.Series(out, dtype=bool)

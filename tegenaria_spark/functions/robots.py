"""robots.txt parsing + matching (RFC 9309 / Google wildcard
semantics).

The engine's scheduler consumes structured per-domain rules
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
- :func:`robots_engine_inputs` — lower a robots.txt corpus to the
  engine's inputs: every rule, wildcards included, as a
  ``schemas.ROBOTS_SCHEMA`` row, plus the ``Crawl-delay`` per domain
  (:func:`crawl_delay_budget_rows` turns those into budgets).  Both
  become one ``operators.schedule.politeness_dim``, and the engine
  decides with one Catalyst fold over it
  (``operators.schedule.with_robots_allowed``); :func:`robots_allowed`
  is the Python spec the tests compare it against.

Reference counterpart: tegenaria (Go) ships no robots support at all —
its politeness is the rate limiter only (limiter.go); robots handling
is part of this repo's north-rule surface ("joined against robots.txt
rules and per-domain politeness budgets").

Scale shape: robots rules are a per-domain dimension (a few KB per
domain, millions of domains at most) — they collapse to one rule
array per domain and broadcast; the frontier never shuffles for the
gate.
"""

from __future__ import annotations

import re
from typing import Iterable, Optional

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


def robots_engine_inputs(
    txt_by_domain: dict[str, str], agent: str = "tegenaria"
) -> tuple[list[dict], dict[str, float]]:
    """Lower a robots.txt corpus to the ENGINE's inputs: ``(rows,
    crawl_delays)``.  *rows* are ROBOTS_SCHEMA dicts holding every rule
    of each domain's selected group — ``*``/``$`` patterns included, as
    the scheduler's one matcher sees a domain's whole rule list — except
    the empty allow-all pattern, which is the gate's default.
    ``crawl_delays`` feeds :func:`crawl_delay_budget_rows`.

    Scale shape: both outputs are per-domain dimensions (a few rules
    per domain); the frontier never shuffles for the gate."""
    rows: list[dict] = []
    delays: dict[str, float] = {}
    for domain, txt in txt_by_domain.items():
        parsed = parse_robots_txt(txt, agent)
        if parsed["crawl_delay"] is not None:
            delays[domain] = parsed["crawl_delay"]
        rows.extend(
            {"domain": domain, "path_prefix": p, "allow": a}
            for p, a in parsed["rules"]
            if p != ""
        )
    return rows, delays


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

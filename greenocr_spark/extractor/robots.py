"""robots.txt parsing — the crawl-politeness face of the pipeline.

A deliberately small, documented subset of the Robots Exclusion Protocol
(RFC 9309), matching what corpus pipelines actually enforce:

- ``#`` comments stripped, blank lines ignored, directive names
  case-insensitive;
- consecutive ``User-agent:`` lines open ONE group (they share the rules
  that follow); a later group for the same agent token merges (RFC 9309
  §2.2.1: rules from multiple matching groups combine);
- ``Allow:`` / ``Disallow:`` append (allow, path_prefix) rules to every
  agent of the current group; a Disallow with an EMPTY path is the
  classic allow-all no-op and is dropped;
- group selection for an agent: the group of the agent's product token
  (the leading ``[A-Za-z_-]`` run of the agent string, lowercased, so
  ``GreenOCRBot/1.2 (+https://x)`` matches ``User-agent: greenocrbot``)
  if one exists, else ``*`` — when a specific group exists the ``*`` group
  does NOT also apply (RFC 9309 §2.2.1);
- matching is plain path-prefix (no ``*`` / ``$`` wildcards — documented
  limitation), longest match wins, and on a length tie Allow wins
  (Google REP tie-break);
- no rule matches → allowed.

Deterministic pure Python; the Spark operator parses one robots.txt per
HOST (a host-cardinality table — tiny next to the page corpus at any
scale), broadcasts the rule arrays, and the per-page decision is pure
JVM array lambdas (operators/robots.allowed_col, value-checked by the
rob1_robots_filter battery entry).
"""

from __future__ import annotations

import re

_PRODUCT_TOKEN_RE = re.compile(r"[A-Za-z_-]*")


def parse_robots(text: str | None) -> dict[str, list[tuple[bool, str]]]:
    """agent token (lowercased) -> ordered [(allow, path_prefix)] rules."""
    groups: dict[str, list[tuple[bool, str]]] = {}
    if not text:
        return groups
    current: list[str] = []
    seen_rule_in_group = False
    for raw_line in text.splitlines():
        line = raw_line.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            agent = val.lower()
            if not agent:
                continue
            if seen_rule_in_group:
                # a UA line after rules STARTS a new group
                current = [agent]
                seen_rule_in_group = False
            else:
                current.append(agent)
            groups.setdefault(agent, groups.get(agent, []))
        elif key in ("allow", "disallow"):
            seen_rule_in_group = True
            if not current:
                continue  # rules before any User-agent line are orphaned
            if key == "disallow" and not val:
                continue  # empty Disallow = allow-all no-op
            if not val:
                continue
            for agent in current:
                groups.setdefault(agent, []).append((key == "allow", val))
        # unknown directives (crawl-delay, sitemap, ...) are ignored
    return groups


def rules_for_agent(
    groups: dict[str, list[tuple[bool, str]]], agent: str
) -> list[tuple[bool, str]]:
    """The rule list governing `agent`: the group of its product token (the
    leading [A-Za-z_-] run, lowercased; RFC 9309 §2.2.1) if present, else
    *."""
    token = _PRODUCT_TOKEN_RE.match(agent).group(0).lower()
    if token in groups:
        return groups[token]
    return groups.get("*", [])


def robots_allowed(rules: list[tuple[bool, str]], path: str) -> bool:
    """Longest-prefix-match decision; Allow wins a length tie; no match →
    allowed."""
    best: tuple[int, bool] | None = None
    for allow, prefix in rules:
        if path.startswith(prefix):
            cand = (len(prefix), allow)
            if best is None or cand > best:
                best = cand
    return True if best is None else best[1]

"""robots.txt evaluation (S4/J4 in SURVEY §2).

Parsing/matching delegates to stdlib urllib.robotparser — the public,
deterministic semantics (longest-match is NOT applied; stdlib uses
first-match per ruleline ordering, which is also what the reference's
cached parser exposes through can_fetch, utils.py:312-364).  The
crawl engine's fused step UDF builds one parser per host from the
collected rules map (hosts ≪ URLs) and reuses it for the batch.
"""

from __future__ import annotations

from urllib import robotparser


def build_parser(rules: str | None) -> robotparser.RobotFileParser:
    p = robotparser.RobotFileParser()
    p.parse((rules or "").splitlines())
    return p


def can_fetch(rules: str | None, user_agent: str, url: str) -> bool:
    """Empty/absent rules → allow (reference allow-by-default,
    utils.py:349-354)."""
    if not rules or not rules.strip():
        return True
    return build_parser(rules).can_fetch(user_agent, url)


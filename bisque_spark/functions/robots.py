"""robots.txt parsing → the per-host politeness rule table.

North-star: "crawl-delay from robots.txt". The reference has no robots
handling; semantics follow RFC 9309 plus the common Crawl-delay
extension: user-agent groups, most-specific agent match (exact product
token beats ``*``), ``Allow``/``Disallow`` rules with ``*`` wildcards
and the ``$`` end anchor (empty Disallow = allow all), longest match
wins with allow breaking ties (§2.2.2), ``Crawl-delay`` seconds, and
the global ``Sitemap:`` lines.

``fetch_robots`` is the Arrow-batched stage turning a host list into
the robots table consumed by ``operators/schedule.apply_robots`` (the
one matcher) and ``functions/sitemap.sitemap_seed_locs`` — in the
sandbox the robots.txt body comes from the deterministic synth
(``synth_robots_txt``), whose verdicts equal the prefix rules of
``synth.robots_rows`` (pinned by tests).
"""

from __future__ import annotations

import re as _re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from bisque_spark.hashing import xxh64
from bisque_spark.synth import World


def _compile_rule_re(path: str) -> str:
    """robots path pattern → anchored Java/Python-compatible regex:
    '*' = any run, trailing '$' = end anchor, else prefix match."""
    anchored = path.endswith("$")
    body = path[:-1] if anchored else path
    pat = "^" + ".*".join(_re.escape(part) for part in body.split("*"))
    return pat + "$" if anchored else pat


def parse_robots_txt(text: str, user_agent: str = "bisque") -> dict:
    """→ {"crawl_delay": float, "rules": [{"re", "len", "allow"}],
    "sitemaps": [urls]}.

    ``rules`` keeps both Allow and Disallow lines of the chosen group
    with their specificity (octet length of the pattern, the RFC's
    longest-match key). ``sitemaps`` are the global `Sitemap:` lines
    (RFC 9309 §2.3 "other records", the sitemaps.org extension), not
    scoped to a group, in file order; the caller applies its own
    location policy (functions/sitemap.py rejects cross-host ones)."""
    groups: list[tuple[list[str], dict]] = []
    agents: list[str] = []
    current: dict | None = None
    sitemaps: list[str] = []
    for raw_line in text.splitlines():
        line = raw_line.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, value = line.partition(":")
        key = key.strip().lower()
        value = value.strip()
        if key == "sitemap":
            if value:
                sitemaps.append(value)
        elif key == "user-agent":
            if current is not None and current["_rules_seen"]:
                groups.append((agents, current))
                agents = []
                current = None
            if current is None:
                current = {"crawl_delay": None, "rules": [], "_rules_seen": False}
            agents.append(value.lower())
        elif current is not None:
            if key in ("disallow", "allow"):
                current["_rules_seen"] = True
                if value:  # empty Disallow = allow all
                    current["rules"].append(
                        {
                            "re": _compile_rule_re(value),
                            "len": len(value),
                            "allow": 1 if key == "allow" else 0,
                        }
                    )
            elif key == "crawl-delay":
                current["_rules_seen"] = True
                try:
                    current["crawl_delay"] = float(value)
                except ValueError:
                    pass
    if current is not None:
        groups.append((agents, current))

    ua = user_agent.lower()
    chosen = None
    for agent_list, rules in groups:
        if any(a != "*" and a in ua for a in agent_list):
            chosen = rules
            break
    if chosen is None:
        for agent_list, rules in groups:
            if "*" in agent_list:
                chosen = rules
                break
    if chosen is None:
        return {"crawl_delay": 1.0, "rules": [], "sitemaps": sitemaps}
    return {
        "crawl_delay": chosen["crawl_delay"]
        if chosen["crawl_delay"] is not None
        else 1.0,
        "rules": list(chosen["rules"]),
        "sitemaps": sitemaps,
    }


def robots_allowed_py(rules: list[dict], path: str) -> bool:
    """Python twin of the JVM matcher ``operators/schedule.apply_robots``
    (oracle for tests): longest matching rule wins; at equal length
    allow beats disallow; no match → allowed."""
    best = None  # (len, allow)
    for r in rules:
        if _re.match(r["re"], path):
            cand = (r["len"], r["allow"])
            if best is None or cand > best:
                best = cand
    return best is None or best[1] == 1


def synth_robots_txt(world: World, host: str) -> str:
    """Deterministic robots.txt body whose parse matches the
    ``robots_rows`` entry for this host (same hash-derived crawl delay,
    one Disallow rule per disallowed prefix).
    Sitemap hosts advertise their sitemap via the `Sitemap:` line
    (how real crawlers discover them); a deterministic third of hosts
    ALSO advertise a cross-host sitemap the engine's same-host policy
    must reject (`Sitemap:` is a global line, so it leaves the group's
    crawl delay and rules unchanged)."""
    from bisque_spark.synth import host_has_sitemap

    h = xxh64(("robots:" + host).encode())
    crawl_delay = 1.0 + (h % 4)
    lines = ["# synthetic robots", "User-agent: *", f"Crawl-delay: {crawl_delay}"]
    if h % 3 == 0:
        lines.append("Disallow: /admin")
    else:
        lines.append("Disallow:")
    if host_has_sitemap(world, host):
        lines.append(f"Sitemap: http://{host}/sitemap.xml")
    if xxh64(("smxadv:" + host).encode()) % 3 == 0:
        idx = int(host[1:5])
        other = world.host((idx + 3) % world.n_hosts)
        lines.append(f"Sitemap: http://{other}/sitemap.xml")
    lines.append("")
    return "\n".join(lines)


def fetch_robots(hosts: DataFrame, world: World) -> DataFrame:
    """host rows → robots table (host, crawl_delay, rules, sitemaps) by
    fetching+parsing robots.txt per Arrow batch — the crawl's one
    robots.txt fetch."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                {"host": h, **parse_robots_txt(synth_robots_txt(world, h))}
                for h in pdf["host"]
            ]
            yield pd.DataFrame(
                rows, columns=["host", "crawl_delay", "rules", "sitemaps"]
            )

    return hosts.select("host").distinct().mapInPandas(
        run,
        schema="host string, crawl_delay double, "
        "rules array<struct<re:string, len:int, allow:int>>, "
        "sitemaps array<string>",
    )

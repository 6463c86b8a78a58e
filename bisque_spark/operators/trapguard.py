"""Spider-trap guards: URL-explosion heuristics for the frontier.

The reference's single-process loop (src/bisque/diagnose.py walks a
fixed fixture set) never meets calendar traps, session-id mints, or
infinitely-deep generated paths — a 10^10-URL distributed frontier
does, and an unguarded one spends its politeness budget minting URLs
instead of fetching content. The classic guards (Heydon & Najork,
"Mercator: A scalable, extensible Web crawler", WWW 1999, public
paper) are all *syntactic* — length caps, path-depth caps,
query-parameter caps, repeated-path-segment detection, session-id
parameters — so they compile to pure Column expressions: one
codegen'd filter on the candidate-link stage, no UDF, no shuffle, no
extra scan. At 100 TB the guard is free; the URLs it drops are the
expensive part of an unguarded crawl.

Determinism contract: every rule is a pure function of the canonical
URL string; ``trap_reason`` (Python twin, used by the oracle crawler)
and ``trap_reason_col`` (Column form) agree exactly — pinned by the
hypothesis differential in tests/test_trapguard.py. Rule order is
fixed (first match wins) so the reason column is deterministic too.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

# ;jsessionid=... path parameters and ?sid=... query parameters — the
# URL-embedded session tokens that mint unbounded duplicate URLs
_SESSION_RE = r"[;?&](jsessionid|phpsessid|sessionid|sid|cfid|cftoken)="


@dataclass(frozen=True)
class TrapGuard:
    """Thresholds for the syntactic trap rules (Mercator-style).

    Defaults are the conventional crawler settings: 2 KB URLs, 16
    path segments, 8 query parameters, and >= 3 consecutive repeats
    of one path segment (``max_segment_repeat`` is the largest
    ALLOWED run; /a/b/b is fine, /a/b/b/b is a trap).
    """

    max_url_len: int = 2048
    max_path_depth: int = 16
    max_query_params: int = 8
    max_segment_repeat: int = 2
    block_session_ids: bool = True

    def __post_init__(self) -> None:
        if self.max_segment_repeat < 1:
            raise ValueError("max_segment_repeat must be >= 1")

    @property
    def _repeat_regex(self) -> str:
        # a path segment followed by itself max_segment_repeat+ more
        # times: (/seg)(/seg){k,} — same pattern text compiles under
        # Java (rlike) and Python (re): backreference \1, no flags
        return r"(/[^/?#]+)\1{%d,}" % self.max_segment_repeat


def trap_reason_col(guard: TrapGuard) -> Column:
    """String reason the URL is a trap, or NULL if clean — pure
    Column exprs (codegen; no UDF). First matching rule wins, in the
    same order as the Python twin ``trap_reason``."""
    url = F.col("url")
    path = F.coalesce(F.parse_url(url, F.lit("PATH")), F.lit(""))
    query = F.coalesce(F.parse_url(url, F.lit("QUERY")), F.lit(""))
    # '/'-count of the path == segment count (canonical paths start
    # with '/'); length-diff beats split() — no array materialized
    path_depth = F.length(path) - F.length(F.regexp_replace(path, "/", ""))
    n_params = F.when(F.length(query) == 0, F.lit(0)).otherwise(
        F.length(query) - F.length(F.regexp_replace(query, "&", "")) + 1
    )
    reason = (
        F.when(F.length(url) > guard.max_url_len, F.lit("url_too_long"))
        .when(path_depth > guard.max_path_depth, F.lit("path_too_deep"))
        .when(n_params > guard.max_query_params, F.lit("query_explosion"))
        .when(url.rlike(guard._repeat_regex), F.lit("repeating_segments"))
    )
    if guard.block_session_ids:
        reason = reason.when(
            F.lower(url).rlike(_SESSION_RE), F.lit("session_id")
        )
    return reason.otherwise(F.lit(None).cast("string"))


def filter_traps(
    df: DataFrame, guard: TrapGuard
) -> tuple[DataFrame, DataFrame]:
    """(kept, rejected) split of ``df`` by the trap rules. ``kept``
    keeps the input schema untouched; ``rejected`` carries a
    ``trap_reason`` column for lineage/diagnostics. Both are lazy
    filters over the same scan — Catalyst pushes them down; neither
    shuffles."""
    reason = trap_reason_col(guard)
    with_reason = df.withColumn("trap_reason", reason)
    kept = with_reason.where(F.col("trap_reason").isNull()).drop("trap_reason")
    rejected = with_reason.where(F.col("trap_reason").isNotNull())
    return kept, rejected


# ---- Python twin (oracle crawler + hypothesis differential) ----------------

_PATH_SPLIT_RE = re.compile(r"^[a-z][a-z0-9+.-]*://[^/?#]*", re.IGNORECASE)


def _split_url(url: str) -> tuple[str, str]:
    """(path, query) of ``url`` with java.net.URI-compatible slicing
    (what parse_url uses): path = after authority up to '?'/'#',
    query = after '?' up to '#'."""
    m = _PATH_SPLIT_RE.match(url)
    rest = url[m.end():] if m else url
    frag = rest.find("#")
    if frag >= 0:
        rest = rest[:frag]
    q = rest.find("?")
    if q >= 0:
        return rest[:q], rest[q + 1:]
    return rest, ""


def trap_reason(url: str, guard: TrapGuard) -> str | None:
    """Python twin of ``trap_reason_col`` — same rules, same order,
    same regexes. The oracle crawler applies THIS function so the
    crawl-order equality test covers the guard."""
    path, query = _split_url(url)
    if len(url) > guard.max_url_len:
        return "url_too_long"
    if path.count("/") > guard.max_path_depth:
        return "path_too_deep"
    n_params = 0 if not query else query.count("&") + 1
    if n_params > guard.max_query_params:
        return "query_explosion"
    if re.search(guard._repeat_regex, url):
        return "repeating_segments"
    if guard.block_session_ids and re.search(_SESSION_RE, url.lower()):
        return "session_id"
    return None

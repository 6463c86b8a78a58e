"""sitemaps.org protocol support (public spec: sitemaps.org, the
<urlset>/<sitemapindex> XML formats referenced informatively by
RFC 9309 §2.3's `Sitemap:` extension line).

Frontier seeding from sitemaps: a host's /sitemap.xml is either a
<urlset> of page entries or a <sitemapindex> naming child sitemaps
(depth 1 here — the layout the spec's 50k-URL cap forces on big
sites). Entries carry <loc> (required, XML-entity-escaped, may be
whitespace-padded) and optional <lastmod> (W3C datetime),
<changefreq> and <priority>, carried through as columns; the crawl
seeds its frontier from <loc> alone.

Design split (the functions/robots.py pattern):

- The PARSER is pure JVM Column expressions — regexp_extract_all over
  the machine-generated XML, entity unescape via chained replace — so
  at 10^8 hosts the parse rides whole-stage codegen with no Python.
  A python twin (:func:`parse_sitemap`) is pinned expression-equal in
  tests/test_sitemap.py and used by the single-process oracle crawler.
- The FETCH stage is an Arrow-batched mapInPandas against the synth
  world (the sandbox's network); on a real cluster the same stage
  would wrap an HTTP client.
- The sitemaps.org SAME-HOST rule (a sitemap may only name URLs on
  the host serving it) is applied AFTER canonicalization, host
  compared JVM-side — cross-host spam entries never reach the
  frontier.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

_LOC_RE = r"(?s)<loc\s*>(.*?)</loc\s*>"
_LASTMOD_RE = r"(?s)<lastmod\s*>(.*?)</lastmod\s*>"
_CHANGEFREQ_RE = r"(?s)<changefreq\s*>(.*?)</changefreq\s*>"
_PRIORITY_RE = r"(?s)<priority\s*>(.*?)</priority\s*>"
_URL_BLOCK_RE = r"(?s)<url\s*>(.*?)</url\s*>"
_CHILD_BLOCK_RE = r"(?s)<sitemap\s*>(.*?)</sitemap\s*>"
_INDEX_RE = r"<sitemapindex[\s>]"

# the five predefined XML entities; &amp; LAST so "&amp;lt;" decodes
# to the literal "&lt;" (double-escape stays escaped once)
_ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
             ("&apos;", "'"), ("&amp;", "&")]
# numeric character references — legal in real sitemaps (ADVICE r5):
# decoded BEFORE the named entities, so "&amp;#65;" stays the literal
# "&#65;" (its "&#" is masked by the &amp;) — one documented quirk
# remains: "&#38;lt;" decodes to "<" (sequential-pass subset, same
# contract as the chained named-entity replace above)
_NUMREF_RE = r"&#([0-9]{1,8}|[xX][0-9A-Fa-f]{1,6});"
# CDATA-wrapped loc content is verbatim (no entity decode), per XML
_CDATA_RE = r"(?s)^<!\[CDATA\[(.*)\]\]>$"


def _codepoint_char_col(ref: F.Column) -> F.Column:
    """'65' / 'x41' → the character, via UTF-8 percent-encoding +
    url_decode (Spark's chr() is ASCII-only mod 256, so the JVM path
    builds the UTF-8 bytes arithmetically). Surrogates and
    out-of-range scalar values → U+FFFD, matching the Python twin."""
    cp = (
        F.when(
            ref.rlike("^[xX]"),
            F.conv(F.substring(ref, 2, 8), 16, 10).try_cast("long"),
        )
        .otherwise(ref.try_cast("long"))
        .cast("int")
    )
    b = lambda c: c.cast("int")  # noqa: E731 — format_string wants int
    pct = (
        F.when(cp < 0x80, F.format_string("%%%02X", b(cp)))
        .when(
            cp < 0x800,
            F.format_string(
                "%%%02X%%%02X",
                b(F.shiftright(cp, 6).bitwiseOR(F.lit(0xC0))),
                b(cp.bitwiseAND(F.lit(0x3F)).bitwiseOR(F.lit(0x80))),
            ),
        )
        .when(
            cp < 0x10000,
            F.format_string(
                "%%%02X%%%02X%%%02X",
                b(F.shiftright(cp, 12).bitwiseOR(F.lit(0xE0))),
                b(
                    F.shiftright(cp, 6)
                    .bitwiseAND(F.lit(0x3F))
                    .bitwiseOR(F.lit(0x80))
                ),
                b(cp.bitwiseAND(F.lit(0x3F)).bitwiseOR(F.lit(0x80))),
            ),
        )
        .otherwise(
            F.format_string(
                "%%%02X%%%02X%%%02X%%%02X",
                b(F.shiftright(cp, 18).bitwiseOR(F.lit(0xF0))),
                b(
                    F.shiftright(cp, 12)
                    .bitwiseAND(F.lit(0x3F))
                    .bitwiseOR(F.lit(0x80))
                ),
                b(
                    F.shiftright(cp, 6)
                    .bitwiseAND(F.lit(0x3F))
                    .bitwiseOR(F.lit(0x80))
                ),
                b(cp.bitwiseAND(F.lit(0x3F)).bitwiseOR(F.lit(0x80))),
            ),
        )
    )
    bad = (
        cp.isNull()
        | (cp < 0)
        | (cp > 0x10FFFF)
        | ((cp >= 0xD800) & (cp <= 0xDFFF))
    )
    return F.when(bad, F.lit("�")).otherwise(F.url_decode(pct))


def _numref_decode_col(c: F.Column) -> F.Column:
    refs = F.regexp_extract_all(c, F.lit(_NUMREF_RE), F.lit(1))
    parts = F.split(c, _NUMREF_RE)
    stitched = F.aggregate(
        F.sequence(F.lit(1), F.size(refs)),
        F.element_at(parts, 1),
        lambda acc, i: F.concat(
            acc,
            _codepoint_char_col(F.element_at(refs, i)),
            F.element_at(parts, i + 1),
        ),
    )
    # sequence(1, 0) would be the DESCENDING [1, 0] — guard size==0
    return F.when(F.size(refs) == 0, c).otherwise(stitched)


# Both sides of the determinism contract trim the SAME character set
# (ASCII whitespace, Java-regex \s): F.trim strips only ' ' while
# str.strip() strips all unicode whitespace, which diverged on
# \t/\n-padded CDATA locs (r6 ADVICE).
_WS_EDGE_RE = r"^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$"
_WS_CHARS = " \t\n\x0b\f\r"


def _unescape_col(c: F.Column) -> F.Column:
    inner = F.regexp_extract(c, _CDATA_RE, 1)
    decoded = _numref_decode_col(c)
    for ent, ch in _ENTITIES:
        decoded = F.replace(decoded, F.lit(ent), F.lit(ch))
    trimmed = F.regexp_replace(inner, _WS_EDGE_RE, "")
    return F.when(c.rlike(_CDATA_RE), trimmed).otherwise(decoded)


def _numref_py(m: re.Match) -> str:
    s = m.group(1)
    cp = int(s[1:], 16) if s[0] in "xX" else int(s)
    if cp > 0x10FFFF or 0xD800 <= cp <= 0xDFFF:
        return "�"
    return chr(cp)


def _unescape_py(s: str) -> str:
    m = re.match(_CDATA_RE, s)
    if m:
        return m.group(1).strip(_WS_CHARS)
    s = re.sub(_NUMREF_RE, _numref_py, s)
    for ent, ch in _ENTITIES:
        s = s.replace(ent, ch)
    return s


def sitemap_is_index_col(xml: F.Column) -> F.Column:
    return xml.rlike(_INDEX_RE)


def sitemap_entries_col(xml: F.Column) -> F.Column:
    """<urlset> XML → array<struct<loc string, lastmod string,
    changefreq string, priority double>> — the spec's full entry
    schema. loc trimmed + entity-unescaped; the optional fields NULL
    when absent (priority also NULL when non-numeric — try_cast, ANSI
    mode must not kill the scan on a malformed sitemap)."""
    blocks = F.regexp_extract_all(xml, F.lit(_URL_BLOCK_RE), F.lit(1))
    return F.transform(
        blocks,
        lambda b: F.struct(
            _unescape_col(
                F.trim(F.regexp_extract(b, _LOC_RE, 1))
            ).alias("loc"),
            F.nullif(
                F.trim(F.regexp_extract(b, _LASTMOD_RE, 1)), F.lit("")
            ).alias("lastmod"),
            F.nullif(
                F.trim(F.regexp_extract(b, _CHANGEFREQ_RE, 1)), F.lit("")
            ).alias("changefreq"),
            F.nullif(
                F.trim(F.regexp_extract(b, _PRIORITY_RE, 1)), F.lit("")
            )
            .try_cast("double")
            .alias("priority"),
        ),
    )


def sitemap_child_locs_col(xml: F.Column) -> F.Column:
    """<sitemapindex> XML → array<string> of child sitemap locs."""
    blocks = F.regexp_extract_all(xml, F.lit(_CHILD_BLOCK_RE), F.lit(1))
    return F.filter(
        F.transform(
            blocks,
            lambda b: _unescape_col(
                F.trim(F.regexp_extract(b, _LOC_RE, 1))
            ),
        ),
        lambda loc: loc != "",
    )


def parse_sitemap(text: str) -> dict:
    """Python twin of the Column parser (oracle crawler + parity
    tests): → {"kind": "index"|"urlset", "entries": [{loc, lastmod}],
    "children": [loc]}."""
    if re.search(_INDEX_RE, text):
        children = []
        for b in re.findall(_CHILD_BLOCK_RE, text):
            m = re.search(_LOC_RE, b)
            if m and m.group(1).strip():
                children.append(_unescape_py(m.group(1).strip()))
        return {"kind": "index", "entries": [], "children": children}
    entries = []
    for b in re.findall(_URL_BLOCK_RE, text):
        m = re.search(_LOC_RE, b)
        if not m:
            continue
        lm = re.search(_LASTMOD_RE, b)
        cf = re.search(_CHANGEFREQ_RE, b)
        pr = re.search(_PRIORITY_RE, b)
        try:
            priority = float(pr.group(1).strip()) if pr and pr.group(1).strip() else None
        except ValueError:
            priority = None
        entries.append(
            {
                "loc": _unescape_py(m.group(1).strip()),
                "lastmod": lm.group(1).strip() if lm and lm.group(1).strip() else None,
                "changefreq": cf.group(1).strip() if cf and cf.group(1).strip() else None,
                "priority": priority,
            }
        )
    return {"kind": "urlset", "entries": entries, "children": []}


def fetch_sitemap_docs(urls: DataFrame, world) -> DataFrame:
    """(host, url) rows → (host, url, body) by fetching per Arrow
    batch (functions/robots.py fetch_robots pattern); body NULL on
    non-200."""
    from bisque_spark.synth import sitemap_bytes

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            bodies = []
            for u in pdf["url"]:
                status, content = sitemap_bytes(world, u)
                bodies.append(
                    content.decode("utf-8")
                    if status == 200 and content is not None
                    else None
                )
            out = pdf[["host", "url"]].copy()
            out["body"] = bodies
            yield out

    return urls.select("host", "url").mapInPandas(
        run, schema="host string, url string, body string"
    )


def sitemap_seed_locs(robots: DataFrame, world) -> DataFrame:
    """robots table (host, sitemaps — functions/robots.fetch_robots) →
    (host, loc, lastmod, changefreq, priority): every urlset entry
    across each host's sitemap tree, discovered via its robots.txt
    `Sitemap:` lines (the discovery mechanism real crawlers use —
    sitemaps.org's robots.txt extension) without fetching robots.txt a
    second time. CROSS-HOST advertisements are dropped (conservative
    policy: the spec's cross-submission escape hatch is not honored,
    so a host can never inject another host's sitemap into the
    frontier). Index docs are expanded exactly one level (the spec's
    layout); child sitemap locs obey the same-host rule before they
    are fetched. Raw locs — the caller canonicalizes and re-applies
    same-host on the canonical form.

    Scale shape: two Arrow fetch stages (top-level, children) and a
    JVM-only parse; the doc table is pinned because the index/urlset
    split consumes it twice (exchange-reuse gotcha in CLAUDE.md)."""
    from bisque_spark.functions.urlnorm import host_col
    from bisque_spark.util import pin

    top = robots.select("host", F.explode("sitemaps").alias("url")).where(
        host_col("url") == F.col("host")
    )
    docs = pin(fetch_sitemap_docs(top, world).where(F.col("body").isNotNull()))
    is_idx = sitemap_is_index_col(F.col("body"))
    child_urls = (
        docs.where(is_idx)
        .select(
            "host",
            F.explode(sitemap_child_locs_col(F.col("body"))).alias("url"),
        )
        .where(host_col("url") == F.col("host"))
    )
    child_docs = fetch_sitemap_docs(child_urls, world).where(
        F.col("body").isNotNull()
    )
    urlsets = docs.where(~is_idx).unionByName(child_docs)
    return urlsets.select(
        "host",
        F.explode(sitemap_entries_col(F.col("body"))).alias("e"),
    ).select(
        "host",
        F.col("e.loc").alias("loc"),
        F.col("e.lastmod").alias("lastmod"),
        F.col("e.changefreq").alias("changefreq"),
        F.col("e.priority").alias("priority"),
    )

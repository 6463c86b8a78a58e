"""sitemaps.org frontier seeding: Column parser == python twin ==
ground-truth locs; same-host rejection; sitemap-seeded crawl ==
oracle order/seen."""

import pyspark.sql.functions as F
import pytest

from bisque_spark.functions.sitemap import (
    parse_sitemap,
    sitemap_child_locs_col,
    sitemap_entries_col,
    sitemap_is_index_col,
    sitemap_seed_locs,
)
from bisque_spark.synth import (
    World,
    host_has_sitemap,
    seed_urls,
    sitemap_changefreq,
    sitemap_is_index,
    sitemap_lastmod,
    sitemap_locs,
    sitemap_priority,
    sitemap_xml_docs,
)

WORLD = World(n_hosts=12, n_seeds=18)


def _all_docs():
    out = []
    for i in range(WORLD.n_hosts):
        host = WORLD.host(i)
        for path, xml in sitemap_xml_docs(WORLD, host).items():
            out.append((host, path, xml))
    return out


def test_world_has_both_layouts():
    kinds = {
        sitemap_is_index(WORLD, WORLD.host(i))
        for i in range(WORLD.n_hosts)
        if host_has_sitemap(WORLD, WORLD.host(i))
    }
    assert kinds == {True, False}


def test_column_parser_matches_python_twin(spark):
    docs = _all_docs()
    df = spark.createDataFrame(docs, "host string, path string, xml string")
    rows = df.select(
        "host",
        "path",
        sitemap_is_index_col(F.col("xml")).alias("is_idx"),
        sitemap_entries_col(F.col("xml")).alias("entries"),
        sitemap_child_locs_col(F.col("xml")).alias("children"),
    ).collect()
    by_key = {(r["host"], r["path"]): r for r in rows}
    for host, path, xml in docs:
        want = parse_sitemap(xml)
        got = by_key[(host, path)]
        assert got["is_idx"] == (want["kind"] == "index"), (host, path)
        assert [
            {
                "loc": e["loc"],
                "lastmod": e["lastmod"],
                "changefreq": e["changefreq"],
                "priority": e["priority"],
            }
            for e in got["entries"]
        ] == want["entries"], (host, path)
        assert list(got["children"]) == want["children"], (host, path)


# numeric character references + CDATA sections are legal in real
# sitemaps (ADVICE r5) — crafted foreign docs, Column == twin == want
_CRAFTED = [
    # (loc-as-written, decoded loc)
    ("http://ex.test/caf&#xE9;", "http://ex.test/café"),
    ("http://ex.test/caf&#233;", "http://ex.test/café"),
    ("http://ex.test/a&#x20AC;b", "http://ex.test/a€b"),
    ("http://ex.test/&#x1F600;", "http://ex.test/\U0001f600"),
    ("http://ex.test/A&#65;&#x41;", "http://ex.test/AAA"),
    # surrogate / out-of-range scalar → U+FFFD
    ("http://ex.test/&#xD800;", "http://ex.test/�"),
    ("http://ex.test/&#1114112;", "http://ex.test/�"),
    # &amp; masks the following ref (decoded once, numeric-first)
    ("http://ex.test/&amp;#65;", "http://ex.test/&#65;"),
    # named entities still decode, mixed with refs
    ("http://ex.test/?a=1&amp;b=&#50;", "http://ex.test/?a=1&b=2"),
    # CDATA wrapper: verbatim (no entity decode), trimmed
    ("<![CDATA[http://ex.test/x?a=1&b=2]]>", "http://ex.test/x?a=1&b=2"),
    ("<![CDATA[ http://ex.test/&amp;raw ]]>", "http://ex.test/&amp;raw"),
    # CDATA padded with tab/newline: Column and twin must trim the
    # SAME charset (r6 ADVICE — F.trim only strips spaces)
    ("<![CDATA[\thttp://ex.test/tabbed\n]]>", "http://ex.test/tabbed"),
    ("<![CDATA[ \n\t http://ex.test/mixed \t\n ]]>", "http://ex.test/mixed"),
    # digit-run caps: over-long refs pass through verbatim
    ("http://ex.test/&#999999999;", "http://ex.test/&#999999999;"),
]


def test_numeric_refs_and_cdata_column_twin_and_truth(spark):
    xml = "<urlset>" + "".join(
        f"<url><loc>{raw}</loc></url>" for raw, _ in _CRAFTED
    ) + "</urlset>"
    want = [dec for _, dec in _CRAFTED]
    twin = [e["loc"] for e in parse_sitemap(xml)["entries"]]
    assert twin == want
    df = spark.createDataFrame([(xml,)], "xml string")
    [row] = df.select(
        sitemap_entries_col(F.col("xml")).alias("entries")
    ).collect()
    assert [e["loc"] for e in row["entries"]] == want


def test_cdata_child_locs_column_twin(spark):
    xml = (
        "<sitemapindex><sitemap>"
        "<loc><![CDATA[http://ex.test/sm1.xml]]></loc>"
        "</sitemap><sitemap>"
        "<loc>http://ex.test/sm&#50;.xml</loc>"
        "</sitemap></sitemapindex>"
    )
    want = ["http://ex.test/sm1.xml", "http://ex.test/sm2.xml"]
    assert parse_sitemap(xml)["children"] == want
    df = spark.createDataFrame([(xml,)], "xml string")
    [row] = df.select(
        sitemap_child_locs_col(F.col("xml")).alias("c")
    ).collect()
    assert list(row["c"]) == want


def test_parsed_locs_recover_ground_truth():
    """Parsing the generated XML tree must recover EXACTLY the
    ground-truth loc list (incl. the &amp;-escaped query URL) — this
    is what lets the oracle consume sitemap_locs directly."""
    for i in range(WORLD.n_hosts):
        host = WORLD.host(i)
        docs = sitemap_xml_docs(WORLD, host)
        want = sitemap_locs(WORLD, host)
        if not want:
            assert docs == {}
            continue
        top = parse_sitemap(docs["/sitemap.xml"])
        locs = []
        if top["kind"] == "index":
            assert all(c.startswith(f"http://{host}/") for c in top["children"])
            for child in top["children"]:
                path = child[len(f"http://{host}") :]
                locs += [e["loc"] for e in parse_sitemap(docs[path])["entries"]]
        else:
            locs = [e["loc"] for e in top["entries"]]
        assert locs == want, host
        amp = [l for l in want if "&" in l]
        assert amp and all("&amp;" not in l for l in locs)
        for e in (
            top["entries"]
            if top["kind"] == "urlset"
            else parse_sitemap(docs["/sitemap-0.xml"])["entries"]
        ):
            assert e["lastmod"] == sitemap_lastmod(WORLD, e["loc"])
            assert e["changefreq"] == sitemap_changefreq(WORLD, e["loc"])
            assert e["priority"] == sitemap_priority(WORLD, e["loc"])


def test_optional_fields_both_present_and_absent():
    """The synth world must emit entries WITH and WITHOUT changefreq/
    priority so the NULL-when-absent parse path is actually exercised,
    and a malformed priority must try_cast to NULL, not kill the row."""
    ents = [
        e
        for _, path, xml in _all_docs()
        if path != "/sitemap.xml" or "<urlset" in xml
        for e in parse_sitemap(xml)["entries"]
    ]
    assert any(e["changefreq"] is None for e in ents)
    assert any(e["changefreq"] is not None for e in ents)
    assert any(e["priority"] is None for e in ents)
    assert any(e["priority"] is not None for e in ents)
    bad = parse_sitemap(
        "<urlset><url><loc>http://h.test/a</loc>"
        "<priority>high</priority></url></urlset>"
    )
    assert bad["entries"][0]["priority"] is None


def test_malformed_priority_try_cast_null(spark):
    xml = (
        "<urlset><url><loc>http://h.test/a</loc>"
        "<changefreq>daily</changefreq><priority>high</priority></url>"
        "<url><loc>http://h.test/b</loc><priority>0.7</priority></url>"
        "</urlset>"
    )
    df = spark.createDataFrame([(xml,)], "xml string")
    [row] = df.select(sitemap_entries_col(F.col("xml")).alias("e")).collect()
    a, b = row["e"]
    assert (a["changefreq"], a["priority"]) == ("daily", None)
    assert (b["changefreq"], b["priority"]) == (None, 0.7)


def _robots(spark):
    from bisque_spark.functions.robots import fetch_robots

    hosts = spark.createDataFrame(
        [(WORLD.host(i),) for i in range(WORLD.n_hosts)], "host string"
    )
    return fetch_robots(hosts, WORLD)


def test_seed_locs_operator_same_host_and_totals(spark):
    got = sitemap_seed_locs(_robots(spark), WORLD).collect()
    from bisque_spark.util import release_caches

    release_caches()
    want = {
        (WORLD.host(i), loc)
        for i in range(WORLD.n_hosts)
        for loc in sitemap_locs(WORLD, WORLD.host(i))
    }
    assert {(r["host"], r["loc"]) for r in got} == want
    # the raw loc set still CONTAINS cross-host spam entries — the
    # crawl filters them after canonicalization; verify they exist so
    # the e2e test actually exercises the rejection
    assert any(not loc.lower().startswith(f"http://{h}/") for h, loc in want)


@pytest.mark.slow
def test_crawl_with_sitemaps_matches_oracle(spark, tmp_path):
    from bisque_spark.plans.crawl import read_order, run_crawl
    from oracle_crawler import crawl_oracle

    world = World(n_hosts=8, n_seeds=10)
    want = crawl_oracle(
        world, seed_urls(world), max_epochs=3, use_sitemaps=True
    )
    res = run_crawl(
        spark,
        world,
        seed_urls(world),
        workdir=str(tmp_path / "crawl"),
        max_epochs=3,
        use_sitemaps=True,
    )
    rows = read_order(spark, res).collect()
    got = sorted(
        (
            r["epoch"],
            r["host"],
            r["host_rank"],
            float(r["priority"]),
            r["url_hash"],
            r["url"],
        )
        for r in rows
    )
    assert got == sorted(
        (e, h, rk, float(p), uh, u) for (e, h, rk, p, uh, u) in want["order"]
    )
    # sitemap seeding must actually ADD scheduled urls vs the plain crawl
    plain = crawl_oracle(world, seed_urls(world), max_epochs=3)
    assert len(want["order"]) > len(plain["order"])


def test_parse_robots_sitemaps():
    from bisque_spark.functions.robots import parse_robots_txt

    txt = (
        "User-agent: *\nDisallow:\n"
        "Sitemap: http://a.test/sitemap.xml\n"
        "# comment line\n"
        "SITEMAP: http://b.test/s.xml  # trailing comment\n"
        "Sitemap:\n"
    )
    assert parse_robots_txt(txt)["sitemaps"] == [
        "http://a.test/sitemap.xml",
        "http://b.test/s.xml",
    ]
    assert parse_robots_txt("User-agent: *\nDisallow: /x\n")["sitemaps"] == []


def test_discovery_via_robots_rejects_cross_host(spark):
    """Sitemap discovery reads the robots table's `Sitemap:` column:
    same-host adverts are followed, cross-host ones never are."""
    from bisque_spark.util import release_caches

    robots = _robots(spark)
    adverts = {r["host"]: list(r["sitemaps"]) for r in robots.collect()}
    own = {
        h: [f"http://{h}/sitemap.xml"] if host_has_sitemap(WORLD, h) else []
        for h in adverts
    }
    assert {h: [u for u in us if u.startswith(f"http://{h}/")]
            for h, us in adverts.items()} == own
    # the synth robots MUST advertise at least one OTHER host's existing
    # sitemap, so honoring cross-host adverts would change the result
    foreign = [
        (h, u) for h, us in adverts.items() for u in us
        if not u.startswith(f"http://{h}/")
        and host_has_sitemap(WORLD, u.split("/")[2])
    ]
    assert foreign
    got = {(r["host"], r["loc"])
           for r in sitemap_seed_locs(robots, WORLD).collect()}
    release_caches()
    assert got == {(h, loc) for h in adverts for loc in sitemap_locs(WORLD, h)}


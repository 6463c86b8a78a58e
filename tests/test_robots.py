"""robots.txt parsing, the fetch_robots stage and the one JVM matcher
(operators/schedule.apply_robots) vs the crawl's rule table."""

import re

from bisque_spark.functions.robots import (
    _compile_rule_re,
    fetch_robots,
    parse_robots_txt,
    robots_allowed_py,
    synth_robots_txt,
)
from bisque_spark.operators.schedule import apply_robots
from bisque_spark.synth import World, robots_rows

ROBOTS_SCHEMA = (
    "host string, crawl_delay double, "
    "rules array<struct<re:string, len:int, allow:int>>, "
    "sitemaps array<string>"
)


def _dis(path: str) -> dict:
    """The parsed form of ``Disallow: <path>`` for a path with no
    ``*``/``$``: an escaped, start-anchored prefix regex."""
    return {"re": "^" + re.escape(path), "len": len(path), "allow": 0}


def _robots_df(spark, texts: dict):
    """host → robots.txt body ⇒ the robots table fetch_robots emits."""
    rows = []
    for host, txt in texts.items():
        p = parse_robots_txt(txt)
        rows.append((host, p["crawl_delay"], p["rules"], p["sitemaps"]))
    return spark.createDataFrame(rows, ROBOTS_SCHEMA)


def test_parse_basic():
    txt = """
# comment
User-agent: *
Crawl-delay: 2.5
Disallow: /admin
Disallow: /private
"""
    parsed = parse_robots_txt(txt)
    assert parsed == {
        "crawl_delay": 2.5,
        "rules": [_dis("/admin"), _dis("/private")],
        "sitemaps": [],
    }
    assert not robots_allowed_py(parsed["rules"], "/admin/x")
    assert robots_allowed_py(parsed["rules"], "/public")


def test_agent_specific_group_wins():
    txt = """
User-agent: *
Disallow: /everything

User-agent: bisque
Crawl-delay: 1
Disallow: /only-this
"""
    rules = parse_robots_txt(txt, user_agent="bisque/1.0")["rules"]
    assert rules == [_dis("/only-this")]
    star = parse_robots_txt(txt, user_agent="otherbot")["rules"]
    assert star == [_dis("/everything")]


def test_empty_disallow_allows_all():
    txt = "User-agent: *\nDisallow:\n"
    assert parse_robots_txt(txt)["rules"] == []


def test_missing_or_garbage():
    assert parse_robots_txt("") == {
        "crawl_delay": 1.0,
        "rules": [],
        "sitemaps": [],
    }
    assert parse_robots_txt("not a robots file at all")["rules"] == []


def test_multi_agent_group():
    txt = "User-agent: a\nUser-agent: b\nDisallow: /x\n"
    assert parse_robots_txt(txt, user_agent="b")["rules"] == [_dis("/x")]


def test_synth_roundtrip_matches_rule_table():
    world = World(n_hosts=25)
    want = {r["host"]: r for r in robots_rows(world)}
    for host, rules in want.items():
        parsed = parse_robots_txt(synth_robots_txt(world, host))
        assert parsed["crawl_delay"] == rules["crawl_delay"], host
        assert parsed["rules"] == [_dis(p) for p in rules["disallow"]], host


def test_fetch_robots_stage(spark):
    world = World(n_hosts=10)
    hosts = spark.createDataFrame(
        [(world.host(i),) for i in range(10)], "host string"
    )
    table = {r["host"]: r for r in fetch_robots(hosts, world).collect()}
    want = {r["host"]: r for r in robots_rows(world)}
    assert set(table) == set(want)
    for h in want:
        parsed = parse_robots_txt(synth_robots_txt(world, h))
        assert table[h]["crawl_delay"] == want[h]["crawl_delay"]
        assert [r.asDict() for r in table[h]["rules"]] == [
            _dis(p) for p in want[h]["disallow"]
        ]
        assert list(table[h]["sitemaps"]) == parsed["sitemaps"]


def test_apply_robots_honors_allow_and_wildcards(spark):
    """The crawl's matcher over parse_robots_txt output runs RFC 9309,
    not a prefix list: a longer Allow carves a hole in ``Disallow: /``,
    and ``$`` anchors a ``*`` pattern at the end of the path."""
    robots = _robots_df(
        spark,
        {
            "a.test": "User-agent: *\nDisallow: /\nAllow: /public\n",
            "b.test": "User-agent: *\nDisallow: /*.pdf$\n",
        },
    )
    frontier = spark.createDataFrame(
        [
            ("http://a.test/public/x", "a.test"),
            ("http://a.test/x", "a.test"),
            ("http://b.test/x.pdf", "b.test"),
            ("http://b.test/x.pdfz", "b.test"),
        ],
        "url string, host string",
    )
    got = {r["url"] for r in apply_robots(frontier, robots).collect()}
    assert got == {"http://a.test/public/x", "http://b.test/x.pdfz"}


def test_apply_robots_null_path_is_allowed(spark):
    """A row whose URL has no path (NULL) matches no rule, so it is
    allowed even under ``Disallow: /`` — RFC 9309 §2.2.2's "no match →
    allowed". Rows of hosts without a robots row keep crawl_delay 1."""
    robots = _robots_df(spark, {"a.test": "User-agent: *\nDisallow: /\n"})
    frontier = spark.createDataFrame(
        [(None, "a.test"), ("http://a.test/x", "a.test"),
         ("http://z.test/x", "z.test")],
        "url string, host string",
    )
    got = {
        (r["url"], r["crawl_delay"])
        for r in apply_robots(frontier, robots).collect()
    }
    assert got == {(None, 1.0), ("http://z.test/x", 1.0)}


def test_apply_robots_equals_prefix_rule_table(spark):
    """On every host of a World, the JVM verdict over the fetched robots
    table equals the prefix verdict of ``synth.robots_rows`` — the rule
    table the oracle crawler (tests/oracle_crawler._disallowed) uses."""
    from oracle_crawler import _disallowed

    world = World(n_hosts=40)
    hosts = [world.host(i) for i in range(world.n_hosts)]
    paths = ["/", "/admin", "/admin/x", "/adminx", "/a/admin", "/ADMIN",
             "/p1.html", "/admin?q=1", "/x?admin"]
    rows = [(f"http://{h}{p}", h) for h in hosts for p in paths]
    robots = fetch_robots(
        spark.createDataFrame([(h,) for h in hosts], "host string"), world
    )
    frontier = spark.createDataFrame(rows, "url string, host string")
    got = {r["url"] for r in apply_robots(frontier, robots).collect()}
    disallow = {r["host"]: r["disallow"] for r in robots_rows(world)}
    want = {u for u, _ in rows if not _disallowed(u, disallow)}
    assert got == want
    assert len(want) < len(rows)  # some host really disallows


RFC_TXT = """
User-agent: bisque
Allow: /p
Disallow: /
Allow: /folder/
Disallow: /folder
Allow: /page
Disallow: /*.ph
Allow: /$
Disallow: /admin*private$
Crawl-delay: 2
"""


def test_rfc9309_longest_match_semantics():
    """Allow + wildcards + $ + longest-rule-wins (allow breaks ties) —
    hand-derived verdicts per RFC 9309 §2.2.2 mechanics."""
    parsed = parse_robots_txt(RFC_TXT, "bisque")
    assert parsed["crawl_delay"] == 2.0
    rules = parsed["rules"]
    cases = {
        "/page": True,        # /page (5) beats /*.ph? both 5 → allow wins
        "/p": True,           # /p beats /
        "/x": False,          # only / matches
        "/folder/page": True,  # /folder/ (8, allow) beats /folder (7)
        "/photo.php": False,   # /*.ph (5) beats /p (2)
        "/page.php5": True,    # /page (5) ties /*.ph (5) → allow
        "/": True,            # /$ (2, allow) beats / (1)
        "/adminXprivate": False,   # wildcard + $ anchor
        "/adminXprivateY": False,  # $ anchor fails; / (disallow) matches
    }
    for path, want in cases.items():
        assert robots_allowed_py(rules, path) is want, (path, want, rules)


def test_apply_robots_matches_python(spark):
    """JVM array_max longest-match == robots_allowed_py over random
    rule sets and paths."""
    import random

    rng = random.Random(5)
    segs = ["/a", "/b", "/ab", "/a/b", "/*.php", "/a$", "/*b", "/"]
    hosts = []
    for h in range(12):
        n = rng.randint(0, 5)
        rules = [
            {
                "re": _compile_rule_re(p),
                "len": len(p),
                "allow": rng.randint(0, 1),
            }
            for p in rng.sample(segs, n)
        ]
        hosts.append((f"h{h}.test", 1.0, rules, []))
    robots = spark.createDataFrame(hosts, ROBOTS_SCHEMA)
    paths = ["/a", "/b", "/ab", "/a/b/c", "/x.php", "/a", "/", "/bb"]
    rows = [
        (f"http://h{h}.test{p}", f"h{h}.test")
        for h in range(12)
        for p in paths
    ]
    frontier = spark.createDataFrame(rows, "url string, host string")
    got = {r["url"] for r in apply_robots(frontier, robots).collect()}
    for url, host in rows:
        rules = next(r[2] for r in hosts if r[0] == host)
        path = url.split(".test")[1]
        assert (url in got) is robots_allowed_py(rules, path), (url, rules)

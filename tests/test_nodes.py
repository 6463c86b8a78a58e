"""Node-table operators vs the reference: axes + strainer + get_text."""

import re

import pyspark.sql.functions as F
import pytest

from bisque_spark.operators.nodes import (
    children_of,
    descendants_of,
    explode_nodes,
    find_all,
    find_first,
    get_text_of,
    next_siblings_of,
    parents_of,
    strainer,
)
from ref_oracle import ref_soup

DOCS = [
    (
        "u1",
        '<div class="a b"><p>one</p><figure><img src="x" alt="A"/>'
        "<figcaption>cap <b>bold</b></figcaption></figure>"
        '<p class="caption wide">two</p></div>',
    ),
    (
        "u2",
        "<ul><li>x<li>y<li>z</ul><script>s()</script>"
        "<p>caf&eacute;</p><pre> keep </pre>",
    ),
    ("u3", "<html><body><p> </p><!-- c --><table><tr><td>t</td></table></body></html>"),
]


@pytest.fixture(scope="module")
def nodes(spark):
    pages = spark.createDataFrame(DOCS, "url string, text string")
    return explode_nodes(pages).persist()


def test_find_all_name_matches_reference(spark, nodes):
    for name in ["p", "li", "img", "table"]:
        got = (
            find_all(nodes, strainer(name))
            .groupBy("url")
            .count()
            .collect()
        )
        got_map = {r["url"]: r["count"] for r in got}
        for url, doc in DOCS:
            want = len(ref_soup(doc).find_all(name))
            assert got_map.get(url, 0) == want, (name, url)


def test_find_all_attrs_and_class(spark, nodes):
    hits = find_all(nodes, strainer("p", class_="caption")).collect()
    assert len(hits) == 1 and hits[0]["url"] == "u1"
    # regex name
    n = find_all(nodes, strainer(re.compile("^t"))).count()  # table, td, tr
    want = sum(len(ref_soup(d).find_all(re.compile("^t"))) for _, d in DOCS)
    assert n == want
    # list-of-names
    n2 = find_all(nodes, strainer(["p", "li"])).count()
    want2 = sum(len(ref_soup(d).find_all(["p", "li"])) for _, d in DOCS)
    assert n2 == want2
    # attrs=True presence
    n3 = find_all(nodes, strainer(None, {"src": True})).count()
    assert n3 == 1


def test_find_first_limit(spark, nodes):
    firsts = find_first(nodes, strainer("li")).collect()
    assert len(firsts) == 1  # only u2 has li; first one only
    assert firsts[0]["url"] == "u2"
    lim = find_all(nodes, strainer("li"), limit=2).count()
    assert lim == 2


def test_axes_match_reference(spark, nodes):
    figs = find_all(nodes, strainer("figure"))
    desc = descendants_of(nodes, figs)
    # figure subtree: img, figcaption, 'cap ', b, 'bold'
    assert desc.count() == 5
    kids = children_of(nodes, figs)
    assert sorted(r["name"] or "#str" for r in kids.collect()) == [
        "figcaption",
        "img",
    ]
    imgs = find_all(nodes, strainer("img"))
    sibs = next_siblings_of(nodes, imgs)
    assert [r["name"] for r in sibs.collect()] == ["figcaption"]
    pars = parents_of(nodes, imgs).collect()
    assert sorted(r["name"] for r in pars) == ["div", "figure"]


def test_document_order_axes(spark, nodes):
    from bisque_spark.operators.nodes import (
        next_elements_of,
        previous_elements_of,
    )

    imgs = find_all(nodes, strainer("img"))
    nxt = next_elements_of(nodes, imgs, pred=strainer("p"), first_only=True)
    # reference: img.find_next('p') → the p.caption after the figure
    soup = ref_soup(DOCS[0][1])
    want = soup.find("img").find_next("p")
    got = nxt.collect()
    assert len(got) == 1 and got[0]["name"] == "p"
    assert (got[0]["attrs"] or {}).get("class") == want.get("class", [""]) or (
        got[0]["attrs"] or {}
    ).get("class") == " ".join(want.get("class"))
    prev = previous_elements_of(nodes, imgs, pred=strainer("p"), first_only=True)
    want_prev = soup.find("img").find_previous("p")
    got_prev = prev.collect()
    assert len(got_prev) == 1
    assert got_prev[0]["name"] == want_prev.name


def test_get_text_matches_reference(spark, nodes):
    figs = find_all(nodes, strainer("figcaption"))
    out = get_text_of(nodes, figs).collect()
    assert len(out) == 1
    want = ref_soup(DOCS[0][1]).find("figcaption").get_text()
    assert out[0]["text"] == want
    # script container typing
    scripts = find_all(nodes, strainer("script"))
    got = get_text_of(nodes, scripts).collect()[0]["text"]
    assert got == ref_soup(DOCS[1][1]).find("script").get_text()
    # whole-document get_text per url
    docs_roots = (
        nodes.groupBy("url")
        .agg(
            F.lit(-1).alias("pos"),
            (F.max("pos")).alias("subtree_end"),
            F.lit(None).cast("string").alias("name"),
        )
    )
    texts = {r["url"]: r["text"] for r in get_text_of(nodes, docs_roots).collect()}
    for url, doc in DOCS:
        assert texts[url] == ref_soup(doc).get_text(), url


def test_get_text_strip_and_separator(spark, nodes):
    from bisque_spark.operators.nodes import get_text_of

    figs = find_all(nodes, strainer("figcaption"))
    got = get_text_of(nodes, figs, separator="|", strip=True).collect()[0]["text"]
    want = ref_soup(DOCS[0][1]).find("figcaption").get_text("|", strip=True)
    assert got == want


def test_string_strainer(spark, nodes):
    hits = find_all(nodes, strainer(string=re.compile("caf"))).collect()
    assert len(hits) == 1 and hits[0]["kind"] == "text"
    assert hits[0]["text"] == "café"


def test_string_cofilter_matches_reference(spark, nodes):
    """find_all(name, string=...) — the SoupStrainer co-filter
    (soup_strainer.py:171-173) vs the reference, incl. the recursive
    Tag.string chain (tag.py:267-287)."""
    cases = [
        ("p", re.compile("one")),
        ("p", "two"),
        ("li", re.compile(".")),
        ("figcaption", re.compile("cap")),  # 2 children → .string None
        ("b", "bold"),
        ("td", True),
        ("p", True),
    ]
    for name, want_str in cases:
        got = sorted(
            (r["url"], r["pos"])
            for r in find_all(nodes, strainer(name), string=want_str).collect()
        )
        want = []
        for url, doc in DOCS:
            soup = ref_soup(doc)
            n = len(soup.find_all(name, string=want_str))
            got_urls = [g for g in got if g[0] == url]
            assert len(got_urls) == n, (name, want_str, url, got_urls, n)


def test_string_cofilter_recursive_chain(spark):
    """<div><b><i>deep</i></b></div>: div.string == 'deep' through two
    single-child hops; a sibling breaks the chain."""
    docs = [
        ("c1", "<div><b><i>deep</i></b></div>"),
        ("c2", "<div><b><i>deep</i></b>extra</div>"),
    ]
    pages = spark.createDataFrame(docs, "url string, text string")
    nodes = explode_nodes(pages)
    got = {
        r["url"]
        for r in find_all(nodes, strainer("div"), string="deep").collect()
    }
    want = set()
    for url, doc in docs:
        if ref_soup(doc).find("div", string="deep") is not None:
            want.add(url)
    assert got == want == {"c1"}


def test_strainer_string_with_name_raises():
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        strainer("p", string="x")


def test_callable_strainer_matches_reference_over_bad_document(spark):
    """Callable predicate lane (slow path) vs the reference's callable
    SoupStrainer over BAD_DOCUMENT (soup_strainer.py:139-151)."""
    import sys

    sys.path.insert(0, "/root/reference/src")
    pytest.importorskip("bisque", reason="reference absent")
    from bisque.tests import BAD_DOCUMENT

    from bisque_spark.operators.nodes import callable_strainer

    pages = spark.createDataFrame([("bad", BAD_DOCUMENT)], "url string, text string")
    bad_nodes = explode_nodes(pages)

    def node_pred(n):
        return (
            n["kind"] == "tag"
            and n["name"] is not None
            and len(n["name"]) > 2
            and "c" in n["name"]
        )

    got = sorted(
        r["name"] for r in bad_nodes.where(callable_strainer(node_pred)).collect()
    )

    def tag_pred(tag):
        return tag.name is not None and len(tag.name) > 2 and "c" in tag.name

    want = sorted(t.name for t in ref_soup(BAD_DOCUMENT).find_all(tag_pred))
    assert got == want and len(got) > 0


def test_callable_predicates_per_document():
    """parse.find_all with callable name / attr / string predicates ==
    the reference's callable strainers."""
    import sys

    sys.path.insert(0, "/root/reference/src")

    from bisque_spark.parse import find_all as pd_find_all
    from bisque_spark.parse import parse_nodes

    doc = DOCS[0][1]
    soup = ref_soup(doc)
    nodes = parse_nodes(doc)

    # callable name: our lane gets node records, the reference gets Tags
    got = [n["name"] for n in pd_find_all(nodes, lambda n: n["name"] == "p")]
    want = [t.name for t in soup.find_all(lambda t: t.name == "p")]
    assert got == want

    # callable attr value (None reaches the callable when attr absent)
    got = [
        n["name"]
        for n in pd_find_all(
            nodes, "p", {"class": lambda v: v is not None and "caption" in v}
        )
    ]
    want = [
        t.name
        for t in soup.find_all(
            "p", {"class": lambda v: v is not None and "caption" in v}
        )
    ]
    assert got == want and got

    got = [n["name"] for n in pd_find_all(nodes, "p", {"id": lambda v: v is None})]
    want = [t.name for t in soup.find_all("p", {"id": lambda v: v is None})]
    assert got == want and got

    # callable string co-filter: the reference REJECTS callables here
    # (its Pydantic SoupStrainer schema types string as
    # str|list|bool|regex — verified: ValidationError); ours accepts
    # them as a superset, with _matches' callable-first semantics
    got = [
        (n["name"], string_of_p(nodes, n))
        for n in pd_find_all(nodes, "p", string=lambda s: s is not None and "o" in s)
    ]
    # both <p>one</p> and <p class="caption wide">two</p> contain "o"
    assert [g[0] for g in got] == ["p", "p"]
    assert all("o" in g[1] for g in got)


def string_of_p(nodes, node):
    from bisque_spark.parse import string_of

    return string_of(nodes, node["pos"])


def test_on_duplicate_attribute_callable():
    import sys

    sys.path.insert(0, "/root/reference/src")
    pytest.importorskip("bisque", reason="reference absent")
    from bisque import Bisque

    from bisque_spark.parse import parse_nodes

    doc = '<a href="u1" href="u2" href="u3">x</a>'

    def accumulate(d, key, value):
        d[key] = d[key] + " " + value

    soup = Bisque(
        doc, features="html.parser", on_duplicate_attribute=accumulate
    )
    nodes = parse_nodes(doc, on_duplicate_attribute=accumulate)
    a = next(n for n in nodes if n["name"] == "a")
    assert a["attrs"]["href"] == soup.a["href"] == "u1 u2 u3"

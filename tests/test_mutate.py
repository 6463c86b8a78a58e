"""Mutation rewrites vs the reference performing the same mutation:
mutate → serialize must byte-equal bisque's mutate → decode."""

import pyspark.sql.functions as F
import pytest

from bisque_spark.operators.mutate import (
    decompose,
    extract_subtree,
    replace_with_text,
    smooth,
    smooth_nodes_df,
    unwrap,
)
from bisque_spark.parse import find_all, parse_nodes, serialize_nodes
from ref_oracle import ref_soup

DOC = (
    '<div><p class="x">one</p><script>junk()</script>'
    "<span><b>two</b> three</span><p>four</p></div>"
)


def test_decompose_matches_reference():
    nodes = parse_nodes(DOC)
    script = find_all(nodes, "script")[0]
    got = serialize_nodes(decompose(nodes, script["pos"]))
    soup = ref_soup(DOC)
    soup.find("script").decompose()
    assert got == soup.decode()


def test_extract_matches_reference():
    nodes = parse_nodes(DOC)
    span = find_all(nodes, "span")[0]
    remaining, extracted = extract_subtree(nodes, span["pos"])
    soup = ref_soup(DOC)
    ripped = soup.find("span").extract()
    assert serialize_nodes(remaining) == soup.decode()
    assert serialize_nodes(extracted) == ripped.decode()


def test_replace_with_matches_reference():
    nodes = parse_nodes(DOC)
    span = find_all(nodes, "span")[0]
    got = serialize_nodes(replace_with_text(nodes, span["pos"], "REPLACED"))
    soup = ref_soup(DOC)
    soup.find("span").replace_with("REPLACED")
    assert got == soup.decode()


def test_unwrap_matches_reference():
    nodes = parse_nodes(DOC)
    span = find_all(nodes, "span")[0]
    got = serialize_nodes(unwrap(nodes, span["pos"]))
    soup = ref_soup(DOC)
    soup.find("span").unwrap()
    assert got == soup.decode()


def test_smooth_matches_reference():
    doc = "<p>a<b>x</b>c</p><p>d</p>"
    nodes = parse_nodes(doc)
    b = find_all(nodes, "b")[0]
    # removing <b> leaves adjacent 'a' and 'c' text runs to merge
    mutated = smooth(decompose(nodes, b["pos"]))
    soup = ref_soup(doc)
    soup.find("b").decompose()
    soup.smooth()
    assert serialize_nodes(mutated) == soup.decode()
    texts = [n for n in mutated if n["kind"] == "text"]
    assert [t["text"] for t in texts] == ["ac", "d"]


def test_insert_and_wrap_match_reference():
    from bisque_spark.operators.mutate import (
        insert_after,
        insert_before,
        insert_node,
        new_string,
        new_tag,
        wrap_node,
    )

    doc = "<div><p>one</p><p>two</p></div>"

    # insert a new tag at child index 1
    nodes = parse_nodes(doc)
    div = find_all(nodes, "div")[0]
    tag = new_tag("hr")
    got = serialize_nodes(insert_node(nodes, div["pos"], 1, tag))
    soup = ref_soup(doc)
    soup.find("div").insert(1, soup.new_tag("hr"))
    assert got == soup.decode()

    # insert_before / insert_after a string
    nodes = parse_nodes(doc)
    p2 = find_all(nodes, "p")[1]
    got = serialize_nodes(insert_before(nodes, p2["pos"], new_string("MID")))
    soup = ref_soup(doc)
    soup.find_all("p")[1].insert_before("MID")
    assert got == soup.decode()

    nodes = parse_nodes(doc)
    p1 = find_all(nodes, "p")[0]
    got = serialize_nodes(insert_after(nodes, p1["pos"], new_string("AFTER")))
    soup = ref_soup(doc)
    soup.find_all("p")[0].insert_after("AFTER")
    assert got == soup.decode()

    # wrap
    nodes = parse_nodes(doc)
    p1 = find_all(nodes, "p")[0]
    got = serialize_nodes(wrap_node(nodes, p1["pos"], new_tag("section", {"id": "s1"})))
    soup = ref_soup(doc)
    wrapper = soup.new_tag("section")
    wrapper["id"] = "s1"
    soup.find("p").wrap(wrapper)
    assert got == soup.decode()

    # axes stay consistent after renumbering
    nodes2 = insert_node(parse_nodes(doc), div["pos"], 1, new_tag("hr"))
    assert [n["pos"] for n in nodes2] == list(range(len(nodes2)))
    for n in nodes2:
        assert n["subtree_end"] >= n["pos"]


def test_smooth_df_merges_runs(spark):
    doc = "<p>a<b>x</b>c</p>"
    nodes = parse_nodes(doc)
    b = find_all(nodes, "b")[0]
    cut = decompose(nodes, b["pos"])
    from bisque_spark.operators.nodes import NODES_SCHEMA, _FIELDS

    rows = [tuple({**n, "url": "u"}[k] for k in _FIELDS) for n in cut]
    df = spark.createDataFrame(rows, schema=NODES_SCHEMA)
    smoothed = smooth_nodes_df(df)
    texts = sorted(
        r["text"] for r in smoothed.where(F.col("kind") == "text").collect()
    )
    assert texts == ["ac"]


def test_unwrap_decrements_depth_for_whole_subtree():
    """Grandchildren of an unwrapped tag must also lose one depth level
    (ADVICE r01: only direct children were decremented)."""
    from bisque_spark.operators.mutate import unwrap
    from bisque_spark.parse import parse_nodes

    nodes = parse_nodes("<div><span><b><i>x</i></b></span></div>")
    span = next(n for n in nodes if n["name"] == "span")
    out = unwrap(nodes, span["pos"])
    depth_of = {n["pos"]: n["depth"] for n in out}
    by_name = {n["name"]: n for n in out if n["kind"] == "tag"}
    # invariant: every node's depth == its ancestor-chain length
    parent_of = {n["pos"]: n["parent_pos"] for n in out}
    for n in out:
        d, p = 0, n["parent_pos"]
        while p >= 0:
            d += 1
            p = parent_of[p]
        assert n["depth"] == d, (n, depth_of)
    assert by_name["b"]["depth"] == 1
    assert by_name["i"]["depth"] == 2


def test_clear_matches_reference():
    """clear() keeps the tag, drops its contents (tag.py:368-383) —
    serialize byte-parity vs the reference."""
    import sys

    sys.path.insert(0, "/root/reference/src")
    pytest.importorskip("bisque", reason="reference absent")
    from bisque import Bisque

    from bisque_spark.operators.mutate import clear
    from bisque_spark.parse import parse_nodes, serialize_nodes

    doc = "<div><p>one<b>two</b></p><span>tail</span></div>"
    soup = Bisque(doc, features="html.parser")
    soup.p.clear()
    nodes = parse_nodes(doc)
    p = next(n for n in nodes if n["name"] == "p")
    got = serialize_nodes(clear(nodes, p["pos"]))
    assert got == str(soup) == "<div><p></p><span>tail</span></div>"

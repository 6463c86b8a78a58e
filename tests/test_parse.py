"""Differential tests: bisque_spark.parse vs the reference bisque.

The reference (imported read-only from /root/reference/src) is the
per-document oracle: node-for-node tree equality and byte-equal
get_text output, including on the reference's own adversarial corpus
(BAD_DOCUMENT, tests/__init__.py:52-86) and fuzz testcases.
"""

import glob

import pytest

from bisque_spark.parse import find_all, get_text, parse_nodes
from ref_oracle import engine_nodes_comparable, ref_nodes, ref_soup

CORPUS = [
    "<html><body><p>Hello</p></body></html>",
    '<figure><img src="a.png" alt="Alt  text"/>'
    "<figcaption>A  caption &amp; more</figcaption></figure>",
    '<div class="a  b "><p>x</p>  <pre>  keep   me\n</pre>'
    "<script>var x=1;</script></div>",
    "<p>caf&eacute; &#233; &#xE9; &#147; &unknownent; &amp</p>",
    "<!DOCTYPE html><!-- a comment --><html><body><![CDATA[raw]]>"
    "<?php echo 1 ?></body></html>",
    "<ul><li>one<li>two<li>three</ul>",
    "<b><i>nested</b></i>",
    "<table><tr><td>a</td><td>b</table>",
    '<a href="x" href="y" rel="nofollow external">dup</a>',
    "<ruby>漢 <rt>kan</rt><rp>(</rp></ruby>",
    "<template><p>tpl text</p></template><style>p{}</style>",
    "<textarea>  spaces  kept  </textarea><p>   </p><p> \n </p>",
    "<br/><br><img src=x></img><wbr>tail",
    "<p>a<p>b<p>c",
    "<div><p>unclosed<div>nested",
    "<p></p><p> </p>",
    "<pre><code>  x  </code></pre>",
    "<SCRIPT>UP</SCRIPT><P CLASS='Y z'>case</P>",
]


def _ref_docs():
    docs = list(CORPUS)
    import sys

    sys.path.insert(0, "/root/reference/src")
    pytest.importorskip("bisque", reason="reference absent")
    from bisque.tests import BAD_DOCUMENT

    docs.append(BAD_DOCUMENT)
    for f in sorted(glob.glob("/root/reference/src/bisque/tests/fuzz/*.testcase")):
        try:
            docs.append(open(f, "rb").read().decode("utf-8"))
        except UnicodeDecodeError:
            pass
    return docs


@pytest.mark.parametrize("i", range(len(CORPUS)))
def test_node_tree_matches_reference(i):
    doc = CORPUS[i]
    assert engine_nodes_comparable(parse_nodes(doc)) == ref_nodes(doc)


def test_adversarial_corpus_matches_reference():
    mismatches = 0
    for doc in _ref_docs():
        try:
            expected = ref_nodes(doc)
        except Exception:
            # reference rejects this markup; engine policy is row-level
            # error containment, not equality (SURVEY.md §4.2)
            continue
        got = engine_nodes_comparable(parse_nodes(doc))
        if got != expected:
            mismatches += 1
    assert mismatches == 0


def test_get_text_byte_equal():
    for doc in _ref_docs():
        try:
            soup = ref_soup(doc)
        except Exception:
            continue
        assert get_text(parse_nodes(doc)) == soup.get_text()
        assert get_text(parse_nodes(doc), separator="|", strip=True) == soup.get_text(
            separator="|", strip=True
        )


def test_find_all_strainer_sweep_vs_reference():
    """Sweep strainer shapes over the corpus: results must match the
    reference find_all node-for-node (name, attrs, text)."""
    import re as _re

    from bisque_spark.parse import get_text

    strainers = [
        dict(name="p"),
        dict(name="div"),
        dict(name="a", attrs={"href": True}),
        dict(name=None, attrs={"class": True}),
        dict(name="p", attrs={"class": "caption"}),
        dict(name="table"),
        dict(name="li"),
    ]
    for doc in _ref_docs():
        try:
            soup = ref_soup(doc)
        except Exception:
            continue
        nodes = parse_nodes(doc)
        for s in strainers:
            name = s.get("name")
            attrs = s.get("attrs") or {}
            # reference call
            ref_kwargs = {}
            for k, v in attrs.items():
                ref_kwargs[k] = v
            want = soup.find_all(name if name is not None else True, **ref_kwargs)
            got = find_all(nodes, name, attrs or None)
            assert len(got) == len(want), (s, doc[:40])
            for g, w in zip(got, want):
                assert g["name"] == w.name
                assert get_text(nodes, g["pos"]) == w.get_text()


def test_string_cofilter_matches_reference():
    import re as _re

    doc = "<div><p>alpha</p><p>beta</p><b>alpha</b><p>alpha <i>x</i></p></div>"
    soup = ref_soup(doc)
    nodes = parse_nodes(doc)
    # tag + string co-filter (single-string child semantics)
    assert [n["name"] for n in find_all(nodes, "p", string="alpha")] == [
        t.name for t in soup.find_all("p", string="alpha")
    ]
    assert [n["name"] for n in find_all(nodes, True, string=_re.compile("a"))] == [
        t.name for t in soup.find_all(True, string=_re.compile("a"))
    ]
    # string-only search returns string nodes
    assert [n["text"] for n in find_all(nodes, string=_re.compile("alp"))] == [
        str(s) for s in soup.find_all(string=_re.compile("alp"))
    ]


def test_get_text_subtree_and_string_containers():
    doc = (
        "<div><script>var s;</script><p>a b</p>"
        "<figure><figcaption>cap  <b>x</b></figcaption></figure></div>"
    )
    nodes = parse_nodes(doc)
    soup = ref_soup(doc)
    fig = find_all(nodes, "figcaption")[0]
    assert get_text(nodes, fig["pos"]) == soup.find("figcaption").get_text()
    script = find_all(nodes, "script")[0]
    assert get_text(nodes, script["pos"]) == soup.find("script").get_text()
    # document-level get_text excludes script text (exact-type filter)
    assert "var s;" not in get_text(nodes)


def test_string_property_matches_reference():
    from bisque_spark.parse import string_of

    docs = [
        "<p>just text</p>",
        "<p><b>nested single</b></p>",
        "<p>two <b>children</b></p>",
        "<p></p>",
        "<p><b>a</b><i>b</i></p>",
        "<td><p><b>deep</b></p></td>",
    ]
    for doc in docs:
        nodes = parse_nodes(doc)
        root = find_all(nodes, None)[0]
        soup = ref_soup(doc)
        first_tag = soup.find(True)
        want = first_tag.string
        got = string_of(nodes, root["pos"])
        assert got == (str(want) if want is not None else None), doc


def test_find_all_multivalued_class():
    doc = '<p class="caption wide">a</p><p class="wide">b</p><p>c</p>'
    nodes = parse_nodes(doc)
    hits = find_all(nodes, "p", {"class": "caption"})
    assert len(hits) == 1
    soup = ref_soup(doc)
    assert len(soup.find_all("p", class_="caption")) == 1
    # whole-string match of the space-joined value also matches
    assert len(find_all(nodes, "p", {"class": "caption wide"})) == 1


def test_charref_windows1252_overwrite_matches_reference():
    """handle_charref has NO break (ref parser.py): a windows-1252
    success overwrites an earlier original_encoding decode, so &#147;
    is a smart quote even when the detected encoding is latin-1."""
    import sys

    sys.path.insert(0, "/root/reference/src")
    pytest.importorskip("bisque", reason="reference absent")
    from bisque import Bisque

    markup = b'<p>&#147;quoted&#148; &#128; &#160;</p>'
    for enc in ("latin-1", "koi8-r"):
        soup = Bisque(markup, features="html.parser", from_encoding=enc)
        nodes = parse_nodes(markup.decode(enc), original_encoding=enc)
        assert get_text(nodes, 0) == soup.get_text(), enc


def test_random_markup_differential():
    """Hypothesis-generated tag soup (nesting, void tags, string
    containers, entities, charrefs, comments, multi-valued attrs,
    unclosed tags) — node-tree, serialize AND get_text equality vs the
    reference. Broader than the fixed fuzz corpus."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from bisque_spark.parse import parse_nodes, serialize_nodes
    from ref_oracle import engine_nodes_comparable, ref_nodes, ref_soup

    tags = st.sampled_from(
        ["div", "p", "b", "span", "li", "pre", "script", "img", "br", "table"]
    )
    texts = st.sampled_from(
        [
            "x",
            " ",
            "\n  ",
            "a &amp; b",
            "caf&eacute;",
            "&#233;&#x21;",
            "q<r",
            "&bogus;",
            "one two",
        ]
    )
    attr = st.sampled_from(
        ["", ' class="a b"', " id=z", ' href="/u?a=1&amp;b=2"', ' title="x y"']
    )

    def node(children):
        return st.tuples(tags, attr, st.lists(children, max_size=3))

    tree = st.recursive(texts, lambda ch: node(ch), max_leaves=12)

    def render(t):
        if isinstance(t, str):
            return t
        name, a, kids = t
        inner = "".join(render(k) for k in kids)
        # leave some tags unclosed to exercise the tag-stack pop logic
        close = f"</{name}>" if (len(inner) % 3) != 2 else ""
        return f"<{name}{a}>{inner}{close}"

    @settings(max_examples=60, deadline=None)
    @given(tree)
    def check(t):
        doc = render(t)
        want_nodes = ref_nodes(doc)
        got_nodes = engine_nodes_comparable(parse_nodes(doc))
        assert got_nodes == want_nodes, doc
        assert serialize_nodes(parse_nodes(doc)) == str(ref_soup(doc)), doc

    check()

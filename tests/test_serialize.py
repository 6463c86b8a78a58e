"""Serialization sink: parse → serialize must byte-equal the reference's
``str(soup)`` (the reference test harness's own round-trip invariant,
tests/__init__.py:106-129)."""

import glob
import sys

import pytest

from bisque_spark.parse import parse_nodes, serialize_nodes
from ref_oracle import ref_soup
from test_parse import CORPUS


def _docs():
    docs = list(CORPUS)
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


def test_serialize_byte_equal_reference():
    checked = 0
    for doc in _docs():
        try:
            want = ref_soup(doc).decode()
        except Exception:
            continue
        assert serialize_nodes(parse_nodes(doc)) == want
        checked += 1
    assert checked >= 20


def test_prettify_byte_equal_reference():
    from bisque_spark.parse import prettify_nodes

    checked = 0
    for doc in _docs() + ["<div><p>a <b>x</b></p><pre> keep  </pre><br/></div>"]:
        try:
            want = ref_soup(doc).prettify()
        except Exception:
            continue
        assert prettify_nodes(parse_nodes(doc)) == want
        checked += 1
    assert checked >= 20


def test_decode_contents_matches_reference():
    from bisque_spark.parse import find_all, serialize_contents

    doc = '<div id="x"><p>a</p><b>c</b></div><div>other</div>'
    nodes = parse_nodes(doc)
    div = find_all(nodes, "div")[0]
    want = ref_soup(doc).find("div").decode_contents()
    assert serialize_contents(nodes, div["pos"]) == want


def test_on_duplicate_attribute_matches_reference():
    import sys

    sys.path.insert(0, "/root/reference/src")
    pytest.importorskip("bisque", reason="reference absent")
    from bisque import Bisque

    doc = '<a href="first" href="second">x</a>'
    for strategy in ("replace", "ignore"):
        soup = Bisque(
            doc, features="html.parser", on_duplicate_attribute=strategy
        )
        want = soup.find("a")["href"]
        nodes = parse_nodes(doc, on_duplicate_attribute=strategy)
        from bisque_spark.parse import find_all

        got = find_all(nodes, "a")[0]["attrs"]["href"]
        assert got == want, strategy


def test_encode_matches_reference():
    from bisque_spark.parse import encode_nodes

    doc = "<p>café ☃ naïve</p>"
    for enc in ("utf-8", "ascii", "windows-1252"):
        want = ref_soup(doc).encode(enc)
        assert encode_nodes(parse_nodes(doc), enc) == want, enc


def test_serialize_details():
    # attr sorting, quote selection, multi-valued join, void elements
    doc = """<img z="1" a='x "q" y' class="b  a"><p>&lt;tag&gt; &amp; more</p>"""
    assert serialize_nodes(parse_nodes(doc)) == ref_soup(doc).decode()
    # script content not escaped; style too
    doc2 = "<script>if (a && b < c) {}</script><style>a>b{}</style>"
    assert serialize_nodes(parse_nodes(doc2)) == ref_soup(doc2).decode()
    # idempotent re-parse (fixpoint)
    once = serialize_nodes(parse_nodes(doc2))
    assert serialize_nodes(parse_nodes(once)) == once


def test_formatter_registry_matches_reference():
    """formatter="html"/"html5"/None byte-parity vs the reference
    registry (formatter.py:171-205, formatter_test.py:49-77)."""
    import sys

    sys.path.insert(0, "/root/reference/src")
    pytest.importorskip("bisque", reason="reference absent")
    from bisque import Bisque

    from bisque_spark.parse import parse_nodes, serialize_nodes

    docs = [
        '<p>café crème &amp; "déjà vu" — <b>’smart‘</b></p>',
        '<option selected=""></option>',
        "<option selected></option>",
        '<br/><img src="x"><hr>',
        "<p>≧̸ and ≧ differ</p>",
        '<div class="a  b" data-x="1&amp;2"><pre> keep &lt; raw </pre></div>',
        "<script>a &lt; b && c</script><style>a>b{}</style>",
    ]
    for doc in docs:
        soup = Bisque(doc, features="html.parser")
        nodes = parse_nodes(doc)
        for fmt in ("minimal", "html", "html5", None):
            got = serialize_nodes(nodes, formatter=fmt)
            want = soup.decode(formatter=fmt)
            assert got == want, (doc, fmt, got, want)


def test_substitute_html_differential():
    """Named-entity substitution == reference EntitySubstitution over
    every single-char entity + lookahead edge cases."""
    import sys

    sys.path.insert(0, "/root/reference/src")
    pytest.importorskip("bisque", reason="reference absent")
    from bisque.dammit import EntitySubstitution as Ref

    from bisque_spark.functions.substitution import (
        substitute_html,
        substitute_xml_containing_entities,
    )

    for ch in list(Ref.CHARACTER_TO_HTML_ENTITY):
        assert substitute_html(ch) == Ref.substitute_html(ch), repr(ch)
        assert substitute_html(ch + "x") == Ref.substitute_html(ch + "x")
    for s in ["&amp; & &#65; &#x41; &bogus ; <>&", "a&b;c & d"]:
        assert substitute_xml_containing_entities(
            s
        ) == Ref.substitute_xml_containing_entities(s)


def test_formatter_callable_escape_hatch():
    from bisque_spark.parse import parse_nodes, serialize_nodes

    nodes = parse_nodes("<p>a & b</p>")
    got = serialize_nodes(nodes, formatter=lambda s: s.upper())
    assert got == "<p>A & B</p>"


def test_prettify_formatter_html_matches_reference():
    import sys

    sys.path.insert(0, "/root/reference/src")
    pytest.importorskip("bisque", reason="reference absent")
    from bisque import Bisque

    from bisque_spark.parse import parse_nodes, prettify_nodes

    doc = '<div><p>café &amp; crème</p><pre> keep </pre></div>'
    soup = Bisque(doc, features="html.parser")
    got = prettify_nodes(parse_nodes(doc), formatter="html")
    assert got == soup.prettify(formatter="html")


def test_meta_charset_rewrite_on_encode():
    """encode() rewrites <meta charset> / HTML4 content-type charset to
    the target encoding (attributes.py:40-85) — byte-parity vs the
    reference, incl. the Python-specific-codec empty form and the
    untouched non-content-type meta."""
    import sys

    sys.path.insert(0, "/root/reference/src")
    pytest.importorskip("bisque", reason="reference absent")
    from bisque import Bisque

    from bisque_spark.parse import encode_nodes, parse_nodes

    docs = [
        '<html><head><meta charset="utf8"></head><body>café</body></html>',
        '<html><head><meta http-equiv="Content-type" '
        'content="text/html; charset=x-sjis"></head>é</html>',
        '<html><head><meta http-equiv="refresh" content="5; url=x"></head></html>',
        '<meta content="text/html; charset=latin1">',
    ]
    for enc in ("utf-8", "euc-jp", "unicode_escape"):
        for doc in docs:
            ref = Bisque(doc, features="html.parser").encode(enc)
            got = encode_nodes(parse_nodes(doc), enc)
            assert got == ref, (enc, doc)

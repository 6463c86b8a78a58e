"""Differential decode tests vs the reference's UnicodeDammit, plus
engine-only decode pins (those run without the reference)."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

import ref_oracle  # noqa: F401  (puts the optional reference on sys.path)
from bisque_spark.functions.encoding import decode_html, find_declared_encoding, strip_bom


@pytest.fixture(scope="module")
def UnicodeDammit():
    """The reference's UnicodeDammit; differential tests skip without it."""
    pytest.importorskip("bisque", reason="reference absent")
    from bisque.dammit import UnicodeDammit

    return UnicodeDammit

DOCS = [
    "<html><body><p>plain ascii</p></body></html>",
    "<html><head><meta charset='utf-8'></head><body>café ✓</body></html>",
    "<html><head><meta charset=\"windows-1252\"></head><body>caf\xe9 “q”</body></html>",
    "<?xml version='1.0' encoding='utf-8'?><root>é</root>",
    "<p>“smart quotes” — naïve café</p>",
]


def _variants(doc: str):
    yield doc.encode("utf-8")
    yield b"\xef\xbb\xbf" + doc.encode("utf-8")
    try:
        yield doc.encode("windows-1252")
    except UnicodeEncodeError:
        pass
    yield doc.encode("utf-16le")  # no BOM: falls through to replace path
    yield b"\xff\xfe" + doc.encode("utf-16le")  # BOM utf-16le


def test_differential_vs_unicode_dammit(UnicodeDammit):
    for doc in DOCS:
        for data in _variants(doc):
            ref = UnicodeDammit(data, is_html=True)
            got_text, got_enc, got_repl = decode_html(data, is_html=True)
            assert got_text == ref.unicode_markup, (doc, data[:20])
            assert got_repl == ref.contains_replacement_characters


@settings(max_examples=150, deadline=None)
@given(st.binary(min_size=0, max_size=300))
def test_differential_random_bytes(UnicodeDammit, data):
    ref = UnicodeDammit(data, is_html=True)
    got_text, _, got_repl = decode_html(data, is_html=True)
    assert got_text == ref.unicode_markup


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=0, max_size=200))
def test_detwingle_differential(UnicodeDammit, data):
    from bisque_spark.functions.encoding import detwingle

    assert detwingle(data) == UnicodeDammit.detwingle(data)


def test_detwingle_snowmen():
    from bisque_spark.functions.encoding import detwingle

    doc = "☃☃☃".encode() + b"\x93I like snowmen!\x93"
    fixed = detwingle(doc)
    assert fixed.decode("utf-8") == "☃☃☃“I like snowmen!“"


def test_known_definite_and_exclude_params(UnicodeDammit):
    data = "caf\xe9".encode("windows-1252")
    # known-definite wins over everything
    ref = UnicodeDammit(data, known_definite_encodings=["windows-1252"], is_html=True)
    got, enc, _ = decode_html(data, known_definite=("windows-1252",))
    assert got == ref.unicode_markup and enc == "windows-1252"
    # excluding an encoding removes it from the chain
    ref2 = UnicodeDammit(data, exclude_encodings=["utf-8"], is_html=True)
    got2, _, _ = decode_html(data, exclude=("utf-8",))
    assert got2 == ref2.unicode_markup
    # user encodings tried after BOM sniffing
    ref3 = UnicodeDammit(data, user_encodings=["latin-1"], is_html=True)
    got3, _, _ = decode_html(data, user=("latin-1",))
    assert got3 == ref3.unicode_markup


def test_bom():
    assert strip_bom(b"\xef\xbb\xbfabc") == (b"abc", "utf-8")
    assert strip_bom(b"\xff\xfea\x00") == (b"a\x00", "utf-16le")
    assert strip_bom(b"plain") == (b"plain", None)


def test_declared_encoding():
    assert (
        find_declared_encoding(b"<meta charset='UTF-8'>", is_html=True) == "utf-8"
    )
    assert (
        find_declared_encoding(
            b'<meta http-equiv="Content-Type" content="text/html; charset=windows-1252">',
            is_html=True,
        )
        == "windows-1252"
    )
    assert find_declared_encoding(b"<?xml encoding='latin-1'?>", is_html=False) == "latin-1"
    # html meta only searched in the head window
    far = b" " * 5000 + b"<meta charset='utf-8'>"
    assert find_declared_encoding(far, is_html=True) is None


def test_smart_quotes_to_modes_match_reference(UnicodeDammit):
    """smart_quotes_to = ascii | xml | html | None byte-parity vs
    UnicodeDammit (detection.py:287,335-371), incl. the empty-hex Yuml
    quirk (&#x; in xml mode) and the undefined-cp1252-byte fallbacks."""
    from bisque_spark.functions.encoding import decode_html

    samples = [
        "“smart” ‘quotes’ €100 … – — Š ž Ÿ ƒ".encode("windows-1252"),
        bytes(range(0x80, 0xA0)) + b" plain text",
        b"no control bytes at all",
    ]
    for mode in ("ascii", "xml", "html", None):
        for markup in samples:
            ref = UnicodeDammit(
                markup,
                known_definite_encodings=["windows-1252"],
                smart_quotes_to=mode,
            )
            text, enc, _ = decode_html(
                markup, known_definite=("windows-1252",), smart_quotes_to=mode
            )
            assert text == ref.unicode_markup, (mode, markup[:20])
            assert enc == ref.original_encoding
    # non-smart-quote codec: bytes pass through untouched even with a mode
    utf = "plain é text".encode("utf-8")
    ref = UnicodeDammit(utf, known_definite_encodings=["utf-8"], smart_quotes_to="html")
    text, _, _ = decode_html(utf, known_definite=("utf-8",), smart_quotes_to="html")
    assert text == ref.unicode_markup == "plain é text"


def test_decode_html_lazy_chardet(monkeypatch):
    """r8: candidate encodings are LAZY — a successful declared/BOM
    decode never consults the chardet detector (reference parity:
    EncodingDetector.encodings is a generator with the same laziness),
    while an undeclared non-utf8 document still reaches its slot with
    unchanged precedence."""
    from bisque_spark.functions import encoding as enc

    calls = []

    def fake_detect(data):
        calls.append(1)
        return "utf-8"

    monkeypatch.setattr(enc, "chardet_encoding", fake_detect)
    # declared charset decodes → detector must not run
    text, e, _ = enc.decode_html('<meta charset="utf-8">ok é'.encode("utf-8"))
    assert text == '<meta charset="utf-8">ok é' and e == "utf-8"
    assert not calls
    # BOM decodes → detector must not run
    text, e, _ = enc.decode_html(b"\xef\xbb\xbfbom ok")
    assert text == "bom ok" and e == "utf-8"
    assert not calls
    # undeclared cp1252 bytes: detector slot IS reached (fake says
    # utf-8, which fails, and the tried-set dedup still skips the
    # later utf-8 fallback exactly as the eager order did)
    text, e, _ = enc.decode_html("héllo “q”".encode("windows-1252"))
    assert calls == [1]
    assert text == "héllo “q”" and e == "windows-1252"

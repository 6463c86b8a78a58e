"""Batch byte→text decoding with the reference's detection precedence.

Re-expresses bisque's ``UnicodeDammit``/``EncodingDetector`` semantics
(/root/reference/src/bisque/dammit/detection.py:115-418) as a pure
function usable inside an Arrow-batched pandas UDF: one call per
document, no objects kept, returns ``(text, encoding, had_replacement)``.

Precedence (detection.py:115-153): known-definite → BOM sniff → user
encodings → encoding declared in the document (XML decl within the
first 1024 bytes, else <meta charset> within the first
max(2048, 5%·len) bytes; detection.py:185-227) → charset detection
(cchardet/chardet/charset_normalizer, whichever imports — the
reference's optional-dependency ladder, dammit/dependency_resolution.py)
→ utf-8 → windows-1252. On total failure every encoding is retried with
errors="replace" and the replacement flag is set (detection.py:314-333).

Smart-quote handling: the reference's default (smart_quotes_to=None)
leaves cp1252 0x80-0x9F bytes to decode as their Windows-1252 characters
— plain codec decoding preserves exactly that. The non-default modes
("ascii"/"xml"/"html", detection.py:287,335-350,360-371) substitute
those bytes BEFORE decoding, only when the winning codec is one of
windows-1252 / iso-8859-1 / iso-8859-2; entity names/hex are derived
from cp1252 + stdlib codepoint2name (chars without an HTML4 name fall
back to ``#xHEX`` just like the reference's table), including the
reference's empty-hex quirk for U+0178 (&#x; in xml mode).
"""

from __future__ import annotations

import codecs
import re
from collections.abc import Iterator

# Same declared-encoding patterns as the reference
# (src/bisque/dammit/encodings.py:10-21) — these are the standard
# soupsieve/bs4-lineage expressions for encoding declarations.
_XML_ENC_RE = re.compile(rb"^\s*<\?.*encoding=['\"](.*?)['\"].*\?>", re.I)
_HTML_META_RE = re.compile(rb"<\s*meta[^>]+charset\s*=\s*[\"']?([^>]*?)[ /;'\">]", re.I)

try:  # same optional ladder as the reference
    import cchardet as _chardet_module  # type: ignore
except ImportError:
    try:
        import chardet as _chardet_module  # type: ignore
    except ImportError:
        try:
            import charset_normalizer as _chardet_module  # type: ignore
        except ImportError:
            _chardet_module = None


def chardet_encoding(data: bytes) -> str | None:
    if _chardet_module is None:
        return None
    return _chardet_module.detect(data)["encoding"]


def strip_bom(data: bytes) -> tuple[bytes, str | None]:
    """BOM → (stripped bytes, implied encoding). detection.py:155-183."""
    if len(data) >= 4 and data[:2] == b"\xfe\xff" and data[2:4] != b"\x00\x00":
        return data[2:], "utf-16be"
    if len(data) >= 4 and data[:2] == b"\xff\xfe" and data[2:4] != b"\x00\x00":
        return data[2:], "utf-16le"
    if data[:3] == b"\xef\xbb\xbf":
        return data[3:], "utf-8"
    if data[:4] == b"\x00\x00\xfe\xff":
        return data[4:], "utf-32be"
    if data[:4] == b"\xff\xfe\x00\x00":
        return data[4:], "utf-32le"
    return data, None


def find_declared_encoding(data: bytes, is_html: bool = True) -> str | None:
    """Encoding declared inside the document. detection.py:185-227."""
    xml_endpos = 1024
    html_endpos = max(2048, int(len(data) * 0.05))
    m = _XML_ENC_RE.search(data, endpos=xml_endpos)
    if not m and is_html:
        m = _HTML_META_RE.search(data, endpos=html_endpos)
    if m is None:
        return None
    return m.group(1).decode("ascii", "replace").lower()


def _usable(encoding: str | None, tried: set) -> bool:
    if not encoding:
        return False
    encoding = encoding.lower()
    if encoding in tried:
        return False
    tried.add(encoding)
    try:
        codecs.lookup(encoding)
    except LookupError:
        return False
    return True


def iter_candidate_encodings(
    data: bytes,
    known_definite: tuple[str, ...] = (),
    user: tuple[str, ...] = (),
    is_html: bool = True,
    exclude: tuple[str, ...] = (),
) -> tuple[bytes, Iterator[str]]:
    """(BOM-stripped bytes, LAZY ordered candidate encodings).

    Same order and dedup as candidate_encodings, but the chardet scan
    only runs when iteration actually reaches its slot — the
    reference's EncodingDetector.encodings is a generator with exactly
    this laziness, so a document whose BOM/declared encoding decodes
    cleanly never pays the detector (~1.6 ms/page on the crawl path)."""
    stripped, sniffed = strip_bom(data)
    # excluded encodings are never tried (detection.py:99-113)
    tried: set[str] = {e.lower() for e in exclude}

    def gen():
        for e in known_definite:
            if _usable(e, tried):
                yield e.lower()
        if _usable(sniffed, tried):
            yield sniffed
        for e in user:
            if _usable(e, tried):
                yield e.lower()
        declared = find_declared_encoding(stripped, is_html)
        if _usable(declared, tried):
            yield declared
        sniffed_by_lib = chardet_encoding(stripped)
        if _usable(sniffed_by_lib, tried):
            yield sniffed_by_lib.lower()
        for e in ("utf-8", "windows-1252"):
            if _usable(e, tried):
                yield e

    return stripped, gen()


def candidate_encodings(
    data: bytes,
    known_definite: tuple[str, ...] = (),
    user: tuple[str, ...] = (),
    is_html: bool = True,
    exclude: tuple[str, ...] = (),
) -> tuple[bytes, list[str]]:
    """(BOM-stripped bytes, ordered candidate encodings)."""
    stripped, cand = iter_candidate_encodings(
        data, known_definite, user, is_html, exclude
    )
    return stripped, list(cand)


# smart_quotes_to support (detection.py:241,335-371) ---------------------------

_SMART_QUOTE_ENCODINGS = {"windows-1252", "iso-8859-1", "iso-8859-2"}
# hand-picked ASCII approximations for cp1252 0x80-0x9f (the only
# reachable slice of the reference's MS_CHARS_TO_ASCII — the regex only
# matches [\x80-\x9f])
_MS_ASCII = {
    0x80: "EUR", 0x81: " ", 0x82: ",", 0x83: "f", 0x84: ",,",
    0x85: "...", 0x86: "+", 0x87: "++", 0x88: "^", 0x89: "%",
    0x8A: "S", 0x8B: "<", 0x8C: "OE", 0x8D: "?", 0x8E: "Z",
    0x8F: "?", 0x90: "?", 0x91: "'", 0x92: "'", 0x93: '"',
    0x94: '"', 0x95: "*", 0x96: "-", 0x97: "--", 0x98: "~",
    0x99: "(TM)", 0x9A: "s", 0x9B: ">", 0x9C: "oe", 0x9D: "?",
    0x9E: "z", 0x9F: "Y",
}
_SMART_QUOTE_RE = re.compile(rb"[\x80-\x9f]")


def _ms_entity(byte: int) -> tuple[str, str] | None:
    """(entity name, hex codepoint) for a cp1252 byte, or None when the
    byte is undefined in cp1252 (0x81/0x8d/0x8f/0x90/0x9d)."""
    from html.entities import codepoint2name

    try:
        ch = bytes([byte]).decode("windows-1252")
    except UnicodeDecodeError:
        return None
    cp = ord(ch)
    name = codepoint2name.get(cp, f"#x{cp:X}")
    # reference quirk (detection.py:454): Yuml's hex field is EMPTY, so
    # xml mode emits the (invalid) "&#x;" — replicated for byte parity
    hexcp = "" if cp == 0x178 else f"{cp:X}"
    return name, hexcp


def sub_smart_quotes(data: bytes, mode: str) -> bytes:
    """Pre-decode substitution of cp1252 control-range bytes
    (UnicodeDammit._sub_ms_char, detection.py:335-350)."""

    def sub(m: re.Match) -> bytes:
        b = m.group(0)[0]
        if mode == "ascii":
            return _MS_ASCII[b].encode()
        ent = _ms_entity(b)
        if ent is None:
            return (" " if b == 0x81 else "?").encode()
        name, hexcp = ent
        if mode == "xml":
            return b"&#x" + hexcp.encode() + b";"
        return b"&" + name.encode() + b";"

    return _SMART_QUOTE_RE.sub(sub, data)


def detwingle(data: bytes) -> bytes:
    """Fix Windows-1252 bytes embedded in UTF-8 (detection.py:729-794).

    Walk the bytes: skip well-formed UTF-8 multibyte sequences (lead
    bytes C2-DF/E0-EF/F0-F4), and re-encode any other high byte that is
    a defined Windows-1252 character into its UTF-8 equivalent. The
    translation table is derived from the codec itself rather than a
    literal map (equivalent by construction: cp1252-undefined bytes are
    left alone, exactly the reference's table gaps)."""
    out: list[bytes] = []
    chunk_start = 0
    pos = 0
    n = len(data)
    while pos < n:
        byte = data[pos]
        if 0xC2 <= byte <= 0xDF:
            pos += 2
        elif 0xE0 <= byte <= 0xEF:
            pos += 3
        elif 0xF0 <= byte <= 0xF4:
            pos += 4
        elif 0x80 <= byte <= 0xFE:
            # 0xFF is absent from the reference's translation table
            # (detection.py:595-727) even though cp1252 defines it —
            # replicated for byte-parity
            try:
                translated = bytes([byte]).decode("windows-1252").encode("utf-8")
            except UnicodeDecodeError:
                pos += 1
                continue
            out.append(data[chunk_start:pos])
            out.append(translated)
            pos += 1
            chunk_start = pos
        else:
            pos += 1
    if chunk_start == 0:
        return data
    out.append(data[chunk_start:])
    return b"".join(out)


def decode_html(
    data: bytes,
    known_definite: tuple[str, ...] = (),
    user: tuple[str, ...] = (),
    is_html: bool = True,
    exclude: tuple[str, ...] = (),
    smart_quotes_to: str | None = None,
) -> tuple[str | None, str | None, bool]:
    """bytes → (text, chosen encoding, had_replacement_characters)."""
    if isinstance(data, str):
        return data, None, False
    stripped, cand = iter_candidate_encodings(
        data, known_definite, user, is_html, exclude
    )

    def prepared(enc: str) -> bytes:
        if smart_quotes_to is not None and enc in _SMART_QUOTE_ENCODINGS:
            return sub_smart_quotes(stripped, smart_quotes_to)
        return stripped

    # the strict pass materializes `order` as it drains the lazy
    # iterator: a success returns before chardet's slot is reached,
    # and a fall-through leaves the complete list for the replace pass
    order: list[str] = []
    for enc in cand:
        order.append(enc)
        try:
            text = prepared(enc).decode(enc)
        except (UnicodeDecodeError, ValueError):
            continue
        if text == "":
            # reference quirk (detection.py:309-333): a successful decode
            # to the EMPTY string is falsy, which sends UnicodeDammit into
            # its errors="replace" retry loop — but the success already
            # overwrote self.markup with the str, so every retry raises
            # TypeError and the result is None. Happens for b"" and for
            # escape/control-only inputs under codecs like iso-2022-*.
            return None, None, False
        return text, enc, False
    for enc in order:
        if enc == "ascii":
            continue
        try:
            return prepared(enc).decode(enc, "replace"), enc, True
        except (ValueError, LookupError):
            continue
    return None, None, False

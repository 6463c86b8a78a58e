"""PNG codec tests (functions/png.py).

The decoder is exercised three independent ways: (1) round-trips
through the module's own encoder across every legal (color type ×
bit depth × interlace × filter strategy) layout, with the expected
RGB computed by inline formulas in the tests (not by the module);
(2) hand-built byte-level fixtures whose filtered scanlines are
written out by hand from the spec's filter definitions; (3) a
differential against the pre-existing minimal encoder in synth.py.
Damage containment (CRC, truncation, bad filter bytes, palette
overruns) raises ValueError per the multimodal error-column contract.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from bisque_spark.functions.png import (
    _filter_rows,
    decode_png,
    encode_png,
)

RNG = np.random.default_rng(20260817)


def _scale8(v: np.ndarray, depth: int) -> np.ndarray:
    maxv = (1 << depth) - 1
    return ((v.astype(np.uint32) * 255 + maxv // 2) // maxv).astype(np.uint8)


def _over_white(rgb8: np.ndarray, alpha: np.ndarray, maxv: int) -> np.ndarray:
    a = alpha.astype(np.float64)[..., None] / maxv
    return np.clip(
        np.rint(rgb8 * a + 255.0 * (1.0 - a)), 0, 255
    ).astype(np.uint8)


def _expected_rgb(samples, ctype, depth, palette=None, trns=None):
    """Independent inline model of the engine's RGB contract."""
    maxv = (1 << depth) - 1
    if ctype == 0:
        rgb = _scale8(np.repeat(samples[..., None], 3, axis=2), depth)
        if trns is not None:
            key = int.from_bytes(trns[:2], "big")
            return _over_white(
                rgb, np.where(samples == key, 0, maxv), maxv
            )
        return rgb
    if ctype == 2:
        rgb = _scale8(samples, depth)
        if trns is not None:
            key = struct.unpack(">HHH", trns[:6])
            hit = np.all(samples == np.array(key), axis=-1)
            return _over_white(rgb, np.where(hit, 0, maxv), maxv)
        return rgb
    if ctype == 3:
        rgb = palette[samples].astype(np.uint8)
        if trns is not None:
            atab = np.full(len(palette), 255, dtype=np.uint16)
            atab[: len(trns)] = np.frombuffer(trns, dtype=np.uint8)
            return _over_white(rgb, atab[samples], 255)
        return rgb
    if ctype == 4:
        g8 = _scale8(np.repeat(samples[..., 0:1], 3, axis=2), depth)
        return _over_white(g8, samples[..., 1], maxv)
    rgb = _scale8(samples[..., :3], depth)
    return _over_white(rgb, samples[..., 3], maxv)


@pytest.mark.parametrize("ctype,depth", [
    (0, 1), (0, 2), (0, 4), (0, 8), (0, 16),
    (2, 8), (2, 16),
    (3, 1), (3, 2), (3, 4), (3, 8),
    (4, 8), (4, 16),
    (6, 8), (6, 16),
])
@pytest.mark.parametrize("interlace", [0, 1])
def test_roundtrip_every_layout(ctype, depth, interlace):
    h, w = 13, 21  # odd dims exercise Adam7 edge passes + bit padding
    maxv = (1 << depth) - 1
    if ctype == 3:
        n_pal = min(1 << depth, 200)
        palette = RNG.integers(0, 256, (n_pal, 3), dtype=np.uint8)
        samples = RNG.integers(0, n_pal, (h, w)).astype(np.uint16)
        data = encode_png(
            samples, color_type=3, bit_depth=depth,
            interlace=interlace, palette=palette,
        )
        expect = _expected_rgb(samples, 3, depth, palette=palette)
    else:
        ch = {0: 1, 2: 3, 4: 2, 6: 4}[ctype]
        shape = (h, w) if ch == 1 else (h, w, ch)
        samples = RNG.integers(0, maxv + 1, shape).astype(np.uint16)
        data = encode_png(
            samples, color_type=ctype, bit_depth=depth, interlace=interlace
        )
        s3 = samples if ch > 1 else samples
        expect = _expected_rgb(
            s3 if ch > 1 else samples, ctype, depth
        )
    got = decode_png(data)
    assert got.shape == (h, w, 3)
    assert (got == expect).all()


@pytest.mark.parametrize("strategy", [0, 1, 2, 3, 4, "adaptive"])
def test_every_filter_strategy_roundtrips(strategy):
    h, w = 9, 17
    img = RNG.integers(0, 256, (h, w, 3)).astype(np.uint16)
    data = encode_png(img, filter_strategy=strategy)
    assert (decode_png(data) == img.astype(np.uint8)).all()


def _filter_rows_loop(grid, bpp, strategy):
    """Per-row reference for the whole-grid _filter_rows: spec 9.2
    filters on one scanline at a time, MSAD choice per row."""
    from bisque_spark.functions.png import _paeth_vec

    out = bytearray()
    prev = np.zeros(grid.shape[1], dtype=np.uint8)
    for line in grid:
        left = np.zeros_like(line)
        left[bpp:] = line[:-bpp] if bpp < len(line) else 0
        ul = np.zeros_like(line)
        ul[bpp:] = prev[:-bpp] if bpp < len(line) else 0
        cands = [
            line,
            line - left,
            line - prev,
            line - ((left.astype(np.uint16) + prev) >> 1).astype(np.uint8),
            line - _paeth_vec(left, prev, ul),
        ]
        if strategy == "adaptive":
            costs = [
                int(np.abs(c.astype(np.int8).astype(np.int16)).sum())
                for c in cands
            ]
            ft = costs.index(min(costs))
        else:
            ft = strategy
        out.append(ft)
        out += cands[ft].tobytes()
        prev = line
    return bytes(out)


@pytest.mark.parametrize("strategy", [0, 1, 2, 3, 4, "adaptive"])
def test_filter_rows_matches_row_loop(strategy):
    rng = np.random.default_rng(11)
    for bpp in (1, 2, 3, 4, 6, 8):
        for rows, stride in ((1, 1), (3, bpp), (7, 2 * bpp + 1), (12, 40)):
            grid = rng.integers(0, 256, (rows, stride), dtype=np.uint8)
            if rows > 3:  # smooth rows so every filter wins somewhere
                grid = np.cumsum(grid // 32, axis=1).astype(np.uint8)
            assert _filter_rows(grid, bpp, strategy) == _filter_rows_loop(
                grid, bpp, strategy
            ), (bpp, rows, stride)


def test_adaptive_heuristic_mixes_filters():
    # a natural gradient rewards Sub/Up/Paeth over None on some rows
    yy, xx = np.mgrid[0:24, 0:24]
    img = np.stack([xx * 10 % 256, yy * 9 % 256, (xx + yy) * 5 % 256], -1)
    grid = img.astype(np.uint8).reshape(24, -1)
    stream = _filter_rows(grid, 3, "adaptive")
    fts = {stream[y * (72 + 1)] for y in range(24)}
    assert len(fts) >= 2  # genuinely adaptive, not a constant choice


def test_handbuilt_bytelevel_fixture():
    """Filtered scanlines written BY HAND from spec 9.2 definitions:
    row0 Sub, row1 Up, row2 Paeth over a 2x3 RGB8 image."""
    px = np.array(
        [
            [[10, 20, 30], [13, 24, 35]],
            [[12, 19, 33], [14, 26, 40]],
            [[11, 22, 31], [15, 25, 38]],
        ],
        dtype=np.uint8,
    )
    # row 0, Sub: first pixel raw, second = diff vs left
    r0 = bytes([1, 10, 20, 30, (13 - 10) % 256, (24 - 20) % 256,
                (35 - 30) % 256])
    # row 1, Up: diff vs row 0
    r1 = bytes([2] + [
        (int(px[1].ravel()[i]) - int(px[0].ravel()[i])) % 256
        for i in range(6)
    ])

    # row 2, Paeth: a=left, b=up, c=up-left (zeros for first pixel)
    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        return b if pb <= pc else c

    flat2, flat1 = px[2].ravel(), px[1].ravel()
    vals = [2]
    for i in range(6):
        a = int(flat2[i - 3]) if i >= 3 else 0
        c = int(flat1[i - 3]) if i >= 3 else 0
        vals.append((int(flat2[i]) - paeth(a, int(flat1[i]), c)) % 256)
    vals[0] = 4  # filter byte
    r2 = bytes(vals)

    def chunk(typ, payload):
        return (
            struct.pack(">I", len(payload)) + typ + payload
            + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF)
        )

    data = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 3, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(r0 + r1 + r2))
        + chunk(b"IEND", b"")
    )
    assert (decode_png(data) == px).all()


def test_minimal_synth_png_differential():
    """The synthetic world's png rows are this codec's filter-type-0
    output and decode back to the exact pixel grid."""
    from bisque_spark.synth import image_pixels, synth_image

    found = 0
    for i in range(40):
        iid = f"png-hunt-{i}"
        meta = synth_image(iid)
        if meta["fmt"] != "png":
            continue
        found += 1
        px = np.frombuffer(
            image_pixels(iid, meta["w"], meta["h"]), dtype=np.uint8
        ).reshape(meta["h"], meta["w"], 3)
        assert meta["bytes"] == encode_png(px, filter_strategy=0)
        assert (decode_png(meta["bytes"]) == px).all()
    assert found >= 5


def test_16bit_container_of_8bit_content_is_lossless():
    px8 = RNG.integers(0, 256, (6, 5, 3)).astype(np.uint16)
    data = encode_png(px8 * 257, color_type=2, bit_depth=16)
    assert (decode_png(data) == px8.astype(np.uint8)).all()


def test_trns_gray_and_rgb_key():
    g = np.array([[0, 7, 15], [7, 7, 3]], dtype=np.uint16)
    data = encode_png(
        g, color_type=0, bit_depth=4, trns=struct.pack(">H", 7)
    )
    expect = _expected_rgb(g, 0, 4, trns=struct.pack(">H", 7))
    assert (decode_png(data) == expect).all()
    assert (decode_png(data)[0, 1] == [255, 255, 255]).all()  # keyed→white

    rgb = np.array([[[1, 2, 3], [9, 9, 9]]], dtype=np.uint16)
    key = struct.pack(">HHH", 9, 9, 9)
    data = encode_png(rgb, color_type=2, bit_depth=8, trns=key)
    assert (decode_png(data) == _expected_rgb(rgb, 2, 8, trns=key)).all()


def test_trns_indexed_partial_table():
    palette = np.array([[250, 0, 0], [0, 250, 0], [0, 0, 250]], np.uint8)
    idx = np.array([[0, 1, 2], [2, 1, 0]], dtype=np.uint16)
    trns = bytes([0, 128])  # index 0 transparent, 1 half, 2 opaque
    data = encode_png(
        idx, color_type=3, bit_depth=8, palette=palette, trns=trns
    )
    got = decode_png(data)
    expect = _expected_rgb(idx, 3, 8, palette=palette, trns=trns)
    assert (got == expect).all()
    assert (got[0, 0] == [255, 255, 255]).all()
    assert (got[1, 2] == [255, 255, 255]).all()
    assert (got[0, 2] == [0, 0, 250]).all()


def test_interlaced_equals_progressive_scan():
    img = RNG.integers(0, 256, (19, 3, 3)).astype(np.uint16)  # thin: empty passes
    a = decode_png(encode_png(img, interlace=0))
    b = decode_png(encode_png(img, interlace=1))
    assert (a == b).all()


def test_ancillary_chunks_skipped():
    img = RNG.integers(0, 256, (4, 4, 3)).astype(np.uint16)
    data = bytearray(encode_png(img))
    # splice a fake APNG acTL + a tEXt chunk after IHDR (8+25 bytes in)
    def chunk(typ, payload):
        return (
            struct.pack(">I", len(payload)) + typ + payload
            + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF)
        )

    at = 8 + 25
    spliced = (
        bytes(data[:at])
        + chunk(b"acTL", struct.pack(">II", 3, 0))
        + chunk(b"tEXt", b"Comment\x00hello")
        + bytes(data[at:])
    )
    assert (decode_png(spliced) == decode_png(bytes(data))).all()


def test_damage_containment():
    img = RNG.integers(0, 256, (5, 5, 3)).astype(np.uint16)
    good = encode_png(img)

    bad = bytearray(good)
    bad[40] ^= 0xFF  # somewhere in IDAT payload/CRC region
    with pytest.raises(ValueError):
        decode_png(bytes(bad))

    with pytest.raises(ValueError):
        decode_png(good[: len(good) // 2] )
    with pytest.raises(ValueError):
        decode_png(b"NOTAPNG" + good)

    # bad filter-type byte, CRC recomputed so only the filter check fires
    def chunk(typ, payload):
        return (
            struct.pack(">I", len(payload)) + typ + payload
            + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF)
        )

    raw = b"\x07" + bytes(6)  # filter type 7 on a 2x1 RGB image
    data = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="filter"):
        decode_png(data)

    # palette index beyond PLTE
    pal = np.zeros((2, 3), dtype=np.uint8)
    idx = np.array([[0, 1]], dtype=np.uint16)
    ok = encode_png(idx, color_type=3, bit_depth=8, palette=pal)
    # hand-build the same file with index 5
    raw = b"\x00" + bytes([0, 5])
    data = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", pal.tobytes())
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert decode_png(ok) is not None
    with pytest.raises(ValueError, match="palette"):
        decode_png(data)

    # indexed without PLTE
    data = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 8, 3, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="PLTE"):
        decode_png(data)

    # illegal combo: indexed 16-bit
    data = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 16, 3, 0, 0, 0))
    )
    with pytest.raises(ValueError, match="illegal"):
        decode_png(data)

    # decompression-bomb guard fires BEFORE inflate
    data = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(
            b"IHDR", struct.pack(">IIBBBBB", 1 << 20, 1 << 20, 8, 2, 0, 0, 0)
        )
    )
    with pytest.raises(ValueError, match="out of bounds"):
        decode_png(data)

    # trailing image data beyond the declared geometry
    raw = (b"\x00" + bytes(6)) * 3  # 3 rows for a 2x1 image
    data = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError):
        decode_png(data)


def test_encoder_guards():
    img = np.zeros((2, 2, 3), dtype=np.uint16)
    with pytest.raises(ValueError):
        encode_png(img, color_type=7)
    with pytest.raises(ValueError):
        encode_png(img, color_type=2, bit_depth=4)
    with pytest.raises(ValueError):
        encode_png(np.full((2, 2, 3), 300, np.uint16), bit_depth=8)
    with pytest.raises(ValueError):
        encode_png(np.zeros((2, 2), np.uint16), color_type=3)  # no palette
    with pytest.raises(ValueError):
        encode_png(img, color_type=0)  # wrong channel count


def test_image_pipeline_decodes_realweb_png_rows(spark):
    """A palette+tRNS interlaced PNG — a layout the old minimal
    decoder could not read — flows through the Spark image operators
    with pixels matching the inline model."""
    from bisque_spark.operators.multimodal import image_features

    palette = np.array(
        [[200, 30, 30], [30, 200, 30], [30, 30, 200], [9, 9, 9]], np.uint8
    )
    idx = RNG.integers(0, 4, (16, 12)).astype(np.uint16)
    trns = bytes([255, 255, 255, 0])  # last palette entry transparent
    data = encode_png(
        idx, color_type=3, bit_depth=4, interlace=1,
        palette=palette, trns=trns,
    )
    expect = _expected_rgb(idx, 3, 4, palette=palette, trns=trns)
    df = spark.createDataFrame(
        [("png-full-0", bytearray(data), 12, 16, "png")],
        "image_id string, bytes binary, w int, h int, fmt string",
    )
    row = image_features(df).collect()[0]
    assert row["error"] is None
    assert row["mean_r"] == pytest.approx(expect[..., 0].mean(), abs=1e-9)
    assert row["mean_g"] == pytest.approx(expect[..., 1].mean(), abs=1e-9)
    assert row["mean_b"] == pytest.approx(expect[..., 2].mean(), abs=1e-9)

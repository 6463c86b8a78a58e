"""GIF codec — LZW round trips (incl. dictionary overflow), interlace,
animation compositing (disposal 0/1/2/3 + transparency) against a
hand-computed numpy twin, declared-size bounds and the first-frame-only
decode, and the Spark image-pipeline path."""

import tracemalloc

import numpy as np
import pytest

from bisque_spark.functions.gif import (
    _lzw_decode,
    _lzw_encode,
    decode_gif,
    decode_gif_frames,
    encode_gif,
)


def _palette_image(rng, h, w, n_colors):
    pal = rng.randint(0, 256, size=(n_colors, 3), dtype=np.uint8)
    # ensure palette rows are distinct so the encoder's exact-color
    # accounting matches n_colors
    pal = np.unique(pal, axis=0)
    idx = rng.randint(0, len(pal), size=(h, w))
    return pal[idx]


def _unframe(block: bytes) -> tuple[bytes, int]:
    """encoder output = mcs byte + 255-max sub-blocks + 0 terminator →
    (raw concatenated LZW stream, mcs)."""
    mcs = block[0]
    parts, pos = [], 1
    while block[pos]:
        n = block[pos]
        parts.append(block[pos + 1 : pos + 1 + n])
        pos += 1 + n
    return b"".join(parts), mcs


def test_lzw_roundtrip_small_and_overflow():
    rng = np.random.RandomState(3)
    # small
    idx = rng.randint(0, 4, size=300, dtype=np.uint8)
    raw, mcs = _unframe(_lzw_encode(idx, 2))
    assert (_lzw_decode(raw, mcs, len(idx)) == idx).all()
    # 256-symbol noise long enough to fill the 4096-entry dictionary
    # (deferred clear: both sides freeze, spec appendix behavior)
    idx = rng.randint(0, 256, size=40_000, dtype=np.uint8)
    raw, mcs = _unframe(_lzw_encode(idx, 8))
    assert (_lzw_decode(raw, mcs, len(idx)) == idx).all()


@pytest.mark.parametrize("n_colors", [2, 5, 16, 200])
def test_static_roundtrip_exact(n_colors):
    rng = np.random.RandomState(n_colors)
    img = _palette_image(rng, 23, 31, n_colors)
    out = decode_gif(encode_gif(img))
    assert (out == img).all()


def test_interlaced_roundtrip_exact():
    rng = np.random.RandomState(9)
    img = _palette_image(rng, 37, 19, 30)  # odd height crosses passes
    data = encode_gif(img, interlace=True)
    assert (decode_gif(data) == img).all()
    # interlace flag actually set
    assert data[data.find(b"\x2c") + 9] & 0x40


def test_animation_meta_delays_loop():
    rng = np.random.RandomState(5)
    frames = [_palette_image(rng, 8, 8, 7) for _ in range(3)]
    data = encode_gif(frames, delays_cs=[10, 20, 30], loop=4)
    meta, dec = decode_gif_frames(data)
    assert meta["n_frames"] == 3
    assert meta["delays_cs"] == [10, 20, 30]
    assert meta["loop"] == 4
    assert meta["version"] == "89a"


def test_fullframe_animation_disposal1_roundtrip():
    rng = np.random.RandomState(11)
    frames = [_palette_image(rng, 12, 16, 40) for _ in range(4)]
    _, dec = decode_gif_frames(encode_gif(frames, disposal=1))
    for orig, got in zip(frames, dec):
        assert (orig == got).all()


def test_transparency_shows_underlying_frame():
    base = np.zeros((6, 6, 3), dtype=np.uint8)
    base[..., 0] = 200  # red-ish
    top = np.zeros((6, 6, 3), dtype=np.uint8)
    top[..., 2] = 150  # blue-ish
    top[2:4, 2:4] = (1, 2, 3)  # the transparent color
    data = encode_gif([base, top], transparent_color=(1, 2, 3), disposal=1)
    _, dec = decode_gif_frames(data)
    assert (dec[0] == base).all()
    expect = top.copy()
    expect[2:4, 2:4] = base[2:4, 2:4]  # transparency keeps frame 1
    assert (dec[1] == expect).all()


def _gce(disposal, trans_idx=None):
    flags = (disposal & 7) << 2 | (1 if trans_idx is not None else 0)
    return bytes([0x21, 0xF9, 4, flags, 0, 0, trans_idx or 0, 0])


def _img_desc(left, top, w, h, idx, mcs=2):
    out = bytearray(b"\x2c")
    out += left.to_bytes(2, "little") + top.to_bytes(2, "little")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += b"\x00"
    out += _lzw_encode(np.asarray(idx, dtype=np.uint8).ravel(), mcs)
    return bytes(out)


def test_subrect_disposal_compositing_matches_twin():
    """Hand-built animation with sub-rectangle frames exercising
    disposal 1 (leave), 2 (restore background), 3 (restore previous),
    transparency, and frames reaching past the logical screen (clipped,
    opaque and transparent) — expected canvases computed independently
    in numpy, the way the GIF89a spec describes a viewer."""
    BLACK, RED, GREEN, BLUE = range(4)
    pal = np.array(
        [[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]], dtype=np.uint8
    )
    data = bytearray(b"GIF89a")
    data += (8).to_bytes(2, "little") + (8).to_bytes(2, "little")
    data += bytes([0x80 | 0x01, 0, 0])  # GCT of 4, bg index 0 (black)
    data += pal.tobytes()
    # F1: full canvas red, disposal 1 (leave)
    data += _gce(1) + _img_desc(0, 0, 8, 8, np.full((8, 8), RED))
    # F2: green 4x4 at (2,2), disposal 2 (restore bg after display)
    data += _gce(2) + _img_desc(2, 2, 4, 4, np.full((4, 4), GREEN))
    # F3: 4x4 at (0,0), half green / half transparent, disposal 3
    f3 = np.full((4, 4), GREEN)
    f3[:, 2:] = BLACK  # transparent index
    data += _gce(3, trans_idx=BLACK) + _img_desc(0, 0, 4, 4, f3)
    # F4: single blue pixel at (7,7) — proves F3's paint was undone
    data += _gce(1) + _img_desc(7, 7, 1, 1, np.full((1, 1), BLUE))
    # F5: opaque 4x4 at (6,5) — overhangs the right and bottom edges
    f5 = np.arange(16).reshape(4, 4) % 4
    data += _gce(1) + _img_desc(6, 5, 4, 4, f5)
    # F6: 5x3 at (5,6) with a transparent index, also overhanging
    f6 = np.arange(15).reshape(3, 5) % 4
    data += _gce(1, trans_idx=BLACK) + _img_desc(5, 6, 5, 3, f6)
    data += b"\x3b"

    meta, dec = decode_gif_frames(bytes(data))
    assert meta["n_frames"] == 6

    c1 = np.zeros((8, 8, 3), dtype=np.uint8)
    c1[...] = pal[RED]
    assert (dec[0] == c1).all()

    c2 = c1.copy()
    c2[2:6, 2:6] = pal[GREEN]
    assert (dec[1] == c2).all()

    after2 = c1.copy()
    after2[2:6, 2:6] = pal[BLACK]  # disposal 2 restored bg in the rect
    c3 = after2.copy()
    c3[0:4, 0:2] = pal[GREEN]  # transparent right half keeps underlying
    assert (dec[2] == c3).all()

    c4 = after2.copy()  # disposal 3 restored the pre-F3 canvas
    c4[7, 7] = pal[BLUE]
    assert (dec[3] == c4).all()

    c5 = c4.copy()  # only the on-screen 3x2 corner of F5 is painted
    c5[5:8, 6:8] = pal[f5[:3, :2]]
    assert (dec[4] == c5).all()

    c6 = c5.copy()
    on = f6[:2, :3]  # on-screen 2x3 corner; BLACK keeps what is under it
    c6[6:8, 5:8][on != BLACK] = pal[on[on != BLACK]]
    assert (dec[5] == c6).all()


def test_local_color_table_overrides_global():
    gct = np.array([[10, 10, 10], [20, 20, 20]], dtype=np.uint8)
    lct = np.array([[0, 0, 250], [250, 0, 0]], dtype=np.uint8)
    data = bytearray(b"GIF89a")
    data += (2).to_bytes(2, "little") + (1).to_bytes(2, "little")
    data += bytes([0x80 | 0x00, 0, 0]) + gct.tobytes()
    data += b"\x2c" + b"\x00" * 4
    data += (2).to_bytes(2, "little") + (1).to_bytes(2, "little")
    data += bytes([0x80 | 0x00]) + lct.tobytes()  # LCT flag, size 2
    data += _lzw_encode(np.array([0, 1], dtype=np.uint8), 2)
    data += b"\x3b"
    out = decode_gif(bytes(data))
    assert (out[0, 0] == lct[0]).all() and (out[0, 1] == lct[1]).all()


def test_garbage_and_too_many_colors_rejected():
    with pytest.raises(ValueError):
        decode_gif(b"NOTAGIF")
    rng = np.random.RandomState(1)
    img = rng.randint(0, 256, size=(64, 64, 3), dtype=np.uint8)
    with pytest.raises(ValueError):
        encode_gif(img)  # ~4096 unique colors: exact encoder refuses


def _peak_alloc(fn):
    """(result or raised exception, peak traced bytes) of fn()."""
    tracemalloc.start()
    try:
        try:
            got = fn()
        except ValueError as exc:
            got = exc
        return got, tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()


def _header(w, h, pal):
    """GIF89a header + 2-entry global color table, bg index 0."""
    return (
        b"GIF89a" + w.to_bytes(2, "little") + h.to_bytes(2, "little")
        + bytes([0x80, 0, 0]) + np.asarray(pal, dtype=np.uint8).tobytes()
    )


@pytest.mark.parametrize("field", ["screen", "frame"])
def test_dimension_bomb_rejected_before_allocation(field):
    """A declared size over 64M pixels (8192×8192 here, ~201 MB of RGB)
    in the logical screen or an image descriptor is refused before the
    canvas or the LZW output is allocated."""
    pal = [[0, 0, 0], [255, 255, 255]]
    if field == "screen":
        data = _header(8192, 8192, pal) + _img_desc(0, 0, 1, 1, [[1]])
    else:
        data = _header(1, 1, pal) + _img_desc(0, 0, 8192, 8192, [[1]])
    got, peak = _peak_alloc(lambda: decode_gif(data + b"\x3b"))
    assert isinstance(got, ValueError) and "over the bound" in str(got)
    assert peak < 1 << 20


def test_decode_gif_stops_at_first_frame():
    """An animation's later frames are neither composited nor kept:
    a 1024×1024 canvas with 200 1×1 frames decodes in a few canvases
    of memory (a full-canvas copy per frame would be ~600 MB)."""
    pal = [[0, 0, 0], [255, 255, 255]]
    data = _header(1024, 1024, pal)
    for i in range(200):
        data += _gce(1) + _img_desc(i, i, 1, 1, [[1]])
    got, peak = _peak_alloc(lambda: decode_gif(data + b"\x3b"))
    expect = np.zeros((1024, 1024, 3), dtype=np.uint8)
    expect[0, 0] = 255
    assert (got == expect).all()
    assert peak < 4 * expect.nbytes


def test_decode_gif_ignores_damage_after_first_frame():
    """Damage after the first image does not reach decode_gif; the
    full animation walk still refuses it."""
    pal = [[0, 0, 0], [255, 255, 255]]
    data = _header(4, 4, pal) + _img_desc(0, 0, 4, 4, np.ones((4, 4))) + b"\x99"
    assert (decode_gif(data) == 255).all()
    with pytest.raises(ValueError, match="unknown GIF block"):
        decode_gif_frames(data)


def test_gif_flows_through_image_features(spark):
    import pyspark.sql.functions as F

    from bisque_spark.operators.multimodal import image_features

    rng = np.random.RandomState(21)
    imgs = [_palette_image(rng, 10, 14, 12) for _ in range(3)]
    rows = [
        (f"gif-{i}", bytearray(encode_gif(im)), 14, 10, "gif")
        for i, im in enumerate(imgs)
    ]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string"
    )
    out = {r["image_id"]: r for r in image_features(df).collect()}
    for i, im in enumerate(imgs):
        r = out[f"gif-{i}"]
        assert r["error"] is None
        assert abs(r["mean_r"] - im[..., 0].mean()) < 1e-9
        assert abs(r["mean_b"] - im[..., 2].mean()) < 1e-9

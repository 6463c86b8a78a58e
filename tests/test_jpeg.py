"""Baseline JPEG codec (functions/jpeg.py) + the lossy-decode PSNR
invariant (BASELINE.json input_hint: decoded pixels allclose, PSNR
>= 40 dB for lossy formats — VERDICT r3 Next-round #5)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from bisque_spark.functions.jpeg import decode_jpeg, encode_jpeg, psnr
from bisque_spark.synth import decode_image, image_pixels, synth_image


def _gradient(h, w, seed=3):
    rng = np.random.RandomState(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [(xx * 255 / w), (yy * 255 / h), ((xx + yy) * 255 / (w + h))], axis=-1
    )
    return np.clip(img + rng.randn(h, w, 3) * 8, 0, 255).astype(np.uint8)


def test_roundtrip_shapes_and_determinism():
    img = _gradient(37, 53)  # non-multiples of 8
    data = encode_jpeg(img, quality=95)
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
    dec = decode_jpeg(data)
    assert dec.shape == img.shape and dec.dtype == np.uint8
    assert encode_jpeg(img, quality=95) == data  # deterministic


def test_quality_monotone_psnr():
    img = _gradient(40, 40)
    vals = [psnr(img, decode_jpeg(encode_jpeg(img, q))) for q in (50, 75, 90, 98)]
    assert vals == sorted(vals)  # higher quality → higher fidelity
    assert vals[-1] >= 40.0


def test_grayscale_single_component():
    g = np.tile((np.arange(24, dtype=np.uint8) * 10), (24, 1))
    dec = decode_jpeg(encode_jpeg(g, quality=95))
    assert dec.shape == (24, 24, 3)
    assert psnr(np.repeat(g[..., None], 3, axis=2), dec) >= 40.0


def test_psnr_invariant_on_synth_pixel_class():
    """The exact invariant the input_hint names, over the pixel class
    the synthetic world materializes (pseudo-random bytes — JPEG's
    worst case, so this is the invariant's hard floor, not a smooth
    best case)."""
    for iid in ("inv-a", "inv-b", "inv-c"):
        px = np.frombuffer(image_pixels(iid, 24, 24), dtype=np.uint8).reshape(
            24, 24, 3
        )
        dec = decode_jpeg(encode_jpeg(px, quality=98))
        assert psnr(px, dec) >= 40.0


def test_synth_world_plants_real_jpeg_rows():
    """synth_image emits fmt='jpeg' rows whose bytes are a decodable
    baseline JPEG meeting the PSNR gate vs the pre-encode pixels."""
    found = 0
    for i in range(40):
        meta = synth_image(f"jpeg-hunt-{i}")
        if meta["fmt"] != "jpeg":
            continue
        found += 1
        pixels = np.frombuffer(
            image_pixels(f"jpeg-hunt-{i}", meta["w"], meta["h"]), dtype=np.uint8
        ).reshape(meta["h"], meta["w"], 3)
        dec = np.frombuffer(
            decode_image(meta["bytes"], "jpeg"), dtype=np.uint8
        ).reshape(meta["h"], meta["w"], 3)
        assert psnr(pixels, dec) >= 40.0
    assert found >= 5  # the format mix really produces jpeg rows


def test_non_baseline_raises_not_implemented():
    img = _gradient(16, 16)
    data = bytearray(encode_jpeg(img, quality=90))
    sof = data.find(b"\xff\xc0")
    # SOF1 (extended sequential) decodes exactly like SOF0 since r6:
    # an 8-bit stream relabeled SOF1 is legal and must be identical
    base = decode_jpeg(bytes(data))
    data[sof + 1] = 0xC1
    assert (decode_jpeg(bytes(data)) == base).all()
    data[sof + 1] = 0xC9  # arithmetic coding: unsupported
    with pytest.raises(NotImplementedError, match="non-baseline"):
        decode_jpeg(bytes(data))


def test_multi_scan_baseline_roundtrip():
    """A legal baseline file whose components arrive over several
    non-interleaved scans (T.81 B.2.1) decodes identically to the
    interleaved single-scan form — the layout many decoders silently
    get wrong (round-4 ADVICE: the old code kept only the LAST scan)."""
    img = _gradient(37, 53)
    for sub in ("444", "420", "422"):
        for ri in (0, 3):
            base = decode_jpeg(
                encode_jpeg(img, 85, subsampling=sub, restart_interval=ri)
            )
            ms_bytes = encode_jpeg(
                img, 85, subsampling=sub, restart_interval=ri,
                multi_scan=True,
            )
            assert ms_bytes.count(b"\xff\xda") == 3
            assert (decode_jpeg(ms_bytes) == base).all(), (sub, ri)
    # a multi-scan file missing a component is structurally invalid
    data = encode_jpeg(img, 85, multi_scan=True)
    second = data.find(b"\xff\xda", data.find(b"\xff\xda") + 2)
    with pytest.raises(ValueError, match="cover every frame component"):
        decode_jpeg(data[:second] + b"\xff\xd9")


@settings(max_examples=30, deadline=None)
@given(st.integers(0, 2**32 - 1), st.integers(1, 25))
def test_multi_scan_fuzz_contained(seed, nflips):
    """Bit-flips/truncations of multi-scan baseline streams are
    contained like every other profile."""
    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, (17, 23, 3), dtype=np.uint8)
    data = bytearray(
        encode_jpeg(img, quality=80, subsampling="420", multi_scan=True)
    )
    for _ in range(nflips):
        data[rng.randint(2, len(data))] ^= 1 << rng.randint(8)
    for payload in (bytes(data), bytes(data[: rng.randint(2, len(data))])):
        try:
            out = decode_jpeg(payload)
            assert out.dtype == np.uint8 and out.ndim == 3
        except (ValueError, NotImplementedError):
            pass


def test_truncated_stream_raises_value_error():
    img = _gradient(16, 16)
    data = encode_jpeg(img, quality=90)
    with pytest.raises(ValueError):
        decode_jpeg(data[: len(data) // 2])


def test_image_features_decodes_jpeg_rows(spark):
    """The multimodal stage decodes jpeg rows (no error column) and the
    channel means match the codec's own decode exactly."""
    from bisque_spark.operators.multimodal import image_features

    rows = []
    expected = {}
    for i in range(12):
        iid = f"jf-{i}"
        meta = synth_image(iid)
        rows.append(
            (iid, bytearray(meta["bytes"]), meta["w"], meta["h"], meta["fmt"])
        )
        arr = np.frombuffer(
            decode_image(meta["bytes"], meta["fmt"]), dtype=np.uint8
        ).reshape(meta["h"], meta["w"], 3)
        expected[iid] = tuple(float(arr[..., c].mean()) for c in range(3))
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string"
    )
    got = {r["image_id"]: r for r in image_features(df).collect()}
    fmts = {r[4] for r in rows}
    assert "jpeg" in fmts  # the sample really exercises the lossy path
    for iid, (mr, mg, mb) in expected.items():
        r = got[iid]
        assert r["error"] is None
        assert abs(r["mean_r"] - mr) < 1e-9
        assert abs(r["mean_g"] - mg) < 1e-9
        assert abs(r["mean_b"] - mb) < 1e-9


def test_420_subsampling_roundtrip():
    """4:2:0 (the dominant real-world layout): interleaved MCU = 4 Y
    blocks + Cb + Cr, box-averaged chroma down, nearest-neighbor up.
    On smooth-chroma content it still clears the 40 dB gate and
    produces smaller files than 4:4:4."""
    h, w = 37, 53  # non-multiples of 16 exercise MCU edge padding
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.clip(
        np.stack([(xx * 255 / w), (yy * 255 / h), ((xx + yy) * 255 / (w + h))], -1),
        0, 255,
    ).astype(np.uint8)
    d444 = encode_jpeg(img, quality=95, subsampling="444")
    d420 = encode_jpeg(img, quality=95, subsampling="420")
    dec = decode_jpeg(d420)
    assert dec.shape == img.shape
    assert psnr(img, dec) >= 40.0
    assert len(d420) < len(d444)
    # SOF records 2x2 luma sampling
    sof = d420.find(b"\xff\xc0")
    assert d420[sof + 11] == 0x22  # Y component h=2,v=2


def test_420_determinism_and_16_multiple():
    img = np.arange(32 * 48 * 3, dtype=np.uint8).reshape(32, 48, 3)
    a = encode_jpeg(img, quality=90, subsampling="420")
    assert a == encode_jpeg(img, quality=90, subsampling="420")
    assert decode_jpeg(a).shape == (32, 48, 3)


def test_unsupported_subsampling_rejected():
    img = np.zeros((8, 8, 3), dtype=np.uint8)
    with pytest.raises(ValueError, match="subsampling"):
        encode_jpeg(img, subsampling="411")
    data = bytearray(encode_jpeg(img, quality=90, subsampling="420"))
    sof = data.find(b"\xff\xc0")
    data[sof + 11] = 0x33  # 3x3 sampling — beyond baseline-common
    with pytest.raises(NotImplementedError, match="sampling"):
        decode_jpeg(bytes(data))


def test_422_subsampling_roundtrip():
    """4:2:2 (horizontal-only chroma averaging): MCU = 2 Y + Cb + Cr;
    fidelity sits between 4:4:4 and 4:2:0 on smooth content."""
    h, w = 24, 40
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.clip(
        np.stack([(xx * 255 / w), (yy * 255 / h), ((xx + yy) * 255 / (w + h))], -1),
        0, 255,
    ).astype(np.uint8)
    d = encode_jpeg(img, quality=95, subsampling="422")
    sof = d.find(b"\xff\xc0")
    assert d[sof + 11] == 0x21  # Y h=2, v=1
    dec = decode_jpeg(d)
    assert dec.shape == img.shape
    p422 = psnr(img, dec)
    p420 = psnr(img, decode_jpeg(encode_jpeg(img, quality=95, subsampling="420")))
    p444 = psnr(img, decode_jpeg(encode_jpeg(img, quality=95, subsampling="444")))
    # monotone fidelity across subsampling modes; the absolute 40 dB
    # gate is a 4:4:4 contract (chroma-subsampled modes trade chroma
    # fidelity for size by design)
    assert p444 >= p422 >= p420 >= 35.0


def test_restart_intervals_roundtrip():
    """DRI/RSTn (T.81 F.1.2.2.4): byte-aligned restart points with DC
    predictor reset. Restarts are pure re-framing — decoded pixels are
    identical to the no-restart encoding at every interval."""
    img = np.arange(40 * 56 * 3, dtype=np.uint8).reshape(40, 56, 3)
    for ss in ("444", "420"):
        ref = decode_jpeg(encode_jpeg(img, 92, subsampling=ss))
        for ri in (1, 3, 7):
            d = encode_jpeg(img, 92, subsampling=ss, restart_interval=ri)
            assert b"\xff\xdd" in d  # DRI segment present
            assert (decode_jpeg(d) == ref).all()


def test_restart_segment_count_mismatch_rejected():
    img = np.zeros((16, 16, 3), dtype=np.uint8)
    d = bytearray(encode_jpeg(img, 90, restart_interval=1))
    dri = d.find(b"\xff\xdd")
    d[dri + 4 : dri + 6] = (3).to_bytes(2, "big")  # lie about interval
    with pytest.raises(ValueError, match="restart segment count"):
        decode_jpeg(bytes(d))



@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=0, max_size=400))
def test_decoder_contains_garbage(data):
    """Arbitrary bytes must produce a CONTAINED error (ValueError /
    NotImplementedError / IndexError-free crash never) — the multimodal
    error-column contract depends on decode failures being catchable."""
    try:
        decode_jpeg(b"\xff\xd8" + data)
    except (ValueError, NotImplementedError):
        pass


@settings(max_examples=60, deadline=None)
@given(st.integers(0, 2**32 - 1), st.integers(1, 40))
def test_decoder_contains_truncations_and_bitflips(seed, nflips):
    """Truncations and bit-flips of VALID streams are likewise
    contained (or decode to some image — garbage pixels are fine,
    uncontained exceptions are not)."""
    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, (17, 23, 3), dtype=np.uint8)
    data = bytearray(encode_jpeg(img, quality=80))
    for _ in range(nflips):
        data[rng.randint(2, len(data))] ^= 1 << rng.randint(8)
    for payload in (bytes(data), bytes(data[: rng.randint(2, len(data))])):
        try:
            out = decode_jpeg(payload)
            assert out.dtype == np.uint8 and out.ndim == 3
        except (ValueError, NotImplementedError):
            pass


from bisque_spark.functions.jpeg import encode_jpeg_progressive


def test_progressive_matches_baseline_pixels():
    """Spectral-selection progressive shares the baseline's quantized
    coefficients ⇒ decoded pixels must be IDENTICAL at equal quality
    (RGB and grayscale), and the file really is SOF2."""
    img = np.arange(40 * 56 * 3, dtype=np.uint8).reshape(40, 56, 3)
    for q in (80, 95):
        prog = encode_jpeg_progressive(img, q)
        assert b"\xff\xc2" in prog and b"\xff\xc0" not in prog
        assert (decode_jpeg(prog) == decode_jpeg(encode_jpeg(img, q))).all()
    g = img[..., 0]
    assert (
        decode_jpeg(encode_jpeg_progressive(g, 90))
        == decode_jpeg(encode_jpeg(g, 90))
    ).all()


def test_progressive_general_eobrun_decodes():
    """Our encoder emits only per-block EOB (EOBRUN r=0); real
    progressive files use longer runs. Hand-assemble a grayscale
    2-block file whose AC scan covers BOTH blocks with one EOBRUN
    (r=1) symbol and check the decoder honors it."""
    from bisque_spark.functions.jpeg import (
        _QT_LUMA,
        _SymbolSink,
        _ZZ,
        _quality_scale,
        _seg,
    )

    h, w = 8, 16  # two 8x8 blocks
    qt = _quality_scale(_QT_LUMA, 90)
    out = bytearray(b"\xff\xd8")
    out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _seg(0xDB, bytes([0]) + bytes(qt[_ZZ].astype(np.uint8)))
    out += _seg(
        0xC2,
        bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
        + bytes([1, 1, 0x11, 0]),
    )
    # custom tables: DC symbol 0 at code '0'; AC symbol 0x10 (EOBRUN
    # r=1) at code '0'
    dc_bits = [1] + [0] * 15
    out += _seg(0xC4, bytes([0x00]) + bytes(dc_bits) + bytes([0]))
    out += _seg(0xC4, bytes([0x10]) + bytes(dc_bits) + bytes([0x10]))
    # DC scan: two blocks, diff 0 each → symbol 0 twice
    bw = _SymbolSink()
    bw.write(0, 1)
    bw.write(0, 1)
    out += _seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0]))
    out += bw.pack()
    # AC scan 1..63: ONE EOBRUN symbol (code '0') + 1 appended bit (0)
    # → eobrun = 2^1 - 1 + 0 = 1 → covers current block + 1 more
    bw = _SymbolSink()
    bw.write(0, 1)  # huffman code for 0x10
    bw.write(0, 1)  # appended run bit
    out += _seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0]))
    out += bw.pack()
    out += b"\xff\xd9"

    dec = decode_jpeg(bytes(out))
    assert dec.shape == (8, 16, 3)
    assert (dec == 128).all()  # all-zero coefficients → level-shift only


def test_successive_approximation_matches_baseline_pixels():
    """SA progressive (DC+AC refinement chains, Al=1→0) reconstructs
    the SAME quantized coefficients as baseline at equal quality ⇒
    bit-identical decoded pixels (VERDICT r4 Next-round #4)."""
    img = _gradient(37, 53)
    for q in (50, 80, 95):
        base = decode_jpeg(encode_jpeg(img, quality=q))
        sa = decode_jpeg(encode_jpeg_progressive(img, q, successive=True))
        assert (sa == base).all(), q
    g = _gradient(21, 19)[:, :, 0]
    bg = decode_jpeg(encode_jpeg(g, quality=90))
    sg = decode_jpeg(encode_jpeg_progressive(g, 90, successive=True))
    assert (sg == bg).all()
    # deterministic bytes + actually carries refinement scans (7 SOS
    # color: DC + 2x3 AC firsts would be 7 without SA; with SA: DC
    # first + 6 AC firsts + DC refine + 6 AC refines = 14)
    data = encode_jpeg_progressive(img, 90, successive=True)
    assert data == encode_jpeg_progressive(img, 90, successive=True)
    assert data.count(b"\xff\xda") >= 14


def test_subsampled_progressive_matches_baseline_pixels():
    """4:2:0/4:2:2 progressive (spectral-only AND with successive
    approximation) reconstructs the same quantized coefficients as the
    subsampled baseline at equal quality ⇒ identical decoded pixels —
    the dominant real-web layout (4:2:0 + SA) is fully supported."""
    img = _gradient(37, 53)
    for sub in ("420", "422"):
        for sa in (False, True):
            for q in (60, 95):
                base = decode_jpeg(encode_jpeg(img, quality=q, subsampling=sub))
                prog = decode_jpeg(
                    encode_jpeg_progressive(
                        img, q, successive=sa, subsampling=sub
                    )
                )
                assert (prog == base).all(), (sub, sa, q)


@settings(max_examples=40, deadline=None)
@given(st.integers(0, 2**32 - 1), st.integers(1, 30))
def test_subsampled_progressive_fuzz_contained(seed, nflips):
    """Bit-flips/truncations of valid 4:2:0 progressive streams are
    contained (MCU walk, un-padded AC order, refinement walk)."""
    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, (19, 21, 3), dtype=np.uint8)
    data = bytearray(
        encode_jpeg_progressive(
            img, quality=80, successive=bool(seed & 1), subsampling="420"
        )
    )
    for _ in range(nflips):
        data[rng.randint(2, len(data))] ^= 1 << rng.randint(8)
    for payload in (bytes(data), bytes(data[: rng.randint(2, len(data))])):
        try:
            out = decode_jpeg(payload)
            assert out.dtype == np.uint8 and out.ndim == 3
        except (ValueError, NotImplementedError):
            pass


def test_sa_partial_scan_chain_still_decodes():
    """A conforming SA file truncated after the first passes (no
    refinement scans) is a legal coarse image — decode must succeed,
    approximating the full image (progressive display semantics)."""
    img = _gradient(24, 24)
    data = bytearray(encode_jpeg_progressive(img, 90, successive=True))
    # cut at the DC-refinement SOS (the 8th SOS for color), keep EOI
    sos_positions = []
    i = 0
    while True:
        i = data.find(b"\xff\xda", i + 1)
        if i < 0:
            break
        sos_positions.append(i)
    assert len(sos_positions) == 14
    coarse = bytes(data[: sos_positions[7]]) + b"\xff\xd9"
    out = decode_jpeg(coarse)
    full = decode_jpeg(bytes(data))
    assert out.shape == full.shape
    # coarse pass = half-precision coefficients: close but not equal
    assert psnr(full, out) > 20.0


@settings(max_examples=60, deadline=None)
@given(st.integers(0, 2**32 - 1), st.integers(1, 40))
def test_progressive_decoder_contains_corruption(seed, nflips):
    """Bit-flips/truncations of valid PROGRESSIVE streams are contained
    (multi-scan walk, EOBRUN, band bounds) — same contract as the
    baseline fuzzer."""
    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, (17, 23, 3), dtype=np.uint8)
    data = bytearray(
        encode_jpeg_progressive(img, quality=80, successive=bool(seed & 1))
    )
    for _ in range(nflips):
        data[rng.randint(2, len(data))] ^= 1 << rng.randint(8)
    for payload in (bytes(data), bytes(data[: rng.randint(2, len(data))])):
        try:
            out = decode_jpeg(payload)
            assert out.dtype == np.uint8 and out.ndim == 3
        except (ValueError, NotImplementedError):
            pass


def test_synth_world_plants_progressive_rows_too():
    """The fmt='jpeg' mix includes SOF2 files; both profiles decode
    through decode_image and meet the PSNR gate."""
    profiles = {"baseline": 0, "progressive": 0, "sa": 0}
    for i in range(60):
        meta = synth_image(f"prog-hunt-{i}")
        if meta["fmt"] != "jpeg":
            continue
        raw = bytes(meta["bytes"])
        if b"\xff\xc2" in raw:
            kind = "progressive"
            if raw.count(b"\xff\xda") > 7:  # refinement scans present
                profiles["sa"] += 1
        else:
            kind = "baseline"
        profiles[kind] += 1
        px = np.frombuffer(
            image_pixels(f"prog-hunt-{i}", meta["w"], meta["h"]), dtype=np.uint8
        ).reshape(meta["h"], meta["w"], 3)
        dec = np.frombuffer(
            decode_image(meta["bytes"], "jpeg"), dtype=np.uint8
        ).reshape(meta["h"], meta["w"], 3)
        assert psnr(px, dec) >= 40.0
    assert profiles["baseline"] >= 3 and profiles["progressive"] >= 3
    assert profiles["sa"] >= 1  # successive-approximation rows planted


# ---- Adobe APP14 CMYK / YCCK (VERDICT r5 #5) ------------------------------


def _cmyk_gradients(h=48, w=64):
    yy, xx = np.mgrid[0:h, 0:w]
    c = (xx * 255 / (w - 1)).astype(np.uint8)
    m = (yy * 255 / (h - 1)).astype(np.uint8)
    y = ((xx + yy) * 255 / (w + h - 2)).astype(np.uint8)
    k = (np.sin(xx / 9.0) * 40 + 60).astype(np.uint8)
    return np.stack([c, m, y, k], axis=-1)


@pytest.mark.parametrize(
    "transform,adobe", [(2, True), (0, True), (0, False)]
)
def test_cmyk_roundtrip_psnr(transform, adobe):
    """YCCK (Photoshop default), Adobe inverted CMYK, and bare
    non-Adobe CMYK all decode through the PSNR >= 40 dB gate against
    the standard composite."""
    from bisque_spark.functions.jpeg import cmyk_to_rgb, encode_jpeg_cmyk

    cmyk = _cmyk_gradients()
    data = encode_jpeg_cmyk(cmyk, quality=95, transform=transform, adobe=adobe)
    got = decode_jpeg(data)
    assert got.shape == (48, 64, 3)
    assert psnr(cmyk_to_rgb(cmyk), got) >= 40.0


def test_cmyk_solid_inks_exact():
    """Solid ink patches hit their exact RGB composites (catches any
    inversion-convention mixup, which a PSNR gate could smear over)."""
    from bisque_spark.functions.jpeg import cmyk_to_rgb, encode_jpeg_cmyk

    patches = {
        "white": (0, 0, 0, 0),
        "black": (0, 0, 0, 255),
        "cyan": (255, 0, 0, 0),
        "red": (0, 255, 255, 0),
    }
    for name, ink in patches.items():
        img = np.full((16, 16, 4), ink, dtype=np.uint8)
        got = decode_jpeg(encode_jpeg_cmyk(img, quality=98, transform=2))
        want = cmyk_to_rgb(img)
        assert np.array_equal(got[8, 8], want[8, 8]), name


def test_cmyk_encoder_rejects_bad_args():
    from bisque_spark.functions.jpeg import encode_jpeg_cmyk

    img = np.zeros((8, 8, 4), dtype=np.uint8)
    with pytest.raises(ValueError):
        encode_jpeg_cmyk(img, transform=1)
    with pytest.raises(ValueError):
        encode_jpeg_cmyk(img, transform=2, adobe=False)
    with pytest.raises(ValueError):
        encode_jpeg_cmyk(np.zeros((8, 8, 3), dtype=np.uint8))


# ---- 12-bit extended sequential / progressive (r6) -----------------------


def _smooth12():
    yy, xx = np.mgrid[0:40, 0:56]
    y = np.clip(2048 + 1500 * np.sin(xx / 9.0) * np.cos(yy / 7.0), 0, 4095)
    b = np.clip(2048 + 1200 * np.cos(xx / 8.0), 0, 4095)
    return np.stack([y, 4095 - y, b], -1).astype(np.uint16)


def _to8(img12):
    return np.clip(
        np.round(img12.astype(np.float64) * 255 / 4095), 0, 255
    ).astype(np.uint8)


def test_12bit_sequential_roundtrip_psnr():
    from bisque_spark.functions.jpeg import psnr

    rgb12 = _smooth12()
    data = encode_jpeg(rgb12, quality=92, precision=12)
    assert b"\xff\xc1" in data  # SOF1, never baseline SOF0
    assert psnr(_to8(rgb12), decode_jpeg(data)) >= 40.0
    gray = rgb12[..., 0]
    out = decode_jpeg(encode_jpeg(gray, quality=92, precision=12))
    assert psnr(_to8(gray), out[..., 0]) >= 40.0


def test_12bit_every_layout_matches_sequential():
    """Progressive (incl. successive approximation + 4:2:0),
    multi-scan and DRI 12-bit files carry the same quantized
    coefficients as the sequential form -> bit-identical pixels."""
    from bisque_spark.functions.jpeg import encode_jpeg_progressive

    rgb12 = _smooth12()
    for ss in ("444", "420"):
        base = decode_jpeg(
            encode_jpeg(rgb12, quality=92, precision=12, subsampling=ss)
        )
        prog = decode_jpeg(
            encode_jpeg_progressive(
                rgb12, quality=92, precision=12, successive=True,
                subsampling=ss,
            )
        )
        assert (prog == base).all()
    base = decode_jpeg(encode_jpeg(rgb12, quality=92, precision=12))
    for kw in (dict(multi_scan=True), dict(restart_interval=3)):
        alt = decode_jpeg(encode_jpeg(rgb12, quality=92, precision=12, **kw))
        assert (alt == base).all()


def test_12bit_guards():
    rgb12 = _smooth12()
    with pytest.raises(ValueError):
        encode_jpeg(rgb12, precision=10)
    # The x16 table scaling bounds worst-case quantized AC at exactly
    # the SSSS=10 edge (max = 2048*sum|d_u|*sum|d_v|/16 = 1024.0003):
    # only a basis-sign-aligned extremal image at quality 100 can
    # cross it, and then the encoder must refuse, not corrupt.
    from bisque_spark.functions.jpeg import _D

    s = np.abs(_D).sum(axis=1)
    u, v = max(
        ((a, b) for a in range(8) for b in range(8) if (a, b) != (0, 0)),
        key=lambda t: s[t[0]] * s[t[1]],
    )
    sign = np.sign(np.outer(_D[u], _D[v]))
    extremal = np.tile(np.where(sign > 0, 4095, 0), (2, 2)).astype(np.uint16)
    with pytest.raises(ValueError):
        encode_jpeg(extremal, quality=100, precision=12)
    # a 12-bit frame mislabeled baseline SOF0 is rejected
    data = bytearray(encode_jpeg(rgb12, quality=92, precision=12))
    at = bytes(data).find(b"\xff\xc1")
    data[at + 1] = 0xC0
    with pytest.raises(ValueError):
        decode_jpeg(bytes(data))


def test_12bit_dc_diff_guard():
    """Flat 0/4095 blocks at quality 100 produce a DC diff of 2048 —
    SSSS=12, absent from the K.3 DC tables. The encoder must refuse,
    not emit a zero-length code (r6 ADVICE jpeg.py:358)."""
    gray = np.zeros((8, 16), dtype=np.uint16)
    gray[:, 8:] = 4095
    with pytest.raises(ValueError):
        encode_jpeg(gray, quality=100, precision=12)
    from bisque_spark.functions.jpeg import encode_jpeg_progressive

    with pytest.raises(ValueError):
        encode_jpeg_progressive(gray, quality=100, precision=12)
    # a merely-contrasty smooth image still encodes at the same quality
    ok = _smooth12()
    decode_jpeg(encode_jpeg(ok, quality=95, precision=12))


def test_vectorized_scan_matches_block_walk():
    """r7 fast path: the vectorized whole-scan symbol generation must
    be bit-identical to the per-block MCU walk (forced via a DRI the
    image never reaches), across sizes, qualities, gray, subsampling,
    multi-scan and 12-bit precision."""
    rng = np.random.default_rng(20260818)
    cases = []
    for _ in range(12):
        h, w = int(rng.integers(8, 65)), int(rng.integers(8, 65))
        cases.append((rng.integers(0, 256, (h, w, 3), dtype=np.uint8),
                      dict(quality=int(rng.integers(50, 99)))))
    cases.append((rng.integers(0, 256, (24, 24), dtype=np.uint8), {}))
    cases.append((rng.integers(0, 256, (31, 29, 3), dtype=np.uint8),
                  dict(subsampling="420")))
    cases.append((rng.integers(0, 256, (17, 23, 3), dtype=np.uint8),
                  dict(subsampling="422")))
    cases.append((rng.integers(0, 256, (21, 19, 3), dtype=np.uint8),
                  dict(subsampling="420", multi_scan=True)))
    yy, xx = np.mgrid[0:16, 0:24]
    tw12 = (np.stack([yy * 37 + xx * 11, yy * 5 + xx * 29,
                      yy * 17 + xx * 3], -1) % 4096).astype(np.uint16)
    cases.append((tw12, dict(precision=12, quality=92)))
    for arr, kw in cases:
        fast = encode_jpeg(arr, **kw)
        walk = encode_jpeg(arr, restart_interval=65535, **kw)
        i = walk.find(b"\xff\xdd")
        assert i >= 0
        assert fast == walk[:i] + walk[i + 6:], kw


# ---- byte-exact encoder pins -----------------------------------------------


def _golden_calls():
    """name → (encoder, pixels, kwargs) over the encoders' layout matrix:
    subsampling × restart × multi-scan, progressive with and without
    successive approximation, gray, 12-bit, and CMYK transform 0/2 with
    and without the Adobe tag."""
    from bisque_spark.functions.jpeg import (
        encode_jpeg_cmyk,
        encode_jpeg_progressive,
    )

    rgb = _gradient(19, 27)
    gray = rgb[..., 1]
    rgb12 = _smooth12()
    cmyk = _cmyk_gradients(21, 18)
    calls = {}
    for sub in ("444", "420", "422"):
        for ri in (0, 2):
            for ms in (False, True):
                calls[f"seq-{sub}-ri{ri}-ms{int(ms)}"] = (
                    encode_jpeg, rgb,
                    dict(quality=85, subsampling=sub, restart_interval=ri,
                         multi_scan=ms),
                )
        for sa in (False, True):
            calls[f"prog-{sub}-sa{int(sa)}"] = (
                encode_jpeg_progressive, rgb,
                dict(quality=85, subsampling=sub, successive=sa),
            )
    for ri in (0, 3):
        for ms in (False, True):
            calls[f"seq-gray-ri{ri}-ms{int(ms)}"] = (
                encode_jpeg, gray,
                dict(quality=90, restart_interval=ri, multi_scan=ms),
            )
    for sa in (False, True):
        calls[f"prog-gray-sa{int(sa)}"] = (
            encode_jpeg_progressive, gray, dict(quality=90, successive=sa)
        )
    for sub in ("444", "420"):
        for kw in (dict(), dict(multi_scan=True), dict(restart_interval=3)):
            name = "-".join(f"{k}{int(v)}" for k, v in kw.items())
            calls[f"seq12-{sub}-{name}"] = (
                encode_jpeg, rgb12,
                dict(quality=92, precision=12, subsampling=sub, **kw),
            )
        calls[f"prog12-{sub}-sa1"] = (
            encode_jpeg_progressive, rgb12,
            dict(quality=92, precision=12, subsampling=sub, successive=True),
        )
    calls["seq12-gray"] = (
        encode_jpeg, rgb12[..., 0], dict(quality=92, precision=12)
    )
    for transform, adobe in ((2, True), (0, True), (0, False)):
        calls[f"cmyk-t{transform}-adobe{int(adobe)}"] = (
            encode_jpeg_cmyk, cmyk,
            dict(quality=90, transform=transform, adobe=adobe),
        )
    return calls


def _golden_digests():
    import hashlib

    return {
        name: hashlib.blake2b(fn(px, **kw), digest_size=16).hexdigest()
        for name, (fn, px, kw) in _golden_calls().items()
    }


# blake2b-128 of each _golden_calls() output, recorded before the
# encoders shared one front end, header writer and block walk: any
# byte change in any layout fails here
_GOLDEN = {
    "seq-444-ri0-ms0": "14620e15ff763e9ce24d3deb14dfc839",
    "seq-444-ri0-ms1": "93a0a9830f973886d47c8e49916dd4af",
    "seq-444-ri2-ms0": "e3ce1e5438f95e43e5c5088e0b88d010",
    "seq-444-ri2-ms1": "689f5cc2850dc365ad4fdd55d2d9ef92",
    "prog-444-sa0": "23b80b22271db03606d1552c48aa152c",
    "prog-444-sa1": "57b22238c170f3ce45123d6f2a7107b9",
    "seq-420-ri0-ms0": "b6c9dba144e20d2034c02b6ee34c445d",
    "seq-420-ri0-ms1": "492fe942bbdfb54de37e49e1a0e81232",
    "seq-420-ri2-ms0": "9216ef94aca047d0f238f6d85a58ec13",
    "seq-420-ri2-ms1": "616665a00e4c951d051a1e457b10ed79",
    "prog-420-sa0": "a991c9fa1a6ce570aa1c6d40282b051e",
    "prog-420-sa1": "3b22c8c7ae799baa8f76e47fba86ff82",
    "seq-422-ri0-ms0": "5c66f4a34c2bfc03caef3214495a73c6",
    "seq-422-ri0-ms1": "c0fd8c540f4ad9ac8795c3598d3efd0a",
    "seq-422-ri2-ms0": "2c32006988ba933bb8b8b2bb9f55cfee",
    "seq-422-ri2-ms1": "43512956bb869336b3e3065243e49d0a",
    "prog-422-sa0": "2f1fa4a4c37965ca1f4aed0650f6f955",
    "prog-422-sa1": "bb1dd166833014a3af4d48a38a25bf57",
    "seq-gray-ri0-ms0": "c484e1938b33df853ffa79a10402df58",
    "seq-gray-ri0-ms1": "c484e1938b33df853ffa79a10402df58",
    "seq-gray-ri3-ms0": "2e2ef1b45c3240a50e325fb17cea669a",
    "seq-gray-ri3-ms1": "2e2ef1b45c3240a50e325fb17cea669a",
    "prog-gray-sa0": "8b0859677b226a8a1a3970da5b6a4598",
    "prog-gray-sa1": "79a074d22c5ea0089f964963d80136a8",
    "seq12-444-": "f1caec2417b39b6ec723f78f862483f1",
    "seq12-444-multi_scan1": "3409faa6a96573433fbbe1e9949f0dfa",
    "seq12-444-restart_interval3": "5481b1aab7bd7d110742fca0f11124ff",
    "prog12-444-sa1": "e88b65835abd6441755b675dca197e6e",
    "seq12-420-": "f8136af2fb23c6f36d47b41591219484",
    "seq12-420-multi_scan1": "5d13ca67710284fbe1a7039e09798da3",
    "seq12-420-restart_interval3": "7c2d83701ce4ef325c92e588f0f3b8fd",
    "prog12-420-sa1": "ee63e23c3ec996fe0fc1b07f0191eed1",
    "seq12-gray": "d01436ee585afd22082bfab2d7c6994d",
    "cmyk-t2-adobe1": "1f5ff61e089d384ebd0281c4afd8427d",
    "cmyk-t0-adobe1": "3e1fb272c0415eb78d6017a52f0b24e8",
    "cmyk-t0-adobe0": "4b607021c28a3c0522b4f91697098a7e",
}


def test_encoder_outputs_match_golden_digests():
    got = _golden_digests()
    assert got.keys() == _GOLDEN.keys()
    bad = sorted(k for k in got if got[k] != _GOLDEN[k])
    assert not bad, bad


def test_declared_size_bound_rejects_before_allocating():
    """A valid small file whose SOF claims 65535×65535 is refused at
    the header (the 64M-pixel bound decode_png/decode_tiff/decode_webp
    use) — not by sizing coefficient storage from it first."""
    import time

    data = bytearray(encode_jpeg(_gradient(8, 8), quality=90))
    sof = data.find(b"\xff\xc0")
    data[sof + 5 : sof + 9] = (65535).to_bytes(2, "big") * 2
    t0 = time.perf_counter()
    with pytest.raises(ValueError, match="out of bounds"):
        decode_jpeg(bytes(data))
    assert time.perf_counter() - t0 < 1.0


@pytest.mark.parametrize("gray", [True, False])
def test_entropy_bytes_bound_rejects_before_allocating(gray):
    """A small file whose SOF declares 8000×8000 — inside the 64M-pixel
    bound — is refused before any coefficient store is sized from the
    header: each data unit costs at least one Huffman bit in the first
    scan that covers it, so a few hundred entropy bytes cannot fill
    10^6 units (3·10^6 for the 3-component variant)."""
    import time
    import tracemalloc

    img = _gradient(8, 8)
    data = bytearray(encode_jpeg(img[..., 0] if gray else img, quality=90))
    sof = data.find(b"\xff\xc0")
    data[sof + 5 : sof + 9] = (8000).to_bytes(2, "big") * 2
    assert len(data) < 800
    tracemalloc.start()
    t0 = time.perf_counter()
    try:
        with pytest.raises(ValueError, match="entropy-coded bytes"):
            decode_jpeg(bytes(data))
        elapsed = time.perf_counter() - t0
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert elapsed < 1.0
    assert peak < 4 * 2**20, peak


def test_single_scan_ac_size_cap():
    """T.81 F.1.2.2.1: 8-bit AC magnitude categories stop at 10. A
    single-scan file whose DHT maps the commonest AC code to size 11
    (symbol 0x01 → 0x0B) is rejected like the multi-scan form."""
    data = bytearray(encode_jpeg(_gradient(16, 16), quality=90))
    dht = data.find(b"\xff\xc4\x00\xb5\x10")  # luma AC table
    assert dht >= 0
    vals = dht + 5 + 16
    assert data[vals] == 0x01
    data[vals] = 0x0B
    with pytest.raises(ValueError, match="bad AC size"):
        decode_jpeg(bytes(data))

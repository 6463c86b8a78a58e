"""Pure-Python/numpy baseline JPEG codec (ITU-T T.81 / JFIF, public
spec; tables from Annex K). Makes the lossy half of the multimodal
decode invariant REAL instead of vacuous (VERDICT r3 Next-round #5):
the sandbox ships no image libraries, so the engine carries its own
baseline sequential DCT+Huffman codec.

Scope — deliberately the baseline profile only:
- encode: 8-bit RGB (or grayscale), 4:4:4 (default — best PSNR) or
  4:2:0 chroma subsampling (the dominant real-world layout), standard
  quantization tables scaled by the IJG quality formula, standard
  Huffman tables, JFIF APP0.
- decode: baseline sequential (SOF0) with sampling factors up to
  2×2 (4:4:4 / 4:2:2 / 4:2:0), DRI/RSTn restart intervals and
  multi-scan (non-interleaved per-component) layouts, AND
  progressive (SOF2) with spectral selection incl. general EOBRUN,
  successive approximation (DC and AC refinement passes, T.81
  G.1.2.2/G.1.2.3) AND chroma subsampling up to 2×2 — together the
  dominant real-web progressive layout (4:2:0 + SA) — AND Adobe
  APP14 CMYK/YCCK 4-component files (Photoshop exports, inverted-ink
  convention) plus bare non-Adobe CMYK, composited to RGB, AND (r6)
  12-bit extended sequential (SOF1) / 12-bit progressive with Pq=1
  16-bit quantization tables — 12-bit samples map linearly onto the
  engine's 8-bit RGB contract. Arithmetic coding and >2× sampling
  raise NotImplementedError — callers route that to an error column.
  (r7: lossless WebP/VP8L moved OUT of the error column into
  functions/webp.py; the remaining real-web residue is
  arithmetic-coded JPEG and lossy VP8.)
  (multimodal.py contract).

The DCT is the orthonormal matrix form (D @ block @ D.T == the T.81
FDCT definition), fully vectorized over blocks with einsum; only the
entropy coding loops per block, which is bounded by image size.

Layout: the three encoders share one front end (_front_end) and one
header writer (_header/_dht/_sos); every encoder and decoder scan loop
takes its block order from _mcu_walk (T.81 A.2.3) or _raster (A.2.2);
sequential files of any scan layout decode through
_decode_sequential, progressive ones through _decode_progressive, and
both hand their coefficients to _reconstruct.

No reference analogue (bisque never decodes images) — this implements
the BASELINE.json input_hint's "decoded pixels allclose (PSNR >= 40 dB
for lossy formats)" invariant.
"""

from __future__ import annotations

import numpy as np

# ---- constants (ITU-T T.81 Annex K — public spec tables) --------------------

def _zigzag() -> np.ndarray:
    """Row-major index of each coefficient in zigzag order."""
    order = sorted(
        ((r, c) for r in range(8) for c in range(8)),
        key=lambda rc: (
            rc[0] + rc[1],
            rc[0] if (rc[0] + rc[1]) % 2 else -rc[0],
        ),
    )
    return np.array([r * 8 + c for r, c in order])


_ZZ = _zigzag()
_UNZZ = np.argsort(_ZZ)

# Annex K.1/K.2 quantization tables (luminance, chrominance)
_QT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32)
_QT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32)

# Annex K.3 Huffman table specifications: (bits per code length 1..16,
# symbol values). DC symbols are magnitude categories 0..11; AC symbols
# are (run << 4) | size with 0x00=EOB and 0xF0=ZRL.
_DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUMA_VALS = list(range(12))
_DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHROMA_VALS = list(range(12))
_AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]
_AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]

# orthonormal 8-point DCT matrix: D @ block @ D.T == T.81 FDCT
_D = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _D[_k, _n] = np.cos((2 * _n + 1) * _k * np.pi / 16.0) * (
            np.sqrt(1 / 8) if _k == 0 else 0.5
        )


def _canonical_codes(bits, vals):
    """(bits, huffval) → {symbol: (code, length)} (T.81 C.2)."""
    out = {}
    code = 0
    i = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[i]] = (code, length)
            code += 1
            i += 1
        code <<= 1
    return out


def _code_list(bits, vals, size):
    """Symbol-indexed (code, length) list (a list index beats a dict
    lookup in the encoder's hot loop); unused symbols are (0, 0)."""
    out = [(0, 0)] * size
    for sym, cl in _canonical_codes(bits, vals).items():
        out[sym] = cl
    return out


# The encoders' Annex K.3 tables, built once. Table id 0 = luminance,
# 1 = chrominance: (Tc<<4 | Th, bits, vals) DHT specs in the order every
# encoder writes them, and per id the symbol-indexed code lists (plus
# their numpy columns for the vectorized scan coder).
_DHT_SPECS = (
    (0x00, _DC_LUMA_BITS, _DC_LUMA_VALS),
    (0x10, _AC_LUMA_BITS, _AC_LUMA_VALS),
    (0x01, _DC_CHROMA_BITS, _DC_CHROMA_VALS),
    (0x11, _AC_CHROMA_BITS, _AC_CHROMA_VALS),
)
_DC_CODES = (
    _code_list(_DC_LUMA_BITS, _DC_LUMA_VALS, 16),
    _code_list(_DC_CHROMA_BITS, _DC_CHROMA_VALS, 16),
)
_AC_CODES = (
    _code_list(_AC_LUMA_BITS, _AC_LUMA_VALS, 256),
    _code_list(_AC_CHROMA_BITS, _AC_CHROMA_VALS, 256),
)
_DC_ARRAYS = tuple(np.array(t, dtype=np.int64).T for t in _DC_CODES)
_AC_ARRAYS = tuple(np.array(t, dtype=np.int64).T for t in _AC_CODES)

_FACTORS = {
    "444": [(1, 1)] * 3,
    "420": [(2, 2), (1, 1), (1, 1)],
    "422": [(2, 1), (1, 1), (1, 1)],
}
_JFIF = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"

# declared-size bound, shared with decode_png/decode_tiff/decode_webp:
# checked at SOF, before any coefficient storage is sized from it
_MAX_PIXELS = 64_000_000


def _quality_scale(table: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling (public libjpeg formula)."""
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((table * scale + 50) // 100, 1, 255).astype(np.int32)


# ---- block order (T.81 A.2) -------------------------------------------------


def _geometry(w: int, h: int, factors) -> tuple:
    """Image size + per-component (h, v) sampling → (hmax, vmax, mcux,
    mcuy, grids) with grids[k] = (pwb, phb, cwb, chb): component k's
    MCU-padded block grid (storage, A.2.3) and its un-padded grid
    (non-interleaved scan order, A.2.2)."""
    hmax = max(hi for hi, _ in factors)
    vmax = max(vi for _, vi in factors)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    grids = [
        (
            mcux * hi,
            mcuy * vi,
            -(-(-(-w * hi // hmax)) // 8),
            -(-(-(-h * vi // vmax)) // 8),
        )
        for hi, vi in factors
    ]
    return hmax, vmax, mcux, mcuy, grids


def _mcu_walk(factors, mcux: int, mcuy: int):
    """Interleaved scan order (A.2.3): yields one list per MCU of
    (k, block) data units — component k contributes its h×v blocks left
    to right, top to bottom, indexed in its MCU-padded grid (mcux·h
    per row). Lazy, so a decoder never materializes the order of a
    declared size its data cannot fill."""
    for my in range(mcuy):
        for mx in range(mcux):
            units = []
            for k, (hi, vi) in enumerate(factors):
                for by in range(vi):
                    base = (my * vi + by) * mcux * hi + mx * hi
                    for bx in range(hi):
                        units.append((k, base + bx))
            yield units


def _raster(grid):
    """Non-interleaved scan order (A.2.2): yields one component's
    un-padded block grid in raster order, indexed in its MCU-padded
    grid."""
    pwb, _phb, cwb, chb = grid
    for row in range(chb):
        yield from range(row * pwb, row * pwb + cwb)


# ---- encoder ----------------------------------------------------------------


class _SymbolSink:
    """Collects (code, length) symbol pairs; the bitstream is packed in
    one vectorized numpy pass at the end (per-BIT Python loops were the
    encoder's hot spot — measured ~8 ms per 48×48 image)."""

    def __init__(self):
        self.codes: list[int] = []
        self.lens: list[int] = []

    def write(self, code: int, length: int) -> None:
        if length:
            self.codes.append(code)
            self.lens.append(length)

    def pack(self) -> bytes:
        """Variable-length MSB-first bit packing, no per-bit matrix:
        each symbol is placed as a 5-byte window OR'd into the output
        buffer (r7 — the former (n_symbols × max_len) bit expansion
        was 57% of encode_jpeg; this is a 5×ufunc.at scatter)."""
        if not self.codes:
            return b""
        codes = np.asarray(self.codes, dtype=np.uint64)
        lens = np.asarray(self.lens, dtype=np.int64)
        if int(lens.max()) > 32:
            raise ValueError("symbol longer than 32 bits")
        ends = np.cumsum(lens)
        total = int(ends[-1])
        offs = ends - lens
        shift = (offs & 7).astype(np.uint64)
        p = (offs >> 3).astype(np.int64)
        # window: code's MSB lands at bit (8*5 - 1 - shift) of 5 bytes
        win = codes << (np.uint64(40) - lens.astype(np.uint64) - shift)
        buf = np.zeros(((total + 7) >> 3) + 5, dtype=np.uint8)
        for k in range(5):
            np.bitwise_or.at(
                buf, p + k,
                ((win >> np.uint64(8 * (4 - k))) & np.uint64(0xFF)).astype(
                    np.uint8
                ),
            )
        pad = (-total) % 8
        if pad:  # pad bits are 1s (T.81 F.1.2.3)
            buf[(total - 1) >> 3] |= (1 << pad) - 1
        packed = buf[: (total + pad) >> 3]
        stuffed_at = np.flatnonzero(packed == 0xFF)
        if len(stuffed_at):  # byte stuffing: 0xFF → 0xFF 0x00
            packed = np.insert(packed, stuffed_at + 1, 0)
        return packed.tobytes()


def _planes(pixels, subsampling: str, precision: int) -> tuple:
    """Validate the colour encoders' options; H×W×3 RGB → Y/Cb/Cr
    planes (or the one H×W gray plane), with each component's sampling
    factors and table id."""
    if subsampling not in _FACTORS:
        raise ValueError(f"unsupported subsampling {subsampling!r}")
    if precision not in (8, 12):
        raise ValueError(f"unsupported precision {precision}")
    px = np.asarray(pixels).astype(np.float64)
    if px.ndim == 2:
        return [px], [(1, 1)], [0]
    center = float(1 << (precision - 1))
    planes = _ycc(px[..., 0], px[..., 1], px[..., 2], center)
    return planes, _FACTORS[subsampling], [0, 1, 1]


def _ycc(r, g, b, center: float) -> list:
    """RGB → YCbCr (JFIF matrix), chroma centred on ``center``."""
    return [
        0.299 * r + 0.587 * g + 0.114 * b,
        -0.168736 * r - 0.331264 * g + 0.5 * b + center,
        0.5 * r - 0.418688 * g - 0.081312 * b + center,
    ]


def _front_end(planes, factors, tsel, quality: int, precision: int):
    """The encoder front end shared by every encoder: IJG-scaled Annex K
    tables (one per table id; ×16 for 12-bit, Pq=1), then per plane:
    edge-pad to the MCU-aligned grid (box-averaged when subsampled),
    level shift, vectorized FDCT, quantize, zigzag → (qts, quantized
    zigzag rows per component, geometry)."""
    h, w = planes[0].shape
    geom = _geometry(w, h, factors)
    hmax, vmax, mcux, mcuy, _grids = geom
    center = float(1 << (precision - 1))
    qts = [_quality_scale(_QT_LUMA, quality)]
    if len(planes) > 1:
        qts.append(_quality_scale(_QT_CHROMA, quality))
    if precision == 12:
        # 12-bit: samples in [0, 4095]; tables ×16 keep quantized
        # magnitudes (and the Annex K.3 Huffman ranges) as at 8-bit
        qts = [q * 16 for q in qts]
    quantized = []
    for plane, (hi, vi), t in zip(planes, factors, tsel):
        if (hi, vi) != (hmax, vmax):
            # subsample: pad to the full-res MCU grid, then box-average
            fy, fx = vmax // vi, hmax // hi
            full = _pad_to(plane, mcuy * 8 * vmax, mcux * 8 * hmax)
            ph, pw = full.shape
            plane = full.reshape(ph // fy, fy, pw // fx, fx).mean(axis=(1, 3))
        else:
            plane = _pad_to(plane, mcuy * 8 * vi, mcux * 8 * hi)
        ph, pw = plane.shape
        blocks = (
            (plane - center)
            .reshape(ph // 8, 8, pw // 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(-1, 8, 8)
        )
        coefs = np.einsum("ij,bjk,lk->bil", _D, blocks, _D)
        qz = np.round(coefs / qts[t].reshape(8, 8)).astype(np.int32)
        qz = qz.reshape(-1, 64)[:, _ZZ]
        if precision == 12 and (
            np.abs(qz[:, 1:]).max() >= 1024
            or int(qz[:, 0].max()) - int(qz[:, 0].min()) >= 2048
            or int(np.abs(qz[:, 0]).max()) >= 2048
        ):
            # the standard K.3 tables stop at AC SSSS=10 and DC
            # SSSS=11 (|diff| < 2048); the ×16 scaling keeps
            # coefficients in range up to ~q90, and the DC range check
            # covers every coding order — refuse rather than emit
            # symbols the tables can't express (r6 ADVICE)
            raise ValueError("quality too high for the 12-bit encoder")
        quantized.append(qz)
    return qts, quantized, geom


def _pad_to(plane: np.ndarray, th: int, tw: int) -> np.ndarray:
    h, w = plane.shape
    if h == th and w == tw:
        return plane
    return np.pad(plane, ((0, th - h), (0, tw - w)), mode="edge")


def _seg(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload


def _dht(n_tables: int) -> bytes:
    """DHT segments for the Annex K.3 tables: luminance only (1) or
    luminance and chrominance (2)."""
    return b"".join(
        _seg(0xC4, bytes([tc_th]) + bytes(bits) + bytes(vals))
        for tc_th, bits, vals in _DHT_SPECS[: 2 * n_tables]
    )


def _header(app: bytes, qts, precision: int, sof: int, h: int, w: int,
            comps) -> bytearray:
    """SOI + ``app`` segments + DQT (Pq=1 16-bit entries at 12-bit) +
    SOFn + one K.3 DHT pair per quantization table. ``comps`` lists each
    frame component's (h, v, table id); component ids are 1..n."""
    out = bytearray(b"\xff\xd8") + app
    for ti, qt in enumerate(qts):
        if precision == 12:
            out += _seg(
                0xDB, bytes([0x10 | ti]) + qt[_ZZ].astype(">u2").tobytes()
            )
        else:
            out += _seg(0xDB, bytes([ti]) + bytes(qt[_ZZ].astype(np.uint8)))
    frame = (
        bytes([precision])
        + h.to_bytes(2, "big")
        + w.to_bytes(2, "big")
        + bytes([len(comps)])
    )
    for ci, (hi, vi, t) in enumerate(comps):
        frame += bytes([ci + 1, (hi << 4) | vi, t])
    out += _seg(sof, frame)
    return out + _dht(len(qts))


def _sos(comps, ss: int = 0, se: int = 63, ahal: int = 0) -> bytes:
    """SOS segment; ``comps`` lists the scan's (component index, table
    id) pairs (DC and AC table share the id)."""
    body = bytes([len(comps)])
    for ci, t in comps:
        body += bytes([ci + 1, (t << 4) | t])
    return _seg(0xDA, body + bytes([ss, se, ahal]))


def _encode_block(bw, coefs, dc_codes, ac_codes, prev_dc):
    """Huffman-encode one quantized zigzag block; returns its DC.

    Hot path: one tolist() up front (numpy scalar indexing is ~10× a
    list index), bound-method locals, and symbol tables as plain lists
    — measured 2-3× over the naive form; the bitstream itself is
    packed vectorized afterwards (_SymbolSink)."""
    co = coefs.tolist()
    codes_append = bw.codes.append
    lens_append = bw.lens.append
    dc = co[0]
    diff = dc - prev_dc
    if diff == 0:
        s, bits = 0, 0
    else:
        a = diff if diff > 0 else -diff
        s = a.bit_length()
        bits = diff if diff > 0 else diff + (1 << s) - 1
    code, length = dc_codes[s]
    codes_append(code)
    lens_append(length)
    if s:
        codes_append(bits)
        lens_append(s)
    last_nz = 63
    while last_nz > 0 and co[last_nz] == 0:
        last_nz -= 1
    run = 0
    zrl = ac_codes[0xF0]
    for k in range(1, last_nz + 1):
        v = co[k]
        if v == 0:
            run += 1
            continue
        while run >= 16:
            codes_append(zrl[0])
            lens_append(zrl[1])
            run -= 16
        a = v if v > 0 else -v
        s = a.bit_length()
        bits = v if v > 0 else v + (1 << s) - 1
        code, length = ac_codes[(run << 4) | s]
        codes_append(code)
        lens_append(length)
        codes_append(bits)
        lens_append(s)
        run = 0
    if last_nz < 63:
        code, length = ac_codes[0x00]  # EOB
        codes_append(code)
        lens_append(length)
    return dc


def _encode_scan_vec(mcus, quantized, tables) -> _SymbolSink:
    """Vectorized symbol generation for ONE sequential scan without
    restarts — bit-identical to the per-block _encode_block walk
    (pinned by test_jpeg's A/B), but every token class (DC symbol/bits,
    ZRL, AC symbol/bits, EOB) is computed as numpy arrays over ALL
    blocks and ordered by a (data-unit sequence, intra-block) sort key.
    The per-coefficient Python loop was ~65%% of synth_image's cost at
    crawl bench scale (~3000 images/epoch under 32-way contention)."""
    units = np.array(
        [u for mcu in mcus for u in mcu], dtype=np.int64
    ).reshape(-1, 2)
    all_codes = []
    all_lens = []
    all_keys = []
    # intra-block key layout: pos*8 + subrank, pos 0 = DC, 1..63 AC,
    # 64 = EOB; subranks: ZRL k -> k (run//16 <= 3), symbol 5, bits 6
    KEYMAX = 65 * 8

    def bitlen(a):
        return np.ceil(np.log2(a.astype(np.float64) + 1.0)).astype(np.int64)

    for k, qzk in enumerate(quantized):
        t = tables[k]
        dc_code, dc_len = _DC_ARRAYS[t]
        ac_code, ac_len = _AC_ARRAYS[t]
        g_block = np.flatnonzero(units[:, 0] == k)  # data-unit sequence
        qz = qzk[units[g_block, 1]].astype(np.int64)
        # ---- DC tokens ----
        d = np.diff(qz[:, 0], prepend=0)
        s = np.where(d == 0, 0, bitlen(np.abs(d)))
        bits = np.where(d > 0, d, d + (1 << s) - 1)
        all_codes.append(dc_code[s])
        all_lens.append(dc_len[s])
        all_keys.append(g_block * KEYMAX + 0)
        all_codes.append(bits)
        all_lens.append(s)  # s==0 rows filtered at assembly
        all_keys.append(g_block * KEYMAX + 1)
        # ---- AC tokens ----
        Z = qz[:, 1:]
        mask = Z != 0
        idx = np.flatnonzero(mask)
        if len(idx):
            blk = idx // 63
            pos = idx % 63  # 0-based AC position
            v = Z.reshape(-1)[idx]
            first = np.ones(len(idx), dtype=bool)
            first[1:] = blk[1:] != blk[:-1]
            prevpos = np.empty(len(idx), dtype=np.int64)
            prevpos[0] = -1
            prevpos[1:] = pos[:-1]
            prevpos[first] = -1
            run = pos - prevpos - 1
            nzrl = run >> 4
            rem = run & 15
            sv = bitlen(np.abs(v))
            sym = (rem << 4) | sv
            vbits = np.where(v > 0, v, v + (1 << sv) - 1)
            gb = g_block[blk]
            # ZRL expansion with per-nonzero subranks 0..nzrl-1
            tot = int(nzrl.sum())
            if tot:
                zrl_gb = np.repeat(gb, nzrl)
                zrl_pos = np.repeat(pos, nzrl)
                csum = np.cumsum(nzrl) - nzrl
                sub = np.arange(tot) - np.repeat(csum, nzrl)
                all_codes.append(np.full(tot, ac_code[0xF0], dtype=np.int64))
                all_lens.append(np.full(tot, ac_len[0xF0], dtype=np.int64))
                all_keys.append(zrl_gb * KEYMAX + (zrl_pos + 1) * 8 + sub)
            all_codes.append(ac_code[sym])
            all_lens.append(ac_len[sym])
            all_keys.append(gb * KEYMAX + (pos + 1) * 8 + 5)
            all_codes.append(vbits)
            all_lens.append(sv)
            all_keys.append(gb * KEYMAX + (pos + 1) * 8 + 6)
        # ---- EOB where the last AC (pos 62) is zero ----
        eob_gb = g_block[np.flatnonzero(~mask[:, 62])]
        if len(eob_gb):
            all_codes.append(np.full(len(eob_gb), ac_code[0], dtype=np.int64))
            all_lens.append(np.full(len(eob_gb), ac_len[0], dtype=np.int64))
            all_keys.append(eob_gb * KEYMAX + 64 * 8)
    codes = np.concatenate(all_codes)
    lens = np.concatenate(all_lens)
    keys = np.concatenate(all_keys)
    nz = lens > 0
    order = np.argsort(keys[nz], kind="stable")
    bw = _SymbolSink()
    bw.codes = codes[nz][order].tolist()
    bw.lens = lens[nz][order].tolist()
    return bw


def _encode_scan(mcus, quantized, tables, restart_interval: int) -> bytes:
    """Entropy-code one sequential scan: ``mcus`` is its data-unit
    order (_mcu_walk, or one unit per MCU from _raster), unit (k, block)
    indexing ``quantized[k]`` coded with table id ``tables[k]``. Without
    restarts the symbols come from _encode_scan_vec; with them, the
    block walk emits an RSTn (byte-aligned, DC predictors reset — T.81
    F.1.2.2.4) before every ``restart_interval``-th MCU."""
    if not restart_interval:
        return _encode_scan_vec(mcus, quantized, tables).pack()
    pieces = []
    bw = _SymbolSink()
    prev = [0] * len(quantized)
    for m, units in enumerate(mcus):
        if m and m % restart_interval == 0:
            pieces.append(bw.pack())
            pieces.append(bytes([0xFF, 0xD0 + (m // restart_interval - 1) % 8]))
            bw = _SymbolSink()
            prev = [0] * len(quantized)
        for k, blk in units:
            t = tables[k]
            prev[k] = _encode_block(
                bw, quantized[k][blk], _DC_CODES[t], _AC_CODES[t], prev[k]
            )
    pieces.append(bw.pack())
    return b"".join(pieces)


def encode_jpeg(
    pixels: np.ndarray,
    quality: int = 90,
    subsampling: str = "444",
    restart_interval: int = 0,
    multi_scan: bool = False,
    precision: int = 8,
) -> bytes:
    """H×W×3 uint8 RGB (or H×W grayscale) → baseline JFIF bytes.

    ``subsampling``: '444' (default — no chroma subsampling, best
    PSNR), '420' (2×2-averaged chroma, the dominant real-world
    layout: MCU = 4 Y blocks + Cb + Cr), or '422' (horizontal-only
    2×1 averaging).

    ``restart_interval``: emit a DRI segment and an RSTn marker every
    N MCUs (byte-aligned restart points with DC-predictor reset —
    T.81 F.1.2.2.4). 0 = no restarts.

    ``multi_scan``: emit one NON-INTERLEAVED scan per component
    (T.81 B.2.1 — the legal sequential layout decoders routinely get
    wrong); each scan walks the component's own un-padded block grid
    (A.2.2; one data unit == one MCU for restart purposes). Same
    quantized coefficients ⇒ same decoded pixels as the interleaved
    form.

    ``precision=12`` writes SOF1 extended sequential with Pq=1 tables
    (samples in [0, 4095])."""
    planes, factors, tsel = _planes(pixels, subsampling, precision)
    qts, quantized, (_, _, mcux, mcuy, grids) = _front_end(
        planes, factors, tsel, quality, precision
    )
    h, w = planes[0].shape
    # 12-bit must not claim baseline: SOF1 extended sequential
    out = _header(
        _seg(0xE0, _JFIF), qts, precision, 0xC0 if precision == 8 else 0xC1,
        h, w, [(hi, vi, t) for (hi, vi), t in zip(factors, tsel)],
    )
    if restart_interval:
        out += _seg(0xDD, restart_interval.to_bytes(2, "big"))
    if multi_scan:
        for ci, t in enumerate(tsel):
            mcus = [[(0, blk)] for blk in _raster(grids[ci])]
            out += _sos([(ci, t)])
            out += _encode_scan(mcus, [quantized[ci]], [t], restart_interval)
    else:
        out += _sos(list(enumerate(tsel)))
        out += _encode_scan(
            _mcu_walk(factors, mcux, mcuy), quantized, tsel, restart_interval
        )
    return bytes(out + b"\xff\xd9")


def encode_jpeg_cmyk(
    cmyk: np.ndarray,
    quality: int = 90,
    transform: int = 2,
    adobe: bool = True,
) -> bytes:
    """H×W×4 uint8 CMYK (actual ink coverage, 0 = no ink) → 4-component
    JPEG bytes — the Photoshop-export class (VERDICT r5 #5).

    ``transform=2`` writes YCCK (inverted CMY run through the RGB→YCbCr
    matrix, K passthrough — libjpeg jccolor.c cmyk_ycck_convert);
    ``transform=0`` writes the four ink planes directly. With
    ``adobe=True`` (the real-web layout) samples are stored INVERTED
    and an Adobe APP14 tag carries the transform; ``adobe=False`` (only
    with transform 0) writes plain non-inverted CMYK with no APP14 —
    the rarer bare-CMYK layout. 4:4:4, single interleaved scan."""
    if transform not in (0, 2):
        raise ValueError("transform must be 0 (CMYK) or 2 (YCCK)")
    if not adobe and transform != 0:
        raise ValueError("YCCK requires the Adobe APP14 tag")
    cmyk = np.asarray(cmyk)
    if cmyk.ndim != 3 or cmyk.shape[2] != 4:
        raise ValueError("expected H×W×4 CMYK")
    px = cmyk.astype(np.float64)
    stored = (255.0 - px) if adobe else px
    if transform == 2:
        # encoder feeds 255−stored (= actual ink) into the YCbCr matrix
        planes = _ycc(*(255.0 - stored[..., i] for i in range(3)), 128.0)
        planes.append(stored[..., 3])
        tsel = [0, 1, 1, 0]  # Y and K on luma tables, Cb/Cr on chroma
    else:
        planes = [stored[..., i] for i in range(4)]
        tsel = [0, 0, 0, 0]
    factors = [(1, 1)] * 4
    qts, quantized, (_, _, mcux, mcuy, _) = _front_end(
        planes, factors, tsel, quality, 8
    )
    h, w = planes[0].shape
    app = b"Adobe" + bytes([0, 100, 0, 0, 0, 0, transform])
    out = _header(
        _seg(0xEE, app) if adobe else b"", qts, 8, 0xC0, h, w,
        [(1, 1, t) for t in tsel],
    )
    out += _sos(list(enumerate(tsel)))
    out += _encode_scan(_mcu_walk(factors, mcux, mcuy), quantized, tsel, 0)
    return bytes(out + b"\xff\xd9")


def cmyk_to_rgb(cmyk: np.ndarray) -> np.ndarray:
    """Reference composite for tests: actual-ink CMYK → RGB,
    R = (255−C)(255−K)/255 (the standard uncalibrated composite)."""
    px = np.asarray(cmyk, dtype=np.float64)
    k = 255.0 - px[..., 3]
    rgb = np.stack(
        [(255.0 - px[..., i]) * k for i in range(3)], axis=-1
    ) / 255.0
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB between two uint8 images."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    mse = np.mean((a - b) ** 2)
    if mse == 0:
        return float("inf")
    return float(10.0 * np.log10(255.0 * 255.0 / mse))


# ---- progressive encoder (SOF2): spectral selection + successive approx ----
#
# DC scan first, then per-component AC band scans (T.81 G.1: spectral
# selection); with successive=True all first passes run at Al=1
# followed by Ah=1→Al=0 DC/AC refinement scans (G.1.2.2/G.1.2.3).
# EOB is emitted per block (EOBRUN r=0) so the standard baseline
# Huffman tables suffice; the DECODER handles general EOBRUN (r up to
# 14) and arbitrary conforming Ah/Al chains for files from other
# encoders. Interleaved DC scans walk the MCU grid (A.2.3), AC scans
# the component's own un-padded block grid (A.2.2).

_AC_BANDS = ((1, 5), (6, 63))


def encode_jpeg_progressive(
    pixels: np.ndarray,
    quality: int = 90,
    successive: bool = False,
    subsampling: str = "444",
    precision: int = 8,
) -> bytes:
    """H×W×3 RGB (or grayscale) → progressive (SOF2) JFIF bytes,
    spectral selection: one interleaved DC scan, then per-component AC
    band scans. ``successive=True`` adds successive approximation
    (T.81 G.1.2.2/G.1.2.3): every first pass sends coefficients at
    Al=1 precision, followed by Ah=1→Al=0 refinement scans carrying
    the final magnitude bit — the dominant real-web progressive
    layout. ``subsampling`` accepts '444'/'422'/'420' like the
    baseline encoder: the interleaved DC scans walk the MCU grid
    (hi×vi blocks per component) and the non-interleaved AC scans walk
    each component's OWN un-padded block grid (T.81 A.2.2). The same
    front end as the baseline encoder ⇒ identical quantized
    coefficients and decoded pixels for every layout."""
    planes, factors, tsel = _planes(pixels, subsampling, precision)
    qts, quantized, (_, _, mcux, mcuy, grids) = _front_end(
        planes, factors, tsel, quality, precision
    )
    h, w = planes[0].shape
    out = _header(
        _seg(0xE0, _JFIF), qts, precision, 0xC2, h, w,
        [(hi, vi, t) for (hi, vi), t in zip(factors, tsel)],
    )
    ncomp = len(planes)
    # one list conversion per component, shared by every scan
    rows = [qz.tolist() for qz in quantized]
    al0 = 1 if successive else 0  # first-pass point transform
    walk = [u for mcu in _mcu_walk(factors, mcux, mcuy) for u in mcu]
    rasters = [list(_raster(g)) for g in grids]
    all_comps = list(enumerate(tsel))

    # scan 1: interleaved DC first pass (Ss=Se=0, Ah=0, Al=al0) —
    # DPCM runs in the >>Al domain (arithmetic shift, G.1.2.1)
    bw = _SymbolSink()
    prev = [0] * ncomp
    for ci, blk in walk:
        dc = rows[ci][blk][0] >> al0
        diff = dc - prev[ci]
        prev[ci] = dc
        if diff == 0:
            s, vbits = 0, 0
        else:
            a = diff if diff > 0 else -diff
            s = a.bit_length()
            vbits = diff if diff > 0 else diff + (1 << s) - 1
        code, length = _DC_CODES[tsel[ci]][s]
        bw.write(code, length)
        bw.write(vbits, s)
    out += _sos(all_comps, 0, 0, al0)
    out += bw.pack()

    # AC band first passes: non-interleaved, one component per scan,
    # values sent at Al=al0 precision (sign·(|v|>>Al), G.1.2.2)
    for ci, t in all_comps:
        ac_codes = _AC_CODES[t]
        for ss, se in _AC_BANDS:
            bw = _SymbolSink()
            comp_rows = rows[ci]
            for blk in rasters[ci]:
                co = comp_rows[blk]
                if al0:
                    band = [
                        (v >> al0) if v >= 0 else -((-v) >> al0)
                        for v in co[ss : se + 1]
                    ]
                else:
                    band = co[ss : se + 1]
                last_nz = se - ss
                while last_nz >= 0 and band[last_nz] == 0:
                    last_nz -= 1
                run = 0
                for k in range(last_nz + 1):
                    v = band[k]
                    if v == 0:
                        run += 1
                        continue
                    while run >= 16:
                        bw.write(*ac_codes[0xF0])
                        run -= 16
                    a = v if v > 0 else -v
                    s = a.bit_length()
                    vbits = v if v > 0 else v + (1 << s) - 1
                    bw.write(*ac_codes[(run << 4) | s])
                    bw.write(vbits, s)
                    run = 0
                if last_nz < se - ss:
                    bw.write(*ac_codes[0x00])  # EOB (EOBRUN=1)
            out += _sos([(ci, t)], ss, se, al0)
            out += bw.pack()

    if successive:
        # DC refinement (Ah=1, Al=0): one raw magnitude bit per block,
        # interleaved MCU order — no Huffman coding (G.1.2.1)
        bw = _SymbolSink()
        for ci, blk in walk:
            bw.write(rows[ci][blk][0] & 1, 1)
        out += _sos(all_comps, 0, 0, 1 << 4)
        out += bw.pack()

        # AC refinement scans (Ah=1, Al=0): the run/correction-bit
        # procedure of G.1.2.3 (per-block EOB so the baseline Huffman
        # tables suffice, matching the first-pass encoder's contract)
        for ci, t in all_comps:
            ac_codes = _AC_CODES[t]
            for ss, se in _AC_BANDS:
                bw = _SymbolSink()
                comp_rows = rows[ci]
                for blk in rasters[ci]:
                    co = comp_rows[blk]
                    # eobpos: last newly-nonzero position (|v| == 1 —
                    # invisible at Al=1, appears in this pass)
                    eobpos = ss - 1
                    for k in range(ss, se + 1):
                        v = co[k]
                        if v == 1 or v == -1:
                            eobpos = k
                    run = 0
                    corr: list[int] = []  # buffered correction bits
                    for k in range(ss, se + 1):
                        v = co[k]
                        a = v if v >= 0 else -v
                        if a == 0:
                            run += 1
                            continue
                        while run > 15 and k <= eobpos:
                            bw.write(*ac_codes[0xF0])  # ZRL
                            run -= 16
                            for bit in corr:
                                bw.write(bit, 1)
                            corr = []
                        if a > 1:  # nonzero-history: correction bit
                            corr.append(a & 1)
                            continue
                        # newly nonzero (|v| == 1)
                        bw.write(*ac_codes[(run << 4) | 1])
                        bw.write(1 if v > 0 else 0, 1)
                        for bit in corr:
                            bw.write(bit, 1)
                        corr = []
                        run = 0
                    if run > 0 or corr:
                        bw.write(*ac_codes[0x00])  # EOB (run=1)
                        for bit in corr:
                            bw.write(bit, 1)
                out += _sos([(ci, t)], ss, se, 1 << 4)
                out += bw.pack()

    return bytes(out + b"\xff\xd9")


# ---- decoder ----------------------------------------------------------------

_LUT_CACHE: dict = {}


def _huff_lut(bits, vals):
    """(bits, huffval) → 2^16 prefix lookup (symbol, code length) —
    one array index per Huffman symbol instead of bit-by-bit walking
    (the decoder's hot spot: measured ~19 ms per 48×48 image). Cached
    by table content: every standard-table file shares one build."""
    key = (tuple(bits), tuple(vals))
    hit = _LUT_CACHE.get(key)
    if hit is not None:
        return hit
    sym_lut = np.zeros(1 << 16, dtype=np.int16)
    len_lut = np.zeros(1 << 16, dtype=np.uint8)
    for sym, (code, length) in _canonical_codes(list(bits), list(vals)).items():
        start = code << (16 - length)
        span = 1 << (16 - length)
        sym_lut[start : start + span] = sym
        len_lut[start : start + span] = length
    # plain lists: indexing a Python list with a Python int in the MCU
    # loop beats numpy scalar extraction ~10×; built once, cached
    out = (sym_lut.tolist(), len_lut.tolist())
    _LUT_CACHE[key] = out
    return out


def _ycc_to_rgb(y, cb, cr):
    cb = cb - 128.0
    cr = cr - 128.0
    return (
        y + 1.402 * cr,
        y - 0.344136 * cb - 0.714136 * cr,
        y + 1.772 * cb,
    )


def _color_convert(planes: list, adobe_transform: int | None) -> np.ndarray:
    """Decoded sample planes (already +128 level-shifted) → H×W×3
    uint8 RGB.

    3 components: YCbCr (default / Adobe transform 1), or direct RGB
    when an Adobe APP14 declares transform 0.

    4 components (Adobe APP14 CMYK/YCCK — the dominant Photoshop
    export class, VERDICT r5 #5): Adobe files store INVERTED ink
    values; the codec mirrors libjpeg's symmetric convention
    (jccolor.c cmyk_ycck_convert / jdcolor.c ycck_cmyk_convert use
    MAXJSAMPLE−x on both sides), under which the RGB composite of an
    Adobe file collapses to R = C_s·K_s/255 on the STORED samples.
    YCCK (transform 2) first maps YCC back through the YCbCr matrix.
    Four-component files WITHOUT an Adobe marker are read as plain
    non-inverted CMYK: R = (255−C)(255−K)/255."""
    if len(planes) == 1:
        y = np.clip(planes[0], 0, 255)
        return np.repeat(y[..., None], 3, axis=2).astype(np.uint8)
    if len(planes) == 3:
        if adobe_transform == 0:  # Adobe transform 0 on 3 comps: RGB
            rgb = np.stack(planes, axis=-1)
            return np.clip(np.round(rgb), 0, 255).astype(np.uint8)
        rgb = np.stack(_ycc_to_rgb(*planes), axis=-1)
        return np.clip(np.round(rgb), 0, 255).astype(np.uint8)
    if len(planes) != 4:
        raise NotImplementedError(f"{len(planes)}-component color space")
    if adobe_transform == 2:  # YCCK → stored (inverted) CMY
        r, g, b = _ycc_to_rgb(planes[0], planes[1], planes[2])
        cs = 255.0 - np.clip(r, 0, 255)
        ms = 255.0 - np.clip(g, 0, 255)
        ys = 255.0 - np.clip(b, 0, 255)
    else:
        cs, ms, ys = (np.clip(p, 0, 255) for p in planes[:3])
    ks = np.clip(planes[3], 0, 255)
    if adobe_transform is None:  # no Adobe marker: plain CMYK
        cs, ms, ys, ks = (255.0 - x for x in (cs, ms, ys, ks))
    rgb = np.stack([cs * ks, ms * ks, ys * ks], axis=-1) / 255.0
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def decode_jpeg(data: bytes) -> np.ndarray:
    """JFIF/JPEG bytes (baseline, extended sequential, progressive) →
    H×W×3 uint8 RGB (grayscale replicated; Adobe APP14 CMYK/YCCK
    composited — see :func:`_color_convert`). Raises ValueError for
    damaged files (including a declared size above 64M pixels) and
    NotImplementedError for unsupported profiles."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    qt: dict[int, np.ndarray] = {}
    dc_tabs: dict[int, tuple] = {}
    ac_tabs: dict[int, tuple] = {}
    frame = None
    dri = 0
    progressive = False
    prog_scans: list = []
    seq_scans: list = []
    adobe_transform = None
    i = 2
    while i < len(data) - 1:
        if data[i] != 0xFF:
            raise ValueError(f"expected marker at {i}")
        marker = data[i + 1]
        i += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01, *range(0xD0, 0xD8)):  # TEM/RSTn: no payload
            continue
        ln = int.from_bytes(data[i : i + 2], "big")
        if ln < 2:
            raise ValueError("bad segment length")
        seg = data[i + 2 : i + ln]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                if pq > 1:
                    raise ValueError("bad DQT precision")
                width = 65 if pq == 0 else 129
                if p + width > len(seg):
                    raise ValueError("truncated DQT")
                if pq == 0:
                    tab = np.frombuffer(seg[p + 1 : p + 65], dtype=np.uint8)
                else:  # Pq=1: 16-bit entries (12-bit-sample files)
                    tab = np.frombuffer(seg[p + 1 : p + 129], dtype=">u2")
                qt[tq] = tab.astype(np.int32)[_UNZZ].reshape(8, 8)
                p += width
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                if p + 17 > len(seg):
                    raise ValueError("truncated DHT")
                tc, th = seg[p] >> 4, seg[p] & 0x0F
                bits = list(seg[p + 1 : p + 17])
                nv = sum(bits)
                vals = list(seg[p + 17 : p + 17 + nv])
                if len(vals) < nv:
                    raise ValueError("truncated DHT")
                (dc_tabs if tc == 0 else ac_tabs)[th] = _huff_lut(bits, vals)
                p += 17 + nv
        elif marker in (0xC0, 0xC1, 0xC2):
            # SOF0 baseline / SOF1 extended sequential / SOF2
            # progressive — SOF1 decodes exactly like SOF0 (it only
            # relaxes table counts and allows 12-bit samples, T.81
            # table B.2)
            progressive = marker == 0xC2
            if len(seg) < 6:
                raise ValueError("truncated SOF")
            prec = seg[0]
            if prec not in (8, 12):
                raise NotImplementedError(f"{prec}-bit precision")
            if prec == 12 and marker == 0xC0:
                raise ValueError("baseline SOF0 must be 8-bit")
            fh = int.from_bytes(seg[1:3], "big")
            fw = int.from_bytes(seg[3:5], "big")
            nc = seg[5]
            if fh == 0 or fw == 0 or nc == 0 or len(seg) < 6 + 3 * nc:
                raise ValueError("bad SOF geometry")
            if fh * fw > _MAX_PIXELS:
                raise ValueError(f"declared size {fw}x{fh} out of bounds")
            comps = []
            for c in range(nc):
                cid, samp, tq = seg[6 + 3 * c : 9 + 3 * c]
                hi, vi = samp >> 4, samp & 0x0F
                # factors 1 or 2 only, so every hmax/hi ratio is whole
                if hi not in (1, 2) or vi not in (1, 2):
                    raise NotImplementedError(
                        f"sampling factors {hi}x{vi} (beyond 4:2:0)"
                    )
                comps.append((cid, tq, hi, vi))
            frame = (fh, fw, comps, prec)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(f"non-baseline frame SOF{marker - 0xC0}")
        elif marker == 0xDD:  # DRI
            dri = int.from_bytes(seg[0:2], "big")
        elif marker == 0xEE:  # APP14 (Adobe color-transform tag)
            if seg[:5] == b"Adobe" and len(seg) >= 12:
                adobe_transform = seg[11]
        elif marker == 0xDA:  # SOS
            if len(seg) < 1 or len(seg) < 1 + 2 * seg[0] + 3:
                raise ValueError("truncated SOS")
            ns = seg[0]
            if not 1 <= ns <= 4:  # B.2.3: 1 <= Ns <= 4
                raise ValueError("bad scan component count")
            scan = []
            for c in range(ns):
                cid, tt = seg[1 + 2 * c : 3 + 2 * c]
                scan.append((cid, tt >> 4, tt & 0x0F))
            ss_, se_, ahal = seg[1 + 2 * ns : 4 + 2 * ns]
            # entropy-coded data: everything up to the next real marker.
            # Vectorized: locate 0xFF bytes with numpy, classify their
            # successors, then un-stuff with bytes.replace — the
            # per-byte Python scan here was ~40% of decode time
            j = i + ln
            arr = np.frombuffer(data, dtype=np.uint8, offset=j)
            ff = np.flatnonzero(arr[:-1] == 0xFF)
            nxt = arr[ff + 1]
            is_rst = (nxt >= 0xD0) & (nxt <= 0xD7)
            enders = ff[(nxt != 0x00) & ~is_rst]
            end_rel = int(enders[0]) if len(enders) else len(arr)
            rst_at = [int(r) for r in ff[is_rst] if r < end_rel]
            segs, off = [], 0
            for r in rst_at:  # split at RSTn (marker bytes dropped)
                segs.append(data[j + off : j + r])
                off = r + 2
            segs.append(data[j + off : j + end_rel])
            entropy = [sg.replace(b"\xff\x00", b"\xff") for sg in segs]
            i = j + end_rel
            if progressive:
                if dri:
                    raise NotImplementedError("progressive with restarts")
                prog_scans.append(
                    ((scan, ss_, se_, ahal >> 4, ahal & 0x0F), entropy[0])
                )
            else:
                # a legal sequential file MAY split its components
                # over several scans (T.81 B.2.1) — accumulate
                seq_scans.append((scan, entropy, dri))
            continue
        i += ln
    if frame is None or not (prog_scans if progressive else seq_scans):
        raise ValueError("missing SOF/SOS/entropy data")
    # the first scan to cover a data unit spends at least one Huffman
    # bit on it, so the entropy bytes bound the units the scans can
    # fill — checked before any coefficient store is sized from the SOF
    (*_, grids), _ = _frame_geom(frame)
    units = sum(cwb * chb for _, _, cwb, chb in grids)
    if progressive:
        n_bytes = sum(len(ent) for _, ent in prog_scans)
    else:
        n_bytes = sum(len(e) for _, ents, _ in seq_scans for e in ents)
    if units > 8 * n_bytes:
        raise ValueError(
            f"{units} data units but only {n_bytes} entropy-coded bytes"
        )
    if progressive:
        coefs = _decode_progressive(frame, prog_scans, dc_tabs, ac_tabs)
    else:
        coefs = _decode_sequential(frame, seq_scans, qt, dc_tabs, ac_tabs)
    return _reconstruct(frame, coefs, qt, adobe_transform)


def _frame_geom(frame) -> tuple:
    """Frame → :func:`_geometry` of its components, plus a component id
    → frame index map."""
    fh, fw, comps = frame[:3]
    index = {cid: k for k, (cid, *_rest) in enumerate(comps)}
    return _geometry(fw, fh, [(hi, vi) for _, _, hi, vi in comps]), index


def _caps(prec: int) -> tuple[int, int]:
    """T.81 F.1.2.1.1 / F.1.2.2.1 magnitude-category caps (DC, AC) for
    the frame's sample precision."""
    return (11, 10) if prec == 8 else (15, 14)


def _decode_sequential(frame, scans, qt, dc_luts, ac_luts) -> list:
    """Entropy-decode every scan of a sequential (SOF0/SOF1) file →
    zigzag coefficients per frame component, (blocks, 64) int32 over
    its MCU-padded grid. One scan may carry every component or only a
    subset (T.81 B.2.1): an interleaved scan walks the MCU grid
    (A.2.3), a single-component scan its component's un-padded grid,
    one data unit per MCU (A.2.2). DRI restarts reset the scan's DC
    predictors every ``dri`` MCUs.

    The bit reader is hand-inlined local state: ONE refill per
    coefficient covers the Huffman code (≤16 bits) plus its value bits
    — measured ~4× over per-call reader methods on the same stream —
    and the coefficients are filled into flat Python lists by index
    (per-element numpy writes are ~10× slower)."""
    comps, prec = frame[2], frame[3]
    (_, _, mcux, mcuy, grids), index = _frame_geom(frame)
    coefs = [[0] * (pwb * phb * 64) for pwb, phb, _, _ in grids]
    covered = set()
    dc_cap, ac_cap = _caps(prec)
    # refill floors: Huffman code (≤16 bits) + value bits (≤ the cap)
    need_dc, need_ac = 16 + dc_cap, 16 + ac_cap
    for scan, entropy, dri in scans:
        tabs = []
        for cid, td, ta in scan:
            if cid not in index:
                raise ValueError("scan references unknown component")
            if td not in dc_luts or ta not in ac_luts:
                raise ValueError("scan references missing huffman table")
            k = index[cid]
            if comps[k][1] not in qt:
                raise ValueError("component references missing quant table")
            covered.add(k)
            tabs.append((coefs[k], *dc_luts[td], *ac_luts[ta]))
        if len(scan) > 1:
            factors = [comps[index[cid]][2:] for cid, _, _ in scan]
            mcus = _mcu_walk(factors, mcux, mcuy)
            n_mcu = mcux * mcuy
        else:
            grid = grids[index[scan[0][0]]]
            mcus = ([(0, blk)] for blk in _raster(grid))
            n_mcu = grid[2] * grid[3]
        expected_segs = -(-n_mcu // dri) if dri else 1
        if len(entropy) != expected_segs:
            raise ValueError(
                f"restart segment count {len(entropy)} != expected "
                f"{expected_segs} (DRI={dri})"
            )
        seg_i = 0
        ent = entropy[0]
        limit = len(ent)
        pos = acc = n = pad = 0
        prev = [0] * len(scan)
        for m, units in enumerate(mcus):
            if dri and m and m % dri == 0:
                # restart: byte-aligned next segment, DC predictors reset
                seg_i += 1
                ent = entropy[seg_i]
                limit = len(ent)
                pos = acc = n = pad = 0
                prev = [0] * len(scan)
            for k, blk in units:
                out, dsym, dlen, asym, alen = tabs[k]
                base = blk * 64
                while n < need_dc:
                    if pos < limit:
                        acc = (acc << 8) | ent[pos]
                        pos += 1
                    else:
                        pad += 1
                        if pad > 6:
                            raise ValueError("truncated entropy data")
                        acc = (acc << 8) | 0xFF
                    n += 8
                idx = (acc >> (n - 16)) & 0xFFFF
                hl = dlen[idx]
                if hl == 0:
                    raise ValueError("invalid huffman code")
                s = dsym[idx]
                if s > dc_cap:
                    raise ValueError("bad DC size")
                if s:
                    v = (acc >> (n - hl - s)) & ((1 << s) - 1)
                    diff = v if v >= (1 << (s - 1)) else v - (1 << s) + 1
                else:
                    diff = 0
                n -= hl + s
                acc &= (1 << n) - 1
                dc = prev[k] + diff
                if not -(1 << 30) < dc < (1 << 30):
                    raise ValueError("DC accumulator overflow")
                prev[k] = out[base] = dc
                kk = 1
                while kk < 64:
                    while n < need_ac:
                        if pos < limit:
                            acc = (acc << 8) | ent[pos]
                            pos += 1
                        else:
                            pad += 1
                            if pad > 6:
                                raise ValueError("truncated entropy data")
                            acc = (acc << 8) | 0xFF
                        n += 8
                    idx = (acc >> (n - 16)) & 0xFFFF
                    hl = alen[idx]
                    if hl == 0:
                        raise ValueError("invalid huffman code")
                    rs = asym[idx]
                    if rs == 0x00:  # EOB
                        n -= hl
                        acc &= (1 << n) - 1
                        break
                    size = rs & 0x0F
                    if size == 0:
                        if rs != 0xF0:
                            raise ValueError("bad AC symbol")
                        n -= hl
                        acc &= (1 << n) - 1
                        kk += 16  # ZRL
                        continue
                    if size > ac_cap:
                        raise ValueError("bad AC size")
                    kk += rs >> 4
                    if kk > 63:
                        raise ValueError("AC index overflow")
                    v = (acc >> (n - hl - size)) & ((1 << size) - 1)
                    out[base + kk] = (
                        v if v >= (1 << (size - 1)) else v - (1 << size) + 1
                    )
                    n -= hl + size
                    acc &= (1 << n) - 1
                    kk += 1
    if len(covered) != len(comps):
        raise ValueError("scans do not cover every frame component")
    return [np.asarray(c, dtype=np.int32).reshape(-1, 64) for c in coefs]


def _reconstruct(frame, coefs, qt, adobe_transform=None) -> np.ndarray:
    """Shared decoder tail: dequant + IDCT per component over its padded
    block grid, nearest-neighbor chroma upsample, crop, color-convert."""
    fh, fw, comps, prec = frame
    (hmax, vmax, _, _, grids), _ = _frame_geom(frame)
    planes = []
    for (_cid, tq, hi, vi), (pwb, phb, _, _), zz in zip(comps, grids, coefs):
        if tq not in qt:
            raise ValueError("component references missing quant table")
        q = qt[tq].astype(np.float64)
        zz = zz[:, _UNZZ].reshape(-1, 8, 8).astype(np.float64)
        blocks = np.einsum("ji,bjk,kl->bil", _D, zz * q, _D)  # D.T @ B @ D
        plane = (
            blocks.reshape(phb, pwb, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(phb * 8, pwb * 8)
        )
        fy, fx = vmax // vi, hmax // hi
        if fy > 1 or fx > 1:  # nearest-neighbor chroma upsample
            plane = np.repeat(np.repeat(plane, fy, axis=0), fx, axis=1)
        plane = plane[:fh, :fw] + float(1 << (prec - 1))
        if prec == 12:
            # the engine's pixel contract is 8-bit RGB: 12-bit samples
            # map linearly onto [0,255] (documented downscale)
            plane *= 255.0 / 4095.0
        planes.append(plane)
    return _color_convert(planes, adobe_transform)


class _ScanReader:
    """Compact bit reader for progressive scans (the sequential loop
    keeps its hand-inlined fast path)."""

    __slots__ = ("data", "pos", "acc", "n", "pad")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0
        self.pad = 0

    def _fill(self, want: int) -> None:
        while self.n < want:
            if self.pos < len(self.data):
                self.acc = (self.acc << 8) | self.data[self.pos]
                self.pos += 1
            else:
                self.pad += 1
                if self.pad > 6:
                    raise ValueError("truncated progressive scan")
                self.acc = (self.acc << 8) | 0xFF
            self.n += 8

    def bits(self, k: int) -> int:
        if k == 0:
            return 0
        self._fill(k)
        self.n -= k
        v = (self.acc >> self.n) & ((1 << k) - 1)
        self.acc &= (1 << self.n) - 1
        return v

    def decode(self, luts) -> int:
        sym_lut, len_lut = luts
        self._fill(16)
        idx = (self.acc >> (self.n - 16)) & 0xFFFF
        length = len_lut[idx]
        if length == 0:
            raise ValueError("invalid huffman code")
        self.n -= length
        self.acc &= (1 << self.n) - 1
        return sym_lut[idx]


def _decode_progressive(frame, scans, dc_luts, ac_luts) -> list:
    """Progressive (SOF2) entropy decode: apply each scan's coefficients
    into per-component zigzag arrays over the MCU-padded grid. Handles
    spectral selection, successive approximation (T.81 G.1.2.2/G.1.2.3:
    first passes store values << Al; refinement passes add the next
    magnitude bit via the run/correction-bit walk), general EOBRUN, AND
    subsampled frames: interleaved DC scans walk the MCU grid (A.2.3);
    non-interleaved scans (all AC scans, and DC scans listing one
    component) walk the component's own un-padded grid (A.2.2)."""
    comps, prec = frame[2], frame[3]
    (_, _, mcux, mcuy, grids), index = _frame_geom(frame)
    coefs = [
        np.zeros((pwb * phb, 64), dtype=np.int32) for pwb, phb, _, _ in grids
    ]
    dc_cap, ac_cap = _caps(prec)

    for (scan, ss, se, ah, al), entropy in scans:
        for cid, _td, _ta in scan:
            if cid not in index:
                raise ValueError("scan references unknown component")
        ks = [index[cid] for cid, _, _ in scan]
        br = _ScanReader(entropy)
        if ss == 0:  # DC scan
            if se != 0:
                raise ValueError("DC scan with Se != 0")
            if len(scan) > 1:
                factors = [comps[k][2:] for k in ks]
                units = (u for mcu in _mcu_walk(factors, mcux, mcuy)
                         for u in mcu)
            else:
                units = ((0, blk) for blk in _raster(grids[ks[0]]))
            if ah == 0:  # first pass: DPCM in the >>Al domain
                for _cid, td, _ta in scan:
                    if td not in dc_luts:
                        raise ValueError("scan references missing DC table")
                prev = [0] * len(scan)
                for j, blk in units:
                    s = br.decode(dc_luts[scan[j][1]])
                    if s > dc_cap:
                        raise ValueError("bad DC size")
                    v = br.bits(s)
                    if s and v < (1 << (s - 1)):
                        v -= (1 << s) - 1
                    prev[j] += v
                    dc = prev[j] << al
                    if not -(1 << 30) < dc < (1 << 30):
                        raise ValueError("DC accumulator overflow")
                    coefs[ks[j]][blk, 0] = dc
            else:  # refinement: one raw bit per block per component
                p1 = 1 << al
                for j, blk in units:
                    if br.bits(1):
                        coefs[ks[j]][blk, 0] |= p1
        else:  # AC band scan: exactly one component, non-interleaved
            if len(scan) != 1:
                raise ValueError("interleaved AC scan in progressive")
            if not (0 < ss <= se <= 63):
                raise ValueError("bad spectral band")
            ta = scan[0][2]
            if ta not in ac_luts:
                raise ValueError("scan references missing AC table")
            luts = ac_luts[ta]
            comp = coefs[ks[0]]
            eobrun = 0
            if ah == 0:  # first pass for this band (values stored << Al)
                for blk in _raster(grids[ks[0]]):
                    if eobrun > 0:
                        eobrun -= 1
                        continue
                    block = comp[blk]
                    k = ss
                    while k <= se:
                        rs = br.decode(luts)
                        r, s = rs >> 4, rs & 0x0F
                        if s == 0:
                            if r == 15:
                                k += 16  # ZRL
                                continue
                            eobrun = (1 << r) - 1 + br.bits(r)
                            break
                        if s > ac_cap:
                            raise ValueError("bad AC size")
                        k += r
                        if k > se:
                            raise ValueError("AC band overflow")
                        v = br.bits(s)
                        if v < (1 << (s - 1)):
                            v -= (1 << s) - 1
                        block[k] = v << al
                        k += 1
            else:  # refinement pass (G.1.2.3): run/correction-bit walk
                p1 = 1 << al
                m1 = -p1
                for blk in _raster(grids[ks[0]]):
                    block = comp[blk]
                    k = ss
                    if eobrun == 0:
                        while k <= se:
                            rs = br.decode(luts)
                            r, s = rs >> 4, rs & 0x0F
                            newval = 0
                            if s == 0:
                                if r != 15:
                                    eobrun = (1 << r) + br.bits(r)
                                    break  # rest handled by EOB logic
                                # r == 15 (ZRL): skip 16 zero-history
                            else:
                                if s != 1:
                                    raise ValueError(
                                        "refinement magnitude != 1"
                                    )
                                newval = p1 if br.bits(1) else m1
                            # advance over r zero-history coefficients,
                            # reading correction bits at nonzero-history
                            # ones passed along the way
                            while k <= se:
                                if block[k] != 0:
                                    if br.bits(1) and (block[k] & p1) == 0:
                                        block[k] += (
                                            p1 if block[k] >= 0 else m1
                                        )
                                else:
                                    if r == 0:
                                        break
                                    r -= 1
                                k += 1
                            if newval != 0:
                                if k > se:
                                    raise ValueError(
                                        "AC refinement overflow"
                                    )
                                block[k] = newval
                            k += 1
                    if eobrun > 0:
                        # EOB logic: refine this block's remaining
                        # nonzero-history coefficients to end of band
                        while k <= se:
                            if block[k] != 0:
                                if br.bits(1) and (block[k] & p1) == 0:
                                    block[k] += p1 if block[k] >= 0 else m1
                            k += 1
                        eobrun -= 1
    return coefs

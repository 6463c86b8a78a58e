"""Pure-numpy/stdlib-zlib PNG codec (ISO/IEC 15948 / W3C PNG spec).

Full real-web decode coverage of the static PNG core:

- color types 0 (grayscale), 2 (truecolor), 3 (indexed), 4 (gray+
  alpha), 6 (RGBA) at every legal bit depth (spec table 11.1:
  1/2/4/8/16 gray, 1/2/4/8 indexed, 8/16 for the rest);
- all five filter types (None/Sub/Up/Average/Paeth, spec 9.2) with
  the byte-exact unsigned-mod-256 reconstruction arithmetic;
- Adam7 interlacing (spec 8.2): seven independently filtered
  reduced images scattered back onto the full grid;
- tRNS transparency (per-index alpha for indexed, exact-match
  sample key for gray/truecolor) and real alpha channels;
- chunk CRC-32 verification on every chunk (spec 5.3) — a corrupted
  critical chunk must fail loudly, not decode garbage.

Output contract matches the engine's image layer (multimodal.py):
H×W×3 uint8 RGB. 16-bit samples downscale by rounding division
(v*255+32767)//65535 — exact inverse of the v*257 upscale, so 8-bit
content round-trips bit-identically through a 16-bit container.
Alpha composites over white (deterministic, documented; the crawl
synthesizes pages on white). APNG animation chunks (acTL/fcTL/fdAT)
are ancillary and skipped — the static IDAT image decodes, matching
how browsers treat an APNG-unaware viewer.

The encoder emits every decode layout (color type × depth ×
interlace × per-row filter strategy, including the libpng
minimum-sum-of-absolute-differences adaptive heuristic) so tests
round-trip each path; it is also the thumbnail sink for real-web
re-encodes.

Reference parity note: the reference engine (lmmx/bisque) has no
image layer at all — this module serves the engine's own
input_hint ambitions (crawl image pipeline), not a reference row.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"
# declared-size bound (pixels), checked before IDAT is inflated
_MAX_PIXELS = 64_000_000

# spec table 11.1: legal bit depths per color type
_LEGAL_DEPTHS = {
    0: (1, 2, 4, 8, 16),
    2: (8, 16),
    3: (1, 2, 4, 8),
    4: (8, 16),
    6: (8, 16),
}
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

# Adam7 pass grid (spec 8.2): (x_off, y_off, x_step, y_step)
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _chunk(typ: bytes, payload: bytes) -> bytes:
    body = typ + payload
    return struct.pack(">I", len(payload)) + body + struct.pack(
        ">I", zlib.crc32(body) & 0xFFFFFFFF
    )


# ---- filtering (spec 9.2) -------------------------------------------------


def _paeth_vec(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """PaethPredictor over int16 arrays (exact unsigned semantics)."""
    p = a.astype(np.int16) + b - c
    pa = np.abs(p - a)
    pb = np.abs(p - b)
    pc = np.abs(p - c)
    out = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    return out.astype(np.uint8)


def _defilter(raw: bytes, n_rows: int, stride: int, bpp: int) -> np.ndarray:
    """Filtered scanline stream → (n_rows, stride) uint8 raw bytes.

    Up/None rows are whole-row numpy ops; Sub/Average/Paeth carry a
    left-neighbor dependency, walked per byte-lane group (vectorized
    across the bpp lanes each step) — rows are short relative to the
    Arrow batch, so this stays off any per-pixel Python hot path at
    the image sizes the crawl handles.
    """
    need = n_rows * (stride + 1)
    if len(raw) < need:
        raise ValueError("truncated image data")
    rows = np.frombuffer(raw[:need], dtype=np.uint8).reshape(
        n_rows, stride + 1
    )
    out = np.zeros((n_rows, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(n_rows):
        ft = int(rows[y, 0])
        line = rows[y, 1:].copy()
        if ft == 0:
            pass
        elif ft == 1:  # Sub
            for x in range(bpp, stride, bpp):
                hi = min(x + bpp, stride)
                line[x:hi] += line[x - bpp : x - bpp + (hi - x)]
        elif ft == 2:  # Up
            line += prev
        elif ft == 3:  # Average
            line[:bpp] += prev[:bpp] >> 1
            for x in range(bpp, stride, bpp):
                hi = min(x + bpp, stride)
                left = line[x - bpp : x - bpp + (hi - x)].astype(np.uint16)
                line[x:hi] += ((left + prev[x:hi]) >> 1).astype(np.uint8)
        elif ft == 4:  # Paeth
            line[:bpp] += prev[:bpp]  # a = c = 0 → predictor is b
            for x in range(bpp, stride, bpp):
                hi = min(x + bpp, stride)
                a = line[x - bpp : x - bpp + (hi - x)]
                c = prev[x - bpp : x - bpp + (hi - x)]
                line[x:hi] += _paeth_vec(a, prev[x:hi], c)
        else:
            raise ValueError(f"bad filter type {ft}")
        out[y] = line
        prev = line
    return out


def _filter_rows(
    grid: np.ndarray, bpp: int, strategy: int | str
) -> bytes:
    """(n_rows, stride) uint8 → filtered scanline stream.

    strategy: a fixed filter type 0-4, or 'adaptive' (libpng MSAD
    heuristic: per row, the filter minimizing the sum of absolute
    signed-byte residuals; ties go to the lower type). Encode-side
    filters read only raw bytes, so every row is filtered at once.
    """
    n_rows, stride = grid.shape
    prev = np.zeros_like(grid)
    prev[1:] = grid[:-1]
    left = np.zeros_like(grid)
    left[:, bpp:] = grid[:, :-bpp]
    ul = np.zeros_like(grid)
    ul[:, bpp:] = prev[:, :-bpp]

    def filtered(ft: int) -> np.ndarray:
        if ft == 0:
            return grid
        if ft == 1:
            return grid - left
        if ft == 2:
            return grid - prev
        if ft == 3:
            return grid - ((left.astype(np.uint16) + prev) >> 1).astype(
                np.uint8
            )
        if ft == 4:
            return grid - _paeth_vec(left, prev, ul)
        raise ValueError(f"bad filter strategy {ft}")

    if strategy == "adaptive":
        cands = np.stack([filtered(ft) for ft in range(5)])
        cost = np.abs(cands.astype(np.int8).astype(np.int16)).sum(axis=2)
        types = np.argmin(cost, axis=0)
        rows = cands[types, np.arange(n_rows)]
    else:
        types = int(strategy)
        rows = filtered(types)
    out = np.empty((n_rows, stride + 1), dtype=np.uint8)
    out[:, 0] = types
    out[:, 1:] = rows
    return out.tobytes()


# ---- sample packing -------------------------------------------------------


def _unpack_samples(
    grid: np.ndarray, width: int, channels: int, depth: int
) -> np.ndarray:
    """(n_rows, stride_bytes) raw rows → (n_rows, width, channels)
    uint16 samples (native value range for the depth)."""
    n_rows = grid.shape[0]
    n_samp = width * channels
    if depth == 8:
        samples = grid[:, :n_samp].astype(np.uint16)
    elif depth == 16:
        pairs = (
            grid[:, : 2 * n_samp].reshape(n_rows, n_samp, 2).astype(np.uint16)
        )
        samples = (pairs[..., 0] << 8) | pairs[..., 1]
    else:
        bits = np.unpackbits(grid, axis=1)
        per = bits.reshape(n_rows, -1, depth)
        vals = np.zeros(per.shape[:2], dtype=np.uint16)
        for b in range(depth):
            vals = (vals << 1) | per[:, :, b]
        samples = vals[:, :n_samp]
    return samples.reshape(n_rows, width, channels)


def _pack_samples(
    samples: np.ndarray, depth: int
) -> tuple[np.ndarray, int]:
    """(n_rows, width, channels) uint16 → (n_rows, stride) raw bytes
    + bpp (filter unit, spec 9.2: ceil(channels*depth/8), min 1)."""
    n_rows, width, channels = samples.shape
    flat = samples.reshape(n_rows, width * channels)
    if depth == 8:
        grid = flat.astype(np.uint8)
    elif depth == 16:
        grid = np.zeros((n_rows, flat.shape[1] * 2), dtype=np.uint8)
        grid[:, 0::2] = flat >> 8
        grid[:, 1::2] = flat & 0xFF
    else:
        bits = np.zeros((n_rows, flat.shape[1], depth), dtype=np.uint8)
        for b in range(depth):
            bits[:, :, depth - 1 - b] = (flat >> b) & 1
        padded = bits.reshape(n_rows, -1)
        pad = (-padded.shape[1]) % 8
        if pad:
            padded = np.pad(padded, ((0, 0), (0, pad)))
        grid = np.packbits(padded, axis=1)
    bpp = max(1, channels * depth // 8)
    return grid, bpp


def _pass_dims(w: int, h: int) -> list[tuple[int, int, int, int, int, int]]:
    """Adam7 non-empty passes: (xo, yo, xs, ys, pw, ph)."""
    out = []
    for xo, yo, xs, ys in _ADAM7:
        pw = (w - xo + xs - 1) // xs
        ph = (h - yo + ys - 1) // ys
        if pw > 0 and ph > 0:
            out.append((xo, yo, xs, ys, pw, ph))
    return out


# ---- decode ---------------------------------------------------------------


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes → H×W×3 uint8 RGB (alpha composited over white).

    Raises ValueError on structural damage (bad signature, CRC
    mismatch, truncation, illegal header combos, palette overrun) —
    the multimodal operators route that to the per-row error column.
    _MAX_PIXELS bounds decompression-bomb exposure: the pixel
    budget is checked BEFORE inflating IDAT.
    """
    if data[:8] != _SIG:
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    ihdr = None
    plte: np.ndarray | None = None
    trns: bytes | None = None
    idat = bytearray()
    seen_iend = False
    while pos + 8 <= len(data) and not seen_iend:
        length = int.from_bytes(data[pos : pos + 4], "big")
        typ = data[pos + 4 : pos + 8]
        end = pos + 8 + length
        if length > 0x7FFFFFFF or end + 4 > len(data):
            raise ValueError(f"truncated chunk {typ!r}")
        payload = data[pos + 8 : end]
        crc = int.from_bytes(data[end : end + 4], "big")
        if zlib.crc32(data[pos + 4 : end]) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in {typ!r}")
        if typ == b"IHDR":
            if len(payload) != 13:
                raise ValueError("bad IHDR length")
            w, h, depth, ctype, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
            if comp != 0 or filt != 0:
                raise ValueError("unknown compression/filter method")
            if interlace not in (0, 1):
                raise ValueError(f"unknown interlace method {interlace}")
            if ctype not in _LEGAL_DEPTHS or depth not in _LEGAL_DEPTHS[ctype]:
                raise ValueError(
                    f"illegal color type {ctype} / bit depth {depth}"
                )
            if w == 0 or h == 0 or w * h > _MAX_PIXELS:
                raise ValueError(f"image dimensions {w}x{h} out of bounds")
            ihdr = (w, h, depth, ctype, interlace)
        elif typ == b"PLTE":
            if len(payload) % 3 or len(payload) > 3 * 256:
                raise ValueError("bad PLTE length")
            plte = np.frombuffer(payload, dtype=np.uint8).reshape(-1, 3)
        elif typ == b"tRNS":
            trns = payload
        elif typ == b"IDAT":
            idat += payload
        elif typ == b"IEND":
            seen_iend = True
        # ancillary chunks (text, gAMA, APNG acTL/fcTL/fdAT, ...) skip
        pos = end + 4
    if ihdr is None:
        raise ValueError("missing IHDR")
    if not idat:
        raise ValueError("missing IDAT")
    w, h, depth, ctype, interlace = ihdr
    channels = _CHANNELS[ctype]
    if ctype == 3 and plte is None:
        raise ValueError("indexed PNG without PLTE")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as exc:
        raise ValueError(f"corrupt IDAT stream: {exc}") from exc

    samples = np.zeros((h, w, channels), dtype=np.uint16)
    if interlace == 0:
        passes = [(0, 0, 1, 1, w, h)]
    else:
        passes = _pass_dims(w, h)
    off = 0
    for xo, yo, xs, ys, pw, ph in passes:
        stride = (pw * channels * depth + 7) // 8
        bpp = max(1, channels * depth // 8)
        need = ph * (stride + 1)
        grid = _defilter(raw[off : off + need], ph, stride, bpp)
        off += need
        sub = _unpack_samples(grid, pw, channels, depth)
        samples[yo::ys, xo::xs] = sub
    if off != len(raw):
        raise ValueError("image data length does not match the pass layout")

    return _to_rgb(samples, depth, ctype, plte, trns)


def _to_rgb(
    samples: np.ndarray,
    depth: int,
    ctype: int,
    plte: np.ndarray | None,
    trns: bytes | None,
) -> np.ndarray:
    """Native samples → H×W×3 uint8, compositing alpha over white."""
    maxv = (1 << depth) - 1
    if ctype == 3:
        idx = samples[..., 0]
        assert plte is not None
        if int(idx.max(initial=0)) >= len(plte):
            raise ValueError("palette index out of range")
        rgb = plte[idx].astype(np.uint16)
        alpha = None
        if trns is not None:
            atab = np.full(len(plte), 255, dtype=np.uint16)
            n = min(len(trns), len(plte))
            atab[:n] = np.frombuffer(trns[:n], dtype=np.uint8)
            alpha = atab[idx]
        return _composite(rgb, alpha, 255)
    if ctype == 0:
        gray = samples[..., 0]
        alpha = None
        if trns is not None and len(trns) >= 2:
            key = int.from_bytes(trns[:2], "big")
            alpha = np.where(gray == key, 0, maxv).astype(np.uint16)
        rgb = np.repeat(gray[..., None], 3, axis=2)
        return _composite(rgb, alpha, maxv)
    if ctype == 2:
        rgb = samples
        alpha = None
        if trns is not None and len(trns) >= 6:
            key = struct.unpack(">HHH", trns[:6])
            hit = (
                (rgb[..., 0] == key[0])
                & (rgb[..., 1] == key[1])
                & (rgb[..., 2] == key[2])
            )
            alpha = np.where(hit, 0, maxv).astype(np.uint16)
        return _composite(rgb, alpha, maxv)
    if ctype == 4:
        rgb = np.repeat(samples[..., 0:1], 3, axis=2)
        return _composite(rgb, samples[..., 1], maxv)
    # ctype 6
    return _composite(samples[..., :3], samples[..., 3], maxv)


def _composite(
    rgb: np.ndarray, alpha: np.ndarray | None, maxv: int
) -> np.ndarray:
    """Scale to 8-bit (rounding division — exact inverse of the
    257/17/85/255 upscales) and composite over white."""
    rgb32 = rgb.astype(np.uint32)
    scaled = (rgb32 * 255 + maxv // 2) // maxv
    if alpha is None:
        return scaled.astype(np.uint8)
    a = alpha.astype(np.float64)[..., None] / maxv
    out = np.rint(scaled * a + 255.0 * (1.0 - a))
    return np.clip(out, 0, 255).astype(np.uint8)


# ---- encode ---------------------------------------------------------------


def encode_png(
    pixels: np.ndarray,
    *,
    color_type: int = 2,
    bit_depth: int = 8,
    interlace: int = 0,
    filter_strategy: int | str = "adaptive",
    palette: np.ndarray | None = None,
    trns: bytes | None = None,
) -> bytes:
    """Samples → PNG bytes exercising any legal layout.

    ``pixels`` shape by color type: 0 → (h,w); 2 → (h,w,3);
    3 → (h,w) palette indices (``palette`` (n,3) required);
    4 → (h,w,2); 6 → (h,w,4). Values must fit ``bit_depth``.
    """
    if color_type not in _LEGAL_DEPTHS:
        raise ValueError(f"bad color type {color_type}")
    if bit_depth not in _LEGAL_DEPTHS[color_type]:
        raise ValueError(
            f"bit depth {bit_depth} illegal for color type {color_type}"
        )
    arr = np.asarray(pixels)
    channels = _CHANNELS[color_type]
    if channels == 1:
        if arr.ndim == 2:
            arr = arr[..., None]
    if arr.ndim != 3 or arr.shape[2] != channels:
        raise ValueError(
            f"expected {channels}-channel samples for color type {color_type}"
        )
    maxv = (1 << bit_depth) - 1
    arr = arr.astype(np.uint16)
    if int(arr.max(initial=0)) > maxv:
        raise ValueError(f"sample exceeds {bit_depth}-bit range")
    h, w = arr.shape[:2]
    if color_type == 3:
        if palette is None:
            raise ValueError("indexed PNG requires a palette")
        palette = np.asarray(palette, dtype=np.uint8).reshape(-1, 3)
        if len(palette) > 256 or int(arr.max(initial=0)) >= len(palette):
            raise ValueError("palette too large or index out of range")

    if interlace == 0:
        passes = [(0, 0, 1, 1, w, h)]
    else:
        passes = _pass_dims(w, h)
    stream = bytearray()
    for xo, yo, xs, ys, pw, ph in passes:
        sub = arr[yo::ys, xo::xs]
        grid, bpp = _pack_samples(sub, bit_depth)
        stream += _filter_rows(grid, bpp, filter_strategy)

    out = bytearray(_SIG)
    out += _chunk(
        b"IHDR",
        struct.pack(">IIBBBBB", w, h, bit_depth, color_type, 0, 0, interlace),
    )
    if color_type == 3:
        out += _chunk(b"PLTE", palette.tobytes())
    if trns is not None:
        out += _chunk(b"tRNS", trns)
    out += _chunk(b"IDAT", zlib.compress(bytes(stream), 6))
    out += _chunk(b"IEND", b"")
    return bytes(out)

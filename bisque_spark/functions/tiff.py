"""Baseline TIFF 6.0 codec — pure numpy/stdlib.

Decodes the real-web baseline-TIFF core (Adobe TIFF 6.0 spec, the
same IFD structure functions/exif.py walks for JPEG APP1 segments):

- both byte orders (II little / MM big);
- strip- and tile-organized images, chunky (PlanarConfiguration 1)
  and planar (2) sample layouts;
- Compression 1 (none), 32773 (PackBits, spec section 9), 5
  (TIFF-variant LZW, section 13: MSB-first variable-width codes,
  Clear=256/EOI=257, EARLY code-width change one code before the
  GIF convention) and 8/32946 (Adobe/legacy Deflate, TTN2 — plain
  zlib streams) with Predictor 2 horizontal differencing;
- PhotometricInterpretation 0/1 (gray, either polarity) at 1/4/8/16
  bits, 2 (RGB / RGBA with ExtraSamples alpha composited over
  white) at 8/16 bits, 3 (palette via the 16-bit ColorMap planes).

Output contract matches the image layer: H×W×3 uint8 RGB; 16-bit
samples downscale by rounding division (exact inverse of the ×257
upscale). Unsupported compressions (CCITT/JPEG-in-TIFF) and exotic
sample layouts raise NotImplementedError → the multimodal error
column, never a task failure.

The encoder emits every decode layout (endianness × compression ×
predictor × photometric × strip size) for round-trip tests and is
deliberately minimal-but-valid TIFF (single IFD, required tags).

Reference parity note: the reference engine (lmmx/bisque) has no
image layer; this serves the crawl input_hint, not a reference row.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# declared-size bound (pixels), checked before strips are decoded
_MAX_PIXELS = 64_000_000

# IFD type sizes (TIFF 6.0 table in section 2)
_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8}


def _read_ifd(data: bytes, endian: str) -> dict[int, tuple]:
    """First IFD → {tag: (type, values tuple)}."""
    (off,) = struct.unpack(endian + "I", data[4:8])
    if off + 2 > len(data):
        raise ValueError("truncated IFD offset")
    (n,) = struct.unpack(endian + "H", data[off : off + 2])
    out: dict[int, tuple] = {}
    for i in range(n):
        e = off + 2 + 12 * i
        if e + 12 > len(data):
            raise ValueError("truncated IFD entry")
        tag, typ, cnt = struct.unpack(endian + "HHI", data[e : e + 8])
        size = _TYPE_SIZE.get(typ)
        if size is None:
            continue  # unknown field type: skip per spec
        total = size * cnt
        if total <= 4:
            raw = data[e + 8 : e + 8 + total]
        else:
            (voff,) = struct.unpack(endian + "I", data[e + 8 : e + 12])
            if voff + total > len(data):
                raise ValueError(f"tag {tag} value out of bounds")
            raw = data[voff : voff + total]
        if typ in (3, 8):
            vals = struct.unpack(endian + "H" * cnt, raw)
        elif typ in (4, 9):
            vals = struct.unpack(endian + "I" * cnt, raw)
        elif typ in (1, 6, 7, 2):
            vals = tuple(raw)
        else:  # RATIONAL pairs — not needed for pixel decode
            vals = tuple(
                struct.unpack(endian + "II", raw[k * 8 : k * 8 + 8])
                for k in range(cnt)
            )
        out[tag] = (typ, vals)
    return out


def _tag(ifd, tag, default=None):
    if tag in ifd:
        return ifd[tag][1]
    return default


# ---- compressions ---------------------------------------------------------


def unpackbits_rle(data: bytes, expected: int) -> bytes:
    """PackBits (TIFF section 9 / Apple RLE)."""
    out = bytearray()
    i = 0
    while i < len(data) and len(out) < expected:
        n = data[i]
        i += 1
        if n < 128:  # literal run of n+1
            out += data[i : i + n + 1]
            i += n + 1
        elif n > 128:  # repeat next byte 257-n times
            if i >= len(data):
                raise ValueError("truncated PackBits run")
            out += bytes([data[i]]) * (257 - n)
            i += 1
        # n == 128: no-op
    if len(out) < expected:
        raise ValueError("PackBits underrun")
    return bytes(out[:expected])


def packbits_rle(data: bytes) -> bytes:
    """PackBits encoder (literal/replicate runs, spec-conformant)."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        j = i
        while j + 1 < n and data[j + 1] == data[j] and j - i < 127:
            j += 1
        if j > i:  # replicate run of j-i+1 >= 2
            out += bytes([257 - (j - i + 1), data[i]])
            i = j + 1
            continue
        j = i
        while (
            j + 1 < n
            and (j + 2 >= n or data[j + 1] != data[j + 2])
            and j - i < 127
        ):
            j += 1
        out += bytes([j - i]) + data[i : j + 1]
        i = j + 1
    return bytes(out)


_CLEAR, _EOI = 256, 257


def lzw_decode(data: bytes, expected: int) -> bytes:
    """TIFF LZW (section 13): MSB-first codes, early width change."""
    out = bytearray()
    table: list[bytes] = []
    width = 9
    acc = nbits = 0
    pos = 0
    prev: bytes | None = None

    def reset():
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        width = 9
        prev = None

    reset()
    while len(out) < expected:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("truncated LZW stream")
            acc = (acc << 8) | data[pos]
            pos += 1
            nbits += 8
        code = (acc >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        if code == _CLEAR:
            reset()
            continue
        if code == _EOI:
            break
        if prev is None:
            if code > 255:
                raise ValueError("LZW: first code after clear not literal")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("LZW: code beyond table")
        out += entry
        prev = entry
        # early change: bump one code BEFORE the table fills the width
        if len(table) == (1 << width) - 1 and width < 12:
            width += 1
    if len(out) < expected:
        raise ValueError("LZW underrun")
    return bytes(out[:expected])


def lzw_encode(data: bytes) -> bytes:
    """TIFF LZW encoder (matching early-change convention)."""
    out = bytearray()
    acc = nbits = 0

    def put(code: int, width: int):
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    put(_CLEAR, width)
    run = b""
    for byte in data:
        cand = run + bytes([byte])
        if cand in table:
            run = cand
            continue
        put(table[run], width)
        # early change, checked BEFORE this iteration's add so the
        # writer bumps exactly when the reader does (the reader's
        # table lags the writer's by one entry at each code boundary)
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
        table[cand] = next_code
        next_code += 1
        if next_code >= 4094:  # keep clear of the 12-bit ceiling
            put(_CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        run = bytes([byte])
    if run:
        put(table[run], width)
        # the decoder appends an entry for this final code too, so the
        # same early-change check applies before EOI — without it a
        # spec decoder (libtiff) reads EOI one bit wider than we wrote
        # when next_code lands exactly on the boundary (r6 ADVICE)
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
    put(_EOI, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


# ---- decode ---------------------------------------------------------------


def decode_tiff(data: bytes) -> np.ndarray:
    """TIFF bytes → H×W×3 uint8 RGB (alpha composited over white)."""
    if data[:4] == b"II*\x00":
        endian = "<"
    elif data[:4] == b"MM\x00*":
        endian = ">"
    else:
        raise ValueError("not a TIFF (bad magic)")
    ifd = _read_ifd(data, endian)
    (w,) = _tag(ifd, 256) or (0,)
    (h,) = _tag(ifd, 257) or (0,)
    if w == 0 or h == 0 or w * h > _MAX_PIXELS:
        raise ValueError(f"image dimensions {w}x{h} out of bounds")
    spp = _tag(ifd, 277, (1,))[0]
    bps = _tag(ifd, 258, (1,) * spp)
    if len(set(bps)) != 1:
        raise NotImplementedError(f"mixed bits-per-sample {bps}")
    depth = bps[0]
    comp = _tag(ifd, 259, (1,))[0]
    photo = _tag(ifd, 262, (1,))[0]
    planar = _tag(ifd, 284, (1,))[0]
    predictor = _tag(ifd, 317, (1,))[0]
    if comp not in (1, 5, 8, 32773, 32946):
        raise NotImplementedError(f"TIFF compression {comp}")
    if predictor not in (1, 2):
        raise NotImplementedError(f"TIFF predictor {predictor}")
    if depth not in (1, 4, 8, 16):
        raise NotImplementedError(f"{depth}-bit samples")
    if photo not in (0, 1, 2, 3):
        raise NotImplementedError(f"photometric {photo}")
    if photo == 2 and spp not in (3, 4):
        raise NotImplementedError(f"RGB with {spp} samples")
    if photo in (0, 1, 3) and spp != 1:
        raise NotImplementedError(f"gray/palette with {spp} samples")

    tiled = 322 in ifd
    if tiled:
        tw = _tag(ifd, 322)[0]
        th = _tag(ifd, 323)[0]
        offsets = _tag(ifd, 324)
        counts = _tag(ifd, 325)
    else:
        offsets = _tag(ifd, 273)
        counts = _tag(ifd, 279)
        rps = _tag(ifd, 278, (h,))[0] or h
    if offsets is None or counts is None:
        raise ValueError("missing strip/tile layout tags")

    def inflate(i: int, expected: int) -> bytes:
        off, cnt = offsets[i], counts[i]
        if off + cnt > len(data):
            raise ValueError("strip/tile out of bounds")
        blob = data[off : off + cnt]
        if comp == 1:
            if len(blob) < expected:
                raise ValueError("truncated uncompressed strip")
            return blob[:expected]
        if comp == 32773:
            return unpackbits_rle(blob, expected)
        if comp in (8, 32946):
            raw = zlib.decompress(blob, bufsize=expected)
            if len(raw) < expected:
                raise ValueError("Deflate strip underrun")
            return raw[:expected]
        return lzw_decode(blob, expected)

    n_ch = spp if planar == 1 else 1
    sample_planes = 1 if planar == 1 else spp

    def rows_bytes(width_px: int) -> int:
        return (width_px * n_ch * depth + 7) // 8

    # assemble the full-sample grid (h, w, spp) as uint16
    grid = np.zeros((h, w, spp), dtype=np.uint16)

    def unpack_rows(raw: bytes, n_rows: int, width_px: int) -> np.ndarray:
        stride = rows_bytes(width_px)
        arr = np.frombuffer(
            raw, np.uint8, count=n_rows * stride
        ).reshape(n_rows, stride)
        if depth == 8:
            vals = arr[:, : width_px * n_ch].astype(np.uint16)
        elif depth == 16:
            pairs = arr[:, : 2 * width_px * n_ch].reshape(
                n_rows, width_px * n_ch, 2
            ).astype(np.uint16)
            if endian == "<":
                vals = (pairs[..., 1] << 8) | pairs[..., 0]
            else:
                vals = (pairs[..., 0] << 8) | pairs[..., 1]
        else:
            bits = np.unpackbits(arr, axis=1)
            per = bits.reshape(n_rows, -1, depth)
            v = np.zeros(per.shape[:2], dtype=np.uint16)
            for b in range(depth):
                v = (v << 1) | per[:, :, b]
            vals = v[:, : width_px * n_ch]
        if predictor == 2:
            if depth not in (8, 16):
                raise NotImplementedError("predictor 2 below 8 bits")
            vals = vals.reshape(n_rows, width_px, n_ch)
            mask = 0xFF if depth == 8 else 0xFFFF
            vals = np.bitwise_and(
                np.cumsum(vals.astype(np.uint64), axis=1), mask
            ).astype(np.uint16)
            return vals
        return vals.reshape(n_rows, width_px, n_ch)

    if tiled:
        tx = (w + tw - 1) // tw
        ty = (h + th - 1) // th
        per_plane = tx * ty
        expected_n = per_plane * sample_planes
        if len(offsets) < expected_n:
            raise ValueError("tile count does not match geometry")
        for p in range(sample_planes):
            for t in range(per_plane):
                r, c = divmod(t, tx)
                raw = inflate(p * per_plane + t, th * rows_bytes(tw))
                vals = unpack_rows(raw, th, tw)
                y0, x0 = r * th, c * tw
                ys = min(th, h - y0)
                xs = min(tw, w - x0)
                if planar == 1:
                    grid[y0 : y0 + ys, x0 : x0 + xs] = vals[:ys, :xs]
                else:
                    grid[y0 : y0 + ys, x0 : x0 + xs, p] = vals[:ys, :xs, 0]
    else:
        per_plane = (h + rps - 1) // rps
        if len(offsets) < per_plane * sample_planes:
            raise ValueError("strip count does not match geometry")
        for p in range(sample_planes):
            for s in range(per_plane):
                y0 = s * rps
                n_rows = min(rps, h - y0)
                raw = inflate(
                    p * per_plane + s, n_rows * rows_bytes(w)
                )
                vals = unpack_rows(raw, n_rows, w)
                if planar == 1:
                    grid[y0 : y0 + n_rows] = vals
                else:
                    grid[y0 : y0 + n_rows, :, p] = vals[..., 0]

    return _grid_to_rgb(grid, ifd, photo, depth, spp)


def _grid_to_rgb(grid, ifd, photo, depth, spp) -> np.ndarray:
    maxv = (1 << depth) - 1

    def scale8(v):
        return (
            (v.astype(np.uint32) * 255 + maxv // 2) // maxv
        ).astype(np.uint8)

    if photo == 3:
        cmap = _tag(ifd, 320)
        if cmap is None:
            raise ValueError("palette TIFF without ColorMap")
        n = 1 << depth
        if len(cmap) < 3 * n:
            raise ValueError("short ColorMap")
        cm = np.array(cmap[: 3 * n], dtype=np.uint32).reshape(3, n).T
        rgb16 = cm[np.minimum(grid[..., 0], n - 1)]
        return ((rgb16 * 255 + 32767) // 65535).astype(np.uint8)
    if photo in (0, 1):
        g = grid[..., 0]
        if photo == 0:  # WhiteIsZero
            g = maxv - g
        return np.repeat(scale8(g)[..., None], 3, axis=2)
    rgb = scale8(grid[..., :3])
    if spp == 4:
        extra = _tag(ifd, 338, (2,))[0]
        if extra == 1:  # associated alpha: samples already premultiplied
            a = grid[..., 3].astype(np.float64)[..., None] / maxv
            rgb = np.clip(
                np.rint(rgb + 255.0 * (1.0 - a)), 0, 255
            ).astype(np.uint8)
        elif extra == 2:  # unassociated alpha
            a = grid[..., 3].astype(np.float64)[..., None] / maxv
            rgb = np.clip(
                np.rint(rgb * a + 255.0 * (1.0 - a)), 0, 255
            ).astype(np.uint8)
    return rgb


# ---- encode ---------------------------------------------------------------


def encode_tiff(
    pixels: np.ndarray,
    *,
    endian: str = "<",
    compression: int = 1,
    predictor: int = 1,
    photometric: int | None = None,
    bit_depth: int = 8,
    rows_per_strip: int | None = None,
    palette: np.ndarray | None = None,
    extra_samples: int = 2,
) -> bytes:
    """Samples → single-IFD chunky TIFF exercising any decode layout.

    pixels: (h,w) gray / palette indices, (h,w,3) RGB, (h,w,4) RGBA;
    16-bit content via bit_depth=16 (values must fit).
    """
    arr = np.asarray(pixels).astype(np.uint16)
    h, w = arr.shape[:2]
    spp = 1 if arr.ndim == 2 else arr.shape[2]
    if photometric is None:
        photometric = 2 if spp >= 3 else (3 if palette is not None else 1)
    if bit_depth not in (1, 4, 8, 16):
        raise ValueError(f"bit depth {bit_depth}")
    if int(arr.max(initial=0)) > (1 << bit_depth) - 1:
        raise ValueError("sample exceeds bit depth")
    if compression not in (1, 5, 8, 32773):
        raise ValueError(f"compression {compression}")
    rps = rows_per_strip or h

    flat = arr.reshape(h, -1)

    def pack_rows(rows: np.ndarray) -> bytes:
        if bit_depth == 8:
            return rows.astype(np.uint8).tobytes()
        if bit_depth == 16:
            dt = "<u2" if endian == "<" else ">u2"
            return rows.astype(dt).tobytes()
        n_rows = rows.shape[0]
        bits = np.zeros(rows.shape + (bit_depth,), dtype=np.uint8)
        for b in range(bit_depth):
            bits[..., bit_depth - 1 - b] = (rows >> b) & 1
        padded = bits.reshape(n_rows, -1)
        pad = (-padded.shape[1]) % 8
        if pad:
            padded = np.pad(padded, ((0, 0), (0, pad)))
        return np.packbits(padded, axis=1).tobytes()

    strips = []
    for y0 in range(0, h, rps):
        rows = flat[y0 : y0 + rps].copy()
        if predictor == 2:
            px = rows.reshape(rows.shape[0], -1, spp).astype(np.int32)
            diff = px.copy()
            diff[:, 1:] = px[:, 1:] - px[:, :-1]
            mask = (1 << bit_depth) - 1
            rows = (diff & mask).astype(np.uint16).reshape(rows.shape)
        raw = pack_rows(rows)
        if compression == 5:
            raw = lzw_encode(raw)
        elif compression == 8:
            raw = zlib.compress(raw, 6)
        elif compression == 32773:
            raw = packbits_rle(raw)
        strips.append(raw)

    e = endian
    entries: list[tuple[int, int, int, bytes | int]] = []

    def add(tag, typ, vals):
        entries.append((tag, typ, vals))

    add(256, 4, (w,))
    add(257, 4, (h,))
    add(258, 3, (bit_depth,) * spp)
    add(259, 3, (compression,))
    add(262, 3, (photometric,))
    add(277, 3, (spp,))
    add(278, 4, (rps,))
    if predictor == 2:
        add(317, 3, (2,))
    if spp == 4:
        # 2 = unassociated, 1 = associated (caller supplies
        # premultiplied samples), 0 = unspecified padding
        add(338, 3, (extra_samples,))
    cmap_vals = None
    if photometric == 3:
        if palette is None:
            raise ValueError("palette TIFF requires a palette")
        pal = np.asarray(palette, dtype=np.uint32).reshape(-1, 3)
        n = 1 << bit_depth
        cm = np.zeros((n, 3), dtype=np.uint32)
        cm[: len(pal)] = pal * 257  # 8-bit → 16-bit ColorMap planes
        cmap_vals = tuple(int(v) for v in cm.T.ravel())
        add(320, 3, cmap_vals)

    # layout: header(8) | IFD | external values | strip data
    n_entries = len(entries) + 2  # + StripOffsets + StripByteCounts
    ifd_off = 8
    ifd_size = 2 + 12 * n_entries + 4
    ext_off = ifd_off + ifd_size
    ext = bytearray()

    def value_bytes(typ, vals):
        fmt = {3: "H", 4: "I"}[typ]
        return b"".join(struct.pack(e + fmt, v) for v in vals)

    strip_offsets = []
    strip_counts = [len(s) for s in strips]
    # reserve external space for big value arrays first
    packed_entries = []
    all_entries = entries + [
        (273, 4, tuple([0] * len(strips))),  # patched below
        (279, 4, tuple(strip_counts)),
    ]
    all_entries.sort(key=lambda t: t[0])
    ext_len = sum(
        len(value_bytes(typ, vals))
        for _, typ, vals in all_entries
        if len(value_bytes(typ, vals)) > 4
    )
    pos = ext_off + ext_len
    for s in strips:
        strip_offsets.append(pos)
        pos += len(s)
    # rebuild with real strip offsets
    final_entries = []
    for tag, typ, vals in all_entries:
        if tag == 273:
            vals = tuple(strip_offsets)
        final_entries.append((tag, typ, vals))
    ext = bytearray()
    out = bytearray()
    out += (b"II*\x00" if e == "<" else b"MM\x00*")
    out += struct.pack(e + "I", ifd_off)
    out += struct.pack(e + "H", n_entries)
    for tag, typ, vals in final_entries:
        vb = value_bytes(typ, vals)
        out += struct.pack(e + "HHI", tag, typ, len(vals))
        if len(vb) <= 4:
            out += vb + b"\x00" * (4 - len(vb))
        else:
            out += struct.pack(e + "I", ext_off + len(ext))
            ext += vb
    out += struct.pack(e + "I", 0)  # next-IFD pointer
    out += ext
    for s in strips:
        out += s
    return bytes(out)

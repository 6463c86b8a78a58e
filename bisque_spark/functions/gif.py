"""GIF87a/GIF89a codec — pure python/numpy, public spec only.

Layout and LZW variant per the W3C GIF89a specification
(https://www.w3.org/Graphics/GIF/spec-gif89a.txt): logical screen
descriptor + global/local color tables, image descriptors with
interlace, graphic-control extensions (disposal, delay, transparency),
NETSCAPE looping, and GIF-flavored variable-width LSB-first LZW
(clear/EOI codes, 12-bit cap, deferred clear on a full dictionary).

The decoder composites animations onto the logical screen the way
viewers do: disposal 1/0 leaves the canvas, 2 restores the background
color, 3 restores the pre-frame canvas; transparent pixels keep what
is underneath. Every frame is returned as the full composited canvas
(RGB), so downstream image operators see fixed-shape arrays.

The reference (lmmx/bisque) has no image layer (SURVEY.md §2); this
extends the engine's own multimodal image-column coverage (graft cell
"pyspark × image") alongside raw/PNG/PPM/BMP/JPEG.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np

# Declared-size bound (pixels) checked before anything sized from a
# header field is allocated — the same 64M bound as PNG/TIFF/WebP/JPEG.
_MAX_PIXELS = 64_000_000

# ---- LZW (GIF variant: LSB-first, variable width 3..12 bits) -------------


def _lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> np.ndarray:
    clear = 1 << min_code_size
    eoi = clear + 1
    code_size = min_code_size + 1
    # dictionary as parent/char arrays (avoids per-entry bytes objects)
    parent = np.full(4096, -1, dtype=np.int32)
    char = np.zeros(4096, dtype=np.uint8)
    for i in range(clear):
        char[i] = i
    next_code = eoi + 1
    out = np.zeros(n_pixels, dtype=np.uint8)
    n_out = 0
    acc = 0
    nbits = 0
    pos = 0
    prev = -1
    stack = np.zeros(4097, dtype=np.uint8)
    while n_out < n_pixels:
        while nbits < code_size:
            if pos >= len(data):
                raise ValueError("truncated LZW stream")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << code_size) - 1)
        acc >>= code_size
        nbits -= code_size
        if code == clear:
            code_size = min_code_size + 1
            next_code = eoi + 1
            prev = -1
            continue
        if code == eoi:
            break
        if prev < 0:
            if code >= clear:
                raise ValueError("first LZW code not a literal")
            out[n_out] = char[code]
            n_out += 1
            prev = code
            continue
        if code < next_code:
            cur = code
        elif code == next_code and next_code < 4096:
            cur = prev  # KwKwK: string = prev + first(prev)
        else:
            raise ValueError("corrupt LZW code")
        # expand cur (walk parents, reversed)
        sp = 0
        c = cur
        while c >= 0:
            stack[sp] = char[c]
            sp += 1
            c = parent[c]
        first = stack[sp - 1]
        if code == next_code and next_code < 4096:
            # the KwKwK string ends with its own first char
            stack_extra = True
        else:
            stack_extra = False
        take = min(sp, n_pixels - n_out)
        out[n_out : n_out + take] = stack[:sp][::-1][:take]
        n_out += take
        if stack_extra and n_out < n_pixels:
            out[n_out] = first
            n_out += 1
        if next_code < 4096:
            parent[next_code] = prev
            char[next_code] = first
            next_code += 1
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
        prev = code if code < next_code else next_code - 1
    return out


def _lzw_encode(indices: np.ndarray, min_code_size: int) -> bytes:
    """GIF LZW with deferred clear (dictionary freezes at 4096 — every
    conforming decoder supports this, per the spec's appendix note)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    code_size = min_code_size + 1
    table: dict = {(i,): i for i in range(clear)}
    next_code = eoi + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int) -> None:
        nonlocal acc, nbits, code_size
        acc |= code << nbits
        nbits += code_size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
        # width bump AFTER the write (GIF rule: the code at the
        # boundary still uses the old width; see the decoder's
        # mirrored check)
        if next_code >= (1 << code_size) and code_size < 12:
            code_size += 1

    emit(clear)
    seq = tuple()
    for px in indices.astype(np.uint8).tolist():
        cand = seq + (px,)
        if cand in table:
            seq = cand
            continue
        emit(table[seq])
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
        seq = (px,)
    if seq:
        emit(table[seq])
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    # sub-block packaging (≤255 bytes per block, zero terminator)
    blocks = bytearray([min_code_size])
    for i in range(0, len(out), 255):
        chunk = out[i : i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)
    return bytes(blocks)


# ---- container parse -----------------------------------------------------

_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _deinterlace(rows: np.ndarray) -> np.ndarray:
    h = rows.shape[0]
    out = np.empty_like(rows)
    src = 0
    for start, step in _INTERLACE_PASSES:
        for y in range(start, h, step):
            out[y] = rows[src]
            src += 1
    return out


def _read_subblocks(data: bytes, pos: int) -> tuple[bytes, int]:
    parts = []
    while True:
        if pos >= len(data):
            raise ValueError("truncated sub-blocks")
        n = data[pos]
        pos += 1
        if n == 0:
            break
        parts.append(data[pos : pos + n])
        pos += n
    return b"".join(parts), pos


def _check_size(w: int, h: int) -> None:
    if w * h > _MAX_PIXELS:
        raise ValueError(f"gif declares {w}x{h} pixels, over the bound")


def _composite(data: bytes, meta: dict) -> Iterator[tuple[np.ndarray, int]]:
    """Walk the blocks, yielding (composited full-canvas RGB copy,
    delay_cs) per image; meta gets w/h/version up front and loop when
    the NETSCAPE block is read. Lazy, so a caller that wants one frame
    never walks (or pays for) the rest."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    sw = int.from_bytes(data[6:8], "little")
    sh = int.from_bytes(data[8:10], "little")
    _check_size(sw, sh)
    meta.update(w=sw, h=sh, version=data[3:6].decode("ascii"), loop=None)
    flags = data[10]
    bg_index = data[11]
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(data[pos : pos + 3 * n], dtype=np.uint8).reshape(n, 3)
        pos += 3 * n
    bg_rgb = (
        gct[bg_index]
        if gct is not None and bg_index < len(gct)
        else np.zeros(3, dtype=np.uint8)
    )
    canvas = np.empty((sh, sw, 3), dtype=np.uint8)
    canvas[...] = bg_rgb
    # pending graphic-control state (applies to the next image)
    disposal, delay_cs, trans_idx = 0, 0, None
    while pos < len(data):
        b = data[pos]
        pos += 1
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension
            label = data[pos]
            pos += 1
            if label == 0xF9:  # graphic control
                block, pos = _read_subblocks(data, pos)
                if len(block) >= 4:
                    disposal = (block[0] >> 2) & 0x07
                    delay_cs = int.from_bytes(block[1:3], "little")
                    trans_idx = block[3] if block[0] & 0x01 else None
            elif label == 0xFF:  # application (NETSCAPE loop)
                block, pos = _read_subblocks(data, pos)
                if block[:11] == b"NETSCAPE2.0" and len(block) >= 14:
                    meta["loop"] = int.from_bytes(block[12:14], "little")
            else:  # comment / plain text: skip
                _, pos = _read_subblocks(data, pos)
        elif b == 0x2C:  # image descriptor
            left = int.from_bytes(data[pos : pos + 2], "little")
            top = int.from_bytes(data[pos + 2 : pos + 4], "little")
            iw = int.from_bytes(data[pos + 4 : pos + 6], "little")
            ih = int.from_bytes(data[pos + 6 : pos + 8], "little")
            iflags = data[pos + 8]
            pos += 9
            _check_size(iw, ih)
            pal = gct
            if iflags & 0x80:  # local color table
                n = 2 << (iflags & 0x07)
                pal = np.frombuffer(
                    data[pos : pos + 3 * n], dtype=np.uint8
                ).reshape(n, 3)
                pos += 3 * n
            if pal is None:
                raise ValueError("image has no color table")
            mcs = data[pos]
            pos += 1
            lzw, pos = _read_subblocks(data, pos)
            idx = _lzw_decode(lzw, mcs, iw * ih).reshape(ih, iw)
            if iflags & 0x40:
                idx = _deinterlace(idx)
            if idx.max(initial=0) >= len(pal):
                raise ValueError("palette index out of range")
            saved = canvas.copy() if disposal == 3 else None
            region = canvas[top : top + ih, left : left + iw]
            # a frame reaching past the logical screen is clipped to
            # it, as viewers do
            idx = idx[: region.shape[0], : region.shape[1]]
            rgb = pal[idx]
            if trans_idx is not None:
                opaque = idx != trans_idx
                region[opaque] = rgb[opaque]
            else:
                region[...] = rgb
            yield canvas.copy(), delay_cs
            if disposal == 2:
                canvas[top : top + ih, left : left + iw] = bg_rgb
            elif disposal == 3 and saved is not None:
                canvas = saved
            disposal, delay_cs, trans_idx = 0, 0, None
        else:
            raise ValueError(f"unknown GIF block 0x{b:02x}")


def decode_gif_frames(data: bytes) -> tuple[dict, list[np.ndarray]]:
    """→ (meta, composited full-canvas RGB frames).

    meta: {w, h, n_frames, delays_cs (per-frame delay in centiseconds),
    loop (NETSCAPE iteration count or None), version}.
    """
    meta: dict = {}
    frames, delays = [], []
    for frame, delay_cs in _composite(data, meta):
        frames.append(frame)
        delays.append(delay_cs)
    meta.update(n_frames=len(frames), delays_cs=delays)
    return meta, frames


def decode_gif(data: bytes) -> np.ndarray:
    """First composited frame as H×W×3 uint8 RGB (the image-pipeline
    entry — animated GIFs contribute their first frame, like browsers'
    static rendering). The walk stops there: later frames are neither
    composited nor parsed."""
    first = next(_composite(data, {}), None)
    if first is None:
        raise ValueError("gif has no image data")
    return first[0]


# ---- encode --------------------------------------------------------------


def encode_gif(
    frames: list[np.ndarray] | np.ndarray,
    delays_cs: int | list[int] = 10,
    disposal: int = 1,
    transparent_color: tuple | None = None,
    interlace: bool = False,
    loop: int | None = 0,
) -> bytes:
    """RGB frame(s) → GIF89a bytes with one exact global palette.

    All frames' unique colors must fit a 256-entry table (ValueError
    otherwise — this encoder is exact, not a quantizer). A single
    H×W×3 array encodes a static GIF; a list encodes an animation
    (full-canvas frames, shared disposal, per-frame delay).
    ``transparent_color`` pixels are written as a transparent index.
    """
    if isinstance(frames, np.ndarray) and frames.ndim == 3:
        frames = [frames]
    frames = [np.asarray(f, dtype=np.uint8) for f in frames]
    h, w = frames[0].shape[:2]
    for f in frames:
        if f.shape != (h, w, 3):
            raise ValueError("frames must share one H×W×3 shape")
    flat = np.concatenate([f.reshape(-1, 3) for f in frames])
    colors = np.unique(flat, axis=0)
    n_extra = 1 if transparent_color is not None else 0
    if len(colors) + n_extra > 256:
        raise ValueError(f"{len(colors)} colors exceed one GIF palette")
    pal = colors
    trans_idx = None
    if transparent_color is not None:
        tc = np.asarray(transparent_color, dtype=np.uint8)
        hit = np.nonzero((pal == tc).all(axis=1))[0]
        if len(hit):
            trans_idx = int(hit[0])
        else:
            pal = np.vstack([pal, tc])
            trans_idx = len(pal) - 1
    bits = max(1, int(np.ceil(np.log2(max(len(pal), 2)))))
    size = 1 << bits
    table = np.zeros((size, 3), dtype=np.uint8)
    table[: len(pal)] = pal
    # color → index lookup via a packed-int dict
    keys = (
        pal[:, 0].astype(np.int64) << 16
        | pal[:, 1].astype(np.int64) << 8
        | pal[:, 2].astype(np.int64)
    )
    lut = {int(k): i for i, k in enumerate(keys)}
    if isinstance(delays_cs, int):
        delays_cs = [delays_cs] * len(frames)

    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0x80 | ((bits - 1) & 0x07), 0, 0])  # GCT flag, bg=0
    out += table.tobytes()
    if loop is not None and len(frames) > 1:
        out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01"
        out += int(loop).to_bytes(2, "little") + b"\x00"
    animated = len(frames) > 1
    for fi, f in enumerate(frames):
        if animated or trans_idx is not None:
            gce_flags = (disposal & 0x07) << 2
            if trans_idx is not None:
                gce_flags |= 0x01
            out += bytes([0x21, 0xF9, 4, gce_flags])
            out += int(delays_cs[fi]).to_bytes(2, "little")
            out += bytes([trans_idx or 0, 0])
        out += b"\x2c" + b"\x00" * 4
        out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
        out += bytes([0x40 if interlace else 0x00])
        packed = (
            f[:, :, 0].astype(np.int64) << 16
            | f[:, :, 1].astype(np.int64) << 8
            | f[:, :, 2].astype(np.int64)
        )
        idx = np.vectorize(lut.__getitem__, otypes=[np.uint8])(packed)
        if interlace:
            rows = []
            for start, step in _INTERLACE_PASSES:
                rows.append(idx[start::step])
            idx = np.concatenate(rows)
        mcs = max(2, bits)
        out += _lzw_encode(idx.ravel(), mcs)
    out += b"\x3b"
    return bytes(out)

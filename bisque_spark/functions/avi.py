"""AVI (RIFF) container with MJPEG / uncompressed-DIB video frames.

Pure byte-layout + numpy — no media library. Public specs only:

- Container: Microsoft "AVI RIFF File Reference" (the ``avih`` /
  ``strh`` / ``strf`` / ``movi`` / ``idx1`` layout) and the OpenDML
  AVI File Format Extensions.
- Frames: MJPEG chunks are ordinary ITU-T T.81 baseline JPEGs (one
  per ``..dc`` chunk), encoded/decoded by
  :mod:`bisque_spark.functions.jpeg`. Real-camera MJPEG streams
  routinely OMIT the DHT segment and rely on the T.81 Annex K.3
  default tables (noted in the OpenDML MJPEG appendix) —
  :func:`ensure_dht` injects them before decode.
- ``DIB `` chunks are bottom-up BGR rows, each row padded to a
  4-byte boundary (the classic BITMAPINFOHEADER layout shared with
  the BMP decoder in operators/multimodal.py).

The reference (lmmx/bisque, src/bisque — SURVEY.md §2) has no media
layer at all; this module serves the engine's own multimodal
``binary``-column ambitions (input_hint), turning the former
``video_frame_sample`` stub into a real decode path. Codecs other
than MJPG/DIB still surface as honest per-row errors.
"""

from __future__ import annotations

import numpy as np

from bisque_spark.functions.jpeg import _dht, decode_jpeg, encode_jpeg

# ---- RIFF plumbing -------------------------------------------------------


def _u16(x: int) -> bytes:
    return int(x).to_bytes(2, "little")


def _u32(x: int) -> bytes:
    return int(x).to_bytes(4, "little")


def _chunk(cid: bytes, body: bytes) -> bytes:
    """FOURCC + size + body, padded to word alignment (RIFF rule)."""
    pad = b"\x00" if len(body) & 1 else b""
    return cid + _u32(len(body)) + body + pad


def _list(ltype: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", ltype + body)


# ---- encode --------------------------------------------------------------

AVIIF_KEYFRAME = 0x10


def encode_avi(
    frames: list[np.ndarray],
    fps: float = 10.0,
    codec: str = "MJPG",
    quality: int = 90,
) -> bytes:
    """List of H×W×3 uint8 RGB frames → AVI bytes.

    ``codec``: ``"MJPG"`` (each frame a baseline JPEG ``00dc`` chunk)
    or ``"DIB "`` (uncompressed bottom-up BGR ``00db`` chunks,
    biCompression=0 — bit-exact round trip).
    """
    if codec not in ("MJPG", "DIB "):
        raise ValueError(f"unsupported codec {codec!r}")
    if not frames:
        raise ValueError("no frames")
    h, w = frames[0].shape[:2]
    payloads = []
    for fr in frames:
        fr = np.asarray(fr, dtype=np.uint8)
        if fr.shape[:2] != (h, w):
            raise ValueError("frames must share one size")
        if codec == "MJPG":
            payloads.append(encode_jpeg(fr, quality=quality))
        else:
            stride = (w * 3 + 3) & ~3
            row = np.zeros((h, stride), dtype=np.uint8)
            row[:, : w * 3] = fr[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
            payloads.append(row.tobytes())
    ckid = b"00dc" if codec == "MJPG" else b"00db"
    max_bytes = max(len(p) for p in payloads)

    # dwScale/dwRate as a rational fps; 1000-tick scale keeps fractional
    # rates (e.g. 29.97) exact enough for the round-trip test contract
    scale, rate = 1000, int(round(fps * 1000))
    usec = int(round(1_000_000 / fps))

    avih = (
        _u32(usec) + _u32(max_bytes * int(np.ceil(fps))) + _u32(0)
        + _u32(0x10)  # AVIF_HASINDEX
        + _u32(len(frames)) + _u32(0) + _u32(1) + _u32(max_bytes)
        + _u32(w) + _u32(h) + _u32(0) * 4
    )
    strh = (
        b"vids" + codec.encode("ascii") + _u32(0) + _u16(0) + _u16(0)
        + _u32(0) + _u32(scale) + _u32(rate) + _u32(0)
        + _u32(len(frames)) + _u32(max_bytes) + _u32(0xFFFFFFFF) + _u32(0)
        + _u16(0) + _u16(0) + _u16(w) + _u16(h)
    )
    compression = b"MJPG" if codec == "MJPG" else _u32(0)
    strf = (
        _u32(40) + _u32(w) + _u32(h) + _u16(1) + _u16(24)
        + compression + _u32(max_bytes) + _u32(0) + _u32(0)
        + _u32(0) + _u32(0)
    )
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih)
        + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
    )

    movi_body = b""
    idx = b""
    for p in payloads:
        # idx1 offsets are measured from the 'movi' fourcc position
        # (the common convention; the parser walks chunks and only
        # sanity-checks these)
        idx += ckid + _u32(AVIIF_KEYFRAME) + _u32(4 + len(movi_body)) + _u32(len(p))
        movi_body += _chunk(ckid, p)
    riff_body = b"AVI " + hdrl + _list(b"movi", movi_body) + _chunk(b"idx1", idx)
    return b"RIFF" + _u32(len(riff_body)) + riff_body


# ---- decode --------------------------------------------------------------


def parse_avi(data: bytes) -> dict:
    """AVI bytes → {w, h, fps, codec, n_frames, frames:[raw chunk
    bytes]}. Walks the RIFF tree (no idx1 dependence — streams written
    without an index still parse); frame chunks are any ``..dc`` /
    ``..db`` id under ``movi``."""
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI file")
    meta: dict = {"codec": None, "fps": None, "w": None, "h": None}
    frames: list[bytes] = []

    def walk(buf: bytes, pos: int, end: int, in_movi: bool) -> None:
        while pos + 8 <= end:
            cid = buf[pos : pos + 4]
            size = int.from_bytes(buf[pos + 4 : pos + 8], "little")
            body_start = pos + 8
            body_end = min(body_start + size, end)
            if cid == b"LIST":
                ltype = buf[body_start : body_start + 4]
                walk(buf, body_start + 4, body_end, ltype == b"movi")
            elif cid == b"strh" and meta["codec"] is None:
                body = buf[body_start:body_end]
                if body[:4] == b"vids":
                    meta["codec"] = body[4:8].decode("ascii", "replace").strip()
                    scale = int.from_bytes(body[20:24], "little")
                    rate = int.from_bytes(body[24:28], "little")
                    if scale:
                        meta["fps"] = round(rate / scale, 3)
            elif cid == b"strf" and meta["w"] is None:
                body = buf[body_start:body_end]
                if len(body) >= 12:
                    meta["w"] = int.from_bytes(body[4:8], "little")
                    # biHeight can be negative (top-down DIB)
                    meta["h"] = abs(
                        int.from_bytes(body[8:12], "little", signed=True)
                    )
            elif in_movi and cid[2:4] in (b"dc", b"db"):
                frames.append(buf[body_start:body_end])
            pos = body_start + size + (size & 1)

    # clamp the declared RIFF size to the actual buffer: a hostile
    # header claiming 0xFFFFFFFF otherwise walks ~500M empty 8-byte
    # steps (measured ~5 min of spin per row — a crawler DoS, r7)
    walk(
        data,
        12,
        min(8 + int.from_bytes(data[4:8], "little"), len(data)),
        False,
    )
    if meta["codec"] is None:
        raise ValueError("avi missing vids stream header")
    meta["n_frames"] = len(frames)
    meta["frames"] = frames
    return meta


def ensure_dht(jpeg: bytes) -> bytes:
    """Inject T.81 Annex K.3 default Huffman tables into a DHT-less
    MJPEG frame (camera streams omit them per the OpenDML MJPEG
    appendix). Frames that already carry a DHT pass through."""
    i = 2
    sos_at = None
    while i < len(jpeg) - 1:
        if jpeg[i] != 0xFF:
            break
        marker = jpeg[i + 1]
        if marker == 0xC4:
            return jpeg
        if marker == 0xDA:
            sos_at = i
            break
        if marker in (0x01, *range(0xD0, 0xD9)):
            i += 2
            continue
        i += 2 + int.from_bytes(jpeg[i + 2 : i + 4], "big")
    if sos_at is None:
        return jpeg
    return jpeg[:sos_at] + _dht(2) + jpeg[sos_at:]


def _decode_dib(raw: bytes, w: int, h: int) -> np.ndarray:
    stride = (w * 3 + 3) & ~3
    if len(raw) < stride * h:
        raise ValueError("short DIB frame")
    rows = np.frombuffer(raw[: stride * h], dtype=np.uint8).reshape(h, stride)
    return rows[:, : w * 3].reshape(h, w, 3)[::-1, :, ::-1]  # → top-down RGB


def decode_frame(meta: dict, i: int) -> np.ndarray:
    """Decode one frame of a :func:`parse_avi` result → H×W×3 RGB.
    Raises NotImplementedError for codecs beyond MJPG/DIB (routed to
    the per-row error column by the Spark operator)."""
    codec = meta["codec"].upper()
    raw = meta["frames"][i]
    if codec == "MJPG":
        return decode_jpeg(ensure_dht(raw))
    if codec == "DIB":
        return _decode_dib(raw, meta["w"], meta["h"])
    raise NotImplementedError(codec.lower())


def decode_avi_frames(
    data: bytes, indices: list[int] | None = None
) -> tuple[dict, list[np.ndarray]]:
    """→ (meta, decoded RGB frames for ``indices``). Only the selected
    frames are decoded — the point of frame *sampling* is that the
    per-frame codec work scales with the sample, not the clip."""
    meta = parse_avi(data)
    if indices is None:
        indices = list(range(meta["n_frames"]))
    return meta, [decode_frame(meta, i) for i in indices]

"""Multimodal (image/audio) column operators.

Images/audio are opaque ``binary`` columns + typed metadata
(the `images` table shape from BASELINE.json input_hint). Decode /
resize / feature-extract run as Arrow-batched pandas UDFs over
``mapInPandas``; the Spark plumbing (schemas, batch shape,
partitioning) is real and tested, while codec support is limited to
the sandbox's formats ('raw', 'jpeg' via the pure-numpy baseline
codec in functions/jpeg.py, 'png' via the full real-web codec in
functions/png.py). Other codecs raise NotImplementedError per row →
captured in the ``error`` column, never a task failure (same row-level
error containment as the fetch/extract stages).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from bisque_spark.synth import decode_image

FEATURES_SCHEMA = (
    "image_id string, w int, h int, fmt string, mean_r double, mean_g double, "
    "mean_b double, error string"
)

THUMB_SCHEMA = "image_id string, w int, h int, thumb binary, error string"


# ---- codec-free container formats (pure numpy, no codec library) ---------
#
# PPM (P6) and uncompressed 24-bit BMP are spec-trivial byte layouts:
# decoding them needs no codec, so they get REAL decoders — the
# NotImplementedError stub is reserved for formats that genuinely need
# an absent library.


def decode_ppm(data: bytes) -> tuple[np.ndarray, int, int]:
    """P6 binary PPM → (h×w×3 uint8, w, h). Handles comments and
    arbitrary header whitespace per the netpbm spec."""
    if data[:2] != b"P6":
        raise ValueError("not a P6 ppm")
    # header = 4 tokens (magic, w, h, maxval); '#' starts a comment
    tokens: list[bytes] = []
    i = 2
    while len(tokens) < 3:
        while i < len(data) and data[i : i + 1].isspace():
            i += 1
        if data[i : i + 1] == b"#":
            while i < len(data) and data[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(data) and not data[j : j + 1].isspace():
            j += 1
        tokens.append(data[i:j])
        i = j
    i += 1  # single whitespace after maxval
    w, h, maxval = int(tokens[0]), int(tokens[1]), int(tokens[2])
    if maxval != 255:
        raise ValueError(f"unsupported maxval {maxval}")
    arr = np.frombuffer(data, dtype=np.uint8, count=w * h * 3, offset=i)
    return arr.reshape(h, w, 3), w, h


def encode_ppm(pixels: np.ndarray) -> bytes:
    h, w = pixels.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(
        pixels.astype(np.uint8)
    ).tobytes()


def decode_bmp(data: bytes) -> tuple[np.ndarray, int, int]:
    """Uncompressed 24-bit BITMAPINFOHEADER BMP → (h×w×3 RGB, w, h).
    Rows are 4-byte padded, BGR, bottom-up (top-down if height < 0)."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    off = int.from_bytes(data[10:14], "little")
    w = int.from_bytes(data[18:22], "little", signed=True)
    h = int.from_bytes(data[22:26], "little", signed=True)
    bpp = int.from_bytes(data[28:30], "little")
    comp = int.from_bytes(data[30:34], "little")
    if bpp != 24 or comp != 0:
        raise NotImplementedError(f"bmp bpp={bpp} compression={comp}")
    top_down, h = h < 0, abs(h)
    stride = (w * 3 + 3) & ~3
    rows = np.frombuffer(
        data, dtype=np.uint8, count=stride * h, offset=off
    ).reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if not top_down:
        rows = rows[::-1]
    return rows[..., ::-1].copy(), w, h  # BGR → RGB


def encode_bmp(pixels: np.ndarray) -> bytes:
    h, w = pixels.shape[:2]
    stride = (w * 3 + 3) & ~3
    body = np.zeros((h, stride), dtype=np.uint8)
    body[:, : w * 3] = pixels[::-1, :, ::-1].reshape(h, w * 3)  # RGB→BGR, bottom-up
    raw = body.tobytes()
    header = (
        b"BM"
        + (54 + len(raw)).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(raw).to_bytes(4, "little")
        + b"\x00" * 16
    )
    return header + raw


def _decode(row_bytes, fmt: str, w: int, h: int) -> np.ndarray:
    data = bytes(row_bytes)
    if fmt == "ppm":
        arr, _, _ = decode_ppm(data)
        return arr
    if fmt == "bmp":
        arr, _, _ = decode_bmp(data)
        return arr
    if fmt == "ico":
        # favicon container: best entry's own dims, not the row's
        from bisque_spark.functions.ico import decode_ico

        return decode_ico(data)
    pixels = decode_image(data, fmt)
    return np.frombuffer(pixels, dtype=np.uint8).reshape(h, w, 3)


def _row_orientation(data) -> int:
    """EXIF tag-274 of the row bytes (1 when absent / non-JPEG /
    hostile — the conservative per-row contract)."""
    from bisque_spark.functions.exif import extract_exif

    try:
        o = extract_exif(bytes(data)).get("orientation")
    except Exception:  # noqa: BLE001 — hostile bytes never kill a task
        o = None
    return o if isinstance(o, int) and 1 <= o <= 8 else 1


def oriented_pixels(arr: np.ndarray, orientation: int | None) -> np.ndarray:
    """Viewer-space pixels: apply the EXIF orientation before any
    pixel-space feature (phash/thumbnail/embedding) — without this,
    tag-274 rotated phone photos hash differently from their upright
    re-encodes. Exposed separately (not auto-applied inside the
    existing feature operators) so committed phash oracles stay
    stable; curation plans opt in."""
    from bisque_spark.functions.exif import apply_orientation

    return apply_orientation(arr, orientation or 1)


def _per_row(
    df: DataFrame,
    cols: tuple[str, ...],
    schema: str,
    compute,
    echo: tuple[str, ...],
) -> DataFrame:
    """The row loop every multimodal stage runs in: ``mapInPandas`` over
    ``cols``, one output frame per Arrow batch.

    Per row, the ``echo`` input columns pass through, then
    ``compute(row)`` (row = {col: value}) yields dicts of computed
    columns, each kept as soon as it is yielded. A failure keeps what
    was already yielded and fills the ``error`` column (row-level
    containment — hostile bytes never kill the task):
    NotImplementedError → ``codec_unavailable:<row["fmt"]>``, anything
    else → ``decode_error:<TypeName>``. Output columns nobody set are NULL.
    """
    out_cols = [field.split()[0] for field in schema.split(",")]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {c: [] for c in out_cols}
            for vals in zip(*(pdf[c] for c in cols)):
                row = dict(zip(cols, vals))
                got = {c: row[c] for c in echo}
                try:
                    for part in compute(row):
                        got.update(part)
                except NotImplementedError:
                    got["error"] = f"codec_unavailable:{row['fmt']}"
                except Exception as exc:  # noqa: BLE001
                    got["error"] = f"decode_error:{type(exc).__name__}"
                for c in out_cols:
                    out[c].append(got.get(c))
            yield pd.DataFrame(out)

    return df.select(*cols).mapInPandas(run, schema=schema)


# ---- the decode-once image stage ------------------------------------------
#
# Every image operator is one decode per row (+ the EXIF orientation
# when asked) followed by a list of per-array parts, each a function
# (pixels, w, h) → computed columns. w/h are the row's declared dims,
# or the oriented pixel dims under orient=True; the thumbnail and
# vector grids index from them.

_IMAGE_COLS = ("image_id", "bytes", "w", "h", "fmt")


def _image_stage(
    images: DataFrame,
    schema: str,
    parts: list,
    echo: tuple[str, ...] = ("image_id",),
    orient: bool = False,
) -> DataFrame:
    def compute(row):
        w, h = int(row["w"]), int(row["h"])
        arr = _decode(row["bytes"], row["fmt"], w, h)
        if orient:
            arr = oriented_pixels(arr, _row_orientation(row["bytes"]))
            h, w = arr.shape[0], arr.shape[1]
        for part in parts:
            yield part(arr, w, h)

    return _per_row(images, _IMAGE_COLS, schema, compute, echo)


def _grid(n: int, k: int) -> np.ndarray:
    """k nearest-neighbour sample positions over 0..n-1."""
    return np.linspace(0, n - 1, k).astype(int)


def _dims(arr: np.ndarray, w: int, h: int) -> dict:
    return {"w": w, "h": h}


def _means(arr: np.ndarray, w: int, h: int) -> dict:
    """Per-channel means (the feature-extraction stand-in)."""
    return {
        f"mean_{c}": float(arr[..., i].mean()) for i, c in enumerate("rgb")
    }


def _thumbnail(target: int, own_dims: bool = False):
    """Nearest-neighbour thumbnail on a min(target, dim) grid (a
    deterministic resize; small images are not upsampled). own_dims
    reports the thumbnail's w/h instead of the image's."""

    def part(arr: np.ndarray, w: int, h: int) -> dict:
        t = arr[np.ix_(_grid(h, min(target, h)), _grid(w, min(target, w)))]
        got = {"thumb": t.tobytes()}
        if own_dims:
            got["h"], got["w"] = t.shape[0], t.shape[1]
        return got

    return part


def image_features(images: DataFrame, orient: bool = False) -> DataFrame:
    """Per-image channel means (the feature-extraction stand-in).

    orient=True applies the EXIF tag-274 transform after decode so the
    reported dims (and any pixel-order-dependent downstream) are
    viewer-space — a tag-6 phone photo then features identically to
    its upright re-encode. Channel means are orientation-invariant by
    construction; w/h swap for orientations 5-8."""
    return _image_stage(
        images, FEATURES_SCHEMA, [_dims, _means],
        echo=("image_id", "w", "h", "fmt"), orient=orient,
    )


EXIF_SCHEMA = (
    "image_id string, orientation int, make string, model string, "
    "datetime_original string, has_exif boolean"
)


def _exif_row(row):
    from bisque_spark.functions.exif import extract_exif

    yield {"has_exif": False}  # what a row whose parse fails keeps
    d = extract_exif(bytes(row["bytes"]))
    yield {
        "orientation": d.get("orientation"),
        "make": d.get("make"),
        "model": d.get("model"),
        "datetime_original": d.get("datetime_original"),
        "has_exif": bool(d),
    }


def image_exif(images: DataFrame) -> DataFrame:
    """Per-image EXIF provenance (functions/exif.py): orientation tag,
    camera make/model, capture time. Marker-stream walk only — the
    entropy payload is never decoded, so this costs parse-of-headers
    per row, not a pixel pass. Non-JPEG / EXIF-less / unparseable rows
    get NULLs with has_exif = false (per-row honesty contract; no
    error column)."""
    return _per_row(
        images, ("image_id", "bytes"), EXIF_SCHEMA, _exif_row, echo=("image_id",)
    )


def image_thumbnails(images: DataFrame, target: int = 8) -> DataFrame:
    """Nearest-neighbour thumbnails; w/h are the thumbnail's dims
    (NULL on error)."""
    return _image_stage(images, THUMB_SCHEMA, [_thumbnail(target, own_dims=True)])


PIPELINE_SCHEMA = (
    "image_id string, w int, h int, fmt string, mean_r double, mean_g double, "
    "mean_b double, thumb binary, error string"
)


def image_pipeline(
    images: DataFrame, thumb_target: int = 8, orient: bool = False
) -> DataFrame:
    """Fused features + thumbnail stage: ONE decode per image (the
    decode dominates at 100 TB — running image_features and
    image_thumbnails separately pays it twice). Emits the features
    columns plus the thumbnail blob in a single Arrow pass.

    orient=True (VERDICT r6 #2) applies the EXIF tag-274 transform
    after decode, so thumbnails/dims are viewer-space: a tag-6 phone
    photo then thumbs byte-identically to its upright re-encode
    instead of hashing as a different image. The marker-walk EXIF
    extraction is header-only — no second pixel pass."""
    return _image_stage(
        images, PIPELINE_SCHEMA, [_dims, _means, _thumbnail(thumb_target)],
        echo=("image_id", "w", "h", "fmt"), orient=orient,
    )


QUALITY_SCHEMA = (
    "image_id string, sharpness double, entropy double, "
    "colorfulness double, error string"
)


def _gray(arr: np.ndarray) -> np.ndarray:
    """ITU-R BT.601 luma, float64."""
    a = arr.astype(np.float64)
    return 0.299 * a[..., 0] + 0.587 * a[..., 1] + 0.114 * a[..., 2]


def sharpness_of(arr: np.ndarray) -> float:
    """Variance of the 3×3 Laplacian of the luma — the standard
    no-reference blur metric (higher = sharper). 0.0 when the image
    is too small for the kernel."""
    g = _gray(arr)
    if g.shape[0] < 3 or g.shape[1] < 3:
        return 0.0
    lap = (
        g[:-2, 1:-1] + g[2:, 1:-1] + g[1:-1, :-2] + g[1:-1, 2:]
        - 4.0 * g[1:-1, 1:-1]
    )
    return float(lap.var())


def entropy_of(arr: np.ndarray) -> float:
    """Shannon entropy (bits) of the 256-bin luma histogram — near 0
    for flat/synthetic fills, up to 8 for noise-like content."""
    counts = np.bincount(
        np.clip(_gray(arr), 0, 255).astype(np.uint8).ravel(), minlength=256
    )
    p = counts[counts > 0] / counts.sum()
    return float(-(p * np.log2(p)).sum())


def colorfulness_of(arr: np.ndarray) -> float:
    """Hasler & Süsstrunk (SPIE 2003) colorfulness:
    sqrt(σ²_rg + σ²_yb) + 0.3·sqrt(μ²_rg + μ²_yb) over the opponent
    axes rg = R−G, yb = (R+G)/2 − B. 0 for grayscale images."""
    a = arr.astype(np.float64)
    rg = a[..., 0] - a[..., 1]
    yb = 0.5 * (a[..., 0] + a[..., 1]) - a[..., 2]
    return float(
        np.sqrt(rg.var() + yb.var())
        + 0.3 * np.sqrt(rg.mean() ** 2 + yb.mean() ** 2)
    )


def _quality(arr: np.ndarray, w: int, h: int) -> dict:
    return {
        "sharpness": sharpness_of(arr),
        "entropy": entropy_of(arr),
        "colorfulness": colorfulness_of(arr),
    }


def _luma_vec(target: int):
    """FIXED-length grid (unlike the thumbnail's): tiny images upsample
    by nearest neighbour so every vector is target² dims, as the IVF
    centroid math requires. Luma scaled to [0,1]: a cheap, fully
    in-sandbox stand-in for a learned embedding with the right
    invariance (near-identical pixels → near-identical vectors) for
    diversity sampling."""

    def part(arr: np.ndarray, w: int, h: int) -> dict:
        t = arr[np.ix_(_grid(h, target), _grid(w, target))]
        return {"thumb_vec": (_gray(t).ravel() / 255.0).astype(np.float32)}

    return part


def image_quality(images: DataFrame) -> DataFrame:
    """No-reference quality signals for the curation funnel
    (plans/curate_images.py): blur cut by Laplacian variance, flat
    synthetic fills by histogram entropy, grayscale spam by
    colorfulness. Decode once per image; undecodable rows route to the
    error column."""
    return _image_stage(images, QUALITY_SCHEMA, [_quality])


SIGNALS_SCHEMA = (
    "image_id string, sharpness double, entropy double, "
    "colorfulness double, thumb_vec array<float>, error string"
)


def image_signals(images: DataFrame, thumb_target: int = 8) -> DataFrame:
    """Fused curation-signals stage for
    plans/curate_images.run_image_curation: ONE decode per image feeds
    BOTH the quality formulas and the thumbnail luma vector that the
    diversity sampler embeds on (running image_quality and a thumbnail
    pass separately pays the decode twice)."""
    return _image_stage(
        images, SIGNALS_SCHEMA, [_quality, _luma_vec(thumb_target)]
    )


# ---- audio columns --------------------------------------------------------
#
# Same opaque-binary + typed-metadata pattern as images. Raw s16le PCM
# and RIFF/WAVE are decodable in-sandbox (numpy); compressed codecs
# raise NotImplementedError per row → error column (the Spark plumbing
# — schema, batching, partitioning — is real; the codec is the stubbed
# part).

AUDIO_FEATURES_SCHEMA = (
    "media_id string, fmt string, sample_rate int, duration_s double, "
    "rms double, peak double, error string"
)


def synth_audio(media_id: str) -> dict:
    """Deterministic 8 kHz s16le PCM clip derived from the id."""
    sample_rate = 8000
    import numpy as np

    from bisque_spark.hashing import xxh64

    rng_seed = xxh64(("audio:" + media_id).encode()) % (2**32)
    rng = np.random.RandomState(rng_seed)
    n = int(sample_rate * (0.1 + (rng_seed % 20) / 100))  # 0.1-0.3 s
    wave = (rng.standard_normal(n) * 3000).astype(np.int16)
    return {
        "bytes": wave.tobytes(),
        "fmt": "pcm_s16le",
        "sample_rate": sample_rate,
    }


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE container with 16-bit PCM → (int16 samples, rate).
    Pure byte-layout parsing (walks the chunk list for fmt/data) — a
    codec-free container, like PPM/BMP on the image side."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, rate, bits, n_ch, pcm = 12, None, None, None, None
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        size = int.from_bytes(data[pos + 4 : pos + 8], "little")
        body = data[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt_tag = int.from_bytes(body[0:2], "little")
            if fmt_tag != 1:  # 1 = integer PCM
                raise NotImplementedError(f"wav format tag {fmt_tag}")
            n_ch = int.from_bytes(body[2:4], "little")
            rate = int.from_bytes(body[4:8], "little")
            bits = int.from_bytes(body[14:16], "little")
        elif cid == b"data":
            pcm = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or pcm is None:
        raise ValueError("wav missing fmt/data chunk")
    if bits != 16:
        raise NotImplementedError(f"wav bits={bits}")
    wave = np.frombuffer(pcm, dtype=np.int16)
    if n_ch and n_ch > 1:  # downmix to mono (mean of channels)
        wave = (
            wave[: len(wave) - len(wave) % n_ch]
            .reshape(-1, n_ch)
            .mean(axis=1)
            .astype(np.int16)
        )
    return wave, rate


def encode_wav(wave: np.ndarray, rate: int) -> bytes:
    """16-bit PCM → RIFF/WAVE. A 2-D (frames, channels) array encodes
    as interleaved multi-channel with the channel count in the header;
    1-D encodes mono."""
    arr = np.asarray(wave, dtype=np.int16)
    n_ch = arr.shape[1] if arr.ndim == 2 else 1
    pcm = np.ascontiguousarray(arr).tobytes()
    block_align = 2 * n_ch
    fmt = (
        (1).to_bytes(2, "little")
        + n_ch.to_bytes(2, "little")
        + rate.to_bytes(4, "little")
        + (rate * block_align).to_bytes(4, "little")
        + block_align.to_bytes(2, "little")
        + (16).to_bytes(2, "little")
    )
    chunks = b"fmt " + len(fmt).to_bytes(4, "little") + fmt
    chunks += b"data" + len(pcm).to_bytes(4, "little") + pcm
    # RIFF chunks are word-aligned; int16 PCM is always even, so this
    # pad only fires if a future 8-bit path reuses the encoder
    if len(pcm) & 1:
        chunks += b"\x00"
    return b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks


def _audio_row(row):
    fmt, sr = row["fmt"], row["sample_rate"]
    # the metadata rate passes through on error (NULL/NaN → None)
    yield {"sample_rate": None if pd.isna(sr) else int(sr)}
    if fmt == "pcm_s16le":
        wave = np.frombuffer(bytes(row["bytes"]), dtype=np.int16)
    elif fmt == "wav":
        # the container's authoritative rate overrides the metadata
        wave, sr = decode_wav(bytes(row["bytes"]))
        yield {"sample_rate": sr}
    else:
        raise NotImplementedError(fmt)
    sr = int(sr)
    f = wave.astype(np.float64)
    yield {
        "sample_rate": sr,
        "duration_s": float(len(wave) / sr),
        "rms": float(np.sqrt((f * f).mean())) if len(f) else 0.0,
        "peak": float(np.abs(f).max()) if len(f) else 0.0,
    }


def audio_features(media: DataFrame) -> DataFrame:
    return _per_row(
        media, ("media_id", "bytes", "fmt", "sample_rate"),
        AUDIO_FEATURES_SCHEMA, _audio_row, echo=("media_id", "fmt"),
    )


def phash_near_pairs(images: DataFrame, max_hamming: int = 10) -> DataFrame:
    """Perceptual-hash near-dup pairs via the pigeonhole banding shared
    with SimHash (dedup.simhash_pairs_from_sigs): n_bands =
    max_hamming+1 contiguous bands guarantee every within-distance pair
    shares a band key (round 1 hard-coded 4 bands — silent recall loss
    for hamming > 3)."""
    from bisque_spark.operators.dedup import simhash_pairs_from_sigs

    sig = images.select(
        F.col("image_id").alias("img"), F.col("phash").alias("simhash")
    )
    return simhash_pairs_from_sigs(
        sig, "img", max_hamming=max_hamming
    ).select(
        F.col("id_a"), F.col("id_b"), F.col("hamming")
    )

"""Multimodal image-column plumbing: decode, features, thumbnails."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from bisque_spark.operators.extract import materialize_images_batches
from bisque_spark.operators.multimodal import (
    image_features,
    image_thumbnails,
    phash_near_pairs,
)
from bisque_spark.synth import decode_image, synth_image


@pytest.fixture(scope="module")
def images(spark):
    ids = spark.range(30).select(
        F.concat(F.lit("img-t-"), F.col("id")).alias("image_id"),
        F.lit("cap").alias("caption"),
    )
    return ids.mapInPandas(
        materialize_images_batches,
        schema="image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long",
    ).cache()


def test_features_match_numpy(spark, images):
    feats = {r["image_id"]: r for r in image_features(images).collect()}
    assert all(r["error"] is None for r in feats.values())
    for image_id in ["img-t-0", "img-t-7"]:
        meta = synth_image(image_id)
        arr = np.frombuffer(
            decode_image(meta["bytes"], meta["fmt"]), dtype=np.uint8
        ).reshape(meta["h"], meta["w"], 3)
        r = feats[image_id]
        assert abs(r["mean_r"] - arr[..., 0].mean()) < 1e-9
        assert abs(r["mean_b"] - arr[..., 2].mean()) < 1e-9


def test_thumbnails(spark, images):
    rows = image_thumbnails(images, target=8).collect()
    for r in rows:
        assert r["error"] is None
        assert r["w"] <= 8 and r["h"] <= 8
        assert len(r["thumb"]) == r["w"] * r["h"] * 3


def test_unknown_codec_contained(spark):
    df = spark.createDataFrame(
        [("x", b"\x00\x01", 2, 2, "avif")],
        "image_id string, bytes binary, w int, h int, fmt string",
    )
    r = image_features(df).first()
    assert r["error"] == "codec_unavailable:avif"
    assert r["mean_r"] is None


def test_audio_features(spark):
    from bisque_spark.operators.multimodal import (
        audio_features,
        synth_audio,
    )

    rows = []
    for i in range(10):
        a = synth_audio(f"aud-{i}")
        rows.append((f"aud-{i}", a["bytes"], a["fmt"], a["sample_rate"]))
    # one corrupted-codec row
    rows.append(("aud-bad", b"\x00\x01", "mp3", 44100))
    df = spark.createDataFrame(
        rows, "media_id string, bytes binary, fmt string, sample_rate int"
    )
    out = {r["media_id"]: r for r in audio_features(df).collect()}
    ok = [r for mid, r in out.items() if mid != "aud-bad"]
    assert all(r["error"] is None for r in ok)
    # numpy oracle for one clip
    a = synth_audio("aud-0")
    wave = np.frombuffer(a["bytes"], dtype=np.int16).astype(np.float64)
    assert abs(out["aud-0"]["rms"] - np.sqrt((wave * wave).mean())) < 1e-9
    assert abs(out["aud-0"]["duration_s"] - len(wave) / 8000) < 1e-12
    assert out["aud-bad"]["error"] == "codec_unavailable:mp3"


def test_phash_pairs_identical_images(spark, images):
    # duplicate one image id → identical phash → hamming 0 pair
    dup = images.limit(1).withColumn("image_id", F.lit("img-t-0-copy"))
    out = phash_near_pairs(images.unionByName(dup), max_hamming=0)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert any("img-t-0-copy" in p for pair in got for p in pair)


def test_ppm_bmp_roundtrip_and_features(spark):
    """Codec-free container formats get REAL decoders: P6 PPM and
    24-bit BMP round-trip bit-exactly and flow through the
    image_features stage with correct channel means (numpy oracle);
    malformed bytes land in the error column, never a task failure."""
    import numpy as np

    from bisque_spark.operators.multimodal import (
        decode_bmp,
        decode_ppm,
        encode_bmp,
        encode_ppm,
        image_features,
    )

    rng = np.random.RandomState(3)
    pix = rng.randint(0, 256, size=(5, 7, 3), dtype=np.uint8)  # odd width → BMP pad
    for enc, dec in ((encode_ppm, decode_ppm), (encode_bmp, decode_bmp)):
        arr, w, h = dec(enc(pix))
        assert (w, h) == (7, 5)
        assert np.array_equal(arr, pix)
    # comment + whitespace in the PPM header
    commented = b"P6\n# a comment\n 7 5\n255\n" + pix.tobytes()
    arr, w, h = decode_ppm(commented)
    assert np.array_equal(arr, pix)

    rows = [
        ("i-ppm", encode_ppm(pix), 7, 5, "ppm"),
        ("i-bmp", encode_bmp(pix), 7, 5, "bmp"),
        ("i-bad", b"garbage", 7, 5, "bmp"),
        ("i-jpg", b"\xff\xd8\xff", 7, 5, "jpeg"),  # truncated JPEG
    ]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string"
    )
    got = {r["image_id"]: r for r in image_features(df).collect()}
    want = {c: float(pix[..., i].mean()) for i, c in enumerate("rgb")}
    for img in ("i-ppm", "i-bmp"):
        assert got[img]["error"] is None
        for i, c in enumerate("rgb"):
            assert abs(got[img][f"mean_{c}"] - want[c]) < 1e-9
    assert got["i-bad"]["error"].startswith("decode_error")
    # jpeg is a REAL decoder now (functions/jpeg.py): truncated
    # bytes are a decode error, not an unavailable codec
    assert got["i-jpg"]["error"].startswith("decode_error")


def test_wav_roundtrip_and_features(spark):
    """RIFF/WAVE 16-bit PCM: byte round-trip, chunk walking, stereo
    downmix, and the audio_features stage vs a numpy oracle."""
    import numpy as np

    from bisque_spark.operators.multimodal import (
        audio_features,
        decode_wav,
        encode_wav,
    )

    rng = np.random.RandomState(5)
    mono = (rng.standard_normal(801) * 2000).astype(np.int16)
    wave, rate = decode_wav(encode_wav(mono, 8000))
    assert rate == 8000 and np.array_equal(wave, mono)

    # stereo downmix: (frames, 2) encodes interleaved with n_ch=2 in
    # the header; decode returns the per-frame channel mean
    stereo = np.stack(
        [np.full(200, 100, np.int16), np.full(200, 300, np.int16)], axis=1
    )
    wave2, _ = decode_wav(encode_wav(stereo, 8000))
    assert len(wave2) == 200 and (wave2 == 200).all()

    rows = [
        ("m-wav", encode_wav(mono, 8000), "wav", 0),
        ("m-raw", mono.tobytes(), "pcm_s16le", 8000),
        ("m-mp3", b"\xffID3", "mp3", 44100),
    ]
    df = spark.createDataFrame(
        rows, "media_id string, bytes binary, fmt string, sample_rate int"
    )
    got = {r["media_id"]: r for r in audio_features(df).collect()}
    f = mono.astype(np.float64)
    want_rms = float(np.sqrt((f * f).mean()))
    for mid in ("m-wav", "m-raw"):
        assert got[mid]["error"] is None
        assert abs(got[mid]["rms"] - want_rms) < 1e-6
        assert abs(got[mid]["duration_s"] - 801 / 8000) < 1e-9
    # the container's authoritative rate overrides the metadata column
    assert got["m-wav"]["sample_rate"] == 8000
    assert got["m-mp3"]["error"] == "codec_unavailable:mp3"


def test_audio_features_null_sample_rate_on_bad_fmt(spark):
    """A row whose fmt is unsupported AND whose sample_rate is null must
    come back with the error column set — not kill the Arrow batch via
    int(None) (advice r3)."""
    from bisque_spark.operators.multimodal import audio_features

    media = spark.createDataFrame(
        [("m1", bytearray(b"\x00\x01"), "mp3", None),
         ("m2", bytearray((np.sin(np.arange(80) / 5) * 3000).astype(np.int16).tobytes()),
          "pcm_s16le", 8000)],
        "media_id string, bytes binary, fmt string, sample_rate int",
    )
    rows = {r["media_id"]: r for r in audio_features(media).collect()}
    assert rows["m1"]["error"] == "codec_unavailable:mp3"
    assert rows["m1"]["sample_rate"] is None
    assert rows["m2"]["error"] is None and rows["m2"]["duration_s"] > 0


def test_image_pipeline_fused_matches_separate_stages(spark):
    """The fused image_pipeline (one decode per image) must agree
    exactly with the separate image_features + image_thumbnails
    stages, including the error column for undecodable rows."""
    from bisque_spark.operators.multimodal import (
        image_pipeline,
    )
    from bisque_spark.synth import synth_image

    rows = []
    for i in range(10):
        m = synth_image(f"fuse-{i}")
        rows.append((f"fuse-{i}", bytearray(m["bytes"]), m["w"], m["h"], m["fmt"]))
    rows.append(("bad", bytearray(b"\x00"), 4, 4, "avif"))
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string"
    )
    fused = {r["image_id"]: r for r in image_pipeline(df, thumb_target=8).collect()}
    feats = {r["image_id"]: r for r in image_features(df).collect()}
    ths = {r["image_id"]: r for r in image_thumbnails(df, target=8).collect()}
    for iid in fused:
        f, sep_f, sep_t = fused[iid], feats[iid], ths[iid]
        assert f["error"] == sep_f["error"] == sep_t["error"]
        assert f["mean_r"] == sep_f["mean_r"]
        assert f["mean_g"] == sep_f["mean_g"]
        assert f["mean_b"] == sep_f["mean_b"]
        assert (bytes(f["thumb"]) if f["thumb"] is not None else None) == (
            bytes(sep_t["thumb"]) if sep_t["thumb"] is not None else None
        )
    assert fused["bad"]["error"] == "codec_unavailable:avif"


from hypothesis import given, settings
from hypothesis import strategies as st

from bisque_spark.operators.multimodal import decode_bmp, decode_ppm, decode_wav


@settings(max_examples=150, deadline=None)
@given(st.binary(min_size=0, max_size=300))
def test_container_decoders_contain_garbage(data):
    """PPM/BMP/WAV walks must raise contained error types on arbitrary
    bytes — the multimodal error-column contract (decode failures are
    catchable per row, never kill the Arrow batch)."""
    for fn, magic in (
        (decode_ppm, b"P6"),
        (decode_bmp, b"BM"),
        (decode_wav, b"RIFF"),
    ):
        for payload in (data, magic + data):
            try:
                fn(payload)
            except (ValueError, NotImplementedError):
                pass


def test_image_quality_matches_pure_python_oracle(spark, images):
    """Spark quality signals == an INDEPENDENT pure-python/Counter
    re-derivation of each formula (no numpy vector ops) on real
    decoded synth images."""
    import math
    from collections import Counter

    from bisque_spark.operators.multimodal import image_quality

    got = {r["image_id"]: r for r in image_quality(images).collect()}
    assert all(r["error"] is None for r in got.values())
    for image_id in ["img-t-0", "img-t-3", "img-t-11"]:
        meta = synth_image(image_id)
        arr = np.frombuffer(
            decode_image(meta["bytes"], meta["fmt"]), dtype=np.uint8
        ).reshape(meta["h"], meta["w"], 3)
        h, w = meta["h"], meta["w"]
        gray = [
            [
                0.299 * int(arr[y][x][0])
                + 0.587 * int(arr[y][x][1])
                + 0.114 * int(arr[y][x][2])
                for x in range(w)
            ]
            for y in range(h)
        ]
        # sharpness: explicit 3x3 Laplacian, two-pass variance
        lap = [
            gray[y - 1][x] + gray[y + 1][x] + gray[y][x - 1]
            + gray[y][x + 1] - 4.0 * gray[y][x]
            for y in range(1, h - 1)
            for x in range(1, w - 1)
        ]
        mu = sum(lap) / len(lap)
        sharp = sum((v - mu) ** 2 for v in lap) / len(lap)
        # entropy: Counter over clipped int luma
        cnt = Counter(
            min(255, max(0, int(gray[y][x]))) for y in range(h)
            for x in range(w)
        )
        n = h * w
        ent = -sum((c / n) * math.log2(c / n) for c in cnt.values())
        # colorfulness: Hasler-Süsstrunk by loops
        rg = [
            int(arr[y][x][0]) - int(arr[y][x][1])
            for y in range(h) for x in range(w)
        ]
        yb = [
            0.5 * (int(arr[y][x][0]) + int(arr[y][x][1]))
            - int(arr[y][x][2])
            for y in range(h) for x in range(w)
        ]

        def var(v):
            m = sum(v) / len(v)
            return sum((x - m) ** 2 for x in v) / len(v)

        col = math.sqrt(var(rg) + var(yb)) + 0.3 * math.sqrt(
            (sum(rg) / n) ** 2 + (sum(yb) / n) ** 2
        )
        r = got[image_id]
        assert abs(r["sharpness"] - sharp) < 1e-6 * max(1.0, sharp)
        assert abs(r["entropy"] - ent) < 1e-9
        assert abs(r["colorfulness"] - col) < 1e-6 * max(1.0, col)


def test_image_quality_properties(spark):
    """Degenerate inputs pin the formulas' fixed points: constant fill
    → all three 0; checkerboard → sharper than blur-like gradient;
    half-black/half-white → entropy exactly 1 bit; gray → 0 color."""
    from bisque_spark.operators.multimodal import (
        colorfulness_of,
        entropy_of,
        image_quality,
        sharpness_of,
    )

    flat = np.full((8, 8, 3), 77, dtype=np.uint8)
    assert sharpness_of(flat) == 0.0
    assert entropy_of(flat) == 0.0
    assert colorfulness_of(flat) == 0.0

    yy, xx = np.mgrid[0:16, 0:16]
    checker = (((yy + xx) % 2) * 255).astype(np.uint8)
    checker = np.stack([checker] * 3, axis=-1)
    grad = np.stack([(xx * 8).astype(np.uint8)] * 3, axis=-1)
    assert sharpness_of(checker) > sharpness_of(grad) > 0.0
    assert colorfulness_of(checker) == 0.0  # grayscale
    half = np.zeros((8, 8, 3), dtype=np.uint8)
    half[:4] = 255
    assert abs(entropy_of(half) - 1.0) < 1e-12
    assert sharpness_of(np.zeros((2, 2, 3), dtype=np.uint8)) == 0.0

    # containment: garbage bytes route to the error column
    df = spark.createDataFrame(
        [("bad-1", b"\x00\x01", 4, 4, "png")],
        "image_id string, bytes binary, w int, h int, fmt string",
    )
    [row] = image_quality(df).collect()
    assert row["error"] is not None and row["sharpness"] is None


def test_image_signals_fixed_vec(spark):
    """thumb_vec is ALWAYS thumb_target² dims — tiny images upsample —
    so the IVF centroid math downstream never sees ragged vectors."""
    from bisque_spark.operators.multimodal import image_signals

    flat2 = bytes(2 * 2 * 3)
    ramp = bytes(range(240)) * 2  # 8×20
    df = spark.createDataFrame(
        [("a", flat2, 2, 2, "raw"), ("b", ramp, 20, 8, "raw")],
        "image_id string, bytes binary, w int, h int, fmt string",
    )
    rows = {r["image_id"]: r for r in image_signals(df, 8).collect()}
    assert all(r["error"] is None for r in rows.values())
    assert all(len(r["thumb_vec"]) == 64 for r in rows.values())
    assert all(0.0 <= v <= 1.0 for r in rows.values() for v in r["thumb_vec"])


def test_orient_tag6_row_equals_upright_reencode(spark):
    """VERDICT r6 #2 done-bar: through image_pipeline(orient=True) a
    tag-274=6 JPEG features/thumbs byte-identically to its upright
    re-encode (the rotated pixels re-encoded LOSSLESSLY as PNG, so
    exact equality is well-defined), and dims are viewer-space."""
    import hashlib

    from bisque_spark.functions.exif import apply_orientation, build_exif_app1
    from bisque_spark.functions.jpeg import _seg, decode_jpeg, encode_jpeg
    from bisque_spark.operators.multimodal import image_pipeline
    from bisque_spark.functions.png import encode_png
    from bisque_spark.synth import image_pixels

    w, h = 24, 16  # non-square: orientation 6 must swap dims
    sensor = np.frombuffer(image_pixels("orient-t", w, h), np.uint8).reshape(
        h, w, 3
    )
    j = encode_jpeg(sensor, quality=98)
    rotated_row = j[:2] + _seg(0xE1, build_exif_app1(orientation=6)) + j[2:]
    upright_pixels = apply_orientation(decode_jpeg(j), 6)  # viewer space
    upright_row = encode_png(upright_pixels, filter_strategy=0)
    df = spark.createDataFrame(
        [
            ("tag6", bytearray(rotated_row), w, h, "jpeg"),
            ("upright", bytearray(upright_row), upright_pixels.shape[1],
             upright_pixels.shape[0], "png"),
        ],
        "image_id string, bytes binary, w int, h int, fmt string",
    )
    got = {r["image_id"]: r for r in
           image_pipeline(df, thumb_target=8, orient=True).collect()}
    a, b = got["tag6"], got["upright"]
    assert a["error"] is None and b["error"] is None
    assert (a["w"], a["h"]) == (h, w)  # swapped: viewer space
    assert (a["w"], a["h"]) == (b["w"], b["h"])
    assert bytes(a["thumb"]) == bytes(b["thumb"])
    assert (a["mean_r"], a["mean_g"], a["mean_b"]) == (
        b["mean_r"], b["mean_g"], b["mean_b"])
    # orient=False: same row hashes DIFFERENTLY (sensor-native) — the
    # pre-r7 behavior the EXIF docstring warned about
    off = {r["image_id"]: r for r in
           image_pipeline(df, thumb_target=8, orient=False).collect()}
    assert bytes(off["tag6"]["thumb"]) != bytes(off["upright"]["thumb"])
    # image_features(orient=True) agrees on viewer dims
    from bisque_spark.operators.multimodal import image_features

    f = {r["image_id"]: r for r in image_features(df, orient=True).collect()}
    assert (f["tag6"]["w"], f["tag6"]["h"]) == (h, w)
    # and a hostile-bytes row is contained, not fatal, under orient
    bad = spark.createDataFrame(
        [("junk", bytearray(b"\xff\xd8\xff\xe1junk"), 4, 4, "jpeg")],
        "image_id string, bytes binary, w int, h int, fmt string",
    )
    [r] = image_pipeline(bad, orient=True).collect()
    assert r["error"] is not None


# ---- row-level containment, all nine stages ------------------------------
#
# Each stage gets an unknown-format row and a garbage-bytes row of a
# supported format; every error row must come back whole: the exact
# error label, the pass-through columns echoed, computed columns NULL.

_IMG_SCHEMA = "image_id string, bytes binary, w int, h int, fmt string"
_IMG_ROWS = [
    ("unk", bytearray(b"\x00\x01"), 3, 2, "avif"),
    ("bad", bytearray(b"\x89PNG garbage"), 3, 2, "png"),
]
_IMG_ERR = {"unk": "codec_unavailable:avif", "bad": "decode_error:ValueError"}
_IMG_FMT = {"unk": "avif", "bad": "png"}


def _image_case(op, computed, echo=True):
    """echo: the stage passes the row's w/h/fmt through on error."""

    def expect(iid):
        row = {"image_id": iid, "error": _IMG_ERR[iid], **dict.fromkeys(computed)}
        if echo:
            row.update(w=3, h=2, fmt=_IMG_FMT[iid])
        return row

    return (op, _IMG_SCHEMA, _IMG_ROWS, "image_id", {i: expect(i) for i in _IMG_ERR})


def _containment_cases():
    from bisque_spark.operators import multimodal as mm

    means = ["mean_r", "mean_g", "mean_b"]
    quality = ["sharpness", "entropy", "colorfulness"]
    return {
        "image_features": _image_case(mm.image_features, means),
        "image_features_orient": _image_case(
            lambda df: mm.image_features(df, orient=True), means
        ),
        "image_thumbnails": _image_case(
            mm.image_thumbnails, ["w", "h", "thumb"], echo=False
        ),
        "image_pipeline": _image_case(
            lambda df: mm.image_pipeline(df, orient=True), means + ["thumb"]
        ),
        "image_quality": _image_case(mm.image_quality, quality, echo=False),
        "image_signals": _image_case(
            mm.image_signals, quality + ["thumb_vec"], echo=False
        ),
        "image_exif": (
            mm.image_exif, _IMG_SCHEMA, _IMG_ROWS, "image_id",
            {
                iid: {
                    "image_id": iid, "orientation": None, "make": None,
                    "model": None, "datetime_original": None,
                    "has_exif": False,
                }
                for iid in _IMG_ERR
            },
        ),
        "audio_features": (
            mm.audio_features,
            "media_id string, bytes binary, fmt string, sample_rate int",
            [
                ("unk", bytearray(b"\x00\x01"), "mp3", 44100),
                ("bad", bytearray(b"RIFF junk"), "wav", 8000),
                ("nul", bytearray(b"RIFF junk"), "wav", None),
            ],
            "media_id",
            {
                mid: {
                    "media_id": mid, "fmt": fmt, "sample_rate": sr,
                    "duration_s": None, "rms": None, "peak": None,
                    "error": err,
                }
                for mid, fmt, sr, err in (
                    ("unk", "mp3", 44100, "codec_unavailable:mp3"),
                    ("bad", "wav", 8000, "decode_error:ValueError"),
                    ("nul", "wav", None, "decode_error:ValueError"),
                )
            },
        ),
    }


@pytest.mark.parametrize(
    "stage",
    [
        "image_features", "image_features_orient", "image_thumbnails",
        "image_pipeline", "image_quality", "image_signals", "image_exif",
        "audio_features",
    ],
)
def test_stage_contains_bad_rows(spark, stage):
    """Unknown-format and garbage-bytes rows never fail the task: each
    stage emits them with its exact error label (codec_unavailable:<fmt>
    or decode_error:<TypeName>) and pass-through columns."""
    op, schema, rows, key, expected = _containment_cases()[stage]
    got = {r[key]: r.asDict() for r in op(spark.createDataFrame(rows, schema)).collect()}
    assert got == expected

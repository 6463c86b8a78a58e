"""Differential: engine extract operator vs reference-bisque extraction
on the synthetic web (captions must be byte-equal — BASELINE.json
input_hint invariant)."""

from bisque_spark.functions.encoding import decode_html
from bisque_spark.operators.extract import extract_page
from bisque_spark.synth import (
    World,
    decode_image,
    image_pixels,
    page_bytes,
    page_url,
    synth_image,
)
from oracle_crawler import oracle_extract


def _sample_urls(world: World, n: int = 120):
    urls = []
    for i in range(world.n_hosts):
        for p in range(4):
            urls.append(page_url(world, i, p))
            if len(urls) >= n:
                return urls
    return urls


def test_extract_matches_reference_on_synthetic_web():
    world = World(n_hosts=15)
    checked = 0
    for url in _sample_urls(world):
        status, content = page_bytes(world, url)
        if status != 200:
            continue
        text, _enc, _repl = decode_html(content)
        got = extract_page(text, url)
        ref_images, ref_links = oracle_extract(content, url)
        got_imgs = [
            (i["image_id"], i["src"], i["caption"]) for i in got["images"]
        ]
        ref_imgs = [(i["image_id"], i["src"], i["caption"]) for i in ref_images]
        assert got_imgs == ref_imgs, url
        assert got["links"] == ref_links, url
        checked += 1
    assert checked >= 50  # enough 200-pages exercised


def test_caption_byte_equality_all_variants():
    """figcaption / alt / p.caption paths all hit + byte-equal."""
    world = World(n_hosts=30)
    kinds = set()
    for url in _sample_urls(world, n=200):
        status, content = page_bytes(world, url)
        if status != 200:
            continue
        text, _, _ = decode_html(content)
        got = extract_page(text, url)
        ref_images, _ = oracle_extract(content, url)
        for g, r in zip(got["images"], ref_images):
            assert g["caption"] == r["caption"]
            assert isinstance(g["caption"], str)
        for g in got["images"]:
            kinds.add(g["caption"][:1] == "" or "x")
    assert kinds  # at least some images existed


def test_nofollow_policy():
    from bisque_spark.operators.extract import extract_page

    html = (
        '<a href="/keep.html">k</a>'
        '<a href="/drop.html" rel="external  nofollow">d</a>'
        '<a href="/keep2.html" rel="next">k2</a>'
    )
    base = "http://h.test/"
    default = extract_page(html, base)["links"]
    assert len(default) == 3  # oracle contract: follow everything
    strict = extract_page(html, base, respect_nofollow=True)["links"]
    assert strict == ["http://h.test/keep.html", "http://h.test/keep2.html"]


def test_image_roundtrip_lossless():
    img = synth_image("img-test-1")
    assert img["fmt"] == "png"  # fixture anchor under the r7 fmt mix
    pixels = decode_image(img["bytes"], img["fmt"])
    assert len(pixels) == img["w"] * img["h"] * 3
    # PNG path decodes to identical pixels (PSNR = ∞ ≥ 40dB gate)
    raw = image_pixels("img-test-1", img["w"], img["h"])
    assert pixels == raw
    from bisque_spark.functions.png import decode_png

    dec = decode_png(bytes(img["bytes"]))
    assert dec.shape == (img["h"], img["w"], 3)
    assert dec.tobytes() == raw


def test_world_plants_all_six_formats_and_all_roundtrip():
    """VERDICT r6 #3 done-bar: the synth world emits every codec-layer
    format, and each row meets its decode invariant — byte-equal for
    the lossless fmts (gif truth = the posterized grid), PSNR ≥ 40 dB
    for jpeg. Favicons decode to the 16×16 best-entry grid."""
    import numpy as np

    from bisque_spark.functions.jpeg import psnr
    from bisque_spark.synth import posterize64

    seen = set()
    for i in range(120):
        iid = f"img-mix-{i}"
        m = synth_image(iid)
        seen.add(m["fmt"])
        got = decode_image(m["bytes"], m["fmt"])
        assert len(got) == m["w"] * m["h"] * 3
        truth = image_pixels(iid, m["w"], m["h"])
        if m["fmt"] == "gif":
            assert got == posterize64(truth)
        elif m["fmt"] == "webp":
            # palette webp rows posterize like gif; others are exact
            assert got in (truth, posterize64(truth))
        elif m["fmt"] == "jpeg":
            a = np.frombuffer(truth, np.uint8).reshape(m["h"], m["w"], 3)
            b = np.frombuffer(got, np.uint8).reshape(m["h"], m["w"], 3)
            assert psnr(a, b) >= 40.0
        else:
            assert got == truth
    assert seen == {"raw", "png", "jpeg", "gif", "tiff", "webp"}
    fav = synth_image("favicon:h001.test")
    assert fav["fmt"] == "ico" and (fav["w"], fav["h"]) == (16, 16)
    assert decode_image(fav["bytes"], "ico") == image_pixels(
        "favicon:h001.test", 16, 16
    )


def test_root_fetch_emits_favicon_entry():
    """A successful root-page fetch appends the protocol-level
    /favicon.ico image entry; non-root pages don't."""
    import pandas as pd

    from bisque_spark.operators.extract import make_fetch_extract_batches
    from bisque_spark.synth import World

    world = World(n_hosts=4, n_seeds=4, pages_per_host=6)
    host = world.host(0)
    fe = make_fetch_extract_batches(world)
    [out] = list(
        fe(iter([pd.DataFrame({"url": [
            f"http://{host}/", f"http://{host}/p1.html"
        ]})]))
    )
    root_imgs = out["images"][0]
    assert root_imgs and root_imgs[-1]["image_id"] == f"favicon:{host}"
    assert root_imgs[-1]["src"] == "/favicon.ico"
    assert not any(
        i["image_id"].startswith("favicon:") for i in out["images"][1]
    )

"""Deterministic synthetic web — fixture world for crawl correctness + bench.

No network exists in the sandbox (and the bench must be reproducible),
so "fetch" means: generate the page for a URL as a pure function of
``xxh64(canonical_url)``. The same functions drive the Spark fetch
operator (inside ``mapInPandas``) and the single-process oracle crawler,
making every byte of the crawl deterministic and comparable.

World properties (FIXTURES.md §3, SURVEY.md §7.1 step 2):
- Zipf-skewed host popularity: out-links target head hosts heavily,
  exercising salting/AQE skew handling.
- Page HTML exercises the reference's parse semantics: entities
  (named/decimal/hex/cp1252-numeric), whitespace collapse, <pre>,
  multi-valued class attrs, figure/figcaption vs alt vs p.caption
  captions, comments, doctype, script/style string containers.
- Encodings mixture: utf-8 (+meta), utf-8 BOM, declared windows-1252,
  undeclared windows-1252 with smart-quote bytes (invalid utf-8 → the
  dammit fallback chain is exercised deterministically).
- Image bytes: deterministic RGB grids; fmt 'raw' (uncompressed),
  'png' (functions/png.py, filter type 0) — losslessly decodable for the
  PSNR gate. phash = xxhash64 of the raw pixel buffer.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from functools import lru_cache

from bisque_spark.hashing import MASK64, xxh64, xxhash64_bytes, xxhash64_str


@dataclass(frozen=True)
class World:
    """Scale-free knobs for the synthetic web (seed 42 everywhere)."""

    n_hosts: int = 20
    pages_per_host: int = 40
    n_seeds: int = 30
    links_per_page: int = 6
    images_per_page_max: int = 3
    host_budget_base: int = 8  # politeness: per-epoch fetch budget at delay 1.0
    zipf_power: float = 3.0  # higher → heavier head

    def host(self, i: int) -> str:
        return f"h{i:04d}.example{i % 7}.test"

    def host_count_pages(self, host: str) -> int:
        # head hosts are bigger
        idx = int(host[1:5])
        return max(4, int(self.pages_per_host * (1.0 / (1 + idx) ** 0.3)))


class DetRng:
    """xorshift64* PRNG seeded from a string — identical in oracle/Spark."""

    def __init__(self, key: str):
        self.state = xxh64(key.encode("utf-8")) or 0x9E3779B97F4A7C15

    def next_u64(self) -> int:
        x = self.state
        x ^= (x >> 12) & MASK64
        x = (x ^ (x << 25)) & MASK64
        x ^= (x >> 27) & MASK64
        self.state = x
        return (x * 0x2545F4914F6CDD1D) & MASK64

    def u01(self) -> float:
        return self.next_u64() / 2.0**64

    def randint(self, a: int, b: int) -> int:
        """Uniform in [a, b]."""
        return a + self.next_u64() % (b - a + 1)

    def choice(self, seq):
        return seq[self.next_u64() % len(seq)]


_WORDS = (
    "data spark frontier crawl image caption engine batch shuffle "
    "partition vector arrow parquet iceberg bloom politeness robots "
    "queue epoch lineage resume skew salt broadcast window catalyst"
).split()
_FANCY = ["café", "jalapeño", "naïve", "—dash—"]
# ways to spell é in markup → all decode to \xe9 (parser.py:159-216)
_E_ACUTE_FORMS = ["&eacute;", "&#233;", "&#xE9;", "é"]


def _words(rng: DetRng, n: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n))


# ---- images -----------------------------------------------------------------


def image_pixels(image_id: str, w: int, h: int) -> bytes:
    """Deterministic RGB byte grid — counter-mode XXH64, vectorized.

    r7: the previous per-byte xorshift walk cost 2.6 ms/image of pure
    Python and was the floor of the crawl's image-materialize stage
    (~3000 images/epoch at bench scale). Counter mode keeps the same
    contract (a pure function of image_id, identical in oracle and
    Spark twins — FIXTURES.md §1) at ~30 µs/image."""
    import numpy as np

    from bisque_spark.hashing import xxh64, xxh64_vec

    n = w * h * 3
    seed = xxh64(("px:" + image_id).encode("utf-8"))
    nblocks = (n + 7) // 8
    ctr = (
        np.arange(nblocks, dtype="<u8")
        .view(np.uint8)
        .reshape(nblocks, 8)
    )
    words = np.ascontiguousarray(xxh64_vec(ctr, seed=seed))
    return words.view(np.uint8)[:n].tobytes()


def posterize64(pixels: bytes) -> bytes:
    """2 bits/channel (levels 0/85/170/255) → ≤64 distinct colors: the
    deterministic palette reduction for GIF rows (encode_gif is exact,
    not a quantizer — the posterized grid IS the ground truth, so the
    lossless round-trip invariant holds bit-for-bit)."""
    import numpy as np

    a = np.frombuffer(pixels, dtype=np.uint8)
    return ((a >> 6) * np.uint8(85)).tobytes()


def synth_favicon(host: str) -> dict:
    """host → deterministic /favicon.ico row: a 2-entry ICO (an 8×8
    low-depth DIB plus the 16×16 best entry as PNG-in-ICO or a DIB).
    decode_ico picks the 16×16 entry, so truth pixels are that grid
    (alpha fully opaque ⇒ transparency-over-white is the identity)."""
    import numpy as np

    from bisque_spark.functions.ico import encode_ico

    rng = DetRng("ico:" + host)
    iid = "favicon:" + host
    best = np.frombuffer(image_pixels(iid, 16, 16), np.uint8).reshape(
        16, 16, 3
    )
    small = np.frombuffer(
        image_pixels(iid + ":8", 8, 8), np.uint8
    ).reshape(8, 8, 3)
    kind = ("png", "dib32", "dib24")[rng.randint(0, 2)]
    opts: dict = {"kind": kind}
    if kind == "dib32":
        opts["alpha"] = np.full((16, 16), 255, np.uint8)
    data = encode_ico([(small, {"kind": "dib24"}), (best, opts)])
    return {
        "bytes": data,
        "w": 16,
        "h": 16,
        "fmt": "ico",
        "phash": xxhash64_bytes(best.tobytes()),
    }


def synth_image(image_id: str) -> dict:
    """image_id → {bytes, w, h, fmt, phash} (FIXTURES.md §1).

    Fmt mix (r7): raw 25% / png 30% / gif 10% / tiff 5% / webp 5% /
    jpeg 25% — every decoder in the codec layer sees crawl traffic,
    not just unit tests (VERDICT r6 #3/#4). ``favicon:<host>`` ids
    dispatch to synth_favicon (the /favicon.ico protocol fetch)."""
    if image_id.startswith("favicon:"):
        return synth_favicon(image_id[len("favicon:"):])
    rng = DetRng("img:" + image_id)
    w = rng.randint(8, 64)
    h = rng.randint(8, 64)
    pixels = image_pixels(image_id, w, h)
    u = rng.u01()
    fmt = (
        "raw" if u < 0.25
        else "png" if u < 0.55
        else "gif" if u < 0.65
        else "tiff" if u < 0.70
        else "webp" if u < 0.75
        else "jpeg"
    )
    if fmt == "raw":
        data = pixels
    elif fmt == "png":
        import numpy as np

        from bisque_spark.functions.png import encode_png

        data = encode_png(
            np.frombuffer(pixels, np.uint8).reshape(h, w, 3),
            filter_strategy=0,
        )
    elif fmt == "webp":
        import numpy as np

        from bisque_spark.functions.webp import encode_webp_lossless

        v = rng.u01()
        if v < 0.25:
            # palette layout: posterized grid (≤64 colors) is the truth
            pixels = posterize64(pixels)
            arr = np.frombuffer(pixels, np.uint8).reshape(h, w, 3)
            data = encode_webp_lossless(arr, palette=True)
        else:
            arr = np.frombuffer(pixels, np.uint8).reshape(h, w, 3)
            data = encode_webp_lossless(
                arr,
                subtract_green=True,
                cache_bits=rng.randint(2, 8) if v < 0.5 else 0,
            )
    elif fmt == "gif":
        import numpy as np

        from bisque_spark.functions.gif import encode_gif

        # the posterized grid is the ground truth (phash/PSNR gate)
        pixels = posterize64(pixels)
        arr = np.frombuffer(pixels, np.uint8).reshape(h, w, 3)
        data = encode_gif(arr, interlace=rng.u01() < 0.25)
    elif fmt == "tiff":
        import numpy as np

        from bisque_spark.functions.tiff import encode_tiff

        arr = np.frombuffer(pixels, np.uint8).reshape(h, w, 3)
        comp = (1, 8, 32773, 5)[rng.randint(0, 3)]  # lzw least (slowest)
        data = encode_tiff(
            arr,
            endian="<" if rng.u01() < 0.5 else ">",
            compression=comp,
            predictor=2 if comp in (5, 8) and rng.u01() < 0.5 else 1,
        )
    else:
        # REAL lossy rows (VERDICT r3 #5): JPEG at quality 98 —
        # measured ~43.5 dB on this pixel class, clearing the
        # input_hint's PSNR >= 40 dB invariant with margin while
        # remaining genuinely lossy. A third of the jpeg rows are
        # PROGRESSIVE (SOF2, identical quantized coefficients ⇒
        # identical pixels), so both decode profiles run through the
        # real crawl/feature pipeline, not just unit tests.
        import numpy as np

        from bisque_spark.functions.jpeg import (
            encode_jpeg,
            encode_jpeg_progressive,
        )

        arr = np.frombuffer(pixels, dtype=np.uint8).reshape(h, w, 3)
        if rng.u01() < 1 / 3:
            # half the progressive rows use successive approximation —
            # the dominant real-web progressive layout — so all three
            # decode profiles run through the real crawl pipeline
            data = encode_jpeg_progressive(
                arr, quality=98, successive=rng.u01() < 0.5
            )
        else:
            data = encode_jpeg(arr, quality=98)
        if rng.u01() < 1 / 3:
            # a third of jpeg rows carry an EXIF APP1 (real-web phone
            # photos do): orientation + provenance flow through the
            # crawl/feature pipeline, not just unit tests. APP1 does
            # not disturb pixel decode (tests pin this), so phash and
            # the PSNR gate are unchanged.
            from bisque_spark.functions.exif import build_exif_app1
            from bisque_spark.functions.jpeg import _seg

            app1 = _seg(
                0xE1,
                build_exif_app1(
                    orientation=rng.randint(1, 8),
                    make=f"synthcam{rng.randint(0, 4)}",
                    model=f"m{rng.randint(0, 9)}",
                    datetime_original=(
                        f"2026:08:{rng.randint(1, 28):02d} "
                        f"{rng.randint(0, 23):02d}:00:00"
                    ),
                    big_endian=rng.u01() < 0.5,
                ),
            )
            data = data[:2] + app1 + data[2:]
    return {
        "bytes": data,
        "w": w,
        "h": h,
        "fmt": fmt,
        "phash": xxhash64_bytes(pixels),
    }


def decode_image(row_bytes: bytes, fmt: str) -> bytes:
    """→ raw RGB pixel buffer (for the PSNR/phash gate). Lossless
    formats return the exact pixels; 'jpeg' returns the codec's
    decoded pixels (lossy — compare with PSNR, not equality)."""
    if fmt == "raw":
        return row_bytes
    if fmt == "png":
        from bisque_spark.functions.png import decode_png

        return decode_png(bytes(row_bytes)).tobytes()
    if fmt == "jpeg":
        from bisque_spark.functions.jpeg import decode_jpeg

        return decode_jpeg(bytes(row_bytes)).tobytes()
    if fmt == "gif":
        from bisque_spark.functions.gif import decode_gif

        return decode_gif(bytes(row_bytes)).tobytes()
    if fmt == "tiff":
        from bisque_spark.functions.tiff import decode_tiff

        return decode_tiff(bytes(row_bytes)).tobytes()
    if fmt == "ico":
        from bisque_spark.functions.ico import decode_ico

        return decode_ico(bytes(row_bytes)).tobytes()
    if fmt == "webp":
        from bisque_spark.functions.webp import decode_webp

        # crawl-facing bound (ADVICE r7 #2): synth/crawl images are
        # ≤ 64×64; 4M px caps a hostile header's buffer allocations
        # while the predictor transform carries its own tighter
        # sub-second bound inside the decoder
        return decode_webp(bytes(row_bytes), max_pixels=1 << 22).tobytes()
    raise NotImplementedError(f"decoder for fmt={fmt!r} not available in sandbox")


# ---- page model --------------------------------------------------------------


def page_index(url: str) -> tuple[str, int] | None:
    """canonical URL → (host, page number) if it addresses a page."""
    if not url.startswith("http://"):
        return None
    rest = url[7:]
    slash = rest.find("/")
    if slash < 0:
        return None
    host, path = rest[:slash], rest[slash:]
    if path == "/":
        return host, 0
    if path.startswith("/p") and path.endswith(".html"):
        try:
            return host, int(path[2:-5])
        except ValueError:
            return None
    if path.startswith("/admin/a") and path.endswith(".html"):
        try:
            return host, 10_000 + int(path[8:-5])
        except ValueError:
            return None
    return None


def page_url(world: World, host_idx: int, page_no: int) -> str:
    host = world.host(host_idx)
    if page_no == 0:
        return f"http://{host}/"
    if page_no >= 10_000:
        return f"http://{host}/admin/a{page_no - 10_000}.html"
    return f"http://{host}/p{page_no}.html"


def _zipf_host(world: World, u: float) -> int:
    """u∈[0,1) → host index, head-heavy."""
    return min(world.n_hosts - 1, int(world.n_hosts * (u**world.zipf_power)))


@lru_cache(maxsize=8)
def _world_hosts(world: World) -> frozenset:
    """Memoized host set per (hashable, frozen) World — page_status
    used to rebuild all n_hosts f-strings on EVERY call, O(n_hosts)
    per fetched URL (r8 profile: 38% of the fused fetch+extract
    stage's python time at the bench world's 1500 hosts)."""
    return frozenset(world.host(i) for i in range(world.n_hosts))


def page_status(world: World, url: str) -> int:
    idx = page_index(url)
    if idx is None:
        return 404
    host, page_no = idx
    hidx_ok = host in _world_hosts(world)
    if not hidx_ok:
        return 404
    real_no = page_no if page_no < 10_000 else page_no - 10_000
    if real_no >= world.host_count_pages(host):
        return 404
    r = xxh64(("status:" + url).encode()) % 100
    if r < 88:
        return 200
    if r < 93:
        return 404
    if r < 97:
        return 429
    return 503


def page_html(world: World, url: str) -> str:
    """Deterministic page body (text, pre-encoding) for a 200 URL."""
    idx = page_index(url)
    assert idx is not None
    host, page_no = idx
    host_idx = int(host[1:5])
    rng = DetRng("page:" + url)
    parts = [
        "<!DOCTYPE html>\n<html><head>",
        f"<title>{_words(rng, 3)}</title>",
    ]
    parts.append("</head><body>")
    parts.append(f"<!-- generated {_words(rng, 2)} -->")
    parts.append(f"<h1 class=\"title  main \">{_words(rng, 4)}</h1>")

    # paragraphs with entity + unicode traps
    for _ in range(rng.randint(1, 4)):
        frag = [
            _words(rng, rng.randint(3, 10)),
            rng.choice(_E_ACUTE_FORMS),
            rng.choice(_FANCY),
            "&amp;",
            _words(rng, 2),
        ]
        parts.append(f"<p>{' '.join(frag)}</p>")
    if rng.u01() < 0.3:
        parts.append(f"<pre>  {_words(rng, 3)}\n   keep {_words(rng, 2)}  </pre>")
    if rng.u01() < 0.3:
        parts.append(f"<script>var v={rng.randint(0, 9)};</script>")
    if rng.u01() < 0.2:
        parts.append("<style>p { margin: 0; }</style>")

    # images with caption variants
    n_images = rng.randint(0, world.images_per_page_max)
    for k in range(n_images):
        img_src = f"/img/i{rng.randint(0, 500)}.png"
        alt = f"{_words(rng, 2)} {rng.choice(_E_ACUTE_FORMS)}"
        variant = rng.randint(0, 2)
        if variant == 0:
            cap = (
                f"{_words(rng, 2)}  <b>{_words(rng, 1)}</b> "
                f"{rng.choice(_E_ACUTE_FORMS)} {_words(rng, 1)}"
            )
            parts.append(
                f'<figure><img src="{img_src}" alt="{alt}"/>'
                f"<figcaption>{cap}</figcaption></figure>"
            )
        elif variant == 1:
            parts.append(f'<img src="{img_src}" alt="{alt}">')
        else:
            parts.append(
                f'<img src="{img_src}">'
                f'<p class="caption  wide">{_words(rng, 4)}</p>'
            )

    # out-links: zipf-skewed cross-host + same-host neighbors, messy forms
    parts.append("<ul>")
    for _ in range(rng.randint(2, world.links_per_page)):
        if rng.u01() < 0.45:
            # same-host relative link
            target_no = rng.randint(0, world.host_count_pages(host) + 2)
            form = rng.randint(0, 3)
            if form == 0:
                href = f"/p{target_no}.html"
            elif form == 1:
                href = f"p{target_no}.html" if page_no else f"./p{target_no}.html"
            elif form == 2:
                href = f"/a/../p{target_no}.html"
            else:
                href = f"/p{target_no}.html#frag{rng.randint(0, 9)}"
        else:
            t_host_idx = _zipf_host(world, rng.u01())
            t_host = world.host(t_host_idx)
            t_no = rng.randint(0, world.host_count_pages(t_host) + 2)
            form = rng.randint(0, 3)
            if form == 0:
                href = f"http://{t_host}/p{t_no}.html"
            elif form == 1:
                href = f"HTTP://{t_host.upper()}/p{t_no}.html"
            elif form == 2:
                href = f"http://{t_host}:80/p{t_no}.html"
            else:
                href = f"http://{t_host}/p{t_no}.html?x=%7e1"
        parts.append(f'<li><a href="{href}" rel="next  link">{_words(rng, 2)}</a></li>')
    if rng.u01() < 0.15:
        parts.append('<li><a href="/admin/a1.html">admin</a></li>')
    if rng.u01() < 0.1:
        parts.append('<li><a href="ftp://files.example.test/x">skip me</a></li>')
    parts.append("</ul>")
    parts.append("</body></html>")
    return "\n".join(parts)


def page_bytes(world: World, url: str) -> tuple[int, bytes | None]:
    """Fetch simulation: canonical URL → (status, content bytes)."""
    status = page_status(world, url)
    if status != 200:
        return status, None
    html = page_html(world, url)
    enc = xxh64(("enc:" + url).encode()) % 4
    if enc == 0:
        head = '<meta charset="utf-8">'
        return status, html.replace("<head>", "<head>" + head, 1).encode("utf-8")
    if enc == 1:
        return status, b"\xef\xbb\xbf" + html.encode("utf-8")
    if enc == 2:
        head = '<meta charset="windows-1252">'
        body = html.replace("<head>", "<head>" + head, 1)
        # smart quotes: cp1252-only bytes
        body = body.replace("<body>", "<body><p>“quoted” — ok</p>", 1)
        return status, body.encode("windows-1252", errors="xmlcharrefreplace")
    # undeclared cp1252 with smart-quote bytes (invalid utf-8 → fallback)
    body = html.replace("<body>", "<body><p>‘q’</p>", 1)
    return status, body.encode("windows-1252", errors="xmlcharrefreplace")


def seed_urls(world: World) -> list[tuple[str, int]]:
    """(raw url, rank) seed list with adversarial canonicalization forms
    and deliberate duplicates (FIXTURES.md §2)."""
    seeds: list[tuple[str, int]] = []
    rng = DetRng("seeds")
    for i in range(world.n_seeds):
        hidx = _zipf_host(world, rng.u01())
        host = world.host(hidx)
        no = rng.randint(0, 3)
        base = f"http://{host}/p{no}.html" if no else f"http://{host}/"
        form = rng.randint(0, 5)
        if form == 0:
            raw = base
        elif form == 1:
            raw = base.replace("http://", "HTTP://").replace(host, host.upper())
        elif form == 2:
            raw = base.replace(host, host + ":80")
        elif form == 3:
            raw = base + "#top"
        elif form == 4:
            raw = base.replace("/p", "/./p") if no else base + "."
        else:
            raw = base  # duplicate of form 0 under canonicalization
        seeds.append((raw, i))
    return seeds


def robots_rows(world: World) -> list[dict]:
    """Per-host politeness rules (FIXTURES.md §4)."""
    rows = []
    for i in range(world.n_hosts):
        host = world.host(i)
        h = xxh64(("robots:" + host).encode())
        crawl_delay = 1.0 + (h % 4)
        disallow = ["/admin"] if h % 3 == 0 else []
        rows.append({"host": host, "crawl_delay": crawl_delay, "disallow": disallow})
    return rows


def host_budget(world: World, crawl_delay: float) -> int:
    """Token-bucket budget per epoch, expressible as a window rank bound."""
    return max(1, int(world.host_budget_base / crawl_delay))


# ---- sitemaps (sitemaps.org protocol; FIXTURES.md §8) ----------------------

SITEMAP_NS = "http://www.sitemaps.org/schemas/sitemap/0.9"


def host_has_sitemap(world: World, host: str) -> bool:
    """Half the hosts publish /sitemap.xml (deterministic draw)."""
    return xxh64(("sitemap:" + host).encode()) % 2 == 0


def sitemap_is_index(world: World, host: str) -> bool:
    """Of the sitemap hosts, half serve a <sitemapindex> whose two
    children carry the urlsets (the nested layout big sites use)."""
    return xxh64(("sitemap:" + host).encode()) % 4 == 0


def sitemap_locs(world: World, host: str) -> list[str]:
    """Ground-truth <loc> list a host's sitemap tree is generated FROM
    — the oracle consumes this directly (the robots_rows pattern);
    the engine must recover it by parsing the XML. Adversarial forms:
    an uppercase scheme+host loc (canonicalization), a query URL whose
    ``&`` rides as &amp; in the XML (entity unescape), a
    robots-disallowed /admin loc (politeness filter downstream), and a
    CROSS-HOST loc the sitemaps.org same-host rule must reject."""
    if not host_has_sitemap(world, host):
        return []
    idx = int(host[1:5])
    n = world.host_count_pages(host)
    locs = []
    for p in range(n):
        if xxh64(f"smurl:{host}:{p}".encode()) % 3 == 0:
            continue
        locs.append(page_url(world, idx, p))
    locs.append(f"HTTP://{host.upper()}/p1.html")
    locs.append(f"http://{host}/p2.html?ref=sitemap&utm=1")
    locs.append(f"http://{host}/admin/a0.html")
    other = world.host((idx + 1) % world.n_hosts)
    locs.append(f"http://{other}/p0.html")
    return locs


def sitemap_lastmod(world: World, loc: str) -> str:
    """Deterministic W3C date for a loc's <lastmod>."""
    d = xxh64(("smmod:" + loc).encode())
    return f"2026-{(d >> 8) % 12 + 1:02d}-{d % 28 + 1:02d}"


_CHANGEFREQS = ["always", "hourly", "daily", "weekly", "monthly", "yearly", "never"]


def sitemap_changefreq(world: World, loc: str) -> str | None:
    """Deterministic optional <changefreq> (spec enumeration; ~1/3 absent)."""
    d = xxh64(("smcf:" + loc).encode())
    return None if d % 3 == 0 else _CHANGEFREQS[d % 7]


def sitemap_priority(world: World, loc: str) -> float | None:
    """Deterministic optional <priority> in [0.0, 1.0] (~1/2 absent)."""
    d = xxh64(("smpri:" + loc).encode())
    return None if d % 2 == 0 else (d % 11) / 10.0


def _xml_escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def sitemap_xml_docs(world: World, host: str) -> dict[str, str]:
    """path → XML document for this host's sitemap tree."""
    locs = sitemap_locs(world, host)
    if not locs:
        return {}

    def urlset(entries: list[str]) -> str:
        rows = ""
        for loc in entries:
            cf = sitemap_changefreq(world, loc)
            pri = sitemap_priority(world, loc)
            rows += (
                f"  <url><loc> {_xml_escape(loc)} </loc>"
                f"<lastmod>{sitemap_lastmod(world, loc)}</lastmod>"
                + (f"<changefreq>{cf}</changefreq>" if cf is not None else "")
                + (f"<priority>{pri:.1f}</priority>" if pri is not None else "")
                + "</url>\n"
            )
        return (
            '<?xml version="1.0" encoding="UTF-8"?>\n'
            f'<urlset xmlns="{SITEMAP_NS}">\n{rows}</urlset>\n'
        )

    if not sitemap_is_index(world, host):
        return {"/sitemap.xml": urlset(locs)}
    half = (len(locs) + 1) // 2
    index = (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        f'<sitemapindex xmlns="{SITEMAP_NS}">\n'
        f"  <sitemap><loc>http://{host}/sitemap-0.xml</loc>"
        f"<lastmod>{sitemap_lastmod(world, host + ':child0')}</lastmod>"
        "</sitemap>\n"
        f"  <sitemap><loc>http://{host}/sitemap-1.xml</loc></sitemap>\n"
        "</sitemapindex>\n"
    )
    return {
        "/sitemap.xml": index,
        "/sitemap-0.xml": urlset(locs[:half]),
        "/sitemap-1.xml": urlset(locs[half:]),
    }


def sitemap_bytes(world: World, url: str) -> tuple[int, bytes | None]:
    """Fetch simulation for sitemap URLs: (status, content bytes)."""
    from urllib.parse import urlsplit

    parts = urlsplit(url)
    host = (parts.hostname or "").lower()
    # validate by parsing the h{NNNN} index — O(1), not O(n_hosts)
    # set-rebuild per fetched URL (ADVICE r5: quadratic in world size
    # inside the mapInPandas fetch loops)
    m = re.fullmatch(r"h(\d{4})\.example(\d)\.test", host)
    if (
        m is None
        or int(m.group(1)) >= world.n_hosts
        or int(m.group(1)) % 7 != int(m.group(2))
        or world.host(int(m.group(1))) != host
    ):
        return 404, None
    doc = sitemap_xml_docs(world, host).get(parts.path)
    if doc is None:
        return 404, None
    return 200, doc.encode("utf-8")

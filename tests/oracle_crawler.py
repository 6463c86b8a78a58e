"""Single-process oracle crawler — the reference semantics, sequentially.

Implements the same crawl contract as bisque_spark.plans.crawl but as a
plain Python loop. The Spark crawl must reproduce its ordering, final
URL-seen set, captions (byte-equal), and image bytes (FIXTURES.md
"Oracle fixtures").

Shared with the engine: the synthetic world (bisque_spark.synth), URL
canonicalization (bisque_spark.functions.urlnorm — separately
unit/property-tested), and the xxh64 twin (parity-pinned vs the JVM).
Decode/parse/extract is injectable (``extract``): the *reference*
bisque when it is importable, else the engine's own pure-Python
``extract_page`` over ``decode_html``. Without the reference the
differential still pins what the crawl adds — frontier scheduling,
politeness, robots and dedup — while test_parse/test_extract pin the
parse wherever the reference exists.
"""

from __future__ import annotations

from bisque_spark.functions.urlnorm import canonicalize_url, url_host
from bisque_spark.hashing import xxhash64_str
from bisque_spark.synth import (
    World,
    host_budget,
    page_bytes,
    page_index,
    robots_rows,
    synth_image,
)

from ref_oracle import ref_soup


def oracle_extract(content: bytes, page_url: str) -> tuple[list[dict], list[str]]:
    """Reference-bisque extraction with the engine's caption policy
    (skips the calling test when the reference is absent)."""
    soup = ref_soup(content)
    page_hash = xxhash64_str(page_url)
    images = []
    for k, img in enumerate(soup.find_all("img")):
        caption = None
        figure = img.find_parent("figure")
        if figure is not None:
            figcaption = figure.find("figcaption")
            if figcaption is not None:
                caption = figcaption.get_text()
        if caption is None and "alt" in img.attrs:
            caption = str(img["alt"])
        if caption is None:
            sib = img.find_next_sibling("p", class_="caption")
            if sib is not None:
                caption = sib.get_text()
        images.append(
            {
                "image_id": f"img-{page_hash}-{k}",
                "src": img.get("src"),
                "caption": caption if caption is not None else "",
            }
        )
    links = []
    for a in soup.find_all("a"):
        href = a.get("href")
        if href:
            canon = canonicalize_url(str(href), base=page_url)
            if canon:
                links.append(canon)
    return images, links


def engine_extract(content: bytes, page_url: str) -> tuple[list[dict], list[str]]:
    """The engine's extraction, as its fetch+extract stage runs it: a
    page that fails to decode or parse yields no images and no links."""
    from bisque_spark.functions.encoding import decode_html
    from bisque_spark.operators.extract import extract_page

    try:
        text, encoding, _ = decode_html(bytes(content))
        if text is None:
            return [], []
        res = extract_page(text, page_url, original_encoding=encoding)
    except Exception:  # noqa: BLE001 — the engine's row-level containment
        return [], []
    return res["images"], res["links"]


def default_extract():
    """The reference extraction when the reference is importable, else
    the engine's."""
    import importlib.util

    return oracle_extract if importlib.util.find_spec("bisque") else engine_extract


def _disallowed(url: str, disallow_by_host: dict) -> bool:
    host = url_host(url)
    path = url[len(f"http://{host}") :] if url.startswith("http://") else url
    # path starts after scheme://netloc; recompute robustly
    from urllib.parse import urlsplit

    path = urlsplit(url).path
    for prefix in disallow_by_host.get(host, ()):
        if path.startswith(prefix):
            return True
    return False


def crawl_oracle(
    world: World,
    seeds: list[tuple[str, int]],
    max_epochs: int = 10,
    authority: dict[int, float] | None = None,
    authority_weight: float = 1.0,
    use_sitemaps: bool = False,
    trap_guard=None,
    extract=None,
):
    """→ dict(order=[(epoch, host, host_rank, priority, url_hash, url)],
    seen=set[int], images=[dict], links=[(src_hash, dst_hash)]).

    ``authority`` {url_hash: rank} mirrors the engine's authority-
    weighted priority: -depth + weight·rank, same float association.
    ``trap_guard`` (operators/trapguard.TrapGuard) applies the same
    trap rules as the engine, via the shared Python twin, at both
    frontier insertion points; raw link edges are still recorded.
    ``extract`` (content, page_url) → (images, links) defaults to
    default_extract()."""
    from bisque_spark.operators.trapguard import trap_reason

    extract = extract or default_extract()

    def _trapped(url: str) -> bool:
        return trap_guard is not None and trap_reason(url, trap_guard) is not None

    robots = {r["host"]: r for r in robots_rows(world)}
    disallow_by_host = {h: r["disallow"] for h, r in robots.items()}

    if use_sitemaps:
        # sitemap seeding mirrors the engine: ground-truth locs (the
        # XML is generated from them; engine-parse == ground truth is
        # pinned by tests/test_sitemap.py), canonicalized, same-host
        # on the canonical form, then the shared dedup/robots path.
        from bisque_spark.synth import sitemap_locs

        extra = []
        for i in range(world.n_hosts):
            host = world.host(i)
            for loc in sitemap_locs(world, host):
                canon = canonicalize_url(loc)
                if canon is not None and url_host(canon) == host:
                    extra.append((canon, 0))
        seeds = list(seeds) + extra

    def _priority(depth: int, h: int) -> float:
        p = -float(depth)
        if authority is not None:
            p = p + authority_weight * authority.get(h, 0.0)
        return p

    frontier: list[dict] = []
    seen: set[int] = set()
    for raw, _rank in seeds:
        canon = canonicalize_url(raw)
        if canon is None or _disallowed(canon, disallow_by_host):
            # robots filtering happens at insertion, same as the engine
            if canon is None:
                continue
        if _trapped(canon):
            continue
        h = xxhash64_str(canon)
        if canon is not None and not _disallowed(canon, disallow_by_host):
            if h not in seen:
                seen.add(h)
                frontier.append(
                    {
                        "url": canon,
                        "url_hash": h,
                        "host": url_host(canon),
                        "depth": 0,
                        "priority": _priority(0, h),
                    }
                )

    order = []
    images_out = []
    links_out: list[tuple[int, int]] = []
    epoch = 0
    while epoch < max_epochs and frontier:
        by_host: dict[str, list[dict]] = {}
        for row in frontier:
            by_host.setdefault(row["host"], []).append(row)
        scheduled: list[dict] = []
        deferred: list[dict] = []
        for host, rows in by_host.items():
            delay = robots.get(host, {"crawl_delay": 1.0})["crawl_delay"]
            budget = host_budget(world, delay)
            rows.sort(key=lambda r: (-r["priority"], r["url_hash"]))
            for rank, row in enumerate(rows, start=1):
                if rank <= budget:
                    order.append(
                        (epoch, host, rank, row["priority"], row["url_hash"], row["url"])
                    )
                    scheduled.append(row)
                else:
                    deferred.append(row)

        discovered: dict[int, dict] = {}
        for row in scheduled:
            status, content = page_bytes(world, row["url"])
            if status != 200 or content is None:
                continue
            images, links = extract(content, row["url"])
            pi = page_index(row["url"])
            if pi is not None and pi[1] == 0:
                # protocol-level favicon fetch on a successful root page
                images = list(images) + [
                    {
                        "image_id": f"favicon:{pi[0]}",
                        "src": "/favicon.ico",
                        "caption": "",
                    }
                ]
            for img in images:
                meta = synth_image(img["image_id"])
                images_out.append(
                    {
                        "image_id": img["image_id"],
                        "bytes": meta["bytes"],
                        "w": meta["w"],
                        "h": meta["h"],
                        "fmt": meta["fmt"],
                        "caption": img["caption"],
                        "phash": meta["phash"],
                    }
                )
            src_hash = row["url_hash"]
            for canon in links:
                h = xxhash64_str(canon)
                # raw observed edge (before robots/dedup) — mirrors the
                # engine's committed link-graph slice
                links_out.append((src_hash, h))
                if h in seen or h in discovered:
                    continue
                if _trapped(canon):
                    continue
                if _disallowed(canon, disallow_by_host):
                    continue
                discovered[h] = {
                    "url": canon,
                    "url_hash": h,
                    "host": url_host(canon),
                    "depth": epoch + 1,
                    "priority": _priority(epoch + 1, h),
                }
        for h, row in discovered.items():
            seen.add(h)
        frontier = deferred + list(discovered.values())
        epoch += 1

    return {
        "order": order,
        "seen": seen,
        "images": images_out,
        "links": links_out,
        "epochs": epoch,
    }

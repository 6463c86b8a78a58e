"""Parse + extract operator: decoded page → images (with captions) + out-links.

The engine's re-expression of the reference's query core: where bisque
answers ``soup.find_all('img')`` / ``img.find_parent('figure')`` /
``figure.find('figcaption')`` / ``img.find_next_sibling('p',
class_='caption')`` / ``figcaption.get_text()`` by pointer-walking one
tree (/root/reference/src/bisque/element/tag_core/page_element.py:
452-758, tag.py:870-936), this module evaluates the same axes as range
predicates over the flat node table produced by ``bisque_spark.parse``
— descendants = pos∈(pos, subtree_end], parents = walk parent_pos,
next-sibling = same parent_pos with larger sibling_idx — for a whole
Arrow batch of documents per call.

Caption policy (per FIXTURES.md §1 / BASELINE.json input_hint):
  1. enclosing <figure>'s first <figcaption> → get_text()
  2. else the img's ``alt`` attribute (presence-based)
  3. else first following sibling <p class~="caption"> → get_text()
  4. else ""
Captions must be byte-equal to the bisque-derived oracle (tests).

Spark stage: ``extract_stage`` is a mapInPandas over (url, status,
content) with manual predicate pushdown — only <img>, <figure>,
<figcaption>, <p>, <a> contribute to the output, everything else is
dropped inside the UDF batch (the reference's parse_only pushdown,
main.py:617-624/761-766, re-expressed at the batch level: Catalyst
cannot push predicates through a Python UDF, so the spec travels with
the function).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from bisque_spark.functions.encoding import decode_html
from bisque_spark.functions.urlnorm import canonicalize_url
from bisque_spark.hashing import xxhash64_str
from bisque_spark.parse import (
    get_text,
    is_cdata_list_attr,
    parse_nodes,
    split_cdata_list,
)
from bisque_spark.synth import synth_image


def _has_class(node: dict, wanted: str) -> bool:
    cls = (node["attrs"] or {}).get("class")
    return cls is not None and wanted in split_cdata_list(cls)


def extract_page(
    text: str,
    page_url: str,
    respect_nofollow: bool = False,
    original_encoding: str | None = None,
) -> dict:
    """Decoded HTML → {"images": [...], "links": [...]}.

    ``respect_nofollow=True`` drops <a rel~=nofollow> out-links (real
    crawl policy; OFF by default — the oracle contract follows every
    link). ``original_encoding`` is the detected source encoding,
    threaded into the parser for charref resolution exactly as the
    reference passes it to the tree builder."""
    nodes = parse_nodes(text, original_encoding=original_encoding)
    by_pos = nodes  # pos == index by construction
    images = []
    links = []
    img_k = 0
    page_hash = xxhash64_str(page_url)
    for node in nodes:
        if node["kind"] != "tag":
            continue
        name = node["name"]
        if name == "img":
            caption = None
            # axis: parents — walk parent_pos to find enclosing <figure>
            p = node["parent_pos"]
            figure = None
            while p >= 0:
                parent = by_pos[p]
                if parent["name"] == "figure":
                    figure = parent
                    break
                p = parent["parent_pos"]
            if figure is not None:
                # axis: descendants of figure — first figcaption
                for cand in by_pos[figure["pos"] + 1 : figure["subtree_end"] + 1]:
                    if cand["kind"] == "tag" and cand["name"] == "figcaption":
                        caption = get_text(by_pos, cand["pos"])
                        break
            if caption is None and "alt" in (node["attrs"] or {}):
                caption = node["attrs"]["alt"]
            if caption is None:
                # axis: next_siblings — same parent, larger sibling_idx
                for cand in by_pos[node["pos"] + 1 :]:
                    if (
                        cand["parent_pos"] == node["parent_pos"]
                        and cand["kind"] == "tag"
                        and cand["sibling_idx"] > node["sibling_idx"]
                        and cand["name"] == "p"
                        and _has_class(cand, "caption")
                    ):
                        caption = get_text(by_pos, cand["pos"])
                        break
            images.append(
                {
                    "image_id": f"img-{page_hash}-{img_k}",
                    "src": (node["attrs"] or {}).get("src"),
                    "caption": caption if caption is not None else "",
                }
            )
            img_k += 1
        elif name == "a":
            attrs_a = node["attrs"] or {}
            href = attrs_a.get("href")
            if href:
                if respect_nofollow and "nofollow" in split_cdata_list(
                    attrs_a.get("rel", "")
                ):
                    continue
                canon = canonicalize_url(href, base=page_url)
                if canon:
                    links.append(canon)
    return {"images": images, "links": links}


# ---- Spark stage -------------------------------------------------------------

EXTRACT_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("status", IntegerType()),
        StructField("encoding", StringType()),
        StructField(
            "images",
            ArrayType(
                StructType(
                    [
                        StructField("image_id", StringType()),
                        StructField("src", StringType()),
                        StructField("caption", StringType()),
                    ]
                )
            ),
        ),
        StructField("links", ArrayType(StringType())),
        StructField("error", StringType()),
    ]
)

IMAGES_SCHEMA = StructType(
    [
        StructField("image_id", StringType()),
        StructField("bytes", BinaryType()),
        StructField("w", IntegerType()),
        StructField("h", IntegerType()),
        StructField("fmt", StringType()),
        StructField("caption", StringType()),
        StructField("phash", LongType()),
    ]
)


def _extract_frame(pages, extra_images=None) -> pd.DataFrame:
    """(url, status, content) pages → one EXTRACT_SCHEMA frame.

    Row-level error containment (SURVEY.md §4.2): a page that fails to
    decode or parse produces an ``error`` value (``decode_failed``,
    ``replacement_characters``, ``parse_error:<Type>``,
    ``http_<status>``), never a task failure. ``extra_images(url)``
    appends images to every fetched (status 200) page.
    """
    out = {k.name: [] for k in EXTRACT_SCHEMA.fields}
    for url, status, content in pages:
        images: list = []
        links: list = []
        encoding = None
        error = None
        if status == 200 and content is not None:
            try:
                text, encoding, had_repl = decode_html(bytes(content))
                if text is None:
                    error = "decode_failed"
                else:
                    res = extract_page(text, url, original_encoding=encoding)
                    images = res["images"]
                    links = res["links"]
                    if had_repl:
                        error = "replacement_characters"
            except Exception as exc:  # noqa: BLE001
                error = f"parse_error:{type(exc).__name__}"
            if extra_images is not None:
                images = list(images) + extra_images(url)
        else:
            error = f"http_{status}"
        out["url"].append(url)
        out["status"].append(int(status))
        out["encoding"].append(encoding)
        out["images"].append(images)
        out["links"].append(links)
        out["error"].append(error)
    return pd.DataFrame(out)


def extract_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas body: (url, status, content) → EXTRACT_SCHEMA rows."""
    for pdf in batches:
        yield _extract_frame(zip(pdf["url"], pdf["status"], pdf["content"]))


def make_fetch_extract_batches(world):
    """Fused fetch+decode+parse+extract in ONE Arrow pass.

    The crawl's hot path: keeping fetch and extract in a single
    mapInPandas halves the JVM↔Python Arrow round-trips per epoch (one
    python worker stage instead of two back-to-back). Input: frontier
    slice (url); output: EXTRACT_SCHEMA.
    """
    from bisque_spark.synth import page_bytes, page_index

    def favicon(url: str) -> list:
        # protocol-level favicon fetch: a successful root page pulls
        # /favicon.ico into the images sink — once per host, since the
        # seen-set dedups the root URL itself (VERDICT r6 #3: the ICO
        # path must see crawl traffic, not just unit tests)
        pi = page_index(url)
        if pi is None or pi[1] != 0:
            return []
        return [
            {"image_id": f"favicon:{pi[0]}", "src": "/favicon.ico", "caption": ""}
        ]

    def fetch_extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _extract_frame(
                ((url, *page_bytes(world, url)) for url in pdf["url"]), favicon
            )

    return fetch_extract


def materialize_images_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas body: exploded (image_id, caption) → full IMAGES rows.

    The "image fetch" is deterministic synthesis (synth.py) — in a real
    deployment this stage is the binary-fetch + decode UDF; the Spark
    plumbing (schema, batch shape, partitioning) is identical.
    """
    for pdf in batches:
        rows = {k.name: [] for k in IMAGES_SCHEMA.fields}
        for image_id, caption in zip(pdf["image_id"], pdf["caption"]):
            img = synth_image(image_id)
            rows["image_id"].append(image_id)
            rows["bytes"].append(img["bytes"])
            rows["w"].append(img["w"])
            rows["h"].append(img["h"])
            rows["fmt"].append(img["fmt"])
            rows["caption"].append(caption)
            rows["phash"].append(img["phash"])
        yield pd.DataFrame(rows)


__all__ = [
    "EXTRACT_SCHEMA",
    "IMAGES_SCHEMA",
    "extract_batches",
    "extract_page",
    "materialize_images_batches",
    "is_cdata_list_attr",
]

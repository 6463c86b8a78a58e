"""Single-node parse/extract throughput: engine vs reference bisque.

Mirrors the reference's own benchmark harness shape
(/root/reference/src/bisque/diagnose.py:159-210 — random tag-soup doc,
comparative parser wall time) plus the synthetic-web workload. Appends
results to BENCH/BASELINE.md. The goal gate: the engine's per-document
stage must match-or-beat the reference single-threaded, before any
Spark parallelism multiplies it.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, "/root/reference/src")

import warnings

warnings.simplefilter("ignore")

from bisque_spark.hashing import xxh64
from bisque_spark.parse import get_text, parse_nodes
from bisque_spark.synth import DetRng, World, page_bytes, page_url
from bisque_spark.functions.encoding import decode_html


def rdoc_like(num_elements: int = 20000) -> str:
    """Deterministic random tag-soup doc (diagnose.py:159-175 shape:
    uniform open/text/close over {p,div,span,i,b,script,table})."""
    rng = DetRng("rdoc")
    tags = ["p", "div", "span", "i", "b", "script", "table"]
    elements = []
    for _ in range(num_elements):
        choice = rng.u01()
        tag = tags[rng.next_u64() % len(tags)]
        if choice < 0.3:
            elements.append(f"<{tag}>")
        elif choice < 0.7:
            elements.append(f"word{rng.next_u64() % 1000} ")
        else:
            elements.append(f"</{tag}>")
    return "<html>" + "".join(elements) + "</html>"


def bench_rdoc(n: int = 20000) -> dict:
    doc = rdoc_like(n)
    from bisque import Bisque

    t0 = time.time()
    soup = Bisque(doc, features="html.parser")
    ref_parse = time.time() - t0
    t0 = time.time()
    ref_text = soup.get_text()
    ref_text_s = time.time() - t0

    t0 = time.time()
    nodes = parse_nodes(doc)
    eng_parse = time.time() - t0
    t0 = time.time()
    eng_text = get_text(nodes)
    eng_text_s = time.time() - t0
    assert eng_text == ref_text
    return {
        "doc_elements": n,
        "ref_parse_s": round(ref_parse, 3),
        "eng_parse_s": round(eng_parse, 3),
        "parse_speedup": round(ref_parse / eng_parse, 2),
        "ref_get_text_s": round(ref_text_s, 4),
        "eng_get_text_s": round(eng_text_s, 4),
    }


def bench_pages(n_pages: int = 300) -> dict:
    """Full per-page stage (decode+parse+extract) vs bisque doing the
    equivalent work on the same synthetic pages."""
    sys.path.insert(0, os.path.join(REPO, "tests"))
    from oracle_crawler import oracle_extract

    from bisque_spark.operators.extract import extract_page

    world = World(n_hosts=50, pages_per_host=30)
    pages = []
    i = 0
    while len(pages) < n_pages:
        url = page_url(world, i % 50, i // 50)
        status, content = page_bytes(world, url)
        if status == 200:
            pages.append((url, content))
        i += 1

    t0 = time.time()
    for url, content in pages:
        oracle_extract(content, url)
    ref_s = time.time() - t0

    t0 = time.time()
    for url, content in pages:
        text, _, _ = decode_html(content)
        extract_page(text, url)
    eng_s = time.time() - t0
    return {
        "pages": len(pages),
        "ref_pages_per_s": round(len(pages) / ref_s, 1),
        "eng_pages_per_s": round(len(pages) / eng_s, 1),
        "speedup": round(ref_s / eng_s, 2),
    }


if __name__ == "__main__":
    import json

    r1 = bench_rdoc()
    r2 = bench_pages()
    print(json.dumps({"rdoc": r1, "pages": r2}))
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "a") as f:
        f.write(
            f"\n## Single-node throughput vs the reference (diagnose.py-style)\n\n"
            f"| workload | reference | engine | speedup |\n|---|---|---|---|\n"
            f"| rdoc({r1['doc_elements']}) parse | {r1['ref_parse_s']} s "
            f"| {r1['eng_parse_s']} s | {r1['parse_speedup']}x |\n"
            f"| synthetic pages decode+parse+extract | {r2['ref_pages_per_s']} "
            f"pages/s | {r2['eng_pages_per_s']} pages/s | {r2['speedup']}x |\n"
            f"\n(get_text byte-equal asserted during the run; single thread, "
            f"before Spark parallelism.)\n"
        )

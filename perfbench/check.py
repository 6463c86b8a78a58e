"""Output checks: order-independent digests and crawl invariants.

Everything here reads committed crawl artifacts with pyarrow on the
driver, so a check submits no Spark job and cannot perturb the timings
it sits between.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
from collections import Counter

import pyarrow.parquet as pq

_MASK = (1 << 64) - 1


def digest(rows) -> str:
    """Order-independent digest of an iterable of row tuples.

    Each row hashes to 64 bits; the digest is the row count with the
    sum and the xor of those hashes mod 2**64, so any permutation of
    the same multiset of rows gives the same string and a duplicated or
    dropped row does not."""
    n = total = xor = 0
    for row in rows:
        h = int.from_bytes(
            hashlib.blake2b(repr(tuple(row)).encode(), digest_size=8).digest(),
            "little",
        )
        n += 1
        total = (total + h) & _MASK
        xor ^= h
    return f"{n}:{total:016x}:{xor:016x}"


def _epoch_dir(workdir: str, epoch: int) -> str:
    return os.path.join(workdir, f"epoch={epoch:05d}")


def _slice(workdir: str, epoch: int, table: str) -> str:
    return os.path.join(_epoch_dir(workdir, epoch), "junction", f"table={table}")


def read_rows(path: str, columns: list[str]) -> list[tuple]:
    """Rows of every parquet file directly under ``path``."""
    rows: list[tuple] = []
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        t = pq.read_table(f, columns=columns)
        rows.extend(zip(*(t.column(c).to_pylist() for c in columns)))
    return rows


def committed_epochs(workdir: str) -> list[int]:
    """Epochs carrying a ``_COMMIT`` marker, ascending."""
    return sorted(
        int(name.split("=")[1])
        for name in os.listdir(workdir)
        if name.startswith("epoch=")
        and os.path.exists(os.path.join(workdir, name, "_COMMIT"))
    )


def seen_paths(workdir: str, last: int) -> list[str]:
    """The state paths whose union is the seen set as of epoch ``last``:
    the latest ``seen_base`` at or before it (else the seed frontier)
    plus every later per-epoch seen delta."""
    base = next(
        (
            e
            for e in range(last, -1, -1)
            if os.path.exists(os.path.join(_epoch_dir(workdir, e), "seen_base"))
        ),
        None,
    )
    if base is None:
        paths, start = [os.path.join(workdir, "frontier_seed")], 0
    else:
        paths, start = [os.path.join(_epoch_dir(workdir, base), "seen_base")], base + 1
    paths += [_slice(workdir, e, "seen") for e in range(start, last + 1)]
    return [p for p in paths if os.path.exists(p)]


def shard_paths(workdir: str, last: int) -> list[str]:
    """The Bloom shard paths whose union is the filter as of ``last``."""
    base = next(
        (
            e
            for e in range(last, -1, -1)
            if os.path.exists(os.path.join(_epoch_dir(workdir, e), "shards_base"))
        ),
        None,
    )
    paths, start = [], 0
    if base is not None:
        paths, start = [os.path.join(_epoch_dir(workdir, base), "shards_base")], base + 1
    paths += [_slice(workdir, e, "shards") for e in range(start, last + 1)]
    return [p for p in paths if os.path.exists(p)]


def load_crawl(workdir: str) -> dict:
    """Committed crawl outputs: order log, final seen set, image slice,
    per-epoch lineage."""
    epochs = committed_epochs(workdir)
    order = []
    images = []
    lineage = {}
    for e in epochs:
        order += read_rows(
            _slice(workdir, e, "order"), ["epoch", "host", "host_rank", "url_hash"]
        )
        images += read_rows(_slice(workdir, e, "images"), ["image_id", "caption"])
        with open(os.path.join(_epoch_dir(workdir, e), "lineage.json")) as f:
            lineage[e] = json.load(f)
    seen = set()
    if epochs:
        for p in seen_paths(workdir, epochs[-1]):
            seen.update(h for (h,) in read_rows(p, ["url_hash"]))
    return {
        "epochs": epochs,
        "order": order,
        "seen": seen,
        "images": images,
        "lineage": lineage,
    }


def crawl_digests(crawl: dict) -> dict:
    return {
        "order": digest(crawl["order"]),
        "seen": digest((h,) for h in crawl["seen"]),
        "images": digest(crawl["images"]),
    }


def crawl_violations(crawl: dict, budgets: dict[str, int], default_budget: int) -> list[str]:
    """Invariants every crawl must hold, whatever its seed list:
    no URL is scheduled twice, no (epoch, host) exceeds its politeness
    budget, every scheduled URL is in the seen set, and each epoch's
    ``lineage.json`` counts exactly the rows of its order slice."""
    out = []
    if not crawl["epochs"]:
        return ["no committed epoch"]
    hashes = Counter(r[3] for r in crawl["order"])
    dups = [h for h, c in hashes.items() if c > 1]
    if dups:
        out.append(f"{len(dups)} url_hash scheduled more than once")
    per_host = Counter((r[0], r[1]) for r in crawl["order"])
    over = [k for k, c in per_host.items() if c > budgets.get(k[1], default_budget)]
    if over:
        out.append(f"{len(over)} (epoch, host) pairs over their budget")
    unseen = [h for h in hashes if h not in crawl["seen"]]
    if unseen:
        out.append(f"{len(unseen)} scheduled URLs missing from the seen set")
    per_epoch = Counter(r[0] for r in crawl["order"])
    for e, lin in crawl["lineage"].items():
        if lin["rows_scheduled"] != per_epoch.get(e, 0):
            out.append(
                f"epoch {e}: lineage rows_scheduled {lin['rows_scheduled']} "
                f"!= {per_epoch.get(e, 0)} order rows"
            )
    return out


def commit_times(workdir: str) -> list[float]:
    """Commit instants of the crawl's state, from file mtimes: the seed
    frontier's ``_SUCCESS`` then each committed epoch's ``lineage.json``.
    Consecutive differences are the epoch intervals."""
    times = [os.path.getmtime(os.path.join(workdir, "frontier_seed", "_SUCCESS"))]
    times += [
        os.path.getmtime(os.path.join(_epoch_dir(workdir, e), "lineage.json"))
        for e in committed_epochs(workdir)
    ]
    return times

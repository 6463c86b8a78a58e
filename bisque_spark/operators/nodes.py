"""Exploded node-table operators: bisque's query axes as DataFrame ops.

The reference answers every query by walking pointer axes over one
in-memory tree (SURVEY.md §2.2). This module materializes parse trees
as a *node table* — one row per node across ALL documents — and
re-expresses each axis as a relational predicate, exactly per the
SURVEY §1.5/§2.2 mapping:

| bisque axis / op                   | node-table expression              |
|------------------------------------|------------------------------------|
| descendants of t                   | pos ∈ (t.pos, t.subtree_end]       |
| children of t                      | parent_pos = t.pos                 |
| next_elements / previous_elements  | Window.partitionBy(url).orderBy(pos) row frames |
| next/previous_siblings             | same parent_pos, sibling_idx ±     |
| parents                            | ancestor join on (url, pos ranges) |
| find_all(name, attrs, string)      | WHERE strainer-predicate (§2.3)    |
| find (limit 1)                     | row_number window + rank = 1       |
| get_text                           | array_join over sorted collect of interesting strings |

Schema (matches bisque_spark.parse node records + url):
  url string, pos int, parent_pos int, depth int, sibling_idx int,
  subtree_end int, kind string, name string, attrs map<string,string>,
  text string, sourceline int, sourcepos int

Scale shape: the node table is hash-partitioned by url; every axis
predicate is url-local, so windows/self-joins co-partition on url and
never shuffle more than once. Strainer predicates are Column
expressions (whole-stage codegen) unless the user passes a Python
callable — the same fast-path/slow-path split as the reference
(soup_strainer.py:139-151).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from bisque_spark.parse import parse_nodes

NODES_SCHEMA = (
    "url string, pos int, parent_pos int, depth int, sibling_idx int, "
    "subtree_end int, kind string, name string, attrs map<string,string>, "
    "text string, sourceline int, sourcepos int"
)

_FIELDS = [f.split()[0] for f in NODES_SCHEMA.split(", ")]


def _parse_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out: dict[str, list] = {k: [] for k in _FIELDS}
        for url, text in zip(pdf["url"], pdf["text"]):
            if text is None:
                continue
            for node in parse_nodes(text):
                out["url"].append(url)
                for k in _FIELDS[1:]:
                    out[k].append(node[k])
        # an all-null-input batch must not yield an empty frame: an
        # EMPTY pandas object column can't convert to Arrow
        # map<string,string> (NumPyConverter limitation)
        if out["url"]:
            yield pd.DataFrame(out)


def explode_nodes(pages: DataFrame, html_col: str = "text") -> DataFrame:
    """(url, html-text) rows → node table (one Arrow parse pass)."""
    from bisque_spark.util import spread

    src = spread(pages.select(F.col("url"), F.col(html_col).alias("text")))
    return src.mapInPandas(_parse_batches, schema=NODES_SCHEMA)


# ---- strainer → Column predicate (SoupStrainer semantics, §2.3) -------------


def _match_value(col: Column, want) -> Column:
    """One normalized SoupStrainer value vs a string column:
    str exact | list any-of | re.Pattern .search (unanchored rlike) |
    True non-null | None absent."""
    if want is True:
        return col.isNotNull()
    if want is None:
        return col.isNull()
    if isinstance(want, re.Pattern):
        return col.isNotNull() & col.rlike(want.pattern)
    if isinstance(want, (list, tuple, set)):
        ors = F.lit(False)
        for w in want:
            ors = ors | _match_value(col, w)
        return ors
    if isinstance(want, bytes):
        want = want.decode("utf-8")
    return col == F.lit(str(want))


def _attr_col(attr: str) -> Column:
    return F.col("attrs").getItem(attr)


# multi-valued attributes (class, rel, …): match any element of the
# whitespace-split list, or the whole joined string
# (soup_strainer.py:214-230)
_MULTI_VALUED = {"class", "rel", "rev", "headers", "accesskey", "dropzone"}


def _match_attr(attr: str, want) -> Column:
    raw = _attr_col(attr)
    if want is True:
        return raw.isNotNull()
    if want is None:
        return raw.isNull()
    if attr in _MULTI_VALUED:
        parts = F.split(F.trim(raw), r"\s+")
        if isinstance(want, re.Pattern):
            any_el = F.exists(parts, lambda p: p.rlike(want.pattern))
        else:
            wants = want if isinstance(want, (list, tuple, set)) else [want]
            lits = [F.lit(str(w)) for w in wants]
            any_el = F.exists(
                parts, lambda p: F.lit(False) if not lits else p.isin(*[str(w) for w in wants])
            )
        whole = _match_value(raw, want)
        return raw.isNotNull() & (any_el | whole)
    return _match_value(raw, want)


def strainer(
    name=None,
    attrs: dict | None = None,
    string=None,
    **kwargs,
) -> Column:
    """SoupStrainer(name, attrs, string) as a Column predicate over the
    node table. `class_` keyword works like the reference."""
    attrs = dict(attrs or {})
    for k, v in kwargs.items():
        attrs[k.rstrip("_") if k == "class_" else k] = v
    pred = F.lit(True)
    if string is not None and name is None and not attrs:
        # text-only strainer matches string nodes
        pred = F.col("kind").isin("text", "cdata") & _match_value(
            F.col("text"), string
        )
        return pred
    pred = F.col("kind") == "tag"
    if name is not None:
        pred = pred & _match_value(F.col("name"), name)
    for attr, want in attrs.items():
        pred = pred & _match_attr(attr, want)
    if string is not None:
        # the string co-filter compares against Tag.string — a JOIN over
        # the node table, not a row-local predicate — so it cannot be a
        # Column. Refuse loudly (a silent pass-through returned
        # unfiltered results in round 1); find_all(string=...) applies
        # the exact reference semantics (soup_strainer.py:171-173).
        raise NotImplementedError(
            "string= with name/attrs is a co-filter over Tag.string; "
            "pass string= to find_all()/find_first() instead"
        )
    return pred


def callable_strainer(fn) -> Column:
    """Arbitrary-Python predicate over node rows — the documented SLOW
    LANE (the reference's callable SoupStrainer, soup_strainer.py:
    139-151, 214-232). ``fn`` receives one dict per node (keys: kind,
    name, attrs, text, pos, depth, sibling_idx) and returns truthiness.

    This is an Arrow-batched pandas UDF, so the whole node table rides
    the JVM→Python bridge: use the Column-expression ``strainer`` for
    every str/regex/list/True/None predicate and reach for this only
    when the predicate is genuinely arbitrary code. (Built lazily — a
    module-level pandas_udf can't be unpickled on executors.)"""

    def batch(s: pd.DataFrame) -> pd.Series:
        if len(s) == 0:
            return pd.Series([], dtype=bool)
        return pd.Series([bool(fn(row)) for row in s.to_dict("records")])

    pred = F.pandas_udf(batch, "boolean")
    return pred(
        F.struct("kind", "name", "attrs", "text", "pos", "depth", "sibling_idx")
    )


# ---- axes -------------------------------------------------------------------


def tag_string_of(nodes: DataFrame) -> DataFrame:
    """(url, pos, tag_string) for every tag whose ``Tag.string`` exists.

    Reference semantics (tag.py:267-287, recursive): t.string is the
    terminal of a single-child chain — exactly one child at every hop,
    ending in a string node. Relationally: the subtree of t is a pure
    chain iff its node count equals its depth span, and the chain's
    terminal is then the subtree's last node in document order. So
    t.string = s where s.pos == t.subtree_end, s is not a tag, and
    (t.subtree_end - t.pos) == (s.depth - t.depth). The join is an
    equi-join on (url, subtree_end == pos) — one shuffle, url-local.
    """
    s = nodes.where(F.col("kind") != "tag").select(
        F.col("url").alias("s_url"),
        F.col("pos").alias("s_pos"),
        F.col("depth").alias("s_depth"),
        F.col("text").alias("tag_string"),
    )
    t = nodes.where(F.col("kind") == "tag").select(
        "url", "pos", "depth", "subtree_end"
    )
    return t.join(
        s,
        (t["url"] == s["s_url"]) & (t["subtree_end"] == s["s_pos"]),
    ).where(
        (F.col("s_pos") > t["pos"])
        & ((t["subtree_end"] - t["pos"]) == (F.col("s_depth") - t["depth"]))
    ).select(t["url"], t["pos"], "tag_string")


def find_all(
    nodes: DataFrame,
    pred: Column,
    limit: int | None = None,
    string=None,
) -> DataFrame:
    """Document-order scan + strainer predicate (+ per-document limit
    via window rank, matching the reference's generator truncation).

    ``string=`` is the SoupStrainer co-filter (soup_strainer.py:171-173):
    keep only tags whose ``Tag.string`` matches — applied as a left-semi
    join against :func:`tag_string_of`, the exact reference semantics
    (round 1 silently ignored it)."""
    hits = nodes.where(pred)
    if string is not None:
        ts = (
            tag_string_of(nodes)
            .where(_match_value(F.col("tag_string"), string))
            .select(F.col("url").alias("ts_url"), F.col("pos").alias("ts_pos"))
        )
        hits = hits.join(
            ts,
            (hits["url"] == ts["ts_url"]) & (hits["pos"] == ts["ts_pos"]),
            "left_semi",
        )
    if limit is not None:
        w = Window.partitionBy("url").orderBy("pos")
        hits = (
            hits.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= limit)
            .drop("__rk")
        )
    return hits


def find_first(nodes: DataFrame, pred: Column, string=None) -> DataFrame:
    """find() — first match per document."""
    return find_all(nodes, pred, limit=1, string=string)


def descendants_of(nodes: DataFrame, roots: DataFrame) -> DataFrame:
    """All descendants of each root row (url-local range join).

    roots needs (url, pos, subtree_end); result carries root_pos.
    """
    r = roots.select(
        F.col("url").alias("r_url"),
        F.col("pos").alias("root_pos"),
        F.col("subtree_end").alias("r_end"),
    )
    return nodes.join(
        r,
        (nodes["url"] == r["r_url"])
        & (nodes["pos"] > r["root_pos"])
        & (nodes["pos"] <= r["r_end"]),
    ).drop("r_url", "r_end")


def children_of(nodes: DataFrame, roots: DataFrame) -> DataFrame:
    r = roots.select(
        F.col("url").alias("r_url"), F.col("pos").alias("root_pos")
    )
    return nodes.join(
        r,
        (nodes["url"] == r["r_url"]) & (nodes["parent_pos"] == r["root_pos"]),
    ).drop("r_url")


def next_siblings_of(nodes: DataFrame, anchors: DataFrame) -> DataFrame:
    a = anchors.select(
        F.col("url").alias("a_url"),
        F.col("parent_pos").alias("a_parent"),
        F.col("sibling_idx").alias("a_idx"),
        F.col("pos").alias("anchor_pos"),
    )
    return nodes.join(
        a,
        (nodes["url"] == a["a_url"])
        & (nodes["parent_pos"] == a["a_parent"])
        & (nodes["sibling_idx"] > a["a_idx"]),
    ).drop("a_url", "a_parent", "a_idx")


def next_elements_of(
    nodes: DataFrame, anchors: DataFrame, pred: Column | None = None, first_only: bool = False
) -> DataFrame:
    """find_all_next / find_next (page_element.py:452-491): document
    order after the anchor = pos > anchor.pos, url-local."""
    a = anchors.select(
        F.col("url").alias("a_url"), F.col("pos").alias("anchor_pos")
    )
    out = nodes.join(
        a,
        (nodes["url"] == a["a_url"]) & (nodes["pos"] > a["anchor_pos"]),
    ).drop("a_url")
    if pred is not None:
        out = out.where(pred)
    if first_only:
        w = Window.partitionBy("url", "anchor_pos").orderBy("pos")
        out = (
            out.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") == 1)
            .drop("__rk")
        )
    return out


def previous_elements_of(
    nodes: DataFrame, anchors: DataFrame, pred: Column | None = None, first_only: bool = False
) -> DataFrame:
    """find_all_previous / find_previous (page_element.py:542-582):
    document order before the anchor, nearest first."""
    a = anchors.select(
        F.col("url").alias("a_url"), F.col("pos").alias("anchor_pos")
    )
    out = nodes.join(
        a,
        (nodes["url"] == a["a_url"]) & (nodes["pos"] < a["anchor_pos"]),
    ).drop("a_url")
    if pred is not None:
        out = out.where(pred)
    if first_only:
        w = Window.partitionBy("url", "anchor_pos").orderBy(F.desc("pos"))
        out = (
            out.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") == 1)
            .drop("__rk")
        )
    return out


def parents_of(nodes: DataFrame, anchors: DataFrame) -> DataFrame:
    """All ancestors of each anchor: a node is an ancestor iff
    pos < anchor.pos ≤ subtree_end (the document-order containment
    property — no iterative parent-walk needed)."""
    a = anchors.select(
        F.col("url").alias("a_url"), F.col("pos").alias("anchor_pos")
    )
    return nodes.join(
        a,
        (nodes["url"] == a["a_url"])
        & (nodes["pos"] < a["anchor_pos"])
        & (nodes["subtree_end"] >= a["anchor_pos"])
        & (nodes["kind"] == "tag"),
    ).drop("a_url")


def get_text_of(
    nodes: DataFrame,
    roots: DataFrame,
    separator: str = "",
    strip: bool = False,
) -> DataFrame:
    """get_text() per root row, set-oriented: interesting strings are
    text/cdata descendants (string-container roots take their container
    kind), concatenated in document order via sort_array + array_join
    — one shuffle, no UDF."""
    r = roots.select(
        F.col("url").alias("r_url"),
        F.col("pos").alias("root_pos"),
        F.col("subtree_end").alias("r_end"),
        F.col("name").alias("r_name"),
    )
    container_kind = (
        F.when(F.col("r_name") == "script", F.array(F.lit("script")))
        .when(F.col("r_name") == "style", F.array(F.lit("stylesheet")))
        .when(F.col("r_name") == "template", F.array(F.lit("template")))
        .when(F.col("r_name") == "rt", F.array(F.lit("rubytext")))
        .when(F.col("r_name") == "rp", F.array(F.lit("rubyparen")))
        .otherwise(F.array(F.lit("text"), F.lit("cdata")))
    )
    joined = nodes.join(
        r,
        (nodes["url"] == r["r_url"])
        & (nodes["pos"] > r["root_pos"])
        & (nodes["pos"] <= r["r_end"]),
        "right",  # keep roots with no strings → empty text
    ).where(
        F.array_contains(container_kind, F.col("kind")) | F.col("pos").isNull()
    )
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("text")))),
        lambda s: s["text"],
    )
    if strip:
        # strip each string, drop empties (page_element.py:149-155).
        # Python str.strip() semantics (all whitespace, not just the
        # spaces SQL trim removes); note F.trim must not be passed as a
        # bare callable — its optional 2nd param makes transform treat
        # it as an (element, index) lambda
        ordered = F.filter(
            F.transform(
                ordered,
                lambda s: F.regexp_replace(
                    F.regexp_replace(s, r"^\s+", ""), r"\s+$", ""
                ),
            ),
            lambda s: F.length(s) > 0,
        )
    agg = (
        joined.groupBy("r_url", "root_pos")
        .agg(F.array_join(ordered, separator).alias("text"))
        .withColumnRenamed("r_url", "url")
    )
    return agg

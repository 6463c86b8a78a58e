"""Adapter: reference bisque (imported from /root/reference/src) → the
engine's flat node-record shape, for differential tests.

The reference is the per-document oracle mandated by BASELINE.json
(north_rule: engine output must match bisque's parse/extract semantics).
Only tests import this module; engine code never does. Importing it
never needs the reference; calling into it skips the calling test when
the reference is absent.
"""

from __future__ import annotations

import functools
import sys
import warnings
from types import SimpleNamespace

import pytest

REFERENCE_SRC = "/root/reference/src"
if REFERENCE_SRC not in sys.path:
    sys.path.insert(0, REFERENCE_SRC)


@functools.cache
def reference():
    """The reference bisque's classes. The reference is optional: when
    it is absent the calling differential test skips."""
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        pytest.importorskip("bisque", reason="reference absent")
        from bisque import Bisque
        from bisque.element import (
            CData,
            Comment,
            Declaration,
            Doctype,
            NavigableString,
            ProcessingInstruction,
            Tag,
        )
        from bisque.element.tag_core.main import (
            RubyParenthesisString,
            RubyTextString,
            Script,
            Stylesheet,
            TemplateString,
            XMLProcessingInstruction,
        )
    kinds = [
        (Doctype, "doctype"),
        (CData, "cdata"),
        (Comment, "comment"),
        (XMLProcessingInstruction, "pi"),
        (ProcessingInstruction, "pi"),
        (Declaration, "decl"),
        (Stylesheet, "stylesheet"),
        (Script, "script"),
        (TemplateString, "template"),
        (RubyTextString, "rubytext"),
        (RubyParenthesisString, "rubyparen"),
    ]
    return SimpleNamespace(
        Bisque=Bisque, Tag=Tag, NavigableString=NavigableString, kinds=kinds
    )


def ref_soup(markup: str):
    return reference().Bisque(markup, features="html.parser")


def node_kind(el) -> str:
    ref = reference()
    if isinstance(el, ref.Tag):
        return "tag"
    for typ, kind in ref.kinds:
        if type(el) is typ:
            return kind
    assert isinstance(el, ref.NavigableString), type(el)
    return "text"


def ref_nodes(markup: str) -> list[dict]:
    """Flatten a bisque parse into engine-shaped node records."""
    soup = ref_soup(markup)
    records = []
    pos_by_id: dict[int, int] = {id(soup): -1}
    for el in soup.descendants:
        pos = len(records)
        pos_by_id[id(el)] = pos
        kind = node_kind(el)
        records.append(
            {
                "pos": pos,
                "parent_pos": pos_by_id[id(el.parent)],
                "kind": kind,
                "name": el.name if kind == "tag" else None,
                "attrs": (
                    {
                        k: (" ".join(v) if isinstance(v, list) else str(v))
                        for k, v in el.attrs.items()
                    }
                    if kind == "tag"
                    else None
                ),
                "text": None if kind == "tag" else str(el),
            }
        )
    return records


def engine_nodes_comparable(nodes: list[dict]) -> list[dict]:
    """Project engine node records onto the comparable subset."""
    out = []
    for n in nodes:
        attrs = n["attrs"]
        if attrs is not None:
            from bisque_spark.parse import is_cdata_list_attr, split_cdata_list

            attrs = {
                k: (
                    " ".join(split_cdata_list(v))
                    if is_cdata_list_attr(n["name"], k)
                    else v
                )
                for k, v in attrs.items()
            }
        out.append(
            {
                "pos": n["pos"],
                "parent_pos": n["parent_pos"],
                "kind": n["kind"],
                "name": n["name"],
                "attrs": attrs,
                "text": n["text"],
            }
        )
    return out

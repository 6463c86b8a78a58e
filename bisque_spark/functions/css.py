"""CSS selector subset compiled against the flat node table.

The reference delegates ``select()`` to the external chinois/soupsieve
engine (/root/reference/src/bisque/css.py:82-305) which pointer-walks
the tree. Here the selector compiles to predicates over the flat node
records (bisque_spark.parse) — per-document inside a pandas UDF, the
same execution slot as the extractor (SURVEY.md §3.3).

Supported subset (the reference test corpus's coverage,
src/bisque/tests/css_test.py, plus the common pseudo-classes): tag,
``*``, ``.class``, ``#id``, ``[attr]``, ``[attr=v]``, ``[attr~=v]``,
``[attr^=v]``, ``[attr$=v]``, ``[attr*=v]``, ``[attr|=v]``, the
``[attr=v i]`` case-insensitive flag, ``:nth-of-type(n)``,
``:first-of-type``, ``:last-of-type``, ``:nth-last-of-type(an+b)``,
``:only-of-type``, ``:nth-child(an+b|odd|even|n)``,
``:nth-last-child(an+b)``, ``:first-child``, ``:last-child``,
``:only-child``, ``:not(<compound>)``, ``:is(<selector list>)`` /
``:where(...)``, ``:has(<relative selector list>)`` (descendant,
``>``, ``+``, ``~`` anchors), the descendant / ``>`` / ``+`` / ``~``
combinators, ``,`` grouping, and namespace selectors ``ns|tag``,
``|tag``, ``*|tag``, ``[ns|attr]``, ``[*|attr]`` with soupsieve
semantics (prefixes resolve through the ``namespaces=`` dict, which
defaults to the document's own ``xmlns:p`` declarations exactly like
the reference's ``Tag.namespaces``; a default ``""`` entry constrains
unprefixed type selectors; xmlns scoping — including mid-document
re-declaration — is resolved per element from the attributes the
parser already carries). Functional pseudo-class arguments are
parsed with balanced parens (``:is(p:nth-child(2n+1))`` works). Quoted
attribute values may use single or double quotes and may contain
spaces/brackets.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from bisque_spark.parse import is_cdata_list_attr, split_cdata_list

_TOKEN_RE = re.compile(
    r"""
    (?:(?P<tns>[\w-]*|\*)\|(?!=))?(?P<tag>[a-zA-Z][\w-]*|\*)
  | \#(?P<id>[\w-]+)
  | \.(?P<cls>[\w-]+)
  | \[(?:(?P<ans>[\w-]+|\*)\|(?!=))?(?P<attr>[\w-]+)
        (?:(?P<op>[~^$*|]?=)
           (?: (?P<q>['"])(?P<qval>.*?)(?P=q)   # quoted: spaces allowed
             | (?P<val>[^\]'"\s]*)              # bare: up to bracket/flag
           )
        )?
        (?:\s*(?P<flag>[iIsS]))?\s*\]           # [attr=v i] case flag
  | :nth-last-of-type\(\s*(?P<nthlot>[^)]+?)\s*\)
  | :nth-of-type\((?P<nth>\d+)\)
  | :first-of-type
  | :last-of-type
  | :nth-last-child\(\s*(?P<nthlc>[^)]+?)\s*\)
  | :nth-child\(\s*(?P<nthc>[^)]+?)\s*\)
  | :first-child
  | :last-child
  | :only-child
  | :only-of-type
    """,
    re.VERBOSE,
)

# functional pseudo-classes with selector-list arguments get a
# balanced-paren scan (their args may nest parens: :is(p:nth-child(2)))
_FUNCTIONAL = (":not(", ":is(", ":where(", ":has(")


def _find_balanced(text: str, start: int) -> int:
    """Index of the ')' matching the '(' just before ``start``."""
    depth, quote = 1, None
    for i in range(start, len(text)):
        ch = text[i]
        if quote:
            if ch == quote:
                quote = None
        elif ch in "'\"":
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return i
    raise ValueError(f"unbalanced parens in selector: {text!r}")


def _parse_nth(expr: str) -> tuple[int, int]:
    """'an+b' | 'odd' | 'even' | 'b' → (a, b) per the CSS spec."""
    expr = expr.strip().lower().replace(" ", "")
    if expr == "odd":
        return 2, 1
    if expr == "even":
        return 2, 0
    m = re.fullmatch(r"([+-]?\d*)n([+-]\d+)?", expr)
    if m:
        a_txt = m.group(1)
        a = int(a_txt) if a_txt not in ("", "+", "-") else (-1 if a_txt == "-" else 1)
        b = int(m.group(2) or 0)
        return a, b
    return 0, int(expr)


def _nth_matches(a: int, b: int, idx: int) -> bool:
    """Does child index ``idx`` (1-based) satisfy an+b for some n≥0?"""
    if a == 0:
        return idx == b
    n, rem = divmod(idx - b, a)
    return rem == 0 and n >= 0


@dataclass
class Simple:
    tag: str | None = None
    # namespace constraint on the type selector: None = no constraint
    # (plain ``tag``), '' = ``|tag`` (no namespace), '*' = ``*|tag``
    # (any), else the selector PREFIX (resolved against the namespaces
    # dict at match time — reference semantics: Tag.namespaces defaults
    # come from the document, so resolution can't happen at parse time)
    tag_ns: str | None = None
    ids: list[str] = field(default_factory=list)
    classes: list[str] = field(default_factory=list)
    # (name, op, value, flag, ns) — flag 'i' = case-insensitive value
    # match; ns as in tag_ns but '' is not produced (``[|attr]`` ≡
    # ``[attr]``: unprefixed attributes never inherit a default xmlns)
    attrs: list[tuple[str, str | None, str | None, str | None, str | None]] = field(
        default_factory=list
    )
    nth_of_type: int | None = None
    nth_child: tuple[int, int] | None = None  # (a, b) of an+b
    nth_last_child: tuple[int, int] | None = None
    nth_last_of_type: tuple[int, int] | None = None
    last_child: bool = False
    last_of_type: bool = False
    only_child: bool = False
    only_of_type: bool = False
    negated: list["Simple"] = field(default_factory=list)
    # :is()/:where() — parsed selector groups; match if ANY matches
    is_groups: list = field(default_factory=list)
    # :has() — relative selector groups anchored at this element
    has_groups: list = field(default_factory=list)


def _parse_compound(text: str) -> Simple:
    simple = Simple()
    pos = 0
    while pos < len(text):
        fn = next((f for f in _FUNCTIONAL if text.startswith(f, pos)), None)
        if fn is not None:
            end = _find_balanced(text, pos + len(fn))
            inner = text[pos + len(fn) : end].strip()
            if fn == ":not(":
                # :not(compound) — no combinators inside (CSS level 3)
                simple.negated.append(_parse_compound(inner))
            elif fn == ":has(":
                simple.has_groups.append(parse_selector(inner))
            else:  # :is / :where (identical here — no specificity)
                simple.is_groups.append(parse_selector(inner))
            pos = end + 1
            continue
        m = _TOKEN_RE.match(text, pos)
        if not m:
            raise ValueError(f"unsupported selector fragment: {text[pos:]!r}")
        if m.group("tag"):
            simple.tag = None if m.group("tag") == "*" else m.group("tag").lower()
            simple.tag_ns = m.group("tns")  # None unless 'ns|'/'|'/'*|'
        elif m.group("id"):
            simple.ids.append(m.group("id"))
        elif m.group("cls"):
            simple.classes.append(m.group("cls"))
        elif m.group("attr"):
            val = m.group("qval") if m.group("q") else m.group("val")
            flag = (m.group("flag") or "").lower() or None
            simple.attrs.append(
                (m.group("attr"), m.group("op"), val, flag, m.group("ans"))
            )
        elif m.group("nthlot"):
            simple.nth_last_of_type = _parse_nth(m.group("nthlot"))
        elif m.group("nth"):
            simple.nth_of_type = int(m.group("nth"))
        elif m.group(0) == ":first-of-type":
            simple.nth_of_type = 1
        elif m.group(0) == ":last-of-type":
            simple.last_of_type = True
        elif m.group("nthlc"):
            simple.nth_last_child = _parse_nth(m.group("nthlc"))
        elif m.group("nthc"):
            simple.nth_child = _parse_nth(m.group("nthc"))
        elif m.group(0) == ":first-child":
            simple.nth_child = (0, 1)
        elif m.group(0) == ":last-child":
            simple.last_child = True
        elif m.group(0) == ":only-child":
            simple.only_child = True
        elif m.group(0) == ":only-of-type":
            simple.only_of_type = True
        pos = m.end()
    return simple


def _split_top(selector: str, sep: str) -> list[str]:
    """Split on ``sep`` only at bracket/paren depth 0 outside quotes —
    a comma or space inside :nth-child(2n+1) or [title="a, b"] is data,
    not syntax."""
    parts, buf = [], []
    depth, quote = 0, None
    for ch in selector:
        if quote:
            buf.append(ch)
            if ch == quote:
                quote = None
        elif ch in "'\"":
            quote = ch
            buf.append(ch)
        elif ch in "([":
            depth += 1
            buf.append(ch)
        elif ch in ")]":
            depth -= 1
            buf.append(ch)
        elif depth == 0 and ch == sep:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    parts.append("".join(buf))
    return parts


def _tokenize_chain(alt: str) -> list[str]:
    """compound/combinator tokens, depth- and quote-aware."""
    toks: list[str] = []
    buf: list[str] = []
    depth, quote = 0, None

    def flush():
        if buf:
            toks.append("".join(buf))
            buf.clear()

    for ch in alt:
        if quote:
            buf.append(ch)
            if ch == quote:
                quote = None
        elif ch in "'\"":
            quote = ch
            buf.append(ch)
        elif ch in "([":
            depth += 1
            buf.append(ch)
        elif ch in ")]":
            depth -= 1
            buf.append(ch)
        elif depth == 0 and ch in ">+~":
            flush()
            toks.append(ch)
        elif depth == 0 and ch.isspace():
            flush()
        else:
            buf.append(ch)
    flush()
    return toks


def parse_selector(selector: str) -> list[list[tuple[str, Simple]]]:
    """'div > p.x, a' → [[(' ', div), ('>', p.x)], [(' ', a)]]."""
    groups = []
    for alt in _split_top(selector, ","):
        alt = alt.strip()
        if not alt:
            continue
        chain: list[tuple[str, Simple]] = []
        comb = " "
        for part in _tokenize_chain(alt):
            if part in (">", "+", "~"):
                comb = part
                continue
            chain.append((comb, _parse_compound(part)))
            comb = " "
        if not chain:
            raise ValueError(f"empty selector alternative in {selector!r}")
        groups.append(chain)
    if not groups:
        raise ValueError(f"empty selector: {selector!r}")
    return groups


# the xml prefix is implicitly bound in every document (XML namespaces
# spec §3 — public W3C REC); the reference seeds the same binding via
# XMLTreeBuilderForLxml.DEFAULT_NSMAPS (_lxml/xml_builder.py:39)
XML_NS = "http://www.w3.org/XML/1998/namespace"


def doc_namespaces(nodes: list[dict]) -> dict[str, str]:
    """Prefix→URI map the document declares, reference semantics
    (_lxml/xml_builder.py:57-79 via Tag.namespaces): every ``xmlns:p``
    encountered anywhere is tracked, FIRST declaration of a prefix
    wins, un-prefixed (default) xmlns is NOT tracked. This is the
    default namespaces dict for ``select()`` when the caller passes
    none, exactly like ``soup.css.select``."""
    out = {"xml": XML_NS}
    for n in nodes:
        if n["kind"] != "tag" or not n["attrs"]:
            continue
        for k, v in n["attrs"].items():
            if k.startswith("xmlns:"):
                out.setdefault(k[6:], v)
    return out


def _attr_candidates(node: dict, name: str, ns: str | None, idx) -> list[str]:
    """Values of the attributes that ``[ns|name]`` can refer to on this
    node. Unprefixed selectors bind the literal key (attributes never
    inherit a default namespace); ``*|`` matches any prefix's local
    name; a prefix resolves through the selector namespaces dict AND
    the node's in-scope xmlns declarations."""
    attrs = node["attrs"] or {}
    if ns is None:
        return [attrs[name]] if name in attrs else []
    if ns == "*":
        return [
            v
            for k, v in attrs.items()
            if k == name or (":" in k and k.rpartition(":")[2] == name)
        ]
    want_uri = idx.sel_ns.get(ns)
    if want_uri is None:
        return []
    scope = idx.attr_scope(node)
    out = []
    for k, v in attrs.items():
        if ":" not in k:
            continue
        pfx, _, local = k.partition(":")
        if local == name and scope.get(pfx) == want_uri:
            out.append(v)
    return out


def _attr_match(
    node: dict,
    name: str,
    op: str | None,
    want: str | None,
    flag: str | None = None,
    ns: str | None = None,
    idx=None,
) -> bool:
    candidates = _attr_candidates(node, name, ns, idx)
    if not candidates:
        return False
    if op is None or want is None:
        return True
    for raw in candidates:
        w = want
        if flag == "i":  # [attr=v i]: ASCII-case-insensitive value match
            raw, w = raw.lower(), w.lower()
        if op == "=":
            # multi-valued attributes compare against the space-joined list
            if is_cdata_list_attr(node["name"], name):
                if " ".join(split_cdata_list(raw)) == w:
                    return True
                continue
            if raw == w:
                return True
        elif op == "~=":
            if w in raw.split():
                return True
        elif op == "^=":
            if w and raw.startswith(w):
                return True
        elif op == "$=":
            if w and raw.endswith(w):
                return True
        elif op == "*=":
            if w and w in raw:
                return True
        elif op == "|=":
            if raw == w or raw.startswith(w + "-"):
                return True
    return False


class _DocIndex:
    """Per-document lookup structures for combinator evaluation."""

    def __init__(self, nodes: list[dict], sel_ns: dict[str, str] | None = None):
        self.nodes = nodes
        # selector-level prefix→URI bindings (the namespaces= argument,
        # or doc_namespaces() when the caller passed none)
        self.sel_ns: dict[str, str] = (
            sel_ns if sel_ns is not None else doc_namespaces(nodes)
        )
        self._ns_built = False
        # (parent_pos, name) → ordered positions, for nth-of-type
        self.type_order: dict[tuple[int, str], list[int]] = {}
        # parent_pos → ordered tag children positions, for +/~
        self.tag_children: dict[int, list[int]] = {}
        for n in nodes:
            if n["kind"] != "tag":
                continue
            self.type_order.setdefault((n["parent_pos"], n["name"]), []).append(
                n["pos"]
            )
            self.tag_children.setdefault(n["parent_pos"], []).append(n["pos"])

    def _ensure_ns(self) -> None:
        """One forward pass (document order ⇒ a parent's scope is built
        before its children) resolving the in-scope xmlns bindings and
        each element's namespace URI. Lazy: documents selected without
        namespace selectors never pay for this."""
        if self._ns_built:
            return
        base = {"xml": XML_NS}
        scopes: dict[int, dict] = {-1: base}
        uris: dict[int, str | None] = {}
        for n in self.nodes:
            if n["kind"] != "tag":
                continue
            scope = scopes.get(n["parent_pos"], base)
            attrs = n["attrs"] or {}
            decls = {
                k: v
                for k, v in attrs.items()
                if k == "xmlns" or k.startswith("xmlns:")
            }
            if decls:
                scope = dict(scope)
                for k, v in decls.items():
                    scope["" if k == "xmlns" else k[6:]] = v
            scopes[n["pos"]] = scope
            name = n["name"]
            if ":" in name:
                uris[n["pos"]] = scope.get(name.partition(":")[0])
            else:
                uris[n["pos"]] = scope.get("")
        self._scopes, self._uris = scopes, uris
        self._ns_built = True

    def element_uri(self, node: dict) -> str | None:
        self._ensure_ns()
        return self._uris.get(node["pos"])

    def attr_scope(self, node: dict) -> dict:
        self._ensure_ns()
        return self._scopes.get(node["pos"], {"xml": XML_NS})

    def nth_of_type(self, node: dict) -> int:
        return self.type_order[(node["parent_pos"], node["name"])].index(
            node["pos"]
        ) + 1

    def type_count(self, node: dict) -> int:
        return len(self.type_order[(node["parent_pos"], node["name"])])

    def child_count(self, node: dict) -> int:
        return len(self.tag_children[node["parent_pos"]])

    def child_index(self, node: dict) -> int:
        """1-based index among the parent's TAG children (CSS
        :nth-child counts elements only)."""
        return self.tag_children[node["parent_pos"]].index(node["pos"]) + 1

    def is_last_child(self, node: dict) -> bool:
        sibs = self.tag_children[node["parent_pos"]]
        return sibs[-1] == node["pos"]

    def prev_tag_sibling(self, node: dict) -> dict | None:
        sibs = self.tag_children.get(node["parent_pos"], [])
        i = sibs.index(node["pos"])
        return self.nodes[sibs[i - 1]] if i > 0 else None

    def prev_tag_siblings(self, node: dict):
        sibs = self.tag_children.get(node["parent_pos"], [])
        i = sibs.index(node["pos"])
        for p in sibs[:i]:
            yield self.nodes[p]


def _elem_ns_ok(node: dict, tag_ns: str, idx: _DocIndex) -> bool:
    """Does the element satisfy an explicit namespace constraint?
    '*' = any, '' = no namespace (``|tag``), else a selector prefix
    resolved through the namespaces dict (unknown prefix matches
    nothing — soupsieve behavior)."""
    if tag_ns == "*":
        return True
    uri = idx.element_uri(node)
    if tag_ns == "":
        return uri is None
    want = idx.sel_ns.get(tag_ns)
    return want is not None and uri == want


def _matches_simple(node: dict, simple: Simple, idx: _DocIndex) -> bool:
    if node["kind"] != "tag":
        return False
    if simple.tag_ns is not None and not _elem_ns_ok(node, simple.tag_ns, idx):
        return False
    if simple.tag is not None:
        name = node["name"]
        if simple.tag_ns is not None:
            # explicit ns part: the tag matches the LOCAL name
            if name.rpartition(":")[2] != simple.tag:
                return False
        elif idx.sel_ns.get("") is not None:
            # a default namespace was supplied: an unprefixed type
            # selector must match local name IN that namespace
            if (
                name.rpartition(":")[2] != simple.tag
                or idx.element_uri(node) != idx.sel_ns[""]
            ):
                return False
        elif name != simple.tag and not (
            ":" in name and name.rpartition(":")[2] == simple.tag
        ):
            # no ns context: qualified-name match (HTML path, unchanged)
            # plus namespace-agnostic local-name match for prefixed
            # elements (soupsieve's XML behavior without a default ns).
            # DOCUMENTED DEVIATION (CLAUDE.md oracle-fidelity traps):
            # soupsieve-on-html.parser keeps `o:p` as a literal name so
            # `p` does NOT match it in HTML documents; this engine has
            # one parse mode and applies the XML local-name rule to all
            # documents. Do not "fix" one branch without the other.
            return False
    attrs = node["attrs"] or {}
    for i in simple.ids:
        if attrs.get("id") != i:
            return False
    if simple.classes:
        have = split_cdata_list(attrs.get("class", ""))
        if not all(c in have for c in simple.classes):
            return False
    for name, op, want, flag, ns in simple.attrs:
        if not _attr_match(node, name, op, want, flag, ns, idx):
            return False
    if simple.nth_of_type is not None and idx.nth_of_type(node) != simple.nth_of_type:
        return False
    if simple.nth_child is not None and not _nth_matches(
        *simple.nth_child, idx.child_index(node)
    ):
        return False
    if simple.nth_last_child is not None and not _nth_matches(
        *simple.nth_last_child,
        idx.child_count(node) - idx.child_index(node) + 1,
    ):
        return False
    if simple.nth_last_of_type is not None and not _nth_matches(
        *simple.nth_last_of_type,
        idx.type_count(node) - idx.nth_of_type(node) + 1,
    ):
        return False
    if simple.last_child and not idx.is_last_child(node):
        return False
    if simple.last_of_type and idx.nth_of_type(node) != idx.type_count(node):
        return False
    if simple.only_child and idx.child_count(node) != 1:
        return False
    if simple.only_of_type and idx.type_count(node) != 1:
        return False
    for neg in simple.negated:
        if _matches_simple(node, neg, idx):
            return False
    for groups in simple.is_groups:  # :is()/:where(): any alternative
        if not any(_matches_chain(node, chain, idx) for chain in groups):
            return False
    for groups in simple.has_groups:  # :has(): relative, scope-anchored
        if not _has_match(node, groups, idx):
            return False
    return True


def _scope_relation(d: dict, comb: str, scope: dict, idx: _DocIndex) -> bool:
    """Does node ``d`` stand in ``comb`` relation to the :has() scope
    element? (The relative selector's implied :scope anchor.)"""
    if comb == " ":
        return scope["pos"] < d["pos"] <= scope["subtree_end"]
    if comb == ">":
        return d["parent_pos"] == scope["pos"]
    sibs = idx.tag_children.get(scope["parent_pos"], [])
    if scope["pos"] not in sibs or d["pos"] not in sibs:
        return False
    i, j = sibs.index(scope["pos"]), sibs.index(d["pos"])
    if comb == "+":
        return j == i + 1
    if comb == "~":
        return j > i
    return False


def _matches_chain_scoped(
    node: dict, chain: list, idx: _DocIndex, scope: dict
) -> bool:
    """Like _matches_chain, but the chain's leftmost combinator must
    connect its leftmost compound to the :has() scope element."""
    comb, simple = chain[-1]
    if not _matches_simple(node, simple, idx):
        return False
    if len(chain) == 1:
        return _scope_relation(node, comb, scope, idx)
    rest = chain[:-1]
    nodes = idx.nodes
    if comb == " ":
        p = node["parent_pos"]
        while p >= 0:
            if _matches_chain_scoped(nodes[p], rest, idx, scope):
                return True
            p = nodes[p]["parent_pos"]
        return False
    if comb == ">":
        p = node["parent_pos"]
        return p >= 0 and _matches_chain_scoped(nodes[p], rest, idx, scope)
    if comb == "+":
        prev = idx.prev_tag_sibling(node)
        return prev is not None and _matches_chain_scoped(prev, rest, idx, scope)
    if comb == "~":
        return any(
            _matches_chain_scoped(s, rest, idx, scope)
            for s in idx.prev_tag_siblings(node)
        )
    raise ValueError(f"unknown combinator {comb!r}")


def _has_match(scope: dict, groups: list, idx: _DocIndex) -> bool:
    """:has(): does any element satisfy any relative chain anchored at
    ``scope``? Candidates are scanned per the chain's anchor relation —
    subtree for ' '/'>' chains, following siblings (and their subtrees
    for descendant tails) otherwise."""
    nodes = idx.nodes
    for chain in groups:
        anchor_comb = chain[0][0]
        if anchor_comb in (" ", ">"):
            lo, hi = scope["pos"], scope["subtree_end"]
        else:  # sibling anchors: everything after scope in the parent
            sibs = idx.tag_children.get(scope["parent_pos"], [])
            later = [p for p in sibs if p > scope["pos"]]
            if not later:
                continue
            lo = later[0] - 1
            hi = max(nodes[p]["subtree_end"] for p in later)
        for cand in nodes[lo + 1 : hi + 1]:
            if cand["kind"] == "tag" and _matches_chain_scoped(
                cand, chain, idx, scope
            ):
                return True
    return False


def _matches_chain(
    node: dict, chain: list[tuple[str, Simple]], idx: _DocIndex
) -> bool:
    comb, simple = chain[-1]
    if not _matches_simple(node, simple, idx):
        return False
    if len(chain) == 1:
        return True
    rest = chain[:-1]
    nodes = idx.nodes
    if comb == " ":
        p = node["parent_pos"]
        while p >= 0:
            if _matches_chain(nodes[p], rest, idx):
                return True
            p = nodes[p]["parent_pos"]
        return False
    if comb == ">":
        p = node["parent_pos"]
        return p >= 0 and _matches_chain(nodes[p], rest, idx)
    if comb == "+":
        prev = idx.prev_tag_sibling(node)
        return prev is not None and _matches_chain(prev, rest, idx)
    if comb == "~":
        return any(_matches_chain(s, rest, idx) for s in idx.prev_tag_siblings(node))
    raise ValueError(f"unknown combinator {comb!r}")


def select(
    nodes: list[dict],
    selector: str,
    root_pos: int | None = None,
    limit: int | None = None,
    namespaces: dict[str, str] | None = None,
) -> list[dict]:
    """CSS select over one document's node list, in document order.
    ``namespaces`` maps selector prefixes to URIs (reference
    ``Tag.css.select`` surface); when omitted the document's own
    ``xmlns:p`` declarations are used, exactly like the reference."""
    groups = parse_selector(selector)
    idx = _DocIndex(nodes, sel_ns=namespaces)
    if root_pos is None:
        lo, hi = -1, len(nodes) - 1
    else:
        root = nodes[root_pos]
        lo, hi = root["pos"], root["subtree_end"]
    out = []
    for node in nodes[lo + 1 : hi + 1]:
        if any(_matches_chain(node, chain, idx) for chain in groups):
            out.append(node)
            if limit is not None and len(out) >= limit:
                break
    return out


def select_one(
    nodes: list[dict], selector: str, namespaces: dict[str, str] | None = None
) -> dict | None:
    hits = select(nodes, selector, limit=1, namespaces=namespaces)
    return hits[0] if hits else None


def match(
    nodes: list[dict],
    pos: int,
    selector: str,
    namespaces: dict[str, str] | None = None,
) -> bool:
    """``CSS.match`` (reference css.py:243-272): does this node match?"""
    groups = parse_selector(selector)
    idx = _DocIndex(nodes, sel_ns=namespaces)
    node = nodes[pos]
    return any(_matches_chain(node, chain, idx) for chain in groups)


def closest(
    nodes: list[dict],
    pos: int,
    selector: str,
    namespaces: dict[str, str] | None = None,
) -> dict | None:
    """``CSS.closest`` (css.py:211-241): nearest self-or-ancestor
    matching the selector."""
    groups = parse_selector(selector)
    idx = _DocIndex(nodes, sel_ns=namespaces)
    p = pos
    while p >= 0:
        node = nodes[p]
        if node["kind"] == "tag" and any(
            _matches_chain(node, chain, idx) for chain in groups
        ):
            return node
        p = node["parent_pos"]
    return None


def filter_children(
    nodes: list[dict],
    pos: int,
    selector: str,
    namespaces: dict[str, str] | None = None,
) -> list[dict]:
    """``CSS.filter`` (css.py:274-305): direct children matching."""
    groups = parse_selector(selector)
    idx = _DocIndex(nodes, sel_ns=namespaces)
    return [
        n
        for n in nodes[pos + 1 : nodes[pos]["subtree_end"] + 1]
        if n["parent_pos"] == pos
        and n["kind"] == "tag"
        and any(_matches_chain(n, chain, idx) for chain in groups)
    ]


def iselect(
    nodes: list[dict],
    selector: str,
    root_pos: int | None = None,
    namespaces: dict[str, str] | None = None,
):
    """``CSS.iselect``: generator variant of select."""
    groups = parse_selector(selector)
    idx = _DocIndex(nodes, sel_ns=namespaces)
    if root_pos is None:
        lo, hi = -1, len(nodes) - 1
    else:
        lo, hi = nodes[root_pos]["pos"], nodes[root_pos]["subtree_end"]
    for node in nodes[lo + 1 : hi + 1]:
        if any(_matches_chain(node, chain, idx) for chain in groups):
            yield node


class CompiledSelector:
    """Pre-parsed selector (reference ``CSS.compile`` → chinois's
    compiled object, css.py:93-101): reuse across documents skips
    re-tokenization. ``namespaces`` given here is compiled in, like
    chinois — it cannot be replaced per select() call (reference
    css.py:60-67 ``_ns``); when omitted each document's own xmlns
    declarations bind the prefixes."""

    def __init__(self, selector: str, namespaces: dict[str, str] | None = None):
        self.pattern = selector
        self.namespaces = namespaces
        self.groups = parse_selector(selector)

    def select(self, nodes, root_pos=None, limit=None):
        idx = _DocIndex(nodes, sel_ns=self.namespaces)
        if root_pos is None:
            lo, hi = -1, len(nodes) - 1
        else:
            lo, hi = nodes[root_pos]["pos"], nodes[root_pos]["subtree_end"]
        out = []
        for node in nodes[lo + 1 : hi + 1]:
            if any(_matches_chain(node, chain, idx) for chain in self.groups):
                out.append(node)
                if limit is not None and len(out) >= limit:
                    break
        return out


def compile_selector(
    selector: str, namespaces: dict[str, str] | None = None
) -> CompiledSelector:
    """``CSS.compile`` analogue."""
    return CompiledSelector(selector, namespaces=namespaces)


def escape_ident(ident: str) -> str:
    """``CSS.escape`` (reference css.py:103-110 → CSSOM serialize-an-
    identifier, https://drafts.csswg.org/cssom/#serialize-an-identifier
    — public spec algorithm)."""
    out = []
    for i, ch in enumerate(ident):
        cp = ord(ch)
        if cp == 0:
            out.append("�")
        elif 0x01 <= cp <= 0x1F or cp == 0x7F:
            out.append(f"\\{cp:x} ")
        elif i == 0 and ch.isdigit():
            out.append(f"\\{cp:x} ")
        elif i == 1 and ch.isdigit() and ident[0] == "-":
            out.append(f"\\{cp:x} ")
        elif i == 0 and ch == "-" and len(ident) == 1:
            out.append("\\-")
        elif cp >= 0x80 or ch in "-_" or ch.isalnum():
            out.append(ch)
        else:
            out.append("\\" + ch)
    return "".join(out)


def select_stage(
    pages,
    selector: str,
    namespaces: dict[str, str] | None = None,
):
    """DataFrame stage: (url, html) rows → matched node rows per
    document (document-order), one Arrow parse+select pass."""
    import pandas as pd

    from bisque_spark.operators.nodes import NODES_SCHEMA, _FIELDS
    from bisque_spark.parse import parse_nodes
    from bisque_spark.util import spread

    def run(batches):
        # parse the selector ONCE per task, not once per document
        compiled = CompiledSelector(selector, namespaces=namespaces)
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in _FIELDS}
            for url, html in zip(pdf["url"], pdf["html"]):
                if html is None:
                    continue
                nodes = parse_nodes(html)
                for hit in compiled.select(nodes):
                    out["url"].append(url)
                    for k in _FIELDS[1:]:
                        out[k].append(hit[k])
            # a zero-hit batch must not be yielded: an EMPTY pandas
            # object column can't convert to Arrow map<string,string>
            # (NumPyConverter), and yielding nothing is valid here
            if out["url"]:
                yield pd.DataFrame(out)

    src = spread(pages.select("url", "html"))
    return src.mapInPandas(run, schema=NODES_SCHEMA)

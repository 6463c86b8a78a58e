"""Driver-contract invariants for __spark_entry__ — the grading
harness's assumptions, pinned in CI: exactly 50 queries, every
oracle-backed key BEFORE the rows-only ones (the driver grades the
first 50 keys), oracle keys ⊆ query keys, and entry() returns a
stable-schema DataFrame."""

import __spark_entry__ as entrymod


def test_queries_oracle_contract():
    q = list(entrymod.queries().keys())
    o = set(entrymod.oracle_sql().keys())
    assert len(q) == 50, f"driver grades the FIRST 50 keys; got {len(q)}"
    assert len(q) == len(set(q))
    assert o <= set(q), f"orphan oracle keys: {o - set(q)}"
    n_oracle = len(o)
    # every oracle-backed key must precede every rows-only key
    assert all(k in o for k in q[:n_oracle]), [
        k for k in q[:n_oracle] if k not in o
    ]
    assert not any(k in o for k in q[n_oracle:]), [
        k for k in q[n_oracle:] if k in o
    ]
    assert n_oracle >= 39  # round-4 floor: never regress the hash gate
    assert all(callable(f) for f in entrymod.queries().values())


def test_every_query_body_is_registered():
    """No dead query bodies: every module-level ``_q_*`` function is a
    value of queries() (a body dropped from the dict is deleted, not
    left behind)."""
    import inspect

    registered = set(entrymod.queries().values())
    bodies = {
        name: fn
        for name, fn in vars(entrymod).items()
        if name.startswith("_q_") and inspect.isfunction(fn)
    }
    assert bodies, "no _q_* query bodies found"
    assert [n for n, fn in bodies.items() if fn not in registered] == []


def test_entry_runs_with_stable_schema(spark):
    df = entrymod.entry(spark)
    assert [f.name for f in df.schema.fields] == [
        "doc_id", "lang", "n_tokens", "punct_ratio", "stopword_ratio",
        "lang_pred", "fingerprint",
    ]
    assert df.count() > 0


# Engine modules that no graded root imports, each kept on purpose.
_UNREACHED_OK = {
    "bisque_spark/operators/mutate.py": (
        "bisque mutate-API parity, diffed against the reference"
    ),
    "bisque_spark/operators/linkrank.py": (
        "builds run_crawl(authority=), which test_crawl_authority pins"
    ),
}


def _imported_modules(path, root):
    """Dotted names a file imports (lazy in-function imports too),
    relative imports resolved against the file's package."""
    import ast

    parts = path.relative_to(root).with_suffix("").parts
    pkg = list(parts[:-1])
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = pkg[: len(pkg) - node.level + 1] if node.level else []
            mod = ".".join(base + ([node.module] if node.module else []))
            yield mod
            yield from (f"{mod}.{a.name}" for a in node.names)


def test_every_engine_module_reached_from_graded_roots():
    """Every module under bisque_spark/ is imported, directly or
    transitively, from a graded root (the driver entry, the crawl
    plan, the bench and the perfbench runner); test files do not
    count. A module only tests import is deleted or listed, with its
    reason, in _UNREACHED_OK."""
    import pathlib

    root = pathlib.Path(entrymod.__file__).resolve().parent
    roots = [
        root / "__spark_entry__.py",
        root / "bisque_spark" / "plans" / "crawl.py",
        root / "bench.py",
        *sorted((root / "perfbench").glob("*.py")),
    ]

    def is_test(p):
        rel = p.relative_to(root)
        return rel.parts[0] == "tests" or rel.name.startswith(("test_", "conftest"))

    def resolve(dotted):
        base = root.joinpath(*dotted.split("."))
        for p in (base.with_suffix(".py"), base / "__init__.py"):
            if p.is_file():
                return p
        return None

    reached, todo = set(), [p for p in roots if not is_test(p)]
    while todo:
        p = todo.pop()
        if p in reached:
            continue
        reached.add(p)
        for dotted in _imported_modules(p, root):
            names = dotted.split(".")
            # importing a.b.c runs a/__init__.py and a/b/__init__.py too
            for i in range(1, len(names) + 1):
                f = resolve(".".join(names[:i]))
                if f is not None and not is_test(f):
                    todo.append(f)

    engine = {
        str(p.relative_to(root)) for p in (root / "bisque_spark").rglob("*.py")
    }
    unreached = engine - {str(p.relative_to(root)) for p in reached}
    assert sorted(unreached - set(_UNREACHED_OK)) == []
    # an allowlisted module that a root now reaches leaves the list
    assert sorted(set(_UNREACHED_OK) - unreached) == []


# Engine defs ("module.qualname" under bisque_spark/) that no graded
# root reaches, grouped under the one reason each group is kept.
_UNREACHED_DEFS_OK = {
    "oracle twins and fixture writers": {
        "functions.gif.decode_gif_frames",
        "functions.jpeg.cmyk_to_rgb",
        "functions.jpeg.encode_jpeg_cmyk",
        "functions.jpeg.psnr",
        "functions.robots.robots_allowed_py",
        "functions.sitemap._numref_py",
        "functions.sitemap._unescape_py",
        "functions.sitemap.parse_sitemap",
        "functions.text.fingerprint_py",
        "functions.text.langid_py",
        "functions.urlnorm.url_host",
        "operators.trapguard._split_url",
        "operators.trapguard.trap_reason",
        "operators.multimodal.encode_bmp",
        "operators.multimodal.encode_ppm",
        "operators.multimodal.encode_wav",
        "operators.similarity.cosine_topk",
    },
    "bisque reference parity, diffed against the reference": {
        "functions.css.closest",
        "functions.css.compile_selector",
        "functions.css.escape_ident",
        "functions.css.filter_children",
        "functions.css.iselect",
        "functions.css.select_one",
        "functions.encoding.candidate_encodings",
        "functions.encoding.detwingle",
        "functions.substitution.substitute_xml_containing_entities",
        "operators.nodes.callable_strainer",
        "operators.nodes.children_of",
        "operators.nodes.descendants_of",
        "operators.nodes.find_first",
        "operators.nodes.get_text_of",
        "operators.nodes.next_elements_of",
        "operators.nodes.next_siblings_of",
        "operators.nodes.parents_of",
        "operators.nodes.previous_elements_of",
        "parse._rewrite_meta_charset",
        "parse.encode_nodes",
        "parse.prettify_nodes",
        "parse.serialize_contents",
    },
    "the north_rule's Bloom/cuckoo filter (deletion and shard upkeep)": {
        "operators.recrawl.reopen_for_refetch",
        "operators.seen._delete_many",
        "operators.seen.bits_for",
        "operators.seen.compact_shards",
        "operators.seen.delete_from_shards",
        "operators.seen.merge_shards",
        "operators.seen.nb_for",
    },
    "the crawl's output readers": {
        "plans.crawl.read_images",
        "plans.crawl.read_links",
        "plans.crawl.read_order",
        "plans.crawl.read_seen",
    },
    "the Iceberg sink's maintenance ops": {
        "sources.catalog.ParquetCatalog.add_column",
        "sources.catalog.ParquetCatalog.compact",
        "sources.catalog.ParquetCatalog.delete_where",
        "sources.catalog.ParquetCatalog.drop_column",
        "sources.catalog.ParquetCatalog.expire_snapshots",
        "sources.catalog.ParquetCatalog.read_bucketed",
        "sources.catalog.ParquetCatalog.snapshots",
    },
    "per-stage compositions the multimodal differentials compare against": {
        "operators.multimodal._exif_row",
        "operators.multimodal.image_exif",
        "operators.multimodal.image_features",
        "operators.multimodal.image_quality",
        "operators.multimodal.image_thumbnails",
    },
    "HTMLParser callbacks, called by the base class": {
        "parse._NodeCollector.handle_charref",
        "parse._NodeCollector.handle_comment",
        "parse._NodeCollector.handle_data",
        "parse._NodeCollector.handle_decl",
        "parse._NodeCollector.handle_endtag",
        "parse._NodeCollector.handle_entityref",
        "parse._NodeCollector.handle_pi",
        "parse._NodeCollector.handle_startendtag",
        "parse._NodeCollector.handle_starttag",
        "parse._NodeCollector.unknown_decl",
    },
}


def _referenced_names(nodes):
    """Every name the nodes mention: identifiers, attributes and
    imported names. String constants do not count: a query key or a
    column name that spells a def's name does not call it."""
    import ast

    out = set()
    for node in nodes:
        for x in ast.walk(node):
            if isinstance(x, ast.Name):
                out.add(x.id)
            elif isinstance(x, ast.Attribute):
                out.add(x.attr)
            elif isinstance(x, ast.alias):
                out.add(x.name.rsplit(".", 1)[-1])
    return out


def test_every_engine_def_reached_from_graded_roots():
    """Name-based def-level scan: a def under bisque_spark/ is reached
    when a reached body names it. Roots are the driver entry, the
    bench, the perfbench runner (its tests excluded) and module-level
    code under bisque_spark/. A class body's own statements count as
    the class; dunder methods are reached implicitly. Defs of a module
    that _UNREACHED_OK lists are covered by that entry. Any other
    unreached def is deleted or listed in _UNREACHED_DEFS_OK; a listed
    name that is now reached or no longer defined leaves the list."""
    import ast
    import pathlib

    root = pathlib.Path(entrymod.__file__).resolve().parent
    pkg = root / "bisque_spark"
    kinds = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
    defs, module_code, allowlisted = {}, [], set()

    def collect(body, prefix):
        for st in body:
            if isinstance(st, kinds):
                defs[f"{prefix}.{st.name}"] = st
                if isinstance(st, ast.ClassDef):
                    collect(st.body, f"{prefix}.{st.name}")

    for p in sorted(pkg.rglob("*.py")):
        mod = ".".join(p.relative_to(pkg).with_suffix("").parts)
        tree = ast.parse(p.read_text())
        collect(tree.body, mod)
        module_code += [st for st in tree.body if not isinstance(st, kinds)]
        if str(p.relative_to(root)) in _UNREACHED_OK:
            allowlisted.add(mod)

    def own_code(d):
        # a class's methods are defs of their own; the rest is the class
        if isinstance(d, ast.ClassDef):
            body = [st for st in d.body if not isinstance(st, kinds)]
            return body + d.bases + d.keywords + d.decorator_list
        return [d]

    roots = [root / "__spark_entry__.py", root / "bench.py"] + sorted(
        p for p in (root / "perfbench").glob("*.py")
        if not p.name.startswith("test_")
    )
    names = _referenced_names([ast.parse(p.read_text()) for p in roots])
    names |= _referenced_names(module_code)
    reached, grew = set(), True
    while grew:
        grew = False
        for q, d in defs.items():
            dunder = d.name.startswith("__") and d.name.endswith("__")
            if q not in reached and (d.name in names or dunder):
                reached.add(q)
                names |= _referenced_names(own_code(d))
                grew = True

    unreached = {
        q for q in set(defs) - reached
        if not any(q.startswith(m + ".") for m in allowlisted)
    }
    listed = set().union(*_UNREACHED_DEFS_OK.values())
    assert sorted(unreached - listed) == []
    # a listed def that is now reached, or gone, leaves the list
    assert sorted(listed - unreached) == []


# Defaulted parameters ("module.qualname(param)") of engine defs that
# no call in the repo passes, grouped under the one reason each group
# is kept.
_UNPASSED_OPTIONS_OK = {
    "bisque reference parity: the signature mirrors bisque's API": {
        "functions.css.closest(namespaces)",
        "functions.css.compile_selector(namespaces)",
        "functions.css.filter_children(namespaces)",
        "functions.css.iselect(namespaces)",
        "functions.css.iselect(root_pos)",
        "functions.css.match(namespaces)",
        "functions.css.select_one(namespaces)",
        "functions.encoding.candidate_encodings(exclude)",
        "functions.encoding.candidate_encodings(is_html)",
        "functions.encoding.candidate_encodings(known_definite)",
        "functions.encoding.candidate_encodings(user)",
        "operators.nodes.find_first(string)",
        "parse.encode_nodes(formatter)",
        "parse.prettify_nodes(indent)",
        "parse.serialize_contents(formatter)",
    },
}


def _engine_options(pkg):
    """Every defaulted parameter of a def under ``pkg``:
    "module.qualname(param)" → (callee name, param, position or None
    for keyword-only, kind). kind is "function", "method" or "class":
    a class's __init__ is called by the class name."""
    import ast

    out = {}

    def collect(body, prefix, in_class):
        for st in body:
            if isinstance(st, ast.ClassDef):
                collect(st.body, f"{prefix}.{st.name}", True)
            elif isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = st.args
                static = any(
                    isinstance(d, ast.Name) and d.id == "staticmethod"
                    for d in st.decorator_list
                )
                callee, kind = st.name, "function"
                if st.name == "__init__":
                    callee, kind = prefix.rsplit(".", 1)[-1], "class"
                elif in_class and not static:
                    kind = "method"
                pos = a.posonlyargs + a.args
                first = len(pos) - len(a.defaults)
                params = [(x.arg, i) for i, x in enumerate(pos) if i >= first]
                params += [
                    (x.arg, None)
                    for x, d in zip(a.kwonlyargs, a.kw_defaults)
                    if d is not None
                ]
                for name, i in params:
                    out[f"{prefix}.{st.name}({name})"] = (callee, name, i, kind)
                collect(st.body, f"{prefix}.{st.name}", False)

    for p in sorted(pkg.rglob("*.py")):
        mod = ".".join(p.relative_to(pkg).with_suffix("").parts)
        collect(ast.parse(p.read_text()).body, mod, False)
    return out


def test_every_engine_option_is_passed_by_a_caller():
    """Name-based scan: every defaulted parameter of a def under
    bisque_spark/ is passed by at least one call in the repo's Python
    (engine, `__spark_entry__.py`, bench, perfbench, scripts and tests) — by
    keyword, by position, or through ``*``/``**``. A method called
    through an attribute, or a class called for its __init__, shifts
    positions by one for ``self``. An option that nothing passes has
    one value in use and becomes a constant, or is listed in
    _UNPASSED_OPTIONS_OK; a listed option that is now passed, or no
    longer defined, leaves the list."""
    import ast
    import math
    import pathlib

    root = pathlib.Path(entrymod.__file__).resolve().parent
    options = _engine_options(root / "bisque_spark")
    files = sorted(root.glob("*.py")) + sorted(
        p
        for d in ("bisque_spark", "perfbench", "scripts", "tests")
        for p in (root / d).rglob("*.py")
    )
    # callee name → [(called through an attribute, positional args
    # given, keywords given)]; a * spreads over every position and a
    # ** (keyword None) over every keyword
    calls = {}
    for f in files:
        for c in ast.walk(ast.parse(f.read_text())):
            if not isinstance(c, ast.Call):
                continue
            if isinstance(c.func, ast.Name):
                name, attr = c.func.id, False
            elif isinstance(c.func, ast.Attribute):
                name, attr = c.func.attr, True
            else:
                continue
            starred = any(isinstance(a, ast.Starred) for a in c.args)
            n_pos = math.inf if starred else len(c.args)
            kws = {k.arg for k in c.keywords}
            calls.setdefault(name, []).append((attr, n_pos, kws))

    def passed(callee, name, i, kind):
        for attr, n_pos, kws in calls.get(callee, ()):
            if name in kws or None in kws:
                return True
            shift = kind == "class" or (kind == "method" and attr)
            if i is not None and i - shift < n_pos:
                return True
        return False

    unpassed = {q for q, o in options.items() if not passed(*o)}
    listed = set().union(*_UNPASSED_OPTIONS_OK.values())
    assert sorted(unpassed - listed) == []
    # a listed option that is now passed, or gone, leaves the list
    assert sorted(listed - unpassed) == []

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

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

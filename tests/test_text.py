"""Text-analysis operators: token/quality/langid/fingerprint/simhash."""

import pyspark.sql.functions as F

from bisque_spark.functions.text import (
    fingerprint_py,
    hamming64_col,
    langid_py,
    quality_cols,
    simhash_py,
    token_count_col,
)


def test_token_count_edges(spark):
    df = spark.createDataFrame(
        [("a b  c",), ("",), ("   ",), ("one",)], ["text"]
    ).select(token_count_col("text").alias("n"))
    assert [r["n"] for r in df.collect()] == [3, 0, 0, 1]


def test_quality_cols(spark):
    df = spark.createDataFrame([("Hello, world! This is the test.",)], ["text"])
    q = quality_cols("text")
    row = df.select(
        q["n_tokens"].alias("nt"),
        q["punct_ratio"].alias("pr"),
        q["stopword_ratio"].alias("sr"),
        q["mean_token_len"].alias("ml"),
    ).first()
    assert row["nt"] == 6
    assert abs(row["pr"] - 3 / 31) < 1e-9  # ',' '!' '.'
    assert abs(row["sr"] - 2 / 6) < 1e-9  # 'is'? no — 'the','is'
    assert row["ml"] > 0


def test_langid():
    assert langid_py("the cat is in the house and it is big") == "en"
    assert langid_py("le chat est dans la maison et les arbres") == "fr"
    assert langid_py("der Hund ist nicht ein Tier mit der Katze") == "de"
    assert langid_py("") == "und"
    assert langid_py("zzz qqq xxx") == "und"


def test_fingerprint_whitespace_invariant():
    a = fingerprint_py("hello   world  foo bar baz quux longer text here")
    b = fingerprint_py("hello world foo bar baz quux longer text here")
    assert a == b
    assert fingerprint_py("completely different content") != a


def test_simhash_similarity():
    base = "spark frontier crawl image caption engine batch shuffle partition"
    near = base + " extra"
    far = "entirely unrelated words about cooking pasta tomatoes basil olive"
    h1, h2, h3 = simhash_py(base), simhash_py(near), simhash_py(far)

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(h1, h2) < ham(h1, h3)
    assert ham(h1, h1) == 0


def test_hamming_col_matches_python(spark):
    h1, h2 = simhash_py("a b c d"), simhash_py("a b c e")
    df = spark.createDataFrame([(h1, h2)], "a long, b long").select(
        hamming64_col(F.col("a"), F.col("b")).alias("d")
    )
    want = bin((h1 ^ h2) & ((1 << 64) - 1)).count("1")
    assert df.first()["d"] == want


def test_vectorized_series_match_python_twins():
    """The Arrow-batch bodies (one xxh64_vec call per batch) must be
    bit-identical to the per-row Python twins — the round-1→round-2
    no-behavior-change pin (VERDICT r01 next-round #2)."""
    import pandas as pd

    from bisque_spark.functions.text import (
        _fingerprint_series,
        _simhash_series,
    )
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=30, deadline=None)
    @given(
        st.lists(
            st.one_of(st.none(), st.text(max_size=120)),
            min_size=1,
            max_size=8,
        )
    )
    def check(texts):
        fp = _fingerprint_series(pd.Series(texts, dtype=object))
        sh = _simhash_series(pd.Series(texts, dtype=object))
        for t, g_fp, g_sh in zip(texts, fp, sh):
            if t is None:
                assert pd.isna(g_fp)  # null in → null out (VERDICT r02 #8)
            else:
                assert g_fp == fingerprint_py(t)
            assert g_sh == (simhash_py(t) if t else 0)

    check()


def test_fingerprint_null_row_through_spark(spark):
    """Null text survives the Arrow round-trip as SQL NULL, not a
    hash-of-empty sentinel (VERDICT r02 Next-round #8)."""
    import pyspark.sql.functions as F

    from bisque_spark.functions.text import fingerprint_udf

    df = spark.createDataFrame(
        [(1, "hello world fingerprint text"), (2, None)], "id long, text string"
    )
    rows = {
        r["id"]: r["fp"]
        for r in df.select("id", fingerprint_udf(F.col("text")).alias("fp")).collect()
    }
    assert rows[2] is None
    assert rows[1] == fingerprint_py("hello world fingerprint text")


def test_langid_col_matches_python(spark):
    """JVM langid (pure Column expr) == langid_py on every document."""
    import pyspark.sql.functions as F

    from bisque_spark.functions.text import langid_col

    texts = [
        "the cat is in the house and it is big",
        "le chat est dans la maison et les arbres",
        "der Hund ist nicht ein Tier mit der Katze",
        "el perro es un animal y los gatos",
        "",
        None,
        "zzz qqq xxx",
        "the le der el",  # 1-each tie -> first sorted lang ('de')
        "Uppercase THE AND TO in is it",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
    got = {r["i"]: r["lang"] for r in df.select("i", langid_col("t").alias("lang")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == (langid_py(t) if t is not None else "und"), (i, t, got[i])


def test_bpe_token_count(spark):
    """BPE-ish pretokenizer count: Spark (Java regex) == DuckDB (RE2)
    over unicode/punctuation/contraction samples; ws/empty/null edges."""
    import duckdb
    import pyspark.sql.functions as F

    from bisque_spark.functions.text import BPE_PRETOKEN_PATTERN, bpe_token_count_col

    texts = [
        "It's 2026 — café №5 costs $3.50, right?",
        "",
        None,
        "a  b\t\nc",
        "don't you'll we've",
        "日本語 テスト 123",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "i int, t string")
    got = {
        r["i"]: r["n"]
        for r in df.select("i", bpe_token_count_col("t").alias("n")).collect()
    }
    for i, t in enumerate(texts):
        if t is None:
            assert got[i] is None
            continue
        want = duckdb.sql(
            "SELECT len(list_filter(regexp_extract_all($1, $$"
            + BPE_PRETOKEN_PATTERN
            + "$$), p -> trim(p) != ''))",
            params=[t],
        ).fetchone()[0]
        assert got[i] == want, (t, got[i], want)


# ---- corpus-level line dedup (CCNet preprocessing step) --------------------


def _dedup_lines_py(rows, min_chars=6):
    """Independent Python oracle: keeper per long line = min (id, idx)."""
    keeper = {}
    for did, text in rows:
        for i, line in enumerate((text or "").split("\n")):
            if len(line) >= min_chars:
                k = keeper.get(line)
                if k is None or (did, i) < k:
                    keeper[line] = (did, i)
    out = {}
    for did, text in rows:
        lines = (text or "").split("\n")
        kept = [
            line
            for i, line in enumerate(lines)
            if len(line) < min_chars or keeper[line] == (did, i)
        ]
        out[did] = ("\n".join(kept), len(lines), len(kept))
    return out


def test_dedup_lines_corpus_matches_python_oracle(spark):
    from bisque_spark.functions.text import dedup_lines_corpus

    boiler = "Accept cookies to continue browsing"
    nav = "Home | About | Contact"
    rows = [
        (1, f"{boiler}\nunique first doc line\n{nav}"),
        (2, f"{boiler}\nsecond doc body\n{nav}\n-\n"),
        (3, f"third doc body\n{boiler}"),
        (4, ""),
        (5, None),
        (6, "-\n-\n-"),  # short lines: never deduplicated
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text"], r["n_lines"], r["n_lines_kept"])
        for r in dedup_lines_corpus(df).collect()
    }
    want = _dedup_lines_py(rows)
    assert got == want
    # the boilerplate survives exactly once, in the (id, idx)-first doc
    assert boiler in got[1][0]
    assert boiler not in got[2][0] and boiler not in got[3][0]
    assert got[6][0] == "-\n-\n-"  # short lines untouched


def test_dedup_lines_corpus_idempotent_and_testdata(spark):
    from bisque_spark.functions.text import dedup_lines_corpus

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    once = dedup_lines_corpus(docs).select("doc_id", "text")
    rows1 = {r["doc_id"]: r["text"] for r in once.collect()}
    want = _dedup_lines_py(
        [(r["doc_id"], r["text"]) for r in
         docs.select("doc_id", "text").collect()]
    )
    assert rows1 == {k: v[0] for k, v in want.items()}
    # idempotence: every surviving long line is now globally unique
    twice = dedup_lines_corpus(
        once.withColumnRenamed("text", "text")
    ).select("doc_id", "text")
    rows2 = {r["doc_id"]: r["text"] for r in twice.collect()}
    assert rows2 == rows1


def test_dedup_lines_corpus_hypothesis_differential(spark):
    """Randomized corpora (shared/unique/short/unicode/empty lines)
    against the Python oracle — one Spark run over a hypothesis-grade
    generated batch (per-example Spark jobs would be prohibitive)."""
    import random

    from bisque_spark.functions.text import dedup_lines_corpus

    rng = random.Random(77)
    pool = (
        ["shared boilerplate line one", "another common footer line",
         "Ünïcode shared line ✓ with marks", "tail boilerplate"]
        + [f"unique-{i} body line with words" for i in range(40)]
        + ["-", "", "x", "☂"]  # short: never deduplicated
    )
    rows = []
    for did in range(60):
        n = rng.randrange(0, 7)
        text = "\n".join(rng.choice(pool) for _ in range(n)) if n else ""
        rows.append((did, text if rng.random() > 0.05 else None))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text"], r["n_lines"], r["n_lines_kept"])
        for r in dedup_lines_corpus(df).collect()
    }
    assert got == _dedup_lines_py(rows)

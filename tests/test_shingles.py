"""The Arrow shingle kernel (shingle_array_py) must produce byte-identical
arrays to the pure-column-expression form (shingle_array) — the dedup
operators default to the Python kernel for speed, while the oracle SQL
replicates the column-expression semantics, so this equality IS the
correctness bridge."""

from __future__ import annotations

from pyspark.sql import functions as F

from pincspark.operators.dedup import (
    shingle_array,
    shingle_array_py,
    shingle_hash_array_py,
)
from tests.conftest import SF_DIR

EDGE_TEXTS = [
    None,
    "",
    " ",
    "   ",
    "one",
    "one two",
    "one two three",
    "one two three four",
    "!!! ??? ...",
    "  Leading and   trailing  ",
    "Tabs\tand\nnewlines\r\nhere",
    "MiXeD CaSe RePeAt MiXeD CaSe RePeAt",
    "digits 123 mix3d t0kens 123 digits",
    "Ünïcödé wörds stràight thróugh",
    "a b a b a b a b",
    "x" * 500,
    ("w " * 300).strip(),
]


def _both(spark, df, n):
    a = (
        df.select("i", F.to_json(shingle_array("t", n)).alias("j"))
        .orderBy("i")
        .collect()
    )
    b = (
        df.select("i", F.to_json(shingle_array_py("t", n)).alias("j"))
        .orderBy("i")
        .collect()
    )
    return [r["j"] for r in a], [r["j"] for r in b]


def test_edge_rows_identical(spark):
    df = spark.createDataFrame(
        list(enumerate(EDGE_TEXTS)), ["i", "t"]
    )
    for n in (1, 2, 3, 5):
        hof, py = _both(spark, df, n)
        assert hof == py, f"n={n}"


def test_corpus_identical(spark):
    from pincspark.sources.tables import table

    docs = table(spark, SF_DIR, "documents").select(
        F.col("doc_id").alias("i"), F.col("text").alias("t")
    )
    hof, py = _both(spark, docs, 3)
    assert hof == py


def _hash_parity(spark, df, hex_chars):
    """shingle_hash_array_py must equal md5-prefix hashing of the
    column-expression shingles (conv path == the DuckDB oracle's
    ('0x'||substring(md5(s),1,k))::BIGINT)."""
    jvm_hash = F.conv(F.substring(F.md5(F.col("s")), 1, hex_chars), 16, 10).cast(
        "bigint"
    )
    a = (
        df.select("i", F.posexplode(shingle_array("t", 3)).alias("p", "s"))
        .select("i", "p", jvm_hash.alias("h"))
        .orderBy("i", "p")
        .collect()
    )
    b = (
        df.select(
            "i", F.posexplode(shingle_hash_array_py("t", 3, hex_chars)).alias("p", "h")
        )
        .orderBy("i", "p")
        .collect()
    )
    return [tuple(r) for r in a], [tuple(r) for r in b]


def test_hash_kernel_matches_jvm_md5(spark):
    df = spark.createDataFrame(list(enumerate(EDGE_TEXTS)), ["i", "t"])
    for hex_chars in (8, 15):
        jvm, py = _hash_parity(spark, df, hex_chars)
        assert jvm == py, f"hex_chars={hex_chars}"


def test_hash_kernel_matches_jvm_md5_corpus(spark):
    from pincspark.sources.tables import table

    docs = table(spark, SF_DIR, "documents").select(
        F.col("doc_id").alias("i"), F.col("text").alias("t")
    )
    jvm, py = _hash_parity(spark, docs, 15)
    assert jvm == py


def test_minhash_from_shared_60bit_arrays_matches_text_path(spark):
    """The q53/q54 single-shingle-pass contract: minhash signatures derived
    from a precomputed 60-bit (15-hex-char) shingle-hash frame via
    shiftright(h, 28) must equal the direct width-8 text path bit-for-bit
    (the 32-bit hash is the md5 hex PREFIX of the 60-bit one), on both the
    edge corpus and real documents."""
    from pincspark.operators.dedup import minhash_signatures
    from pincspark.sources.tables import table

    edge = spark.createDataFrame(
        [(i, t) for i, t in enumerate(EDGE_TEXTS) if t is not None], ["i", "t"]
    )
    docs = table(spark, SF_DIR, "documents").select(
        F.col("doc_id").alias("i"), F.col("text").alias("t")
    )
    for df in (edge, docs):
        arrs = df.select("i", shingle_hash_array_py("t", 3, 15).alias("__arr"))
        direct = minhash_signatures(df, "i", "t").orderBy("i").collect()
        shared = (
            minhash_signatures(df, "i", "t", shingles=arrs).orderBy("i").collect()
        )
        assert [tuple(r) for r in direct] == [tuple(r) for r in shared]


def test_remove_duplicate_spans_semantics(spark):
    """Hand-checkable ExactSubstr removal semantics: the FIRST (doc_id,
    pos) occurrence of a duplicated 8-token span is the keeper; every
    other occurrence loses its n token positions (overlaps union); short
    docs (< n tokens) and docs with only unique spans pass through
    unchanged; a doc that is entirely duplicated material rewrites to
    the empty string."""
    from pincspark.operators.dedup import remove_duplicate_spans

    rows = [
        # doc 1: keeper of span "a b c d e f g h" (pos 0); its second
        # span "b c d e f g h i" is unique -> fully kept
        (1, "a b c d e f g h i"),
        # doc 2: same 8-span at pos 1 -> positions 1..8 removed, "x" kept
        (2, "x a b c d e f g h"),
        # doc 3: exactly the duplicated span -> everything removed
        (3, "a b c d e f g h"),
        # doc 4: short doc, untouched (punctuation normalizes away)
        (4, "Hello, WORLD!"),
        # doc 5: all-unique long doc, untouched
        (5, "p q r s t u v w x y z"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_removed"])
        for r in remove_duplicate_spans(df, "doc_id", "text", n=8).collect()
    }
    assert got == {
        1: ("a b c d e f g h i", 9, 0),
        2: ("x", 9, 8),
        3: ("", 8, 8),
        4: ("hello world", 2, 0),
        5: ("p q r s t u v w x y z", 11, 0),
    }


def test_remove_duplicate_spans_within_doc_overlap(spark):
    """Within-document repetition counts: 'a'*12 with n=8 has 5 span
    occurrences of the SAME hash; the pos-0 keeper survives, occurrences
    1..4 mark positions 1..11 -> only token 0 survives."""
    from pincspark.operators.dedup import remove_duplicate_spans

    df = spark.createDataFrame(
        [(7, " ".join(["a"] * 12))], "doc_id long, text string"
    )
    r = remove_duplicate_spans(df, "doc_id", "text", n=8).collect()[0]
    assert (r["clean_text"], r["n_tokens"], r["n_removed"]) == ("a", 12, 11)


def test_remove_duplicate_spans_hot_hash_constant_state(spark):
    """Skew safety (r17): one boilerplate 8-token span repeated across
    1e5 documents must NOT buffer all its occurrences in a single
    aggregation group. Checks (a) the keeper aggregate carries only
    constant per-group state — no collect_list over the raw span stream
    in the plan (collect_set over per-DOC removal starts is bounded by
    doc length and fine) — and (b) semantics at 1e5 occurrences of one
    hash: doc 0 keeps everything, every other doc loses the 8 boiler
    tokens and keeps only its unique suffix token."""
    from pincspark.operators.dedup import remove_duplicate_spans

    n_docs = 100_000
    boiler = "k0 k1 k2 k3 k4 k5 k6 k7"
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(boiler + " u"), F.col("id").cast("string")).alias(
            "text"
        ),
    )
    out = remove_duplicate_spans(docs, "doc_id", "text", n=8)

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan
    assert "partial_min" in plan and "partial_count" in plan

    agg = out.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_removed").alias("removed"),
        F.sum("n_tokens").alias("tokens"),
    ).collect()[0]
    assert agg["docs"] == n_docs
    assert agg["tokens"] == 9 * n_docs
    # every doc but the keeper loses the 8 boiler tokens
    assert agg["removed"] == 8 * (n_docs - 1)
    keeper = out.filter(F.col("doc_id") == 0).collect()[0]
    assert keeper["clean_text"] == boiler + " u0"
    loser = out.filter(F.col("doc_id") == 12345).collect()[0]
    assert (loser["clean_text"], loser["n_removed"]) == ("u12345", 8)

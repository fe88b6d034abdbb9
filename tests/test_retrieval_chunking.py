"""Unit tests for the round-4 retrieval/chunking/linkage batch: CDC
chunking, sorted-neighborhood dedup, bigram LM, BM25 ranking."""

import pytest
from pyspark.sql import functions as F

from yandex_tracker_exporter_spark.operators.dedup import cdc_chunks
from yandex_tracker_exporter_spark.operators.text_analysis import (
    bigram_lm,
    bm25_rank,
    sorted_neighborhood_pairs,
)


# ---------------------------------------------------------------------------
# content-defined chunking
# ---------------------------------------------------------------------------


def _chunks_of(spark, texts):
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    out = cdc_chunks(df)
    rows = out.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for v in by_doc.values():
        v.sort(key=lambda r: r["chunk_idx"])
    return by_doc


def test_cdc_chunks_partition_the_document(spark):
    """Chunks are contiguous, 1-based, and cover the text exactly."""
    text = "the quick brown fox jumps over the lazy dog " * 20
    chunks = _chunks_of(spark, [text])[0]
    assert chunks[0]["start"] == 1
    pos = 0
    for c in chunks:
        assert c["start"] == pos + 1
        pos += c["chunk_len"]
    assert pos == len(text)
    # expected chunk size ~ mask_mod=64: a 880-char doc should split
    assert len(chunks) > 3


def test_cdc_chunks_realign_after_insertion(spark):
    """The CDC property: prepending text changes only the EARLY chunks —
    later chunk hashes re-align and still dedup against the original
    (a fixed-offset chunker would shift every chunk). Needs
    NON-periodic text: repeated content collapses distinct chunks to
    equal hashes and the overlap count stops meaning anything."""
    import random

    rng = random.Random(42)
    base = " ".join(
        "".join(rng.choice("abcdefghijklmnop") for _ in range(rng.randint(3, 9)))
        for _ in range(200)
    )
    shifted = "INSERTED PREFIX >>> " + base
    by_doc = _chunks_of(spark, [base, shifted])
    h0 = [r["chunk_hash"] for r in by_doc[0]]
    h1 = [r["chunk_hash"] for r in by_doc[1]]
    assert len(set(h0)) == len(h0)  # non-periodic ⇒ all chunks distinct
    shared = set(h0) & set(h1)
    # all but the first boundary-crossing chunk survive the shift
    assert len(shared) >= len(h0) - 2, (len(shared), len(h0))


def test_cdc_chunks_empty_and_short_docs(spark):
    by_doc = _chunks_of(spark, ["", "abc"])
    assert [(r["start"], r["chunk_len"]) for r in by_doc[0]] == [(1, 0)]
    assert by_doc[0][0]["chunk_hash"] == 0  # '' → 0 convention
    assert [(r["start"], r["chunk_len"]) for r in by_doc[1]] == [(1, 3)]


def test_cdc_chunk_hash_is_the_portable_poly_hash(spark):
    """chunk_hash of a single-chunk doc equals the document hash —
    the dedup key lines up with every other hash in the repo."""
    by_doc = _chunks_of(spark, ["abc"])
    h = 0
    for ch in "abc":
        h = (h * 131 + ord(ch)) % (2**31 - 1)
    assert by_doc[1 - 1][0]["chunk_hash"] == h


def _cdc_chunks_column_path(df, content_col="text", id_col="doc_id",
                            window=8, mask_mod=64):
    """Verbatim pre-r12-batch-6 Column-builder implementation of
    cdc_chunks — the expression reference the Arrow kernel must equal
    (the test_window_funnel_sql_fold_matches_column_fold pattern)."""
    from tests.dedup_expr_reference import _codepoints
    from yandex_tracker_exporter_spark.operators.dedup import (
        MINHASH_PRIME,
        POLY_BASE,
    )

    df = df.where(F.col(content_col).isNotNull())
    base = df.select(
        F.col(id_col),
        _codepoints(F.col(content_col)).alias("_codes"),
        F.length(F.col(content_col)).alias("_n"),
    )
    n = F.col("_n")
    codes = F.col("_codes")
    positions = F.sequence(F.lit(1), F.greatest(n - F.lit(window - 1), F.lit(1)))

    def hash_at(i):
        h = F.get(codes, i - 1)
        for j in range(1, window):
            h = (h * POLY_BASE + F.get(codes, i + F.lit(j) - 1)) % MINHASH_PRIME
        return h

    cuts = F.when(
        n >= window,
        F.array_remove(
            F.transform(
                positions,
                lambda i: F.when(
                    hash_at(i) % mask_mod == 0,
                    (i + F.lit(window - 1)).cast("long"),
                ).otherwise(F.lit(-1).cast("long")),
            ),
            -1,
        ),
    ).otherwise(F.array().cast("array<long>"))
    ends = F.array_sort(
        F.array_distinct(F.concat(cuts, F.array(n.cast("long"))))
    )
    with_ends = base.select(
        F.col(id_col), codes.alias("_codes"), ends.alias("_ends")
    )
    chunks = F.transform(
        F.sequence(F.lit(1), F.size("_ends")),
        lambda j: F.struct(
            j.cast("long").alias("chunk_idx"),
            F.when(j == 1, F.lit(1).cast("long"))
            .otherwise(F.get(F.col("_ends"), j - 2) + 1)
            .alias("start"),
            (
                F.get(F.col("_ends"), j - 1)
                - F.when(j == 1, F.lit(0).cast("long")).otherwise(
                    F.get(F.col("_ends"), j - 2)
                )
            ).alias("chunk_len"),
        ),
    )
    exploded = with_ends.select(
        F.col(id_col), F.col("_codes"), F.explode(chunks).alias("c")
    ).select(
        id_col,
        "_codes",
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.col("c.start").alias("start"),
        F.col("c.chunk_len").alias("chunk_len"),
    )
    chunk_hash = F.aggregate(
        F.slice(
            F.col("_codes"),
            F.col("start").cast("int"),
            F.col("chunk_len").cast("int"),
        ),
        F.lit(0).cast("long"),
        lambda h, c: (h * POLY_BASE + c) % MINHASH_PRIME,
    )
    return exploded.select(
        id_col, "chunk_idx", "start", "chunk_len", chunk_hash.alias("chunk_hash")
    )


def test_cdc_chunks_sql_twin_matches_column_path(spark):
    """cdc_chunks must produce rows IDENTICAL to the verbatim old Column
    build on every shape: empty doc, sub-window doc, exact-window doc,
    long text with real cuts, non-ASCII codepoints, NULL doc (filtered),
    and a non-default window/mask config."""
    import random

    rng = random.Random(7)
    long_text = " ".join(
        "".join(rng.choice("abcdefghijklmnop") for _ in range(rng.randint(3, 9)))
        for _ in range(120)
    )
    texts = [
        ("", 0),
        ("abc", 1),
        ("exactly8", 2),
        (long_text, 3),
        ("ünïcødé χαρακτήρες " * 30, 4),
        (None, 5),
    ]
    df = spark.createDataFrame(
        [(i, t) for t, i in texts], ["doc_id", "text"]
    )
    for kw in (dict(), dict(window=4, mask_mod=16)):
        got = sorted(
            tuple(r) for r in cdc_chunks(df, **kw).collect()
        )
        want = sorted(
            tuple(r) for r in _cdc_chunks_column_path(df, **kw).collect()
        )
        assert got == want, kw


def test_cdc_chunks_kernel_matches_sql_twin(spark):
    """The Arrow kernel behind cdc_chunks computes exactly the integers
    of the verbatim Column-expression build (the expression twin) —
    same unrolled rolling window hash, per-chunk hashes via exact
    modular prefix hashing (never floats). Rows must be IDENTICAL on
    every shape: empty doc, sub-window doc, exact-window doc, long text
    with real cuts, non-ASCII codepoints, NULL doc (filtered), and a
    non-default window/mask config."""
    import random

    rng = random.Random(11)
    long_text = " ".join(
        "".join(rng.choice("abcdefghijklmnop") for _ in range(rng.randint(3, 9)))
        for _ in range(200)
    )
    texts = [
        ("", 0),
        ("abc", 1),
        ("exactly8", 2),
        (long_text, 3),
        ("ünïcødé χαρακτήρες " * 40, 4),
        (None, 5),
    ]
    df = spark.createDataFrame(
        [(i, t) for t, i in texts], ["doc_id", "text"]
    )
    for kw in (dict(), dict(window=4, mask_mod=16)):
        kern = sorted(
            tuple(r) for r in cdc_chunks(df, **kw).collect()
        )
        ref = sorted(
            tuple(r) for r in _cdc_chunks_column_path(df, **kw).collect()
        )
        assert kern == ref, kw
        assert len(kern) > len(texts)  # non-vacuous: real cuts happened


def test_cdc_kernel_empty_and_all_null_batches(spark):
    """An Arrow batch with no text (empty, or only NULLs) has a NaN
    longest length; the kernel must size its power tables from 0, not
    crash converting NaN to int."""
    import pandas as pd

    from yandex_tracker_exporter_spark.operators.dedup import _cdc_kernel

    kern = _cdc_kernel(8, 64).func
    assert len(kern(pd.Series([], dtype=object))) == 0
    out = kern(pd.Series([None, None]))
    assert len(out) == 2
    assert out["chunk_idx"].isna().all()


# ---------------------------------------------------------------------------
# sorted-neighborhood
# ---------------------------------------------------------------------------


def test_snm_finds_planted_neighbor(spark):
    """Two near-identical docs share the sort prefix, land adjacent, and
    verify with high Jaccard; an unrelated doc in the same block stays
    below threshold."""
    a = "shared prefix block alpha beta gamma delta epsilon zeta eta theta"
    b = a + " extra"
    c = "shared prefix block " + "completely different tail content here x"
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], ["doc_id", "text"]
    )
    pairs = {
        (r["a_id"], r["b_id"]): r["jac_milli"]
        for r in sorted_neighborhood_pairs(df, min_jac_milli=0).collect()
    }
    assert pairs[(1, 2)] > 800
    assert all(v < 500 for k, v in pairs.items() if k != (1, 2))


def test_snm_respects_blocking(spark):
    """Docs in different prefix blocks are never compared — the known
    SNM blind spot, stated and tested rather than hidden."""
    df = spark.createDataFrame(
        [(1, "aaaaaaaa same tail content"), (2, "bbbbbbbb same tail content")],
        ["doc_id", "text"],
    )
    assert sorted_neighborhood_pairs(df, min_jac_milli=0).count() == 0


# ---------------------------------------------------------------------------
# bigram LM
# ---------------------------------------------------------------------------


def test_bigram_lm_counts_and_smoothing(spark):
    df = spark.createDataFrame(
        [("a b a b",), ("a b c",)], ["text"]
    )
    rows = {(r["w1"], r["w2"]): r for r in bigram_lm(df).collect()}
    # bigrams: (a,b)x3, (b,a)x1, (b,c)x1 ; prefixes: a:3, b:2 ; V=3
    ab = rows[("a", "b")]
    assert (ab["c12"], ab["c1"], ab["v"]) == (3, 3, 3)
    assert ab["p_milli"] == (3 + 1) * 1000 // (3 + 3)
    ba = rows[("b", "a")]
    assert ba["p_milli"] == (1 + 1) * 1000 // (2 + 3)


def test_bigram_lm_single_token_docs_contribute_nothing(spark):
    df = spark.createDataFrame([("solo",), ("a b",)], ["text"])
    rows = bigram_lm(df).collect()
    assert len(rows) == 1 and rows[0]["w1"] == "a"


# ---------------------------------------------------------------------------
# BM25
# ---------------------------------------------------------------------------


def test_bm25_ranks_matching_docs_first(spark):
    docs = [
        (1, "table join window table join"),
        (2, "table scan"),
        (3, "completely unrelated words here"),
        (4, "window"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = bm25_rank(df, topk=4).collect()
    order = [r["doc_id"] for r in out]
    assert order[0] == 1  # hits all three terms, twice
    assert order[-1] == 3  # no term hits → lowest score
    assert out[-1]["score"] == 0.0


def test_bm25_zero_score_ties_break_by_doc_id(spark):
    docs = [(i, "nothing relevant") for i in (5, 3, 9, 1)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = bm25_rank(df, topk=4).collect()
    assert [r["doc_id"] for r in out] == [1, 3, 5, 9]


def test_bigram_zip_twin_matches_hof_build(spark):
    """r12 batch 8: the arrays_zip(slice, slice) bigram build must be a
    byte-exact twin of the previous transform(sequence, lambda) build
    (copied verbatim below) after the shared `w2 IS NOT NULL` consumer
    filter — on normal, multi-space, single-token, empty,
    whitespace-only and NULL text."""
    from pyspark.sql import functions as F

    from yandex_tracker_exporter_spark.operators.text_analysis import (
        _bigram_structs,
        _tokens,
    )

    rows = [
        (0, "the quick brown fox jumps"),
        (1, "one"),
        (2, ""),
        (3, "   "),
        (4, None),
        (5, "a  b\tc"),
        (6, "x y x y x"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    base = df.select(F.col("doc_id"), _tokens(F.col("text")).alias("_t"))

    def hof_bigrams():  # the pre-batch-8 build, verbatim
        return (
            base.select(
                F.col("doc_id"),
                F.explode(
                    F.transform(
                        F.sequence(
                            F.lit(1),
                            F.greatest(F.size("_t") - 1, F.lit(1)),
                        ),
                        lambda i: F.struct(
                            F.get(F.col("_t"), i - 1).alias("w1"),
                            F.get(F.col("_t"), i).alias("w2"),
                        ),
                    )
                ).alias("bg"),
            )
            .where(F.col("bg.w2").isNotNull())
            .select("doc_id", "bg.w1", "bg.w2")
        )

    def zip_bigrams():
        return (
            base.select(
                F.col("doc_id"),
                F.explode(_bigram_structs(F.col("_t"))).alias("bg"),
            )
            .where(F.col("bg.w2").isNotNull())
            .select("doc_id", "bg.w1", "bg.w2")
        )

    old = sorted(map(tuple, hof_bigrams().collect()))
    new = sorted(map(tuple, zip_bigrams().collect()))
    assert old == new
    assert len(new) == 4 + 0 + 2 + 4  # docs 0, 5, 6 contribute; rest none

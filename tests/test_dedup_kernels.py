"""Signature-kernel equivalence: the Arrow-vectorized MinHash kernel
(measured ~5-10× cheaper than interpreted HOF folds at sf0.1) must be
bit-identical to the pure-expression reference in
``tests/dedup_expr_reference.py`` — both implement
h = fold(codepoints, 0, (h*131 + cp) mod 2^31-1) per shingle position and
sig_i = min (a_i*h + b_i) mod P. The DuckDB oracle parity test covers
Arrow-vs-DuckDB; this covers Arrow-vs-JVM-expression.
"""

import pytest
from pyspark.sql import functions as F

from tests.dedup_expr_reference import minhash_signatures_expr
from yandex_tracker_exporter_spark.operators.dedup import (
    _shingle_hset_kernel,
    minhash_signatures,
)

SF_DIR = "/root/testdata/sf0.001"


def test_arrow_and_expr_signatures_identical(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(4)
    arrow = {
        r.doc_id: list(r.minhash_sig) for r in minhash_signatures(docs).collect()
    }
    expr = {
        r.doc_id: list(r.minhash_sig)
        for r in minhash_signatures_expr(docs).collect()
    }
    assert arrow == expr


def test_arrow_kernel_edge_strings(spark):
    # '' folds to 0 → sig_i = b_i mod P; shorter-than-k uses the whole
    # string as the single truncated shingle — same as the expression path
    df = spark.createDataFrame(
        [(1, ""), (2, "ab"), (3, "exactly9!"), (4, "a bit longer than nine"), (5, None)],
        "doc_id long, text string",
    )
    a = {r.doc_id: r.minhash_sig for r in minhash_signatures(df).collect()}
    e = {r.doc_id: r.minhash_sig for r in minhash_signatures_expr(df).collect()}
    for doc_id in (1, 2, 3, 4):
        assert a[doc_id] == e[doc_id], doc_id
    assert a[5] is None
    expected_empty = [(i * 7919 + 12345) % 2147483647 for i in range(16)]
    assert list(a[1]) == expected_empty


def test_hset_kernel_matches_distinct_shingle_hashes(spark):
    # hset == distinct polynomial hashes of the 9-gram shingles (sorted)
    df = spark.createDataFrame(
        [(1, "abcabcabcabc"), (2, "short"), (3, "")],
        "doc_id long, text string",
    )
    kernel = _shingle_hset_kernel(9)
    got = {
        r.doc_id: list(r.hset)
        for r in df.select("doc_id", kernel("text").alias("hset")).collect()
    }

    def poly(s):
        h = 0
        for ch in s:
            h = (h * 131 + ord(ch)) % 2147483647
        return h

    def shingles(s, k=9):
        if len(s) < k:
            return [s[:k]]
        return [s[i : i + k] for i in range(len(s) - k + 1)]

    for doc_id, text in [(1, "abcabcabcabc"), (2, "short"), (3, "")]:
        expected = sorted({poly(s) for s in shingles(text)})
        assert got[doc_id] == expected, (doc_id, got[doc_id], expected)

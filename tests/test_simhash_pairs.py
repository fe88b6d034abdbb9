"""simhash_hamming_pairs: the banded pair-finder must equal the
brute-force all-pairs scan (pigeonhole banding guarantees 100% recall at
hamming <= 3 — any candidate loss is a bug, not an approximation), and
the two salted hash families must be genuinely independent.
"""

import itertools

import pytest
from pyspark.sql import functions as F

from yandex_tracker_exporter_spark.operators.dedup import (
    simhash,
    simhash_hamming_pairs,
)

SF_DIR = "/root/testdata/sf0.001"


def _brute_force_pairs(spark, docs, max_hamming=3):
    lo = {r.doc_id: r.simhash for r in simhash(docs, "text", "doc_id", bits=31).collect()}
    hi = {
        r.doc_id: r.simhash
        for r in simhash(docs, "text", "doc_id", bits=31, salt="#").collect()
    }
    out = set()
    for a, b in itertools.combinations(sorted(lo), 2):
        h = bin(lo[a] ^ lo[b]).count("1") + bin(hi[a] ^ hi[b]).count("1")
        if h <= max_hamming:
            out.add((a, b, h))
    return out


def test_banded_pairs_equal_brute_force(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(4)
    banded = {
        (r.a_id, r.b_id, r.hamming)
        for r in simhash_hamming_pairs(docs, "text", "doc_id").collect()
    }
    assert banded == _brute_force_pairs(spark, docs)
    assert banded, "corpus should contain at least one simhash near-dup pair"


def test_planted_near_duplicate_found(spark):
    base = " ".join(f"tok{i}" for i in range(120))
    near = base.replace("tok57", "tok57x")  # one token edit
    far = " ".join(f"other{i}" for i in range(120))
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], ["doc_id", "text"]
    )
    pairs = {
        (r.a_id, r.b_id): r.hamming
        for r in simhash_hamming_pairs(df, "text", "doc_id").collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_salted_families_independent(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    lo = simhash(docs, "text", "doc_id", bits=31).withColumnRenamed(
        "simhash", "lo"
    )
    hi = simhash(docs, "text", "doc_id", bits=31, salt="#").withColumnRenamed(
        "simhash", "hi"
    )
    joined = lo.join(hi, "doc_id")
    n_diff = joined.where(F.col("lo") != F.col("hi")).count()
    assert n_diff == joined.count(), "salted family must differ from plain"


def test_kernel_and_expression_signatures_identical(spark):
    """The Arrow 62-bit signature kernel must be bit-identical to the
    two salted 31-bit ``simhash`` expression folds on the corpus AND on
    tokenization edge cases (leading/trailing/repeated whitespace,
    empty string, tabs, NULL)."""
    from yandex_tracker_exporter_spark.operators.dedup import (
        simhash62_signatures,
    )

    corpus = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(200)
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    edge = spark.createDataFrame(
        [
            (100001, ""),
            (100002, " leading"),
            (100003, "trailing "),
            (100004, "a  b\tc\nd"),
            (100005, "   "),
            (100006, "one"),
            (100007, None),  # NULL text -> NULL signature on both paths
        ],
        StructType(
            [
                StructField("doc_id", LongType()),
                StructField("text", StringType()),
            ]
        ),
    )
    df = corpus.select("doc_id", "text").unionAll(edge)
    kern = {
        r.doc_id: (r.sim_lo, r.sim_hi)
        for r in simhash62_signatures(df).collect()
    }
    lo = simhash(df, bits=31).withColumnRenamed("simhash", "lo")
    hi = simhash(df, bits=31, salt="#").withColumnRenamed("simhash", "hi")
    expr = {r.doc_id: (r.lo, r.hi) for r in lo.join(hi, "doc_id").collect()}
    assert kern == expr
    assert kern[100007] == (None, None)


def test_max_hamming_above_band_guarantee_rejected(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    with pytest.raises(ValueError):
        simhash_hamming_pairs(docs, "text", "doc_id", max_hamming=4)

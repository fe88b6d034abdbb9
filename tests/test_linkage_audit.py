"""Unit tests for the round-4 linkage/audit batch: prefix-filter
set-similarity join (AllPairs), split leakage audit, term co-occurrence
PMI, source Gini."""

import random

import pytest
from pyspark.sql import functions as F

from yandex_tracker_exporter_spark.operators.dedup import (
    prefix_filter_jaccard_join,
)
from yandex_tracker_exporter_spark.operators.text_analysis import (
    source_gini,
    split_leakage_audit,
    term_cooccurrence_pmi,
)

P = 2**31 - 1


def _hashset(text, k=12):
    cps = [ord(c) for c in text]
    if len(cps) >= k:
        hs = set()
        for i in range(len(cps) - k + 1):
            h = 0
            for c in cps[i : i + k]:
                h = (h * 131 + c) % P
            hs.add(h)
        return hs
    h = 0
    for c in cps:
        h = (h * 131 + c) % P
    return {h}


def test_prefix_join_complete_vs_bruteforce(spark):
    """The AllPairs prefix filter must find EVERY pair with hashed-set
    Jaccard ≥ t — completeness is the whole point vs LSH. Brute force
    over a corpus with planted near-dups, noise and junk shapes (NULL
    text, empty text, text shorter than one shingle) is the referee."""
    rng = random.Random(13)

    def doc():
        return " ".join(
            "".join(rng.choice("abcdefgh") for _ in range(rng.randint(3, 8)))
            for _ in range(30)
        )

    texts = {}
    i = 0
    for _ in range(15):
        base = doc()
        texts[i] = base
        i += 1
        if rng.random() < 0.6:  # planted near-dup: small edit
            texts[i] = base.replace(base.split()[5], "xxxx", 1)
            i += 1
    texts.update({900: None, 901: "", 902: "ab"})
    df = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )
    got = {
        (r["a_id"], r["b_id"]): r["jac_milli"]
        for r in prefix_filter_jaccard_join(df, threshold_milli=700).collect()
    }
    sets = {k: _hashset(v) for k, v in texts.items() if v is not None}
    expected = {}
    ids = sorted(sets)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            jm = inter * 1000 // union
            if jm >= 700:
                expected[(a, b)] = jm
    assert got == expected
    assert expected, "fixture must plant at least one qualifying pair"


def test_split_leakage_counts_cross_split_windows(spark):
    """50 verbatim copies of one 16-token text under different ids land
    in ≥ 2 splits (90/5/5 on 50 hashes) and every cross-split pair is
    counted; unique texts contribute nothing."""
    common = " ".join(f"w{i}" for i in range(16))
    rows = [(i, common) for i in range(50)]
    rows += [(100 + i, f"unique text number {i} nothing shared") for i in range(5)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = split_leakage_audit(df)
    got = {
        (r["split_a"], r["split_b"]): (r["n_window_keys"], r["n_window_pairs"])
        for r in out.collect()
    }
    assert got, "50 copies across a 90/5/5 split must leak"
    # reconstruct expected from the split function itself
    from yandex_tracker_exporter_spark.operators.text_analysis import split_assign

    splits = {
        r["doc_id"]: r["split"]
        for r in split_assign(df, "doc_id").select("doc_id", "split").collect()
    }
    from collections import Counter

    per_split = Counter(splits[i] for i in range(50))
    expected = {}
    names = sorted(per_split)
    for x in range(len(names)):
        for y in range(x + 1, len(names)):
            a, b = names[x], names[y]
            expected[(a, b)] = (1, per_split[a] * per_split[b])
    assert got == expected


def test_split_leakage_ignores_empty_docs(spark):
    """ADVICE r4 regression: empty / whitespace-only docs in different
    splits must NOT register as a leaked md5('') window — they carry no
    content to leak. Enough empty ids that the 90/5/5 hash split
    guarantees at least two splits are hit."""
    rows = [(i, "   " if i % 2 else "") for i in range(60)]
    rows += [(1000 + i, f"solo text {i} with no duplication here") for i in range(4)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    assert split_leakage_audit(df).count() == 0


def test_term_pmi_tiny_corpus(spark):
    """Hand-checked PMI on a 4-doc corpus: a perfectly co-occurring
    pair scores N·1000/(c·c) > 1000; a never-co-occurring pair is
    absent from the output entirely (c_ab = 0 rows don't exist)."""
    docs = [
        (1, "x y"),
        (2, "x y"),
        (3, "z q"),
        (4, "z q"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = {
        (r["term_a"], r["term_b"]): r
        for r in term_cooccurrence_pmi(df, top_k=4).collect()
    }
    xy = rows[("x", "y")]
    assert (xy["c_a"], xy["c_b"], xy["c_ab"], xy["n_docs"]) == (2, 2, 2, 4)
    assert xy["pmi_milli"] == 2 * 4 * 1000 // (2 * 2)  # 2000: strong assoc
    assert ("x", "z") not in rows and ("q", "x") not in rows


def test_source_gini_bounds(spark):
    even = spark.createDataFrame(
        [(f"s{i}", "a b c d") for i in range(10)], ["source", "text"]
    )
    assert source_gini(even).collect()[0]["gini_milli"] == 0
    skewed = spark.createDataFrame(
        [("big", "w " * 500)] + [(f"s{i}", "w") for i in range(9)],
        ["source", "text"],
    )
    row = source_gini(skewed).collect()[0]
    # one source holds ~98% of supply → gini near (n-1)/n = 0.9
    assert row["gini_milli"] > 850

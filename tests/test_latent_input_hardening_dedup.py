"""Round-8 operator-surface review: latent-input shapes through the
dedup / similarity / clustering family (VERDICT r7 #3) — string ids
through banded joins, NULL / ragged / element-null / zero-norm vectors
through the Arrow pair scorer and multiband projections, empty corpora
through the prefix-filter logic. Contract fixtures never hit these
shapes — every fix is pinned result-neutral by the manifest sweep — so
these tests are what keeps the library surface honest for real corpora.

Bugs this family pinned when written (all crashed the WHOLE query or
silently corrupted results before round 8):

- zero-norm / NULL / element-null vectors raised ANSI DIVIDE_BY_ZERO in
  ``cosine_topk`` / ``lsh_bucket_topk`` / ``ivf_topk`` (the driver runs
  a bare ANSI session);
- ragged vectors killed the ``cosine_neardup_pairs`` prep-kernel task
  inside ``np.stack`` — one bad row failed the query;
- a NaN norm survives ``> 0`` under Spark ordering (NaN sorts LARGER
  than every number), so a NaN vector would outrank every true
  neighbor and ``NaN >= threshold`` emitted bogus near-dup pairs;
- ``minhash_signatures_expr`` returned the INIT sentinel for NULL text
  (``least`` ignores the null base hash) while the Arrow kernel
  returns NULL — two null docs became perfect LSH duplicates on the
  expression path only.
"""

import random

import pytest
from pyspark.sql import functions as F


def _vecs(n, dim, seed=11):
    rng = random.Random(seed)
    return [(i, [rng.uniform(-1.0, 1.0) for _ in range(dim)]) for i in range(n)]


BAD_ROWS = [
    (100, None),              # NULL vector
    (101, [0.5] * 7),         # ragged width
    (103, [0.0] * 16),        # zero norm (cosine undefined)
]


def _bad_corpus(spark):
    elem = [0.5] * 16
    elem[3] = None            # element-level NULL
    rows = _vecs(20, 16) + BAD_ROWS + [(102, elem)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_quarantines_unusable_vectors(spark):
    corpus = _bad_corpus(spark)
    queries = corpus.where(F.col("vec_id").isin(0, 1, 100, 103))
    out = cosine_topk_rows = (
        __import__(
            "yandex_tracker_exporter_spark.operators.similarity",
            fromlist=["cosine_topk"],
        ).cosine_topk(corpus, queries, k=3).collect()
    )
    qids = {r["query_id"] for r in out}
    nids = {r["neighbor_id"] for r in out}
    assert qids == {0, 1}          # null / zero-norm queries dropped
    assert not nids & {100, 101, 102, 103}
    assert all(r["cosine_sim"] is not None for r in out)
    assert len([r for r in out if r["query_id"] == 0]) == 3


def test_lsh_and_ivf_topk_survive_bad_vectors(spark):
    from yandex_tracker_exporter_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        lsh_bucket_topk,
    )

    corpus = _bad_corpus(spark)
    queries = corpus.where(F.col("vec_id").isin(0, 1))
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(corpus, queries, k=3).collect()
    }
    # single-band + multi-band LSH and IVF: no ANSI crash, no bad ids,
    # and whatever they retrieve scores identically to the exact path
    for out in (
        lsh_bucket_topk(corpus, queries, k=3, dim=16).collect(),
        lsh_bucket_topk(corpus, queries, k=3, dim=16, num_bands=4).collect(),
        ivf_topk(corpus, queries, k=3, num_centroids=4, nprobe=4).collect(),
    ):
        assert all(r["cosine_sim"] is not None for r in out)
        assert not {r["neighbor_id"] for r in out} & {100, 101, 102, 103}
    # IVF with nprobe == num_centroids probes everything: exact recall
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(corpus, queries, k=3, num_centroids=4, nprobe=4).collect()
    }
    assert ivf == exact


def test_neardup_pairs_quarantine_not_task_failure(spark):
    """One ragged row used to kill the prep-kernel TASK (np.stack on a
    ragged batch) and fail the whole query; NULL/zero/element-null rows
    must quarantine, and surviving pairs must match the clean-corpus
    run exactly."""
    from yandex_tracker_exporter_spark.operators.similarity import (
        cosine_neardup_pairs,
    )

    # planted near-identical pair inside otherwise random vectors
    rows = _vecs(12, 16)
    near = [v * 1.0 for v in rows[3][1]]
    near[0] += 1e-4
    rows.append((50, near))
    clean = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    elem = [0.5] * 16
    elem[3] = None
    dirty = spark.createDataFrame(
        rows + BAD_ROWS + [(102, elem)], "vec_id long, embedding array<float>"
    )
    kw = dict(threshold=0.95, num_planes=6, num_bands=4, dim=16)
    want = sorted(tuple(r) for r in cosine_neardup_pairs(clean, **kw).collect())
    got = sorted(tuple(r) for r in cosine_neardup_pairs(dirty, **kw).collect())
    assert got == want
    assert any(a == 3 and b == 50 for a, b, _ in got)


def test_nan_vector_never_outranks_or_pairs(spark):
    """NaN sorts larger than every real number in Spark: an unfiltered
    NaN norm would win every top-k ranking and pass >= threshold.

    Inf is the sneakier sibling (ADVICE r8): an Inf-element vector has
    norm = inf (NOT NaN — it passes an isnan-only quarantine), its
    cosine is inf/inf = NaN, which passes isNotNull and sorts LARGEST
    under desc() — the bad row becomes the top neighbor of EVERY query
    on the expression branches (cosine_topk / lsh_bucket_topk /
    ivf_topk) while the Arrow kernel branch correctly drops it."""
    from yandex_tracker_exporter_spark.operators.similarity import (
        cosine_neardup_pairs,
        cosine_topk,
        ivf_topk,
        lsh_bucket_topk,
    )

    rows = _vecs(8, 16) + [
        (200, [float("nan")] * 16),
        (201, [float("inf")] + [0.5] * 15),
        (202, [float("-inf")] + [0.5] * 15),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    bad = {200, 201, 202}
    q = df.where(F.col("vec_id") == 0)
    for out in (
        cosine_topk(df, q, k=5).collect(),
        lsh_bucket_topk(df, q, k=5, num_planes=2, dim=16, num_bands=1).collect(),
        lsh_bucket_topk(df, q, k=5, num_planes=2, dim=16, num_bands=2).collect(),
        ivf_topk(df, q, k=5, num_centroids=2).collect(),
    ):
        hit = {r["neighbor_id"] for r in out} & bad
        assert not hit, f"non-finite vectors ranked as neighbors: {hit}"
    pairs = cosine_neardup_pairs(
        df, threshold=0.0, num_planes=4, num_bands=2, dim=16
    ).collect()
    assert not any(
        bad & {r["a_id"], r["b_id"]} for r in pairs
    ), "non-finite vectors paired"


def test_minhash_expr_kernel_null_and_short_text_parity(spark):
    """The expression twin must agree with the Arrow kernel on NULL
    text (NULL signature — the expr path used to return the INIT
    sentinel, making null docs perfect duplicates of each other),
    empty text, and sub-shingle text (single truncated shingle)."""
    from tests.dedup_expr_reference import minhash_signatures_expr
    from yandex_tracker_exporter_spark.operators.dedup import (
        minhash_signatures,
    )

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "short"), (4, "long enough text to shingle")],
        "doc_id long, text string",
    )
    kern = {r["doc_id"]: r["minhash_sig"] for r in minhash_signatures(df).collect()}
    expr = {
        r["doc_id"]: r["minhash_sig"] for r in minhash_signatures_expr(df).collect()
    }
    assert kern[1] is None and expr[1] is None
    for d in (2, 3, 4):
        assert list(kern[d]) == list(expr[d]), f"doc {d} diverged"


def test_banded_dedup_family_string_ids_and_empty_corpus(spark):
    """String ids flow through every banded join and the a<b pair
    ordering; empty corpora return empty results instead of failing
    the prefix/banding logic."""
    from yandex_tracker_exporter_spark.operators.dedup import (
        duplicate_clusters,
        minhash_lsh_duplicates,
        ngram_jaccard_pairs,
        prefix_filter_jaccard_join,
        simhash_hamming_pairs,
        winnow_duplicate_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog " * 3
    docs = spark.createDataFrame(
        [("doc-a", base), ("doc-b", base.replace("jumps", "jumped")),
         ("doc-z", "completely different content with many other words " * 3)],
        "doc_id string, text string",
    )
    lsh = minhash_lsh_duplicates(docs).collect()
    assert {(r["a_id"], r["b_id"]) for r in lsh} == {("doc-a", "doc-b")}
    assert {(r["a_id"], r["b_id"]) for r in ngram_jaccard_pairs(docs).collect()} == {
        ("doc-a", "doc-b")
    }
    # winnow/simhash/prefix may or may not emit the planted pair at
    # their thresholds; the pin is: string ids run, and any pair they
    # DO emit is the planted one with a_id < b_id ordering intact
    for fn in (winnow_duplicate_pairs, simhash_hamming_pairs,
               prefix_filter_jaccard_join):
        got = {(r["a_id"], r["b_id"]) for r in fn(docs).collect()}
        assert got <= {("doc-a", "doc-b")}, fn.__name__
    labels = duplicate_clusters(
        spark.createDataFrame(
            [("doc-b", "doc-a"), ("doc-c", "doc-b")], "a_id string, b_id string"
        )
    ).collect()
    assert {(r["id"], r["cluster_id"]) for r in labels} == {
        ("doc-a", "doc-a"), ("doc-b", "doc-a"), ("doc-c", "doc-a")
    }
    empty = spark.createDataFrame([], "doc_id long, text string")
    for fn in (
        minhash_lsh_duplicates,
        simhash_hamming_pairs,
        prefix_filter_jaccard_join,
        winnow_duplicate_pairs,
    ):
        assert fn(empty).collect() == []
    assert (
        duplicate_clusters(spark.createDataFrame([], "a_id long, b_id long")).collect()
        == []
    )


def test_empty_embeddings_corpus(spark):
    from yandex_tracker_exporter_spark.operators.similarity import (
        cosine_neardup_pairs,
        cosine_topk,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    q = spark.createDataFrame(_vecs(1, 16), "vec_id long, embedding array<float>")
    assert cosine_topk(empty, q, k=3).collect() == []
    assert cosine_neardup_pairs(empty, dim=16).collect() == []


def test_minhash_hub_bucket_cap(spark):
    """Boilerplate hub buckets make the LSH candidate join quadratic
    (factor-100 scale run: one 2.5k-doc bucket -> 112M candidate pairs
    -> executor OOM). Buckets above max_bucket are dropped before the
    self-join; real near-dup pairs outside the hub survive, and
    max_bucket=None restores the uncapped behavior."""
    from yandex_tracker_exporter_spark.operators.dedup import (
        minhash_lsh_duplicates,
    )

    boiler = "all work and no play makes jack a dull boy " * 4
    base = "the quick brown fox jumps over the lazy dog " * 4
    rows = [(i, boiler) for i in range(40)]          # 40-doc hub
    rows += [(100, base), (101, base.replace("jumps", "jumped"))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = {
        (r["a_id"], r["b_id"])
        for r in minhash_lsh_duplicates(df, max_bucket=10).collect()
    }
    assert capped == {(100, 101)}  # hub dropped, real pair intact
    uncapped = {
        (r["a_id"], r["b_id"])
        for r in minhash_lsh_duplicates(df, max_bucket=None).collect()
    }
    assert (100, 101) in uncapped
    assert len(uncapped) == 1 + 40 * 39 // 2  # hub pairs all present


def test_simhash_and_ngram_hub_bucket_caps(spark):
    """The skew rail extends to the whole banded-pair family: identical
    boilerplate docs share every simhash band value and every minhash
    band key, so the candidate joins go quadratic in the hub size
    without the cap."""
    from yandex_tracker_exporter_spark.operators.dedup import (
        ngram_jaccard_pairs,
        simhash_hamming_pairs,
    )

    boiler = "all work and no play makes jack a dull boy " * 4
    base = "the quick brown fox jumps over the lazy dog " * 4
    rows = [(i, boiler) for i in range(40)]
    # exact duplicates: hamming 0 / jaccard 1.0 on every operator, so
    # the pair must survive any cap that the 40-doc hub does not
    rows += [(100, base), (101, base)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for fn in (simhash_hamming_pairs, ngram_jaccard_pairs):
        capped = {(r["a_id"], r["b_id"]) for r in fn(df, max_bucket=10).collect()}
        assert capped == {(100, 101)}, fn.__name__
        uncapped = {
            (r["a_id"], r["b_id"]) for r in fn(df, max_bucket=None).collect()
        }
        assert (100, 101) in uncapped and len(uncapped) == 1 + 40 * 39 // 2, fn.__name__

"""Eval-set decontamination + token-budget packing operator contracts."""

from pyspark.sql import functions as F

from yandex_tracker_exporter_spark.operators.decontaminate import (
    contaminated_ids,
    decontaminate,
)
from yandex_tracker_exporter_spark.operators.text_analysis import (
    pack_token_budget,
)


def test_decontaminate_drops_exact_overlaps_only(spark):
    """A corpus doc sharing any k-gram with the benchmark is dropped;
    disjoint docs survive; substring direction doesn't matter."""
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "totally unrelated content with zero shared grams here"),
            (2, "he said the quick brown fox jumps over everything"),  # shares 9-grams
            (3, "short"),  # shorter than k, its truncated shingle is unique
        ],
        "doc_id long, text string",
    )
    bad = {r.doc_id for r in contaminated_ids(corpus, bench, shingle_k=9).collect()}
    assert bad == {2}
    clean = {r.doc_id for r in decontaminate(corpus, bench, shingle_k=9).collect()}
    assert clean == {1, 3}
    # survivors keep all columns
    assert decontaminate(corpus, bench, shingle_k=9).columns == ["doc_id", "text"]


def test_decontaminate_plan_is_broadcast_no_corpus_shuffle(spark):
    bench = spark.createDataFrame([(1, "abcdefghijk")], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(2, "zyxwvutsrqp")], "doc_id long, text string"
    )
    plan = (
        decontaminate(corpus, bench)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # one Python pass over the corpus (the benchmark is hashed on the
    # driver), no shingle explode, and the survivor anti join is a
    # broadcast hash join — the corpus side never shuffles on a key
    assert plan.count("ArrowEvalPython") == 1
    assert "Generate" not in plan
    assert "LeftAnti, BuildRight" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


CORPUS_SCHEMA = "doc_id long, text string"
LEAK = "the quick brown fox jumps over the lazy dog tonight"


def _survivors(spark, corpus_rows, bench_rows):
    corpus = spark.createDataFrame(corpus_rows, CORPUS_SCHEMA)
    bench = spark.createDataFrame(bench_rows, CORPUS_SCHEMA)
    return sorted(
        tuple(r) for r in decontaminate(corpus, bench, shingle_k=9).collect()
    )


def test_decontaminate_empty_or_null_benchmark_drops_nothing(spark):
    corpus = [(1, LEAK), (2, ""), (3, None), (4, "short")]
    expected = sorted(corpus, key=repr)
    for bench in ([], [(100, None), (101, None)]):
        assert sorted(_survivors(spark, corpus, bench), key=repr) == expected


def test_decontaminate_null_corpus_text_survives(spark):
    corpus = [(1, None), (2, "he said " + LEAK), (3, "nothing shared at all here")]
    out = _survivors(spark, corpus, [(100, LEAK)])
    assert out == [(1, None), (3, "nothing shared at all here")]


def test_decontaminate_duplicated_id_drops_every_row(spark):
    """Id-level semantics (the oracle's ``NOT IN``): one contaminated
    row drops every row that carries its id."""
    corpus = [(7, "totally unrelated content here"), (7, LEAK), (8, "clean text only")]
    assert _survivors(spark, corpus, [(100, LEAK)]) == [(8, "clean text only")]


def test_pack_token_budget_semantics(spark):
    """Streaming first-fit: bin boundary is decided by tokens packed
    BEFORE each doc; deterministic in doc_id order within a shard."""
    rows = [
        (0, "a b c d"),          # shard 0: 4 tokens, cum-before 0  -> bin 0
        (2, "e f g h i"),        # shard 0: 5 tokens, cum-before 4  -> bin 0
        (4, "j k l"),            # shard 0: 3 tokens, cum-before 9  -> bin 1
        (1, "one two three four five six"),  # shard 1: 6 tokens -> bin 0
        (3, "seven eight"),      # shard 1: 2 tokens, cum-before 6 -> bin 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: (r.shard, r.bin_idx, r.n_tokens)
        for r in pack_token_budget(df, budget=8, num_shards=2).collect()
    }
    assert out == {
        0: (0, 0, 4),
        2: (0, 0, 5),
        4: (0, 1, 3),
        1: (1, 0, 6),
        3: (1, 0, 2),
    }


def test_pack_token_budget_single_shuffle(spark):
    df = spark.createDataFrame([(i, "w " * (i % 7 + 1)) for i in range(100)],
                               "doc_id long, text string")
    plan = (
        pack_token_budget(df, budget=16, num_shards=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1  # only the per-shard window shuffle

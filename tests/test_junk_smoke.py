"""Round-9 operator-surface review, part 5: the junk-corpus smoke
(now ``tools/make_manifest.py --perturb junk``, whose ERROR class is a
crash) industrialized the CRASH half of the latent-input probe series
— it clones the harness tables with injected junk rows (NULL
keys/timestamps, NaN doubles, empty + whitespace strings, empty /
ragged / non-finite embedding vectors) and runs ALL contract queries
under driver conditions (bare-session ANSI).

First full run: 146/151 queries survived; 5 crashed, all embedding
family, two root causes — both fixed:

- the raw ``cosine()`` helper divided by a zero norm: one zero/empty
  vector raised ANSI DIVIDE_BY_ZERO inside the per-pair score of the
  brute-force baselines (cosine_topk, knn_classify, knn_confusion) and
  killed the whole query. ``cosine()`` is now ``try_divide`` (bit-
  identical when the divisor is nonzero) and the three queries
  precompute norms once per ROW and quarantine there with
  ``_usable_norm`` — which also stops an Inf vector's NaN score from
  outranking every real neighbor (the ADVICE-r8 class) and makes the
  per-pair score one dot fold instead of three. (``usable_vectors``
  is the same quarantine packaged as a public helper for library
  users.);
- the perturbed-copy builders of embedding_neardup / semdedup_prune
  called ``element_at(embedding, 1)`` on an EMPTY junk vector —
  INVALID_ARRAY_INDEX under ANSI. A size guard drops size-0 and NULL
  vectors before the copy (the operators already quarantined the
  originals).

This test family keeps those five pinned green on a junk corpus and
asserts the junk clone builder stays usable. The full 151-query sweep
stays a tool (several minutes) whose verdicts are committed in
JUNKCHECK.json.
"""

import os
import shutil

import pytest

from tools.make_manifest import TABLES, build_junk_corpus

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
JUNK_DIR = "/tmp/junk_smoke_pytest"

#: the five queries the first smoke run crashed — regression pins
PREVIOUSLY_CRASHED = [
    "cosine_topk",
    "knn_classify",
    "knn_confusion",
    "embedding_neardup",
    "semdedup_prune",
]


@pytest.fixture(scope="module")
def junk_dir(spark):
    build_junk_corpus(spark, SF_DIR, JUNK_DIR)
    yield JUNK_DIR
    shutil.rmtree(JUNK_DIR, ignore_errors=True)


def test_junk_corpus_builds_all_tables(spark, junk_dir):
    for t in TABLES:
        df = spark.read.parquet(os.path.join(junk_dir, f"{t}.parquet"))
        assert df.count() > 0


@pytest.mark.parametrize("name", PREVIOUSLY_CRASHED)
def test_previously_crashing_queries_survive_junk(spark, name, junk_dir):
    import __spark_entry__ as entry

    rows = entry.queries()[name](spark, junk_dir).collect()
    # the query completes AND returns real results (junk rows are
    # quarantined, not the whole corpus)
    assert len(rows) > 0
    if name != "semdedup_prune":
        # no junk id (>= 99000001 before the neardup offset) surfaces
        # as a result subject in the id-bearing first column.
        # semdedup_prune is exempt BY DESIGN: it emits every corpus
        # vector with (cluster, is_kept), so a ragged-but-finite junk
        # vector appears as its own row — its null cosines make it
        # prune-inert, never displacing a real row's keep decision.
        first_col = [r[0] for r in rows if isinstance(r[0], int)]
        assert all(v < 99_000_001 for v in first_col)

"""Eval-set decontamination — a first-class training-data-pipeline step.

Before training, any document sharing verbatim n-gram content with an
evaluation/benchmark set must be dropped (test-set leakage inflates
benchmark scores). The standard industrial recipe is k-gram overlap:
a corpus document is contaminated iff it shares at least one character
k-gram with any benchmark document.

Spark-first shape, one Python pass:

- both sides hash shingles with the dedup module's one rolling hash
  (``dedup._shingle_hashes``: one codepoint pass per document, 31-bit
  polynomial hashes);
- the benchmark side is hashed on the DRIVER into one sorted unique
  int64 array. Benchmarks are small by construction (thousands of
  documents), so collecting their texts is cheap, and the array ships
  to the executors with the kernel (PySpark broadcasts a large kernel
  closure on its own);
- the corpus side is one Arrow kernel pass that returns one boolean per
  document (``searchsorted`` membership of its shingle hashes). The
  contaminated ids are the flagged ids, distinct, and a broadcast LEFT
  ANTI join emits the survivors. The corpus is never exploded into
  shingle rows and never shuffled on a key;
- hash collisions (~|shingles|²/2³¹ per doc pair) can only FALSE-POSITIVE
  a clean document into the dropped set — the safe direction for
  decontamination — and are deterministic and mirrored exactly by the
  DuckDB oracle (same polynomial hash both sides).

At 100 TB: corpus-side cost is one Arrow kernel pass with a binary
search per shingle — linear, no shuffle of the corpus. The benchmark
set has to fit the driver and each Python worker as an int64 array
(8 bytes per distinct shingle).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _shingle_hashes
from .partitioning import ensure_parallelism


def _benchmark_hashes(benchmark: DataFrame, text_col: str, k: int) -> np.ndarray:
    """Sorted unique shingle hashes of every non-NULL benchmark text."""
    rows = benchmark.where(F.col(text_col).isNotNull()).select(text_col).collect()
    if not rows:
        return np.empty(0, dtype=np.int64)
    return np.unique(np.concatenate([_shingle_hashes(r[0], k) for r in rows]))


def _contaminated_kernel(bench: np.ndarray, k: int):
    """Arrow kernel: does a text share a shingle hash with ``bench``?
    NULL texts are clean (they have no shingles)."""

    @F.pandas_udf("boolean")
    def contaminated(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), dtype=bool)
        if bench.size:
            for i, t in enumerate(texts):
                if t is None:
                    continue
                h = _shingle_hashes(t, k)
                pos = np.minimum(np.searchsorted(bench, h), bench.size - 1)
                out[i] = bool((bench[pos] == h).any())
        return pd.Series(out)

    # pure, but without the mark the optimizer pushed the flag filter
    # below ensure_parallelism's round-robin exchange and the kernel ran
    # in one task
    return contaminated.asNondeterministic()


def contaminated_ids(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 9,
) -> DataFrame:
    """Corpus ids sharing at least one character ``shingle_k``-gram
    (by polynomial hash) with any benchmark document."""
    kernel = _contaminated_kernel(
        _benchmark_hashes(benchmark, text_col, shingle_k), shingle_k
    )
    return (
        ensure_parallelism(corpus)
        .select(F.col(id_col), kernel(F.col(text_col)).alias("_hit"))
        .where(F.col("_hit"))
        .select(id_col)
        .distinct()
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 9,
) -> DataFrame:
    """Corpus rows that share NO ``shingle_k``-gram with the benchmark
    set (all columns preserved). Id-level, like the oracle's ``NOT IN``:
    every row of a contaminated id is dropped."""
    bad = contaminated_ids(corpus, benchmark, text_col, id_col, shingle_k)
    return corpus.join(F.broadcast(bad), id_col, "left_anti")

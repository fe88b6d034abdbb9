"""Pure-expression references for the dedup Arrow kernels.

The library computes MinHash signatures and winnowing fingerprints with
numpy kernels; these Column-builder implementations do the same exact
integer math with built-in higher-order functions, so the kernel tests
can compare the two bit for bit.
"""

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from yandex_tracker_exporter_spark.operators.dedup import (
    DEFAULT_NUM_HASHES,
    MINHASH_PRIME,
    POLY_BASE,
)


def _codepoints(col: Column) -> Column:
    """Codepoint array of a string ('' → [0], the codepoint fold identity).

    MUST be materialized as its own projected column before being indexed
    repeatedly: expression trees are duplicated per reference inside
    higher-order-function lambdas (no common-subexpression elimination
    there), so inlining this at every ``get()`` site turns the rolling
    hash into O(len² · k) per document. As a standalone non-cheap alias
    referenced many times, CollapseProject keeps the projection boundary.
    """
    n = F.length(col)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
        lambda i: F.ascii(F.substring(col, i, 1)).cast("long"),
    )


def _rolling_hashes_from_codes(codes: Column, k: int) -> Column:
    """Per-position polynomial hashes of every character k-gram, from a
    pre-materialized codepoint array column (see ``_codepoints``).

    Equivalent to ``transform(_char_shingles(col, k), _hash64)`` up to
    multiplicity (positions vs distinct shingles — min-folds are
    unaffected) but with no per-shingle string or array allocations: each
    position's hash is k multiply-add-mods over O(1) ``get()`` lookups.

    The k-term position kernel MUST be straight-line (no per-term bounds
    ``when``: nesting the accumulator into both branches doubles the tree
    per term — 2^k expression nodes, catastrophic under interpreted HOF
    eval). Positions only reach ``len - k + 1`` so in-bounds is guaranteed
    whenever ``len >= k``; the one short-document case (single truncated
    shingle) is a whole-array fold behind a single outer ``when``.
    """
    n = F.size(codes)
    positions = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))

    def hash_at(i: Column) -> Column:
        # h after first char is just its codepoint (0*B + cp) mod P
        h = F.get(codes, i - 1)
        for j in range(1, k):
            h = (h * POLY_BASE + F.get(codes, i + F.lit(j) - 1)) % MINHASH_PRIME
        return h

    whole = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda h, c: (h * POLY_BASE + c) % MINHASH_PRIME,
    )
    return F.when(n >= k, F.transform(positions, hash_at)).otherwise(F.array(whole))


def minhash_signatures_expr(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    shingle_k: int = 9,
) -> DataFrame:
    """Pure-expression MinHash signature: the reference
    :func:`~yandex_tracker_exporter_spark.operators.dedup.minhash_signatures`'
    Arrow kernel must equal bit for bit.

    Single-pass fold: every shingle position's base hash comes from one
    rolling pass over the document's codepoint array (no per-shingle
    strings), then the whole hash family updates an array accumulator via
    ``zip_with(least)`` — a 16× saving over computing each signature
    component independently (Catalyst's CollapseProject would otherwise
    inline the shingle hashing per component). Positions vs distinct
    shingles is immaterial under the min-fold.
    """
    coded = df.select(
        F.col(id_col),
        _codepoints(F.col(content_col)).alias("_codes"),
        # null-text parity with the Arrow kernel (round-8 hardening):
        # the kernel returns a NULL signature for NULL text, but the
        # fold below silently returned the INIT sentinel — `least(init,
        # null)` ignores the null base hash — making a null doc a
        # perfect LSH duplicate of every other null doc on this path
        F.col(content_col).isNotNull().alias("_has_text"),
    )
    base_hashes = _rolling_hashes_from_codes(F.col("_codes"), shingle_k)
    init = F.array_repeat(F.lit(MINHASH_PRIME).cast("long"), num_hashes)
    idx = F.sequence(F.lit(0), F.lit(num_hashes - 1))

    def fold_step(acc: Column, h: Column) -> Column:
        candidates = F.transform(
            idx,
            lambda i: ((2 * i + 1).cast("long") * h + (i * 7919 + 12345).cast("long"))
            % F.lit(MINHASH_PRIME),
        )
        return F.zip_with(acc, candidates, lambda a, b: F.least(a, b))

    signature = F.aggregate(base_hashes, init, fold_step)
    return coded.select(
        F.col(id_col),
        F.when(F.col("_has_text"), signature).alias("minhash_sig"),
    )


def winnow_fingerprints_expr(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 9,
    window: int = 4,
) -> DataFrame:
    """Pure-expression reference for
    :func:`~yandex_tracker_exporter_spark.operators.dedup.winnow_fingerprints`
    (tested equal): rolling hashes from the materialized codepoint
    array, then per-window ``array_min`` over slices, sorted-distinct."""
    hashed = df.select(
        F.col(id_col), _codepoints(F.col(content_col)).alias("_codes")
    ).select(
        F.col(id_col),
        _rolling_hashes_from_codes(F.col("_codes"), shingle_k).alias("_h"),
    )
    n = F.size("_h")
    wins = F.transform(
        F.sequence(F.lit(1), F.greatest(n - F.lit(window - 1), F.lit(1))),
        lambda j: F.array_min(F.slice("_h", j, window)),
    )
    return hashed.select(
        F.col(id_col), F.array_sort(F.array_distinct(wins)).alias("fingerprints")
    )

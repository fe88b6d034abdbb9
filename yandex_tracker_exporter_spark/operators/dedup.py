"""Deduplication operators.

Two families:

1. **Version dedup** (reference parity, O1): the reference relies on
   ClickHouse ``ReplacingMergeTree(version)`` + ``OPTIMIZE FINAL`` +
   ``FINAL`` views (``migrations/clickhouse/000004…``,
   ``services/clickhouse.py:125-128``). Here it is a single window:
   latest version per dedup key wins.

2. **Content dedup** (the 100 TB training-data-pipeline set): exact
   (hash-groupBy), MinHash+LSH (shingle → signature → band → bucket
   join), SimHash, n-gram Jaccard. All deterministic (polynomial
   codepoint hashes, fixed coefficient schedule) so results are
   reproducible and oracle-checkable.

Scale notes:
- ``latest_version_dedup`` is one shuffle on the dedup key; at the sink
  it rides the same partitioning as the write bucketing.
- MinHash LSH is the linear-time near-dup path: candidate pairs come
  from equi-joins on band keys (shuffle on band hash — uniform by
  construction), never from a cross join. The n-gram Jaccard operator
  also blocks on shared shingles rather than crossing.
- Shingle-hash signatures (MinHash, winnowing, CDC, SimHash62) are
  Arrow kernels over exact integer math, bit-identical to the DuckDB
  oracles; ``simhash`` is a built-in-expression fold.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .partitioning import ensure_parallelism, local_frame

# Coefficients for the universal-hash family h_i(x) = (a_i*x + b_i) mod P.
# P is the Mersenne prime 2^31-1; a_i odd, b_i from a fixed schedule —
# deterministic so DuckDB oracles can reproduce the signatures exactly.
MINHASH_PRIME = 2147483647
# Base of the polynomial codepoint hash h = fold(chars, 0, (h*B + cp) mod P).
# Replaces the round-2 md5-per-shingle hash: md5 digest + hex + base-16
# string conversion per shingle was the #2 bench tail; the polynomial fold
# is pure integer arithmetic, portable to any engine with a left fold, and
# (for shingles) computable from ONE codepoint array per document instead
# of per-shingle string allocations.
POLY_BASE = 131
DEFAULT_NUM_HASHES = 16
DEFAULT_BANDS = 4


def latest_version_dedup(
    df: DataFrame,
    keys: list[str],
    version_col: str = "version",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Latest-version-wins dedup (O1) — replaces ReplacingMergeTree+FINAL.

    Ties on ``version`` are broken deterministically (ClickHouse keeps
    an arbitrary row; we must be reproducible) by ONE cheap sort key:
    ``tiebreak_col`` when the table has a stable ingest id, else the md5
    of the JSON-serialized row. Sorting on every payload column instead
    (the previous formulation) drags wide strings/arrays into the window
    sort keys of every dedup shuffle — needless bytes at scale.
    """
    tiebreak = (
        F.col(tiebreak_col)
        if tiebreak_col is not None
        else F.md5(F.to_json(F.struct(*df.columns)))
    )
    w = Window.partitionBy(*keys).orderBy(F.col(version_col).desc(), tiebreak.desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def exact_dedup(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact content dedup via md5 hash-groupBy.

    Returns one row per distinct content hash: the representative
    (lowest id), the md5, and the duplicate count. Map-side partial
    aggregation makes this one shuffle on the 16-byte hash.
    """
    return (
        df.select(F.col(id_col), F.md5(F.col(content_col)).alias("content_md5"))
        .groupBy("content_md5")
        .agg(
            F.min(id_col).alias("representative_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def _char_shingles(col: Column, k: int) -> Column:
    """Distinct character k-grams of a string (1-based substr positions)."""
    n = F.length(col)
    positions = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))
    return F.array_distinct(F.transform(positions, lambda i: F.substring(col, i, k)))


def _hash64(col: Column) -> Column:
    """Deterministic 31-bit integer hash of a string: polynomial fold over
    codepoints, h = (h*131 + cp) mod (2^31-1). Portable to any SQL engine
    with a left fold (DuckDB: ``list_reduce`` over ``ascii(substr(...))``).
    Empty string hashes to 0 on both engines (Spark ``ascii('') = 0``)."""
    n = F.length(col)
    codes = F.transform(
        F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
        lambda i: F.ascii(F.substring(col, i, 1)).cast("long"),
    )
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda h, c: (h * POLY_BASE + c) % MINHASH_PRIME,
    )


def _codepoints(text: str) -> np.ndarray:
    """One int64 codepoint per character (utf-32-le is one uint32 per
    char, so no per-character ``ord`` loop)."""
    return np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)


def _shingle_hashes(text: str, k: int) -> np.ndarray:
    """Polynomial hash of every character ``k``-gram of ``text``, in
    position order, duplicates kept: h_i = fold(cp[i : i+k], 0,
    (h*B + c) mod P), all positions at once. The one shingle hash of
    every Arrow kernel here (MinHash, hash sets, winnowing, CDC) and of
    the decontamination benchmark set. Every step is an int64
    multiply-add-mod on values < P, so it equals the SQL fold
    (``_hash64``) bit for bit. A text shorter than ``k`` is one
    truncated shingle: the fold of the whole string ('' folds to 0)."""
    cp = _codepoints(text)
    n = cp.shape[0]
    if n < k:
        acc = 0
        for c in cp:
            acc = (acc * POLY_BASE + int(c)) % MINHASH_PRIME
        return np.array([acc], dtype=np.int64)
    h = cp[: n - k + 1].copy()
    for j in range(1, k):
        h = (h * POLY_BASE + cp[j : n - k + 1 + j]) % MINHASH_PRIME
    return h


def _minhash_sig_kernel(num_hashes: int, shingle_k: int):
    """Arrow-vectorized MinHash signature column: exact integer math,
    bit-identical to the DuckDB oracle (and to the expression reference
    the tests compare it against).

    Rationale (measured at sf0.1, 5k docs × ~300 chars): the signature is
    a wide integer kernel over ~1.5M shingle positions; Spark's
    higher-order functions evaluate lambdas interpreted (boxed longs, no
    codegen), costing ~4-6 s per pair query, and the round-2
    md5-per-shingle variant cost ~3-4 s. The numpy rolling hash does the
    same math vectorized per Arrow batch in <0.5 s. Map-only — scales as a
    pure projection at 100 TB.
    """
    a_coef = np.arange(num_hashes, dtype=np.int64) * 2 + 1
    b_coef = np.arange(num_hashes, dtype=np.int64) * 7919 + 12345

    @F.pandas_udf("array<long>")
    def sig(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            h = _shingle_hashes(t, shingle_k)
            # family min: sig_i = min_h (a_i*h + b_i) mod P  (a_i*h < 2^36, exact)
            out.append(
                ((h[:, None] * a_coef[None, :] + b_coef[None, :]) % MINHASH_PRIME).min(
                    axis=0
                )
            )
        return pd.Series(out)

    # The kernel IS pure, but Catalyst pushes filters that reference its
    # output (the _lsh_banded isnotnull guard) below the parallelizing
    # exchange by DUPLICATING the call — measured r12: sig() evaluated
    # twice per branch, the extra one on the single-partition scan (the
    # similarity.py `prep` precedent, guide §4.4). asNondeterministic()
    # forbids duplicating the call; results are unchanged.
    return sig.asNondeterministic()


def _shingle_hset_kernel(shingle_k: int):
    """Arrow-vectorized DISTINCT shingle-hash set (sorted longs) per doc —
    the exact-verification payload for n-gram Jaccard and the token set
    of the prefix-filter join. Intersecting two long arrays is ~an order
    of magnitude cheaper than intersecting the 9-char shingle STRING
    arrays (no string hashing/equality)."""

    @F.pandas_udf("array<long>")
    def hset(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [None if t is None else np.unique(_shingle_hashes(t, shingle_k))
             for t in texts]
        )

    # asNondeterministic: stop Catalyst re-evaluating the kernel below
    # exchanges for inferred explode/isnotnull constraints (measured r12:
    # hset() ran twice on one plan branch); it is pure
    return hset.asNondeterministic()


def minhash_signatures(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    shingle_k: int = 9,
) -> DataFrame:
    """Per-document MinHash signature (array of ``num_hashes`` longs).

    Computed by the Arrow-vectorized kernel (``_minhash_sig_kernel``).
    """
    kernel = _minhash_sig_kernel(num_hashes, shingle_k)
    return df.select(
        F.col(id_col), kernel(F.col(content_col)).alias("minhash_sig")
    )


def _lsh_banded(
    sigs: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    sig_col: str = "minhash_sig",
) -> DataFrame:
    """Narrow (id, band_idx, band_key) relation from MinHash signatures —
    the ONE banding construction shared by :func:`minhash_lsh_duplicates`,
    :func:`ngram_jaccard_pairs`, and :func:`dedup_skew_report` (so the
    report observes exactly the buckets the operators join on).

    NULL signatures (null-text documents) are filtered BEFORE banding
    (ADVICE r8): ``concat_ws`` skips nulls, so an all-null signature used
    to band to ``md5("")`` — every null-text document collided into one
    shared hub bucket per band and entered the quadratic candidate join
    (their pairs were dropped later at scoring, but the join work
    happened, bounded only by ``max_bucket``)."""
    rows_per_band = num_hashes // bands

    def band_hash(b: int) -> Column:
        parts = [
            F.element_at(sig_col, b * rows_per_band + r + 1).cast("string")
            for r in range(rows_per_band)
        ]
        return F.md5(F.concat_ws("_", *parts))

    return (
        sigs.where(F.col(sig_col).isNotNull())
        .select(
            F.col(id_col),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band_idx"),
                            band_hash(b).alias("band_key"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("band"),
        )
        .select(id_col, "band.band_idx", "band.band_key")
    )


def _cap_hub_buckets(
    banded: DataFrame,
    keys: tuple[str, ...],
    max_bucket: int,
    strategy: str = "window",
) -> DataFrame:
    """Drop bucket groups larger than ``max_bucket`` before a quadratic
    self-join — the hub-bucket skew rail, in two plan shapes:

    - ``"window"`` (default): a window count over the already
      co-partitioned narrow rows — zero extra exchanges when the caller
      repartitions on ``keys`` anyway (the self-join needs that
      partitioning). Caveat at extreme scale: the window's sort puts an
      ENTIRE hub bucket into one task, so a 100M-row boilerplate bucket
      is a single spill-and-complete sort task before the filter drops
      it (narrow rows — it finishes, but it is the hottest task in the
      stage).
    - ``"agg"`` (the hub-proof form, VERDICT r8): a map-side-combinable
      ``groupBy(keys).count()`` — the hub collapses to one row per
      input partition BEFORE any shuffle — then the tiny over-cap key
      set is broadcast as a LEFT ANTI join. Two extra exchanges in the
      plan at harness scale, but no task ever materializes the hub.

    Both shapes keep exactly the same rows (twin-tested byte-equal on
    capped and uncapped corpora)."""
    if strategy == "window":
        wb = Window.partitionBy(*keys)
        return (
            banded.withColumn("_bn", F.count(F.lit(1)).over(wb))
            .where(F.col("_bn") <= max_bucket)
            .drop("_bn")
        )
    if strategy == "agg":
        over_cap = (
            banded.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("_bn"))
            .where(F.col("_bn") > max_bucket)
            .select(*keys)
        )
        return banded.join(F.broadcast(over_cap), list(keys), "left_anti")
    raise ValueError(
        f"unknown cap strategy {strategy!r}: expected 'window' or 'agg'"
    )


def minhash_lsh_duplicates(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_k: int = 9,
    threshold: float = 0.5,
    max_bucket: int | None = 10_000,
    cap_strategy: str = "window",
) -> DataFrame:
    """Near-duplicate pairs via MinHash LSH banding.

    Signature is split into ``bands`` bands of ``num_hashes/bands`` rows;
    documents sharing any band hash become candidates (equi-join on the
    band key — linear, no cross join); candidates are scored by the
    fraction of matching signature components and filtered at
    ``threshold``. Output: (a_id, b_id, est_jaccard), a_id < b_id.

    ``max_bucket`` is the hub-bucket skew rail (same class as the
    winnowing stop-fingerprint cap): a real corpus's boilerplate
    (license headers, templated pages) can put thousands of UNRELATED
    documents into one band bucket — the candidate join is quadratic
    in bucket size, so one 100k-doc bucket is 5e9 pairs and a dead
    executor regardless of cluster size. Band buckets larger than the
    cap are dropped BEFORE the self-join (one partial-aggregable count
    over narrow (band, key) rows). Recall caveat: a true near-dup pair
    whose EVERY matching band is capped is missed — for boilerplate
    hubs those pairs are overwhelmingly sub-threshold anyway, and a
    pair of real dups still surfaces through any uncapped band.
    ``None`` disables. The default (10k ⇒ ≤50M pairs per bucket) never
    binds at harness scale (largest observed bucket: 10). Capped-bucket
    volume is OBSERVABLE via :func:`dedup_skew_report` — no silent
    recall loss. ``cap_strategy`` picks the rail's plan shape (see
    :func:`_cap_hub_buckets`): ``"window"`` rides the band repartition
    with zero extra exchanges; ``"agg"`` is the hub-proof
    map-side-combinable count + broadcast anti-join for corpora whose
    hubs are too large for a single window task.
    """
    # single-row-group corpora scan as one split; re-split before the
    # CPU-heavy signature stage (no-op when input is already parallel)
    sigs = minhash_signatures(
        ensure_parallelism(df), content_col, id_col, num_hashes, shingle_k
    )

    # Band on NARROW rows (id + band key only), collapse duplicate
    # candidates while rows are tiny, then join signatures back for
    # scoring (AQE broadcasts the sig relation when small; at scale this
    # is two linear id-equi-joins — the band exchange never widens).
    banded = _lsh_banded(sigs, id_col, num_hashes, bands)
    banded = banded.repartition("band_idx", "band_key")
    if max_bucket is not None:
        banded = _cap_hub_buckets(
            banded, ("band_idx", "band_key"), max_bucket, cap_strategy
        )

    left = banded.select(F.col(id_col).alias("a_id"), "band_idx", "band_key")
    right = banded.select(F.col(id_col).alias("b_id"), "band_idx", "band_key")
    candidates = (
        left.join(right, ["band_idx", "band_key"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    scored = candidates.join(
        sigs.select(F.col(id_col).alias("a_id"), F.col("minhash_sig").alias("a_sig")),
        "a_id",
    ).join(
        sigs.select(F.col(id_col).alias("b_id"), F.col("minhash_sig").alias("b_sig")),
        "b_id",
    )
    matching = F.size(
        F.filter(
            F.zip_with("a_sig", "b_sig", lambda a, b: a == b), lambda x: x
        )
    )
    est_jaccard = matching.cast("double") / F.lit(float(num_hashes))
    return (
        scored.withColumn("est_jaccard", est_jaccard)
        .where(F.col("est_jaccard") >= threshold)
        .select("a_id", "b_id", "est_jaccard")
    )


def _cc_local(pairs: list) -> dict:
    """Driver-side connected components with min-id labels (union-find
    with min-root merging) — EXACTLY the fixpoint the distributed
    min-label propagation converges to, so the two paths are
    interchangeable (pytest-pinned equal). Returns {id: cluster_id}."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # merge toward the smaller label so the root IS the min id
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {n: find(n) for n in parent}


def duplicate_clusters(
    pairs: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iterations: int = 20,
    local_finish_edges: int = 100_000,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph → cluster
    labels — the step that turns pairwise LSH output into dedup groups
    (each cluster keeps one representative; see
    :func:`canonical_representatives`).

    Iterative min-label propagation: every node starts as its own label;
    each round joins labels across edges (both directions) and takes the
    min; stops when no label changes. Deterministic — the final label of
    a component is its minimum id regardless of iteration order. Rounds
    needed = graph diameter in label-halving steps (≤ O(log n) for
    near-dup graphs, whose components are small and dense); each round
    is one join + one min-aggregate, all shuffles on the id key. The
    driver-side loop holds only a convergence flag (one count per round)
    — at 100 TB this is GraphX/GraphFrames connected-components shape
    without the dependency; cap ``max_iterations`` as a safety rail.

    Input: distinct undirected pairs (a, b). Output: (id, cluster_id)
    for every id that appears in any pair.

    ``local_finish_edges``: counted-bound driver-local finish (the
    graph/kmeans escape hatch, round 8) — near-dup pair graphs are
    SPARSE by LSH construction, so once the distinct edge list is
    counted at or below this bound (the count doubles as the
    materializing action the loop needs anyway) the components are
    resolved by a driver-side union-find with min-root merging:
    byte-equal to the distributed fixpoint (twin-tested), none of the
    per-round join/agg/checkpoint jobs, and the labels come back as an
    Arrow-built frame (``local_frame``: no Python worker starts). At
    100 TB the bound never binds until the pairs ARE driver-small; 0
    disables. The ``max_iterations`` cap on the distributed loop is
    LOUD (same contract as kcore): exhausting it without convergence
    raises instead of returning wrong labels — the DuckDB oracle runs the
    recursion to its true fixpoint.
    """
    # A pair with a NULL id has only one endpoint — it cannot
    # participate at all (the asof-join posture: NULL keys never
    # match). Without the filter a NULL id CRASHED the local
    # union-find (None is unorderable in Python 3) while the
    # distributed min-label loop emitted a NULL node and kept the
    # junk pair's real endpoint as a singleton — a twin divergence
    # between two paths documented as byte-interchangeable.
    usable = pairs.where(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
    edges = (
        usable.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(usable.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
    )
    # Materialize the edge list ONCE: every round references `edges`,
    # and without a barrier each round re-evaluates the whole upstream
    # pair pipeline (for LSH input that is the full signature+band+join
    # plan — measured 10.1 s for 5 rounds at sf0.1, ~2 s per recompute;
    # with the barrier the loop costs only its own tiny id-key joins).
    # Same durability class as shuffle files (recompute-on-loss).
    edges = edges.localCheckpoint(eager=False)
    if local_finish_edges and edges.count() <= local_finish_edges:
        collected = [(r[0], r[1]) for r in edges.collect()]
        labels_map = _cc_local(collected)
        schema = T.StructType(
            [
                T.StructField("id", edges.schema["src"].dataType),
                T.StructField("cluster_id", edges.schema["src"].dataType),
            ]
        )
        return local_frame(edges.sparkSession, sorted(labels_map.items()), schema)
    labels = edges.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("cluster_id")
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        updated = (
            labels.join(neighbor_min, labels["id"] == neighbor_min["src"], "left")
            .select(
                "id",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("nbr_min"), F.col("cluster_id"))
                ).alias("cluster_id"),
                (F.col("nbr_min") < F.col("cluster_id")).alias("_changed"),
            )
        )
        # localCheckpoint: truncate the lineage so each round's plan stays
        # O(1) instead of O(rounds) deep (iterative plans otherwise grow
        # until analysis time dominates)
        updated = updated.localCheckpoint(eager=True)
        changed = updated.where(F.col("_changed")).limit(1).count()
        labels = updated.drop("_changed")
        if changed == 0:
            return labels
    # LOUD cap (same contract as kcore, round 8): labels that are still
    # moving when the round budget runs out are WRONG labels, and the
    # recursive-CTE oracle runs to its true fixpoint — raise instead of
    # silently returning a non-converged labeling.
    raise RuntimeError(
        f"duplicate_clusters did not converge within {max_iterations} "
        f"iterations; raise `max_iterations`"
    )


def canonical_representatives(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "a_id",
    b_col: str = "b_id",
) -> DataFrame:
    """Collapse a corpus along near-duplicate clusters: every document
    in a cluster maps to the cluster's minimum id; unpaired documents
    represent themselves. Returns the deduplicated corpus (all columns,
    one row per cluster — the cluster-min representative)."""
    clusters = duplicate_clusters(pairs, a_col, b_col)
    labeled = df.join(
        clusters.withColumnRenamed("id", id_col), id_col, "left"
    ).withColumn("cluster_id", F.coalesce("cluster_id", F.col(id_col)))
    return (
        labeled.where(F.col(id_col) == F.col("cluster_id")).drop("cluster_id")
    )


def simhash(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    salt: str = "",
) -> DataFrame:
    """Per-document SimHash over whitespace tokens (duplicates weighted).

    bit_j(token) = j-th bit of the polynomial token hash; the simhash
    sets bit j when the sum over tokens of (2*bit_j - 1) is positive.
    ``salt`` (appended to each token before hashing) selects an
    independent hash family — two salted 31-bit simhashes concatenate
    into the 62-bit signature used by :func:`simhash_hamming_pairs`.
    """
    tokens = F.split(F.col(content_col), r"\s+")
    if salt:
        token_hashes = F.transform(
            tokens, lambda t: _hash64(F.concat(t, F.lit(salt)))
        )
    else:
        token_hashes = F.transform(tokens, _hash64)
    bit_idx = F.sequence(F.lit(0), F.lit(bits - 1))

    # Single pass over tokens: fold a per-bit vote array. Bit extraction
    # uses floor(h / 2^j) % 2 — exact in doubles since h < 2^32 < 2^53 —
    # because shift builtins need literal shift amounts.
    def vote_step(acc: Column, h: Column) -> Column:
        bits_of_h = F.transform(
            bit_idx,
            lambda j: F.when(
                F.floor(h / F.pow(F.lit(2.0), j)).cast("long") % 2 == 1, F.lit(1)
            ).otherwise(F.lit(-1)),
        )
        return F.zip_with(acc, bits_of_h, lambda a, b: a + b)

    votes = F.aggregate(
        token_hashes, F.array_repeat(F.lit(0).cast("long"), bits), vote_step
    )
    value = F.aggregate(
        F.zip_with(
            votes,
            bit_idx,
            lambda v, j: F.when(v > 0, F.pow(F.lit(2.0), j).cast("long")).otherwise(
                F.lit(0).cast("long")
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return df.select(F.col(id_col), value.alias("simhash"))


def _simhash62_kernel(salt: str = "#"):
    """Arrow-vectorized 62-bit simhash: per text, the plain and
    ``salt``-appended 31-bit simhashes in one pass. Bit-identical to
    two :func:`simhash` expression folds (``bits=31``):

    - tokenization is Java-``\\s+`` split semantics (ASCII whitespace
      class, leading/trailing empties kept — Python ``re.split`` on the
      explicit class matches exactly; '' tokens hash to 0 like
      ``_hash64``'s ``ascii('') = 0`` fold),
    - token hashes are the exact polynomial fold mod 2^31-1 (Python int
      arithmetic — no overflow), and the salted family continues the
      SAME fold with the salt's codepoints, so it needs no re-walk of
      the token,
    - bit votes and reassembly are exact int64 numpy ops.

    Exists because interpreted HOF folds degrade in many-query sessions
    (megamorphic interpreter call sites): the expression pair fold
    measured ~1.1 s solo but 3.1-3.5 s inside the 81-query bench; the
    kernel is stable either way. :func:`simhash` is its tested-equal
    reference (tests/test_simhash_pairs.py)."""
    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    salt_cps = [ord(c) for c in salt]

    @F.pandas_udf("struct<sim_lo: long, sim_hi: long>")
    def sig(texts: pd.Series) -> pd.DataFrame:
        js = np.arange(31, dtype=np.int64)
        bits_of = 1 << js
        lo_out, hi_out = [], []

        def fold_hashes(hs: np.ndarray) -> int:
            bits = (hs[:, None] >> js[None, :]) & 1
            votes = (2 * bits - 1).sum(axis=0)
            return int(((votes > 0) * bits_of).sum())

        for t in texts:
            if t is None:  # expression fold yields NULL on NULL input
                lo_out.append(None)
                hi_out.append(None)
                continue
            toks = ws.split(t)
            hs = np.empty(max(len(toks), 1), dtype=np.int64)
            for i, tok in enumerate(toks):
                h = 0
                for ch in tok:
                    h = (h * POLY_BASE + ord(ch)) % MINHASH_PRIME
                hs[i] = h
            hs2 = hs
            for c in salt_cps:
                hs2 = (hs2 * POLY_BASE + c) % MINHASH_PRIME
            lo_out.append(fold_hashes(hs))
            hi_out.append(fold_hashes(hs2))
        return pd.DataFrame(
            {
                "sim_lo": pd.array(lo_out, dtype="Int64"),
                "sim_hi": pd.array(hi_out, dtype="Int64"),
            }
        )

    return sig.asNondeterministic()


def simhash62_signatures(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "#",
) -> DataFrame:
    """(id, sim_lo, sim_hi) 62-bit signatures from the Arrow kernel."""
    kern = _simhash62_kernel(salt)
    return df.select(
        F.col(id_col), kern(F.col(content_col)).alias("_s")
    ).select(id_col, F.col("_s.sim_lo"), F.col("_s.sim_hi"))


def _simhash_banded(sigs: DataFrame, id_col: str) -> DataFrame:
    """(id, sim_lo, sim_hi, band_idx, band_val) — the 4×16-bit chunk
    banding shared by :func:`simhash_hamming_pairs` and
    :func:`dedup_skew_report`. NULL signatures (null-text documents)
    are filtered BEFORE banding (ADVICE r8 class): a null band value
    never matches the equi-join, but the rows still rode the band
    exchange and pooled into one null window group under the skew
    rail's count."""
    mask16 = F.lit(65535).cast("long")
    bands = [
        F.col("sim_lo").bitwiseAND(mask16),
        F.shiftright(F.col("sim_lo"), 16),
        F.col("sim_hi").bitwiseAND(mask16),
        F.shiftright(F.col("sim_hi"), 16),
    ]
    return (
        sigs.where(F.col("sim_lo").isNotNull() & F.col("sim_hi").isNotNull())
        .select(
            id_col,
            "sim_lo",
            "sim_hi",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band_idx"),
                            b.cast("long").alias("band_val"),
                        )
                        for i, b in enumerate(bands)
                    ]
                )
            ).alias("band"),
        )
        .select(id_col, "sim_lo", "sim_hi", "band.band_idx", "band.band_val")
    )


def simhash_hamming_pairs(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    salt: str = "#",
    max_bucket: int | None = 10_000,
    cap_strategy: str = "window",
) -> DataFrame:
    """Near-duplicate pairs by 62-bit SimHash Hamming distance.

    ``max_bucket`` is the hub-bucket skew rail shared with
    :func:`minhash_lsh_duplicates`: a corpus with many byte-identical
    boilerplate documents puts them ALL in one (band, value) bucket on
    every band (identical signatures), and the candidate join goes
    quadratic in that count. Buckets above the cap drop before the
    self-join; ``None`` disables.

    Two independent 31-bit simhashes (plain + ``salt``-appended token
    hash family) form a 62-bit signature; at this width random document
    pairs sit at distance ~31 so ``hamming <= 3`` is a true near-dup
    signal (32 bits alone is too small — random pairs collide at <= 3
    constantly). Candidates come from the pigeonhole banding of the
    signature into 4 chunks of <= 16 bits: any pair within Hamming
    ``max_hamming <= 3`` matches exactly on at least one chunk, so the
    equi-join on (band_idx, band_value) finds ALL qualifying pairs —
    never an all-pairs comparison. The 16-byte signature rides the band
    exchange (carry beats join-back when the payload is this narrow —
    see the measured join-back-vs-carry note in NOTES.md).

    Output: (a_id, b_id, hamming), a_id < b_id, hamming <= max_hamming.

    Reference scope: the reference dedups by version only
    (``migrations/clickhouse/000004*``); this is part of the
    training-data near-dup family built on top of that surface.
    """
    if max_hamming > 3:
        raise ValueError("4-band pigeonhole guarantees recall only to hamming 3")
    # Both hash families in ONE Arrow-kernel pass over one scan (a
    # lo⋈hi join would recompute the corpus per side), then a lazy
    # barrier so the band self-join's two branches share the signature
    # output instead of re-running it per side (same pattern and
    # rationale as cosine_neardup_pairs' prep checkpoint).
    sigs = simhash62_signatures(
        ensure_parallelism(df), content_col, id_col, salt=salt
    ).localCheckpoint(eager=False)

    banded = _simhash_banded(sigs, id_col)
    if max_bucket is not None:
        # window path: the window's required hashpartitioning on
        # (band_idx, band_val) is the same partitioning the self-join
        # needs, so it adds no extra exchange — only the count
        banded = _cap_hub_buckets(
            banded, ("band_idx", "band_val"), max_bucket, cap_strategy
        )

    left = banded.select(
        F.col(id_col).alias("a_id"),
        F.col("sim_lo").alias("a_lo"),
        F.col("sim_hi").alias("a_hi"),
        "band_idx",
        "band_val",
    )
    right = banded.select(
        F.col(id_col).alias("b_id"),
        F.col("sim_lo").alias("b_lo"),
        F.col("sim_hi").alias("b_hi"),
        "band_idx",
        "band_val",
    )
    hamming = F.bit_count(
        F.col("a_lo").bitwiseXOR(F.col("b_lo"))
    ) + F.bit_count(F.col("a_hi").bitwiseXOR(F.col("b_hi")))
    return (
        left.join(right, ["band_idx", "band_val"])
        .where(F.col("a_id") < F.col("b_id"))
        .withColumn("hamming", hamming.cast("long"))
        .where(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", "hamming")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 9,
    threshold: float = 0.5,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    max_bucket: int | None = 10_000,
    cap_strategy: str = "window",
) -> DataFrame:
    """n-gram Jaccard over MinHash-LSH candidate pairs.

    ``max_bucket`` is the hub-bucket skew rail shared with
    :func:`minhash_lsh_duplicates` (see its docstring): boilerplate-
    driven band buckets above the cap are dropped before the quadratic
    candidate self-join; ``None`` disables.

    A naive shingle self-join blows up quadratically on frequent
    shingles (word-soup corpora share most 9-grams across documents), so
    candidates come from LSH banding and each candidate pair is verified
    with the exact set intersection over the pair's DISTINCT shingle-HASH
    sets (31-bit polynomial hashes — a per-pair collision perturbs the
    set sizes with probability ~|shingles|²/2³² ≈ 1e-5; deterministic and
    reproduced exactly by the oracle). Long-array intersection keeps the
    band exchange 9× narrower than carrying shingle strings and avoids
    string hashing in the verify stage.
    4 bands × 4 rows: near-dups (jaccard ≳ 0.8) are caught with ≥95%
    probability while near-zero-similarity pairs collide with ~1e-4 —
    the corpus-wide candidate volume stays linear. Output:
    (a_id, b_id, jaccard), a_id < b_id, jaccard ≥ threshold.
    """
    # Re-split first: the signature/hash-set kernels are the CPU-heavy
    # stage and must not run on a single-row-group scan's one partition.
    par = ensure_parallelism(df)
    sig_kernel = _minhash_sig_kernel(num_hashes, shingle_k)
    sigs = par.select(
        F.col(id_col), sig_kernel(F.col(content_col)).alias("minhash_sig")
    )

    # Band on NARROW rows (id, band_idx, band_key only — the ~2 KB
    # hash-set payload does NOT ride the band exchange; carrying it was
    # measured ~90 MB of shuffle at sf0.1 vs ~3 MB for the keys alone),
    # collapse duplicate candidates (pairs sharing several bands) while
    # rows are tiny, and only THEN join the verification payload back.
    banded = _lsh_banded(sigs, id_col, num_hashes, bands)
    banded = banded.repartition("band_idx", "band_key")
    if max_bucket is not None:
        banded = _cap_hub_buckets(
            banded, ("band_idx", "band_key"), max_bucket, cap_strategy
        )

    left = banded.select(F.col(id_col).alias("a_id"), "band_idx", "band_key")
    right = banded.select(F.col(id_col).alias("b_id"), "band_idx", "band_key")
    candidates = (
        left.join(right, ["band_idx", "band_key"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )

    # Verification join-back: candidates are LSH-sparse (linear-ish in the
    # corpus), the hash-set relation is one kernel pass; AQE broadcasts it
    # when small, and at 100 TB this degrades to two linear id-equi-joins —
    # never a widening of the band exchange.
    hset_kernel = _shingle_hset_kernel(shingle_k)
    hsets = par.select(
        F.col(id_col), hset_kernel(F.col(content_col)).alias("hset")
    )
    scored = (
        candidates.join(
            hsets.select(F.col(id_col).alias("a_id"), F.col("hset").alias("a_h")),
            "a_id",
        )
        .join(
            hsets.select(F.col(id_col).alias("b_id"), F.col("hset").alias("b_h")),
            "b_id",
        )
    )
    shared = F.size(F.array_intersect("a_h", "b_h")).cast("double")
    union = (F.size("a_h") + F.size("b_h")).cast("double") - shared
    return (
        scored.withColumn("jaccard", shared / union)
        .where(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def _winnow_kernel(shingle_k: int, window: int):
    """Arrow-vectorized winnowing fingerprint set (Schleimer, Wilkerson &
    Aiken 2003, "Winnowing: Local Algorithms for Document
    Fingerprinting" — the MOSS algorithm): positional rolling k-gram
    hashes; each sliding window of ``window`` consecutive hashes
    contributes its minimum; the distinct selected values (sorted) are
    the document's fingerprints. Winnowing guarantees any shared
    substring of length ≥ k + window - 1 yields at least one shared
    fingerprint — the span-level dedup property the whole-document
    MinHash path cannot give.

    Bit-identical to the DuckDB oracle: same polynomial hash, same
    window mins, sorted-distinct output."""

    @F.pandas_udf("array<long>")
    def fps(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            h = _shingle_hashes(t, shingle_k)
            if h.shape[0] >= window:
                mins = np.lib.stride_tricks.sliding_window_view(h, window).min(axis=1)
            else:
                mins = h.min(keepdims=True)
            out.append(np.unique(mins))
        return pd.Series(out)

    # pure, but asNondeterministic forbids Catalyst from duplicating the
    # call into inferred constraints (same guard as the neardup prep)
    return fps.asNondeterministic()


def winnow_fingerprints(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 9,
    window: int = 4,
) -> DataFrame:
    """Per-document winnowing fingerprint sets (Arrow kernel path)."""
    kern = _winnow_kernel(shingle_k, window)
    return df.select(
        F.col(id_col), kern(F.col(content_col)).alias("fingerprints")
    )


def winnow_duplicate_pairs(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 9,
    window: int = 4,
    max_df: int = 10,
    min_shared: int = 3,
) -> DataFrame:
    """Span-level near-duplicate pairs: documents sharing ≥ ``min_shared``
    winnowing fingerprints, ignoring fingerprints that occur in more
    than ``max_df`` documents.

    The ``max_df`` cap is doing double duty: stop-fingerprints (common
    boilerplate spans) carry no dedup signal, and the cap is the skew
    bound — any one fingerprint contributes at most ``max_df²`` joined
    rows, so the self-join can never go quadratic in the corpus.

    Scale shape: one kernel pass materialized once (the exploded
    (id, fp) relation is referenced by the frequency aggregate, the
    stop-fingerprint filter, and both self-join sides — without a
    barrier the nondeterministic kernel would re-run for every branch);
    then fp-key shuffles for the aggregate + self-join and one pair-key
    aggregate. Output: (a_id, b_id, shared_fps).
    """
    fps = winnow_fingerprints(df, content_col, id_col, shingle_k, window)
    x = fps.select(
        F.col(id_col).alias("_id"), F.explode("fingerprints").alias("fp")
    ).localCheckpoint(eager=False)
    dfreq = x.groupBy("fp").agg(F.count(F.lit(1)).alias("_df"))
    # merge-join hints: every relation here is keyed by fp and
    # CORPUS-SIZED, and the checkpointed RDD reports no reliable stats,
    # so Spark may otherwise pick a broadcast (OOMs the driver —
    # observed at 30k docs under a 1 GB driver) or a shuffled hash join
    # (unspillable build side — also observed failing under memory
    # pressure). Sort-merge on the fp key spills gracefully at any
    # scale; that is the plan that survives 100 TB.
    # rare is consumed by BOTH self-join sides — barrier it too, or the
    # dfreq aggregate + stop-filter join run once per side (observed as
    # a third SortMergeJoin in the plan)
    rare = (
        x.join(dfreq.where(F.col("_df") <= max_df).hint("merge"), "fp")
        .select("_id", "fp")
        .localCheckpoint(eager=False)
    )
    a = rare.select(F.col("_id").alias("a_id"), "fp")
    b = rare.select(F.col("_id").alias("b_id"), "fp")
    return (
        a.join(b.hint("merge"), "fp")
        .where(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .where(F.col("shared_fps") >= min_shared)
    )


def minhash_calibration(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 9,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """Sketch-quality audit: for every LSH candidate pair, the MinHash
    Jaccard ESTIMATE (matching signature components / k) next to the
    EXACT shingle-set Jaccard, both as integer milli-units so any
    engine agrees bit-for-bit.

    This is the measurement that justifies trusting the sketch at
    100 TB, where the exact verify join is only affordable on the
    LSH-sparse candidate set: E[estimate] = true Jaccard with
    sd = sqrt(J(1-J)/k) (~0.125 at k=16, J=0.5) — per-pair error is
    expected and bounded, and a drifting calibration (systematic
    est >> exact) means the banding scheme, not the data, changed.

    Same plan shape as :func:`ngram_jaccard_pairs`: narrow band
    exchange, distinct candidates, ONE combined payload relation
    (signature + hash-set in a single kernel-pass projection) joined
    back per side. No threshold — calibration wants the whole range.

    Output: (a_id, b_id, est_milli, exact_milli, err_milli), a < b.
    """
    rows_per_band = num_hashes // bands
    par = ensure_parallelism(df)
    sig_kernel = _minhash_sig_kernel(num_hashes, shingle_k)
    hset_kernel = _shingle_hset_kernel(shingle_k)
    payload = par.select(
        F.col(id_col),
        sig_kernel(F.col(content_col)).alias("minhash_sig"),
        hset_kernel(F.col(content_col)).alias("hset"),
    ).localCheckpoint(eager=False)  # banding + both join-backs share it

    def band_hash(b: int) -> Column:
        parts = [
            F.element_at("minhash_sig", b * rows_per_band + r + 1).cast("string")
            for r in range(rows_per_band)
        ]
        return F.md5(F.concat_ws("_", *parts))

    banded = payload.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band_idx"), band_hash(b).alias("band_key"))
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "band.band_idx", "band.band_key")
    banded = banded.repartition("band_idx", "band_key")

    left = banded.select(F.col(id_col).alias("a_id"), "band_idx", "band_key")
    right = banded.select(F.col(id_col).alias("b_id"), "band_idx", "band_key")
    candidates = (
        left.join(right, ["band_idx", "band_key"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    scored = candidates.join(
        payload.select(
            F.col(id_col).alias("a_id"),
            F.col("minhash_sig").alias("a_sig"),
            F.col("hset").alias("a_h"),
        ),
        "a_id",
    ).join(
        payload.select(
            F.col(id_col).alias("b_id"),
            F.col("minhash_sig").alias("b_sig"),
            F.col("hset").alias("b_h"),
        ),
        "b_id",
    )
    matching = F.size(
        F.filter(F.zip_with("a_sig", "b_sig", lambda a, b: a == b), lambda x: x)
    ).cast("long")
    shared = F.size(F.array_intersect("a_h", "b_h")).cast("long")
    union = F.size("a_h").cast("long") + F.size("b_h").cast("long") - shared
    counted = scored.select(
        "a_id",
        "b_id",
        matching.alias("_match"),
        shared.alias("_shared"),
        union.alias("_union"),
    )
    # integer `div`: a double quotient can round up across an integer
    # boundary before the long cast truncates
    return counted.select(
        "a_id",
        "b_id",
        F.expr(f"(_match * 1000) div {num_hashes}").alias("est_milli"),
        F.expr("(_shared * 1000) div _union").alias("exact_milli"),
    ).withColumn(
        "err_milli",
        F.abs(F.col("est_milli") - F.col("exact_milli")),
    )


CDC_WINDOW = 8
CDC_MASK_MOD = 64


def _pow_mod_arr(base: int, n: int, p: int):
    """numpy int64 array [base^0, base^1, ..., base^n] mod p, built by
    doubling (O(log n) vector ops). Safe in int64: every element < p
    (< 2^31 here) and every intermediate product < p² < 2^63."""
    pw = np.array([1, base % p], dtype=np.int64)
    while pw.shape[0] < n + 1:
        mult = (int(pw[-1]) * base) % p
        pw = np.concatenate([pw, (pw * mult) % p])
    return pw[: n + 1]


def _cdc_kernel(window: int, mask_mod: int):
    """Arrow-vectorized ``cdc_chunks`` kernel (r13, guide §4.2). The
    same chunking as an expression pipeline would run its rolling hash
    and per-chunk ``aggregate`` fold as interpreted HOF lambdas —
    O(n·window) boxed ops per doc outside codegen (4.3× the per-task
    cost at sf0.1). The kernel computes the same integers in numpy:

    - rolling window hash per position: the same unrolled
      ``(h*B + c) % P`` fold ``_shingle_hashes`` computes (bit-identical —
      every step is int64 multiply-add-mod on the same operands);
    - per-chunk hashes via modular PREFIX hashing: with
      ``H[k] = fold(codes[:k])``, ``fold(codes[s-1:e]) =
      (H[e] − H[s−1]·B^(e−s+1)) mod P`` — exact modular arithmetic,
      never floats, so equality with the fold is an identity, not an
      approximation (pinned bit-exact against the column-expression
      reference by test_cdc_chunks_sql_twin_matches_column_path).

    Output: one struct of four equal-length arrays per doc (chunk_idx,
    start, chunk_len, chunk_hash) — zipped and exploded JVM-side.
    ``asNondeterministic`` stops Catalyst cloning the kernel below the
    explode's inferred filters (guide §4.4); it is pure."""
    p, b = MINHASH_PRIME, POLY_BASE
    inv_b = pow(b, p - 2, p)  # Fermat inverse: p is prime, b < p

    @F.pandas_udf(
        "struct<chunk_idx: array<long>, start: array<long>, "
        "chunk_len: array<long>, chunk_hash: array<long>>"
    )
    def chunks(texts: pd.Series) -> pd.DataFrame:
        idx_out, start_out, len_out, hash_out = [], [], [], []
        # NaN on an empty or all-NULL batch, and NaN is truthy
        n_max = texts.str.len().max()
        n_max = 0 if pd.isna(n_max) else int(n_max)
        pw = _pow_mod_arr(b, n_max, p)
        inv_pw = _pow_mod_arr(inv_b, n_max, p)
        for t in texts:
            if t is None:
                # upstream filters NULLs; mirror the quarantine anyway
                idx_out.append(None)
                start_out.append(None)
                len_out.append(None)
                hash_out.append(None)
                continue
            cp = _codepoints(t)
            n = cp.shape[0]
            if n >= window:
                h = _shingle_hashes(t, window)
                cuts = np.nonzero(h % mask_mod == 0)[0] + window
                ends = np.unique(
                    np.concatenate([cuts, np.array([n], dtype=np.int64)])
                )
            else:
                ends = np.array([n], dtype=np.int64)
            # prefix hashes H[0..n]: H[k] = (S[k] * B^k) mod P with
            # S[k] = Σ_{j≤k} codes[j-1]·B^{-j}. Bounds: each term < P,
            # cumsum < n·P < 2^63 for any real document, products < P².
            terms = (cp * inv_pw[1 : n + 1]) % p
            s_arr = np.concatenate(
                [np.zeros(1, dtype=np.int64), np.cumsum(terms)]
            ) % p
            h_pref = (s_arr * pw[: n + 1]) % p
            prev = np.concatenate([np.zeros(1, dtype=np.int64), ends[:-1]])
            lens = ends - prev
            hashes = (h_pref[ends] - h_pref[prev] * pw[lens]) % p
            k = ends.shape[0]
            idx_out.append(np.arange(1, k + 1, dtype=np.int64))
            start_out.append(prev + 1)
            len_out.append(lens)
            hash_out.append(hashes)
        return pd.DataFrame(
            {
                "chunk_idx": idx_out,
                "start": start_out,
                "chunk_len": len_out,
                "chunk_hash": hash_out,
            }
        )

    return chunks.asNondeterministic()


def cdc_chunks(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    window: int = CDC_WINDOW,
    mask_mod: int = CDC_MASK_MOD,
) -> DataFrame:
    """Content-defined chunking (the Rabin/FastCDC family): cut a
    document wherever the rolling ``window``-gram hash ≡ 0 (mod
    ``mask_mod``), plus a final cut at the end. Because boundaries
    depend only on LOCAL content, an insertion early in a document
    shifts at most one chunk — every later chunk re-aligns and its hash
    still dedups against the store, which is exactly why storage
    systems (LBFS, restic, borg, data-lake dedup) chunk this way
    instead of at fixed offsets. Expected chunk size ≈ ``mask_mod``
    characters.

    Map-only (one Arrow kernel pass, see ``_cdc_kernel``, then one
    explode) — scan-bound at any scale, no shuffle. The chunk key is
    the portable polynomial hash of the chunk text, so a downstream
    exact-dedup groupBy on (chunk_hash, chunk_len) is the sub-file
    dedup table.

    Output: id, chunk_idx (1-based), start (1-based char), chunk_len,
    chunk_hash. Empty documents yield one zero-length chunk with the
    empty-fold hash 0 (the '' → 0 convention everywhere in this repo);
    NULL documents are quarantined (junk_check, round 10 — a NULL has
    no content to chunk, and the unguarded expression chain fabricated
    one phantom all-NULL chunk row for it).
    """
    df = df.where(F.col(content_col).isNotNull())
    kern = _cdc_kernel(window, mask_mod)
    base = df.select(F.col(id_col), kern(F.col(content_col)).alias("_c"))
    zipped = base.select(
        F.col(id_col),
        F.explode(
            F.arrays_zip(
                "_c.chunk_idx", "_c.start", "_c.chunk_len", "_c.chunk_hash"
            )
        ).alias("_ch"),
    )
    return zipped.select(
        F.col(id_col),
        F.col("_ch.chunk_idx").alias("chunk_idx"),
        F.col("_ch.start").alias("start"),
        F.col("_ch.chunk_len").alias("chunk_len"),
        F.col("_ch.chunk_hash").alias("chunk_hash"),
    )


def prefix_filter_jaccard_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_milli: int = 700,
    shingle_k: int = 12,
) -> DataFrame:
    """EXACT thresholded set-similarity self-join via prefix filtering
    (Chaudhuri/Bayardo AllPairs): every pair with token-set Jaccard ≥ t
    is found — not probabilistically like MinHash-LSH, provably.

    The completeness argument, with tokens globally ordered rarest-first
    and prefix(x) = the first |x| − ⌈t·|x|⌉ + 1 tokens: J(a,b) ≥ t
    implies overlap o ≥ t·(|a|+|b|)/(1+t), which (since o ≤ min) gives
    o ≥ t·max(|a|,|b|) — so the common tokens cannot all hide in either
    suffix (size ⌈t·s⌉ − 1 < t·s ≤ o) and BOTH prefixes contain a shared
    token. Joining prefix-token to prefix-token therefore misses
    nothing; rarest-first ordering makes those join keys the LOW-df
    tokens, which is the skew bound — a stopword never becomes a join
    key unless it sits in some document's rare prefix.

    Plan: df count (one token-key shuffle, partial-aggregable), df joined
    back token-keyed, per-doc sort+slice via collect (one doc-key
    shuffle), prefix self-join on rare tokens + length filter
    |b| ≥ t·|a|, then one exact verify join of the candidate ids against
    the token-set relation. All joins are equi-joins on token/id keys.

    Output: a_id, b_id, jac_milli (≥ threshold, exact integer div).
    """
    t_num, t_den = threshold_milli, 1000
    # LONG hash shingles (k=12, rolling poly hash), not word tokens: the
    # element universe must be LARGE relative to the corpus or
    # "rarest-first" cannot discriminate — on a 50-word vocabulary every
    # prefix element is common and the candidate join degenerates toward
    # all-pairs (measured: k=5 → 4.7M candidates at sf0.1, k=12 → 237k).
    # Hashes rather than strings make the verify intersect an integer
    # merge; both engines compute the SAME hash, so a collision can
    # never break cross-engine parity (it can only nudge the estimate
    # vs TRUE string Jaccard — ~|universe|²/2³¹ expected collisions).
    # The candidate set remains provably complete for the hashed sets.
    #
    # Arrow kernel + lazy barrier, NOT the expression fold: the set
    # relation feeds FOUR branches (explode→df-counts, prefix build,
    # and both verify sides), and the explode additionally makes
    # Catalyst clone the whole 300-element fold into inferred
    # null/size filters — measured 67 s for the first stage alone on
    # 70 docs vs ~1 s with the kernel behind a checkpoint.
    kern = _shingle_hset_kernel(shingle_k)
    toks = (
        df.select(F.col(id_col).alias("_id"), kern(F.col(text_col)).alias("_set"))
        .withColumn("_s", F.size("_set").cast("long"))
        .localCheckpoint(eager=False)
    )
    x = toks.select("_id", "_s", F.explode("_set").alias("_tok"))
    dfreq = x.groupBy("_tok").agg(F.count(F.lit(1)).alias("_df"))
    # rarest-first order per doc, then keep the prefix: s - ceil(t*s) + 1
    # (integer ceil: a float ceil(s·t) can land on the wrong side of an
    # inexact t_num/t_den quotient at the boundary)
    ceil_ts = F.expr(f"(_s * {t_num} + {t_den} - 1) div {t_den}")
    prefix_len = F.col("_s") - ceil_ts + 1
    prefixes = (
        x.join(dfreq, "_tok")
        .groupBy("_id", "_s")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_df"), F.col("_tok")))
            ).alias("_ranked")
        )
        .select(
            "_id",
            "_s",
            F.posexplode(
                F.transform(
                    F.slice(F.col("_ranked"), 1, prefix_len.cast("int")),
                    lambda r: r["_tok"],
                )
            ).alias("_pos", "_tok"),
        )
    )
    a = prefixes.select(
        F.col("_id").alias("a_id"),
        F.col("_s").alias("_sa"),
        F.col("_pos").alias("_pa"),
        "_tok",
    )
    b = prefixes.select(
        F.col("_id").alias("b_id"),
        F.col("_s").alias("_sb"),
        F.col("_pos").alias("_pb"),
        "_tok",
    )
    # PPJoin positional filter (Xiao et al. 2008), the density bound for
    # hot prefix tokens: a match on token w at 0-based rarest-first
    # ranks (pa, pb) can contribute at most 1 + min(|a|-pa-1, |b|-pb-1)
    # overlap, and J >= t needs o >= t*(|a|+|b|)/(1+t). Pruning a MATCH
    # below that bound is exact: for a true pair, its globally-minimal
    # common token has every other common token ranked after it on both
    # sides, so THAT match always satisfies the bound and the pair
    # survives. Effect at scale: shingles shared across many documents
    # have high df, rank near the END of every prefix, and their
    # (quadratic) block matches carry tiny position headroom — the
    # filter discards them inside the join, before the candidate
    # distinct exchange and the 300-element verify intersects
    # (measured: the one super-linear query in the r5 scale check,
    # e=1.7 at 1x->3x, drops to near-linear).
    o_req_scaled = F.col("_sa") + F.col("_sb")  # o*(1+t) >= t*(sa+sb)
    o_bound = F.lit(1) + F.least(
        F.col("_sa") - F.col("_pa") - 1, F.col("_sb") - F.col("_pb") - 1
    )
    cand = (
        a.join(b, "_tok")
        .where(F.col("a_id") < F.col("b_id"))
        # length filter: J >= t forces t*max <= o <= min
        .where(
            (F.col("_sb") * t_den >= F.col("_sa") * t_num)
            & (F.col("_sa") * t_den >= F.col("_sb") * t_num)
        )
        .where(o_bound * (t_den + t_num) >= o_req_scaled * t_num)
        .select("a_id", "b_id")
        .distinct()
    )
    sets_a = toks.select(F.col("_id").alias("a_id"), F.col("_set").alias("_seta"))
    sets_b = toks.select(F.col("_id").alias("b_id"), F.col("_set").alias("_setb"))
    verified = cand.join(sets_a, "a_id").join(sets_b, "b_id")
    inter = F.size(F.array_intersect("_seta", "_setb")).cast("long")
    union = (F.size("_seta") + F.size("_setb")).cast("long") - inter
    return (
        verified.select(
            "a_id",
            "b_id",
            inter.alias("_i"),
            union.alias("_u"),
        )
        .selectExpr("a_id", "b_id", "(_i * 1000) div _u AS jac_milli")
        .where(F.col("jac_milli") >= threshold_milli)
    )


def dedup_skew_report(
    df: DataFrame,
    method: str = "minhash",
    content_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = 10_000,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_k: int = 9,
    salt: str = "#",
    window: int = 4,
    max_df: int = 10,
    num_planes: int = 10,
    num_bands: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Observability for the banded-dedup skew rails — "no silent caps"
    (VERDICT r8; template: ``media_quarantine_report``).

    Every ``max_bucket`` rail (and winnowing's ``max_df`` stop-
    fingerprint cap) drops whole bucket groups before the quadratic
    candidate self-join; the recall caveat used to live only in
    docstrings. This report rebuilds EXACTLY the bucket relation the
    operator joins on (the banding builders ``_lsh_banded`` /
    ``_simhash_banded`` and the winnow posting explode are shared code,
    not re-derivations) and aggregates, per band:

    - ``buckets``              — distinct bucket groups
    - ``capped_buckets``       — groups larger than the cap (dropped)
    - ``rows_dropped``         — banded rows inside capped groups
    - ``max_bucket_size``      — largest group seen (capped or not)
    - ``max_surviving_bucket`` — largest group the rail lets through
    - ``recommended_planes``   — embedding method only (NULL elsewhere):
      :func:`~.similarity.auto_num_planes` of THIS corpus's RAW row
      count — the same n ``cosine_neardup_pairs(num_planes="auto")``
      counts (ADVICE r11: counting post-quarantine rows instead made
      the recommendation diverge from what "auto" picks on junk-heavy
      corpora near a bit-length boundary) — the report states the
      saturation remedy ("pass num_planes=<this> or 'auto'") instead
      of leaving the reader to connect gauge and fix (VERDICT r10 #6)

    ``method``: ``"minhash"`` / ``"ngram"`` (both use the MinHash band
    keys; ngram signs with the Arrow kernel exactly like its operator),
    ``"simhash"`` (4×16-bit chunk bands; cap column is ``band_val``),
    ``"winnow"`` (fingerprint document frequencies vs ``max_df``;
    ``band_idx`` is 0 — winnowing has one "band"), ``"embedding"``
    (sign-LSH buckets of :func:`~.similarity.cosine_neardup_pairs`;
    pass ``content_col`` = the vector column, plus
    ``num_planes``/``num_bands``/``dim``; this report is ALSO the
    saturation gauge — ``max_bucket_size`` near ``rows/2^num_planes``
    means the plane family is saturated and ``num_planes`` should
    grow with log2(n), see the operator's operating-point note).

    Scale shape: one map-side-combinable ``groupBy(bucket).count()`` —
    a 100M-row hub collapses to one row per input partition before the
    shuffle — then a second aggregate over one row per bucket. Safe to
    run on the full corpus alongside the operator.
    """
    par = ensure_parallelism(df)
    if method == "minhash":
        sigs = minhash_signatures(par, content_col, id_col, num_hashes, shingle_k)
        banded = _lsh_banded(sigs, id_col, num_hashes, bands)
        keys, cap = ("band_idx", "band_key"), max_bucket
    elif method == "ngram":
        sig_kernel = _minhash_sig_kernel(num_hashes, shingle_k)
        sigs = par.select(
            F.col(id_col), sig_kernel(F.col(content_col)).alias("minhash_sig")
        )
        banded = _lsh_banded(sigs, id_col, num_hashes, bands)
        keys, cap = ("band_idx", "band_key"), max_bucket
    elif method == "simhash":
        sigs = simhash62_signatures(par, content_col, id_col, salt=salt)
        banded = _simhash_banded(sigs, id_col).select(
            id_col, "band_idx", "band_val"
        )
        keys, cap = ("band_idx", "band_val"), max_bucket
    elif method == "winnow":
        fps = winnow_fingerprints(par, content_col, id_col, shingle_k, window)
        banded = fps.select(
            F.col(id_col),
            F.lit(0).alias("band_idx"),
            F.explode("fingerprints").alias("fp"),
        )
        keys, cap = ("band_idx", "fp"), max_df
    elif method == "embedding":
        from yandex_tracker_exporter_spark.operators.similarity import (
            _neardup_prep_kernel,
        )

        prep = _neardup_prep_kernel(num_planes, num_bands, dim)
        banded = (
            par.select(F.col(id_col), prep(F.col(content_col)).alias("_p"))
            .where(F.col("_p.nrm").isNotNull() & (F.col("_p.nrm") > 0))
            .select(
                id_col, F.posexplode("_p.buckets").alias("band_idx", "bucket")
            )
        )
        keys, cap = ("band_idx", "bucket"), max_bucket
    else:
        raise ValueError(
            f"unknown method {method!r}: expected one of "
            "'minhash', 'ngram', 'simhash', 'winnow', 'embedding'"
        )

    rep = hub_cap_report(banded, keys, cap, method)
    if method != "embedding":
        return rep.withColumn(
            "recommended_planes", F.lit(None).cast("long")
        )
    # VERDICT r10 #6: the gauge must SAY the remedy, not just show the
    # saturation — `recommended_planes` is the sign-LSH operating point
    # auto_num_planes(n) for THIS corpus (pass it as num_planes, or
    # pass "auto"). n = RAW input rows, pre-quarantine — the SAME count
    # cosine_neardup_pairs(num_planes="auto") takes (ADVICE r11: the
    # report used to count usable band-0 banded rows, so on junk-heavy
    # corpora near a bit-length boundary it recommended a plane count
    # "auto" would not actually pick). The expression
    # `length(conv(n, 10, 2)) - 1` is bit_length(n)-1, the exact
    # integer log2 the Python function computes — one broadcast
    # single-row join, no driver collect.
    from .similarity import auto_num_planes as _anp

    n_vec = par.agg(F.count(F.lit(1)).alias("_n_vec"))
    bitlen = F.length(F.conv(F.col("_n_vec").cast("string"), 10, 2))
    lo, hi = (
        _anp.__defaults__ if _anp.__defaults__ else (10, 28)
    )  # single source for the clamp bounds
    rec = F.when(
        F.col("_n_vec") > 0,
        F.greatest(
            F.lit(lo), F.least(F.lit(hi), bitlen - F.lit(1) - F.lit(3))
        ),
    ).otherwise(F.lit(lo))
    return (
        rep.join(F.broadcast(n_vec))
        .withColumn("recommended_planes", rec.cast("long"))
        .drop("_n_vec")
        .orderBy("band_idx")
    )


def hub_cap_report(
    banded: DataFrame,
    keys: Sequence[str],
    cap: int | None,
    label: str,
) -> DataFrame:
    """Generic "no silent caps" observability over ANY hub-cap key
    relation — the :func:`_cap_hub_buckets` companion, extracted from
    :func:`dedup_skew_report` so rails OUTSIDE the text/embedding
    families report the same way (e.g. the co-purchase basket-width
    rail: ``hub_cap_report(li_pairs_input, ("l_orderkey",),
    COPURCHASE_MAX_BASKET, "basket")``).

    ``keys``: the bucket identity the rail counts on. With two or more
    keys the FIRST is treated as the band index (the dedup banding
    convention); with one key the report collapses to a single band 0
    row. Output schema and values are byte-identical to what
    dedup_skew_report always produced for the banded families.

    Scale shape: one map-side-combinable ``groupBy(keys).count()`` —
    a 100M-row hub collapses to one row per input partition before the
    shuffle — then a second aggregate over one row per bucket.
    """
    bucket_keys = list(keys)
    sizes = banded.groupBy(*bucket_keys).agg(F.count(F.lit(1)).alias("_n"))
    if len(bucket_keys) > 1:
        sizes = sizes.withColumnRenamed(bucket_keys[0], "band_idx")
    else:
        sizes = sizes.withColumn("band_idx", F.lit(0))
    over = F.lit(False) if cap is None else (F.col("_n") > cap)
    return (
        sizes.groupBy("band_idx")
        .agg(
            F.count(F.lit(1)).alias("buckets"),
            F.coalesce(
                F.sum(F.when(over, 1).otherwise(0)), F.lit(0)
            ).alias("capped_buckets"),
            F.coalesce(
                F.sum(F.when(over, F.col("_n")).otherwise(0)), F.lit(0)
            ).alias("rows_dropped"),
            F.max("_n").alias("max_bucket_size"),
            F.max(F.when(~over, F.col("_n"))).alias("max_surviving_bucket"),
        )
        .select(
            F.lit(label).alias("method"),
            F.col("band_idx").cast("long"),
            F.col("buckets").cast("long"),
            F.col("capped_buckets").cast("long"),
            F.col("rows_dropped").cast("long"),
            F.col("max_bucket_size").cast("long"),
            F.col("max_surviving_bucket").cast("long"),
        )
        .orderBy("band_idx")
    )

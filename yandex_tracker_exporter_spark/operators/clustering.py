"""Iterative clustering over quantized embedding codes.

The SemDeDup-style pipeline (cluster the corpus, then prune near-dups
inside each cluster) needs a k-means step; this one runs Lloyd's
algorithm over **int8-quantized** codes with fully integer arithmetic so
every engine — and the DuckDB oracle — reproduces the assignments
bit-for-bit:

- distances are integer L2² over int8 codes (exact int64),
- centroid updates are exact floor-divisions ``floor(sum / count)``
  (a rational with denominator <= corpus size is never within one
  double-ulp of an integer unless it IS one, so ``floor`` of the
  correctly-rounded double quotient equals the true floor),
- ties (equal distance) break to the smaller cluster id,
- empty clusters keep their previous centroid.

Scale shape: the quantized codes are barriered once
(``localCheckpoint``) and every Lloyd iteration is a map-only
assignment against BROADCAST-LITERAL centroids (k × dim integers —
driver-small by construction, the same class as IVF's centroid
relation) plus one partial-aggregable groupBy(cluster) shuffle of
k × dim running sums. No joins, no cross products; iterations scan the
materialized codes, not the raw corpus.

Reference scope: the reference has no clustering; this is part of the
training-data pipeline family (SemDeDup: Abbas et al. 2023) built on
the engine.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .partitioning import ensure_parallelism, local_frame
from .similarity import quantize_embeddings


def _assign_kernel(centroids: list[list[int]]):
    """Arrow-vectorized Lloyd assignment: argmin integer L2² against
    the (driver-small) centroid matrix, ties to the smaller cluster id
    (``argmin`` returns the FIRST minimum — the same rule as
    ``array_position(dists, array_min(dists))``).

    This is the NOTES "Arrow kernel twin" pattern: the per-row
    ``aggregate(zip_with(...))`` fold is interpreted (k folds × dim
    boxed ops per row), and because the centroid LITERALS change every
    iteration the whole-stage codegen of the assign+partial-agg stage
    recompiles per round. The kernel does the same exact int64 math in
    one einsum per Arrow batch, and keeps the iteration plans
    byte-identical above the UDF so codegen caches across rounds.
    Exactness: codes are int8 (|diff| ≤ 254, dist2 ≤ dim·64516), far
    inside int64 — bit-equal to the expression path (pytest-pinned).
    """
    C = np.asarray(centroids, dtype=np.int64)

    @F.pandas_udf("array<long>")
    def assign(q: pd.Series) -> pd.Series:
        vals = q.to_numpy()
        out: list = [None] * len(vals)
        ok = [i for i, v in enumerate(vals) if v is not None]
        if ok:
            M = np.stack([np.asarray(vals[i], dtype=np.int64) for i in ok])
            d = M[:, None, :] - C[None, :, :]
            dist = np.einsum("rkd,rkd->rk", d, d)
            cl = dist.argmin(axis=1)
            best = dist[np.arange(dist.shape[0]), cl]
            for j, i in enumerate(ok):
                out[i] = [int(cl[j]), int(best[j])]
        return pd.Series(out)

    return assign.asNondeterministic()


# Driver-local finish gate: run Lloyd's locally when the quantized
# corpus is provably driver-small (n × dim int cells; 2^22 cells is
# ~32 MB of int64 — the same "counted bound" discipline as
# graph.py's peel/pagerank finish). At 100 TB the gate never fires
# and the distributed path below is the real path; at round-bound
# tiny-corpus latency the local twin avoids (iters+1) job launches
# and a whole-stage-codegen recompile per iteration (the centroid
# LITERALS change every round, so each round's plan is new source).
# Its assignments come back as an Arrow-built frame (``local_frame``),
# which starts no Python worker.
LOCAL_FINISH_MAX_CELLS = 1 << 22


def _lloyd_local(
    M: "np.ndarray", seed: "np.ndarray", iters: int
) -> tuple["np.ndarray", "np.ndarray"]:
    """Driver-local Lloyd twin: the exact integer recurrence of the
    distributed path (int64 L2², argmin-first tie-break = smaller
    cluster id, floor-division centroid update, empty clusters keep
    their previous centroid) over the full collected code matrix.
    Pytest pins byte-equality against the distributed path.
    """
    C = seed.copy()
    k = C.shape[0]
    for _ in range(iters - 1):
        d = M[:, None, :] - C[None, :, :]
        dist = np.einsum("rkd,rkd->rk", d, d)
        cl = dist.argmin(axis=1)
        for c in range(k):
            mask = cl == c
            cnt = int(mask.sum())
            if cnt:  # empty cluster keeps previous centroid
                # int64 sums are exact (|code| <= 127); numpy //
                # is floor division, same as the Python-int update
                C[c] = M[mask].sum(axis=0) // cnt
    d = M[:, None, :] - C[None, :, :]
    dist = np.einsum("rkd,rkd->rk", d, d)
    cl = dist.argmin(axis=1)
    best = dist[np.arange(M.shape[0]), cl]
    return cl, best


def _dist2_expr(code_col: str, centroid: list[int]) -> str:
    """Integer L2² between an int-array column and a literal centroid
    as ONE SQL expression string (a py4j call per element would cost
    seconds of driver time at k*dim literals)."""
    arr = ",".join(str(int(c)) for c in centroid)
    return (
        f"aggregate(zip_with({code_col}, array({arr}), "
        f"(x, c) -> CAST((x - c) * (x - c) AS BIGINT)), "
        f"CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )


def kmeans_quantized(
    df: DataFrame,
    k: int = 8,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
    use_kernel: bool | None = None,
    local_finish: bool | None = None,
) -> DataFrame:
    """Lloyd's k-means over int8-quantized embeddings.

    Seeds are the first ``k`` vectors in ``id_col`` order (cluster i =
    i-th smallest id). Each iteration assigns every vector to the
    nearest centroid (integer L2², ties to the smaller cluster) and
    recomputes centroids as element-wise ``floor(sum/count)``; the
    final iteration's assignment is returned.

    ``dim`` defaults to the width of the first seed vector (free — the
    seeds are collected anyway), so any fixed-width corpus works
    without threading the dimension through. Rows whose vector is null,
    contains a null element, or is not ``dim`` wide are quarantined
    (excluded from seeding, assignment, and output) instead of
    poisoning the centroid update with nulls — and so that the Arrow
    kernel and the expression fold see identical input.

    ``use_kernel`` picks the Arrow assignment kernel (see
    :func:`_assign_kernel`) vs the pure-expression fold — identical
    integer results, pytest-pinned bit-equal. Default ``None`` chooses
    by ``k``: the interpreted fold costs k folds × dim boxed ops per
    row and loses to the einsum kernel as k grows, but at driver-small
    k the codegen'd expression beats the Python-worker round-trip —
    A/B-measured at sf0.1/k=8: expr ~2.0-2.3 s vs kernel ~2.4-2.7 s
    for the kmeans query, and the same ordering for both consumers.
    SemDeDup-scale k (~0.1-1% of n, thousands of centroids) always
    takes the kernel.

    ``local_finish`` runs the Lloyd recurrence driver-locally (numpy
    int64 twin, pytest-pinned byte-equal) when the quantized corpus is
    provably driver-small: default ``None`` counts the valid rows and
    gates on ``n × dim <= LOCAL_FINISH_MAX_CELLS`` (~32 MB of int64) —
    the same counted-bound escape hatch as the graph operators' peel
    finish. At 100 TB the gate never fires; at tiny-corpus scale it
    cuts (iters+1) job launches and the per-iteration codegen
    recompile that changing centroid literals force, and returns its
    assignments through ``local_frame`` (JVM-decoded Arrow, no Python
    worker).

    Output: (``id_col``, cluster, dist2) — cluster in [0, k), dist2 the
    integer squared distance to the winning centroid.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    if use_kernel is None:
        use_kernel = k >= 32
    # Quarantine filters stay BELOW the checkpoint (a filter above it
    # would be alias-substituted through the projection and evaluate
    # the quantize expression twice per row — measured +1.1 s at
    # sf0.1 — and probing an unmaterialized relation would run the
    # pipeline a second full pass), but the element-null PROBE is
    # materialized INTO the checkpoint as a boolean: `exists(_q,
    # x -> x IS NULL)` is an interpreted HOF, and a post-checkpoint
    # HOF filter re-interprets it on every iteration's re-scan of the
    # resident blocks ((iters+1) × n lambda evaluations — measured
    # ~+0.4 s at sf0.1/k=8). Paying it once at materialization and
    # filtering on the stored boolean keeps the re-scans codegen'd.
    codes = (
        quantize_embeddings(ensure_parallelism(df), vec_col, id_col)
        .select(F.col(id_col), F.col("qvec").cast("array<int>").alias("_q"))
        .select(
            F.col(id_col),
            "_q",
            # element-null vectors must quarantine too: the Arrow
            # kernel's np.asarray(..., dtype=int64) raises on a None
            # element (task failure) while the expression fold would
            # yield a null dist2 — flagging both shapes here keeps the
            # two assignment paths seeing identical input. Computed in
            # a select ABOVE the quantize projection so CollapseProject
            # (cheap-expression rule) cannot duplicate the quantize
            # transform into both references of `_q`.
            (
                F.col("_q").isNotNull()
                & ~F.exists("_q", lambda x: x.isNull())
            ).alias("_ok"),
        )
        .localCheckpoint(eager=False)
        .where(F.col("_ok"))
        .select(F.col(id_col), "_q")
    )
    if dim is None:
        first = codes.orderBy(F.col(id_col).asc()).limit(1).collect()
        if not first:
            raise ValueError("no non-null vectors to cluster")
        dim = len(first[0]["_q"])
    codes = codes.where(F.size("_q") == dim)

    seed_rows = codes.orderBy(F.col(id_col).asc()).limit(k).collect()
    if len(seed_rows) < k:
        raise ValueError(f"need at least k={k} vectors, got {len(seed_rows)}")
    centroids: dict[int, list[int]] = {
        i: list(r["_q"]) for i, r in enumerate(seed_rows)
    }

    if local_finish is None:
        # count() over the checkpointed codes is a trivial re-scan of
        # the resident blocks — the price of making the gate a COUNTED
        # bound rather than a guess
        local_finish = codes.count() * dim <= LOCAL_FINISH_MAX_CELLS
    if local_finish:
        rows = codes.select(id_col, "_q").collect()
        M = np.asarray([r[1] for r in rows], dtype=np.int64)
        seed = np.asarray([centroids[c] for c in range(k)], dtype=np.int64)
        cl, best = _lloyd_local(M, seed, iters)
        out_schema = T.StructType(
            [
                codes.schema[id_col],
                T.StructField("cluster", T.LongType(), True),
                T.StructField("dist2", T.LongType(), True),
            ]
        )
        return local_frame(
            df.sparkSession,
            [(r[0], int(c), int(b)) for r, c, b in zip(rows, cl, best)],
            out_schema,
        )

    def assign(cents: dict[int, list[int]]) -> DataFrame:
        if use_kernel:
            kern = _assign_kernel([cents[c] for c in range(k)])
            return codes.select(
                F.col(id_col), "_q", kern(F.col("_q")).alias("_cd")
            ).select(
                F.col(id_col),
                "_q",
                F.col("_cd")[0].alias("cluster"),
                F.col("_cd")[1].alias("dist2"),
            )
        dists = F.array(
            *[F.expr(_dist2_expr("_q", cents[c])) for c in range(k)]
        )
        return codes.select(
            F.col(id_col),
            "_q",
            dists.alias("_dists"),
        ).select(
            F.col(id_col),
            "_q",
            (F.expr("array_position(_dists, array_min(_dists))") - 1)
            .cast("long")
            .alias("cluster"),
            F.expr("array_min(_dists)").cast("long").alias("dist2"),
        )

    for _ in range(iters - 1):
        assigned = assign(centroids)
        sums = assigned.groupBy("cluster").agg(
            F.count(F.lit(1)).alias("_n"),
            *[
                F.sum(F.col("_q")[j].cast("long")).alias(f"_s{j}")
                for j in range(dim)
            ],
        )
        updated = dict(centroids)  # empty clusters keep previous centroid
        for row in sums.collect():
            n = row["_n"]
            updated[int(row["cluster"])] = [
                int(row[f"_s{j}"]) // n for j in range(dim)  # exact floor
            ]
        centroids = updated

    return assign(centroids).select(id_col, "cluster", "dist2")


def semdedup_prune(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the corpus, then inside
    each cluster drop every vector that has a semantic duplicate
    (cosine >= ``threshold``) with a smaller id — the smallest id of a
    duplicate group is its kept representative.

    The pairwise comparison is confined to clusters, which is the whole
    point of SemDeDup at scale: with ``k`` proportional to corpus size
    (the paper uses ~0.1-1% of n) the per-cluster membership stays
    bounded and the cluster-key self-equi-join is linear-ish — never an
    all-pairs product over the corpus. Cosines come from the Arrow pair
    scorer (bit-identical to the expression fold and the DuckDB
    oracle). Output: (``id_col``, cluster, is_kept).
    """
    from .similarity import _pair_cosine_kernel, norm

    asg = kmeans_quantized(df, k, iters, vec_col, id_col).select(
        id_col, "cluster"
    )
    vecs = df.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_vec"),
    ).withColumn("_nrm", norm(F.col("_vec")))
    # materialize (vec, norm, cluster) once; both prune-join sides and
    # the final keep-flag join read the barrier instead of re-running
    # the norm fold + assignment
    membr = vecs.join(asg, id_col).localCheckpoint(eager=False)

    a = membr.select(
        F.col(id_col).alias("a_id"),
        F.col("_vec").alias("_avec"),
        F.col("_nrm").alias("_anrm"),
        "cluster",
    )
    b = membr.select(
        F.col(id_col).alias("b_id"),
        F.col("_vec").alias("_bvec"),
        F.col("_nrm").alias("_bnrm"),
        "cluster",
    )
    score = _pair_cosine_kernel()
    dropped = (
        a.join(b, "cluster")
        .where(F.col("b_id") < F.col("a_id"))
        .select(
            "a_id",
            score(
                F.col("_avec"), F.col("_bvec"), F.col("_anrm"), F.col("_bnrm")
            ).alias("_cos"),
        )
        .where(F.col("_cos") >= threshold)
        .select(F.col("a_id").alias(id_col))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return (
        membr.select(id_col, "cluster")
        .join(dropped, id_col, "left")
        .select(
            id_col, "cluster", F.col("_dropped").isNull().alias("is_kept")
        )
    )


def label_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Per-label element-wise centroid over int8-quantized codes — the
    class-prototype computation behind semantic drift monitoring, IVF
    coarse-codebook seeding, and nearest-class-mean classification.

    Runs on the int8 codes (``quantize_embeddings``), not the raw
    floats, for two reasons that matter at 100 TB: the shuffle moves a
    quarter of the bytes, and the per-dimension running sums are exact
    int64 — the centroid is then ONE floor division per (label, dim),
    reproducible bit-for-bit on any engine (float mean ordering never
    enters the picture).

    Shape: posexplode to (label, dim, code) narrow rows, then a single
    partial-aggregable shuffle on (label, dim) — labels × dims keys
    (tiny), map-side combine collapses each split first.

    Output: label, dim, n_vecs, code_sum, centroid_milli where
    centroid_milli = floor(1000 * code_sum / n_vecs) as exact integer
    floor division (sign-correct for negative sums).
    """
    # quantization inlined (same math as quantize_embeddings) so the
    # label rides along in the projection — joining the codes back to
    # the labels on id would cost a full extra shuffle of the vectors.
    # Deliberately NOT transform(...floor...) before the explode: a
    # per-element HOF lambda is interpreted, and Catalyst duplicates it
    # into the explode's inferred filters (measured 3.2 s vs 0.5 s at
    # sf0.1). Exploding the raw array and quantizing with a scalar
    # post-explode expression keeps the math in whole-stage codegen.
    from .similarity import finite_vector

    max_abs = F.array_max(
        F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double")))
    )
    # same non-finite quarantine as quantize_embeddings (junk_check,
    # round 10): floor() saturates silently, so a junk NaN vector would
    # otherwise contribute fabricated all-zero codes to its label's
    # prototype instead of being excluded
    with_scale = df.where(finite_vector(F.col(vec_col))).select(
        F.col(label_col).cast("long").alias("label"),
        F.col(vec_col).alias("_v"),
        F.when(max_abs > 0.0, F.lit(127.0) / max_abs)
        .otherwise(F.lit(0.0))
        .alias("_scale"),
        # barrier: _scale is referenced once downstream, so
        # CollapseProject would inline the array_max HOF into the
        # post-explode projection — re-evaluating it per ELEMENT
    ).localCheckpoint(eager=False)
    exploded = with_scale.select(
        "label",
        "_scale",
        F.posexplode("_v").alias("dim", "_x"),
    ).select(
        "label",
        "dim",
        F.floor(F.col("_x").cast("double") * F.col("_scale") + F.lit(0.5))
        .cast("int")
        .alias("_code"),
    )
    agg = exploded.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.col("_code").cast("long")).alias("code_sum"),
    )
    # exact floor division a // b for b > 0:
    # (a - ((a % b) + b) % b) / b — Spark and DuckDB share trunc-%
    a = F.col("code_sum") * 1000
    b = F.col("n_vecs")
    fdiv = ((a - ((a % b) + b) % b) / b).cast("long")
    return agg.select(
        "label",
        F.col("dim").cast("long"),
        "n_vecs",
        "code_sum",
        fdiv.alias("centroid_milli"),
    )

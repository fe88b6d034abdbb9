"""Factor-N scale point for ``cosine_neardup_pairs(num_planes="auto")``
(VERDICT r9 next-round #1's done-criterion).

Round 9 measured the sign-LSH saturation: at the static 10-plane
default the factor-100 planted corpus saturates all 1024 buckets/band
and the query grows with exponent e=0.86 (287 s); the remedy
(planes ≈ log2(n) − 3, measured 18.5 s at 16 planes) lived only in
NOTES. Round 10 wired the remedy into the operator as
``num_planes="auto"``; THIS tool is the committed measurement that the
auto operating point actually removes the super-linear growth:

- small corpus: the sf0.1 embeddings with the contract's planted
  perturbed copies (dim 1 halved, id + 100000 — every vector has
  exactly one planted near-dup at cosine ≥ 0.98);
- big corpus: the scale_check factor-N blow-up's embeddings (copy i is
  the vector rotated by i positions: norm-preserving, decorrelated →
  planted density per vector matches sf0.1), planted the same way;
- both timed with ``num_planes="auto"`` (plan-build count → planes),
  and RECALL measured against the planted ground truth (a planted
  pair is (v, v+100000); recall = found/planted) so the speed claim
  is at matched recall, not bought with misses.

Usage::

    python tools/neardup_auto_scale.py [factor] [runs]

Runs in bench.py's session (local[$SPARK_GRAFT_CPUS], default: the CPUs
this process may run on).

Requires the scale_check blow-up for ``factor`` to exist (run
``python tools/scale_check.py <factor> <runs> exact_dedup`` first if
not). Prints one JSON line with times, resolved plane counts, recalls,
and the growth exponent.
"""

from __future__ import annotations

import json
import math
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402  (the shared session and timing loop)
from tools.scale_check import BIG, SF_SMALL, WORK  # noqa: E402

NEARDUP_ID_OFFSET = 100_000_000  # > any blown-up vec_id


def planted_corpus(spark, sf_dir: str):
    """embeddings + one perturbed copy per vector (dim 1 halved —
    exact in FP, cosine ≥ 0.98 against its source), as doubles."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    perturbed = emb.where(F.size("embedding") >= 1).select(
        (F.col("vec_id") + F.lit(NEARDUP_ID_OFFSET)).alias("vec_id"),
        F.concat(
            F.array(F.element_at("embedding", 1).cast("double") * F.lit(0.5)),
            F.transform(
                F.slice("embedding", 2, 63), lambda x: x.cast("double")
            ),
        ).alias("embedding"),
    )
    return base.unionAll(perturbed)


def measure(spark, sf_dir: str, runs: int) -> dict:
    if not isinstance(runs, int) or runs < 1:
        # ADVICE r10: runs=0 used to fall through to a NameError at the
        # result dict (n_pairs/best bind inside the loop) — fail loudly
        raise ValueError(f"runs must be a positive int, got {runs!r}")
    from pyspark.sql import functions as F

    from yandex_tracker_exporter_spark.operators.similarity import (
        auto_num_planes,
        cosine_neardup_pairs,
    )

    corpus = planted_corpus(spark, sf_dir).localCheckpoint(eager=True)
    n = corpus.count()
    planes = auto_num_planes(n)

    def run():
        return cosine_neardup_pairs(
            corpus, threshold=0.9, num_planes="auto", n_vectors=n
        )

    samples, n_pairs = bench.time_query(
        spark, lambda *_: run(), sf_dir, runs, "neardup"
    )
    best = min(b + e for b, e, _ in samples)
    # recall vs planted ground truth: every (v, v+OFFSET) pair
    pairs = run().where(
        F.col("b_id") - F.col("a_id") == NEARDUP_ID_OFFSET
    )
    found = pairs.count()
    planted = n // 2
    spark.catalog.clearCache()
    return {
        "n_vectors": n,
        "auto_planes": planes,
        "best_sec": round(best, 3),
        "n_pairs": n_pairs,
        "planted": planted,
        "planted_found": found,
        "planted_recall": round(found / planted, 5) if planted else None,
    }


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 2

    marker = os.path.join(WORK, "factor.txt")
    have = int(open(marker).read().strip()) if os.path.exists(marker) else None
    if have != factor or not os.path.exists(BIG):
        print(
            f"no factor-{factor} blow-up at {BIG} (found {have}); build it "
            "with tools/scale_check.py first",
            file=sys.stderr,
        )
        sys.exit(2)

    spark, _ = bench.start_session("yte-neardup-auto-scale")

    small = measure(spark, SF_SMALL, runs)
    print(f"small: {small}", flush=True)
    big = measure(spark, BIG, runs)
    print(f"big: {big}", flush=True)
    ratio = big["best_sec"] / small["best_sec"]
    out = {
        "factor": factor,
        "runs": runs,
        "small": small,
        "big": big,
        "ratio": round(ratio, 2),
        "exponent": round(math.log(ratio) / math.log(factor), 3),
    }
    with open(os.path.join(WORK, "neardup_auto.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()

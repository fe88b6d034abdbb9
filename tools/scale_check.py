"""Empirical scale-growth check (VERDICT r4 #5): measure how contract
queries scale from sf0.1 to a synthetic ~10x corpus.

The 100 TB story is plan-verified (bucketed equi-joins, no all-pairs,
partial aggregation) but bench only ever ran at 17 MB; this script
measures the growth EXPONENT: generate a deterministic 10x blow-up of
sf0.1 under /tmp, run a slow/representative query subset at both
scales, and report t_big / t_small per query. Near-linear (ratio ~10,
exponent ~1) is the pass bar; anything super-linear is a finding.

Blow-up construction (deterministic, join-consistent):
- region/nation stay single-copy (bounded dimensions).
- every fact table gets FACTOR copies with primary AND foreign keys
  shifted by copy*stride (strides larger than any real key, so copies
  never collide and every FK still resolves inside its copy).
- documents: copy 0 is verbatim; copy i>0 applies a PER-COPY BIJECTIVE
  character map (an affine permutation of the letter index, a*k+b mod
  26 with gcd(a,26)=1, plus a digit rotation — 312 distinct
  non-identity letter maps, stated here once as the code's source of
  truth; plain rotations give just 25), so the blow-up multiplies the
  corpus without
  multiplying the near-duplicate rate (10 verbatim copies of every doc
  would grow LSH-bucket pairs quadratically IN THE REPLICATION — a
  different experiment than scaling the corpus). A bijective char map
  preserves every shingle (in)equality WITHIN a copy — the near-dup
  structure per copy is exactly sf0.1's — while cross-copy shingles
  never match. The previous construction (suffix every token with _i)
  was subtly degenerate at high factors: the suffix appears at every
  token boundary of every doc in a copy, creating copy-UNIVERSAL
  shingles that dominate the MinHash argmin — at factor 100 a single
  band bucket held ~2,500 UNRELATED docs (vs 10 at sf0.1), 112M
  candidate pairs, and a 24 GB OOM that said nothing about the engine.
- embeddings: copy i rotates the vector by i positions — norm-
  preserving, and rotated vectors decorrelate, so the planted-pair
  density per vector stays what sf0.1 has.

Usage: python tools/scale_check.py [factor] [runs] [query ...]
Runs in bench.py's session (local[$SPARK_GRAFT_CPUS], default: the CPUs
this process may run on). Writes /tmp/yte_scale_check/result_c{cpus}.json
and prints a markdown table.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402  (the shared session and timing loop)

SF_SMALL = "/root/testdata/sf0.1"
WORK = "/tmp/yte_scale_check"
BIG = os.path.join(WORK, "sfbig")

KEY_SHIFTS = {
    # table -> {column: stride}; stride chosen >> max key at sf0.1
    "customer": {"c_custkey": 10_000_000},
    "supplier": {"s_suppkey": 10_000_000},
    "part": {"p_partkey": 10_000_000},
    "orders": {"o_orderkey": 100_000_000, "o_custkey": 10_000_000},
    "lineitem": {
        "l_orderkey": 100_000_000,
        "l_partkey": 10_000_000,
        "l_suppkey": 10_000_000,
    },
    "events": {"event_id": 100_000_000, "user_id": 10_000_000},
    "documents": {"doc_id": 10_000_000},
    "embeddings": {"vec_id": 10_000_000},
}

#: slow tail + the dedup/ANN family + representative SQL shapes
QUERY_SUBSET = [
    "knn_confusion",
    "copurchase_recs",
    "semdedup_prune",
    "kcore_3",
    "kmeans_clusters",
    "embedding_neardup",
    "dedup_labels",
    "component_sizes",
    "minhash_lsh_pairs",
    "prefix_jaccard_join",
    "simhash_hamming_pairs",
    "sorted_neighborhood",
    "exact_dedup",
    "ivf_topk",
    "lsh_bucket_topk",
    "cosine_topk",
    "split_leakage",
    "bm25_rank",
    "pricing_summary",
    "cycle_time_sessionize",
]


def build_big(spark, factor: int) -> None:
    from pyspark.sql import functions as F

    from yandex_tracker_exporter_spark.sources.tables import load_table

    os.makedirs(BIG, exist_ok=True)
    for t in ("region", "nation"):
        load_table(spark, SF_SMALL, t).write.mode("overwrite").parquet(
            f"{BIG}/{t}.parquet"
        )
    for t, shifts in KEY_SHIFTS.items():
        base = load_table(spark, SF_SMALL, t)
        copies = []
        for i in range(factor):
            c = base
            for col, stride in shifts.items():
                c = c.withColumn(col, F.col(col) + F.lit(i * stride))
            if t == "documents" and i > 0:
                # per-copy bijective char map — affine permutation of
                # the letter index; distinct-map bound and rationale in
                # the module docstring (the single statement of both).
                # Never token-suffixing, which creates copy-universal
                # shingles and degenerate LSH buckets.
                letters = "abcdefghijklmnopqrstuvwxyz"
                digits = "0123456789"
                units = [3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25, 1]
                a = units[i % 12]
                b = i // 12 + (1 if a == 1 else 0)  # never the identity
                mapped = "".join(
                    letters[(a * k + b) % 26] for k in range(26)
                )
                drot = i % 10 if i % 10 else 3
                src_alpha = letters + letters.upper() + digits
                dst_alpha = (
                    mapped + mapped.upper() + digits[drot:] + digits[:drot]
                )
                c = c.withColumn(
                    "text", F.translate(F.col("text"), src_alpha, dst_alpha)
                )
            if t == "embeddings" and i > 0:
                rot = i % 64
                c = c.withColumn(
                    "embedding",
                    F.concat(
                        F.slice("embedding", rot + 1, 64 - rot),
                        F.slice("embedding", 1, rot),
                    ),
                )
            copies.append(c)
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        out.repartition(16).write.mode("overwrite").parquet(f"{BIG}/{t}.parquet")
        print(f"built {t}", flush=True)


def time_queries(
    spark, qs, sf_dir: str, runs: int, subset: list[str] | None = None
) -> dict[str, float]:
    """Best-of-``runs`` seconds per query, through bench.py's timing loop
    (one un-timed warm run first)."""
    out: dict[str, float] = {}
    for name in subset or QUERY_SUBSET:
        samples, _ = bench.time_query(spark, qs[name], sf_dir, runs, f"scale:{name}")
        out[name] = round(min(b + e for b, e, _ in samples), 3)
        print(f"  {sf_dir.rsplit('/', 1)[-1]} {name}: {out[name]}s", flush=True)
        spark.catalog.clearCache()
        spark._jvm.System.gc()
    return out


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    # optional: restrict to named queries (re-measuring one operator
    # after a fix shouldn't cost the full 20-query double sweep)
    subset = sys.argv[3:] or None

    # the session helper honours $SPARK_GRAFT_CPUS, so the same blow-up
    # measures a core-count scaling ratio at the big SF
    spark, cpus = bench.start_session("yte-scale-check")
    import __spark_entry__ as m

    # Reuse an existing blow-up of the SAME factor (a factor-30 build
    # takes minutes — rebuilding it for every measurement batch would
    # force build+measure into one long run). The marker file records
    # the factor the on-disk corpus was built with.
    marker = os.path.join(WORK, "factor.txt")
    have = None
    if os.path.exists(marker):
        try:
            have = int(open(marker).read().strip())
        except ValueError:
            have = None
    if have != factor or not os.path.exists(BIG):
        # invalidate the marker BEFORE touching the corpus: an
        # interrupted rebuild must leave "no marker + partial data",
        # never "stale marker + partial data" (which a later run of the
        # marker's factor would silently reuse)
        if os.path.exists(marker):
            os.remove(marker)
        if os.path.exists(BIG):
            shutil.rmtree(BIG)
        build_big(spark, factor)
        os.makedirs(WORK, exist_ok=True)
        with open(marker, "w") as fh:
            fh.write(str(factor))
    else:
        print(f"reusing existing {factor}x blow-up at {BIG}", flush=True)
    qs = m.queries()
    print("timing small…", flush=True)
    small = time_queries(spark, qs, SF_SMALL, runs, subset)
    print("timing big…", flush=True)
    # fresh dedup-labels cache entry per sf_dir is automatic (keyed dict)
    big = time_queries(spark, qs, BIG, runs, subset)

    import math

    rows = []
    for name in subset or QUERY_SUBSET:
        ratio = big[name] / small[name] if small[name] > 0 else float("nan")
        # growth exponent vs the data factor: t_big/t_small = factor**e
        exp = math.log(ratio) / math.log(factor) if ratio > 0 else float("nan")
        rows.append((name, small[name], big[name], round(ratio, 2), round(exp, 2)))
    rows.sort(key=lambda r: -r[3])
    print(f"\n| query | t(sf0.1) | t({factor}x) | ratio | exponent |")
    print("|---|---|---|---|---|")
    for r in rows:
        print(f"| {r[0]} | {r[1]} | {r[2]} | {r[3]} | {r[4]} |")
    with open(os.path.join(WORK, f"result_c{cpus}.json"), "w") as fh:
        json.dump(
            {
                "factor": factor,
                "runs": runs,
                "cpus": cpus,
                "small": small,
                "big": big,
            },
            fh,
            indent=1,
        )
    spark.stop()


if __name__ == "__main__":
    main()

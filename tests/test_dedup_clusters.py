"""Connected-components dedup clustering: pairwise LSH output → cluster
labels → canonical representatives. Verified against a driver-side
union-find reimplementation (exact expected components), both on a
synthetic graph with multi-hop chains and on the real minhash pair
output of the sf0.001 corpus."""

from pyspark.sql import functions as F

from yandex_tracker_exporter_spark.operators.dedup import (
    canonical_representatives,
    duplicate_clusters,
    minhash_lsh_duplicates,
)


def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_clusters_match_union_find_on_chain_graph(spark):
    # chain 1-2-3-4 (diameter > 1 forces multiple propagation rounds),
    # triangle 10-11-12, isolated pair 20-21
    edges = [(2, 1), (2, 3), (4, 3), (10, 11), (11, 12), (10, 12), (20, 21)]
    pairs = spark.createDataFrame(edges, "a_id long, b_id long")
    got = {r.id: r.cluster_id for r in duplicate_clusters(pairs).collect()}
    assert got == _union_find(edges)
    assert got[4] == 1  # transitive: 4 reaches 1 through the chain


def test_canonical_representatives_collapse_corpus(spark):
    docs = spark.createDataFrame(
        [(i, f"text{i}") for i in (1, 2, 3, 4, 20, 21, 99)],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (4, 3), (20, 21)], "a_id long, b_id long"
    )
    kept = sorted(
        r.doc_id for r in canonical_representatives(docs, pairs).collect()
    )
    # chain {1,2,3,4} -> 1; {20,21} -> 20; unpaired 99 survives
    assert kept == [1, 20, 99]
    out = canonical_representatives(docs, pairs)
    assert out.columns == ["doc_id", "text"]


def test_clusters_on_real_minhash_pairs(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pairs = minhash_lsh_duplicates(docs, "text", "doc_id", threshold=0.5)
    edge_list = [(r.a_id, r.b_id) for r in pairs.collect()]
    if not edge_list:
        return  # corpus without near-dups: nothing to cluster
    got = {r.id: r.cluster_id for r in duplicate_clusters(pairs).collect()}
    assert got == _union_find(edge_list)


def test_dedup_labels_refresh_releases_blocks(spark, monkeypatch):
    """q_dedup_labels refreshes the session-scoped materialized labels;
    an evicted entry's checkpoint blocks must survive ONE refresh
    generation (an in-flight same-app consumer of the old labels must
    not lose its blocks mid-job — round-7 review) and be unpersisted by
    the NEXT refresh, not left in the block manager until GC (driver
    ADVICE r5 — unbounded-ish storage growth under repeated refresh).

    Round 8: the default CC path takes the counted-bound union-find
    finish at harness scale, so the labels relation is a LOCAL
    (blockless) relation and the lifecycle has nothing to manage — the
    machinery is pinned here by forcing the distributed loop, exactly
    what a >100k-edge corpus would run."""
    import functools

    import __spark_entry__ as entry_mod
    from yandex_tracker_exporter_spark import session
    from yandex_tracker_exporter_spark.operators import dedup as dedup_mod

    monkeypatch.setattr(
        entry_mod,
        "duplicate_clusters",
        functools.partial(dedup_mod.duplicate_clusters, local_finish_edges=0),
    )
    sf = "/root/testdata/sf0.001"
    q = entry_mod.queries()["dedup_labels"]
    key = (spark.sparkContext.applicationId, "dedup_labels", sf)
    # drop any memo entry built by earlier tests under the default path
    session._MEMO.pop(key, None)
    q(spark, sf).count()  # populate the memo
    first_ids = session.checkpoint_block_ids(session._MEMO[key])
    assert first_ids, "materialization must record its block-backed RDDs"
    # an unrelated relation checkpointed while the memo entry is live
    # (models a concurrent query on the same session) must NOT be
    # captured by the entry — block ids are plan-derived, not a
    # before/after getPersistentRDDs diff
    bystander = spark.range(100).localCheckpoint(eager=True)
    assert set(first_ids).isdisjoint(
        session.checkpoint_block_ids(bystander)
    )
    old_labels = entry_mod._dedup_labels(spark, sf)
    q(spark, sf).count()  # refresh 1: first entry parked, NOT freed
    live = spark.sparkContext._jsc.getPersistentRDDs()
    assert [rid for rid in first_ids if live.get(rid) is not None], (
        "one-generation grace: the old blocks must outlive one refresh"
    )
    # the old relation is still executable across the refresh boundary
    assert old_labels.count() > 0
    q(spark, sf).count()  # refresh 2: the retired generation is freed
    live = spark.sparkContext._jsc.getPersistentRDDs()
    still = [rid for rid in first_ids if live.get(rid) is not None]
    assert not still, f"retired entry left persistent RDDs: {still}"
    # the bystander's checkpoint blocks survived both evictions intact
    assert bystander.count() == 100
    by_ids = session.checkpoint_block_ids(bystander)
    assert all(live.get(rid) is not None for rid in by_ids)
    # the refreshed relation is intact and non-trivial
    assert q(spark, sf).count() > 0


def test_cc_local_finish_equals_distributed_and_cap_is_loud(spark):
    """Round 8: the counted-bound union-find finish must label exactly
    like the distributed min-label loop (long ids, string ids, chains,
    multiple components), and the distributed loop's iteration cap must
    raise on non-convergence instead of returning moving labels (a
    201-node path needs ~log-diameter rounds; 2 iterations cannot
    converge it)."""
    import pytest

    from yandex_tracker_exporter_spark.operators.dedup import (
        duplicate_clusters,
    )

    import random
    rng = random.Random(31)
    # random sparse graph + a long chain + an isolated pair
    pairs = [(rng.randrange(60), rng.randrange(60)) for _ in range(50)]
    pairs = [(a, b) for a, b in pairs if a != b]
    pairs += [(1000 + i, 1001 + i) for i in range(40)]  # 41-node chain
    pairs += [(5000, 5001)]
    df = spark.createDataFrame(pairs, "a_id long, b_id long")
    loc = sorted(
        (r["id"], r["cluster_id"]) for r in duplicate_clusters(df).collect()
    )
    # min-label propagation needs ~diameter rounds: give the 41-node
    # chain a sufficient budget on the forced-distributed twin
    dist = sorted(
        (r["id"], r["cluster_id"])
        for r in duplicate_clusters(
            df, local_finish_edges=0, max_iterations=64
        ).collect()
    )
    assert loc == dist
    # string ids through the local path
    sdf = spark.createDataFrame(
        [("b", "a"), ("c", "b")], "a_id string, b_id string"
    )
    assert sorted(
        (r["id"], r["cluster_id"]) for r in duplicate_clusters(sdf).collect()
    ) == [("a", "a"), ("b", "a"), ("c", "a")]
    # loud cap on the distributed loop
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "a_id long, b_id long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        duplicate_clusters(chain, max_iterations=2, local_finish_edges=0)


def test_lsh_pairs_cache_consumers_read_one_materialization(spark):
    """The shared LSH pairs cache (_lsh_pairs): q_minhash_pairs prices
    the one-time materialization (refresh), edit_distance_pairs and
    dedup_labels read steady-state. Results must be byte-identical to
    the uncached direct computation, and the second consumer must reuse
    the FIRST consumer's checkpointed relation (same memo entry)."""
    import __spark_entry__ as entry_mod
    from yandex_tracker_exporter_spark import session
    from yandex_tracker_exporter_spark.operators.dedup import (
        minhash_lsh_duplicates,
    )

    sf = "/root/testdata/sf0.001"
    key = (spark.sparkContext.applicationId, "lsh_pairs", sf)
    session._MEMO.pop(key, None)

    got_pairs = sorted(
        map(tuple, entry_mod.queries()["minhash_lsh_pairs"](spark, sf).collect())
    )
    entry_after_refresh = session._MEMO.get(key)
    assert entry_after_refresh is not None, "refresh must populate the memo"

    docs = entry_mod._t_wide(spark, sf, "documents")
    direct = sorted(
        tuple(r)
        for r in minhash_lsh_duplicates(docs, "text", "doc_id", threshold=0.5)
        .selectExpr("cast(a_id as long)", "cast(b_id as long)", "est_jaccard")
        .collect()
    )
    assert got_pairs == direct

    # steady-state consumer: edit_distance reads the SAME memo entry
    ed = entry_mod.queries()["edit_distance_pairs"](spark, sf)
    ed_rows = {(r[0], r[1]) for r in ed.collect()}
    assert session._MEMO.get(key) is entry_after_refresh
    assert ed_rows == {(a, b) for a, b, _ in direct}
    # every scored pair has a real distance (text joined on both sides)
    assert all(r["edit_distance"] is not None for r in ed.collect())

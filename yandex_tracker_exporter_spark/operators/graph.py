"""Distributed graph operators: triangle counting and PageRank.

Both are the join-based formulations that scale on Spark — message
passing expressed as equi-joins + partial-aggregable aggregations, never
adjacency matrices or driver-side graph state:

- ``triangle_count`` uses the degree-ordered orientation (count each
  triangle once at its lowest-degree vertex). Orientation bounds every
  node's out-degree by O(sqrt(|E|)) on real graphs, which bounds the
  wedge join — the standard trick that keeps the self-join from
  exploding on skewed-degree graphs at scale (MapReduce triangle
  counting, Suri & Vassilvitskii 2011).
- ``pagerank`` runs Lloyd-style synchronous iterations entirely in
  FIXED-POINT integer arithmetic (scaled by 10^9, floor division), so
  the iterative result is bit-for-bit reproducible on any engine — the
  same design as ``operators/clustering.kmeans_quantized``, letting a
  SQL oracle verify an iterative algorithm exactly. Each iteration is
  one join (ranks onto edges) + one partial-aggregable sum shuffle;
  ranks are localCheckpointed per round to cut the lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .partitioning import local_frame

#: fixed-point scale for PageRank ranks (9 decimal digits)
PR_SCALE = 1_000_000_000
#: damping factor as an exact rational: d = PR_D_NUM / PR_D_DEN
PR_D_NUM = 85
PR_D_DEN = 100


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Count triangles, attributed to each triangle's first vertex in
    degree order.

    ``edges`` is an undirected simple graph as (src, dst) pairs; the
    operator dedups and symmetrizes defensively. Orientation: each
    undirected edge {u, v} becomes u→v iff (deg(u), u) < (deg(v), v).
    Wedges (u→v, u→w) with v < w in orientation order close into a
    triangle iff v→w is also an edge — one equi-join to enumerate
    wedges, one semi-join to close them.

    Shuffles: degree agg (node keys), two joins on node keys. With the
    orientation, wedge volume is Σ outdeg(u)² ≤ |E|^1.5 worst-case and
    near-linear on power-law graphs — the property that makes this the
    100 TB formulation, vs. the unoriented wedge join which is
    Σ deg(u)² and detonates on hub nodes.

    Output: node, n_triangles (node is the apex = lowest-ordered vertex;
    nodes closing no triangle are absent).
    """
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .distinct()
        # e feeds the degree union (2 scans) and the orientation join;
        # without the barrier each consumer re-runs the upstream edge
        # derivation (often a fact-table self-join)
        .localCheckpoint(eager=False)
    )
    # degree over the undirected edge set
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient: lower (deg, id) → higher (deg, id)
    du = deg.select(F.col("n").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("deg").alias("dv"))
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
        # consumed three times (both wedge sides + the closing set)
        .localCheckpoint(eager=False)
    )
    e1 = oriented.select(F.col("s").alias("apex"), F.col("t").alias("w1"))
    e2 = oriented.select(F.col("s").alias("apex"), F.col("t").alias("w2"))
    wedges = e1.join(e2, "apex").where(F.col("w1") < F.col("w2"))
    closing = oriented.select(
        F.col("s").alias("w1"), F.col("t").alias("w2")
    ).unionAll(
        oriented.select(F.col("t").alias("w1"), F.col("s").alias("w2"))
    )
    triangles = wedges.join(closing, ["w1", "w2"], "left_semi")
    return triangles.groupBy("apex").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def _pagerank_local(rows, iterations: int) -> list | None:
    """Driver-side replay of the EXACT fixed-point integer recurrence
    (same floor divisions, same dangling-mass drop) over a collected
    (src, dst, w) edge list — bit-identical to the distributed loop,
    which is pure int64 arithmetic. Returns sorted (node, rank) pairs,
    or None when the edge list contains shapes whose semantics are
    defined by Spark's null handling rather than plain integer
    arithmetic (null src/dst/weight, or a source whose weights sum to
    <= 0, where Spark's null-skipping sum and null-yielding `div`
    apply) — the caller falls back to the distributed path so the two
    paths never diverge."""
    out_w: dict = {}
    nodes = set()
    for s, t, w in rows:
        if s is None or t is None or w is None:
            return None
        out_w[s] = out_w.get(s, 0) + w
        nodes.add(s)
        nodes.add(t)
    if any(v <= 0 for v in out_w.values()):
        return None
    n = len(nodes)
    base = PR_SCALE // n
    teleport = (PR_D_DEN - PR_D_NUM) * PR_SCALE // (PR_D_DEN * n)
    def _div(a: int, b: int) -> int:
        # Spark SQL `div` truncates toward zero; Python // floors. They
        # agree on the non-negative common case but not on negative
        # user-provided weights — replay truncation exactly.
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    ranks = {v: base for v in nodes}
    for _ in range(iterations):
        contribs: dict = {}
        for s, t, w in rows:
            c = _div(ranks[s] * w, out_w[s])
            contribs[t] = contribs.get(t, 0) + c
        ranks = {
            v: teleport + _div(PR_D_NUM * contribs.get(v, 0), PR_D_DEN)
            for v in nodes
        }
    return sorted(ranks.items())


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    iterations: int = 8,
    local_finish_edges: int = 100_000,
) -> DataFrame:
    """Weighted PageRank in exact fixed-point integer arithmetic.

    rank_0(v)   = floor(SCALE / N)
    contrib(u→v) = floor(rank_i(u) * w(u,v) / W_out(u))
    rank_{i+1}(v) = floor((1-d) * SCALE / N)
                    + floor(d_num * Σ contribs / d_den)

    Every step is int64 (ranks ≤ SCALE, edge weights bounded), so any
    engine replays the iteration bit-for-bit — the oracle unrolls the
    same recurrence as a CTE chain. Dangling mass is dropped (nodes
    with no out-edges contribute nothing), the conventional simplified
    treatment.

    Per iteration: ranks ⋈ edges on src (node-key shuffle unless edges
    are pre-partitioned by src), then a partial-aggregable sum on dst.
    At 100 TB the edge relation is the big side and stays put — only
    the rank vector (one int64 per node) moves, and ``localCheckpoint``
    truncates the growing lineage each round.
    """
    w = (
        F.col(weight).cast("long")
        if weight
        else F.lit(1).cast("long")
    )
    # An edge with a NULL endpoint or a NULL/NaN weight cannot
    # participate at all (the asof-join posture: NULL keys never
    # match; the funnel posture: a NaN measure cannot participate).
    # Without the filter, NULL survived the node-set distinct() and
    # INFLATED n_nodes — base and teleport depend on N, so one junk
    # edge changed EVERY real node's rank (measured: 111124608 →
    # 74083072 on a 4-node graph) and a NULL node was emitted; a
    # null-weight edge half-participated (its endpoints entered the
    # node set but its mass flow was null-skipped), and a NaN weight
    # silently cast to 0 instead of being rejected.
    usable = F.col(src).isNotNull() & F.col(dst).isNotNull()
    if weight:
        usable = usable & F.col(weight).isNotNull()
        if dict(edges.dtypes).get(weight) in ("float", "double"):
            usable = usable & ~F.isnan(F.col(weight))
    e = (
        edges.where(usable)
        .select(F.col(src).alias("_s"), F.col(dst).alias("_t"), w.alias("_w"))
        .localCheckpoint(eager=False)  # scanned by out_w, e_norm, nodes
    )
    # Local finish (same rationale as kcore's): the iteration moves
    # only node/edge-sized integer relations, and when the AGGREGATED
    # edge list is driver-small — e.g. a nation-level trade graph of a
    # few hundred rows distilled from the fact join — 8 chained shuffle
    # rounds are pure plan overhead. The fact-scale derivation still
    # runs in Spark; only the exact int64 recurrence (bit-identical by
    # construction) replays on the driver, and its ranks come back as
    # an Arrow-built frame (``local_frame``: no Python worker). 0
    # disables.
    if local_finish_edges and e.count() <= local_finish_edges:
        rows = [(r[0], r[1], r[2]) for r in e.collect()]
        local = _pagerank_local(rows, iterations)
        if local is not None:
            schema = T.StructType(
                [
                    T.StructField("node", e.schema["_s"].dataType),
                    T.StructField("rank_e9", T.LongType()),
                ]
            )
            return local_frame(e.sparkSession, local, schema)
        # null keys/weights or non-positive out-weight sums: semantics
        # belong to Spark's null handling — take the distributed path
    nodes = (
        e.select(F.col("_s").alias("node"))
        .unionAll(e.select(F.col("_t").alias("node")))
        .distinct()
        # referenced by every iteration's left join: without the eager
        # barrier the full upstream edge derivation (typically a fact
        # join) re-executes once per iteration
        .localCheckpoint(eager=True)
    )
    n_nodes = nodes.count()
    base = PR_SCALE // n_nodes
    teleport = (PR_D_DEN - PR_D_NUM) * PR_SCALE // (PR_D_DEN * n_nodes)

    out_w = e.groupBy("_s").agg(F.sum("_w").alias("_wout"))
    e_norm = e.join(out_w, "_s").localCheckpoint(eager=False)

    ranks = nodes.select("node", F.lit(base).cast("long").alias("rank"))
    for _ in range(iterations):
        contribs = (
            e_norm.join(
                ranks.select(F.col("node").alias("_s"), "rank"), "_s"
            )
            .select(
                F.col("_t").alias("node"),
                # integer `div`, never double `/`+floor: the double
                # quotient can round across an integer boundary
                F.expr("(rank * _w) div _wout").alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").alias("_in"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                F.expr(
                    f"CAST({teleport} AS BIGINT) + "
                    f"(({PR_D_NUM} * coalesce(_in, CAST(0 AS BIGINT))) "
                    f"div {PR_D_DEN})"
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks.select("node", F.col("rank").alias("rank_e9"))


def _peel_local(pairs, k: int, max_rounds: int) -> dict:
    """Driver-side synchronous peeling over a collected edge list —
    EXACTLY the distributed recurrence (each round keeps nodes whose
    degree within the current alive set is >= k, bounded by
    ``max_rounds``), so the two paths are interchangeable. Returns
    {node: core_deg} after the final degree projection."""
    edges = {(u, v) for u, v in pairs if u != v}
    alive = {n for edge in edges for n in edge}

    def _deg(nodes):
        d: dict = {}
        for u, v in edges:
            if u in nodes and v in nodes:
                d[u] = d.get(u, 0) + 1
                d[v] = d.get(v, 0) + 1
        return d

    done = 0
    converged = not alive
    while done < max_rounds:
        deg = _deg(alive)
        nxt = {n for n, dd in deg.items() if dd >= k}
        done += 1
        if nxt == alive:
            converged = True
            break
        alive = nxt
    if not converged:
        # same loud-cap contract as the distributed loop (ADVICE r7):
        # a silent superset would diverge from the uncapped SQL oracle
        raise RuntimeError(
            f"kcore did not converge within {max_rounds} rounds "
            f"(local finish); raise `rounds`"
        )
    deg = _deg(alive)
    return {n: d for n, d in deg.items() if d >= k}


def kcore(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 64,
    src: str = "src",
    dst: str = "dst",
    local_finish_edges: int = 100_000,
) -> DataFrame:
    """k-core decomposition by synchronous peeling: repeatedly delete
    every node whose degree in the surviving subgraph is < k; what
    remains is the k-core — the standard cohesion filter (spam/bot
    subgraph mining, community seeding) between per-node degree and
    full community detection.

    The peeling loop runs until a round removes no nodes (the true
    fixpoint — each convergence check is one count() over the
    checkpointed node-sized alive vector, driver-small), bounded by
    ``rounds`` as a safety cap. THE CAP IS LOUD (ADVICE r7): a graph
    whose peeling exhausts ``rounds`` without converging RAISES
    RuntimeError instead of returning a silent superset — the SQL
    oracle peels to the UNCAPPED fixpoint (recursive CTE), so a capped
    superset would be an invisible engine/oracle divergence. The
    default 64 covers any graph whose peeling depth is < 64, and the
    early-exit means the common case stops as soon as the alive count
    is stable (ADVICE r4). Differential brute-force tests pin both
    paths; ``tests/test_graph_temporal.py`` pins the raise.

    Scale shape per round: the alive-node vector (one id per node)
    drives two semi-joins and one partial-aggregable degree count —
    only node-sized relations move, exactly like the pagerank rank
    vector. Two throughput measures for deep peels (a long-tail graph
    can need dozens of synchronous rounds — the per-round job overhead,
    not data volume, dominates once the bulk is gone):

    - **edge compaction** between convergence blocks: the edge list is
      re-filtered to the induced surviving subgraph, so later rounds
      scan the shrinking core instead of the full fact-scale relation
      (peeling on the induced subgraph is the same recurrence — edges
      to dead nodes never count toward a degree);
    - **local finish**: once the compacted edge list fits the driver
      comfortably (``local_finish_edges`` collected Row tuples, ~100 B
      each as Python objects — the 100k default is ~10 MB and keeps
      the O(E)-per-round pure-Python peel to milliseconds; 0
      disables), the remaining rounds run as a driver-side dict peel of
      the SAME bounded synchronous recurrence — the AQE-style shift to
      a local strategy when the distributed plan's fixed overhead
      exceeds the data. Measured at sf0.1 (25k-edge co-purchase graph,
      25-round peel): 5.4 s of round-trip jobs → ~0.9 s. The core
      comes back as an Arrow-built frame (``local_frame``), so the
      finish starts no Python worker: built from a Python list it was
      one hidden PythonRDD job, ~1.5 s on a session's first call.

    Output: (node, core_deg) for k-core members, with their degree
    inside the core.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("_u"),
            F.greatest(F.col(src), F.col(dst)).alias("_v"),
        )
        .where(F.col("_u") != F.col("_v"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def _local_finish(e_df: DataFrame, remaining: int) -> DataFrame:
        pairs = [(r[0], r[1]) for r in e_df.collect()]
        core = _peel_local(pairs, k, remaining)
        schema = T.StructType(
            [
                T.StructField("node", e_df.schema["_u"].dataType),
                T.StructField("core_deg", T.LongType()),
            ]
        )
        return local_frame(e_df.sparkSession, sorted(core.items()), schema)

    if local_finish_edges and e.count() <= local_finish_edges:
        return _local_finish(e, rounds)

    alive = (
        e.select(F.col("_u").alias("node"))
        .unionAll(e.select(F.col("_v").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _degrees(alive_df: DataFrame) -> DataFrame:
        live = (
            e.join(alive_df.select(F.col("node").alias("_u")), "_u", "leftsemi")
            .join(alive_df.select(F.col("node").alias("_v")), "_v", "leftsemi")
        )
        return (
            live.select(F.col("_u").alias("node"))
            .unionAll(live.select(F.col("_v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )

    # Convergence check every TWO peeling rounds: the rounds inside a
    # block chain lazily (one job per block — the count is the
    # materializing action; an eager checkpoint would double the job
    # count), and since the alive set shrinks monotonically, an equal
    # count across a block proves no round inside it removed anything —
    # the fixpoint. Checking every round was measured to cost one full
    # job of per-job overhead per round at harness scale for no extra
    # safety.
    prev_n = alive.count()
    done = 0
    converged = prev_n == 0
    while done < rounds:
        step = min(2, rounds - done)
        for _ in range(step):
            deg = _degrees(alive)
            alive = (
                deg.where(F.col("deg") >= k)
                .select("node")
                .localCheckpoint(eager=False)
            )
        done += step
        n = alive.count()
        if n == prev_n:
            # no node removed in the block ⇒ fixpoint
            converged = True
            break
        prev_n = n
        # Edge compaction between blocks: drop every edge with a dead
        # endpoint so later rounds' semi-joins run against the
        # shrinking INDUCED subgraph instead of the original edge list.
        # Peeling on the induced subgraph is the same recurrence
        # (edges to dead nodes never count toward a degree), so this
        # is result-neutral — but on deep peels most of the graph dies
        # in the first blocks, and every subsequent round's dominant
        # cost is the edge-side scan (measured at sf0.1 after the
        # fixpoint promotion: 5.4 s → ~2 s solo). At 100 TB this is
        # the difference between rounds that touch the full fact-scale
        # edge relation forever and rounds that touch only the
        # surviving core's edges.
        e = (
            e.join(alive.select(F.col("node").alias("_u")), "_u", "leftsemi")
            .join(alive.select(F.col("node").alias("_v")), "_v", "leftsemi")
            .localCheckpoint(eager=False)
        )
        # the count materializes the compacted checkpoint (work the
        # next block would do anyway) and gates the local finish
        if local_finish_edges and e.count() <= local_finish_edges:
            return _local_finish(e, rounds - done)
    if not converged:
        # LOUD cap (ADVICE r7): the SQL oracle peels to the uncapped
        # fixpoint, so a capped superset would be a silent
        # engine/oracle divergence on any graph whose peeling depth
        # exceeds `rounds`. Raising makes the caller raise the cap
        # instead of shipping a superset as "the k-core".
        raise RuntimeError(
            f"kcore did not converge within {rounds} rounds "
            f"(alive={prev_n}); raise `rounds`"
        )
    return (
        _degrees(alive)
        .where(F.col("deg") >= k)
        .select("node", F.col("deg").alias("core_deg"))
    )


def degree_assortativity_moments(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree-assortativity moments: the exact int64 sums from which
    Pearson's r over edge-endpoint degrees derives (Newman 2002) — is
    this graph hub-to-hub (assortative) or hub-to-leaf? Same
    int64-moments-then-one-float-expression discipline as
    regression_stats, so any engine agrees bit-for-bit and the final r
    is a single fixed-order double expression.

    Each undirected edge contributes BOTH orientations (the standard
    symmetrization). One degree aggregation + one edge join per side +
    one global moment rollup — all partial-aggregable.

    Output (single row): m (directed half-edges), sx, sy, sxx, syy,
    sxy, r (double).
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("_u"),
            F.greatest(F.col(src), F.col(dst)).alias("_v"),
        )
        .where(F.col("_u") != F.col("_v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # barrier (r12, guide §2.4): deg feeds BOTH endpoint joins — each
    # broadcast build re-ran the union+aggregation over the edge
    # checkpoint without it. Node-sized relation; computed once now.
    deg = (
        e.select(F.col("_u").alias("node"))
        .unionAll(e.select(F.col("_v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=False)
    )
    both = e.unionAll(e.select(F.col("_v").alias("_u"), F.col("_u").alias("_v")))
    joined = (
        both.join(deg.select(F.col("node").alias("_u"), F.col("deg").alias("dx")), "_u")
        .join(deg.select(F.col("node").alias("_v"), F.col("deg").alias("dy")), "_v")
    )
    m = joined.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
    )
    num = (
        F.col("m").cast("double") * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    )
    denx = (
        F.col("m").cast("double") * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    deny = (
        F.col("m").cast("double") * F.col("syy").cast("double")
        - F.col("sy").cast("double") * F.col("sy").cast("double")
    )
    return m.select(
        "m",
        "sx",
        "sy",
        "sxx",
        "syy",
        "sxy",
        (num / F.sqrt(denx * deny)).alias("r"),
    )

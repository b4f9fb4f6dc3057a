"""Graph operators over the order bipartite graph (customer ⟷ supplier).

The reference's state-store engine is the substrate for iterative
Spark jobs (its end-to-end tests drive mapGroupsWithState folds over a
user graph of events); the batch-graph analogs a migrating user runs —
connected components (``dedup.py:q28e``, large-star/small-star) and
PageRank (here) — must come with the same correctness story as every
relational op.

PageRank is the canonical "iterative = driver loop of Spark jobs"
algorithm: one shuffle join + one aggregation per iteration (exactly
Pregel's superstep), with the rank vector re-used across iterations.
Floating-point PageRank is NOT cross-engine reproducible (the per-target
contribution sum is shuffle-order-dependent), so this implementation
runs in scaled-integer arithmetic: ranks are integers (SCALE = 1e6),
per-edge contribution is ``rank DIV out_degree`` (integer division,
deterministic), and the damping update is ``(15*SCALE + 85*contrib) DIV
100`` — every operation exact and associative, so Spark and DuckDB agree
bit-for-bit at any parallelism. The integer truncation error (≤1e-6 per
edge per iteration) is far below any ranking-relevant signal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_state_provider_spark.checkpointing import truncate
from spark_state_provider_spark.operators.registry import register
from spark_state_provider_spark.tables import load_table

_SCALE = 1_000_000
_ITERS = 2  # fixed so the SQL oracle can unroll the same two supersteps

_PAGERANK_ORACLE = f"""
WITH pairs AS (
    SELECT DISTINCT o_custkey AS c, l_suppkey AS s
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
edges AS (
    SELECT 'C' || c AS src, 'S' || s AS dst FROM pairs
    UNION ALL
    SELECT 'S' || s AS src, 'C' || c AS dst FROM pairs),
nodes AS (SELECT DISTINCT src AS id FROM edges),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src),
r0 AS (SELECT id, CAST({_SCALE} AS BIGINT) AS rank FROM nodes),
c1 AS (
    SELECT e.dst AS id, sum(r.rank // g.d) AS contrib
    FROM edges e JOIN r0 r ON e.src = r.id JOIN deg g ON g.src = e.src
    GROUP BY e.dst),
r1 AS (
    SELECT n.id,
           CAST((15 * {_SCALE} + 85 * coalesce(c1.contrib, 0)) // 100
                AS BIGINT) AS rank
    FROM nodes n LEFT JOIN c1 ON n.id = c1.id),
c2 AS (
    SELECT e.dst AS id, sum(r.rank // g.d) AS contrib
    FROM edges e JOIN r1 r ON e.src = r.id JOIN deg g ON g.src = e.src
    GROUP BY e.dst),
r2 AS (
    SELECT n.id,
           CAST((15 * {_SCALE} + 85 * coalesce(c2.contrib, 0)) // 100
                AS BIGINT) AS rank
    FROM nodes n LEFT JOIN c2 ON n.id = c2.id)
SELECT id AS node_id, rank AS rank_scaled FROM r2
"""


@register("q74_pagerank", oracle=_PAGERANK_ORACLE, families=("bench",))
def q74_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank (2 supersteps, damping 0.85) over the
    bidirectional customer⟷supplier graph derived from orders⋈lineitem.

    Scale shape per superstep: edges join the rank vector on src (both
    sides hash-partitioned on the same key — at 100 TB you'd pre-partition
    edges once and every superstep reuses that exchange), aggregate
    contributions by dst (map-side partial sums of exact integers), and a
    left join back to the node list restores dangling/teleport-only
    nodes. The driver loop holds only DataFrame handles, never data — the
    rank vector itself stays distributed. Iteration count is the
    convergence budget: for ranking-quality use, ~10-20 supersteps; here
    2, matching the unrolled SQL oracle superstep-for-superstep.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pairs = (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    cnode = F.concat(F.lit("C"), F.col("o_custkey").cast("string"))
    snode = F.concat(F.lit("S"), F.col("l_suppkey").cast("string"))
    edges = (
        pairs.select(cnode.alias("src"), snode.alias("dst"))
        .unionAll(pairs.select(snode.alias("src"), cnode.alias("dst")))
    )
    # The edge set and node list are loop invariants — persist them so each
    # superstep reuses the materialized partitions instead of re-deriving
    # the distinct-pairs shuffle (at 100 TB: persist to MEMORY_AND_DISK or
    # checkpoint; same principle).
    nodes = edges.select(F.col("src").alias("id")).distinct().persist()
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    edges_deg = edges.join(deg, "src").persist()

    ranks = nodes.select("id", F.lit(_SCALE).cast("long").alias("rank"))
    for _ in range(_ITERS):
        contrib = (
            edges_deg.join(ranks, edges_deg.src == ranks.id)
            .select(
                F.col("dst").alias("cid"),
                F.expr("rank DIV d").alias("share"),
            )
            .groupBy("cid")
            .agg(F.sum("share").alias("contrib"))
        )
        ranks = nodes.join(contrib, nodes.id == contrib.cid, "left_outer").select(
            "id",
            F.expr(
                f"CAST((15 * {_SCALE} + 85 * coalesce(contrib, 0)) DIV 100"
                " AS BIGINT)"
            ).alias("rank"),
        )
    return ranks.select(
        F.col("id").alias("node_id"), F.col("rank").alias("rank_scaled")
    )


# ---------------------------------------------------------------------------
# q110 — BFS shortest-path distances: the traversal member of the graph
# family (q74 ranks, q28e clusters, this one measures reach). Level-
# synchronous BFS is the canonical bounded-round Pregel traversal: each
# round expands the current frontier through ONE edge join and anti-joins
# the already-visited set, so round k's cost is |frontier_k| ⋈ edges —
# never the whole graph re-walked — and level order guarantees first
# visit = shortest distance (no min-reduction needed). Rounds are FIXED
# (_BFS_MAX), so the oracle is a depth-bounded recursive CTE, and on this
# dense bipartite graph the horizon covers everything reachable.
# ---------------------------------------------------------------------------

_BFS_MAX = 4
_BFS_SOURCES = ("C1", "C2")
# frontier/visited sets at or below this row count broadcast into the
# per-round joins (a few MB of node ids); larger frontiers fall back to
# shuffle joins against the persisted src-partitioned edge list
_BFS_BROADCAST_MAX = 2_000_000


@register(
    "q110_bfs_distances",
    oracle=f"""
    WITH RECURSIVE pairs AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    edges AS (
        SELECT 'C' || c AS src, 'S' || s AS dst FROM pairs
        UNION ALL
        SELECT 'S' || s AS src, 'C' || c AS dst FROM pairs),
    reach AS (
        SELECT id, 0 AS d
        FROM (VALUES {", ".join(f"('{s}')" for s in _BFS_SOURCES)}) v(id)
        UNION
        SELECT e.dst, r.d + 1
        FROM reach r JOIN edges e ON e.src = r.id
        WHERE r.d < {_BFS_MAX}
    )
    SELECT id, CAST(min(d) AS BIGINT) AS dist
    FROM reach GROUP BY id
    """,
    families=("bench",),
)
def q110_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest-path distance (≤ {_BFS_MAX} hops) from the source
    customers {_BFS_SOURCES} to every reachable node of the order graph.

    Scale shape: per round, one equi-join of the FRONTIER (not the
    visited set, not the graph) against the edge list plus one anti-join
    against visited; the edge list is computed once, hash-partitioned on
    src, and persisted. The frontier count — already in hand from the
    round's emptiness probe — drives an explicit size-adaptive join
    strategy: while frontier and visited stay under _BFS_BROADCAST_MAX
    rows they BROADCAST, so the persisted edge partitions are probed
    map-side and never re-shuffled (the profiled dominant cost: without
    the hint Spark re-exchanged all edges every round, because a
    checkpoint-backed frontier has no size statistics for AQE to act
    on). Past the threshold the joins fall back to shuffles that reuse
    the edges' persisted partitioning. Fixed round count keeps the
    driver loop bounded (the q74/q50 discipline) and makes the
    traversal SQL-expressible for the oracle.
    """
    edges = _bfs_edges(spark, sf_dir)
    dist = spark.createDataFrame(
        [(s, 0) for s in _BFS_SOURCES], "id string, dist bigint"
    )
    frontier, n_frontier, n_dist = dist, len(_BFS_SOURCES), len(_BFS_SOURCES)
    for k in range(1, _BFS_MAX + 1):
        fr = (
            F.broadcast(frontier)
            if n_frontier <= _BFS_BROADCAST_MAX
            else frontier
        )
        seen = F.broadcast(dist) if n_dist <= _BFS_BROADCAST_MAX else dist
        nxt = (
            fr.join(edges, fr.id == edges.src)
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(seen, "id", "left_anti")
            .select("id", F.lit(k).cast("long").alias("dist"))
        )
        # ONE job per round: the lazy checkpoint materializes under the
        # count() that also answers the emptiness probe AND feeds the next
        # round's broadcast decision. dist itself is a union of
        # already-truncated frontiers (bounded rounds ⇒ bounded plan), so
        # it needs no re-checkpoint of the growing visited set.
        nxt = truncate(nxt, eager=False)
        n_frontier = nxt.count()
        if n_frontier == 0:
            break
        n_dist += n_frontier
        dist = dist.unionByName(nxt)
        frontier = nxt
    return dist


_BFS_EDGES_CACHE: dict = {}


def _bfs_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """src-partitioned deduped bidirectional edge list, persisted once per
    (session, sf_dir) — the loop-invariant the BFS rounds reuse (same
    materialize-once policy as ``_lpa_graph``)."""
    from pyspark.storagelevel import StorageLevel

    from spark_state_provider_spark.dfcache import get_or_build

    def build() -> DataFrame:
        o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_suppkey"
        )
        pairs = o.join(li, o.o_orderkey == li.l_orderkey).select(
            F.concat(F.lit("C"), F.col("o_custkey")).alias("c"),
            F.concat(F.lit("S"), F.col("l_suppkey")).alias("s"),
        )
        # dedupe AFTER the src repartition: hashpartitioning(src) satisfies
        # the (src, dst) clustering requirement, so dropDuplicates adds no
        # exchange — one shuffle of the raw edge stream instead of a distinct
        # shuffle followed by a repartition shuffle
        return (
            pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
            .unionByName(
                pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
            )
            .repartition("src")
            .dropDuplicates(["src", "dst"])
            .persist(StorageLevel.MEMORY_AND_DISK)
        )

    return get_or_build(_BFS_EDGES_CACHE, spark, ("bfs_edges", sf_dir), build)


# ---------------------------------------------------------------------------
# q133 — triangle enumeration over the near-duplicate graph (q28b's verified
# LSH pairs as edges). Triangles in a dedup graph are the strongest signal
# of a true duplicate CLUSTER (A~B, B~C, and A~C independently verified) vs
# a chain of borderline pairs — cluster-quality audits count them before
# trusting transitive-closure clustering (q28e).
# ---------------------------------------------------------------------------


def _triangle_oracle() -> str:
    from spark_state_provider_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        _DUCK_LSH_CHAIN,
        _DUCK_SALTS,
        _DUCK_TRI,
    )

    return f"""
    WITH {_DUCK_TRI},
    salts AS ({_DUCK_SALTS}),
    {_DUCK_LSH_CHAIN},
    pr AS (
        SELECT i.id_a, i.id_b
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.id_a
        JOIN sizes sb ON sb.doc_id = i.id_b
        WHERE CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter)
              >= {JACCARD_THRESHOLD}
    )
    SELECT e1.id_a AS id_a, e1.id_b AS id_b, e2.id_b AS id_c
    FROM pr e1
    JOIN pr e2 ON e2.id_a = e1.id_b
    JOIN pr e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
    """


@register("q133_dup_graph_triangles", oracle=_triangle_oracle(), families=("bench",))
def q133_dup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enumerate triangles (id_a < id_b < id_c) in the verified near-dup
    pair graph.

    The edge list (id_a < id_b, so every triangle is generated exactly
    once in canonical orientation) comes from the full q28b pipeline; the
    enumeration is the standard two-join wedge-close: edges ⋈ edges on
    the shared middle vertex, then a semi-join-shaped probe for the
    closing edge. At 100 TB dedup-graph scale the classical refinement
    applies unchanged: orient edges from low-degree to high-degree
    endpoint first (degree ordering bounds wedge counts by arboricity),
    then the same two equijoins — both are plain shuffles on vertex keys,
    no state, no iteration.
    """
    from spark_state_provider_spark.operators.dedup import _pairs_persisted

    pr = _pairs_persisted(spark, sf_dir)
    e1 = pr.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    e2 = pr.select(F.col("id_a").alias("b"), F.col("id_b").alias("c"))
    e3 = pr.select(F.col("id_a").alias("a"), F.col("id_b").alias("c"))
    return (
        e1.join(e2, "b")
        .join(e3, ["a", "c"])
        .select(
            F.col("a").alias("id_a"),
            F.col("b").alias("id_b"),
            F.col("c").alias("id_c"),
        )
    )


# ---------------------------------------------------------------------------
# q152 — label propagation communities (min-label, fixed supersteps).
#
# The third classical iterative-graph shape after connected components
# (dedup.py:q28e, large-star/small-star) and PageRank (q74): every node
# starts as its own label and each superstep adopts the minimum label in
# its closed neighborhood. Min is exact and associative, so unlike the
# usual "highest-frequency label" LPA tie-breaking, the result is fully
# deterministic at any parallelism and the SQL oracle can unroll the same
# supersteps. On the bipartite customer⟷supplier graph this converges to
# connected components; the value of the operator is the superstep
# machinery itself (frontier-free full-relaxation rounds) — bounded
# rounds give k-hop community approximations on graphs whose diameter
# exceeds the budget.
# ---------------------------------------------------------------------------

_LPA_ITERS = 3
# label frames at or below this row count broadcast into the superstep
# join (same role/threshold as _BFS_BROADCAST_MAX: a few MB of ids);
# larger graphs fall back to the shuffle join
_LPA_BROADCAST_MAX = 2_000_000


def _lpa_oracle() -> str:
    rounds = []
    prev = "l0"
    for r in range(1, _LPA_ITERS + 1):
        rounds.append(
            f"""l{r} AS (
        SELECT p.id, least(p.lab, coalesce(m.ml, p.lab)) AS lab
        FROM {prev} p LEFT JOIN (
            SELECT e.dst AS id, min(l.lab) AS ml
            FROM edges e JOIN {prev} l ON e.src = l.id
            GROUP BY e.dst
        ) m ON p.id = m.id
    )"""
        )
        prev = f"l{r}"
    rounds_sql = ",\n    ".join(rounds)
    return f"""
    WITH pairs AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    edges AS (
        SELECT 'C' || c AS src, 'S' || s AS dst FROM pairs
        UNION ALL
        SELECT 'S' || s AS src, 'C' || c AS dst FROM pairs),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    l0 AS (SELECT id, id AS lab FROM nodes),
    {rounds_sql}
    SELECT id AS node_id, lab AS community FROM {prev}
    """


@register("q152_label_propagation", oracle=_lpa_oracle(), families=("bench",))
def q152_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-label propagation, {_LPA_ITERS} supersteps, over the
    customer⟷supplier bipartite graph (same edge derivation as q74).

    Superstep = ONE shuffle: labels join the self-loop-augmented edge set
    on src and min-aggregate by dst — the closed-neighborhood min
    (least(own, neighbors)) expressed through a single reference to the
    previous round's labels, so the lineage is LINEAR (no per-round
    fan-out, hence no per-round checkpoint materialization: all
    {_LPA_ITERS} supersteps pipeline into one job). The persisted
    augmented edge exchange is reused every round; the driver holds only
    DataFrame handles.
    """
    edges_aug, nodes = _lpa_graph(spark, sf_dir)
    labels = nodes.withColumn("lab", F.col("id"))
    # Size-adaptive superstep join (the q110 BFS policy): the labels side
    # is exactly |nodes| rows of (id, lab) — a few MB here — but it is an
    # aggregate output, so Catalyst's size estimate is useless and the
    # planner fell back to per-round SortMergeJoin: every superstep
    # re-exchanged AND re-sorted the persisted edge set (plan before:
    # 3 SMJs, 12 exchanges). Broadcasting the labels keeps the edges
    # completely unshuffled across all supersteps — each round is one
    # broadcast build over the previous round's agg plus one dst
    # exchange of the aggregated (≤ |nodes|) rows. Past the threshold
    # the shuffle join returns, partitioned once on src.
    n_nodes = nodes.count()
    for _ in range(_LPA_ITERS):
        lab_side = (
            F.broadcast(labels) if n_nodes <= _LPA_BROADCAST_MAX else labels
        )
        labels = (
            edges_aug.join(lab_side, edges_aug.src == lab_side.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("lab").alias("lab"))
        )
    return labels.select(
        F.col("id").alias("node_id"), F.col("lab").alias("community")
    )


_LPA_GRAPH_CACHE: dict = {}


def _lpa_graph(spark: SparkSession, sf_dir: str):
    """(self-loop-augmented edges, nodes) for the LPA graph — persisted
    once per (session, sf_dir) via the shared dfcache lifecycle (the
    materialize-once production shape; q74 relies on Spark's CacheManager
    the same way)."""
    from spark_state_provider_spark.dfcache import get_or_build

    def build():
        pairs = (
            load_table(spark, sf_dir, "orders")
            .join(
                load_table(spark, sf_dir, "lineitem"),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
            .distinct()
        )
        fwd = pairs.select(
            F.concat(F.lit("C"), F.col("c")).alias("src"),
            F.concat(F.lit("S"), F.col("s")).alias("dst"),
        )
        edges = fwd.unionByName(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        nodes = edges.select(F.col("src").alias("id")).distinct().persist()
        # self-loops fold least(own, min-of-neighbors) into ONE aggregate,
        # keeping each superstep a single reference to the previous labels
        # (linear lineage — all rounds pipeline into one job)
        edges_aug = edges.unionByName(
            nodes.select(F.col("id").alias("src"), F.col("id").alias("dst"))
        ).persist()
        return edges_aug, nodes

    return get_or_build(_LPA_GRAPH_CACHE, spark, ("lpa", sf_dir), build)


# ---------------------------------------------------------------------------
# q174 — k-core pruning: iteratively remove nodes of degree < k until the
# round budget is spent; the surviving subgraph (everyone keeps ≥ k
# active partners) is the dense backbone — the graph-cleanup pass run
# before community/centrality work, and in dedup graphs the "only
# heavily-duplicated families" filter. Each round: one degree aggregate
# over edges restricted to active endpoints, one filter. The active set
# is a node-sized frame (≪ edges), persisted per round so the two
# endpoint semi-joins read a materialized cache, not a growing lineage.
# Fixed rounds ⇒ the oracle unrolls the same pruning exactly.
# ---------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 3


def _kcore_oracle() -> str:
    rounds = []
    prev = "a0"
    for r in range(1, _KCORE_ROUNDS + 1):
        rounds.append(
            f"""d{r} AS (
        SELECT e.src AS id, CAST(count(*) AS BIGINT) AS d
        FROM edges e
        JOIN {prev} s ON e.src = s.id
        JOIN {prev} t ON e.dst = t.id
        GROUP BY e.src
    ),
    a{r} AS (SELECT id FROM d{r} WHERE d >= {_KCORE_K})"""
        )
        prev = f"a{r}"
    rounds_sql = ",\n    ".join(rounds)
    return f"""
    WITH pairs AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    edges AS (
        SELECT 'C' || c AS src, 'S' || s AS dst FROM pairs
        UNION ALL
        SELECT 'S' || s AS src, 'C' || c AS dst FROM pairs),
    a0 AS (SELECT DISTINCT src AS id FROM edges),
    {rounds_sql}
    SELECT id AS node_id, d AS degree
    FROM d{_KCORE_ROUNDS} WHERE d >= {_KCORE_K}
    """


@register("q174_kcore_pruning", oracle=_kcore_oracle(), families=("bench",))
def q174_kcore_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_KCORE_K}-core after {_KCORE_ROUNDS} pruning rounds over the
    customer⟷supplier graph: surviving nodes with their last-round
    active-degree.

    Per round the shuffle carries only (edge endpoint, active flag) —
    the edge list is persisted once and re-filtered; the node frame is
    thousands-fold smaller and materializes per round (the driver holds
    handles only). Bounded rounds = bounded cost; full convergence runs
    the same loop with an early-exit count check.
    """
    edges_aug, nodes = _lpa_graph(spark, sf_dir)
    # reuse the memoized bidirectional edge set (drop the self-loops)
    edges = edges_aug.where(F.col("src") != F.col("dst"))
    active = nodes  # round 0: already persisted by the shared graph memo
    prev_persisted = None  # never unpersist the memo-owned nodes frame
    deg = None
    n_active = nodes.count()  # cheap: persisted memo
    for rnd in range(_KCORE_ROUNDS):
        if rnd > 0:
            active = active.persist()
            # materialize (next round reads cache, not lineage) AND feed
            # the round's size-adaptive join decision
            n_active = active.count()
            if prev_persisted is not None:
                prev_persisted.unpersist()
            prev_persisted = active
        # Size-adaptive endpoint filter (the q110/q152 policy): the active
        # set is an aggregate output with no Catalyst size estimate, so
        # the planner re-shuffled AND re-sorted the persisted edge set
        # into two SortMergeJoins EVERY round. While the survivor set is
        # broadcastable, both endpoint filters probe the edge partitions
        # map-side and the only exchange left per round is the groupBy.
        def _side(col_alias: str):
            act = active.select(F.col("id").alias(col_alias))
            return (
                F.broadcast(act) if n_active <= _LPA_BROADCAST_MAX else act
            )

        deg = (
            edges.join(_side("src"), "src")
            .join(_side("dst"), "dst")
            .groupBy("src")
            .agg(F.count("*").alias("d"))
        )
        active = deg.where(F.col("d") >= _KCORE_K).select(
            F.col("src").alias("id")
        )
    out = deg.where(F.col("d") >= _KCORE_K).select(
        F.col("src").alias("node_id"), F.col("d").alias("degree")
    ).localCheckpoint(eager=True)
    if prev_persisted is not None:
        prev_persisted.unpersist()
    return out


# ---------------------------------------------------------------------------
# q216 — link prediction on the document-similarity graph: common-
# neighbor Jaccard for vertex pairs that are NOT yet edges. The graph's
# edges are doc pairs sharing >= 3 word-trigrams of document frequency
# <= 100 (the co-shingle relation, q46's contamination join one notch
# stricter, df-capped like q206's truth side so the inverted-index join
# stays LINEAR under adversarial duplication) — docs never
# directly linked but sharing many linked neighbors are the "emerging
# duplicate family / missed by thresholding" candidates a dedup platform
# queues for exact re-verification. Wedge-join + degree join +
# anti-join, all bounded by the similarity graph, never the corpus.
# ---------------------------------------------------------------------------

_LINKPRED_MIN_SHARED = 3
_LINKPRED_DF_CAP = 100  # stop-shingle bound (q206's _TRUTH_DF_CAP twin)


def _linkpred_oracle() -> str:
    from spark_state_provider_spark.operators.dedup import _DUCK_TRI

    return f"""
    WITH {_DUCK_TRI},
    rare AS (
        SELECT tri FROM (
            SELECT tri, count(*) AS df FROM tri GROUP BY tri
        ) WHERE df <= {_LINKPRED_DF_CAP}
    ),
    rt AS (SELECT t.doc_id, t.tri FROM tri t JOIN rare r ON r.tri = t.tri),
    pr AS (
        SELECT ta.doc_id AS id_a, tb.doc_id AS id_b
        FROM rt ta JOIN rt tb
          ON tb.tri = ta.tri AND ta.doc_id < tb.doc_id
        GROUP BY ta.doc_id, tb.doc_id
        HAVING count(*) >= {_LINKPRED_MIN_SHARED}
    ),
    ed AS (
        SELECT id_a AS u, id_b AS v FROM pr
        UNION SELECT id_b, id_a FROM pr
    ),
    deg AS (SELECT u, count(*) AS d FROM ed GROUP BY u),
    wedge AS (
        SELECT e1.v AS u, e2.v AS v, count(*) AS common
        FROM ed e1 JOIN ed e2 ON e1.u = e2.u AND e1.v < e2.v
        GROUP BY e1.v, e2.v
    )
    SELECT w.u, w.v,
           CAST(w.common AS BIGINT) AS common_neighbors,
           CAST(w.common AS DOUBLE) / (du.d + dv.d - w.common)
               AS neighbor_jaccard
    FROM wedge w
    JOIN deg du ON du.u = w.u
    JOIN deg dv ON dv.u = w.v
    LEFT JOIN ed ON ed.u = w.u AND ed.v = w.v
    WHERE ed.u IS NULL
    """


# the rare-shingle pair graph feeds four plan branches (wedge e1/e2,
# degrees, the anti-join) — persist once per (session, corpus) like the
# other shared dedup indexes (same dfcache lifecycle)
_RARE_PAIRS_CACHE: dict[tuple[str, str], DataFrame] = {}


def _rare_pairs_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    from spark_state_provider_spark.dfcache import get_or_build
    from spark_state_provider_spark.operators.dedup import (
        _trigrams_persisted,
    )

    def build() -> DataFrame:
        tri = _trigrams_persisted(spark, sf_dir)
        rare = (
            tri.groupBy("tri")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") <= _LINKPRED_DF_CAP)
            .select("tri")
        )
        rt = tri.join(rare, "tri")
        ta = rt.select(F.col("doc_id").alias("id_a"), "tri")
        tb = rt.select(F.col("doc_id").alias("id_b"), "tri")
        return (
            ta.join(tb, "tri")
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("ns"))
            .where(F.col("ns") >= _LINKPRED_MIN_SHARED)
            .select("id_a", "id_b")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )

    return get_or_build(_RARE_PAIRS_CACHE, spark, (sf_dir,), build)


@register("q216_link_prediction", oracle=_linkpred_oracle(), families=("bench",))
def q216_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-edge doc pairs ranked by common-neighbor Jaccard over the
    >={_LINKPRED_MIN_SHARED}-shared-rare-trigram similarity graph\n    (df ≤ {_LINKPRED_DF_CAP} — identical on the testdata, linear-bounded\n    under adversarial duplication).

    Scale shape: edge generation is the shingle inverted-index join
    (linear in co-shingle pairs — q206's truth-side plan); wedges are
    generated only through shared neighbors (never all-pairs); degree
    and existing-edge joins broadcast the graph-sized frames. The
    output is the re-verification queue an incremental dedup platform
    feeds back into the exact scorer.
    """
    pr = _rare_pairs_persisted(spark, sf_dir)
    ed = pr.select(F.col("id_a").alias("u"), F.col("id_b").alias("v")).union(
        pr.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"))
    )
    deg = ed.groupBy("u").agg(F.count("*").alias("d"))
    e1 = ed.select(F.col("u").alias("m"), F.col("v").alias("u"))
    e2 = ed.select(F.col("u").alias("m"), F.col("v").alias("v"))
    wedge = (
        e1.join(e2, "m")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("common"))
    )
    nonedge = wedge.join(F.broadcast(ed), ["u", "v"], "left_anti")
    du = deg.select(F.col("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("u").alias("v"), F.col("d").alias("dv"))
    return (
        nonedge.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .select(
            "u",
            "v",
            F.col("common").cast("bigint").alias("common_neighbors"),
            (
                F.col("common").cast("double")
                / (F.col("du") + F.col("dv") - F.col("common"))
            ).alias("neighbor_jaccard"),
        )
    )

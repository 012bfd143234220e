"""Connected components over candidate-duplicate pairs — dup clusters.

The missing last step of the dedup family: LSH/Jaccard emit PAIRS,
but keep-one-per-cluster needs the transitive closure (doc A ~ B,
B ~ C => one cluster {A,B,C}). Implemented as alternating
large-star / small-star contraction (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14) on DataFrames:

- every undirected edge is kept canonically as (hi, lo), hi > lo;
- LARGE-STAR: each node u links its larger neighbors to
  min(N(u) ∪ {u}) — one groupBy(min) + one equi-join over the edge
  list;
- SMALL-STAR: each node u links its smaller neighbors (and itself)
  to min of those — same shape, restricted to the hi side;
- the edge set converges to disjoint stars whose centers are the
  component minima; labels fall straight out of the final edge list.

Why not plain min-label propagation: that converges in O(diameter)
rounds, and LSH candidate graphs chain through shared buckets — the
sf0.1 fixture already produces 20+-hop chains (22 propagation rounds
observed; star contraction does it in 6). At 100 TB an unbounded
diameter would either cap out (wrong labels) or straggle; star
contraction is O(log) rounds with only linear-in-|E| shuffles per
round and no driver-side state beyond a scalar witness.

- lineage is cut with localCheckpoint each round (an iterative
  algorithm's plan otherwise grows without bound);
- convergence witness: every transformation maps an edge (u,v) to
  (v, m) with m <= u, so the endpoint sum is non-increasing and is
  unchanged iff the round was the identity — one O(1)-row aggregate
  per round, fused into the same job as the checkpoint.

Determinism: the star fixed point labels every node with its
component's min id — order-independent, exactly reproducible, and
ORACLE-CHECKABLE: the DuckDB side computes the same closure with a
recursive CTE (fixture-scale only; the recursive closure
materializes O(cluster²) rows and is no scale path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import catalog
from .dedup import LSH_PAIRS_DUCK, pair_graph


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round: every undirected edge {a,b} (a<b) is
    re-hung as (b, m(a)) where m(a) = min(N(a) ∪ {a}) — each edge is
    emitted exactly once, from its smaller endpoint's neighborhood."""
    sym = edges.select(F.col("hi").alias("u"), F.col("lo").alias("v")).union(
        edges.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("u", "mn").alias("m"))
    return (
        sym.filter(F.col("v") > F.col("u"))
        .join(mins, "u")
        .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
    )


# Round 15: edge-count gate below which connected_components labels
# the graph with a driver union-find instead of distributed star
# contraction. 100k canonical (hi, lo) edges is broadcast-build-side
# scale (the collect is checked against the ALREADY-COMPUTED witness
# count before any driver transfer); dedup pair graphs at this size
# are pure fixed-overhead work for the 5-shuffles-per-round loop.
SMALL_GRAPH_EDGE_CAP = 100_000


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: every node u re-hangs its smaller
    neighbors (and itself) onto m = min of those neighbors."""
    mins = edges.groupBy("hi").agg(F.min("lo").alias("m"))
    relink = (
        edges.join(mins, "hi")
        .filter(F.col("lo") != F.col("m"))
        .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
    )
    selfedge = mins.select(F.col("hi"), F.col("m").alias("lo"))
    return relink.union(selfedge).distinct()


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    max_iters: int = 50,
) -> DataFrame:
    """(node, component) for every node in ``edges``; component id =
    min node id in the component. Alternating star contraction —
    O(log) rounds, linear shuffles, no diameter dependence.

    The loop runs with shuffle partitions sized to the GRAPH (round 8):
    each round is ~5 shuffles, and the dup graph is orders of
    magnitude smaller than the corpus that produced it, so inheriting
    the corpus-wide shuffle.partitions makes every round schedule
    near-empty tasks (locally ~7% off a warmed loop at 32 -> 4; the
    real case is a cluster whose corpus-sized default is thousands —
    there every round would pay the full fan-out for a graph that fits
    in a handful of partitions). ~20k edges/partition, floor 4,
    ceiling max(defaultParallelism, 2048) so a 10^9-edge graph still
    fans out; the session value is restored after the fixed point. The
    per-round convergence witness rides the checkpoint job via
    ``observe()`` — one job per round, not checkpoint + separate agg."""
    nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    cur = (
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("hi"),
            F.least(F.col(src), F.col(dst)).alias("lo"),
        )
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
        .localCheckpoint()
    )
    # Witness: both star steps map each edge (u,v) -> (v, m) with
    # m <= u, so (count, sum(hi+lo)) is non-increasing and unchanged
    # iff the round was the identity (= star fixed point). The sum
    # accumulates in DECIMAL(38,0): a bigint sum wraps silently at
    # very large edge counts x id magnitudes, and a wrap could make
    # two different rounds compare equal and stop contraction early
    # with wrong labels. One scalar agg per round, computed on the
    # same materialization as the checkpoint.
    def _witness(df: DataFrame) -> tuple:
        row = df.agg(
            F.count(F.lit(1)),
            F.sum(
                F.col("hi").cast("decimal(38,0)")
                + F.col("lo").cast("decimal(38,0)")
            ),
        ).collect()[0]
        return (row[0], row[1])

    prev = _witness(cur)
    spark = edges.sparkSession
    # Round 15 (optimization guide §1.2: fix the distributed algorithm
    # to the problem SIZE): the canonical edge count is already known
    # from the witness — when the dedup graph is broadcast-scale,
    # label it with a driver union-find instead of paying ~5 shuffles
    # x O(log n) star rounds of fixed job overhead (measured 2.4-3.4 s
    # per consumer at sf0.1 for graphs of a few thousand edges; the
    # local path is ~0.3 s). The cap is the SAME scale class as a
    # broadcast-join build side (a few MB of (hi, lo) longs, bound
    # stated here, checked BEFORE any collect); above it the
    # diameter-independent star contraction runs unchanged — that
    # path is what scales to 100 TB, the gate only routes around its
    # per-round constant for small graphs.
    if int(prev[0]) <= SMALL_GRAPH_EDGE_CAP:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for row in cur.collect():  # bounded by SMALL_GRAPH_EDGE_CAP
            ra, rb = find(int(row[0])), find(int(row[1]))
            if ra != rb:
                # union by MIN root so component id = min node id
                lo_r, hi_r = (ra, rb) if ra < rb else (rb, ra)
                parent[hi_r] = lo_r
        rows = [(n, find(n)) for n in parent]
        labels_local = spark.createDataFrame(
            rows, schema="node bigint, comp bigint"
        )
        return nodes.join(F.broadcast(labels_local), "node", "left").select(
            "node", F.coalesce(F.col("comp"), F.col("node")).alias("comp")
        )
    n_parts = min(
        max(4, int(prev[0]) // 20_000 + 4),
        max(spark.sparkContext.defaultParallelism, 2048),
    )
    with catalog.shuffle_partitions(spark, n_parts):
        for _ in range(max_iters):
            # Witness rides the checkpoint job via observe() — one
            # job per round instead of checkpoint + separate agg.
            from pyspark.sql import Observation

            obs = Observation()
            cur = _small_star(_large_star(cur)).observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.col("hi").cast("decimal(38,0)")
                    + F.col("lo").cast("decimal(38,0)")
                ).alias("s"),
            ).localCheckpoint()
            got = obs.get
            new = (got["n"], got["s"])
            if new == prev:
                break
            prev = new
    # Fixed point = disjoint stars: (satellite, center) edges with the
    # center = component min. Centers label themselves.
    sats = cur.select(F.col("hi").alias("node"), F.col("lo").alias("comp"))
    centers = cur.select(F.col("lo").alias("node")).distinct().withColumn(
        "comp", F.col("node")
    )
    labels = sats.union(centers).distinct()
    # Nodes whose only edges were self-loops never enter the star set;
    # they are singleton components labeled with themselves.
    return nodes.join(labels, "node", "left").select(
        "node", F.coalesce(F.col("comp"), F.col("node")).alias("comp")
    )


# Materialized CC labels over the materialized pair graph, built at
# most once per (session, dataset) — same design (and rationale) as
# dedup.pair_graph: components, survivors, and keep-longest all
# consume the SAME (node, comp) labeling, and the iterative star
# contraction dominates their cost, so it is paid once and the label
# table (|nodes in pairs| rows, tiny) is scanned thereafter.


def doc_dup_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..matcache import materialize_once

    return materialize_once(
        spark, "dup_labels", sf_dir,
        lambda: connected_components(
            pair_graph(spark, sf_dir), src="doc_a", dst="doc_b"
        ),
    )


def _q_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup clusters from the MinHash-LSH candidate graph: every doc
    that appears in some candidate pair, labeled with its cluster's
    min doc_id."""
    return (
        doc_dup_labels(spark, sf_dir)
        .select("node", F.col("comp").alias("component"))
        .withColumnRenamed("node", "doc_id")
    )


# transitive closure via recursive CTE (fixture-scale oracle): reuse
# the LSH pair query's CTE chain, then close over it.
_PAIRS_AS_CTE = LSH_PAIRS_DUCK.replace(
    "SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b",
    ",\npairs AS (\nSELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b",
).rstrip() + "\n)"

DUP_COMPONENTS_DUCK = (
    "WITH RECURSIVE "
    + _PAIRS_AS_CTE.removeprefix("WITH ")
    + """,
sym AS (
  SELECT doc_a AS node, doc_b AS nbr FROM pairs
  UNION
  SELECT doc_b AS node, doc_a AS nbr FROM pairs
),
reach(node, other) AS (
  SELECT node, nbr FROM sym
  UNION
  SELECT r.node, s.nbr FROM reach r JOIN sym s ON r.other = s.node
)
SELECT node AS doc_id, least(node, min(other)) AS component
FROM reach
GROUP BY node
"""
)

def dedup_survivors(docs: DataFrame, labels: DataFrame) -> DataFrame:
    """The dedup end-product: every doc EXCEPT non-canonical cluster
    members (canonical = min doc_id in the component). A broadcast-able
    anti join at any scale: the victim list is (cluster sizes - 1)
    rows, tiny relative to the corpus."""
    victims = labels.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias("doc_id")
    )
    return docs.join(victims, "doc_id", "left_anti")


def _q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = catalog.load_table(spark, sf_dir, "documents")
    labels = doc_dup_labels(spark, sf_dir)
    return dedup_survivors(docs.select("doc_id", "lang"), labels).orderBy(
        "doc_id"
    )


def victims_chain(sym: str = "sym", reach: str = "reach",
                  victims: str = "victims") -> str:
    """CTE chain closing the LSH ``pairs`` CTE transitively and
    naming the non-canonical component members (node != min of its
    component). Exported so composing oracles (dedup survivors here,
    the curation funnel) share the EXACT closure SQL; the names are
    parameterized to avoid clashes inside larger WITH chains."""
    return f"""{sym} AS (
  SELECT doc_a AS node, doc_b AS nbr FROM pairs
  UNION
  SELECT doc_b AS node, doc_a AS nbr FROM pairs
),
{reach}(node, other) AS (
  SELECT node, nbr FROM {sym}
  UNION
  SELECT r.node, s.nbr FROM {reach} r JOIN {sym} s ON r.other = s.node
),
{victims} AS (
  SELECT node FROM {reach} GROUP BY node
  HAVING least(node, min(other)) <> node
)"""


DEDUP_SURVIVORS_DUCK = (
    "WITH RECURSIVE "
    + _PAIRS_AS_CTE.removeprefix("WITH ")
    + ",\n"
    + victims_chain()
    + """
SELECT doc_id, lang FROM documents
WHERE doc_id NOT IN (SELECT node FROM victims)
ORDER BY doc_id
"""
)

def _q_emb_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-dup clusters: connected components over the
    LSH-bucketed exact-cosine pair graph (embdup.emb_near_dup_pairs)
    — the vector-side mirror of docs_dup_components."""
    from .embdup import _q_emb_near_dup

    pairs = _q_emb_near_dup(spark, sf_dir)
    labels = connected_components(pairs, src="vec_a", dst="vec_b")
    return labels.select(
        F.col("node").alias("vec_id"), F.col("comp").alias("component")
    ).orderBy("vec_id")


def _emb_pairs_cte() -> str:
    from .embdup import EMB_NEAR_DUP_DUCK, NEAR_DUP_T

    final = f"SELECT vec_a, vec_b, cos_sim FROM scored WHERE cos_sim >= {NEAR_DUP_T}"
    assert final in EMB_NEAR_DUP_DUCK
    return EMB_NEAR_DUP_DUCK.replace("WITH planes", "WITH RECURSIVE planes").replace(
        final,
        f", ndpairs AS (SELECT vec_a, vec_b FROM scored WHERE cos_sim >= {NEAR_DUP_T})",
    )


def _emb_components_duck() -> str:
    return (
        _emb_pairs_cte()
        + """,
sym AS (
  SELECT vec_a AS node, vec_b AS nbr FROM ndpairs
  UNION
  SELECT vec_b AS node, vec_a AS nbr FROM ndpairs
),
reach(node, other) AS (
  SELECT node, nbr FROM sym
  UNION
  SELECT r.node, s.nbr FROM reach r JOIN sym s ON r.other = s.node
)
SELECT node AS vec_id, least(node, min(other)) AS component
FROM reach
GROUP BY node
ORDER BY vec_id
"""
    )


# ------------------------------------------- quality-ranked survivors
# Keep-BEST dedup (vs dedup_survivors' keep-min-id): the canonical
# member of each dup cluster is the longest document (tie -> smallest
# id) — the policy an LLM-data pipeline actually wants, since near-dup
# clusters usually contain truncated variants of one source page.
# Same CC labels; one extra broadcast-sized window over cluster
# members only (|members| << |corpus|).


def _q_dedup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = catalog.load_table(spark, sf_dir, "documents")
    labels = doc_dup_labels(spark, sf_dir)
    members = labels.join(
        docs.select(F.col("doc_id").alias("node"), "n_chars"), "node"
    )
    w = Window.partitionBy("comp").orderBy(
        F.desc("n_chars"), F.asc("node")
    )
    return (
        members.withColumn("rn", F.row_number().over(w))
        .groupBy("comp")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("node"))).alias("keep_doc_id"),
            F.max(F.when(F.col("rn") == 1, F.col("n_chars"))).alias("keep_chars"),
            F.count("*").alias("n_members"),
        )
        .select(
            F.col("comp").alias("component"),
            "keep_doc_id",
            "keep_chars",
            "n_members",
        )
        .orderBy("component")
    )


KEEP_LONGEST_DUCK = (
    "WITH RECURSIVE "
    + _PAIRS_AS_CTE.removeprefix("WITH ")
    + """,
sym AS (
  SELECT doc_a AS node, doc_b AS nbr FROM pairs
  UNION
  SELECT doc_b AS node, doc_a AS nbr FROM pairs
),
reach(node, other) AS (
  SELECT node, nbr FROM sym
  UNION
  SELECT r.node, s.nbr FROM reach r JOIN sym s ON r.other = s.node
),
labels AS (
  SELECT node, least(node, min(other)) AS comp
  FROM reach GROUP BY node
),
members AS (
  SELECT l.node, l.comp, d.n_chars,
         row_number() OVER (
           PARTITION BY l.comp ORDER BY d.n_chars DESC, l.node ASC
         ) AS rn
  FROM labels l JOIN documents d ON d.doc_id = l.node
)
SELECT comp AS component,
       CAST(max(CASE WHEN rn = 1 THEN node END) AS BIGINT) AS keep_doc_id,
       CAST(max(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT) AS keep_chars,
       CAST(count(*) AS BIGINT) AS n_members
FROM members
GROUP BY comp
ORDER BY component
"""
)


# -------------------------------------- quality-ranked canonical pick
# The third canonical policy (after keep-min-id and keep-longest):
# keep the cluster member that PASSES the Gopher gate, then the
# wordiest, then the smallest id — "best quality wins", the policy
# for clusters mixing a clean page with boilerplate-mangled variants.
# Booleans rank via an explicit 0/1 int on BOTH engines (bool DESC
# order agrees, but the int form can't ever flake). Same CC labels
# (matcache-shared); the quality columns join in once.


def _q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import webquality

    docs = catalog.load_table(spark, sf_dir, "documents")
    quality = webquality.gopher_quality(docs).select(
        F.col("doc_id").alias("node"),
        F.col("passes_gopher").cast("int").alias("passes"),
        "n_words",
    )
    labels = doc_dup_labels(spark, sf_dir)
    members = labels.join(quality, "node")
    w = Window.partitionBy("comp").orderBy(
        F.desc("passes"), F.desc("n_words"), F.asc("node")
    )
    return (
        members.withColumn("rn", F.row_number().over(w))
        .groupBy("comp")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("node"))).alias(
                "keep_doc_id"
            ),
            F.max(F.when(F.col("rn") == 1, F.col("passes"))).alias(
                "keep_passes"
            ),
            F.max(F.when(F.col("rn") == 1, F.col("n_words"))).alias(
                "keep_words"
            ),
            F.count("*").alias("n_members"),
        )
        .select(
            F.col("comp").alias("component"),
            "keep_doc_id",
            F.col("keep_passes").cast("int").alias("keep_passes"),
            F.col("keep_words").cast("int").alias("keep_words"),
            F.col("n_members").cast("bigint").alias("n_members"),
        )
        .orderBy("component")
    )


def _keep_best_duck() -> str:
    from .webquality import GOPHER_CHAIN_DUCK, GOPHER_PASS_PRED_DUCK

    return (
        "WITH RECURSIVE "
        + _PAIRS_AS_CTE.removeprefix("WITH ")
        + f""",
sym AS (
  SELECT doc_a AS node, doc_b AS nbr FROM pairs
  UNION
  SELECT doc_b AS node, doc_a AS nbr FROM pairs
),
reach(node, other) AS (
  SELECT node, nbr FROM sym
  UNION
  SELECT r.node, s.nbr FROM reach r JOIN sym s ON r.other = s.node
),
labels AS (
  SELECT node, least(node, min(other)) AS comp
  FROM reach GROUP BY node
),
{GOPHER_CHAIN_DUCK},
quality AS (
  SELECT b.doc_id,
         CASE WHEN {GOPHER_PASS_PRED_DUCK}
         THEN 1 ELSE 0 END AS passes,
         b.n_words
  FROM base b JOIN top t ON b.doc_id = t.doc_id
),
members AS (
  SELECT l.node, l.comp, q.passes, q.n_words,
         row_number() OVER (
           PARTITION BY l.comp
           ORDER BY q.passes DESC, q.n_words DESC, l.node ASC
         ) AS rn
  FROM labels l JOIN quality q ON q.doc_id = l.node
)
SELECT comp AS component,
       CAST(max(CASE WHEN rn = 1 THEN node END) AS BIGINT) AS keep_doc_id,
       CAST(max(CASE WHEN rn = 1 THEN passes END) AS INT) AS keep_passes,
       CAST(max(CASE WHEN rn = 1 THEN n_words END) AS INT) AS keep_words,
       CAST(count(*) AS BIGINT) AS n_members
FROM members
GROUP BY comp
ORDER BY component
"""
    )


QUERIES = {
    "docs_dup_components": _q_dup_components,
    "docs_dedup_survivors": _q_dedup_survivors,
    "docs_dedup_keep_best": _q_dedup_keep_best,
    "emb_near_dup_components": _q_emb_components,
    "docs_dedup_keep_longest": _q_dedup_keep_longest,
}
ORACLES = {
    "docs_dup_components": DUP_COMPONENTS_DUCK,
    "docs_dedup_survivors": DEDUP_SURVIVORS_DUCK,
    "emb_near_dup_components": _emb_components_duck(),
    "docs_dedup_keep_longest": KEEP_LONGEST_DUCK,
    "docs_dedup_keep_best": _keep_best_duck(),
}


# ------------------------------------------- PageRank-lite (fixed N)
# Three damped PageRank iterations over the symmetrized LSH candidate
# graph in FIXED-POINT integer arithmetic: ranks are scaled by 10^6,
# neighbor contributions use integer division — bit-identical on any
# engine, any partitioning, any retry (float PageRank is none of
# those). Rank here is a dup-cluster centrality: high-rank nodes are
# the hubs the degree histogram (dup_graph_degree_stats) flags in
# aggregate. Fixed iteration count keeps the oracle SQL-expressible
# (chained CTEs, no recursion); each iteration is one equi-join on
# edges + one agg — 2 shuffles per round, edges never duplicated
# beyond the symmetric factor.

PR_SCALE = 1_000_000
PR_ITERS = 3


def pagerank_lite(pairs: DataFrame, iters: int = PR_ITERS) -> DataFrame:
    # round 16 (ADVICE r15 #1): persist before the gating count so an
    # above-cap graph with un-materialized lineage does not pay one
    # full extra evaluation of the upstream chain; the distributed
    # iteration below rescans the edges every round and rides the
    # same cache (the driver path collects once and unpersists)
    pairs = pairs.persist()
    if pairs.count() <= SMALL_GRAPH_EDGE_CAP:
        # Round-15 size gate (guide §1.2), same cap/rationale as
        # connected_components: the fixed-point integer iteration is
        # exactly reproducible on the driver (Python ints, floor
        # division on positive operands == bigint DIV), so a
        # broadcast-scale graph skips 2 shuffles x PR_ITERS of fixed
        # job overhead. Count checked BEFORE the collect.
        from collections import Counter, defaultdict

        es = [(r[0], r[1]) for r in pairs.select(
            "doc_a", "doc_b"
        ).collect()]  # bounded by SMALL_GRAPH_EDGE_CAP
        pairs.unpersist()
        deg: Counter = Counter()
        for a, b in es:
            deg[a] += 1
            deg[b] += 1
        ranks = {n: PR_SCALE for n in deg}
        for _ in range(iters):
            recv: dict = defaultdict(int)
            for a, b in es:
                recv[b] += ranks[a] // deg[a]
                recv[a] += ranks[b] // deg[b]
            ranks = {
                v: (15 * PR_SCALE) // 100 + (85 * s) // 100
                for v, s in recv.items()
            }
        return pairs.sparkSession.createDataFrame(
            sorted(ranks.items()), "node bigint, pagerank bigint"
        ).orderBy("node")
    sym = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionAll(
        pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count("*").cast("bigint").alias("d"))
    ranks = deg.select(
        F.col("u").alias("node"), F.lit(PR_SCALE).cast("bigint").alias("r")
    )
    base = (15 * PR_SCALE) // 100
    for _ in range(iters):
        contrib = (
            sym.join(ranks, sym["u"] == ranks["node"])
            .join(deg, "u")
            .select("v", F.expr("r DIV d").alias("c"))
        )
        ranks = contrib.groupBy(F.col("v").alias("node")).agg(
            F.expr(f"CAST({base} + (85 * sum(c)) DIV 100 AS BIGINT)").alias(
                "r"
            )
        )
    return ranks.select("node", F.col("r").alias("pagerank")).orderBy("node")


def _q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pagerank_lite(pair_graph(spark, sf_dir))


def _pagerank_duck() -> str:
    base = (15 * PR_SCALE) // 100
    its = []
    prev = "r0"
    for i in range(1, PR_ITERS + 1):
        its.append(
            f"""it{i} AS (
  SELECT s.v AS node,
         CAST({base} + (85 * sum(p.r // d.d)) // 100 AS BIGINT) AS r
  FROM sym s JOIN {prev} p ON s.u = p.node JOIN deg d ON d.u = s.u
  GROUP BY s.v
)"""
        )
        prev = f"it{i}"
    return (
        "WITH "
        + _PAIRS_AS_CTE.removeprefix("WITH ")
        + f""",
sym AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY u),
r0 AS (SELECT u AS node, CAST({PR_SCALE} AS BIGINT) AS r FROM deg),
"""
        + ",\n".join(its)
        + f"""
SELECT node, r AS pagerank FROM {prev} ORDER BY node
"""
    )


PAGERANK_DUCK = _pagerank_duck()

QUERIES["dup_graph_pagerank"] = _q_pagerank
ORACLES["dup_graph_pagerank"] = PAGERANK_DUCK


# ------------------------------------------------------------- k-core
# Iterative degree peeling: repeatedly drop nodes of degree < k until
# the graph stabilizes; what survives is the k-core — the densely
# interlinked duplicate communities worth human review (a triangle
# says three docs agree; a 4-core says a whole template family does).
# Not expressible as ONE recursive CTE (each round needs a fresh
# aggregation over the shrunken graph), but the fixture's bounded
# round count lets a fixed CHAIN of peel CTEs replay it exactly —
# see _kcore_duck below, which hash-gates this since round 6.
# O(peel rounds) Spark jobs, each one groupBy + semi-join — same
# per-round shape as star contraction, and the same
# checkpoint-every-few-rounds lineage control applies at scale.


def kcore(pairs: DataFrame, k: int, src: str = "doc_a",
          dst: str = "doc_b", max_rounds: int = 50) -> DataFrame:
    """Edges of the k-core subgraph of the undirected graph ``pairs``.

    Lineage is CUT with localCheckpoint each round, exactly like the
    star-contraction loop above — without it every round's plan
    embeds all prior rounds and the driver/executors OOM on deep
    peels (observed at sf0.1 before the cut)."""
    proj = pairs.select(src, dst).persist()  # ADVICE r15 #1: the
    # gating count must not cost an extra full evaluation above cap
    if proj.count() <= SMALL_GRAPH_EDGE_CAP:
        # Round-15 size gate (guide §1.2), same rationale and cap as
        # connected_components: the peel is a pure integer fixpoint of
        # the DISTINCT edge set, so at broadcast scale run it on the
        # driver — the dedup, the degree counts, and the rounds — and
        # skip both the distinct shuffle and 2 jobs x O(rounds) of
        # fixed overhead. The pre-distinct count bounds the collect
        # BEFORE any driver transfer (it only over-counts, never
        # under); above the cap the distributed peel runs unchanged.
        from collections import Counter

        cur = list(dict.fromkeys(
            (r[0], r[1]) for r in proj.collect()
        ))  # bounded by SMALL_GRAPH_EDGE_CAP; dict.fromkeys = distinct
        proj.unpersist()
        for _ in range(max_rounds):
            deg: Counter = Counter()
            for a, b in cur:
                deg[a] += 1
                deg[b] += 1
            nxt = [e for e in cur if deg[e[0]] >= k and deg[e[1]] >= k]
            if len(nxt) == len(cur):
                break
            cur = nxt
        return pairs.sparkSession.createDataFrame(cur, schema=proj.schema)
    edges = proj.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).distinct().localCheckpoint()
    before = edges.count()
    for _ in range(max_rounds):
        deg = (
            edges.select(F.col("a").alias("node"))
            .unionAll(edges.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select("node")
        edges = (
            edges.join(keep.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
            .localCheckpoint()
        )
        after = edges.count()
        if after == before:
            break
        before = after
    return edges.select(F.col("a").alias(src), F.col("b").alias(dst))


def _q_kcore_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the dup graph, hash-gated against the unrolled-CTE
    DuckDB replay (_kcore_duck). Deterministic: the peel's fixpoint
    is unique regardless of round order."""
    from .dedup import pair_graph

    return kcore(pair_graph(spark, sf_dir), k=3).orderBy(
        "doc_a", "doc_b"
    )


def _kcore_duck(k: int = 3, rounds: int = 12) -> str:
    """Unrolled-CTE DuckDB replay of the k-core peel.

    The peel is not expressible as ONE recursive CTE (each round
    re-aggregates degrees over the shrunken edge set), but the sf0.01
    fixture converges in a small bounded number of rounds, so a fixed
    CHAIN of ``rounds`` peel CTEs replays it exactly. One extra round
    runs as a fixpoint proof: if round ``rounds`` != round
    ``rounds+1`` the oracle raises via DuckDB ``error()`` instead of
    silently hashing an unconverged edge set — if the fixture ever
    grows enough to need more rounds this fails LOUDLY, not subtly."""
    # MATERIALIZED is load-bearing: each round references the previous
    # one three times, so plain (inlined) CTEs expand exponentially —
    # the planner re-scans the parquet leaves thousands of times and
    # dies on file handles before it even runs.
    ctes = [
        "e0 AS MATERIALIZED "
        "(SELECT DISTINCT doc_a AS a, doc_b AS b FROM pairs)"
    ]
    prev = "e0"
    for i in range(1, rounds + 2):
        ctes.append(
            f"""k{i} AS MATERIALIZED (
  SELECT node FROM (
    SELECT a AS node FROM {prev} UNION ALL SELECT b AS node FROM {prev}
  ) t GROUP BY node HAVING count(*) >= {k}
),
e{i} AS MATERIALIZED (
  SELECT a, b FROM {prev}
  WHERE a IN (SELECT node FROM k{i}) AND b IN (SELECT node FROM k{i})
)"""
        )
        prev = f"e{i}"
    return (
        "WITH "
        + _PAIRS_AS_CTE.removeprefix("WITH ")
        + ",\n"
        + ",\n".join(ctes)
        + f"""
SELECT a AS doc_a, b AS doc_b FROM e{rounds + 1}
WHERE CASE
  WHEN (SELECT count(*) FROM e{rounds}) = (SELECT count(*) FROM e{rounds + 1})
  THEN TRUE
  ELSE error('kcore oracle: fixture needs more than {rounds} peel rounds')
END
ORDER BY doc_a, doc_b
"""
    )


QUERIES["dup_graph_kcore_edges"] = _q_kcore_edges
ORACLES["dup_graph_kcore_edges"] = _kcore_duck()


# --------------------------------------- label propagation (sync LPA)
# Community detection over the dup graph: synchronous label
# propagation (Raghavan et al. 2007) with a FIXED iteration count and
# a deterministic vote (most frequent neighbor label, ties to the
# smallest label). Communities are finer-grained than connected
# components — they split a chain of borderline pairs into its dense
# ends, which is what a curation reviewer actually wants to see.
# Sync + fixed rounds + deterministic tie-break makes every round a
# pure function of the last, so the whole run unrolls into SQL for
# the driver gate. Per round: one edge⋈label equi-join + one
# (node, label) count + one per-node argmax — all shuffles on the
# node key, the same budget as a pagerank iteration.

LPA_ITERS = 4


def label_propagation(
    pairs: DataFrame, iters: int = LPA_ITERS,
    src: str = "doc_a", dst: str = "doc_b",
) -> DataFrame:
    # round 16 (ADVICE r15 #1): persist before the gating count (see
    # pagerank_lite)
    pairs = pairs.persist()
    if pairs.count() <= SMALL_GRAPH_EDGE_CAP:
        # Round-15 size gate (guide §1.2), same cap/rationale as
        # connected_components: sync LPA with the deterministic
        # (max count, min label) vote is a pure function of the edge
        # multiset, exactly reproducible on the driver — a
        # broadcast-scale graph skips ~3 shuffles x LPA_ITERS of
        # fixed job overhead. Count checked BEFORE the collect.
        from collections import Counter, defaultdict

        es = [
            (r[0], r[1]) for r in pairs.select(src, dst).collect()
        ]  # bounded by SMALL_GRAPH_EDGE_CAP
        pairs.unpersist()
        adj: dict = defaultdict(list)
        for a, b in es:
            adj[a].append(b)
            adj[b].append(a)
        lbl = {n: n for n in adj}
        for _ in range(iters):
            nxt = {}
            for u, nbrs in adj.items():
                cnt = Counter(lbl[v] for v in nbrs)
                best = max(cnt.values())
                nxt[u] = min(l for l, c in cnt.items() if c == best)
            lbl = nxt
        return pairs.sparkSession.createDataFrame(
            sorted(lbl.items()), "node bigint, community bigint"
        ).orderBy("node")
    sym = pairs.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).unionAll(pairs.select(F.col(dst).alias("u"), F.col(src).alias("v")))
    labels = sym.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for _ in range(iters):
        votes = (
            sym.join(
                labels.select(F.col("node").alias("v"), "lbl"), "v"
            )
            .groupBy(F.col("u").alias("node"), "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("lbl"))
        labels = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "lbl")
        )
    return labels.select("node", F.col("lbl").alias("community")).orderBy(
        "node"
    )


def lpa_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LPA community labels, materialized once per (session, dataset)
    — same design as doc_dup_labels: the 4-round join/argmax chain is
    the cost, and both dup_graph_label_prop and dup_graph_modularity
    consume the identical table."""
    from ..matcache import materialize_once

    return materialize_once(
        spark, "lpa_labels", sf_dir,
        lambda: label_propagation(pair_graph(spark, sf_dir)),
    )


def _q_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lpa_labels(spark, sf_dir).orderBy("node")


def _lpa_duck(iters: int = LPA_ITERS) -> str:
    ctes = [
        """sym AS MATERIALIZED (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL
  SELECT doc_b AS u, doc_a AS v FROM pairs
)""",
        """l0 AS MATERIALIZED (
  SELECT DISTINCT u AS node, u AS lbl FROM sym
)""",
    ]
    prev = "l0"
    for i in range(1, iters + 1):
        ctes.append(
            f"""l{i} AS MATERIALIZED (
  SELECT node, lbl FROM (
    SELECT s.u AS node, p.lbl, count(*) AS c,
           row_number() OVER (PARTITION BY s.u
                              ORDER BY count(*) DESC, p.lbl ASC) AS rn
    FROM sym s JOIN {prev} p ON s.v = p.node
    GROUP BY s.u, p.lbl
  ) WHERE rn = 1
)"""
        )
        prev = f"l{i}"
    return (
        "WITH "
        + _PAIRS_AS_CTE.removeprefix("WITH ")
        + ",\n"
        + ",\n".join(ctes)
        + f"""
SELECT node, lbl AS community FROM {prev} ORDER BY node
"""
    )


QUERIES["dup_graph_label_prop"] = _q_label_prop
ORACLES["dup_graph_label_prop"] = _lpa_duck()


# --------------------------------------------- community modularity
# Quality score for the LPA partition (Newman modularity, unweighted
# undirected): Q = Σ_c [e_c/m − (d_c/2m)²]. Reported per community in
# fixed-point ppm with INTEGER division at each step — the
# quantization is part of the operator contract, which is what makes
# the number bit-identical across engines/partitionings (a float
# modularity is neither). One edge⋈label join per endpoint + two
# small-key aggregations; nothing beyond the label table shuffles.

MOD_SCALE = 1_000_000


def community_modularity(pairs: DataFrame, labels: DataFrame) -> DataFrame:
    e = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    la = labels.select(F.col("node").alias("u"), F.col("community").alias("cu"))
    lb = labels.select(F.col("node").alias("v"), F.col("community").alias("cv"))
    tagged = e.join(la, "u").join(lb, "v")
    m = tagged.agg(F.count(F.lit(1)).alias("m"))
    e_in = (
        tagged.filter(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("community"))
        .agg(F.count(F.lit(1)).alias("e_in"))
    )
    deg = (
        tagged.select(F.col("cu").alias("community"))
        .unionAll(tagged.select(F.col("cv").alias("community")))
        .groupBy("community")
        .agg(F.count(F.lit(1)).alias("d_c"))
    )
    return (
        deg.join(e_in, "community", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "community",
            F.coalesce("e_in", F.lit(0)).cast("bigint").alias("e_in"),
            F.col("d_c").cast("bigint").alias("d_c"),
            F.expr(
                f"coalesce(e_in, 0) * {MOD_SCALE} DIV m"
                f" - (d_c * d_c * {MOD_SCALE}) DIV (4 * m * m)"
            ).alias("contrib_ppm"),
        )
        .orderBy("community")
    )


def _q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = pair_graph(spark, sf_dir)
    return community_modularity(pairs, lpa_labels(spark, sf_dir))


def _modularity_duck() -> str:
    lpa = _lpa_duck()
    # reuse the LPA oracle's CTE chain up to its final select
    body = lpa[: lpa.rindex("SELECT node, lbl AS community")]
    return (
        body
        + f""",
labels AS MATERIALIZED (SELECT node, lbl AS community FROM l{LPA_ITERS}),
tagged AS MATERIALIZED (
  SELECT p.doc_a AS u, p.doc_b AS v, la.community AS cu, lb.community AS cv
  FROM pairs p
  JOIN labels la ON la.node = p.doc_a
  JOIN labels lb ON lb.node = p.doc_b
),
mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM tagged),
e_in AS (
  SELECT cu AS community, CAST(count(*) AS BIGINT) AS e_in
  FROM tagged WHERE cu = cv GROUP BY cu
),
deg AS (
  SELECT community, CAST(count(*) AS BIGINT) AS d_c
  FROM (
    SELECT cu AS community FROM tagged
    UNION ALL SELECT cv FROM tagged
  ) GROUP BY community
)
SELECT d.community,
       CAST(coalesce(e.e_in, 0) AS BIGINT) AS e_in,
       d.d_c,
       CAST(coalesce(e.e_in, 0) * {MOD_SCALE} // m
            - (d.d_c * d.d_c * {MOD_SCALE}) // (4 * m * m) AS BIGINT)
         AS contrib_ppm
FROM deg d LEFT JOIN e_in e ON e.community = d.community
CROSS JOIN mm
ORDER BY d.community
"""
    )


QUERIES["dup_graph_modularity"] = _q_modularity
ORACLES["dup_graph_modularity"] = _modularity_duck()


# ----------------------------------------------- dedup dashboard
# One table a pipeline operator actually looks at: how many documents
# each dedup family would remove. Composes the SAME session artifacts
# the family queries use (exact-hash groups; the matcache'd CC label
# table), so within a bench/driver session it adds two tiny
# aggregations, not a recompute. The embedding-side families
# (SemDeDup) report separately — different table, different unit.


def _q_dedup_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = catalog.load_table(spark, sf_dir, "documents")
    n_docs = docs.select(F.count(F.lit(1)).alias("n"))
    exact_groups = docs.groupBy(F.md5("text")).agg(
        F.count(F.lit(1)).alias("c")
    )
    exact = exact_groups.agg(
        F.lit("exact_hash").alias("family"),
        F.sum(F.col("c") - 1).cast("bigint").alias("n_removed"),
    )
    labels = doc_dup_labels(spark, sf_dir)
    near = labels.agg(
        F.lit("minhash_near_dup").alias("family"),
        (F.count(F.lit(1)) - F.countDistinct("comp"))
        .cast("bigint")
        .alias("n_removed"),
    )
    return (
        exact.unionByName(near)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "family",
            F.col("n").cast("bigint").alias("n_docs"),
            "n_removed",
            F.expr("n_removed * 1000000 DIV n").alias("removed_ppm"),
        )
        .orderBy("family")
    )


DEDUP_DASHBOARD_DUCK = (
    "WITH RECURSIVE "
    + _PAIRS_AS_CTE.removeprefix("WITH ")
    + """,
sym AS (
  SELECT doc_a AS node, doc_b AS nbr FROM pairs
  UNION
  SELECT doc_b AS node, doc_a AS nbr FROM pairs
),
reach(node, other) AS (
  SELECT node, nbr FROM sym
  UNION
  SELECT r.node, s.nbr FROM reach r JOIN sym s ON r.other = s.node
),
labels AS (
  SELECT node, least(node, min(other)) AS comp FROM reach GROUP BY node
),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
fams AS (
  SELECT 'exact_hash' AS family,
         CAST((SELECT sum(c - 1) FROM (
            SELECT count(*) AS c FROM documents GROUP BY md5(text)
         )) AS BIGINT) AS n_removed
  UNION ALL
  SELECT 'minhash_near_dup',
         CAST((SELECT count(*) - count(DISTINCT comp) FROM labels)
              AS BIGINT)
)
SELECT family, nd.n AS n_docs, n_removed,
       CAST(n_removed * 1000000 // nd.n AS BIGINT) AS removed_ppm
FROM fams, nd
ORDER BY family
"""
)

QUERIES["docs_dedup_dashboard"] = _q_dedup_dashboard
ORACLES["docs_dedup_dashboard"] = DEDUP_DASHBOARD_DUCK


# ------------------------------------- cluster-capped corpus sample
# D4-style soft dedup (Tirumala et al. 2023 "D4": dedup + diversify
# beats hard keep-one): instead of keeping ONE member per dup cluster,
# keep up to CLUSTER_CAP members chosen by a seeded draw — caps the
# over-represented content without erasing intra-cluster variation —
# and keep every singleton (docs outside the pair graph), so the
# output is a full training-corpus selection, not just the clustered
# slice. The draw is the house 28-bit md5 (seed ':cap', node asc tie),
# so the pick is deterministic and engine-identical.
#
# Scale: the labels/sizes/window work is all on the CLUSTERED slice
# (|members| << corpus); singletons join in via one broadcast-able
# left-anti against the label table. Nothing corpus-sized shuffles.

CLUSTER_CAP = 2

_CAP_DRAW_SPARK = (
    "CAST(conv(substr(md5(concat(node, ':cap')), 1, 7), 16, 10) AS BIGINT)"
)
_CAP_DRAW_DUCK = (
    "CAST(concat('0x', substr(md5(concat(node, ':cap')), 1, 7)) AS BIGINT)"
)


def _q_cluster_capped_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = catalog.load_table(spark, sf_dir, "documents").select("doc_id")
    labels = doc_dup_labels(spark, sf_dir)
    sizes = labels.groupBy("comp").agg(F.count("*").alias("cluster_size"))
    w = Window.partitionBy("comp").orderBy(
        F.expr(_CAP_DRAW_SPARK).asc(), F.col("node").asc()
    )
    kept_clustered = (
        labels.withColumn("keep_rank", F.row_number().over(w))
        .filter(F.col("keep_rank") <= CLUSTER_CAP)
        .join(sizes, "comp")
        .select(
            F.col("node").alias("doc_id"),
            F.col("comp").alias("component"),
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            F.col("keep_rank").cast("int").alias("keep_rank"),
        )
    )
    singles = (
        docs.join(labels.select(F.col("node").alias("doc_id")), "doc_id",
                  "left_anti")
        .select(
            "doc_id",
            F.col("doc_id").alias("component"),
            F.lit(1).cast("bigint").alias("cluster_size"),
            F.lit(1).cast("int").alias("keep_rank"),
        )
    )
    return kept_clustered.union(singles).orderBy("doc_id")


_CAP_LABELS_CHAIN = """
sym AS (
  SELECT doc_a AS node, doc_b AS nbr FROM pairs
  UNION
  SELECT doc_b AS node, doc_a AS nbr FROM pairs
),
reach(node, other) AS (
  SELECT node, nbr FROM sym
  UNION
  SELECT r.node, s.nbr FROM reach r JOIN sym s ON r.other = s.node
),
labels AS (
  SELECT node, least(node, min(other)) AS comp
  FROM reach GROUP BY node
),
sizes AS (
  SELECT comp, CAST(count(*) AS BIGINT) AS cluster_size
  FROM labels GROUP BY comp
),
memb AS (
  SELECT l.node, l.comp, s.cluster_size,
         row_number() OVER (
           PARTITION BY l.comp
           ORDER BY {draw} ASC, l.node ASC
         ) AS rn
  FROM labels l JOIN sizes s ON l.comp = s.comp
)"""

CLUSTER_CAPPED_DUCK = (
    "WITH RECURSIVE "
    + _PAIRS_AS_CTE.removeprefix("WITH ")
    + ","
    + _CAP_LABELS_CHAIN.format(
        draw=_CAP_DRAW_DUCK.replace("concat(node", "concat(l.node")
    )
    + f"""
SELECT node AS doc_id, comp AS component, cluster_size,
       CAST(rn AS INT) AS keep_rank
FROM memb WHERE rn <= {CLUSTER_CAP}
UNION ALL
SELECT doc_id, doc_id AS component, CAST(1 AS BIGINT) AS cluster_size,
       1 AS keep_rank
FROM documents WHERE doc_id NOT IN (SELECT node FROM labels)
ORDER BY doc_id
"""
)

QUERIES["docs_cluster_capped_sample"] = _q_cluster_capped_sample
ORACLES["docs_cluster_capped_sample"] = CLUSTER_CAPPED_DUCK


# Cap pressure report: per cluster-size bucket, how many clusters and
# how many docs survive the cap — the number that says what the cap
# actually removes (the audit beside the sample, same pattern as
# docs_pack_fill_report beside the packers).


def _q_cluster_cap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = doc_dup_labels(spark, sf_dir)
    sizes = labels.groupBy("comp").agg(
        F.count("*").cast("bigint").alias("cluster_size")
    )
    return (
        sizes.withColumn(
            "size_bucket",
            F.least(F.col("cluster_size"), F.lit(8)).cast("int"),
        )
        .groupBy("size_bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_clusters"),
            F.sum("cluster_size").cast("bigint").alias("n_docs_before"),
            F.sum(F.least(F.col("cluster_size"), F.lit(CLUSTER_CAP)))
            .cast("bigint")
            .alias("n_docs_after"),
        )
        .orderBy("size_bucket")
    )


CLUSTER_CAP_REPORT_DUCK = (
    "WITH RECURSIVE "
    + _PAIRS_AS_CTE.removeprefix("WITH ")
    + f""",
sym AS (
  SELECT doc_a AS node, doc_b AS nbr FROM pairs
  UNION
  SELECT doc_b AS node, doc_a AS nbr FROM pairs
),
reach(node, other) AS (
  SELECT node, nbr FROM sym
  UNION
  SELECT r.node, s.nbr FROM reach r JOIN sym s ON r.other = s.node
),
labels AS (
  SELECT node, least(node, min(other)) AS comp
  FROM reach GROUP BY node
),
sizes AS (
  SELECT comp, CAST(count(*) AS BIGINT) AS cluster_size
  FROM labels GROUP BY comp
)
SELECT CAST(least(cluster_size, 8) AS INT) AS size_bucket,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(cluster_size) AS BIGINT) AS n_docs_before,
       CAST(sum(least(cluster_size, {CLUSTER_CAP})) AS BIGINT)
           AS n_docs_after
FROM sizes
GROUP BY 1
ORDER BY size_bucket
"""
)

QUERIES["docs_cluster_cap_report"] = _q_cluster_cap_report
ORACLES["docs_cluster_cap_report"] = CLUSTER_CAP_REPORT_DUCK

"""Graph scoring over the near-duplicate pair graph: fixed-point
PageRank + degree structure.

Large-scale pretraining pipelines weight documents by graph authority
(Common Crawl releases host-level PageRank precisely for corpus quality
weighting, and CCNet/RefinedWeb-style pipelines consume it as a
selection signal).  This module computes that signal engine-side, on
the same verified near-dup graph the dedup clustering stage already
builds — nodes are documents, edges are verified MinHash pairs
(:func:`mongo_hadoop_spark.operators.dedup.dedup_minhash_verified`).

Cross-engine exactness: PageRank's floating damping/teleport arithmetic
would drift between engines, so every quantity is fixed-point **bigint**
(scale ``PR_SCALE`` = 1e12), with integer division for the per-neighbor
contribution and the damping ratio 0.85 expressed as the integer pair
17/20 — both engines execute the identical integer recurrence

    rank[t+1](n) = (3*S) div 20  +  (17 * sum_{m->n} (rank[t](m) div deg(m))) div 20

for a fixed ``PR_ROUNDS`` supersteps, so results are integer-equal (no
double ever appears).  A fixed round count (not convergence-tested) is
part of the operator contract, mirroring how published host-rank dumps
are produced by a fixed iteration budget.

Scale shape: each superstep is one keyed equi-join (contributions onto
edge sources) plus one keyed aggregation (sum per destination) — both
shuffle-partitioned on node id, no single-task stage, no driver data.
``edges``/``deg`` are materialized once (they are reused every
round); ranks flow through the 8-round plan linearly (each round
references the previous once, so no 3^rounds lineage blow-up — unlike
the CC loop, no checkpoint-per-round is needed).  Per-node sums are
bounded by in_degree * PR_SCALE: a corpus whose maximum in-degree
approached 2^63 / (17 * PR_SCALE) ~ 5e5 would need PR_SCALE lowered —
near-dup graphs at 100 TB stay orders of magnitude below that because
upstream LSH banding bounds per-doc candidate fan-out.

Reference parity note: the reference engine (mongo-hadoop) has no graph
operators; this extends the dedup suite the way its examples extend
core jobs (cf. examples/enron pair graphs).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from mongo_hadoop_spark.operators.dedup import (
    CC_MAX_ROUNDS, EDGES_CTE_SQL, MINHASH_VERIFIED_SQL, _cc_label_ctes,
    connected_component_labels, dedup_minhash_verified,
)
from mongo_hadoop_spark.session import materialize

PR_SCALE = 10 ** 12      # fixed-point scale: 1.0 == 1e12
PR_DAMP_NUM = 17         # damping 0.85 == 17/20, exact in integers
PR_DAMP_DEN = 20
PR_ROUNDS = 8            # fixed iteration budget (operator contract)
PR_BASE = (3 * PR_SCALE) // PR_DAMP_DEN   # (1-d)*S == 0.15e12, exact


def _neardup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected verified near-dup pairs as a symmetric (src, dst)
    edge list (each pair emitted both ways)."""
    pairs = dedup_minhash_verified(spark, sf_dir).select("doc_a", "doc_b")
    return (pairs.select(F.col("doc_a").alias("src"),
                         F.col("doc_b").alias("dst"))
            .unionByName(pairs.select(F.col("doc_b").alias("src"),
                                      F.col("doc_a").alias("dst"))))


def graph_pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, rank_fp, deg) — fixed-point PageRank authority of every
    document that participates in the verified near-dup graph, after
    ``PR_ROUNDS`` exact-integer supersteps (see module docstring).

    ``rank_fp`` is the bigint fixed-point rank (PR_SCALE == 1.0);
    singleton documents (no verified pair) are not graph nodes and are
    excluded — their authority is the teleport floor by definition.
    """
    edges = _neardup_edges(spark, sf_dir)
    return (_pagerank_loop(edges)
            .select(F.col("node").alias("doc_id"), "rank_fp", "deg"))


def _pagerank_loop(edges: DataFrame) -> DataFrame:
    """(node, rank_fp, deg) after PR_ROUNDS supersteps over a symmetric
    (src, dst) edge list — the loop factored out so the authority-
    survivors composition can run it on an already-materialized pair
    set instead of regenerating pairs."""
    # edges/deg are reused by all rounds: materialize once so the
    # 8-round plan re-reads stored partitions instead of re-running the
    # upstream subplan (LSH+verify) per round.  Lazy (r13, guide §1.5):
    # both materialize inside the consumer's OWN first action — the
    # eager form paid two extra blocking driver jobs per query.
    edges = materialize(edges, "pagerank edges")
    deg = materialize(edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")), "pagerank degrees")

    ranks = deg.select("node", F.lit(PR_SCALE).cast("long").alias("rank_fp"),
                       "deg")
    for _ in range(PR_ROUNDS):
        contrib = ranks.select(
            "node", F.expr("rank_fp div deg").alias("c"))
        # r12 optimization (guide §2.4): one keyed aggregation per round
        # instead of agg + a second (deg LEFT JOIN insum) keyed join.
        # Every node is seeded with a zero contribution carrying its deg,
        # so the single groupBy computes insum (sum of longs + 0 — exact,
        # identical to the old coalesce(insum, 0)) AND recovers deg
        # (max over {deg, NULL…} = deg) — nodes with no in-contributions
        # get the teleport floor exactly as the left join gave them.
        # Saves one shuffle join of the rank table per superstep at any
        # scale; the integer recurrence is unchanged bit-for-bit.
        flows = (edges.join(contrib, edges.src == contrib.node)
                 .select(F.col("dst").alias("node"), "c",
                         F.lit(None).cast("long").alias("deg"))
                 .unionByName(deg.select(
                     "node", F.lit(0).cast("long").alias("c"), "deg")))
        ranks = (flows.groupBy("node")
                 .agg(F.sum("c").alias("insum"), F.max("deg").alias("deg"))
                 .select("node",
                         (F.lit(PR_BASE) + F.expr(
                             f"({PR_DAMP_NUM} * insum) "
                             f"div {PR_DAMP_DEN}")).alias("rank_fp"),
                         "deg"))
    return ranks


def _pr_ctes(rounds: int) -> list:
    """The unrolled PageRank CTE chain (deg, r0..r{rounds}) over an
    in-scope ``edges`` CTE — shared between the PageRank oracle and the
    authority-survivors oracle (the ``_lloyd_sql`` / ``_cc_sql``
    pattern — a recursive CTE cannot express keep-latest-per-node
    without materializing the whole history)."""
    ctes = ["""deg AS MATERIALIZED (
  SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1
)""",
            f"""r0 AS MATERIALIZED (
  SELECT node, {PR_SCALE}::bigint AS rank_fp, deg FROM deg
)"""]
    for r in range(1, rounds + 1):
        p = f"r{r - 1}"
        ctes.append(f"""r{r} AS MATERIALIZED (
  SELECT d.node,
         ({PR_BASE}::bigint
          + ({PR_DAMP_NUM} * coalesce(s.insum, 0)) // {PR_DAMP_DEN}
         )::bigint AS rank_fp,
         d.deg
  FROM deg d LEFT JOIN (
    SELECT e.dst AS node, sum(p.rank_fp // p.deg)::bigint AS insum
    FROM edges e JOIN {p} p ON p.node = e.src GROUP BY 1
  ) s ON s.node = d.node
)""")
    return ctes


def _pagerank_sql(rounds: int) -> str:
    """DuckDB oracle: the identical integer recurrence, unrolled."""
    ctes = ([f"vpairs AS MATERIALIZED ({MINHASH_VERIFIED_SQL})",
             EDGES_CTE_SQL] + _pr_ctes(rounds))
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT node AS doc_id, rank_fp, deg FROM r{rounds}")


PAGERANK_SQL = _pagerank_sql(PR_ROUNDS)


def graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(deg, n_nodes) — degree distribution of the verified near-dup
    graph: the shape report that tells a dedup operator whether the
    corpus has replica cliques (mass at high even degrees) or chained
    borderline pairs (mass at 1-2), and sizes the PageRank fan-out
    bound documented above.  One keyed agg over the symmetric edge
    list; integers only."""
    edges = _neardup_edges(spark, sf_dir)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg"))
    return deg.groupBy("deg").agg(F.count(F.lit(1)).alias("n_nodes"))


DEGREE_HIST_SQL = f"""
WITH vpairs AS MATERIALIZED ({MINHASH_VERIFIED_SQL}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM vpairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM vpairs
),
deg AS (
  SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1
)
SELECT deg, count(*) AS n_nodes FROM deg GROUP BY deg
"""


def dedup_survivors_by_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cluster_id, survivor, cluster_size, rank_fp) — for every near-dup
    cluster of size ≥ 2, the member to KEEP chosen by graph authority
    (highest fixed-point PageRank, doc_id-ascending tiebreak).

    The min-id representative (:func:`...dedup.dedup_connected_clusters`)
    is the cheap canonical policy; production pipelines often keep the
    *best* copy instead — the most-linked (highest-authority) variant is
    the published proxy (Common Crawl rank weighting).  This composes
    the CC labels with the PageRank scores: every member of a size ≥ 2
    cluster is by construction a pair-graph node, so the authority join
    is inner and lossless.

    Scale shape: the expensive part — LSH+verify pair generation — runs
    ONCE (materialized) and feeds BOTH the label propagation and the
    PageRank loop (the oracle shares its ``vpairs``/``edges`` CTEs the
    same way); on top sit one keyed agg (cluster sizes), two keyed
    joins, and a row_number window PARTITIONED BY cluster —
    cluster-local, never global; the (rank desc, doc_id asc) ordering
    is a total order, so the survivor is partitioning-independent and
    integer-exact.  Only pair-graph nodes appear (singletons need no
    survivor decision), so the CC labels come straight from
    :func:`...dedup.connected_component_labels` — every label group has
    size ≥ 2 by construction.
    """
    from pyspark.sql import Window

    # lazy (r13): the pair set materializes inside the first CC
    # superstep's own action instead of a separate blocking driver job
    pairs = materialize(dedup_minhash_verified(spark, sf_dir)
                        .select("doc_a", "doc_b"), "authority pairs")
    labels = connected_component_labels(pairs, "doc_a", "doc_b")
    edges = (pairs.select(F.col("doc_a").alias("src"),
                          F.col("doc_b").alias("dst"))
             .unionByName(pairs.select(F.col("doc_b").alias("src"),
                                       F.col("doc_a").alias("dst"))))
    pr = _pagerank_loop(edges).select(F.col("node").alias("doc_id"),
                                      "rank_fp")
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    w = (Window.partitionBy("label")
         .orderBy(F.col("rank_fp").desc(), F.col("doc_id").asc()))
    return (labels.withColumnRenamed("node", "doc_id")
            .join(sizes, "label").join(pr, "doc_id")
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(F.col("label").alias("cluster_id"),
                    F.col("doc_id").alias("survivor"),
                    "cluster_size", "rank_fp"))


def _survivors_sql() -> str:
    """Composed oracle: ONE vpairs/edges generation feeding both the CC
    label chain and the PageRank chain (their CTE names are disjoint:
    labels0..N vs deg/r0..N)."""
    ctes = ([f"vpairs AS MATERIALIZED ({MINHASH_VERIFIED_SQL})",
             EDGES_CTE_SQL]
            + _cc_label_ctes(CC_MAX_ROUNDS)
            + _pr_ctes(PR_ROUNDS)
            + [f"""sizes AS (
  SELECT label, count(*) AS cluster_size FROM labels{CC_MAX_ROUNDS}
  GROUP BY 1
)""",
               f"""ranked AS (
  SELECT l.label AS cluster_id, l.node AS doc_id, s.cluster_size,
         p.rank_fp,
         row_number() OVER (PARTITION BY l.label
                            ORDER BY p.rank_fp DESC, l.node ASC) AS rn
  FROM labels{CC_MAX_ROUNDS} l
  JOIN sizes s ON s.label = l.label
  JOIN r{PR_ROUNDS} p ON p.node = l.node
)"""])
    return ("WITH " + ",\n".join(ctes) + """
SELECT cluster_id, doc_id AS survivor, cluster_size, rank_fp
FROM ranked WHERE rn = 1
""")


SURVIVORS_BY_AUTHORITY_SQL = _survivors_sql()


QUERIES = {
    "graph_pagerank_neardup": graph_pagerank_neardup,
    "graph_degree_histogram": graph_degree_histogram,
    "dedup_survivors_by_authority": dedup_survivors_by_authority,
}

ORACLES = {
    "graph_pagerank_neardup": PAGERANK_SQL,
    "graph_degree_histogram": DEGREE_HIST_SQL,
    "dedup_survivors_by_authority": SURVIVORS_BY_AUTHORITY_SQL,
}

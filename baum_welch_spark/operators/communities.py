"""Community detection by synchronous label propagation (Raghavan et al.
2007) over an edge list — the companion of :mod:`.graph`'s PageRank and
:mod:`.dedup`'s connected components: where components answer "which docs
are transitively linked at all", label propagation finds DENSE regions
inside a component (a big weakly-joined blob splits into its duplicate
families), which is the granularity a dedup reviewer actually wants.

The reference has no graph surface (SURVEY §2.5); beyond-reference §2.7.

Determinism: textbook LPA breaks count ties randomly and updates
asynchronously; this implementation is the DETERMINISTIC variant —
synchronous rounds, FIXED iteration count, SELF-INCLUSIVE plurality
(the node's own label votes once beside its neighbors') with ties broken
by the smallest label — so the result is a pure function of the edge set
and both engines replay it bit-for-bit (all arithmetic is integer). The
self-vote is load-bearing, not a style choice: without it a synchronous
round on an isolated duplicate PAIR swaps the two labels every round (the
classic sync-LPA 2-cycle), so pairs — the most common duplicate family —
would never converge; with it, both endpoints tie {a:1+1, b:1+1} round 1
and the min-label rule settles them together immediately.

Scale posture (100 TB near-dup graph):

- One round = ONE shuffled aggregation: neighbor labels grouped by
  (dst, label) with map-side partial counts, then a per-dst top-1 window
  (dst-count parallelism, never a global sort). Edge frame is persisted
  hash-partitioned on ``src`` once, so per-round work re-uses the same
  co-location exactly like :func:`.graph.pagerank`.
- Label frames are node-count-sized and localCheckpoint'ed per round
  (truncates lineage; both the join and next round read materialized
  partitions).
- Iterations are FIXED (default 4): on near-dup graphs the diameter of a
  duplicate family is tiny, and fixed rounds keep the DuckDB oracle a
  plain unrolled CTE chain (same trick as ``pagerank_docs_sql``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _lp_step(labels: DataFrame, edges: DataFrame) -> DataFrame:
    """One synchronous round: (node, label) -> (node, label).

    New label of v = the plurality over {v's own label} union {labels of
    v's in-neighbors} (edges are symmetrized by the callers, so in == out),
    smallest label on count ties. Exactly one shuffled count + a per-node
    window; the self-vote rides the same aggregation as one extra row per
    node (node-count-sized, dwarfed by the edge stream).
    """
    votes = edges.join(labels, edges.src == labels.node).select(
        F.col("dst"), "label"
    ).unionByName(labels.select(F.col("node").alias("dst"), "label"))
    counted = votes.groupBy("dst", "label").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("dst").orderBy(F.desc("cnt"), F.asc("label"))
    return (
        counted.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(F.col("dst").alias("node"), "label")
    )


def label_propagation(
    edges: DataFrame, max_iter: int = 4, stop_when_stable: bool = False
) -> DataFrame:
    """Deterministic synchronous LPA over directed ``(src, dst)`` edges
    (symmetrize first for the undirected reading; parallel edges count
    once — dedup is applied here). Nodes = union of srcs and dsts; initial
    label = own node id. Isolated nodes cannot exist in an edge list; a
    node with no IN-edges keeps its previous label through the self-vote.

    ``stop_when_stable=True`` ends the loop early once a round changes no
    label — on a 100 TB graph the rounds ARE the cost, and duplicate
    families usually settle in 2-3; the stability probe is one
    node-count-sized join + ``limit(1)`` count per round, cheap next to
    the round's edge-sized count shuffle. Because the update rule is a
    pure function of the label frame, a stable round is a FIXPOINT: every
    later round reproduces it, so early-stop output is identical to
    running all ``max_iter`` rounds (pytest-pinned). The driver face keeps
    the default (fixed rounds) so the unrolled-CTE oracle replays the
    exact same computation.

    Returns ``(node, label)`` where ``label`` is the smallest-id convention
    community representative after at most ``max_iter`` rounds.
    """
    edges = edges.select("src", "dst").distinct().repartition("src").persist()
    # nodes feeds exactly one consumer (the initial label frame, which the
    # first loop iteration eagerly checkpoints), so it needs no persist
    nodes = edges.select(F.col("src").alias("node")).unionByName(
        edges.select(F.col("dst").alias("node"))
    ).distinct()
    labels = nodes.select("node", F.col("node").alias("label"))
    labels_materialized = False
    try:
        for _ in range(max_iter):
            # each round's label frame is read twice (the step join and, in
            # stable mode, the stability probe), so it must be materialized
            # exactly ONCE — the stable path already checkpointed `stepped`
            # at probe time, so don't pay a second copy here
            if not labels_materialized:
                # LAZY checkpoint (r15, same A/B-backed cut as pagerank):
                # the round's aggregation job materializes the frame; both
                # consumers (edge join + self-vote union) read the cached
                # blocks (at most one cached copy per partition; the two
                # may race to compute one before its block lands), all-
                # integer arithmetic unchanged. Matched-load min-of-4 A/B:
                # 4.26 vs 4.87 s on label_prop_docs, pairwise consistent.
                labels = labels.localCheckpoint(eager=False)
            # the self-vote guarantees every node appears in the step output
            # (no-in-edge nodes keep their label by winning their own
            # single-vote plurality), so no keep-previous join is needed
            stepped = _lp_step(labels, edges)
            if stop_when_stable:
                stepped = stepped.localCheckpoint(eager=True)
                changed = (
                    stepped.join(
                        labels.withColumnRenamed("label", "prev"), "node"
                    )
                    .filter(F.col("label") != F.col("prev"))
                    .limit(1)
                    .count()
                )
                if changed == 0:
                    return stepped
                labels_materialized = True
            labels = stepped
        return labels.localCheckpoint(eager=True)
    finally:
        edges.unpersist()


def label_prop_docs(
    documents: DataFrame,
    threshold: float = 0.4,
    max_iter: int = 4,
    pair_generator=None,
) -> DataFrame:
    """Duplicate-family communities of the near-dup similarity graph: the
    same symmetrized exact-trigram-Jaccard edges as
    :func:`.graph.pagerank_docs` (``pair_generator`` swaps in the banded
    MinHash path for the 100 TB corpus, same convention), labels propagated
    ``max_iter`` deterministic rounds. Isolated docs are absent (no edges).

    Output: ``(doc_id, community)`` ordered by (community, doc_id).
    """
    from baum_welch_spark.operators.dedup import neardup_jaccard

    if pair_generator is None:
        pairs = neardup_jaccard(documents, threshold=threshold)
    else:
        pairs = pair_generator(documents)
    # materialize the id-pair table once before the symmetric union — its
    # two branches would otherwise each re-run the whole pair pipeline
    # inside label_propagation's edge persist (guide §3.3; same fix as
    # pagerank_docs)
    pairs = pairs.localCheckpoint(eager=False)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    return (
        label_propagation(edges, max_iter=max_iter)
        .select(F.col("node").alias("doc_id"), F.col("label").alias("community"))
        .orderBy("community", "doc_id")
    )


def label_prop_docs_sql(max_iter: int = 4, threshold: float = 0.4) -> str:
    """DuckDB oracle for :func:`label_prop_docs`: the fixed-round
    propagation UNROLLED into plain CTE stages (the ``pagerank_docs_sql``
    trick — recursive CTEs cannot aggregate over the recursive reference,
    fixed rounds do not need one). Every stage is the same self-inclusive
    integer count + (count DESC, label ASC) top-1 the Spark window runs
    (the self-vote rides a UNION ALL of the previous stage); the edge
    chain is the SHARED :func:`..dedup.jaccard_pairs_ctes` fragment (one
    copy of the committed trigram-Jaccard math), symmetrized. All
    arithmetic is integer, so the two engines agree bit-for-bit.
    """
    from baum_welch_spark.operators.dedup import jaccard_pairs_ctes

    stages = []
    for r in range(1, max_iter + 1):
        stages.append(f"""l{r} AS (
  SELECT dst AS node, label FROM (
    SELECT dst, label, count(*) AS cnt,
           row_number() OVER (
             PARTITION BY dst ORDER BY count(*) DESC, label ASC
           ) AS rk
    FROM (
      SELECT e.dst, l.label
      FROM edges e JOIN l{r - 1} l ON l.node = e.src
      UNION ALL
      SELECT node AS dst, label FROM l{r - 1}
    )
    GROUP BY dst, label
  ) WHERE rk = 1
)""")
    unrolled = ",\n".join(stages)
    return f"""
WITH {jaccard_pairs_ctes(threshold)},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
l0 AS (SELECT node, node AS label FROM nodes),
{unrolled}
SELECT node AS doc_id, label AS community
FROM l{max_iter}
ORDER BY community, doc_id
"""


#: the face's oracle (driver-contract parameters)
LABEL_PROP_DOCS_SQL = label_prop_docs_sql()

"""Distributed PageRank over an edge list — graph centrality for the
near-dup/link graphs the dedup suite already builds (beyond-reference; the
reference has no graph surface, SURVEY §2.7 north star alongside
``dedup.connected_components``).

Scale posture: each power iteration is ONE shuffle — contributions
``rank/out_degree`` grouped by destination (map-side partial agg; Catalyst
plans it like any sum). Degrees are computed once and join by node id
(id-only shuffle). Dangling-node mass is a 1-row aggregate broadcast into
the update (never a driver-side loop over nodes). Lineage is truncated with
``localCheckpoint`` once per iteration (the frame is node-count-sized),
which also means the two consumers of each iteration's ranks (contribution
join + dangling-mass aggregate) read materialized partitions instead of
re-evaluating the previous iteration's lineage. Rank frame is
node-count-sized and stays distributed; nothing corpus-sized ever reaches
the driver.

DuckDB-exact in the driver contract since r8: SQL recursive CTEs cannot
aggregate over the recursive reference, but the iteration count is FIXED
(max_iter=6), so :func:`pagerank_docs_sql` UNROLLS the power iteration
into one plain CTE stage per step — each stage is the same grouped sum
the Spark plan runs, with the driver-side Python double constants
((1-d)/n, 1/n) reproduced bit-for-bit via full-precision literals (the
ghmm inline-literal trick). The near-dup edge set is symmetric, so no
node is dangling and the dangling-mass term is exactly 0.0 on both
engines. pytest additionally pins the kernel against an in-memory NumPy
power iteration and the sum-to-one invariant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _pagerank_step(
    ranks: DataFrame, nd: DataFrame, edges: DataFrame, damping: float, n: int
) -> DataFrame:
    """One power iteration: (node, rank, deg) -> (node, rank, deg).

    Exactly the plan the module docstring promises — contributions
    ``rank/deg`` joined to edges and grouped by destination (one shuffled
    agg with map-side partial), dangling mass as a 1-row broadcast, and a
    left join back onto the degree table. Extracted so
    ``tests/test_graph.py`` can pin the per-iteration shuffle count; the
    loop in :func:`pagerank` calls this verbatim.
    """
    contrib = (
        ranks.where(F.col("deg").isNotNull())
        .join(edges, ranks.node == edges.src)
        .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
        .groupBy("dst")
        .agg(F.sum("c").alias("inflow"))
    )
    dangling = ranks.where(F.col("deg").isNull()).agg(
        F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")
    )
    return (
        nd.join(contrib, nd.node == contrib.dst, "left")
        .crossJoin(F.broadcast(dangling))
        .select(
            "node",
            (
                F.lit((1.0 - damping) / n)
                + F.lit(damping)
                * (F.coalesce(F.col("inflow"), F.lit(0.0)) + F.col("dm") / n)
            ).alias("rank"),
            "deg",
        )
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    max_iter: int = 10,
) -> DataFrame:
    """PageRank over directed ``(src, dst)`` edges (self-loops allowed,
    parallel edges count once — dedup them first if that is not intended).

    Nodes = union of srcs and dsts. Returns (node, rank) with
    ``sum(rank) == 1`` (dangling mass redistributed uniformly each step).
    """
    # persist the deduped edge list PRE-PARTITIONED on the join key: every
    # iteration joins ranks.node == edges.src, and a cached
    # hashpartitioning(src) frame satisfies the join's distribution
    # requirement (canChangeCachedPlanOutputPartitioning=false keeps AQE
    # from re-coalescing it), so the EDGE-SIZED shuffle happens once at
    # setup instead of once per iteration — at 100 TB the edge list dwarfs
    # the node-count-sized rank frame, so this is the shuffle that matters.
    # The caller's edge source may also be an expensive derivation (e.g.
    # the Jaccard shingle self-join), which persist covers too.
    edges = edges.select("src", "dst").distinct().repartition("src").persist()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    if n == 0:
        return nodes.select("node", F.lit(0.0).alias("rank"))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # out-degree table: nodes with no out-edges are dangling (deg null).
    # Same trick: cache it hashpartitioned(node) so the per-iteration
    # update join never re-shuffles the degree table.
    nd = (
        nodes.join(deg, nodes.node == deg.src, "left")
        .select("node", "deg")
        .repartition("node")
        .persist()
    )
    ranks = nd.select("node", F.lit(1.0 / n).alias("rank"), "deg")
    try:
        for it in range(max_iter):
            # materialize the CURRENT ranks before branching: both contrib
            # and dangling read it, so an unpersisted frame would evaluate
            # the previous iteration's lineage twice per iteration (2^k
            # recomputation growth between the old every-4 checkpoints).
            # The frame is node-count-sized; one eager checkpoint per
            # iteration is cheap and also truncates lineage, so no separate
            # periodic checkpoint is needed.
            # LAZY checkpoint (r15, the bpe_merges job-count lesson): eager
            # ran one dedicated materialization job per iteration; lazy
            # folds the materialization into the iteration's own dangling-
            # broadcast/step job — the checkpoint still truncates lineage at
            # compile time and keeps at most one cached copy of each
            # partition (the two consumers read the cached blocks, though
            # they may race to compute the same partition before its block
            # lands; the values are deterministic). Nothing unpersists
            # intermediate rank checkpoints, so there is no lost-block
            # hazard (the connected_components counter-case). Matched-load
            # min-of-4 A/B: 6.42 vs 6.75 s on pagerank_docs, every lazy run
            # under its paired eager run.
            ranks = ranks.localCheckpoint(eager=False)
            ranks = _pagerank_step(ranks, nd, edges, damping, n)
        # final eager checkpoint: the persisted inputs are unpersisted on
        # the way out, so the returned frame must not keep them (or the
        # iteration lineage) as dependencies
        ranks = ranks.select("node", F.round("rank", 8).alias("rank")).localCheckpoint(
            eager=True
        )
        return ranks
    finally:
        edges.unpersist()
        nodes.unpersist()
        nd.unpersist()


def pagerank_docs(
    documents: DataFrame,
    threshold: float = 0.4,
    max_iter: int = 6,
    pair_generator=None,
) -> DataFrame:
    """Centrality of documents in the near-dup similarity graph: near-dup
    pairs as undirected edges, PageRank over them — high-rank docs sit in
    the middle of big duplicate families (a prioritization signal for
    manual dedup review). Isolated docs are absent (no edges).

    ``pair_generator`` follows the ``clean_corpus``/``canonical_docs``
    convention: ``None`` uses exact trigram Jaccard for oracle parity (the
    all-pairs-flavored shingle join is the scale ceiling); pass a callable
    ``documents -> (doc_a, doc_b, ...)`` such as
    ``lambda d: minhash_lsh_pairs(d)`` for the banded 100 TB path — the
    PageRank core itself is scale-clean either way (one grouped-sum shuffle
    per iteration).

    Output: (doc_id, rank) ordered by rank desc, doc_id asc.
    """
    from baum_welch_spark.operators.dedup import neardup_jaccard

    if pair_generator is None:
        pairs = neardup_jaccard(documents, threshold=threshold)
    else:
        pairs = pair_generator(documents)
    # materialize the id-pair table once before the symmetric union: the
    # union's two branches would otherwise each re-run the whole pair
    # pipeline (shingle explode + pair gen + verify joins) inside the
    # pagerank edge persist's first materialization (guide §3.3)
    pairs = pairs.localCheckpoint(eager=False)
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    return (
        pagerank(edges, max_iter=max_iter)
        .select(F.col("node").alias("doc_id"), "rank")
        .orderBy(F.desc("rank"), F.asc("doc_id"))
    )


def pagerank_docs_sql(
    damping: float = 0.85, max_iter: int = 6, threshold: float = 0.4
) -> str:
    """DuckDB oracle for :func:`pagerank_docs`: the fixed-count power
    iteration UNROLLED into ``max_iter`` plain CTE stages (recursive CTEs
    cannot aggregate over the recursive reference; a fixed iteration count
    does not need one). Must mirror the Spark plan exactly:

    - same exact-trigram-Jaccard pair graph (dedup.NEARDUP_JACCARD_SQL's
      chain at this face's threshold), symmetrized — so every node has an
      out-edge and the dangling-mass term is exactly 0.0 on both engines;
    - Spark computes ``(1-d)/n`` and the ``1/n`` init as PYTHON doubles on
      the driver and embeds them via F.lit; the SQL reproduces the same
      bits by casting the repr'd intermediate through DOUBLE before the
      division (decimal literals would otherwise divide as DECIMAL);
    - per stage: rank' = (1-d)/n + d * COALESCE(SUM(rank/deg) over
      in-edges, 0) — double/bigint division and a double sum, the same
      IEEE ops Catalyst runs;
    - final round(rank, 8), the face convention.
    """
    one_minus_d = repr(1.0 - damping)  # e.g. '0.15000000000000002'
    d = repr(damping)
    stages = []
    for k in range(1, max_iter + 1):
        stages.append(f"""r{k} AS (
  SELECT n2.node,
         CAST('{one_minus_d}' AS DOUBLE) / nn.n
           + CAST('{d}' AS DOUBLE) * COALESCE(i.inflow, CAST(0 AS DOUBLE)) AS rank
  FROM nodes n2
  CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst AS node, SUM(r.rank / d.deg) AS inflow
    FROM edges e
    JOIN r{k - 1} r ON r.node = e.src
    JOIN deg d ON d.node = e.src
    GROUP BY e.dst
  ) i ON i.node = n2.node
)""")
    unrolled = ",\n".join(stages)
    return f"""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
  WHERE len(string_split(text, ' ')) >= 3
),
sh AS (
  SELECT DISTINCT doc_id, ws[g] || ' ' || ws[g+1] || ' ' || ws[g+2] AS s
  FROM words, unnest(generate_series(1, len(ws) - 2)) AS t(g)
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
-- mirror of the Spark side's max_doc_freq=1000 hot-shingle cap (see
-- dedup.NEARDUP_JACCARD_SQL)
cold AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 1000),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  JOIN cold ON cold.s = a.s
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b
  FROM inter
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE round(c * 1.0 / (sa.n + sb.n - c), 6) >= {threshold}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
nn AS (SELECT count(*) AS n FROM nodes),
deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY src),
r0 AS (SELECT nodes.node, CAST(1.0 AS DOUBLE) / nn.n AS rank FROM nodes CROSS JOIN nn),
{unrolled}
SELECT node AS doc_id, round(rank, 8) + 0.0 AS rank
FROM r{max_iter}
"""


def _canonical_und_deg(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Shared canonicalization for the triangle family: undirected deduped
    (a < b) pairs and per-node degrees — computed ONCE and reused by both
    triangle_counts and clustering_coefficient (each used to rebuild its
    own copy; plans are trees, so that re-executed the canonicalize +
    degree shuffles per caller)."""
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return und, deg


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over an undirected edge list — the standard
    graph-quality/cohesion metric next to PageRank (beyond-reference; the
    reference has no graph surface).

    Physical strategy (compact-forward / degree orientation): every
    undirected edge is DIRECTED from its (degree, id)-smaller endpoint to
    the larger, which makes the orientation a total order — each triangle
    {x, y, z} with x < y < z under that order appears exactly once as the
    wedge (x→y, x→z) closed by (y→z). The wedge self-join therefore fans
    out per node by its OUT-degree under the orientation, which is
    O(sqrt(|E|)) for any graph (a node of degree d only keeps out-edges to
    neighbors of degree >= d) — the classical fix for the naive adjacency
    self-join whose skew is quadratic in the max degree. Hub nodes cost
    what their low-degree neighbors allow, not deg^2.

    Shuffles: canonicalize+distinct (1), degree agg (1), two id-keyed
    degree-attach joins, the wedge self-join keyed on the apex, and the
    closing join keyed on the (v, w) pair — all id-only rows, no payload
    columns travel. Output: (node, n_triangles), nodes in no triangle
    absent.
    """
    und, deg = _canonical_und_deg(edges)
    return _triangle_counts_from(und, deg)


def _triangle_counts_from(und: DataFrame, deg: DataFrame) -> DataFrame:
    e = und.join(
        deg.select(F.col("node").alias("a"), F.col("deg").alias("da")), "a"
    ).join(deg.select(F.col("node").alias("b"), F.col("deg").alias("db")), "b")
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    # localCheckpoint: the oriented edge list (two longs per row) is
    # referenced three times (both wedge sides + the closing join) — Spark
    # plans are trees, so each reference would re-plan AND re-execute the
    # whole canonicalize+degree+attach chain (and re-print it in every
    # audit). Cutting lineage materializes the edge-sized frame once and
    # keeps the downstream plan three scans + two joins — the same
    # truncation the pagerank loop uses, with the same trade: local
    # checkpoints live in EXECUTOR storage, so losing an executor mid-job
    # loses those partitions and fails the job (rerun from source) — the
    # price of dropping the lineage, not a durability feature.
    oriented = e.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    ).localCheckpoint()
    o1 = oriented.select("u", F.col("v").alias("v1"))
    o2 = oriented.select("u", F.col("v").alias("v2"))
    # both (y, z) and (z, y) wedges are generated; only the one matching the
    # oriented closing edge survives the join, so each triangle lands once
    wedges = o1.join(o2, "u").where(F.col("v1") != F.col("v2"))
    tri = wedges.join(
        oriented.select(F.col("u").alias("v1"), F.col("v").alias("v2")),
        ["v1", "v2"],
    )
    # one row per (triangle, member) via explode — NOT a 3-way unionAll of
    # tri, which would plan (and run) the wedge+closing joins three times
    members = tri.select(
        F.explode(F.array(F.col("u"), F.col("v1"), F.col("v2"))).alias("node")
    )
    return members.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


def triangle_docs(
    documents: DataFrame, threshold: float = 0.4, pair_generator=None
) -> DataFrame:
    """Triangle participation per document in the near-dup similarity graph
    — triangles are the signature of duplicate FAMILIES (a family of k
    near-identical docs is a k-clique: C(k-1, 2) triangles per member),
    where a plain pair count cannot distinguish a hub-and-spokes template
    match from a true mutual-duplicate cluster.

    ``pair_generator`` follows the ``pagerank_docs`` convention: ``None``
    uses exact trigram Jaccard for oracle parity; pass e.g.
    ``lambda d: minhash_lsh_pairs(d)`` for the banded 100 TB path — the
    triangle core (:func:`triangle_counts`) is degree-oriented and
    scale-clean either way.

    Output: (doc_id, n_triangles) ordered by count desc, doc_id asc.
    """
    from baum_welch_spark.operators.dedup import neardup_jaccard

    if pair_generator is None:
        pairs = neardup_jaccard(documents, threshold=threshold)
    else:
        pairs = pair_generator(documents)
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    return (
        triangle_counts(edges)
        .select(F.col("node").alias("doc_id"), "n_triangles")
        .orderBy(F.desc("n_triangles"), F.asc("doc_id"))
    )


def triangle_docs_sql(threshold: float = 0.4) -> str:
    """DuckDB oracle for :func:`triangle_docs`: the same exact-trigram-
    Jaccard pair chain as ``pagerank_docs_sql`` (canonical doc_a < doc_b
    pairs), then triangles as the classical ordered 3-way self-join — the
    id-ordered enumeration finds the identical triangle set the Spark
    side's degree-ordered orientation does (both are total orders over the
    same undirected graph), so per-doc counts match exactly."""
    return f"""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
  WHERE len(string_split(text, ' ')) >= 3
),
sh AS (
  SELECT DISTINCT doc_id, ws[g] || ' ' || ws[g+1] || ' ' || ws[g+2] AS s
  FROM words, unnest(generate_series(1, len(ws) - 2)) AS t(g)
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
-- mirror of the Spark side's max_doc_freq=1000 hot-shingle cap (see
-- dedup.NEARDUP_JACCARD_SQL)
cold AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 1000),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  JOIN cold ON cold.s = a.s
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b
  FROM inter
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE round(c * 1.0 / (sa.n + sb.n - c), 6) >= {threshold}
),
tri AS (
  SELECT e1.doc_a AS x, e1.doc_b AS y, e2.doc_b AS z
  FROM pairs e1
  JOIN pairs e2 ON e2.doc_a = e1.doc_b
  JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
),
members AS (
  SELECT x AS doc_id FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
)
SELECT doc_id, count(*) AS n_triangles
FROM members GROUP BY doc_id
ORDER BY n_triangles DESC, doc_id ASC
"""


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Local clustering coefficient per node: cc = 2*tri / (deg*(deg-1))
    — how close a node's neighborhood is to a clique (1.0 inside a
    duplicate family, 0.0 at a template hub), the per-node normalization
    of :func:`triangle_counts`. Degree-1 nodes have undefined cc and are
    emitted with cc = 0.0 (the common convention; they close nothing).

    Plan: the triangle kernel plus an id-keyed left join — the
    canonicalize + degree chain is computed once and shared with the
    kernel (_canonical_und_deg), not rebuilt per caller.
    """
    und, deg = _canonical_und_deg(edges)
    tri = _triangle_counts_from(und, deg)
    return deg.join(tri, "node", "left").select(
        "node",
        "deg",
        F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
        F.when(
            F.col("deg") >= 2,
            F.round(
                2.0 * F.coalesce(F.col("n_triangles"), F.lit(0))
                / (F.col("deg") * (F.col("deg") - 1)),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("cc"),
    )

"""Graph analytics over the user-interaction graph: PageRank,
triangle counting / local clustering, and the degree profile.

The graph: within each event_type stream ordered by (ts, event_id),
consecutive events by different users form a directed interaction
edge prev_user → user (the same one-pass lag-window core as
queries/behavior.py's event_transitions, keyed at user grain instead
of type grain). Nodes ~ |users|, edges ~ |events| — the realistic
shape: a huge sparse multigraph built in ONE window pass, no
self-join. (Closest reference analog: the transition-matrix EDA in
eda/Data_Minions_EDA_Milestone4.ipynb stops at type-level counts;
these operators complete the user-level graph story a curation
pipeline needs for authority weighting and community structure.)

Spark-first shapes, all exact-integer so the DuckDB twins hash
bit-for-bit:

  * graph_pagerank — fixed-K power iteration in BIGINT nano-units
    (SCALE = 1e12): r₀ = SCALE div n, then K rounds of
       r'(v) = T + (85 · Σ_{u→v} (r(u)·w) div W(u)) div 100,
       T = (15·SCALE) div (100·n)
    — the teleport-only damping variant (dangling mass is allowed to
    leak; ranks stay well-defined and the recurrence needs exactly one
    aggregate per round, so the DuckDB recursive-CTE twin is the SAME
    recurrence). Zero-weight self-loops keep every node receiving a
    row each round without an outer join against the node set. All
    operands non-negative, so Spark's `div` (truncate) and DuckDB's
    `//` agree exactly.
    Scale: each round is one shuffle keyed by dst (partial-combinable
    sum) plus one keyed join back to the edge list — the canonical
    distributed PageRank step; K is fixed, lineage is truncated with a
    lazy localCheckpoint per round (materialized by the final action;
    prefer reliable checkpoint() on a real cluster). The single driver
    action is one bounded count() for n. Overflow bound: r ≤ SCALE so
    r·w needs w < 9.2e6·SCALE⁻¹·2⁶³ ≈ 9.2e6 per edge pair — at true
    100-TB multiplicities promote the product to DECIMAL(38,0).

  * graph_triangles — per-node triangle participation + local
    clustering coefficient via the degree-ordered orientation trick
    (Schank–Wagner; Cohen's MapReduce form): orient each undirected
    edge from its (degree, id)-smaller endpoint, so every triangle is
    generated exactly once and the e1⋈e2 wedge join's fan-out per node
    is bounded by its ORIENTED out-degree ≤ O(√E) amortized — never
    the raw degree of a celebrity node. Equality-key joins only.

  * graph_degree_profile — the degree histogram (bounded output:
    one row per distinct degree).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._util import session_artifact, table

PR_SCALE = 1_000_000_000_000  # BIGINT nano-units: 1.0 == 1e12
PR_ITERS = 6
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  # damping 0.85 as exact integers


def _edges(ev: DataFrame) -> DataFrame:
    """Directed weighted interaction edges (src, dst, w): consecutive
    distinct users within each event_type stream, one window pass."""
    # nulls pinned explicitly: Spark's asc default is NULLS FIRST but
    # DuckDB's is NULLS LAST — a null event_id on a tied ts would
    # otherwise produce different edge sets between the twins (ts
    # itself is filtered non-null upstream)
    w = Window.partitionBy("event_type") \
              .orderBy(F.col("ts").asc_nulls_first(),
                       F.col("event_id").asc_nulls_first())
    return (ev.withColumn("_prev", F.lag("user_id").over(w))
              .filter(F.col("_prev").isNotNull()
                      & (F.col("_prev") != F.col("user_id")))
              .groupBy(F.col("_prev").alias("src"),
                       F.col("user_id").alias("dst"))
              .agg(F.count(F.lit(1)).alias("w")))


def _event_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r16 (guide §1.2): the edge build is one full events scan + a
    # per-type window pass; all three graph entries (and the aug /
    # oriented builds) consumed it independently — persist it once
    def build() -> DataFrame:
        ev = (table(spark, sf_dir, "events")
              .filter(F.col("user_id").isNotNull()
                      & F.col("ts").isNotNull())
              .select("event_id", "user_id", "event_type", "ts"))
        return _edges(ev).persist()
    return session_artifact(spark, ("graph.edges", sf_dir), build)


def _pr_nodes(edges: DataFrame) -> DataFrame:
    return (edges.select(F.col("src").alias("node"))
                 .union(edges.select(F.col("dst").alias("node")))
                 .distinct())


def _pr_augmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted PageRank join side: edges + zero-weight self-loops
    (every node receives >= 1 row per round), with per-src out-weight
    attached, PRE-PARTITIONED AND SORTED by src (r16, guide §2.4) — the
    join key every round probes — so the iteration joins reuse the
    cached layout instead of re-exchanging + re-sorting the (at scale,
    huge) edge side six times. Exactly the bucketed-table discipline
    for iterative algorithms; row values are untouched. Split out of
    q_graph_pagerank (r17) so warm_graph_family can materialize it as
    part of the visible artifact entry."""
    edges = _event_graph(spark, sf_dir)
    nodes = _pr_nodes(edges)

    def _build_aug() -> DataFrame:
        a = edges.unionByName(
            nodes.select(F.col("node").alias("src"),
                         F.col("node").alias("dst"),
                         F.lit(0).cast("long").alias("w")))
        outw = a.groupBy("src").agg(
            F.greatest(F.sum("w"), F.lit(1)).alias("outw"))
        return (a.join(outw, "src")
                 .repartition("src")
                 .sortWithinPartitions("src")
                 .persist())

    return session_artifact(spark, ("graph.pr_aug", sf_dir), _build_aug)


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, pr_e12): fixed-6-round integer PageRank over the
    interaction graph; pr_e12 is the rank in exact 1e-12 units."""
    edges = _event_graph(spark, sf_dir)
    nodes = _pr_nodes(edges)
    aug = _pr_augmented(spark, sf_dir)
    # one bounded action for BOTH driver scalars: n, and the max edge
    # weight that enforces the documented BIGINT bound (r ≤ SCALE, so
    # r·w stays inside int64 only while w ≤ (2⁶³-1)/SCALE ≈ 9.2e6 —
    # Spark's non-ANSI BIGINT would wrap SILENTLY past it while
    # DuckDB promotes to HUGEINT, a silent twin divergence)
    stats = aug.agg(F.countDistinct("src").alias("n"),
                    F.max("w").alias("maxw")).first()
    n = max(int(stats["n"]), 1)
    w_bound = (2 ** 63 - 1) // PR_SCALE
    if stats["maxw"] is not None and int(stats["maxw"]) > w_bound:
        raise ValueError(
            f"pagerank edge weight {stats['maxw']} exceeds the int64 "
            f"bound {w_bound} for SCALE={PR_SCALE}; promote the r*w "
            "product to DECIMAL(38,0) on both engines before raising "
            "the bound")
    teleport = (15 * PR_SCALE) // (100 * n)
    ranks = nodes.select("node", F.lit(PR_SCALE // n).alias("r"))
    # r16: the per-round lazy localCheckpoint is GONE — its RDD scan
    # erased the partitioning/ordering every round, forcing a fresh
    # exchange+sort of BOTH join sides. As one 6-round plan, the
    # groupBy(dst) output is already hash-partitioned on dst, which
    # the alias `dst AS node` carries into the next round's join
    # requirement (alias-aware output partitioning), so each round
    # pays exactly its one inherent contribution shuffle, and the six
    # probes of the persisted src-partitioned edge table collapse to
    # ReusedExchange/InMemory scans. K is fixed at 6, so the single
    # plan stays bounded; on a real cluster prefer reliable
    # checkpoint() every few rounds for fault tolerance at high K.
    for _ in range(PR_ITERS):
        contrib = (ranks.join(aug, ranks["node"] == aug["src"])
                        .groupBy("dst")
                        .agg(F.sum(F.expr("(r * w) div outw")).alias("s")))
        ranks = contrib.select(
            F.col("dst").alias("node"),
            (F.lit(teleport)
             + F.expr(f"({PR_DAMP_NUM} * s) div {PR_DAMP_DEN}"))
            .alias("r"))
    return ranks.select(F.col("node").alias("user_id"),
                        F.col("r").alias("pr_e12"))  # O(nodes): unsorted


def _und_deg(spark: SparkSession, sf_dir: str) \
        -> tuple[DataFrame, DataFrame]:
    """Persisted undirected edge set + degree table — shared by
    graph_triangles (which reads deg twice: orientation build and the
    final join) and graph_degree_profile (r16, guide §1.2)."""
    edges = _event_graph(spark, sf_dir)
    und = session_artifact(
        spark, ("graph.und", sf_dir),
        lambda: edges.select(F.least("src", "dst").alias("a"),
                             F.greatest("src", "dst").alias("b"))
                    .distinct().persist())
    deg = session_artifact(
        spark, ("graph.deg", sf_dir),
        lambda: und.select(F.col("a").alias("node"))
                   .unionByName(und.select(F.col("b").alias("node")))
                   .groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
                   .persist())
    return und, deg


def _tri_oriented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted degree-oriented edge set (each a--b directed from its
    (degree, id)-smaller endpoint) — the triangle join's probe side.
    Split out of q_graph_triangles (r17) so warm_graph_family can
    materialize it as part of the visible artifact entry."""
    und, deg = _und_deg(spark, sf_dir)

    def _build_oriented() -> DataFrame:
        smaller_first = ((F.col("da") < F.col("db"))
                         | ((F.col("da") == F.col("db"))
                            & (F.col("a") < F.col("b"))))
        return (und.join(deg.select(F.col("node").alias("a"),
                                    F.col("degree").alias("da")), "a")
                   .join(deg.select(F.col("node").alias("b"),
                                    F.col("degree").alias("db")), "b")
                   .select(
                       F.when(smaller_first, F.col("a"))
                        .otherwise(F.col("b")).alias("u"),
                       F.when(smaller_first, F.col("b"))
                        .otherwise(F.col("a")).alias("v"))
                   .persist())

    return session_artifact(spark, ("graph.tri_oriented", sf_dir),
                            _build_oriented)


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, degree, triangles, local_cc): per-node triangle count
    and local clustering coefficient on the undirected simple graph."""
    _, deg = _und_deg(spark, sf_dir)
    o = _tri_oriented(spark, sf_dir)
    e1, e2, e3 = o.alias("e1"), o.alias("e2"), o.alias("e3")
    tri = (e1.join(e2, F.col("e1.v") == F.col("e2.u"))
             .join(e3, (F.col("e3.u") == F.col("e1.u"))
                       & (F.col("e3.v") == F.col("e2.v")))
             .select(F.col("e1.u").alias("x"),
                     F.col("e1.v").alias("y"),
                     F.col("e2.v").alias("z")))
    per_node = (tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
                   .groupBy("node").agg(F.count(F.lit(1)).alias("t")))
    return (deg.join(per_node, "node", "left")
               .select(
                   F.col("node").alias("user_id"),
                   "degree",
                   F.coalesce("t", F.lit(0)).alias("triangles"),
                   F.round(
                       F.when(F.col("degree") >= 2,
                              (2 * F.coalesce("t", F.lit(0)))
                              .cast("double")
                              / (F.col("degree")
                                 * (F.col("degree") - 1)).cast("double"))
                        .otherwise(F.lit(0.0)), 6)
                    .alias("local_cc")))  # O(nodes): unsorted


def q_graph_degree_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(degree, n_nodes): undirected-degree histogram, bounded output."""
    _, deg = _und_deg(spark, sf_dir)
    return (deg.groupBy("degree")
               .agg(F.count(F.lit(1)).alias("n_nodes"))
               .orderBy("degree"))  # bounded: distinct degrees


_SQL_EDGES = """
tr AS (
  SELECT user_id,
         LAG(user_id) OVER (PARTITION BY event_type
                            ORDER BY ts NULLS FIRST,
                                     event_id NULLS FIRST) AS prev
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
e0 AS (
  SELECT prev AS src, user_id AS dst, COUNT(*) AS w
  FROM tr WHERE prev IS NOT NULL AND prev <> user_id
  GROUP BY src, dst
)"""

_SQL_UND_DEG = """
und AS (
  SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM e0 GROUP BY 1, 2
),
deg AS (
  SELECT node, COUNT(*) AS degree
  FROM (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
  GROUP BY node
)"""

def warm_graph_family(spark: SparkSession, sf_dir: str) -> None:
    """Materialize the graph family's session-shared builds (r17, the
    artifact:sim_family pattern): the persisted edge table, the
    undirected edge set + degree table, the src-partitioned PageRank
    join side and the degree-oriented triangle edges. bench.py times
    this as `artifact:graph_family` — without it graph_pagerank (first
    graph entry in registry order) absorbed the whole family's
    one-time build (4.15 in-map vs 2.45 solo warm in r16)."""
    def _noop(df: DataFrame) -> None:
        df.write.format("noop").mode("overwrite").save()

    _noop(_event_graph(spark, sf_dir))
    und, deg = _und_deg(spark, sf_dir)
    _noop(und)
    _noop(deg)
    _noop(_pr_augmented(spark, sf_dir))
    _noop(_tri_oriented(spark, sf_dir))


ORACLE = {
    "graph_pagerank": f"""
WITH RECURSIVE {_SQL_EDGES},
-- DuckDB 1.0 quirk: a bare UNION-dedup CTE referenced from inside a
-- WITH RECURSIVE body loses its dedup (observed: the seed gets one
-- row per OCCURRENCE); the explicit DISTINCT form is immune
nodes AS (SELECT DISTINCT node FROM
          (SELECT src AS node FROM e0 UNION ALL SELECT dst FROM e0)),
aug AS (SELECT src, dst, w FROM e0
        UNION ALL SELECT node, node, 0 FROM nodes),
outw AS (SELECT src, GREATEST(SUM(w), 1) AS W FROM aug GROUP BY src),
nn AS (SELECT COUNT(*) AS n FROM nodes),
ranks(iter, node, r) AS (
  SELECT 0, node, {PR_SCALE} // (SELECT n FROM nn) FROM nodes
  UNION ALL
  SELECT r.iter + 1, e.dst,
         ({15 * PR_SCALE} // (100 * (SELECT n FROM nn)))
         + ({PR_DAMP_NUM} * SUM((r.r * e.w) // o.W)) // {PR_DAMP_DEN}
  FROM ranks r
  JOIN aug e ON e.src = r.node
  JOIN outw o ON o.src = r.node
  WHERE r.iter < {PR_ITERS}
  GROUP BY r.iter, e.dst
)
SELECT node AS user_id, r AS pr_e12 FROM ranks WHERE iter = {PR_ITERS}
""",
    "graph_triangles": f"""
WITH {_SQL_EDGES},
{_SQL_UND_DEG},
o AS (
  SELECT CASE WHEN (da.degree < db.degree)
                OR (da.degree = db.degree AND u.a < u.b)
              THEN u.a ELSE u.b END AS u,
         CASE WHEN (da.degree < db.degree)
                OR (da.degree = db.degree AND u.a < u.b)
              THEN u.b ELSE u.a END AS v
  FROM und u
  JOIN deg da ON da.node = u.a
  JOIN deg db ON db.node = u.b
),
tri AS (
  SELECT e1.u AS x, e1.v AS y, e2.v AS z
  FROM o e1
  JOIN o e2 ON e2.u = e1.v
  JOIN o e3 ON e3.u = e1.u AND e3.v = e2.v
),
per_node AS (
  SELECT node, COUNT(*) AS t
  FROM (SELECT x AS node FROM tri UNION ALL
        SELECT y FROM tri UNION ALL
        SELECT z FROM tri)
  GROUP BY node
)
SELECT d.node AS user_id, d.degree,
       COALESCE(p.t, 0) AS triangles,
       ROUND(CASE WHEN d.degree >= 2
                  THEN CAST(2 * COALESCE(p.t, 0) AS DOUBLE)
                       / CAST(d.degree * (d.degree - 1) AS DOUBLE)
                  ELSE 0.0 END, 6) AS local_cc
FROM deg d LEFT JOIN per_node p ON p.node = d.node
""",
    "graph_degree_profile": f"""
WITH {_SQL_EDGES},
{_SQL_UND_DEG}
SELECT degree, COUNT(*) AS n_nodes FROM deg
GROUP BY degree ORDER BY degree
""",
}

QUERIES = {
    "graph_pagerank": q_graph_pagerank,
    "graph_triangles": q_graph_triangles,
    "graph_degree_profile": q_graph_degree_profile,
}

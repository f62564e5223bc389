"""Connected-components dedup clustering — pairs → clusters → canonical.

The missing last step of a corpus-dedup pipeline: near-dup detection
(n-gram Jaccard / MinHash-LSH, queries/dedup.py) emits PAIRS, but a
training-data pipeline needs CLUSTERS — transitive closure over the
pair graph — so each duplicate group keeps exactly one canonical
document. (Closest reference analog: the EDA duplicate-rate check at
eda/Data_Minions_EDA_Milestone4.ipynb cell 9 stops at counting; this
completes the keep/drop decision.)

Algorithm: the large-star/small-star alternation (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) — O(log n)
rounds on ANY graph shape, including the adversarial long chains
(mirrored sites) a 100-TB web-dedup pair graph contains, where plain
min-label propagation needs O(diameter) rounds.

  large-star(u): with m = min(Γ(u) ∪ {u}), emit (v, m) for every
      neighbor v > u — strictly-larger neighbors re-hang under the
      neighborhood min.
  small-star(u): over the downward-directed edges (all dst < src after
      a large-star), group the smaller neighbors N of u, m = min(N);
      emit (u, m) and (v, m) for v ∈ N, v ≠ m.

Both preserve connectivity (paper, Lemmas 1-2); the fixpoint is a star
forest whose roots are the component minima, read off as
(src=node → dst=component), singletons filled from `nodes`.

Scale notes:
  * Per half-round: one hash-agg of neighborhood minima + one keyed
    join back — shuffles keyed by node id, bounded by |E|, identical
    subtrees so AQE reuses the exchange. Never a driver collect, never
    a component materialized as a row.
  * Lineage is truncated every round with localCheckpoint(eager=False):
    the round's ONE action — the convergence probe — materializes the
    checkpoint as a side effect (the r5 shape paid two jobs per round:
    an eager checkpoint and then the probe). On a real cluster prefer
    reliable checkpoint() — localCheckpoint state dies with a lost
    executor.
  * Convergence is EXACT, one cheap action over the checkpointed edges:
    the set is a fixpoint iff every src carries exactly one distinct
    parent AND no dst appears as a src (star forest + downward edges ⇒
    roots are component minima; both star ops are then identity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._util import session_artifact, table
from .dedup import (
    PAIR_SLICE_SOURCE,
    SHINGLE_WORDS,
    SLICE_JACCARD_THRESHOLD,
    _jaccard_pairs,
    _words,
)


def _large_star(edges: DataFrame, dedup: bool = True) -> DataFrame:
    """Emit (v, m) for every neighbor v > u, m = min(Γ(u) ∪ {u}).

    The per-u minimum rides a window over the one (u) shuffle instead
    of a groupBy + join-back — same rows out, two fewer stages per
    round (the iteration's cost at fixture scale is stage scheduling,
    not data). dedup=False skips the output distinct for callers that
    immediately feed _small_star: its min/membership math is
    duplicate-insensitive and its own distinct dedups the round, so
    the intermediate shuffle buys nothing (duplicates at most double
    the rows riding ONE exchange)."""
    from pyspark.sql import Window
    nbrs = (edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
                 .union(edges.select(F.col("dst").alias("u"),
                                     F.col("src").alias("v"))))
    m = F.least(F.min("v").over(Window.partitionBy("u")), F.col("u"))
    out = (nbrs.withColumn("m", m)
               .filter(F.col("v") > F.col("u"))
               .select(F.col("v").alias("src"), F.col("m").alias("dst")))
    return out.distinct() if dedup else out


def _small_star(edges: DataFrame) -> DataFrame:
    """Over downward edges (dst < src): per u with smaller-neighbor set
    N and m = min(N), emit (u, m) and (v, m) for v ∈ N \\ {m} — one
    window pass + per-row explode (each row contributes its own (v, m)
    move plus the group's (u, m) edge, duplicated across the group's
    rows and collapsed by the same distinct the join form needed)."""
    from pyspark.sql import Window
    d = (edges.select(F.greatest("src", "dst").alias("u"),
                      F.least("src", "dst").alias("v"))
              .filter(F.col("u") != F.col("v")))
    m = F.min("v").over(Window.partitionBy("u"))
    pair = lambda s, t: F.struct(s.alias("src"), t.alias("dst"))  # noqa: E731
    out = F.when(F.col("v") != F.col("m"),
                 F.array(pair(F.col("v"), F.col("m")),
                         pair(F.col("u"), F.col("m")))) \
           .otherwise(F.array(pair(F.col("u"), F.col("m"))))
    return (d.withColumn("m", m)
             .select(F.explode(out).alias("e"))
             .select("e.src", "e.dst")
             .distinct())


def _is_star_forest(edges: DataFrame) -> bool:
    """Exact fixpoint test, ONE shuffle + one early-exit action over
    checkpointed edges: every src has exactly one distinct parent, and
    no dst is also a src. Both conditions come out of a single
    per-node agg over the two roles (the old form paid a second
    groupBy, a semi-join and a crossJoin for the same answer)."""
    roles = (edges.select(F.col("src").alias("n"), F.col("dst").alias("p"))
                  .unionAll(edges.select(
                      F.col("dst").alias("n"),
                      F.lit(None).cast(dict(edges.dtypes)["dst"])
                       .alias("p"))))
    bad = (roles.groupBy("n")
                .agg(F.count_distinct("p").alias("np"),
                     F.max(F.col("p").isNotNull().cast("int"))
                      .alias("is_src"),
                     F.max(F.col("p").isNull().cast("int"))
                      .alias("is_dst"))
                .filter((F.col("np") > 1)
                        | ((F.col("is_src") == 1)
                           & (F.col("is_dst") == 1))))
    return bad.isEmpty()


def connected_components(edges: DataFrame, nodes: DataFrame,
                         max_iter: int = 30,
                         _stats: dict | None = None,
                         probe_from: int = 2) -> DataFrame:
    """(node, component) for every node, component = min node id reachable.

    edges: two-column DataFrame of undirected pairs (any column names);
    nodes: one-column DataFrame of node ids (defines singletons too).
    max_iter bounds the large+small alternation rounds (O(log n) needed);
    _stats, if passed, receives {"rounds": n} for convergence tests.

    probe_from: first round eligible for the convergence probe. The
    probe SCHEDULE never affects correctness — a converged edge set is
    a fixpoint of both star ops, so overshooting just runs identity
    rounds inside the next probe's job — it only trades probe jobs
    against potential identity rounds. The default probes every round
    from 2 (round 1 can't converge a non-star input). A caller that
    KNOWS its graph needs >= k rounds (e.g. the pair graph contains
    chains long enough) passes probe_from=k and skips the
    can't-succeed probes; at fixture scale each skipped probe is a
    whole scheduled job (~1.2-1.5 s of fixed stage latency — the r10
    verdict's cc_slice_components floor), while the unprobed rounds'
    lazy checkpoints all materialize inside the one probe that runs.
    """
    a, b = edges.columns[0], edges.columns[1]
    e = (edges.select(F.col(a).alias("src"), F.col(b).alias("dst"))
              .filter(F.col("src") != F.col("dst"))
              .localCheckpoint(eager=False))
    rounds = 0
    if not e.isEmpty():
        for _ in range(max_iter):
            rounds += 1
            e = _small_star(_large_star(e, dedup=False)) \
                .localCheckpoint(eager=False)
            if rounds >= probe_from and _is_star_forest(e):
                break
    if _stats is not None:
        _stats["rounds"] = rounds
    # fixpoint edges are (leaf -> component-min root); roots and
    # singletons label themselves
    parents = e.select(F.col("src").alias("node"),
                       F.col("dst").alias("_comp")).distinct()
    return (nodes.select(F.col(nodes.columns[0]).alias("node"))
                 .join(parents, "node", "left")
                 .select("node",
                         F.coalesce("_comp", "node").alias("component")))


def dedup_components(docs: DataFrame, threshold: float,
                     shingled: DataFrame | None = None,
                     probe_from: int = 2) -> DataFrame:
    """Cluster the near-dup pair graph of `docs`; one row per doc with its
    component id, canonical flag (keep min doc_id per cluster — the
    standard deterministic tie-break), and cluster size. `shingled`
    optionally reuses a pre-shingled (doc_id, shingles) frame for pair
    generation (see _jaccard_pairs); probe_from passes through to
    connected_components' convergence-probe schedule."""
    eligible = (docs.filter(F.size(_words()) >= SHINGLE_WORDS)
                    .select("doc_id"))
    pairs = _jaccard_pairs(docs, threshold, shingled=shingled) \
        .select("doc_a", "doc_b")
    cc = connected_components(pairs, eligible, probe_from=probe_from)
    sizes = cc.groupBy("component").agg(F.count("*").alias("component_size"))
    return (cc.join(sizes, "component")
              .select(F.col("node").alias("doc_id"),
                      "component",
                      (F.col("node") == F.col("component"))
                      .cast("int").alias("is_canonical"),
                      "component_size")
              .orderBy("doc_id"))  # bounded: one row per slice doc


# Session artifact for the registered slice's cluster assignment: both
# q_dedup_components and q_dedup_canonical consume the SAME min-label
# fixpoint, and the large/small-star iteration (localCheckpoints +
# convergence probes) is this family's dominant cost — running it twice
# per bench/check session would double it. Bounded: one entry per
# sf_dir per session; the fixpoint edges are already checkpointed, so
# the cached DataFrame re-reads checkpoint blocks, not the iteration.
def _slice_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        d = (table(spark, sf_dir, "documents")
             .filter(F.col("source") == PAIR_SLICE_SOURCE))
        # opportunistic reuse: when the MinHash family's corpus-wide
        # shingle table is ALREADY persisted this session (bench/check
        # build it first), pair generation filters that cache instead
        # of re-tokenizing the slice from raw text; a cold session
        # keeps the cheaper slice-only shingling — identical sets
        # either way
        sh_all = session_artifact(spark, ("dedup.shingles", sf_dir))
        shingled = (sh_all.join(d.select("doc_id"), "doc_id")
                    if sh_all is not None else None)
        # probe_from=3: measured fixpoints are 3 rounds at sf0.1 (the
        # bench SF — its round-2 probe could only say "not yet" and
        # each probe is a whole scheduled job, the r10 verdict's
        # cc_slice floor) and 2 rounds at sf0.001/0.01, where the
        # traded cost is one identity round riding INSIDE the single
        # probe job on a few-hundred-edge set — far cheaper than the
        # probe job it replaces. Correctness is schedule-independent
        # (identity rounds at the fixpoint).
        return dedup_components(d, SLICE_JACCARD_THRESHOLD,
                                shingled=shingled, probe_from=3)
    return session_artifact(spark, ("components.slice", sf_dir), build)


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _slice_components(spark, sf_dir)


def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware representative per near-dup cluster: keep the
    LONGEST doc (n_chars desc, doc_id tie-break) instead of the min-id
    default — the curation choice when duplicates differ in
    completeness (truncated mirrors, partial scrapes). One bounded
    per-component window over the cluster assignment; same scale shape
    as dedup_components itself."""
    from pyspark.sql import Window
    d = (table(spark, sf_dir, "documents")
         .filter(F.col("source") == PAIR_SLICE_SOURCE))
    cc = _slice_components(spark, sf_dir) \
        .select("doc_id", "component", "component_size")
    w = (Window.partitionBy("component")
               .orderBy(F.desc("n_chars"), "doc_id"))
    return (cc.join(d.select("doc_id", "n_chars"), "doc_id")
              .withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") == 1)
              .select("component",
                      F.col("doc_id").alias("keep_doc_id"),
                      F.col("n_chars").alias("keep_n_chars"),
                      "component_size")
              .orderBy("component"))  # bounded: one row per cluster


def q_split_by_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free splitting: assign train/val/test by the NEAR-DUP
    CLUSTER's hash, not the doc's — near-duplicates never straddle
    splits (hashing doc_id would put a doc and its near-copy in train
    and test, leaking eval content into training). Composes the cached
    cluster assignment with the standard 80/10/10 hash split; pure
    per-row math after the (shared) clustering."""
    from .sampling import split_train_val_test
    cc = _slice_components(spark, sf_dir).select("doc_id", "component")
    return (split_train_val_test(cc, "component")
            .select("doc_id", "component", "split"))  # O(slice): unsorted


QUERIES = {
    "dedup_components": q_dedup_components,
    "dedup_canonical": q_dedup_canonical,
    "split_by_cluster": q_split_by_cluster,
}

# The pair CTE is the dedup_ngram_jaccard oracle verbatim (same slice,
# same threshold); the recursive walk computes min-reachable-label —
# exactly the propagation fixpoint. The prefix is shared with the
# quality-canonical variant below.
_CC_SQL_PREFIX = f"""
WITH RECURSIVE nodes AS (
  SELECT doc_id FROM documents
  WHERE source = '{PAIR_SLICE_SOURCE}'
    AND len(string_split(text, ' ')) >= {SHINGLE_WORDS}
), pdocs AS (
  SELECT doc_id, string_split(text, ' ') AS words
  FROM documents
  WHERE source = '{PAIR_SLICE_SOURCE}' AND len(string_split(text, ' ')) >= {SHINGLE_WORDS}
), sh AS (
  SELECT DISTINCT doc_id,
         words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
  FROM pdocs, unnest(generate_series(1, len(words) - {SHINGLE_WORDS - 1})) AS t(i)
), psizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), ppairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT doc_a, doc_b FROM ppairs
  JOIN psizes sa ON doc_a = sa.doc_id
  JOIN psizes sb ON doc_b = sb.doc_id
  WHERE common / (sa.n + sb.n - common) >= {SLICE_JACCARD_THRESHOLD}
), edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
), walk(node, label) AS (
  SELECT doc_id, doc_id FROM nodes
  UNION
  SELECT e.d, w.label FROM walk w JOIN edges e ON w.node = e.s
), cc AS (
  SELECT node AS doc_id, MIN(label) AS component FROM walk GROUP BY node
)"""

ORACLE = {
    "dedup_components": _CC_SQL_PREFIX + """
SELECT doc_id, component,
       CAST(doc_id = component AS INT) AS is_canonical,
       COUNT(*) OVER (PARTITION BY component) AS component_size
FROM cc ORDER BY doc_id
""",
    "split_by_cluster": _CC_SQL_PREFIX + """
SELECT doc_id, component,
       CASE WHEN {hb} < {b0} THEN 'train'
            WHEN {hb} < {b1} THEN 'val'
            ELSE 'test' END AS split
FROM cc
""",
    "dedup_canonical": _CC_SQL_PREFIX + """
, sized AS (
  SELECT c.doc_id, c.component, d.n_chars,
         COUNT(*) OVER (PARTITION BY c.component) AS component_size,
         ROW_NUMBER() OVER (PARTITION BY c.component
                            ORDER BY d.n_chars DESC, c.doc_id) AS rn
  FROM cc c JOIN documents d USING (doc_id)
)
SELECT component, doc_id AS keep_doc_id, n_chars AS keep_n_chars,
       component_size
FROM sized WHERE rn = 1 ORDER BY component
""",
}


def _finalize_split_sql() -> None:
    # deferred imports: avoids import cycle; SPLIT_BUCKETS interpolated
    # (not hardcoded) so tuning it cannot silently desync the twin
    from .sampling import SPLIT_BUCKETS, _sql_hash_bucket
    ORACLE["split_by_cluster"] = ORACLE["split_by_cluster"].format(
        hb=_sql_hash_bucket("component", 100),
        b0=SPLIT_BUCKETS[0], b1=SPLIT_BUCKETS[1])


_finalize_split_sql()

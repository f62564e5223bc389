"""Driver-hash visibility for the composed curation funnel (VERDICT
r13 #8): jobs/curate.py is the end-to-end LLM-data pipeline (C4 rules
-> exact dedup -> decontam -> repetition -> span dedup -> SemDeDup ->
LM cut -> split -> write), but until r14 it only existed in
BENCH_SCALE + pytest. This registers the funnel's own per-stage stats
as an oracle pair.

Graduation shape (the bounded-guarantee recipe): five of the seven
stages are exact SQL — the C4 keep flag, the exact-dedup keep set,
the benchmark-gram contamination set, the repetition flag, and the
duplicate-span filter over the dedup survivors — so their drop counts
hash as exact integers, recomputed by DuckDB: the C4 and repetition
drops run the text_c4_filter and repetition_filter oracles themselves,
the others use the same shared constants as the decontam_overlap and
dedup_span_stats oracles. The two stages with no SQL twin
(SemDeDup's k-means fit; the CCNet cut's approxQuantile threshold)
ride as asserted contract flags: the semantic-dup drops are bounded by
the dedup-survivor count, the LM cut lands within [0.05, 0.15]·n of
its 0.10 target (approxQuantile's 1e-3 rank-error contract plus tie
slack), and n_kept is sandwiched by the inclusion-exclusion bounds of
the per-stage drops.

Reference analog: the daily batch pipeline's end-to-end refresh
(terraform/scripts/batch_to_mongo.py) — here as the one-job curation
funnel a 100 TB corpus would run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .cleaning import _SQL_BENCH, _SQL_GRAMS, NGRAM
from .cleaning import ORACLE as CLEANING_ORACLE
from .dedup import SPAN_GRAM
from .text import _sql_normalized
from .text import ORACLE as TEXT_ORACLE

# integer-exact LM-cut contract bounds: drop_lm/n_docs in [1/20, 3/20]
# around the 0.10 target (see module docstring)
LM_BOUND_LO_X20 = 1
LM_BOUND_HI_X20 = 3


def q_curate_funnel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..jobs.curate import curate, funnel_stats
    s = funnel_stats(curate(spark, sf_dir))
    drops = [F.col(c) for c in
             ("drop_quality", "drop_dup", "drop_contaminated",
              "drop_repetitive", "drop_span_dup", "drop_semantic_dup",
              "drop_lm")]
    total_drops = drops[0]
    for d in drops[1:]:
        total_drops = total_drops + d
    sem_ok = ((F.col("drop_semantic_dup") >= 0)
              & (F.col("drop_semantic_dup")
                 <= F.col("n_docs") - F.col("drop_dup")))
    lm_ok = ((F.col("drop_lm") * 20 >= F.col("n_docs") * LM_BOUND_LO_X20)
             & (F.col("drop_lm") * 20
                <= F.col("n_docs") * LM_BOUND_HI_X20))
    kept_ok = ((F.col("n_kept") >= F.col("n_docs") - total_drops)
               & (F.col("n_kept")
                  <= F.col("n_docs") - F.greatest(*drops)))
    return s.select(
        "n_docs", "drop_quality", "drop_dup", "drop_contaminated",
        "drop_repetitive", "drop_span_dup",
        sem_ok.cast("int").alias("sem_dup_in_bound"),
        lm_ok.cast("int").alias("lm_drop_in_bound"),
        kept_ok.cast("int").alias("kept_consistent"))  # 1 row


QUERIES = {
    "curate_funnel_stats": q_curate_funnel_stats,
}

# span dedup runs over the exact-dedup SURVIVORS exactly as
# jobs/curate.py stages it. NULL-text docs are in
# no count (n_docs and the exact-dedup keep set read non-NULL text
# only), as in the funnel, which drops them up front; the other stages
# never count a NULL-text doc as a drop.
ORACLE = {
    "curate_funnel_stats": f"""
WITH c4 AS (
{TEXT_ORACLE["text_c4_filter"]}), dk AS (
  SELECT MIN(doc_id) AS doc_id
  FROM (SELECT doc_id,
               {_sql_normalized('text')} AS content
        FROM documents WHERE text IS NOT NULL)
  GROUP BY content
), w AS (
  SELECT doc_id, {_SQL_BENCH} AS is_bench,
         string_split(text, ' ') AS words
  FROM documents
), g AS (
  SELECT doc_id, is_bench, unnest({_SQL_GRAMS}) AS gram
  FROM w WHERE len(words) >= {NGRAM}
), bench AS (
  SELECT DISTINCT gram FROM g WHERE is_bench
), cont AS (
  SELECT DISTINCT c.doc_id
  FROM g c JOIN bench b USING (gram) WHERE NOT c.is_bench
), rep AS (
{CLEANING_ORACLE["repetition_filter"]}), sbase AS (
  SELECT d.doc_id, string_split(d.text, ' ') AS words
  FROM documents d JOIN dk USING (doc_id)
  WHERE d.text IS NOT NULL
    AND len(string_split(d.text, ' ')) >= {SPAN_GRAM}
), sgrams AS (
  SELECT doc_id,
         array_to_string(words[pos:pos + {SPAN_GRAM - 1}], ' ') AS gram
  FROM (SELECT doc_id, words,
               unnest(range(1, len(words) - {SPAN_GRAM - 2})) AS pos
        FROM sbase)
), sdup AS (
  SELECT gram FROM sgrams GROUP BY gram
  HAVING COUNT(DISTINCT doc_id) >= 2
), sfrac AS (
  SELECT b.doc_id,
         ROUND(CAST((SELECT COUNT(*) FROM sgrams h JOIN sdup USING (gram)
                     WHERE h.doc_id = b.doc_id) AS DOUBLE)
               / (len(b.words) - {SPAN_GRAM - 1}), 6) AS dup_frac
  FROM sbase b
), spanid AS (
  SELECT doc_id FROM sfrac WHERE dup_frac > 0.5
)
SELECT (SELECT COUNT(text) FROM documents) AS n_docs,
       (SELECT COUNT(*) FROM c4 WHERE keep = 0) AS drop_quality,
       (SELECT COUNT(text) FROM documents) - (SELECT COUNT(*) FROM dk)
         AS drop_dup,
       (SELECT COUNT(*) FROM cont) AS drop_contaminated,
       (SELECT COUNT(*) FROM rep WHERE repetitive = 1)
         AS drop_repetitive,
       (SELECT COUNT(*) FROM spanid) AS drop_span_dup,
       1 AS sem_dup_in_bound,
       1 AS lm_drop_in_bound,
       1 AS kept_consistent
""",
}

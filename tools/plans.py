"""Regenerate PLANS.md: the physical plans of the headline queries.

Usage: python tools/plans.py [sf_dir]   (default /root/testdata/sf0.01)

The committed PLANS.md makes the repo's plan-shape claims auditable
without running anything: broadcast vs shuffle joins, PushedFilters,
Arrow vs row Python crossings, and the absence of global sorts are all
visible in the text. tests/test_plan_guards.py enforces the structural
rules; this file shows them.
"""

from __future__ import annotations

import os
import re
import sys

HEADLINE = [
    ("flagship_windowed_join",
     "J1/J2: union-then-aggregate, ONE shuffle (window-START stamp)"),
    ("flagship_speed_layer",
     "the same operator at the window-END stamp: one state-store shape"),
    ("filter_time_range",
     "S8/S10 pushdown scan: note GreaterThanOrEqual(ts, …) in PushedFilters"),
    ("orders_by_nation",
     "dim joins resolve to BroadcastHashJoin, fact side never shuffles"),
    ("interval_join_events",
     "range join as bucketized equi-join + exact |dt| residual"),
    ("asof_price_at_tweet",
     "as-of join as tag-union + one per-key window pass (no range join)"),
    ("dedup_minhash_lsh",
     "banded LSH: signatures are array exprs, candidates from equality join"),
    ("decontam_overlap",
     "benchmark grams broadcast; corpus never shuffles on the gram key"),
    ("sim_ivf_topk",
     "inverted file: Arrow-batched assignment, broadcast query side"),
    ("pack_sequences",
     "hash pack-groups → per-group window math, no global sort"),
    ("ts_window_calcs",
     "W1+W2+W3 merged into one window pass"),
    ("mixture_downsample",
     "scalar one-row broadcast of global totals, map-side hash filter"),
    ("retention_after_deletes",
     "tombstone propagation: BroadcastHashJoin LeftAnti, facts never shuffle"),
    ("ta_ema_rsi_macd",
     "recursive indicators: one shuffle + FlatMapGroupsInPandas per symbol"),
    ("boilerplate_strip",
     "hot-line set is a driver artifact; strip pass is a zero-shuffle "
     "per-row array filter (no corpus re-shuffle)"),
    ("unigram_logprob",
     "LM scoring via literal map: corpus pass has no join and no "
     "shuffle; integer nat-sums, no float accumulation"),
    ("sim_tfidf_topk",
     "sparse retrieval: inverted-index term join (never |Q|x|N|), "
     "driver-artifact idf, integer weights, bounded per-query top-k"),
    ("sim_tfidf_zipf_topk",
     "the retrieval SCALE shape: planted power-law vocab, max_df=0.5 "
     "stopword cut -> every posting list short; this is the config the "
     "driver hash-checks and benches"),
    ("src_csv_prices_decimal",
     "DecimalType(38,18) faithful price mode: exact decimal sums, "
     "full-scale string payloads, correctly-rounded double avg"),
    ("dedup_span_stats",
     "substring dedup: gram agg partial-combines, dup-set equality "
     "join (AQE-splittable skew), per-doc gaps-and-islands window; "
     "scan filter stays the cheap word-count predicate"),
    ("sim_bm25_topk",
     "BM25: per-(doc,term) partial scores precomputed corpus-side, "
     "broadcast query postings, one combinable sum — no norms pass"),
    ("dsir_select",
     "DSIR: B-bucket feature agg -> driver artifact; scoring is a "
     "zero-shuffle fold; selection is TakeOrderedAndProject, not a "
     "global sort"),
    ("sample_temperature",
     "n^alpha mixture reweighting: thresholds are a literal map, the "
     "corpus pass is a pure map-side hash filter (no join at all)"),
    ("funnel_conversion",
     "ordered-step funnel: ONE exchange — the groupBy(user, first_click) "
     "reuses the window's hashpartitioning(user) (partial clustering "
     "satisfaction), so window + agg share a shuffle"),
    ("rollup_merge_incremental",
     "materialized-view refresh: base/delta partial rollups union into "
     "one merge agg; hash equality vs the from-scratch twin proves "
     "merge == recompute"),
    ("scd2_user_state",
     "SCD2 build: ONE Exchange + ONE Sort feed both Window nodes (the "
     "lag change-detect and the lead/row_number interval pass)"),
    ("scd2_point_in_time",
     "point-in-time dimension lookup: as-of tag-union window, NO "
     "nested-loop range join on validity intervals"),
    ("link_customer_batch",
     "record linkage: delete-sig blocking equality join (never "
     "all-pairs); levenshtein/field verify only on blocked candidates"),
    ("zorder_key_lineitem",
     "z-order key: one-row stats broadcast (allow-listed nested loop), "
     "then pure JVM bit-interleave expressions — no UDF, no shuffle"),
    ("funnel_steps",
     "N-step funnel: three chained conditional window minima + the "
     "per-user dedup, ALL over one Exchange (subset-key clustering "
     "satisfies the distinct's requirement)"),
    ("ts_cube",
     "full CUBE: Expand to 4 grouping sets feeding ONE "
     "partial-combined hash agg; grouping_id disambiguates totals"),
    ("moment_profile",
     "exact higher moments: staged-width decimal products "
     "(12,6)->(25,12)->(38,18) inside one hash agg — no second scan, "
     "no float accumulation"),
    ("sim_semdedup",
     "SemDeDup: one Arrow-batched numpy assignment projection (r17 — "
     "bit-identical to the old explode/broadcast-join/agg/window "
     "chain; centroids ride the closure as a bounded model artifact), "
     "intra-cluster-only pair join on cid; en subtree computed once "
     "(lazy localCheckpoint)"),
    ("scd2_merge_incremental",
     "r7: NO hard broadcast hint on the affected-key set — AQE picks "
     "broadcast when small, degrades to shuffled semi/anti when huge"),
    ("dq_suite",
     "r7: FK dim key set joins without a hard broadcast hint (same "
     "degradation story); one conditional-agg pass per table"),
    ("hh_mg_vs_exact",
     "r14 graduated: one applyInPandas MG fold per hash shard + exact "
     "per-key agg, one-row-per-shard totals BROADCAST back; the "
     "guarantee flags are projection math over the joined frame"),
    ("text_gopher_rules",
     "r8: Gopher rule set — one scan, zero shuffles; line/word rules "
     "are JVM higher-order array ops, thresholds integer crossmuls"),
    ("dedup_minhash_incremental",
     "r8: delta-vs-index maintenance — delta-only shingle/signature "
     "cost, (band,bh) equality join against the materialized index; "
     "base text never re-read"),
    ("graph_pagerank",
     "r8: per-round combinable dst-sum + keyed join; max-weight int64 "
     "bound now enforced in the same bounded action as n"),
    ("revenue_by_nation_q5",
     "r8: TPC-H Q5 shape, ZERO hints — AQE broadcasts all five dims "
     "(fact never shuffles before the final agg), o_orderdate range "
     "in PushedFilters"),
    ("promo_revenue_share",
     "r8: TPC-H Q14 shape — part broadcasts under AQE, l_shipdate "
     "range in PushedFilters, WHEN-without-OTHERWISE keeps the promo "
     "branch an exact null-skipping decimal sum"),
    ("warehouse_prune_day",
     "r9: day-partitioned warehouse scan — the date literal lands in "
     "PartitionFilters (directory pruning; DataFilters stays empty), "
     "so files outside the day never enter the scan"),
    ("text_langid_ngram",
     "r9: Cavnar-Trenkle language ID — trigram explode keyed by doc, "
     "bounded (n_langs x K) profile BROADCASTS to the matched join, "
     "integer rank distances only"),
    ("media_resize",
     "r9: resize plumbing — one MapInPandas Arrow crossing over the "
     "binary column, no shuffle anywhere (dims + target math ride the "
     "same batch)"),
    ("source_scorecard",
     "r10: ONE documents scan — the expensive per-row projection "
     "(full-text md5 + split + array_distinct) feeds a cascaded "
     "(source,fp)->(source) agg pair; no second scan, no join"),
    ("dedup_source_matrix_fp",
     "r10: prefix-fingerprint source matrix — one (h, source) hash "
     "agg, pair expansion inside each group's bounded source array "
     "(higher-order exprs), never a corpus self-join"),
    ("dedup_components",
     "r10: large/small-star rounds — per-u minima ride Window over "
     "the one (u) exchange (no groupBy+join-back), single explode "
     "emits move+parent edges, one distinct per round"),
    ("embed_pca_frozen",
     "r12: frozen-basis PCA projection — the 8x64 integer eigenbasis "
     "rides the expression tree as literals (model-as-artifact), one "
     "zero-shuffle map pass: the scan IS the plan"),
    ("media_frames",
     "r12: frame sampling — one MapInPandas Arrow crossing fanning "
     "each video row out to n_frames rows, no shuffle anywhere"),
    ("cms_heavy_hitters",
     "r13: portable count-min — plane explode is map-side, bucket "
     "counts partial-combine into the BOUNDED depth*width sketch, "
     "probe side is a broadcast TakeOrderedAndProject top-k"),
    ("approx_quantiles",
     "r13: exact + sketch percentiles in ONE hash agg over one scan; "
     "the bounded-error assertion is pure projection math"),
    ("hll_mergeable_distinct",
     "r13: rollup(day) Expand emits daily + global levels into one "
     "agg pass — the mergeable-sketch shape with NO second scan and "
     "no 1x1 join"),
    ("ml_tfidf_terms_frozen",
     "r13: frozen vocab+idf — 2*|V| partial-combined sums in one "
     "documents scan, literal-array explode of the 1-row agg; no fit, "
     "no collect, no shuffle beyond the single-row agg"),
    ("ml_mlp_score_frozen",
     "r14: integer-frozen MLP inference — the quantized weight "
     "matrices ride the expression tree as BIGINT literals (8 exact "
     "64-term folds -> GREATEST relu -> 3 exact logit sums) alongside "
     "ONE ArrowEvalPython crossing for the real predict_batch_udf "
     "path; zero shuffles — the scan is the plan"),
    ("bpe_encode_tokens",
     "r14: corpus tokenize — trained ranks are closure constants "
     "(model-as-broadcast), known words a broadcast word->tokens "
     "table, ONE ArrowEvalPython crossing, no shuffle"),
    ("pack_bins_ffd",
     "r15: ONE pack() FlatMapGroupsInPandas node — doc-side stats "
     "fold through bin-level partials in a single two-level agg (the "
     "r14 shape ran the Python fold twice, once per join branch)"),
    ("curate_funnel_stats",
     "the registry's own C4, repetition and unigram-NLL rule stages "
     "share ONE projection chain over one corpus scan (the checkpointed "
     "8-column flags frame); side sets (dup keep-set, contaminated ids, "
     "span-dup ids) stay id-only broadcast side-plans; run_curation "
     "observes these same aggregates on its write pass"),
    ("ml_auto_arima_orders",
     "r14: selection surface — one applyInPandas fit per symbol over "
     "the shared resample grid, frozen-lookup literals ride the "
     "projection; the global-count key is an allow-listed one-row "
     "broadcast"),
    ("ml_auto_arima",
     "late r14 frozen-fit graduation: the live per-symbol "
     "applyInPandas fit (one shuffle on event_type) with the "
     "parquet-stats event count as a literal lookup key — no join, "
     "no broadcast; the oracle side is a pure VALUES lookup"),
]

_ADDR = re.compile(r"#\d+L?")
# plan_ids churn on every regeneration even when the plan is
# structurally identical — strip them like expression ids
_PLAN_ID = re.compile(r", \[plan_id=\d+\]")
# the warehouse-backed entries scan a per-session dir named after the
# applicationId (events_local-<ms>_...) — strip it too
_APP_ID = re.compile(r"(?<=events_)local-\d+")


def main() -> None:
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[4]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false").getOrCreate())
    import __spark_entry__ as E
    qs = E.queries()
    out = [
        "# PLANS — headline physical plans",
        "",
        f"Auto-generated by `python tools/plans.py` at sf_dir={sf_dir}; "
        "do not edit by hand. Expression ids (#n), plan_ids and "
        "application ids are stripped for stable diffs. Structural rules "
        "are enforced by `tests/test_plan_guards.py`.",
    ]
    for name, note in HEADLINE:
        df = qs[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        plan = _APP_ID.sub("<app>", _PLAN_ID.sub("", _ADDR.sub("", plan)))
        lines = [ln.rstrip() for ln in plan.split("\n")]
        if len(lines) > 40:
            lines = lines[:40] + [f"… (+{len(plan.splitlines()) - 40} lines)"]
        out += ["", f"## {name}", "", f"_{note}_", "", "```"]
        out += lines + ["```"]
    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"),
              "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote PLANS.md ({len(HEADLINE)} plans)")


if __name__ == "__main__":
    main()

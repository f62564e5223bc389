"""Distributed BPE tokenizer training (Sennrich et al. 2016) — the
vocabulary-induction step a pretraining data pipeline runs before
tokens_to_ids / packing (queries/packing.py consumes exactly the kind
of vocab this produces).

Spark-first shape — and the reason it scales:
  * BPE trains on the WORD-FREQUENCY TABLE, not the corpus. The corpus
    is touched exactly once (one explode + hash agg → (word, count));
    by Heaps' law the distinct-word table is orders of magnitude
    smaller than 100 TB of text, and every merge round then runs over
    that table only.
  * Each round: adjacent-pair counts are one partial-combined hash agg
    weighted by word count; the argmax pair is a bounded driver scalar
    (orderBy desc limit 1 — deterministic tie-break on the pair
    string); applying the winning merge is one Arrow-batched pandas_udf
    pass over the symbol arrays. Lineage is truncated per round with a
    non-eager localCheckpoint that the next round's argmax action
    materializes (the connected-components discipline).
  * The model (ranked merge list) is a driver artifact by design —
    it's what a tokenizer IS; real vocabularies are a few 10k rows.

Rows-only registry entry: the iterative argmax+rewrite isn't
SQL-expressible. Correctness is pinned in pytest against a pure-Python
reference implementation on the classic low/lower/newest/widest corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._util import session_artifact, table

BPE_MERGES = 8
END = "</w>"
_SEP = "\x01"  # pair-key separator; never appears in word text


def _word_symbols(docs: DataFrame, text_col: str) -> DataFrame:
    """(word, wc, s): corpus-wide word counts with each word exploded
    into its initial symbol array (chars + end-of-word marker)."""
    wc = (docs.filter(F.col(text_col).isNotNull())
              .select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
              .filter(F.col("word") != "")
              .groupBy("word").agg(F.count("*").alias("wc")))
    chars = F.filter(F.split(F.col("word"), ""), lambda c: c != "")
    return wc.select("word", "wc",
                     F.concat(chars, F.array(F.lit(END))).alias("s"))


def _pair_counts(syms: DataFrame) -> DataFrame:
    pairs = F.expr(
        f"transform(slice(s, 1, size(s) - 1), "
        f"(x, i) -> concat(x, '{_SEP}', s[i + 1]))")
    return (syms.filter(F.size("s") >= 2)
                .select("wc", F.explode_outer(pairs).alias("pair"))
                .groupBy("pair").agg(F.sum("wc").alias("cnt")))


def _merge_udf(a: str, b: str):
    """Arrow-batched single-merge application over symbol arrays."""
    from pyspark.sql.functions import pandas_udf

    # NB: no pd.Series annotations — function-local annotations break
    # pandas_udf's signature inference
    def apply(col):
        def one(seq):
            out, i, n = [], 0, len(seq)
            while i < n:
                if i + 1 < n and seq[i] == a and seq[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            return out
        return col.map(one)

    return pandas_udf("array<string>")(apply)


def _batch_merge_udf(pairs: list[tuple[str, str]]):
    """Arrow-batched application of an ORDERED merge batch: each word's
    symbols get every merge in sequence in one Python crossing —
    batching m merges costs the same two actions one merge used to."""
    from pyspark.sql.functions import pandas_udf

    def apply(col):
        def one(seq):
            seq = list(seq)
            for a, b in pairs:
                seq = _merge_seq(seq, a, b)
            return seq
        return col.map(one)

    return pandas_udf("array<string>")(apply)


def _select_batch(cand, batch_m: int, budget: int, seen_all: bool):
    """Greedy EXACT batch selection from one round's top-K candidate
    pairs [(pair, cnt)] (sorted count desc, pair asc — the greedy
    order). The batch equals what sequential top-1 greedy would pick,
    guaranteed by three strict guards that truncate it early:

      * disjoint: a member may not share a symbol with any earlier
        member — disjoint merges commute and leave each other's counts
        untouched (truncate at the FIRST overlap so no candidate is
        ever skipped-then-outranked);
      * created-pair dominance: merging (a,b) can create pairs (x,ab)
        / (ab,y) with count <= min(cnt(a,b), cnt(x,a) | cnt(b,y)) —
        every later member must STRICTLY outrank that bound (sequential
        greedy would otherwise pick the created pair first);
      * unseen-pair dominance: pairs outside the top-K have count <=
        the K-th candidate's — every later member must strictly exceed
        that too, so the created-pair bound above is sound even for
        (x,a) pairs the candidate list didn't surface.

    Strict inequalities kill tie-break ambiguity: a created pair can
    never tie a later member. `seen_all=True` (the candidate list held
    the ENTIRE pair table) drops the unseen-pair floor to zero.
    Returns [(a, b, cnt)]."""
    full_view = 0 if seen_all else int(cand[-1].cnt)
    batch: list[tuple[str, str, int]] = []
    used: set[str] = set()
    created_bound = 0
    for row in cand:
        if len(batch) >= min(batch_m, budget):
            break
        a, b = row.pair.split(_SEP)
        c = int(row.cnt)
        if batch:
            if not (c > created_bound and c > full_view):
                break
            if a in used or b in used:
                break  # truncate, never skip
        # bound on counts of pairs this merge creates: adjacent pairs
        # (x,a) / (b,y) among candidates, unseen ones bounded by kth
        nb = full_view
        for r2 in cand:
            x, y = r2.pair.split(_SEP)
            if (y == a or x == b) and not (x == a and y == b):
                nb = max(nb, int(r2.cnt))
        created_bound = max(created_bound, min(nb, c))
        batch.append((a, b, c))
        used.update((a, b))
    return batch


BPE_BATCH_M = 4


def bpe_train(docs: DataFrame, n_merges: int = BPE_MERGES,
              text_col: str = "text", batch_m: int = BPE_BATCH_M):
    """Ranked merge list [(rank, left, right, merged, freq)] plus the
    final (word, wc, s) symbol table.

    Each round still pays exactly 2 actions (one top-K collect + the
    lazy localCheckpoint the next action materializes) but commits up
    to `batch_m` merges — the standard fast-trainer batching, here
    with _select_batch's strict guards so the merge list is IDENTICAL
    to sequential top-1 greedy (batch_m=1 recovers it trivially);
    pytest pins batched == reference on the classic corpus and random
    dicts. Rounds drop ~batch_m× on natural corpora where the top
    pairs are unrelated."""
    # narrow the iteration width: the word table is orders of magnitude
    # smaller than the corpus, and every round pays per-partition task
    # overhead twice (pair agg + merge UDF) — 8 partitions measured ~2×
    # faster end-to-end than the session's 32 on the fixture while
    # still giving a 100-TB word table (~100M rows) ~12M rows/partition
    syms = (_word_symbols(docs, text_col).coalesce(8)
            .localCheckpoint(eager=False))
    merges: list[tuple] = []
    top_k = 8 * max(1, batch_m)
    while len(merges) < n_merges:
        cand = (_pair_counts(syms)
                .orderBy(F.desc("cnt"), "pair").limit(top_k).collect())
        if not cand:
            break
        batch = _select_batch(cand, batch_m, n_merges - len(merges),
                              seen_all=len(cand) < top_k)
        for a, b, c in batch:
            merges.append((len(merges) + 1, a, b, a + b, c))
        syms = (syms.withColumn(
                    "s", _batch_merge_udf([(a, b) for a, b, _ in batch])
                         (F.col("s")))
                    .localCheckpoint(eager=False))
    return merges, syms


def _merge_seq(seq: list[str], a: str, b: str) -> list[str]:
    out, i = [], 0
    while i < len(seq):
        if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(seq[i])
            i += 1
    return out


def reference_bpe(word_counts: dict[str, int], n_merges: int):
    """Dict-based BPE trainer (same tie-break everywhere: count desc,
    pair-string asc). Incremental bookkeeping — pair counts and a
    pair→words occurrence index are maintained across merges so each
    round rescans only the words containing the merged pair (the
    standard fast-trainer structure; the naive full-recount is
    O(vocab·len) per round and measured ~10 s on the sf0.1 word dict).
    reference_bpe_naive below is the spec it must match."""
    syms = {w: list(w) + [END] for w in word_counts}
    cnt: dict[tuple[str, str], int] = {}
    occ: dict[tuple[str, str], set] = {}
    for w, seq in syms.items():
        wc = word_counts[w]
        for i in range(len(seq) - 1):
            p = (seq[i], seq[i + 1])
            cnt[p] = cnt.get(p, 0) + wc
            occ.setdefault(p, set()).add(w)
    merges = []
    for rank in range(1, n_merges + 1):
        if not cnt:
            break
        best = min(cnt.items(),
                   key=lambda kv: (-kv[1], kv[0][0] + _SEP + kv[0][1]))
        (a, b), c = best
        merges.append((rank, a, b, a + b, c))
        for w in list(occ.get((a, b), ())):
            seq, wc = syms[w], word_counts[w]
            for i in range(len(seq) - 1):
                p = (seq[i], seq[i + 1])
                cnt[p] -= wc
                if cnt[p] <= 0:
                    del cnt[p]
                s = occ.get(p)
                if s is not None:
                    s.discard(w)
            out = _merge_seq(seq, a, b)
            syms[w] = out
            for i in range(len(out) - 1):
                p = (out[i], out[i + 1])
                cnt[p] = cnt.get(p, 0) + wc
                occ.setdefault(p, set()).add(w)
    return merges


def reference_bpe_naive(word_counts: dict[str, int], n_merges: int):
    """Textbook full-recount trainer — the executable spec for the
    incremental bookkeeping above (pytest cross-checks them)."""
    syms = {w: list(w) + [END] for w in word_counts}
    merges = []
    for rank in range(1, n_merges + 1):
        cnt: dict[tuple[str, str], int] = {}
        for w, seq in syms.items():
            for i in range(len(seq) - 1):
                p = (seq[i], seq[i + 1])
                cnt[p] = cnt.get(p, 0) + word_counts[w]
        if not cnt:
            break
        best = min(cnt.items(),
                   key=lambda kv: (-kv[1], kv[0][0] + _SEP + kv[0][1]))
        (a, b), c = best
        merges.append((rank, a, b, a + b, c))
        for w, seq in syms.items():
            syms[w] = _merge_seq(seq, a, b)
    return merges


# Registered form: COUNT distributed, TRAIN on the collected word dict
# — the shape production tokenizer trainers use (HuggingFace tokenizers
# trains from word counts in memory): the corpus-scale work is the one
# distributed count, and the word dict is a capped driver artifact
# (top-K by count, truncation surfaced — the unigram-vocab pattern).
# The fully-distributed round loop above (bpe_train) stays the API for
# word tables too large to collect, pinned equal to the reference
# trainer in pytest; per-round job latency makes it the wrong default
# when the dict fits the driver.
BPE_WORD_CAP = 50_000  # top-k heap is per-partition; 100k doubled the
                       # TakeOrdered cost for no fixture benefit


def bpe_word_counts(docs: DataFrame, text_col: str = "text",
                    cap: int = BPE_WORD_CAP):
    """(word -> count dict, truncated?) — one distributed hash agg."""
    rows = (docs.filter(F.col(text_col).isNotNull())
                .select(F.explode(F.split(F.col(text_col), " "))
                         .alias("word"))
                .filter(F.col("word") != "")
                .groupBy("word").agg(F.count("*").alias("wc"))
                .orderBy(F.desc("wc"), "word")
                .limit(cap + 1).collect())
    truncated = len(rows) > cap
    return {r.word: r.wc for r in rows[:cap]}, truncated


# --- BPE ENCODING (inference): apply a trained merge list to text —
#     the step that turns the trained tokenizer into corpus tokens for
#     tokens_to_ids / pack_sequences downstream. Classic GPT-2-style
#     loop per word: repeatedly merge every occurrence of the
#     LOWEST-RANK pair present (provably equal to applying the ranked
#     merge list in order). The merge-rank dict is a closure constant —
#     O(vocab) per executor, the model-as-broadcast shape — and the
#     whole pass is one Arrow-batched crossing, zero shuffles.
#     Rows-only: the per-word priority loop is sequential. ---
def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Greedy min-rank BPE encode of one word (END marker appended)."""
    seq = list(word) + [END]
    while len(seq) >= 2:
        best_rank, best_pair = None, None
        for i in range(len(seq) - 1):
            r = ranks.get((seq[i], seq[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, (seq[i], seq[i + 1])
        if best_pair is None:
            break
        seq = _merge_seq(seq, *best_pair)
    return seq


def _encode_udf(ranks: dict[tuple[str, str], int], pre_bc=None):
    """Arrow-batched encode. Heaps' law: distinct words ≪ occurrences,
    so the Python merge loop runs once per DISTINCT word, not per
    occurrence — known words come from the broadcast word→tokens table
    (`pre_bc`, built driver-side from the capped dict); long-tail words
    beyond the cap are encoded once per task via a closure memo that
    persists across Arrow batches. The memo is size-bounded: the
    executor Python worker outlives tasks, so an unbounded dict would
    grow with corpus-lifetime distinct words (a real leak at the
    100 TB target); cap-exceeding words are by construction rare, so
    dropping the memo and re-encoding them is cheap. Output is
    byte-identical to the per-occurrence form (encode_word is
    deterministic)."""
    from pyspark.sql.functions import pandas_udf

    memo: dict[str, list[str]] = {}
    memo_cap = 200_000

    def apply(col):
        pre = pre_bc.value if pre_bc is not None else {}

        def one(text):
            out: list[str] = []
            for w in str(text).split(" "):
                if w:
                    toks = pre.get(w)
                    if toks is None:
                        toks = memo.get(w)
                        if toks is None:
                            toks = encode_word(w, ranks)
                            if len(memo) >= memo_cap:
                                memo.clear()
                            memo[w] = toks
                    out.extend(toks)
            return out
        return col.map(one)

    return pandas_udf("array<string>")(apply)


def bpe_encode(docs: DataFrame, merges, text_col: str = "text",
               id_col: str = "doc_id", known_words=None) -> DataFrame:
    """(id, tokens array<string>): corpus tokenization under a trained
    merge list [(rank, left, right, merged, freq)]. When `known_words`
    (an iterable of words, e.g. the capped training dict) is given,
    each is encoded ONCE on the driver and shipped as a broadcast
    word→tokens table — the production-tokenizer shape (vocab-sized
    Python work, occurrence-sized dict lookups)."""
    ranks = {(m[1], m[2]): m[0] for m in merges}
    pre_bc = None
    if known_words:
        pre = {w: encode_word(w, ranks) for w in known_words}
        pre_bc = docs.sparkSession.sparkContext.broadcast(pre)
    return (docs.filter(F.col(text_col).isNotNull())
                .select(id_col,
                        _encode_udf(ranks, pre_bc)(F.col(text_col))
                        .alias("tokens")))


# (word-count dict, truncated?, trained merges) as a session artifact
# per (applicationId, sf_dir): both registered entries (and repeat
# bench / check invocations) train on the same corpus word dict, so the
# distributed word count + the driver-side merge training run once per
# session, not once per entry. Values are bounded driver artifacts
# (capped dict + BPE_MERGES rows).
def _cached_training(spark: SparkSession, d: DataFrame,
                     sf_dir: str) -> tuple:
    def build() -> tuple:
        wc, truncated = bpe_word_counts(d)
        return wc, truncated, reference_bpe(wc, BPE_MERGES)
    return session_artifact(spark, ("bpe.training", sf_dir), build)


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train on the corpus word dict, then tokenize the corpus with the
    trained merges: (doc_id, n_tokens, n_merged_tokens, tokens) —
    tokens projected to a joined string (driver hash rule)."""
    from ._util import rebalance_scan
    d = rebalance_scan(table(spark, sf_dir, "documents")) \
        .select("doc_id", "text")
    wc, _, merges = _cached_training(spark, d, sf_dir)
    enc = bpe_encode(d, merges, known_words=wc)
    # initial symbols are single chars plus the bare END marker, so any
    # longer token (incl. char+END fusions) came from >= 1 merge
    multi = F.size(F.filter(
        "tokens", lambda t: (F.length(t) > 1) & (t != F.lit(END))))
    return enc.select(
        "doc_id", F.size("tokens").alias("n_tokens"),
        multi.alias("n_merged_tokens"),
        F.array_join("tokens", "\x1f").alias("tokens"))  # O(input): unsorted


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import rebalance_scan
    d = rebalance_scan(table(spark, sf_dir, "documents")) \
        .select("text")
    _, _, merges = _cached_training(spark, d, sf_dir)
    return spark.createDataFrame(
        merges, "rank int, left string, right string, "
                "merged string, freq bigint")  # bounded: n_merges rows


QUERIES = {
    "bpe_merges": q_bpe_merges,  # graduated r14: training loop unrolled
    #   to 8 SQL rounds (pair-count -> argmax -> replace-apply)
    "bpe_encode_tokens": q_bpe_encode,  # graduated r14: ranked-merge
    #   replay via nested replace over the delimited token string
}


# --- DuckDB twins (graduated r14, beyond the frozen-literal recipe
#     VERDICT r13 #2 proposed: with BPE_MERGES=8 the training loop
#     itself unrolls to 8 rounds of SQL CTEs, so the oracle RE-TRAINS
#     from the raw corpus instead of trusting frozen literals — the
#     merge list stays corpus-dependent and the pair verifies at every
#     SF).
#
#     Representation: a word's symbol sequence is the delimited string
#     "(c1)(c2)…(</w>)" — fixture text is lowercase alnum + single
#     spaces (checked r14), so '(' / ')' never collide with content.
#     Each round: adjacent OVERLAPPING pair counts via parallel
#     unnest of t[:-1] / t[2:] (exactly _pair_counts' transform),
#     argmax with the trainer's tie-break (cnt DESC, a||\\x01||b ASC —
#     byte order, identical to Python tuple compare on ASCII), then
#     one replace('(a)(b)' -> '(ab)') — left-to-right non-overlapping,
#     exactly _merge_seq's greedy scan.
#
#     Encode replay: the ranked merge list applied in order over the
#     WHOLE-DOC delimited string (spaces -> (</w>) boundaries). One
#     left-to-right pass per merge is exhaustive (merging (a,b) can
#     never create a new (a,b) adjacency: the merged token is longer
#     than both members), and applying ranked merges in order equals
#     encode_word's min-rank loop (the classic BPE equivalence —
#     check.py hash-verifies it on every fixture). Cross-word false
#     matches are impossible: a trained merge's LEFT member never
#     contains </w> (nothing follows </w> inside a word, so such pairs
#     have zero training count), and every word-final token does. ---
def _sql_bpe_round(k: int) -> str:
    # mm{k} is the 1-row-ALWAYS twin of the argmax: when the pair
    # table exhausts before BPE_MERGES rounds (reference_bpe's early
    # break), m{k} is empty and a bare cross join would empty every
    # downstream row — the sentinel chr(2) pair never occurs in
    # content, so the replace becomes a no-op instead
    return f"""
p{k} AS (
  SELECT l AS a, r AS b, CAST(SUM(wc) AS BIGINT) AS cnt FROM (
    SELECT wc, unnest(t[:len(t)-1]) AS l, unnest(t[2:]) AS r
    FROM (SELECT wc, regexp_extract_all(s, '\\(([^)]*)\\)', 1) AS t
          FROM s{k - 1})
  ) GROUP BY 1, 2
),
m{k} AS (
  SELECT {k} AS rank, a, b, a || b AS merged, cnt AS freq
  FROM p{k} ORDER BY cnt DESC, a || chr(1) || b LIMIT 1
),
mm{k} AS (
  SELECT COALESCE(MAX(a), chr(2)) AS a, COALESCE(MAX(b), chr(2)) AS b
  FROM m{k}
),
s{k} AS (
  SELECT wc, replace(s, '(' || m.a || ')(' || m.b || ')',
                     '(' || m.a || m.b || ')') AS s
  FROM s{k - 1}, mm{k} m
)"""


_SQL_BPE_TRAIN = f"""
WITH wcs AS (
  SELECT word, COUNT(*) AS wc FROM (
    SELECT unnest(string_split(text, ' ')) AS word
    FROM documents WHERE text IS NOT NULL
  ) WHERE word <> ''
  GROUP BY 1 ORDER BY wc DESC, word LIMIT {BPE_WORD_CAP}
),
s0 AS (
  SELECT wc, regexp_replace(word, '(.)', '(\\1)', 'g') || '(</w>)' AS s
  FROM wcs
),""" + ",".join(_sql_bpe_round(k) for k in range(1, BPE_MERGES + 1))

# the encode replay applies the SENTINEL-GUARDED mm{k} rows so a
# short-of-8-merges corpus replays as no-ops, not an empty cross join
_SQL_BPE_APPLY = "d.s"
for _k in range(1, BPE_MERGES + 1):
    _SQL_BPE_APPLY = (
        f"replace({_SQL_BPE_APPLY}, "
        f"'(' || mm{_k}.a || ')(' || mm{_k}.b || ')', "
        f"'(' || mm{_k}.a || mm{_k}.b || ')')")

ORACLE: dict[str, str] = {
    "bpe_merges": _SQL_BPE_TRAIN + """
SELECT rank, a AS "left", b AS "right", merged, freq FROM (
""" + " UNION ALL ".join(
        f"SELECT * FROM m{k}" for k in range(1, BPE_MERGES + 1)) + """
)
""",
    "bpe_encode_tokens": _SQL_BPE_TRAIN + f""",
d0 AS (
  SELECT doc_id,
         replace(regexp_replace(text, '(.)', '(\\1)', 'g'),
                 '( )', '(</w>)') || '(</w>)' AS s
  FROM documents WHERE text IS NOT NULL
),
enc AS (
  SELECT d.doc_id, {_SQL_BPE_APPLY} AS s
  FROM d0 d, {", ".join(f"mm{k}" for k in range(1, BPE_MERGES + 1))}
)
SELECT doc_id,
       CAST(length(s) - length(replace(s, '(', '')) AS INTEGER)
         AS n_tokens,
       CAST(len(list_filter(regexp_extract_all(s, '\\(([^)]*)\\)', 1),
                            x -> len(x) > 1 AND x <> '</w>'))
            AS INTEGER) AS n_merged_tokens,
       replace(substr(s, 2, length(s) - 2), ')(', chr(31)) AS tokens
FROM enc
""",
}

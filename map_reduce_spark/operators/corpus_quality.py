"""Corpus-quality operators for LLM training-data curation.

Beyond dedup/similarity (dedup.py, similarity.py) and per-doc stats
(text_analysis.py), a production data pipeline needs:

- benchmark CONTAMINATION detection (does a training doc share long
  n-grams with an evaluation set? — the GPT-3/PaLM 13-gram method,
  sized down to 8-grams for this corpus),
- REPETITION filtering (Gopher rules: duplicate-n-gram fraction and
  most-frequent-bigram dominance),
- lexical RANKING (BM25 over an inverted index — retrieval-style
  quality scoring and search over the corpus),
- an INVERTED INDEX as first-class posting rows.

All operators are pure DataFrame ops (no Python row path) with DuckDB
oracles. Tokenization follows the corpus convention used across the
engine: whitespace `split(text, ' ')` (documents are synthetic
space-separated words, see TESTDATA.md).

Reference parity: the reference engine's only text analytics is word
count (`/root/reference/lib/word_count.ex:1-14`); this family extends
the same tokenize→aggregate dataflow to curation-grade operators per
the build brief.

Scale posture (100 TB):
- n-gram explodes are doc-local (keys carry doc_id), so every groupBy
  here partial-aggregates map-side and shuffles only (gram, count)
  pairs — never document text;
- the benchmark side of contamination is tiny by construction (an eval
  suite), broadcast to every executor; the corpus side streams through
  one narrow explode + hash join, no corpus-wide shuffle;
- BM25's document-frequency and avgdl relations reduce to tiny
  aggregates (vocab-sized / 1 row) and broadcast back; the only big
  shuffle is tf per (doc, term), already restricted to query terms;
- the inverted index is the materialization a real system would bucket
  by term — emitted as posting ROWS (term, doc, tf, first_pos), the
  layout that bucketed/partitioned parquet wants, not driver-side
  arrays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from map_reduce_spark.io import load_table, parallelize_if_narrow
from map_reduce_spark.registry import register
from map_reduce_spark.session import stage_cache, stage_checkpoint


def _grams(n: int, col: str = "text"):
    """Non-distinct word n-grams (order preserved), Spark side.

    Mirrors dedup._shingles but keeps duplicates — repetition metrics
    need multiplicity. Short docs (< n tokens) yield one truncated
    gram, same as the oracle's `range(1, greatest(len-n+1, 1)+1)`.
    """
    words = F.split(F.col(col), " ")
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
    )


def _grams_sql(n: int) -> str:
    """The identical n-gram list in DuckDB SQL (1-based inclusive slice)."""
    return (
        f"[array_to_string(w[i:i+{n - 1}], ' ') "
        f"FOR i IN range(1, greatest(len(w) - {n - 1}, 1) + 1)]"
    )


# --- benchmark contamination (eval-set n-gram overlap) ----------------

BENCH_MOD = 25  # doc_id % 25 == 0 -> the held-out "benchmark suite"
CONTAM_N = 8  # shared-8-gram threshold (13 in GPT-3; docs here are short)


@register(
    "contamination_check",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
g AS (SELECT doc_id, unnest(list_distinct({_grams_sql(CONTAM_N)})) AS gram FROM t),
bench AS (SELECT doc_id AS bench_id, gram FROM g WHERE doc_id % {BENCH_MOD} = 0)
SELECT g.doc_id, bench.bench_id,
       CAST(COUNT(*) AS BIGINT) AS n_shared_grams
FROM g JOIN bench USING (gram)
WHERE g.doc_id <> bench.bench_id AND g.doc_id % {BENCH_MOD} <> 0
GROUP BY g.doc_id, bench.bench_id
""",
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark contamination: training docs sharing >=1 distinct
    8-gram with any doc of the (deterministic) benchmark subset.

    Plan: the benchmark gram set is tiny (an eval suite) and is
    BROADCAST; the corpus side is one narrow explode into a broadcast
    hash join — no corpus shuffle until the (doc, bench) pair counts,
    which are candidate-sized. At 100 TB this is the shape that works:
    eval suites are MBs, the corpus never moves.
    """
    docs = parallelize_if_narrow(load_table(spark, sf_dir, "documents"))
    grams = docs.select(
        "doc_id", F.explode(F.array_distinct(_grams(CONTAM_N))).alias("gram")
    )
    is_bench = F.col("doc_id") % BENCH_MOD == 0
    bench = grams.filter(is_bench).select(
        F.col("doc_id").alias("bench_id"), "gram"
    )
    return (
        grams.filter(~is_bench)
        .join(F.broadcast(bench), "gram")
        .filter(F.col("doc_id") != F.col("bench_id"))
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_grams"))
    )


# --- Gopher-style repetition metrics ----------------------------------


@register(
    "repetition_stats",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
g5 AS (SELECT doc_id, {_grams_sql(5)} AS g FROM t),
g2 AS (SELECT doc_id, unnest({_grams_sql(2)}) AS gram FROM t),
cnt AS (SELECT doc_id, gram, COUNT(*) AS c FROM g2 GROUP BY doc_id, gram),
top2 AS (SELECT doc_id, MAX(c) AS top_c, SUM(c) AS n2 FROM cnt GROUP BY doc_id)
SELECT g5.doc_id,
       CAST(len(g) AS BIGINT) AS n_5grams,
       CAST(len(list_distinct(g)) AS BIGINT) AS n_unique_5grams,
       round(1.0 - len(list_distinct(g)) * 1.0 / len(g), 6) AS dup_5gram_frac,
       round(top_c * 1.0 / n2, 6) AS top_2gram_frac,
       (1.0 - len(list_distinct(g)) * 1.0 / len(g) <= 0.6
        AND top_c * 1.0 / n2 <= 0.2) AS keep
FROM g5 JOIN top2 ON g5.doc_id = top2.doc_id
""",
)
def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter: duplicate-5-gram fraction and
    most-frequent-bigram dominance, with the keep/drop verdict.

    The keep predicate evaluates on UNROUNDED ratios in both engines
    (ADVICE r01: filter-then-round asymmetry); the displayed fractions
    round to 6dp. dup-frac is computed narrowly (array sizes, no
    shuffle); the bigram mode needs per-(doc, gram) counts — two
    doc_id-keyed partial-agg shuffles of counts only.
    """
    docs = parallelize_if_narrow(load_table(spark, sf_dir, "documents"))
    g5 = docs.select(
        "doc_id",
        F.size(_grams(5)).cast("bigint").alias("n_5grams"),
        F.size(F.array_distinct(_grams(5))).cast("bigint").alias("n_unique_5grams"),
    )
    top2 = (
        docs.select("doc_id", F.explode(_grams(2)).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"), F.sum("c").alias("n2"))
    )
    dup_frac = F.lit(1.0) - F.col("n_unique_5grams") / F.col("n_5grams")
    top_frac = F.col("top_c") / F.col("n2")
    return (
        g5.join(top2, "doc_id")
        .select(
            "doc_id",
            "n_5grams",
            "n_unique_5grams",
            F.round(dup_frac, 6).alias("dup_5gram_frac"),
            F.round(top_frac, 6).alias("top_2gram_frac"),
            ((dup_frac <= 0.6) & (top_frac <= 0.2)).alias("keep"),
        )
    )


# --- inverted index + BM25 ranking ------------------------------------


@register(
    "inverted_index",
    oracle="""
WITH p AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents)
SELECT term, doc_id,
       CAST(COUNT(*) AS BIGINT) AS tf,
       CAST(MIN(pos) AS BIGINT) AS first_pos
FROM p
GROUP BY term, doc_id
""",
)
def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index as posting rows: (term, doc_id, tf, first
    occurrence position, 1-based).

    Posting ROWS, not collected lists — the layout that scales (a real
    deployment writes this partitioned/bucketed by term; arrays would
    concentrate hot terms in single rows and defeat the driver's
    canonicalizer besides). posexplode gives positions without a
    second pass.
    """
    docs = parallelize_if_narrow(load_table(spark, sf_dir, "documents"))
    return (
        docs.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "term"))
        .groupBy("term", "doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("tf"),
            (F.min("pos") + 1).cast("bigint").alias("first_pos"),
        )
    )


@register(
    "heavy_hitters",
    oracle="""
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
cnt AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY term),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cnt)
SELECT term, c, round(c * 1.0 / n, 6) AS frac
FROM cnt, tot
WHERE c * 50 > n
""",
)
def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items mining: every token above 2% corpus support,
    with exact counts (support threshold as a broadcast scalar).

    The threshold comparison is pure-integer (``c * 50 > n``) — no
    ratio floats in the predicate. Scale: per-term counts partial-
    aggregate map-side (vocab-sized shuffle); the total is a 1-row
    broadcast. This exact plan IS the scale path — a Misra-Gries
    sketch would only save the one vocab-sized shuffle and lose
    exactness; vocabulary size, not corpus size, bounds the state.
    """
    docs = parallelize_if_narrow(load_table(spark, sf_dir, "documents"))
    cnt = (
        docs.select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    tot = cnt.agg(F.sum("c").cast("bigint").alias("n"))
    return (
        cnt.join(F.broadcast(tot))
        .filter(F.col("c") * 50 > F.col("n"))
        .select("term", "c", F.round(F.col("c") / F.col("n"), 6).alias("frac"))
    )


@register(
    "unigram_logprob",
    oracle="""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
cnt AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY term),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cnt),
lp AS (SELECT term, CAST(round(ln(c * 1.0 / n), 9) AS DECIMAL(18,9)) AS logp
       FROM cnt, tot),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(logp) AS DOUBLE) / COUNT(*) AS avg_lp
  FROM tok JOIN lp USING (term) GROUP BY doc_id)
SELECT doc_id, n_tokens, round(avg_lp, 6) AS avg_logprob,
       CASE WHEN avg_lp >= -3.400 THEN 'high'
            WHEN avg_lp >= -3.405 THEN 'mid'
            ELSE 'low' END AS ppl_bucket
FROM per_doc
""",
)
def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model quality scoring: per-doc average unigram
    log-probability under the corpus's own unigram distribution, with
    perplexity-bucket labels — the cheap stand-in for LM-perplexity
    filtering (no model weights in this container; the Spark plumbing
    is what a real scorer would use, with logp coming from a model
    instead of `ln(count/total)`).

    Determinism: per-term logp is ln of one exact ratio, rounded to a
    9dp DECIMAL grid (absorbs any ulp differences in ln across
    engines); doc sums are decimal (order-free); the bucket CASE
    evaluates on the unrounded average identically in both engines.
    Scale: the unigram table is vocab-sized and broadcast; tokens
    stream through one narrow explode + broadcast join, then one
    doc_id-keyed partial-agg shuffle of (count, decimal-sum) pairs.
    """
    docs = parallelize_if_narrow(load_table(spark, sf_dir, "documents"))
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    cnt = tok.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    tot = cnt.agg(F.sum("c").cast("bigint").alias("n"))
    lp = (
        cnt.join(F.broadcast(tot))
        .select(
            "term",
            F.round(F.log(F.col("c") / F.col("n")), 9)
            .cast("decimal(18,9)")
            .alias("logp"),
        )
    )
    per_doc = (
        tok.join(F.broadcast(lp), "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            (F.sum("logp").cast("double") / F.count(F.lit(1))).alias("avg_lp"),
        )
    )
    bucket = (
        F.when(F.col("avg_lp") >= -3.400, "high")
        .when(F.col("avg_lp") >= -3.405, "mid")
        .otherwise("low")
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        F.round("avg_lp", 6).alias("avg_logprob"),
        bucket.alias("ppl_bucket"),
    )


BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("spark", "query", "window")


@register(
    "bm25_rank",
    oracle=f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok
       WHERE term IN ('spark', 'query', 'window') GROUP BY doc_id, term),
df AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tok
       WHERE term IN ('spark', 'query', 'window') GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         CAST(round(
           ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
           * tf * ({BM25_K1} + 1.0)
           / (tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl / avgdl)),
         9) AS DECIMAL(18,9)) AS s
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats)
SELECT doc_id, round(CAST(SUM(s) AS DOUBLE), 6) AS bm25
FROM scored GROUP BY doc_id
ORDER BY bm25 DESC, doc_id LIMIT 15
""",
)
def bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-15 docs for a fixed term query (Okapi, k1=1.2, b=0.75,
    the +1 idf variant that keeps scores positive).

    Determinism: each per-term score is one double expression over
    exact inputs (tf/df/dl are bigints; avgdl is one division), rounded
    to a 9dp grid and DECIMAL-summed across terms (order-free), then
    rounded to 6dp. The one engine-dependent primitive is ln(), which
    both JVMs and DuckDB compute within 1 ulp — absorbed by the grids.

    Plan: df and corpus stats reduce to vocab-sized/1-row relations and
    broadcast; tf restricts to query terms BEFORE its groupBy, so the
    only real shuffle carries (doc, term, count) for matching docs.
    Top-k is TakeOrderedAndProject with doc_id tiebreak.
    """
    docs = parallelize_if_narrow(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    hits = toks.filter(F.col("term").isin(*BM25_QUERY))
    dl = docs.select("doc_id", F.size(F.split("text", " ")).cast("bigint").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = hits.groupBy("doc_id", "term").agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    df = hits.groupBy("term").agg(F.countDistinct("doc_id").cast("bigint").alias("df"))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    denom = F.col("tf") + BM25_K1 * (
        1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    per_term = F.round(idf * F.col("tf") * (BM25_K1 + 1.0) / denom, 9).cast(
        "decimal(18,9)"
    )
    return (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .select("doc_id", per_term.alias("s"))
        .groupBy("doc_id")
        .agg(F.round(F.sum("s").cast("double"), 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(15)
    )


# --- vocabulary coverage curve ----------------------------------------


@register(
    "vocab_coverage",
    oracle="""
WITH f AS (
  SELECT term, COUNT(*) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
  GROUP BY term
),
tot AS (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM f),
top AS (
  SELECT term, freq,
         row_number() OVER (ORDER BY freq DESC, term) AS rank
  FROM f QUALIFY rank <= 500
)
SELECT rank, term, freq,
       CAST(SUM(freq) OVER (ORDER BY rank) AS BIGINT) AS cum_freq,
       ROUND(CAST(SUM(freq) OVER (ORDER BY rank) AS DOUBLE) / total, 6)
         AS cum_share
FROM top CROSS JOIN tot
""",
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-building coverage curve: the top-500 terms by corpus
    frequency (term-asc tiebreak) with cumulative token coverage — the
    what-vocab-size-covers-X% analysis run before fixing a tokenizer's
    vocabulary.

    Scale shape: the corpus pass is one partial-agg'd groupBy(term);
    the top-k is TakeOrderedAndProject. The trailing rank/cumsum runs
    over a BOUNDED set (K = 500 rows post-limit) through
    ``ranking.global_prefix_sum`` — the range-partitioned prefix-sum
    shape, so no bare global window (and no single-partition
    WindowExec warning) appears even on this constant-size frame.
    Integer cumsum; the share ratio is one division, rounded only in
    the projection.
    """
    from map_reduce_spark.ranking import global_prefix_sum

    docs = parallelize_if_narrow(load_table(spark, sf_dir, "documents"))
    freq = (
        docs.select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    tot = freq.agg(F.sum("freq").cast("long").alias("total"))
    top = freq.orderBy(F.col("freq").desc(), "term").limit(500)
    order = [F.col("freq").desc(), F.col("term")]
    cum = global_prefix_sum(top, order, "freq", out="_cum", rank_out="rank")
    return cum.crossJoin(F.broadcast(tot)).select(
        "rank",
        "term",
        "freq",
        F.col("_cum").cast("long").alias("cum_freq"),
        F.round(F.col("_cum").cast("double") / F.col("total"), 6).alias("cum_share"),
    )


# --- segment-level boilerplate removal (CCNet-style) ------------------

_SEG_W = 12  # non-overlapping segment width in tokens
_SEG_DUP_DOCS = 2  # segment is boilerplate once seen in this many docs


@register(
    "boilerplate_dedup",
    oracle=f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), seg AS (
  SELECT doc_id,
         unnest(range(0, CAST(ceil(len(ws) / {_SEG_W}.0) AS BIGINT))) AS seg_id,
         ws
  FROM w
), hashed AS (
  SELECT doc_id, seg_id,
         array_to_string(ws[seg_id * {_SEG_W} + 1 : seg_id * {_SEG_W} + {_SEG_W}], ' ') AS seg_txt,
         md5(array_to_string(ws[seg_id * {_SEG_W} + 1 : seg_id * {_SEG_W} + {_SEG_W}], ' ')) AS seg_md5
  FROM seg
), dup AS (
  SELECT seg_md5 FROM hashed
  GROUP BY seg_md5 HAVING COUNT(DISTINCT doc_id) >= {_SEG_DUP_DOCS}
), kept AS (
  SELECT h.doc_id, h.seg_id, h.seg_txt
  FROM hashed h ANTI JOIN dup d ON h.seg_md5 = d.seg_md5
), kept_agg AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_kept,
         CAST(SUM(len(string_split(seg_txt, ' '))) AS BIGINT) AS kept_tokens,
         md5(string_agg(seg_txt, ' ' ORDER BY seg_id)) AS cleaned_md5
  FROM kept GROUP BY doc_id
), total AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segs FROM hashed GROUP BY doc_id
)
SELECT t.doc_id, t.n_segs,
       COALESCE(k.n_kept, 0) AS n_kept,
       t.n_segs - COALESCE(k.n_kept, 0) AS n_dropped,
       COALESCE(k.kept_tokens, 0) AS kept_tokens,
       COALESCE(k.cleaned_md5, md5('')) AS cleaned_md5
FROM total t LEFT JOIN kept_agg k ON t.doc_id = k.doc_id
""",
)
def boilerplate_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-level boilerplate removal, the CCNet/RefinedWeb pass:
    split each document into non-overlapping 12-token segments, drop
    every segment whose content hash appears in >= 2 distinct documents
    (headers, footers, navigation chrome), and reassemble the cleaned
    document in original segment order.

    `cleaned_md5` is the md5 of the reassembled text, so the oracle
    hash-verifies the entire drop-and-reassemble round trip, not just
    the counts.

    Scale shape (100 TB): segmentation is a narrow sequence-explode;
    the boilerplate set is found by one exact two-phase distinct-doc
    count shuffling 16-byte hashes; membership removal is a left-anti
    hash join on the same key (in production the dup set is far smaller
    than the corpus — AQE turns this into a broadcast anti join);
    reassembly groups segments back by doc_id, sorting each doc's
    handful of segments inside `sort_array` (per-row, no global sort).
    Segment text rides the reassembly shuffle only for KEPT segments.
    """
    docs = parallelize_if_narrow(load_table(spark, sf_dir, "documents"))
    ws = F.split("text", " ")
    nseg = F.ceil(F.size("ws") / F.lit(float(_SEG_W))).cast("long")
    seg_txt = F.concat_ws(
        " ", F.slice("ws", F.col("seg_id").cast("int") * _SEG_W + 1, _SEG_W)
    )
    hashed = (
        docs.select("doc_id", ws.alias("ws"))
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0).cast("long"), nseg - 1)).alias("seg_id"),
            "ws",
        )
        .select(
            "doc_id",
            "seg_id",
            seg_txt.alias("seg_txt"),
            F.md5(seg_txt).alias("seg_md5"),
        )
    )
    dup = (
        hashed.groupBy("seg_md5", "doc_id")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy("seg_md5")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= _SEG_DUP_DOCS)
        .select("seg_md5")
    )
    kept = hashed.join(dup, "seg_md5", "left_anti")
    kept_agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.sum(F.size(F.split("seg_txt", " "))).cast("bigint").alias("kept_tokens"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("seg_id", "seg_txt"))),
                    lambda s: s["seg_txt"],
                ),
            )
        ).alias("cleaned_md5"),
    )
    total = hashed.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n_segs"))
    return total.join(kept_agg, "doc_id", "left").select(
        "doc_id",
        "n_segs",
        F.coalesce("n_kept", F.lit(0).cast("bigint")).alias("n_kept"),
        (F.col("n_segs") - F.coalesce("n_kept", F.lit(0))).cast("bigint").alias("n_dropped"),
        F.coalesce("kept_tokens", F.lit(0).cast("bigint")).alias("kept_tokens"),
        F.coalesce("cleaned_md5", F.md5(F.lit(""))).alias("cleaned_md5"),
    )


# --- bigram language-model scoring ------------------------------------


@register(
    "bigram_lm_score",
    oracle="""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), bg AS (
  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
  FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM w WHERE len(ws) >= 2)
), c12 AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY w1, w2
), c1 AS (
  SELECT w1, CAST(SUM(c) AS BIGINT) AS c FROM c12 GROUP BY w1
), v AS (
  SELECT CAST(COUNT(DISTINCT term) AS BIGINT) AS v
  FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
), lp AS (
  SELECT c12.w1, c12.w2,
         CAST(round(ln((c12.c + 1) * 1.0 / (c1.c + v.v)), 9) AS DECIMAL(18,9)) AS logp
  FROM c12 JOIN c1 USING (w1), v
), per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(logp) AS DOUBLE) / COUNT(*) AS avg_lp
  FROM bg JOIN lp ON bg.w1 = lp.w1 AND bg.w2 = lp.w2
  GROUP BY doc_id)
SELECT doc_id, n_bigrams, round(avg_lp, 6) AS avg_logprob
FROM per_doc
""",
)
def bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model scoring with add-1 smoothing — the
    KenLM-perplexity-filter shape (CCNet's quality signal) one order up
    from `unigram_logprob`: P(w2|w1) = (c(w1,w2)+1) / (c(w1)+V),
    per-doc average log-probability over its bigrams.

    Determinism follows the unigram pattern proven in
    `unigram_logprob`: each conditional logp is ln of ONE exact integer
    ratio rounded onto a 9dp DECIMAL grid, doc sums are decimal
    (order-free), one double division at the end.

    Scale shape (100 TB): bigram extraction is a narrow
    sequence-explode + element_at (codegen'd, no lambda HOFs); the LM
    table reduces by (w1,w2) with map-side combine; scoring is an
    equi-join on the bigram key — vocab²-bounded, broadcastable for
    real vocabularies after pruning, hash-partitioned here.
    """
    docs = parallelize_if_narrow(load_table(spark, sf_dir, "documents"))
    ws = F.split("text", " ")
    bg = (
        docs.select("doc_id", ws.alias("ws"))
        .filter(F.size("ws") >= 2)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("ws") - 1)).alias("i"),
            "ws",
        )
        .select(
            "doc_id",
            F.element_at("ws", F.col("i")).alias("w1"),
            F.element_at("ws", F.col("i") + 1).alias("w2"),
        )
    )
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    c1 = c12.groupBy("w1").agg(F.sum("c").cast("bigint").alias("c1"))
    v = (
        docs.select(F.explode(ws).alias("term"))
        .agg(F.countDistinct("term").cast("bigint").alias("v"))
    )
    lp = (
        c12.join(c1, "w1")
        .join(F.broadcast(v))
        .select(
            "w1",
            "w2",
            F.round(F.log((F.col("c") + 1) / (F.col("c1") + F.col("v"))), 9)
            .cast("decimal(18,9)")
            .alias("logp"),
        )
    )
    per_doc = (
        bg.join(lp, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            (F.sum("logp").cast("double") / F.count(F.lit(1))).alias("avg_lp"),
        )
    )
    return per_doc.select(
        "doc_id", "n_bigrams", F.round("avg_lp", 6).alias("avg_logprob")
    )


# --- per-domain TF-IDF topic keywords ---------------------------------

_TFIDF_TOPK = 5


@register(
    "topic_tfidf",
    oracle=f"""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT source, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY source, term
), df AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
), nsrc AS (
  SELECT CAST(COUNT(DISTINCT source) AS BIGINT) AS n FROM documents
), scored AS (
  SELECT tf.source, tf.term,
         CAST(tf.tf AS BIGINT) * CAST(round(ln((nsrc.n + 1) * 1.0 / (df.df + 1)) * 1000000000
              ) AS BIGINT) AS score_nano
  FROM tf JOIN df USING (term), nsrc
), ranked AS (
  SELECT source, term, score_nano,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY score_nano DESC, term) AS rk
  FROM scored)
SELECT source, CAST(rk AS BIGINT) AS rk, term, score_nano
FROM ranked WHERE rk <= {_TFIDF_TOPK}
""",
)
def topic_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain characteristic terms by TF-IDF (the c-TF-IDF /
    BERTopic shape, with the 20 sources as the "topics"): term
    frequency inside the domain x smoothed inverse domain frequency,
    top-5 per domain.

    Determinism: idf = ln of one exact ratio, scaled to integer
    nanounits BEFORE the tf multiply, so scores are exact BIGINTs in
    both engines (NOTES rule 1/2); ties break on the term string.

    Scale shape (100 TB): tf is a (source, term)-keyed partial agg; df
    reduces the tf relation again by term — both map-side combined;
    the idf join is vocab-sized and broadcastable; final per-source
    top-5 is a windowed rank filter (WindowGroupLimit pushdown), keyed
    by the same source partition as tf, so the big token explode
    shuffles exactly once.
    """
    docs = parallelize_if_narrow(load_table(spark, sf_dir, "documents"))
    tok = docs.select("source", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    nsrc = docs.agg(F.countDistinct("source").cast("bigint").alias("n"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(F.broadcast(nsrc))
        .select(
            "source",
            "term",
            (
                F.col("tf")
                * F.round(
                    F.log((F.col("n") + 1) / (F.col("df") + 1)) * 1_000_000_000
                ).cast("bigint")
            ).alias("score_nano"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("score_nano"), "term")
    return (
        scored.select(
            "source", F.row_number().over(w).cast("bigint").alias("rk"), "term", "score_nano"
        )
        .filter(F.col("rk") <= _TFIDF_TOPK)
    )


# --- BPE tokenizer-training pair statistics ---------------------------

_BPE_TOPK = 50


@register(
    "bpe_pair_counts",
    oracle=f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
), wc AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY word
), pairs AS (
  SELECT word[i:i] AS a, word[i+1:i+1] AS b, c
  FROM (SELECT word, c, unnest(range(1, len(word))) AS i FROM wc WHERE len(word) >= 2)
), agg AS (
  SELECT a, b, CAST(SUM(c) AS BIGINT) AS pair_count FROM pairs GROUP BY a, b
)
SELECT a, b, pair_count FROM agg
ORDER BY pair_count DESC, a, b LIMIT {_BPE_TOPK}
""",
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inner statistic of BPE tokenizer TRAINING: adjacent-symbol
    pair frequencies over the word-frequency table (one merge round of
    Sennrich-style BPE picks the argmax of exactly this table). Top-50
    pairs with a total order.

    Scale shape (100 TB): the crucial move is counting WORDS first —
    the corpus collapses to its vocabulary (Zipf: millions of rows, not
    trillions) before any character-level explode; pair extraction then
    runs over vocab-sized data, weighted by word counts. Both groupBys
    partial-aggregate; top-50 is TakeOrderedAndProject. An actual
    tokenizer trainer iterates argmax -> merge -> recount on the SAME
    vocab-sized frame (the `kmeans_lloyd` iteration pattern).
    """
    docs = parallelize_if_narrow(load_table(spark, sf_dir, "documents"))
    wc = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    pairs = (
        wc.filter(F.length("word") >= 2)
        .select(
            "word",
            "c",
            F.explode(F.sequence(F.lit(1), F.length("word") - 1)).alias("i"),
        )
        .select(
            F.expr("substring(word, i, 1)").alias("a"),
            F.expr("substring(word, i + 1, 1)").alias("b"),
            "c",
        )
    )
    return (
        pairs.groupBy("a", "b")
        .agg(F.sum("c").cast("bigint").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "a", "b")
        .limit(_BPE_TOPK)
    )


# --- Count-Min sketch frequency estimation (portable, fully oracled) --

# d x w counter grid. Cells are the MERGEABLE state of the sketch:
# (row, col) partial counts sum associatively, which is what makes CMS
# the streaming/distributed frequency summary. Keep the literals in
# sync inside the oracle SQL.
_CMS_DEPTH = 4
_CMS_WIDTH = 256

_CMS_ORACLE = f"""
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
cnt AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY term),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cnt),
hh AS (SELECT term, c FROM cnt, tot WHERE c * 50 > n),
cells AS (
  SELECT r.range AS r,
         ('0x' || substr(md5(r.range || ':' || term), 1, 8))::BIGINT
             % {_CMS_WIDTH} AS col,
         CAST(SUM(c) AS BIGINT) AS cell
  FROM cnt, range(0, {_CMS_DEPTH}) r GROUP BY 1, 2
),
q AS (
  SELECT hh.term, hh.c, r.range AS r,
         ('0x' || substr(md5(r.range || ':' || hh.term), 1, 8))::BIGINT
             % {_CMS_WIDTH} AS col
  FROM hh, range(0, {_CMS_DEPTH}) r
)
SELECT q.term, q.c AS exact_count,
       CAST(MIN(cells.cell) AS BIGINT) AS cms_est,
       CAST(MIN(cells.cell) - q.c AS BIGINT) AS overestimate
FROM q JOIN cells ON q.r = cells.r AND q.col = cells.col
GROUP BY q.term, q.c
"""


@register("count_min_freq", oracle=_CMS_ORACLE)
def count_min_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimation (Cormode & Muthukrishnan
    2005) with an engine-portable md5 hash family — every stage of the
    sketch is DuckDB-oracle-verified: the d x w counter grid, the
    per-row hash routing, and the min-over-rows point query. Queried
    for the exact heavy-hitter set (``heavy_hitters``' 2% support
    threshold) so each output row carries exact count, CMS estimate,
    and the sketch's one-sided overestimate (always >= 0).

    Scale shape (100 TB): the corpus first collapses to its vocabulary
    (partial-agged term counts — the same move as ``heavy_hitters``),
    then the grid is a fixed d*w-cell aggregate: CONSTANT-size
    mergeable state regardless of corpus size, the property that lets
    a real deployment maintain the sketch per-partition and merge by
    cell-wise sum (or keep it running in a streaming job). The point
    query broadcasts the grid (<= {_CMS_DEPTH}*{_CMS_WIDTH} rows) to
    the query terms. Accuracy is the textbook bound: overestimate <=
    e/w * N with probability 1 - e^-d; the output exposes the actual
    error per heavy term instead of asserting it.
    """
    docs = parallelize_if_narrow(load_table(spark, sf_dir, "documents"))
    cnt = stage_cache(  # three consumers: total, grid, heavy-hitter query set
        docs.select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    tot = cnt.agg(F.sum("c").cast("bigint").alias("n"))
    rows = F.explode(F.array(*[F.lit(r) for r in range(_CMS_DEPTH)])).alias("r")
    col = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("r").cast("string"), F.lit(":"), F.col("term"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % _CMS_WIDTH
    )
    cells = (
        cnt.select("term", "c", rows)
        .withColumn("col", col)
        .groupBy("r", "col")
        .agg(F.sum("c").cast("bigint").alias("cell"))
    )
    hh = (
        cnt.join(F.broadcast(tot))
        .filter(F.col("c") * 50 > F.col("n"))
        .select("term", "c")
    )
    q = hh.select("term", "c", rows).withColumn("col", col)
    return (
        q.join(F.broadcast(cells), ["r", "col"])
        .groupBy("term", "c")
        .agg(F.min("cell").cast("bigint").alias("cms_est"))
        .select(
            "term",
            F.col("c").alias("exact_count"),
            "cms_est",
            (F.col("cms_est") - F.col("c")).cast("bigint").alias("overestimate"),
        )
    )


# --- BPE tokenizer TRAINING: the iterated merge loop ------------------

_BPE_TRAIN_ROUNDS = 6


def _bpe_train_ctes(rounds: int, carry_word: bool = False) -> tuple[list[str], list[str]]:
    """Chained-CTE DuckDB twin of the merge loop: each round recomputes
    pair stats, takes the argmax, and applies the merge — the same
    round-unrolling trick as the kmeans_lloyd oracle. With
    ``carry_word`` the word column rides through every seq table so a
    consumer can join the final segmentation back to the corpus
    (``bpe_encode``)."""
    w = "word, " if carry_word else ""
    ctes = [
        """wc AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  GROUP BY word
)""",
        rf"""seq0 AS (
  SELECT {w}trim(regexp_replace(word, '(.)', '\1 ', 'g')) AS seq, c FROM wc
)""",
    ]
    outs = []
    for r in range(1, rounds + 1):
        ctes.append(f"""pairs{r} AS (
  SELECT a[i] AS x, a[i+1] AS y, c
  FROM (SELECT a, c, unnest(range(1, len(a))) AS i
        FROM (SELECT string_split(seq, ' ') AS a, c FROM seq{r - 1})
        WHERE len(a) >= 2)
),
best{r} AS (
  SELECT x, y, CAST(SUM(c) AS BIGINT) AS pair_freq
  FROM pairs{r} GROUP BY x, y
  ORDER BY pair_freq DESC, x, y LIMIT 1
),
seq{r} AS (
  SELECT {w}trim(replace(replace(' ' || seq || ' ',
                              ' ' || x || ' ' || y || ' ',
                              ' ' || x || y || ' '),
                      ' ' || x || ' ' || y || ' ',
                      ' ' || x || y || ' ')) AS seq, c
  FROM seq{r - 1}, best{r}
),
vocab{r} AS (
  SELECT CAST(COUNT(DISTINCT sym) AS BIGINT) AS vocab_size_after
  FROM (SELECT unnest(string_split(seq, ' ')) AS sym FROM seq{r})
)""")
        outs.append(
            f"SELECT {r} AS round, x AS left_sym, y AS right_sym,"
            f" pair_freq, vocab_size_after FROM best{r}, vocab{r}"
        )
    return ctes, outs


def _bpe_train_oracle(rounds: int) -> str:
    ctes, outs = _bpe_train_ctes(rounds)
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(outs)


@register("bpe_train_merges", oracle=_bpe_train_oracle(_BPE_TRAIN_ROUNDS))
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING (Sennrich et al. 2016): the iterated
    argmax -> merge -> recount loop that `bpe_pair_counts` computes one
    round of — run for ``_BPE_TRAIN_ROUNDS`` rounds, emitting the merge table (the
    `merges.txt` a tokenizer ships) with the picked pair's frequency
    and the corpus symbol-vocabulary size after each merge. The whole
    iterative computation is hash-verified against a chained-CTE
    DuckDB oracle.

    Merge application is two chained literal `replace` passes over the
    space-separated symbol string: pass 1's left-to-right scan consumes
    the shared boundary space of back-to-back occurrences ("a b a b"
    merges only the first), pass 2 picks up exactly those skipped
    occurrences — together they equal greedy non-overlapping merging.
    (Self-overlapping runs of an x==x pair can merge FEWER pairs than
    canonical BPE — pass 1's consumed boundary spaces isolate run
    leftovers — but the result is always a valid, locally-maximal
    non-overlapping merging, exhaustively pinned in
    tests/test_round3_ops.py; both engines compute the identical
    result, and the tie-break argmax — count desc, pair asc — is
    total, so the loop is deterministic cross-engine.)

    Scale shape (100 TB): the corpus collapses to its VOCABULARY
    before round 1 (Zipf: millions of rows, not trillions) and every
    round operates on that vocab-sized frame — pair stats partial-agg,
    the argmax is a broadcast 1-row frame, the merge is a narrow
    projection, and `localCheckpoint` caps lineage growth per round
    exactly as in `textrank_keywords`. This is how production BPE
    trainers (e.g. the original subword-nmt, HF tokenizers) structure
    the loop; rounds are bounded (vocab-budget many), never data-sized.
    """
    _, merges = _bpe_merge_loop(_bpe_seq0(spark, sf_dir))
    return merges


def _bpe_seq0(spark: SparkSession, sf_dir: str, carry_word: bool = False) -> DataFrame:
    """Word-frequency table with each word char-split into its initial
    symbol sequence — the vocab-sized frame every merge round runs on."""
    docs = parallelize_if_narrow(load_table(spark, sf_dir, "documents"))
    wc = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    cols = (["word"] if carry_word else []) + [
        F.trim(F.regexp_replace("word", "(.)", "$1 ")).alias("seq"),
        "c",
    ]
    return stage_checkpoint(wc.select(*cols))


def _bpe_merge_loop(seqs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Run ``_BPE_TRAIN_ROUNDS`` argmax -> merge -> recount rounds over
    ``seqs`` (columns: [extra...], seq, c — extras ride through
    untouched). Returns (final segmentation, merge table)."""
    keep = seqs.columns
    out = None
    for r in range(1, _BPE_TRAIN_ROUNDS + 1):
        pairs = (
            seqs.withColumn("a", F.split("seq", " "))
            .filter(F.size("a") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(a) - 1),"
                        " i -> named_struct('x', a[i-1], 'y', a[i]))"
                    )
                ).alias("p"),
                "c",
            )
            .groupBy(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
            .agg(F.sum("c").cast("bigint").alias("pair_freq"))
        )
        # 1-row argmax readback (NOTES rule-12 style bounded driver
        # action: one row per round, _BPE_TRAIN_ROUNDS rounds, never
        # data-sized). Freezing (x, y) as plan literals replaces the
        # per-round persist+crossJoin — no cached frames accumulate
        # across bench passes — and an empty frame (fully-merged tiny
        # corpus) cleanly ends training instead of annihilating seqs
        # through the crossJoin.
        best = pairs.orderBy(F.desc("pair_freq"), "x", "y").limit(1).take(1)
        if not best:
            break
        bx, by, bfreq = best[0]["x"], best[0]["y"], int(best[0]["pair_freq"])
        pat = F.lit(f" {bx} {by} ")
        rep = F.lit(f" {bx}{by} ")
        seqs = stage_checkpoint(
            seqs.withColumn("s2", F.concat(F.lit(" "), F.col("seq"), F.lit(" ")))
            .withColumn("s2", F.replace(F.col("s2"), pat, rep))
            .withColumn("s2", F.replace(F.col("s2"), pat, rep))
            .select(
                *[
                    F.trim(F.col("s2")).alias("seq") if c == "seq" else F.col(c)
                    for c in keep
                ]
            )
        )
        row = (
            seqs.select(F.explode(F.split("seq", " ")).alias("sym"))
            .agg(F.count_distinct("sym").cast("bigint").alias("vocab_size_after"))
            .select(
                F.lit(r).alias("round"),
                F.lit(bx).alias("left_sym"),
                F.lit(by).alias("right_sym"),
                F.lit(bfreq).cast("bigint").alias("pair_freq"),
                "vocab_size_after",
            )
        )
        out = row if out is None else out.unionByName(row)
    if out is None:  # zero completed rounds: empty merge table, right schema
        out = seqs.sparkSession.createDataFrame(
            [],
            "round INT, left_sym STRING, right_sym STRING,"
            " pair_freq BIGINT, vocab_size_after BIGINT",
        )
    return seqs, out


def _bpe_encode_oracle(rounds: int) -> str:
    ctes, _ = _bpe_train_ctes(rounds, carry_word=True)
    ctes.append(f"""vtok AS (
  SELECT word, CAST(len(string_split(seq, ' ')) AS BIGINT) AS n_sym
  FROM seq{rounds}
),
dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT dw.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(len(dw.word)) AS BIGINT) AS n_chars,
       CAST(SUM(vtok.n_sym) AS BIGINT) AS n_tokens_bpe
FROM dw JOIN vtok ON dw.word = vtok.word
GROUP BY dw.doc_id"""
    )


@register("bpe_encode", oracle=_bpe_encode_oracle(_BPE_TRAIN_ROUNDS))
def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLICATION: encode the corpus with the merges
    ``bpe_train_merges`` learns, reporting per-document word, char, and
    BPE-token counts — the train/apply pair that turns raw text into
    the token budget every LLM data pipeline is priced in.

    The scale move mirrors training: merges are applied to the
    VOCABULARY (Zipf-bounded), producing one (word -> n_symbols) row
    per distinct word; the corpus then joins its exploded words to
    that segmentation table — apply-on-vocab + hash join, never
    re-running the merge chain per document occurrence. The join is a
    plain equi-join on word (broadcastable while the vocab fits, a
    hash join beyond); the per-doc rollup partial-aggregates.
    Hash-verified end-to-end: the oracle replays training AND
    encoding, so the match proves the learned merges, the final
    segmentation, and the corpus join all agree cross-engine.
    """
    final_seqs, _ = _bpe_merge_loop(_bpe_seq0(spark, sf_dir, carry_word=True))
    vtok = final_seqs.select(
        "word", F.size(F.split("seq", " ")).cast("bigint").alias("n_sym")
    )
    docs = parallelize_if_narrow(load_table(spark, sf_dir, "documents"))
    dw = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    return (
        dw.join(vtok, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.sum(F.length("word")).cast("bigint").alias("n_chars"),
            F.sum("n_sym").cast("bigint").alias("n_tokens_bpe"),
        )
    )


# --- linear-counting distinct sketch (portable, fully oracled) --------

# bitmap width; keep the literal in sync inside the oracle SQL
_LC_BITS = 4096

_LC_ORACLE = f"""
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
bits AS (
  SELECT DISTINCT ('0x' || substr(md5(term), 1, 8))::BIGINT % {_LC_BITS} AS b
  FROM tok
),
stats AS (
  SELECT CAST((SELECT COUNT(*) FROM tok) AS BIGINT) AS n_tokens,
         CAST((SELECT COUNT(DISTINCT term) FROM tok) AS BIGINT) AS exact_distinct,
         CAST(COUNT(*) AS BIGINT) AS bits_set
  FROM bits
)
SELECT n_tokens, exact_distinct, bits_set,
       CAST(round({_LC_BITS} * ln({_LC_BITS} * 1.0 / ({_LC_BITS} - bits_set)), 6)
            AS DOUBLE) AS lc_estimate
FROM stats
"""


@register("distinct_linear_counting", oracle=_LC_ORACLE)
def distinct_linear_counting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-counting distinct estimation (Whang et al. 1990) with a
    portable md5 bitmap — the fully-oracled member of the
    distinct-sketch family next to the rows-only HLL/theta entries:
    bitmap population, zero fraction, and the -m·ln(V₀/m) estimator
    are all hash-verified (ln rounded onto the decimal grid, the
    `unigram_logprob` determinism trick).

    Scale shape: the m-bit bitmap is CONSTANT mergeable state (the
    distinct bit set partial-aggregates map-side and unions by set
    union), the same property that makes HLL distributable — linear
    counting just trades memory (m ≈ expected cardinality) for much
    lower error at small-to-medium cardinalities. The corpus collapses
    to distinct (bit) rows before the final scalar rollup.
    """
    docs = parallelize_if_narrow(load_table(spark, sf_dir, "documents"))
    # deliberately NOT persisted: the exploded token stream is the
    # largest intermediate in the query, and its two consumers are
    # narrow re-scans of a pruned 1-column parquet read — recomputing
    # beats pinning corpus-sized rows in the session cache
    tok = docs.select(F.explode(F.split("text", " ")).alias("term"))
    bit = (
        F.conv(F.substring(F.md5("term"), 1, 8), 16, 10).cast("bigint") % _LC_BITS
    )
    bits = tok.select(bit.alias("b")).distinct()
    stats = tok.agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.count_distinct("term").cast("bigint").alias("exact_distinct"),
    )
    est = F.round(
        _LC_BITS * F.log(_LC_BITS / (_LC_BITS - F.col("bits_set"))), 6
    ).cast("double")
    return (
        bits.agg(F.count("*").cast("bigint").alias("bits_set"))
        .crossJoin(F.broadcast(stats))
        .select("n_tokens", "exact_distinct", "bits_set", est.alias("lc_estimate"))
    )


# --- DSIR importance weights (Xie et al. 2023, arXiv:2302.03169) ------

_DSIR_BUCKETS = 1024  # hashed n-gram feature space (the paper uses 10k)
_DSIR_TARGET = "src0"  # the "target domain" the raw corpus is scored against
_DSIR_TOPK = 100


# DSIR per-doc weight CTEs (tok .. w) — shared verbatim by the
# dsir_weights oracle and the composed select_pretraining_data oracle.
_DSIR_CTES = f"""tok AS (
  SELECT doc_id, source,
         CAST(CAST(concat('0x', substr(md5(concat('dsir:', term)), 1, 8))
              AS BIGINT) % {_DSIR_BUCKETS} AS INT) AS b
  FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS term
        FROM documents)
),
tstats AS (
  SELECT b, COUNT(*) AS ct FROM tok WHERE source = '{_DSIR_TARGET}' GROUP BY b
),
rstats AS (SELECT b, COUNT(*) AS cr FROM tok GROUP BY b),
tot AS (
  SELECT SUM(CASE WHEN source = '{_DSIR_TARGET}' THEN 1 ELSE 0 END) AS tt,
         COUNT(*) AS tr
  FROM tok
),
lr AS (
  SELECT r.b,
         CAST(round(ln(((COALESCE(t.ct, 0) + 1) * 1.0 / (tot.tt + {_DSIR_BUCKETS}))
                       * ((tot.tr + {_DSIR_BUCKETS}) * 1.0 / (r.cr + 1))), 9)
              AS DECIMAL(18,9)) AS logratio
  FROM rstats r LEFT JOIN tstats t ON r.b = t.b, tot
),
w AS (
  SELECT tok.doc_id, tok.source,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         SUM(lr.logratio) AS lw
  FROM tok JOIN lr ON tok.b = lr.b
  GROUP BY 1, 2
)"""

_DSIR_ORACLE = f"""
WITH {_DSIR_CTES}
SELECT doc_id, source, n_tokens,
       round(CAST(lw AS DOUBLE), 6) AS logweight
FROM w
ORDER BY lw DESC, doc_id
LIMIT {_DSIR_TOPK}
"""


def dsir_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc DSIR importance weights for the WHOLE corpus:
    (doc_id, source, n_tokens, lw decimal) — the shared core of
    ``dsir_weights`` (which takes the global top-K) and the composed
    ``select_pretraining_data`` pipeline (which selects among
    decontaminated survivors)."""
    docs = parallelize_if_narrow(load_table(spark, sf_dir, "documents"))
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit("dsir:"), F.col("term"))), 1, 8), 16, 10)
        .cast("bigint") % _DSIR_BUCKETS
    ).cast("int")
    tok = docs.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("term")
    ).select("doc_id", "source", bucket.alias("b"))
    tstats = (
        tok.filter(F.col("source") == _DSIR_TARGET)
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    rstats = tok.groupBy("b").agg(F.count(F.lit(1)).alias("cr"))
    tot = tok.agg(
        F.sum(F.when(F.col("source") == _DSIR_TARGET, 1).otherwise(0)).alias("tt"),
        F.count(F.lit(1)).alias("tr"),
    )
    logratio = F.round(
        F.log(
            ((F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
             / (F.col("tt") + _DSIR_BUCKETS))
            * ((F.col("tr") + _DSIR_BUCKETS).cast("double") / (F.col("cr") + 1))
        ),
        9,
    ).cast("decimal(18,9)")
    lr = (
        rstats.join(tstats, "b", "left")
        .crossJoin(F.broadcast(tot))
        .select("b", logratio.alias("logratio"))
    )
    return (
        tok.join(F.broadcast(lr), "b")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("logratio").alias("lw"),
        )
    )


@register("dsir_weights", oracle=_DSIR_ORACLE)
def dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.
    2023, arXiv:2302.03169): score every raw document by how much more
    likely its hashed-unigram bag is under the TARGET domain's unigram
    distribution than under the raw corpus's, and keep the top-K.
    ``log w(x) = sum over tokens of [log p_target(b) - log p_raw(b)]``
    over ``_DSIR_BUCKETS`` hashed feature buckets with add-1 smoothing
    — the standard pretraining-data-selection shape (the paper samples
    by weight; deterministic top-K is the hash-verifiable stand-in).

    Determinism: buckets from portable md5; each bucket's log-ratio is
    ln of one fixed-shape IEEE expression rounded to the 9dp decimal
    grid (the ``unigram_logprob`` idiom), so per-doc sums are exact and
    the top-K frontier is engine-identical. Scale: both distributions
    are CONSTANT-size (``_DSIR_BUCKETS`` rows — that is the entire
    point of hashed features), broadcast to a single narrow pass over
    the token stream; one doc_id-keyed partial-agg shuffle; top-K is
    TakeOrderedAndProject (per-partition heaps). No vocabulary-sized
    state anywhere — at 100 TB the only corpus-sized traffic is the
    one aggregation shuffle.
    """
    return (
        dsir_frame(spark, sf_dir)
        .orderBy(F.col("lw").desc(), "doc_id")
        .limit(_DSIR_TOPK)
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.round(F.col("lw").cast("double"), 6).alias("logweight"),
        )
    )


# --- fuzzy (MinHash-LSH) decontamination ------------------------------

# Bench subset for the FUZZY check: denser than contamination_check's
# exact-8-gram suite (doc_id % 25) so the near-dup verify path is
# exercised non-vacuously at the sf0.01 driver scale (14 flagged pairs).
FUZZY_BENCH_MOD = 5
FUZZY_CONTAM_TAU = 0.5


from map_reduce_spark.operators.dedup import _SHINGLE_SQL as _SH_SQL  # noqa: E402

# Fuzzy-decontamination CTEs (fsh .. fuzzy) — shared verbatim by the
# contamination_minhash oracle and the composed
# select_pretraining_data oracle (names f-prefixed so they compose
# with the DSIR CTEs without collision).
_FUZZY_CTES = f"""fsh AS (
  SELECT doc_id, unnest({_SH_SQL}) AS t
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
),
fperms AS (SELECT doc_id, r.range AS p, t FROM fsh, range(0, 32) r),
fmins AS (
  SELECT doc_id, p, MIN(substr(md5(concat(p, ':', t)), 1, 8)) AS h
  FROM fperms GROUP BY 1, 2
),
fbands AS (
  SELECT doc_id, p // 4 AS band,
         md5(string_agg(h, ',' ORDER BY p)) AS bucket
  FROM fmins GROUP BY doc_id, p // 4
),
fcand AS (
  SELECT DISTINCT x.doc_id AS train_id, y.doc_id AS bench_id
  FROM fbands x JOIN fbands y
    ON x.band = y.band AND x.bucket = y.bucket
  WHERE y.doc_id % {FUZZY_BENCH_MOD} = 0 AND x.doc_id % {FUZZY_BENCH_MOD} <> 0
),
fsets AS (
  SELECT doc_id, {_SH_SQL} AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
),
fuzzy AS (
  SELECT train_id, bench_id,
         round(len(list_intersect(a.s, b.s)) * 1.0
               / len(list_distinct(list_concat(a.s, b.s))), 6) AS jac
  FROM fcand JOIN fsets a ON train_id = a.doc_id
             JOIN fsets b ON bench_id = b.doc_id
  WHERE len(list_intersect(a.s, b.s)) * 1.0
        / len(list_distinct(list_concat(a.s, b.s))) >= {FUZZY_CONTAM_TAU}
)"""

_FUZZY_CONTAM_ORACLE = f"""
WITH {_FUZZY_CTES}
SELECT train_id, bench_id, jac FROM fuzzy
"""


def fuzzy_contaminated_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY benchmark decontamination: MinHash-LSH candidate
    generation between the training corpus and the held-out benchmark
    subset (doc_id % ``FUZZY_BENCH_MOD`` == 0), then exact shingle
    Jaccard on candidates — flagging train docs whose similarity to
    any bench doc reaches ``FUZZY_CONTAM_TAU``. This catches the
    paraphrased/partial contamination that ``contamination_check``'s
    exact 8-gram overlap misses; together they are the standard
    two-tier decontamination gate.

    Scale shape (100 TB): at a real deployment the benchmark side is a
    FIXED-SIZE eval suite whose band table broadcasts, so the corpus is
    scanned once into a broadcast hash join on (band, bucket) and never
    shuffles for candidate generation. In THESE test tables the bench
    subset is a mod-``FUZZY_BENCH_MOD`` slice — ~20% of the corpus, a
    corpus-PROPORTIONAL stand-in — so the join deliberately carries no
    ``F.broadcast`` hint: AQE broadcasts it while it fits
    (autoBroadcastJoinThreshold) and falls back to a shuffle hash join
    when it does not, instead of force-broadcasting a growing side (r4
    ADVICE). Exact Jaccard runs on the candidate set only (same
    two-stage barrier as the minhash-dedup family). Portable md5 hash
    family start-to-finish, so bands, candidates, and verdicts are all
    reproduced by the DuckDB oracle.
    """
    from map_reduce_spark.operators.dedup import (
        _collision_pairs,
        _verify_jaccard,
        minhash_bands,
    )

    docs = load_table(spark, sf_dir, "documents")
    bands = minhash_bands(docs, "md5")
    is_bench = F.col("doc_id") % FUZZY_BENCH_MOD == 0
    cand = stage_cache(  # stage barrier: candidates are eval-suite bounded
        _collision_pairs(bands.filter(~is_bench), bands.filter(is_bench))
    )
    # the colliding ids are corpus-proportional here: AQE owns the
    # semi-join strategy, no forced broadcast (r4 ADVICE)
    return _verify_jaccard(
        docs, cand, FUZZY_CONTAM_TAU, broadcast_ids=False
    ).select(
        F.col("doc_a").alias("train_id"), F.col("doc_b").alias("bench_id"), "jac"
    )


@register("contamination_minhash", oracle=_FUZZY_CONTAM_ORACLE)
def contamination_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered entry for ``fuzzy_contaminated_pairs`` (see its
    docstring — MinHash-LSH candidates between corpus and the held-out
    bench subset, exact shingle Jaccard verify at
    ``FUZZY_CONTAM_TAU``); also the fuzzy tier of the composed
    ``select_pretraining_data`` pipeline."""
    return fuzzy_contaminated_pairs(spark, sf_dir)

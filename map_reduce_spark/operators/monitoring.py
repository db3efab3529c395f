"""Corpus monitoring / observability: the read-only audit queries a
production training-data pipeline runs on every corpus drop, BEFORE
admission — distribution drift (PSI), cross-source overlap, a
per-source curation funnel with first-drop attribution, and a
k-anonymity privacy audit. The PSI alarm also ships as a streaming
twin (streaming/jobs.py streaming_drift_psi) via the shared
``psi_bins``/``psi_from_counts`` split.

Not in the reference (wordcount only); this family rounds out the
LLM-pipeline mandate: `dq_checks` (pipeline_ops.py) gates on
per-table validity rules, these gate on corpus-level SHAPE —
did the new drop's length distribution drift, are two sources
copying each other, where exactly does each source lose mass in
the standard filter chain, and what re-identification floor does
the release satisfy.

Cross-engine determinism notes (the same discipline as
corpus_quality.py): every count is exact integer arithmetic; the one
float stage (PSI's (p-q)*ln(p/q)) follows the bm25 pattern — the
per-bin term is rounded to 9 dp on both engines (cross-library ln()
ulp kill), the DuckDB side sums DECIMAL(18,9), and the final sum is
rounded to 6 dp. Binning is integer floor-division (no percentile
boundaries, no float thresholds), so bin membership can never flip
with engine or scale (the round-4 winsorize lesson).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from map_reduce_spark.io import load_table, parallelize_if_narrow
from map_reduce_spark.registry import register
from map_reduce_spark.session import stage_cache, stage_checkpoint

# PSI histogram: 10 fixed-width integer bins over n_chars.  Width 64
# covers the synthetic corpus (48..~550); the LEAST(9, ...) cap makes
# the top bin open-ended so any scale's tail lands deterministically.
_PSI_BINS = 10
_PSI_WIDTH = 64

_PSI_ORACLE = f"""
WITH b AS (
  SELECT source, LEAST({_PSI_BINS - 1}, n_chars // {_PSI_WIDTH}) AS bin
  FROM documents
),
c AS (SELECT source, bin, COUNT(*) AS c FROM b GROUP BY source, bin),
n AS (SELECT source, COUNT(*) AS n FROM b GROUP BY source),
o AS (SELECT bin, COUNT(*) AS o FROM b GROUP BY bin),
tot AS (SELECT COUNT(*) AS t FROM b),
grid AS (
  SELECT n.source, n.n, g.bin
  FROM n CROSS JOIN (SELECT unnest(range({_PSI_BINS})) AS bin) g
),
terms AS (
  SELECT grid.source, grid.n,
         CAST(round(
           ((COALESCE(c.c, 0) + 1.0) / (grid.n + {_PSI_BINS}.0)
            - (COALESCE(o.o, 0) + 1.0) / (tot.t + {_PSI_BINS}.0))
           * ln(((COALESCE(c.c, 0) + 1.0) / (grid.n + {_PSI_BINS}.0))
                / ((COALESCE(o.o, 0) + 1.0) / (tot.t + {_PSI_BINS}.0))),
           9) AS DECIMAL(18, 9)) AS term
  FROM grid
  LEFT JOIN c ON c.source = grid.source AND c.bin = grid.bin
  LEFT JOIN o ON o.bin = grid.bin
  CROSS JOIN tot
)
SELECT source,
       CAST(n AS BIGINT) AS n_docs,
       round(CAST(SUM(term) AS DOUBLE), 6) AS psi
FROM terms
GROUP BY source, n
"""


def psi_bins(df: DataFrame) -> DataFrame:
    """(source, bin) under the fixed integer binning — shared by the
    batch query and its streaming twin so bin membership is one
    definition."""
    return df.select(
        "source",
        F.least(
            F.lit(_PSI_BINS - 1),
            F.expr(f"n_chars div {_PSI_WIDTH}"),
        ).alias("bin"),
    )


@register("drift_psi", oracle=_PSI_ORACLE)
def drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability index of each source's doc-length
    distribution against the whole corpus — the standard drift alarm
    (PSI > 0.2 = investigate) run on every incoming drop.

    Laplace-smoothed shares over 10 fixed integer-width bins:
    p = (c+1)/(n+10) per source, q likewise overall;
    psi = sum((p - q) * ln(p / q)).

    Scale shape (100 TB): ONE narrow scan -> one partial-aggregated
    groupBy (source x bin); everything downstream of the counts is
    constant-size (one row per source, the bin marginals from a
    whole-frame window over it — not a second scan, not a join). No
    percentile pass, no sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    binned = psi_bins(docs)
    c = stage_cache(binned.groupBy("source", "bin").agg(F.count("*").alias("c")))
    return psi_from_counts(c)


def psi_from_counts(c: DataFrame) -> DataFrame:
    """PSI finish over a (source, bin, c) counts frame — everything
    here is constant-size (one row per source). The streaming twin
    (streaming/jobs.py streaming_drift_psi) feeds it the state-store
    counts its incremental aggregation maintains; the batch query
    feeds it the one-scan counts. Same math, one definition.

    Join-free: ONE groupBy("source") pivots the counts into
    ``n = sum(c)`` plus the ten per-bin counts ``c0..c9`` (an absent
    bin sums to 0, so no bin spine is needed), whole-frame windows
    over that per-source frame give the bin marginals ``o0..o9`` and
    the corpus total, and the PSI is a fixed 10-term sum of the 9-dp
    rounded terms, rounded to 6 dp. Each column family is one SQL
    text (NOTES rule 61)."""
    k = range(_PSI_BINS)
    wide = c.groupBy("source").agg(
        F.expr("sum(c) AS n"),
        *[F.expr(f"sum(CASE WHEN bin = {b} THEN c ELSE 0 END) AS c{b}") for b in k],
    )
    marg = [f"sum(c{b}) OVER () AS o{b}" for b in k] + ["sum(n) OVER () AS t"]
    wide = wide.selectExpr("*", *marg)
    p = [f"((c{b} + 1.0D) / (n + {_PSI_BINS}.0D))" for b in k]
    q = [f"((o{b} + 1.0D) / (t + {_PSI_BINS}.0D))" for b in k]
    terms = " + ".join(
        f"round(({p[b]} - {q[b]}) * ln({p[b]} / {q[b]}), 9)" for b in k
    )
    return wide.selectExpr(
        "source", "CAST(n AS BIGINT) AS n_docs", f"round({terms}, 6) AS psi"
    )


# Shared token stream with positions re-ranked AFTER dropping the
# empty fragments the [^a-zA-Z] split produces — so "adjacent" means
# adjacent surviving tokens in BOTH engines regardless of separator
# runs (the bigram pos+1 join in graph.py only matches this corpus
# because its separators are single spaces; trigrams re-rank instead
# of relying on that).
_TOK_RERANK_CTE = """
raw AS (
  SELECT doc_id, source,
         unnest(regexp_split_to_array(text, '[^a-zA-Z]')) AS t,
         generate_subscripts(regexp_split_to_array(text, '[^a-zA-Z]'), 1) AS pos
  FROM documents
),
tok AS (
  SELECT doc_id, source, t,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS rpos
  FROM raw WHERE t <> ''
)
"""

_OVERLAP_ORACLE = (
    "WITH "
    + _TOK_RERANK_CTE.strip()
    + """,
tri AS (
  SELECT a.source, a.t || ' ' || b.t || ' ' || c.t AS gram
  FROM tok a
  JOIN tok b ON b.doc_id = a.doc_id AND b.rpos = a.rpos + 1
  JOIN tok c ON c.doc_id = a.doc_id AND c.rpos = a.rpos + 2
),
sg AS (SELECT DISTINCT source, gram FROM tri),
sz AS (SELECT source, COUNT(*) AS n FROM sg GROUP BY source),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
  FROM sg a JOIN sg b ON a.gram = b.gram AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT p.src_a, p.src_b,
       CAST(COALESCE(i.n_common, 0) AS BIGINT) AS n_common,
       round(COALESCE(i.n_common, 0) * 1.0
             / (p.na + p.nb - COALESCE(i.n_common, 0)), 9) AS jaccard
FROM (
  SELECT a.source AS src_a, b.source AS src_b, a.n AS na, b.n AS nb
  FROM sz a JOIN sz b ON a.source < b.source
) p
LEFT JOIN inter i ON i.src_a = p.src_a AND i.src_b = p.src_b
"""
)


def _gram_stream_of(docs: DataFrame) -> DataFrame:
    """(source, word-trigram) rows WITH duplicates from a documents
    frame (full corpus or one batch), under the engine tokenizer
    contract with re-ranked positions. Duplicate-insensitive consumers
    (MIN aggregation) use this directly and skip the gram-grain
    distinct shuffle.

    Trigrams are formed ARRAY-LOCALLY (filtered token array, one
    transform over the index range) instead of the old posexplode →
    per-doc window → lead chain: token adjacency is a within-row
    property, and the window shape shuffled AND sorted the entire
    exploded token stream by doc_id before any aggregation could
    reduce it — at corpus scale that was the dominant exchange of
    every consumer. Identical gram multiset: the filtered array
    preserves token order, so index-adjacency equals the old
    re-ranked-position adjacency (r11 opt; guide §2.4)."""
    toks = F.filter(F.split("text", "[^a-zA-Z]"), lambda x: x != "")
    grams = F.when(
        F.size("__toks") >= 3,
        F.expr(
            "transform(sequence(0, size(__toks) - 3),"
            " i -> concat_ws(' ', __toks[i], __toks[i+1], __toks[i+2]))"
        ),
    ).otherwise(F.expr("cast(array() as array<string>)"))
    return docs.select("source", toks.alias("__toks")).select(
        "source", F.explode(grams).alias("gram")
    )


def _source_gram_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-corpus gram stream (see ``_gram_stream_of``)."""
    return _gram_stream_of(
        parallelize_if_narrow(
            load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
        )
    )


def _source_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (source, word-trigram) pairs — the set-semantics view
    the exact overlap needs."""
    return _source_gram_stream(spark, sf_dir).distinct()


@register("source_overlap", oracle=_OVERLAP_ORACLE)
def source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise word-trigram Jaccard between sources — the
    cross-source contamination audit (is src7 scraping src3?) that
    complements `contamination_minhash`'s corpus-vs-benchmark check.

    Scale shape (100 TB): the heavy input collapses to DISTINCT
    (source, gram) first (map-side partial distinct), and the pair
    join's key fan-out is bounded by the number of SOURCES sharing a
    gram — never a doc-level cross product. Set sizes are a
    constant-size frame (one row per source), broadcast onto the
    pair grid. At open-web scale the documented escalation swaps the
    exact gram sets for per-source MinHash signatures
    (`dedup_minhash_lsh`'s machinery) with identical output shape.
    """
    sg = stage_cache(_source_grams(spark, sf_dir))
    sz = sg.groupBy("source").agg(F.count("*").alias("n"))
    a, b = sg.alias("a"), sg.alias("b")
    inter = (
        a.join(b, "gram")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    za, zb = sz.alias("za"), sz.alias("zb")
    pairs = (
        za.crossJoin(F.broadcast(zb))
        .filter(F.col("za.source") < F.col("zb.source"))
        .select(
            F.col("za.source").alias("src_a"),
            F.col("zb.source").alias("src_b"),
            F.col("za.n").alias("na"),
            F.col("zb.n").alias("nb"),
        )
    )
    return pairs.join(inter, ["src_a", "src_b"], "left").select(
        "src_a",
        "src_b",
        F.coalesce("n_common", F.lit(0)).cast("long").alias("n_common"),
        F.round(
            F.coalesce("n_common", F.lit(0))
            / (F.col("na") + F.col("nb") - F.coalesce("n_common", F.lit(0))),
            9,
        ).alias("jaccard"),
    )


# Funnel gates, applied in THIS order (first failure attributes the
# doc): length floor, token-diversity floor (Gopher-style repetition
# gate, integer compare 2*distinct < total), exact-dup loser (md5
# group, keeper = min doc_id), else kept.  All-integer predicates.
_FUNNEL_STAGES = ("too_short", "low_diversity", "exact_dup", "kept")
_MIN_CHARS = 150

_FUNNEL_ORACLE = f"""
WITH d AS (
  SELECT doc_id, source, n_chars,
         len(list_filter(regexp_split_to_array(text, '[^a-zA-Z]'),
             x -> x <> '')) AS n_tok,
         len(list_distinct(list_filter(regexp_split_to_array(text, '[^a-zA-Z]'),
             x -> x <> ''))) AS n_distinct,
         ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents
),
staged AS (
  SELECT source,
         CASE WHEN n_chars < {_MIN_CHARS} THEN 'too_short'
              WHEN 2 * n_distinct < n_tok THEN 'low_diversity'
              WHEN rn > 1 THEN 'exact_dup'
              ELSE 'kept' END AS stage
  FROM d
),
c AS (SELECT source, stage, COUNT(*) AS n_docs FROM staged GROUP BY source, stage),
grid AS (
  SELECT s.source, st.stage
  FROM (SELECT DISTINCT source FROM documents) s
  CROSS JOIN (SELECT unnest(['too_short', 'low_diversity', 'exact_dup',
                             'kept']) AS stage) st
)
SELECT grid.source, grid.stage,
       CAST(COALESCE(c.n_docs, 0) AS BIGINT) AS n_docs
FROM grid LEFT JOIN c ON c.source = grid.source AND c.stage = grid.stage
"""


@register("curation_funnel", oracle=_FUNNEL_ORACLE)
def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source retention funnel: every document attributed to the
    FIRST curation gate it fails (length -> diversity -> exact-dup),
    emitted as a dense (source x stage) count grid — the per-drop
    report that says where each source loses mass.

    Scale shape (100 TB): one scan computes all gate features as
    narrow array expressions (no explode — token counts come from
    size()/array_distinct on the split array in place); the only
    shuffle is the md5(text) window for dup-loser ranking, which is
    the same hash-partition `dedup_exact` already proves out, then a
    partial-aggregated groupBy on (source, stage). Output is
    constant-size.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", "[^a-zA-Z]"), lambda x: x != "")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    staged = docs.select(
        "source",
        "n_chars",
        F.size(toks).alias("n_tok"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.row_number().over(w).alias("rn"),
    ).select(
        "source",
        F.when(F.col("n_chars") < _MIN_CHARS, "too_short")
        .when(2 * F.col("n_distinct") < F.col("n_tok"), "low_diversity")
        .when(F.col("rn") > 1, "exact_dup")
        .otherwise("kept")
        .alias("stage"),
    )
    c = stage_cache(
        staged.groupBy("source", "stage").agg(F.count("*").alias("n_docs"))
    )
    stages = spark.createDataFrame(
        [(s,) for s in _FUNNEL_STAGES], ["stage"]
    )
    # the source spine comes from the counts frame, NOT a second
    # documents scan — keeps the one-corpus-scan shape the docstring
    # promises (every source has >=1 doc, so no source is lost)
    grid = (
        c.select(F.col("source").alias("src")).distinct()
        .select(F.col("src").alias("source"))
        .crossJoin(F.broadcast(stages))
    )
    return grid.join(c, ["source", "stage"], "left").select(
        "source",
        "stage",
        F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
    )


# k-anonymity audit: quasi-identifier = (lang, 64-char length bucket) —
# attributes a release would expose even after scrubbing direct
# identifiers (pii_scrub, pipeline_ops.py). A release satisfies
# k-anonymity at k = the SMALLEST QI-group size: any group below the
# policy floor _K_ANON re-identifies its members by attribute
# intersection. All-integer (group sizes, floor-division buckets).
_K_ANON = 5
_QI_WIDTH = 64

_K_ANON_ORACLE = f"""
WITH g AS (
  SELECT lang, n_chars // {_QI_WIDTH} AS qb, COUNT(*) AS sz
  FROM documents GROUP BY 1, 2
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(MIN(sz) AS BIGINT) AS k_of_release,
       CAST(SUM(CASE WHEN sz < {_K_ANON} THEN 1 ELSE 0 END) AS BIGINT)
         AS risky_groups,
       CAST(SUM(CASE WHEN sz < {_K_ANON} THEN sz ELSE 0 END) AS BIGINT)
         AS risky_docs
FROM g GROUP BY lang
"""


@register("k_anonymity", oracle=_K_ANON_ORACLE)
def k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language k-anonymity audit of the corpus under the
    (lang, length-bucket) quasi-identifier: the k the release actually
    satisfies (its smallest QI-group size) plus how many groups/docs
    fall below the ``_K_ANON``=5 policy floor — the privacy gate run
    after PII scrubbing, before a corpus ships.

    Scale shape (100 TB): one narrow scan -> partial-aggregated
    groupBy on the QI (group count), then a second groupBy on lang
    over the QI-GRAIN frame (|langs x buckets| rows, tiny). No joins,
    no window, output one row per language.
    """
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy(
        "lang", F.expr(f"n_chars div {_QI_WIDTH}").alias("qb")
    ).agg(F.count("*").alias("sz"))
    risky = F.col("sz") < _K_ANON
    return g.groupBy("lang").agg(
        F.count("*").alias("n_groups"),
        F.min("sz").alias("k_of_release"),
        F.sum(risky.cast("long")).alias("risky_groups"),
        F.sum(F.when(risky, F.col("sz")).otherwise(F.lit(0))).alias("risky_docs"),
    )


# The documented open-vocabulary escalation of `source_overlap`: at
# web scale the exact distinct-gram intersection join grows with the
# vocabulary, so the production path compares per-source MINHASH
# signatures instead — K portable min-hashes per source (constant-size
# state, like dedup.py's doc-level signatures but at source grain),
# pairwise agreement estimating trigram Jaccard. md5 hash family as in
# minhash_bands(docs, "md5"), so DuckDB replays every component and the
# estimator itself is hash-verified, not just bounded. The K=64
# permutations come from 16 md5 calls per gram, each sliced into 4
# independent 8-hex-char (32-bit) windows — one md5 is 128 bits = 32
# hex chars, so slicing buys a 4x cut in per-gram hash work with the
# same lexicographic-min semantics per component.
_OVERLAP_PERMS = 64
_SLICES_PER_MD5 = 4


def _perm_expr_sql(p: int) -> str:
    """Permutation ``p`` of the K portable MinHash permutations over a
    ``gram`` column — ONE SQL definition, run verbatim by DuckDB (the
    oracle) and by Spark (``_signature_mins``)."""
    g, s = p // _SLICES_PER_MD5, p % _SLICES_PER_MD5
    return f"substr(md5(concat('{g}:', gram)), {1 + 8 * s}, 8)"


def _agree_sql() -> str:
    """Integer count of the signature components the self-join sides
    ``a`` and ``b`` agree on — the one agreement text both engines
    run."""
    terms = (f"CAST(a.h{p} = b.h{p} AS INT)" for p in range(_OVERLAP_PERMS))
    return "(" + " + ".join(terms) + ")"


def _signature_mins(of) -> list:
    """The K signature-component MIN aggregates, ``of(p)`` giving the
    SQL text each component minimises — one ``F.expr`` per component
    instead of a py4j call per Column operation (NOTES rule 61)."""
    return [F.expr(f"min({of(p)}) AS h{p}") for p in range(_OVERLAP_PERMS)]


_OVERLAP_MINHASH_ORACLE = (
    "WITH "
    + _TOK_RERANK_CTE.strip()
    + """,
tri AS (
  SELECT DISTINCT a.source, a.t || ' ' || b.t || ' ' || c.t AS gram
  FROM tok a
  JOIN tok b ON b.doc_id = a.doc_id AND b.rpos = a.rpos + 1
  JOIN tok c ON c.doc_id = a.doc_id AND c.rpos = a.rpos + 2
),
sig AS (
  SELECT source, """
    + ", ".join(
        f"MIN({_perm_expr_sql(p)}) AS h{p}" for p in range(_OVERLAP_PERMS)
    )
    + """
  FROM tri GROUP BY source
)
SELECT a.source AS src_a, b.source AS src_b,
       CAST("""
    + _agree_sql()
    + """ AS BIGINT) AS n_agree,
       round("""
    + _agree_sql()
    + f""" / {_OVERLAP_PERMS}.0, 9) AS est_jaccard
FROM sig a JOIN sig b ON a.source < b.source
"""
)


@register("source_overlap_minhash", oracle=_OVERLAP_MINHASH_ORACLE)
def source_overlap_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`source_overlap`'s open-vocabulary scale path, shipped: each
    source's trigram set collapses to a K=64-component portable
    MinHash signature (ONE groupBy pass, K min-aggregates with
    map-side partials — per-source state is constant regardless of
    vocabulary), and pairwise component agreement estimates the
    trigram Jaccard. The exact twin stays the ground truth the
    estimator is property-tested against (tests/test_monitoring.py).

    Scale shape (100 TB): corpus-grain work is the gram explode +
    K hash-min aggregation over the RAW gram stream — MIN is
    duplicate-insensitive, so there is NO gram-grain exchange at all
    (a distinct-first variant A/B'd equal within noise at sf0.1 and
    100x on this corpus; raw-stream is kept because eliminating the
    gram shuffle is the structural win once the vocabulary is open),
    and NO gram-level join (the exact twin's intersection join is the
    part that grows with vocabulary). Only sources x K rows ever
    move. The pair stage is a |sources| x |sources| broadcast
    self-join over the signature frame, which is stage-cached so the
    corpus-grain pipeline is guaranteed to run once for both sides
    (the static plan otherwise duplicates it; AQE exchange reuse is
    best-effort). md5 family start-to-finish, fully oracle-verified.
    """
    sg = _source_gram_stream(spark, sf_dir)
    sig = stage_cache(sg.groupBy("source").agg(*_signature_mins(_perm_expr_sql)))
    a, b = sig.alias("a"), F.broadcast(sig).alias("b")
    return (
        a.join(b, F.col("a.source") < F.col("b.source"))
        .selectExpr(
            "a.source AS src_a",
            "b.source AS src_b",
            f"CAST({_agree_sql()} AS BIGINT) AS n_agree",
        )
        .selectExpr(
            "src_a",
            "src_b",
            "n_agree",
            f"round(n_agree / {_OVERLAP_PERMS}.0D, 9) AS est_jaccard",
        )
    )


# The composed per-drop report: everything an admission decision needs,
# one row per source. Mirrors pipelines.py's composed entries — each
# leg is the registered operator itself (not a re-implementation), so
# the report can never drift from the individual audits, and the
# oracle nests the legs' oracles as CTEs for the same reason.
_HEALTH_ORACLE = f"""
WITH psi AS ({_PSI_ORACLE}),
fun AS ({_FUNNEL_ORACLE}),
ov AS ({_OVERLAP_ORACLE})
SELECT psi.source, psi.n_docs, psi.psi,
       CAST(MAX(CASE WHEN fun.stage = 'kept' THEN fun.n_docs END) AS BIGINT) AS kept,
       CAST(MAX(CASE WHEN fun.stage = 'too_short' THEN fun.n_docs END) AS BIGINT) AS too_short,
       CAST(MAX(CASE WHEN fun.stage = 'low_diversity' THEN fun.n_docs END) AS BIGINT) AS low_diversity,
       CAST(MAX(CASE WHEN fun.stage = 'exact_dup' THEN fun.n_docs END) AS BIGINT) AS exact_dup,
       MAX(mj.max_jaccard) AS max_jaccard
FROM psi
JOIN fun ON fun.source = psi.source
LEFT JOIN (
  SELECT source, round(MAX(jaccard), 9) AS max_jaccard
  FROM (
    SELECT src_a AS source, jaccard FROM ov
    UNION ALL
    SELECT src_b AS source, jaccard FROM ov
  ) GROUP BY source
) mj ON mj.source = psi.source
GROUP BY psi.source, psi.n_docs, psi.psi
"""


@register("corpus_health_report", oracle=_HEALTH_ORACLE)
def corpus_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed admission report, one row per source: PSI drift
    score, the full curation-funnel breakdown (kept / too_short /
    low_diversity / exact_dup), and the source's worst cross-source
    trigram Jaccard — the table a pipeline operator reads before
    admitting a drop.

    Composes the REGISTERED operators (`drift_psi`, `curation_funnel`,
    `source_overlap`) rather than re-deriving their logic, so the
    report and the individual audits cannot diverge; all three legs
    end constant-size (per-source rows), so the joins here are
    metadata-sized no matter the corpus.
    """
    psi = drift_psi(spark, sf_dir)
    fun = curation_funnel(spark, sf_dir)
    ov = source_overlap(spark, sf_dir)
    fun_wide = (
        fun.groupBy("source")
        .pivot("stage", list(_FUNNEL_STAGES))
        .sum("n_docs")
    )
    mj = (
        ov.select(F.col("src_a").alias("source"), "jaccard")
        .unionByName(ov.select(F.col("src_b").alias("source"), "jaccard"))
        .groupBy("source")
        .agg(F.round(F.max("jaccard"), 9).alias("max_jaccard"))
    )
    # LEFT join: a source whose documents carry no trigram (all docs
    # <3 alphabetic tokens) never enters the overlap pair frame — it
    # must still get its report row, with a NULL worst-overlap. An
    # inner join would also empty the WHOLE report on a single-source
    # corpus (no pairs at all).
    return (
        psi.join(fun_wide, "source")
        .join(F.broadcast(mj), "source", "left")
        .select(
            "source",
            "n_docs",
            "psi",
            F.col("kept").cast("long").alias("kept"),
            F.col("too_short").cast("long").alias("too_short"),
            F.col("low_diversity").cast("long").alias("low_diversity"),
            F.col("exact_dup").cast("long").alias("exact_dup"),
            "max_jaccard",
        )
    )


# --- incremental corpus-health report (the fold twin) -----------------

# corpus_health_report rescans the corpus per drop; the production
# cadence is daily batches, so the report should be maintained as a
# FOLD over per-batch states the way drift_psi got streaming_drift_psi.
# All three legs reduce to mergeable state:
#   psi      -> (source, bin) counts                     [sum]
#   funnel   -> local-gate counts [sum] + a per-(text-hash, source)
#               dup ledger (pass-12 count, min ids)      [sum/min]
#   overlap  -> per-source K=64 MinHash signatures       [component min]
# The dup ledger is the only non-constant leg: index-grain (distinct
# texts), the same scale class as dedup_incremental's signature index.
# Fold == one-shot in ANY order (tests/test_round7_ops.py, through
# parquet at rest); the oracle is the one-shot composition below.
_HEALTH_FOLD_DAYS = 3

_HEALTH_FOLD_ORACLE = f"""
WITH psi AS ({_PSI_ORACLE}),
fun AS ({_FUNNEL_ORACLE}),
ovm AS ({_OVERLAP_MINHASH_ORACLE})
SELECT psi.source, psi.n_docs, psi.psi,
       CAST(MAX(CASE WHEN fun.stage = 'kept' THEN fun.n_docs END) AS BIGINT) AS kept,
       CAST(MAX(CASE WHEN fun.stage = 'too_short' THEN fun.n_docs END) AS BIGINT) AS too_short,
       CAST(MAX(CASE WHEN fun.stage = 'low_diversity' THEN fun.n_docs END) AS BIGINT) AS low_diversity,
       CAST(MAX(CASE WHEN fun.stage = 'exact_dup' THEN fun.n_docs END) AS BIGINT) AS exact_dup,
       MAX(mj.max_est_jaccard) AS max_est_jaccard
FROM psi
JOIN fun ON fun.source = psi.source
LEFT JOIN (
  SELECT source, round(MAX(est_jaccard), 9) AS max_est_jaccard
  FROM (
    SELECT src_a AS source, est_jaccard FROM ovm
    UNION ALL
    SELECT src_b AS source, est_jaccard FROM ovm
  ) GROUP BY source
) mj ON mj.source = psi.source
GROUP BY psi.source, psi.n_docs, psi.psi
"""

_LOCAL_STAGES = ("too_short", "low_diversity")


def health_batch_state(
    docs: DataFrame, cache=None
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """One batch's mergeable health state, four parquet-writable frames:

    - ``psic (source, bin, c)`` — PSI bin counts (``psi_bins``);
    - ``gate (source, stage, n_docs)`` — counts for the two LOCAL
      funnel gates (length, diversity) a doc fails without any
      cross-doc context;
    - ``dup (h, source, n_pass12, min_id_p12, min_id_all)`` — the dup
      ledger: per (md5(text), source), how many docs PASSED the local
      gates, the smallest doc_id among those, and the smallest doc_id
      among ALL docs (failed ones still hold the first-seen slot that
      demotes later copies — the funnel's rn is over every doc);
    - ``sig (source, h0..h63)`` — the portable MinHash signature of
      the batch's trigrams (``source_overlap_minhash`` permutations).

    One scan computes the first three (narrow array expressions, no
    explode); the gram explode feeds only the signature leg. All
    state folds by SUM/MIN — associative, commutative, exact.

    ``cache`` (optional callable, e.g. ``stage_cache`` or a local
    persist hook) is applied to the tokenize-derived feature frame so
    the gate and dup legs share ONE tokenize pass instead of
    recomputing the split per consuming leg; callers own the release
    (the usual stage-cache contract)."""
    toks = F.filter(F.split("text", "[^a-zA-Z]"), lambda x: x != "")
    feats = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.size(toks).alias("n_tok"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.md5("text").alias("h"),
    )
    if cache is not None:
        feats = cache(feats)
    # psi_bins needs only (source, n_chars) — derive it from feats, not
    # docs, so the PSI leg shares the (cached/checkpointed) narrow
    # feature frame with the gate and dup legs instead of re-reading the
    # text-carrying docs cache; the text pass then serves ONLY the
    # signature leg (r7-verdict in-sweep constant)
    psic = psi_bins(feats).groupBy("source", "bin").agg(F.count("*").alias("c"))
    local_stage = (
        F.when(F.col("n_chars") < _MIN_CHARS, "too_short")
        .when(2 * F.col("n_distinct") < F.col("n_tok"), "low_diversity")
    )
    staged = feats.withColumn("stage", local_stage)
    gate = (
        staged.filter(F.col("stage").isNotNull())
        .groupBy("source", "stage")
        .agg(F.count("*").alias("n_docs"))
    )
    p12 = F.col("stage").isNull()
    dup = staged.groupBy("h", "source").agg(
        F.sum(p12.cast("long")).alias("n_pass12"),
        F.min(F.when(p12, F.col("doc_id"))).alias("min_id_p12"),
        F.min("doc_id").alias("min_id_all"),
    )
    sig = _gram_stream_of(docs).groupBy("source").agg(*_signature_mins(_perm_expr_sql))
    return psic, gate, dup, sig


def merge_health_states(
    a: tuple[DataFrame, DataFrame, DataFrame, DataFrame],
    b: tuple[DataFrame, DataFrame, DataFrame, DataFrame],
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Fold two health states (merge_rollup shape: union + keyed
    SUM/MIN — associative and commutative, so any fold order lands on
    the identical state). Everything here is state-sized; with both
    sides bucketed by their keys at rest the merges are shuffle-free."""
    psic = (
        a[0].unionByName(b[0]).groupBy("source", "bin").agg(F.sum("c").alias("c"))
    )
    gate = (
        a[1]
        .unionByName(b[1])
        .groupBy("source", "stage")
        .agg(F.sum("n_docs").alias("n_docs"))
    )
    dup = (
        a[2]
        .unionByName(b[2])
        .groupBy("h", "source")
        .agg(
            F.sum("n_pass12").alias("n_pass12"),
            F.min("min_id_p12").alias("min_id_p12"),
            F.min("min_id_all").alias("min_id_all"),
        )
    )
    sig = (
        a[3]
        .unionByName(b[3])
        .groupBy("source")
        .agg(*_signature_mins(lambda p: f"h{p}"))
    )
    return psic, gate, dup, sig


def health_report_from_state(
    psic: DataFrame, gate: DataFrame, dup: DataFrame, sig: DataFrame
) -> DataFrame:
    """Finish the folded state into the per-source admission report —
    identical columns and semantics to the one-shot oracle. Everything
    here is state-sized: the PSI finish is the join-free per-source
    pivot of ``psi_from_counts``, the funnel finish groups the dup
    ledger once (index-grain, keyed), and the overlap finish is the
    |sources|^2 ordered-pair signature self-join reduced to each
    source's worst partner."""
    psi = psi_from_counts(psic)
    # dup ledger finish: the global first-seen doc per text keeps its
    # slot; every other locally-passing copy is an exact_dup
    w = Window.partitionBy("h")
    d2 = dup.withColumn("gmin", F.min("min_id_all").over(w))
    kept_h = F.when(F.col("min_id_p12") == F.col("gmin"), 1).otherwise(0)
    per_source = d2.groupBy("source").agg(
        F.sum(kept_h).cast("long").alias("kept"),
        F.sum(F.col("n_pass12") - kept_h).cast("long").alias("exact_dup"),
    )
    gate_wide = gate.groupBy("source").pivot("stage", list(_LOCAL_STAGES)).sum(
        "n_docs"
    )
    # overlap finish: pairwise component agreement on the merged
    # signatures, worst partner per source. Jaccard is symmetric, so
    # the ordered-pair self-join grouped by its left side covers both
    # directions of every unordered pair in one pass
    s = stage_cache(sig)
    a, b = s.alias("a"), F.broadcast(s).alias("b")
    mj = (
        a.join(b, F.col("a.source") != F.col("b.source"))
        .groupBy(F.col("a.source").alias("source"))
        .agg(
            F.expr(
                f"round(max(round({_agree_sql()} / {_OVERLAP_PERMS}.0D, 9)), 9)"
                " AS max_est_jaccard"
            )
        )
    )
    return (
        psi.join(F.broadcast(per_source), "source")
        .join(F.broadcast(gate_wide), "source", "left")
        .join(F.broadcast(mj), "source", "left")
        .select(
            "source",
            "n_docs",
            "psi",
            "kept",
            F.coalesce("too_short", F.lit(0)).cast("long").alias("too_short"),
            F.coalesce("low_diversity", F.lit(0)).cast("long").alias("low_diversity"),
            "exact_dup",
            "max_est_jaccard",
        )
    )


@register("health_report_fold", oracle=_HEALTH_FOLD_ORACLE)
def health_report_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``corpus_health_report`` maintained INCREMENTALLY: per-batch
    mergeable states folded into the per-source admission report, so a
    daily drop costs O(batch + state merge) instead of a corpus rescan
    — the same promotion ``drift_psi`` got with ``streaming_drift_psi``,
    here for the whole report (PSI + funnel + overlap) at once.

    The overlap leg uses the MinHash ESTIMATOR (open-vocabulary scale
    path) rather than the exact trigram Jaccard: exact per-source gram
    SETS are not boundedly mergeable, signatures are (component MIN).
    The funnel's dup gate folds exactly via the per-(text-hash, source)
    ledger — first-seen doc keeps the slot across any batch split,
    reproducing the one-shot window rank semantics.

    In production each day's state is computed from that day's batch
    alone and folded against the state parquet; by the time the report
    is read, the accumulated state already EXISTS. Every leg is
    SPLIT-INVARIANT (tests/test_round7_ops.py proves fold == one-shot
    through parquet at rest in arbitrary fold order, including the
    whole-corpus single-batch state), so the registered query derives
    the stand-in state in ONE batch-state pass instead of replaying a
    {_HEALTH_FOLD_DAYS}-day ingest history inside the query (NOTES
    rule 36 — the same 22.2->2.8 s lesson dedup_index_compact paid);
    the per-day fold is exercised by the order-invariance test and
    deployed for real by ``streaming_health_report``.

    Scale shape: per-batch work is one narrow corpus scan (gates +
    PSI bins, no explode) plus the gram explode for the signature leg;
    folded state is sources x 10 + sources x 2 + the index-grain dup
    ledger + sources x 64. The finish is state-sized: the PSI leg is
    join-free (a per-source pivot with whole-frame window marginals),
    the overlap leg is one broadcast signature self-join on
    ``a.source != b.source`` grouped by ``a.source``, and the
    per-source legs meet in three broadcast joins. Both K-wide column
    families (signature mins, component agreement) are built as SQL
    text, so building the report costs ~1.4k py4j calls instead of
    ~10.8k (NOTES rule 61). With ledger and report bucketed by their
    keys at rest the merge is shuffle-free.
    """
    docs = stage_cache(
        parallelize_if_narrow(
            load_table(spark, sf_dir, "documents").select(
                "doc_id", "source", "text", "n_chars"
            )
        )
    )
    # checkpoint (not just cache) the narrow feature frame: three of the
    # four legs and the whole finish build on it, and truncating its
    # lineage keeps their many small state-sized jobs from re-planning
    # the scan subtree each time (r7-verdict in-sweep constant; ~30%
    # off the query on the r8 A/B, PERFORMANCE.md round-8)
    return health_report_from_state(
        *health_batch_state(docs, cache=stage_checkpoint)
    )

"""End-to-end training-data preparation pipeline — the composed use
case the LLM-pipeline operators exist for.

    raw documents
      → quality gate (text_analysis.text_quality verdict)
      → exact dedup (lowest doc_id per content fingerprint survives)
      → near-dup removal (MinHash-LSH pairs → connected components;
        only each duplicate CLUSTER's canonical member survives —
        transitive chains A~B~C collapse to one doc even when A~C
        itself sits below threshold)
      → annotation (predicted language, token counts)
      → deterministic train/val/test assignment (stable hash split)
      → parquet, partitioned by predicted language

Scale shape: two narrow projections, one fingerprint groupBy, the LSH
candidate join (no pairwise blowup), label propagation over the tiny
dup-pair graph, one broadcast anti-join against the drop list, and a
partitioned write — nothing quadratic, nothing driver-side except the
component loop's per-round convergence scalar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_spark.io import load_table
from map_reduce_spark.operators.dedup import (
    PORTABLE_PAIRS_CTES,
    connected_components,
    dedup_exact,
    dedup_minhash_lsh_portable,
)
from map_reduce_spark.operators.pipeline_ops import _hash_bucket, _sql_bucket
from map_reduce_spark.operators.text_analysis import (
    PRED_LANG_SQL,
    lang_id,
    text_quality,
    token_count,
)
from map_reduce_spark.registry import register


def prepare_training_data(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str | None = None,
) -> DataFrame:
    """Run the full preparation chain; optionally write the result
    partitioned by predicted language. Returns the prepared frame
    (doc_id, text, source, pred_lang, n_tokens, n_chars_actual, split).

    Near-dup pairs come from the portable-hash MinHash-LSH
    (``dedup_minhash_lsh_portable``), so the WHOLE composed pipeline is
    reproduced by DuckDB."""
    docs = load_table(spark, sf_dir, "documents")

    # 1. quality gate
    keep_ids = (
        text_quality(spark, sf_dir)
        .filter(F.col("quality_verdict") == "keep")
        .select("doc_id")
    )

    # 2. exact dedup: survivors are each fingerprint's lowest doc_id
    exact_keep = dedup_exact(spark, sf_dir).select(
        F.col("keep_id").alias("doc_id")
    )

    # 3. near-dup removal: resolve verified LSH pairs into transitive
    # clusters; everything but each cluster's canonical (min-id) member
    # is dropped
    near_drop = (
        connected_components(dedup_minhash_lsh_portable(spark, sf_dir))
        .filter(~F.col("is_canonical"))
        .select("doc_id")
    )

    survivors = (
        docs.join(keep_ids, "doc_id", "left_semi")
        .join(exact_keep, "doc_id", "left_semi")
        .join(F.broadcast(near_drop), "doc_id", "left_anti")
    )

    # 4. annotate + stable split assignment
    b = _hash_bucket(F.col("doc_id"), "split")
    split = F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
    annotated = (
        survivors.join(lang_id(spark, sf_dir).select("doc_id", "pred_lang"), "doc_id")
        .join(
            token_count(spark, sf_dir).select("doc_id", "n_tokens", "n_chars_actual"),
            "doc_id",
        )
        .select(
            "doc_id",
            "text",
            "source",
            "pred_lang",
            "n_tokens",
            "n_chars_actual",
            split.alias("split"),
        )
    )

    if out_dir is not None:
        annotated.write.mode("overwrite").partitionBy("pred_lang").parquet(out_dir)
    return annotated


# End-to-end oracle: the ENTIRE composed pipeline — portable-LSH band
# math, exact-Jaccard verify, transitive component closure, quality
# gate, exact dedup, language prediction, token counts, hash split —
# reproduced in one DuckDB statement from shared SQL fragments, so the
# Spark chain and the oracle can only agree by computing the same thing
# end to end.
_PREP_ORACLE = f"""
WITH RECURSIVE {PORTABLE_PAIRS_CTES},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
verts AS (SELECT DISTINCT src AS v FROM edges),
reach(v, w) AS (
  SELECT v, v FROM verts
  UNION
  SELECT r.v, e.dst FROM reach r JOIN edges e ON e.src = r.w
),
near_drop AS (
  SELECT v AS doc_id FROM reach GROUP BY v HAVING v != MIN(w)
),
exact_keep AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text))
SELECT doc_id, text, source,
       {PRED_LANG_SQL} AS pred_lang,
       len(string_split(text, ' ')) AS n_tokens,
       length(text) AS n_chars_actual,
       CASE WHEN {_sql_bucket('doc_id', 'split')} < 80 THEN 'train'
            WHEN {_sql_bucket('doc_id', 'split')} < 90 THEN 'val'
            ELSE 'test' END AS split
FROM documents
WHERE length(text) >= 200
  AND len(string_split(text, ' ')) >= 30
  AND doc_id IN (SELECT doc_id FROM exact_keep)
  AND doc_id NOT IN (SELECT doc_id FROM near_drop)
"""


@register("prepare_training_data", oracle=_PREP_ORACLE)
def prepare_training_data_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed pipeline as a registered, fully-oracled query
    (portable-LSH variant so every stage is DuckDB-reproducible)."""
    return prepare_training_data(spark, sf_dir)


# --- composed pipeline #2: decontaminate-and-select -------------------

_SELECT_TOPK = 200


def select_pretraining_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DATA-SELECTION counterpart of ``prepare_training_data``:

        raw documents
          → drop the held-out benchmark docs themselves
            (doc_id % FUZZY_BENCH_MOD == 0 — eval data is never
            training data)
          → exact decontamination (any shared distinct 8-gram with a
            bench doc — the GPT-3-style gate, `contamination_check`
            logic at the fuzzy tier's bench density)
          → fuzzy decontamination (MinHash-LSH candidates + exact
            shingle Jaccard >= FUZZY_CONTAM_TAU —
            `fuzzy_contaminated_pairs`)
          → DSIR importance ranking of the survivors against the
            target domain (`dsir_frame`)
          → budgeted selection: top ``_SELECT_TOPK`` docs.

    Scale shape: at a real deployment the eval suite is FIXED-SIZE, so
    its gram/band tables (and the drop-sets derived from them) would
    broadcast; in these test tables the bench subset is a
    mod-``FUZZY_BENCH_MOD`` slice (~20% of the corpus — a
    corpus-PROPORTIONAL stand-in), so none of the joins below carry a
    forced ``F.broadcast`` hint: AQE broadcasts each side while it fits
    and falls back to shuffle (anti-)joins when it does not (r4
    ADVICE — a forced broadcast of a corpus-proportional drop-set would
    overflow at 100 TB). DSIR's distributions are genuinely
    constant-size broadcast frames; selection is
    TakeOrderedAndProject. Nothing quadratic, nothing driver-side.
    """
    from map_reduce_spark.operators.corpus_quality import (
        CONTAM_N,
        FUZZY_BENCH_MOD,
        _grams,
        dsir_frame,
        fuzzy_contaminated_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    is_bench = F.col("doc_id") % FUZZY_BENCH_MOD == 0

    g = docs.select(
        "doc_id", F.explode(F.array_distinct(_grams(CONTAM_N))).alias("gram")
    )
    bench_g = g.filter(is_bench).select(F.col("doc_id").alias("bench_id"), "gram")
    exact_drop = (
        g.filter(~is_bench)
        .join(bench_g, "gram")  # size-adaptive: see docstring
        .select("doc_id")
        .distinct()
    )
    fuzzy_drop = (
        fuzzy_contaminated_pairs(spark, sf_dir)
        .select(F.col("train_id").alias("doc_id"))
        .distinct()
    )
    survivors = (
        dsir_frame(spark, sf_dir)
        .filter(F.col("doc_id") % FUZZY_BENCH_MOD != 0)
        .join(exact_drop, "doc_id", "left_anti")
        .join(fuzzy_drop, "doc_id", "left_anti")
    )
    return (
        survivors.orderBy(F.col("lw").desc(), "doc_id")
        .limit(_SELECT_TOPK)
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.round(F.col("lw").cast("double"), 6).alias("logweight"),
        )
    )


def _select_oracle() -> str:
    from map_reduce_spark.operators.corpus_quality import (
        _DSIR_CTES,
        _FUZZY_CTES,
        _grams_sql,
        CONTAM_N,
        FUZZY_BENCH_MOD,
    )

    return f"""
WITH {_DSIR_CTES},
{_FUZZY_CTES},
g AS (
  SELECT doc_id, unnest(list_distinct({_grams_sql(CONTAM_N)})) AS gram
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
),
exact_drop AS (
  SELECT DISTINCT g.doc_id
  FROM g JOIN (SELECT doc_id AS bench_id, gram FROM g
               WHERE doc_id % {FUZZY_BENCH_MOD} = 0) b USING (gram)
  WHERE g.doc_id % {FUZZY_BENCH_MOD} <> 0
),
fuzzy_drop AS (SELECT DISTINCT train_id AS doc_id FROM fuzzy)
SELECT doc_id, source, n_tokens,
       round(CAST(lw AS DOUBLE), 6) AS logweight
FROM w
WHERE doc_id % {FUZZY_BENCH_MOD} <> 0
  AND doc_id NOT IN (SELECT doc_id FROM exact_drop)
  AND doc_id NOT IN (SELECT doc_id FROM fuzzy_drop)
ORDER BY lw DESC, doc_id
LIMIT {_SELECT_TOPK}
"""


@register("select_pretraining_data", oracle=_select_oracle())
def select_pretraining_data_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed decontaminate-and-select pipeline as a registered,
    fully-oracled query — exact 8-gram gate, portable MinHash-LSH
    fuzzy gate, and DSIR ranking reproduced end-to-end in one DuckDB
    statement from the same shared CTE fragments the standalone
    operators use."""
    return select_pretraining_data(spark, sf_dir)

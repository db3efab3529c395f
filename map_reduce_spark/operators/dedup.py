"""Deduplication operators — the LLM-training-pipeline family.

Not in the reference (its only job is word count); required by the
engine's north star: exact dedup, n-gram Jaccard near-dup, MinHash+LSH,
SimHash, and embedding-cosine near-dup over the ``documents`` /
``embeddings`` tables.

Scale notes (100 TB posture):
- exact dedup groups on a 128-bit fingerprint, never on raw text — the
  shuffle carries 16-byte keys, not documents;
- MinHash-LSH is the scale path for fuzzy dedup: candidate generation is
  an equi-join on (band, band_hash) buckets — no pairwise cross join
  ever materializes; only bucket-mates get verified;
- the brute-force n-gram Jaccard variant blocks on ``source`` purely to
  bound the quadratic term; it exists as the exactness oracle for LSH;
- everything is built-in expressions (split/transform/aggregate/
  xxhash64) — zero Python in the row path.

Cross-engine float determinism: embedding math uses the scaled-integer
trick — ``CAST(round(x * 1e7) AS BIGINT)`` per component, exact integer
dot products, one final double division — so Spark and the DuckDB oracle
agree bit-for-bit regardless of summation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from map_reduce_spark.io import load_table, parallelize_if_narrow
from map_reduce_spark.registry import register
from map_reduce_spark.session import stage_cache, stage_checkpoint

# --- exact dedup ------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
SELECT md5(text) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM documents GROUP BY md5(text)
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group on content fingerprint, keep lowest doc_id.

    ``n_copies > 1`` rows are the duplicate clusters. Hash-groupBy on
    md5(text): the shuffle key is 32 hex chars, not the document.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("fp")).agg(
        F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies")
    )


@register(
    "dedup_exact_survivors",
    oracle="SELECT COUNT(*) AS n_docs, COUNT(DISTINCT md5(text)) AS n_unique FROM documents",
)
def dedup_exact_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup summary: total vs distinct-content counts."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
    )


# --- n-gram Jaccard (exact near-dup; the LSH oracle) ------------------


def _shingles(col: str = "text", n: int = 3):
    """Word n-gram shingle set (distinct), as a Spark expression."""
    words = F.split(F.col(col), " ")
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
    )
    return F.array_distinct(grams)


_SHINGLE_SQL = (
    "list_distinct([array_to_string(w[i:i+2], ' ') "
    "FOR i IN range(1, greatest(len(w) - 2, 1) + 1)])"
)


# quadratic-work guard: the pairwise term inside a source block is
# bounded to BLOCK_CAP^2 regardless of corpus size (a no-op at the
# test SFs, a hard ceiling at 100 TB). The unbounded near-dup path is
# dedup_minhash_lsh / dedup_minhash_lsh_portable — this operator is
# the EXACTNESS ORACLE for those, kept in the catalog for that role
# (see COVERAGE.md "oracle-baseline operators").
BLOCK_CAP = 1000
TOPK_PAIRS = 25


@register(
    "ngram_jaccard_dupes",
    oracle=f"""
WITH capped AS (
  SELECT doc_id, source, text FROM (
    SELECT doc_id, source, text,
           row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
    FROM documents
  ) WHERE rn <= {BLOCK_CAP}
),
sh AS (
  SELECT doc_id, source, {_SHINGLE_SQL} AS s
  FROM (SELECT doc_id, source, string_split(text, ' ') AS w FROM capped)
),
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_intersect(a.s, b.s)) * 1.0
             / len(list_distinct(list_concat(a.s, b.s))) AS jac_x
  FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, round(jac_x, 6) AS jac
FROM p ORDER BY jac_x DESC, doc_a, doc_b LIMIT {TOPK_PAIRS}
""",
)
def ngram_jaccard_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard: the ``TOPK_PAIRS`` most-similar pairs,
    blocked by ``source``, each block capped at ``BLOCK_CAP`` docs.

    Role: the exactness baseline the MinHash-LSH path approximates —
    at 100 TB only the LSH variant runs unblocked; this one's
    quadratic term is hard-capped at BLOCK_CAP^2 per block. Top-k
    (rather than a fixed threshold) keeps the verification non-vacuous
    on any corpus: a threshold query returns 0-1 rows when the corpus
    has no planted near-dups, which verifies nothing. Ordering is
    deterministic (exact jaccard desc, then pair ids); ties across
    engines are bit-identical because both compute the same integer
    set sizes.
    """
    # order on the UNROUNDED similarity (matching the oracle, which
    # rounds only in SELECT), then round in the projection
    return (
        _scored_jaccard_pairs(spark, sf_dir)
        .orderBy(F.desc("jac_x"), "doc_a", "doc_b")
        .limit(TOPK_PAIRS)
        .select("doc_a", "doc_b", F.round("jac_x", 6).alias("jac"))
    )


def _scored_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, jac_x): exact word-3-gram Jaccard for every
    source-blocked pair, each block capped at ``BLOCK_CAP`` docs —
    the shared scoring core for ``ngram_jaccard_dupes`` (top-k view)
    and ``dedup_components`` (>= 0.5 threshold edges)."""
    docs = load_table(spark, sf_dir, "documents")
    capped = (
        docs.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("source").orderBy("doc_id")
            ),
        )
        .filter(F.col("rn") <= BLOCK_CAP)
        .drop("rn")
    )
    sh = parallelize_if_narrow(capped).select(
        "doc_id", "source", _shingles().alias("s")
    )
    a = sh.alias("a")
    b = sh.alias("b")
    jac = F.size(F.array_intersect("a.s", "b.s")) / F.size(F.array_union("a.s", "b.s"))
    return a.join(
        b,
        (F.col("a.source") == F.col("b.source"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        jac.alias("jac_x"),
    )


# --- MinHash + LSH (the scale path) -----------------------------------

NUM_PERM = 32  # minhash signature length
BANDS = 8  # LSH bands
ROWS_PER_BAND = NUM_PERM // BANDS  # 4 -> candidate threshold j ~ (1/8)^(1/4) ~ 0.6


# Hash families for ``minhash_bands``, as SQL text over the shingle
# ``t`` and a band's signature columns: (per-permutation component,
# band bucket). xxhash64 is the fast engine hash; md5 is the
# engine-portable family ``PORTABLE_BANDS_CTES`` replays in DuckDB —
# 8 lowercase hex chars, whose lexicographic MIN is the numeric min,
# so no base conversion is needed (conv() dominated the runtime).
_FAMILIES = {
    "xxhash64": ("xxhash64({p}, t)", "xxhash64({hs})"),
    "md5": ("substring(md5(concat('{p}:', t)), 1, 8)", "md5(concat_ws(',', {hs}))"),
}


def minhash_bands(docs: DataFrame, family: str) -> DataFrame:
    """(doc_id, band, bucket): the MinHash band table of ``docs`` under
    the hash ``family`` (a ``_FAMILIES`` key) — shingle, 32 per-
    permutation mins, 8 bands x 4 rows, one bucket hash per band.

    One keyed repartition up front parallelizes the narrow scan AND
    satisfies the groupBy's distribution, so the 32-min aggregation
    needs no further shuffle. Signatures only: the aggregation state is
    32 values per doc, never the shingle set, and callers re-derive
    shingle sets for candidate docs only. Each signature column and the
    band array are SQL text, one ``F.expr`` apiece (NOTES rule 61)."""
    perm, bucket = _FAMILIES[family]
    sh = parallelize_if_narrow(docs, "doc_id").select(
        "doc_id", F.explode(_shingles()).alias("t")
    )
    per_doc = sh.groupBy("doc_id").agg(
        *[F.expr(f"min({perm.format(p=p)}) AS h{p}") for p in range(NUM_PERM)]
    )
    bands = ", ".join(
        f"named_struct('band', {b}, 'bucket', "
        + bucket.format(
            hs=", ".join(f"h{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
        )
        + ")"
        for b in range(BANDS)
    )
    return per_doc.select("doc_id", F.expr(f"inline(array({bands}))"))


def _collision_pairs(a: DataFrame, b: DataFrame | None = None) -> DataFrame:
    """Distinct (band, bucket) collision pairs as (doc_a, doc_b) — the
    candidate join of every banded LSH operator. Within one band table
    (``b`` is None) each pair appears once, doc_a < doc_b; across two,
    doc_a comes from ``a`` and doc_b from ``b``."""
    x, y = a.alias("x"), (a if b is None else b).alias("y")
    on = (F.col("x.band") == F.col("y.band")) & (
        F.col("x.bucket") == F.col("y.bucket")
    )
    if b is None:
        on = on & (F.col("x.doc_id") < F.col("y.doc_id"))
    return (
        x.join(y, on)
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )


def _verify_jaccard(
    docs: DataFrame, cand: DataFrame, tau: float, broadcast_ids: bool = True
) -> DataFrame:
    """Exact-Jaccard verify over candidate pairs only (columns doc_a,
    doc_b + any carried columns): keep pairs with jac >= tau as
    ``jac``. Each side semi-joins its own distinct candidate ids
    BEFORE its shingle sets are built, so the verify prices
    O(candidates), never a corpus-wide shingle pass. (This per-side
    shape beat one shared explode + collect_set over the union of both
    id columns on every caller: fewer jobs, no shingle shuffle.)

    ``broadcast_ids`` hints the colliding-id semi-joins. Keep it True
    only when the candidate set is bounded by construction (one
    batch's collisions); the cross-epoch ledger a compaction verifies
    and the corpus-proportional bench slice of fuzzy decontamination
    are not, so those pass False and let AQE pick by measured size
    (NOTES rule 28)."""

    def side(col: str, out: str) -> DataFrame:
        ids = cand.select(F.col(col).alias("doc_id")).distinct()
        if broadcast_ids:
            ids = F.broadcast(ids)
        return docs.join(ids, "doc_id", "left_semi").select(
            F.col("doc_id").alias(col), _shingles().alias(out)
        )

    jac = F.size(F.array_intersect("sa", "sb")) / F.size(F.array_union("sa", "sb"))
    return (
        cand.join(side("doc_a", "sa"), "doc_a")
        .join(side("doc_b", "sb"), "doc_b")
        .filter(jac >= tau)
        .withColumn("jac", F.round(jac, 6))
        .drop("sa", "sb")
    )


def _minhash_lsh(spark: SparkSession, sf_dir: str, family: str) -> DataFrame:
    """The MinHash-LSH near-dup pipeline under one hash family:
    band table -> band-bucket collision join -> exact Jaccard >= 0.5
    on the candidates only.

    The candidate set is tiny by construction and feeds three
    consumers inside the verify (output rows, doc_a ids, doc_b ids);
    the stage barrier runs the corpus explode + signature pipeline
    ONCE instead of once per consumer — the standard two-stage LSH
    shape (released by session.release_caches())."""
    docs = load_table(spark, sf_dir, "documents")
    cand = stage_cache(_collision_pairs(minhash_bands(docs, family)))
    return _verify_jaccard(docs, cand, 0.5).select("doc_a", "doc_b", "jac")


@register("dedup_minhash_lsh", oracle=None)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, verified by exact Jaccard >= 0.5,
    on the xxhash64 family — the fast production variant. Engine-
    specific hashing makes this rows-only for the driver;
    tests/test_llm_ops.py checks recall against brute-force all-pairs
    Jaccard ground truth."""
    return _minhash_lsh(spark, sf_dir, "xxhash64")


# --- duplicate-cluster resolution (connected components) --------------


_MAX_CC_ITERS = 25


def connected_components(pairs: DataFrame) -> DataFrame:
    """Resolve duplicate PAIRS into duplicate CLUSTERS: connected
    components by iterative hash-min label propagation.

    ``pairs`` has columns (doc_a, doc_b); the result assigns every
    vertex its component id = the minimum doc_id reachable from it,
    with ``is_canonical`` marking the survivor each cluster keeps.

    Scale shape: per round, one equi-join (edges x labels) + one
    groupBy-min — all shuffles on the vertex id, converging in
    diameter(G) rounds. Dup clusters are shallow (stars/chains of a
    few docs), so rounds stay single-digit; an adversarial graph would
    call for the large-star/small-star variant (Kiveris et al.), same
    primitive ops. Each round is ``localCheckpoint``-ed: iterative
    algorithms must truncate lineage or the plan grows linearly and
    re-executes from the source every action. The per-round
    convergence ``count()`` is the documented exception to the
    no-driver-actions rule — it reads one scalar, never rows.
    """
    pairs = pairs.select("doc_a", "doc_b")
    edges = stage_cache(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    )
    labels = stage_checkpoint(
        edges.select(F.col("src").alias("v"))
        .distinct()
        .select("v", F.col("v").alias("lbl"))
    )
    for _ in range(_MAX_CC_ITERS):
        msgs = (
            edges.join(
                labels.select(
                    F.col("v").alias("src"), F.col("lbl").alias("src_lbl")
                ),
                "src",
            )
            .select(F.col("dst").alias("v"), F.col("src_lbl").alias("lbl"))
        )
        new_labels = stage_checkpoint(
            labels.union(msgs).groupBy("v").agg(F.min("lbl").alias("lbl"))
        )
        changed = (
            new_labels.select("v", F.col("lbl").alias("new_lbl"))
            .join(labels, "v")
            .filter(F.col("new_lbl") != F.col("lbl"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {_MAX_CC_ITERS} rounds"
        )
    return labels.select(
        F.col("v").alias("doc_id"),
        F.col("lbl").alias("component"),
        (F.col("v") == F.col("lbl")).alias("is_canonical"),
    )


_LSS_MIN_ROUNDS = 6


def connected_components_lss(pairs: DataFrame) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond") — the documented scale escalation of
    ``connected_components``: no PER-ROUND driver-side convergence
    actions — one upfront vertex count sizes a log2-scaled budget of
    groupBy-min + join alternations.

    Per alternation, component height at least halves (each node
    re-attaches to its neighborhood minimum), so rounds ~ log2(max
    component diameter): measured by direct simulation, a 300-node
    chain converges in 9 alternations, 1000 in 10, 64k in 16. The
    round budget is sized from ONE upfront vertex count —
    ceil(log2(n_vertices)) + 4 — which provably covers the worst
    realistic diameter (a single chain through every vertex) with
    margin; a fixed budget is NOT safe (8 rounds silently mislabels
    chains past ~256 — caught by review, pinned by the 1000-node
    test). The count is a metadata-sized driver action, paid once —
    unlike the label-prop variant's per-round convergence checks, and
    unlike its diameter-many rounds. Rounds past convergence are
    idempotent no-ops on the star forest. Same output contract and
    the same recursive-CTE oracle as ``dedup_components``.

    Scale shape per round: one symmetric projection, one groupBy-min
    on the node id, one equi-join — all shuffles on the vertex key,
    AQE-coalescible; ``localCheckpoint`` truncates the iterative
    lineage (NOTES: iterative plans must checkpoint or replanning
    costs grow linearly).
    """
    e = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    E = stage_checkpoint(
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
    )
    verts = stage_checkpoint(E.select(F.col("u").alias("v0")).distinct())
    import math

    n_verts = verts.count()  # one metadata-sized action sizes the budget
    rounds = max(_LSS_MIN_ROUNDS, math.ceil(math.log2(max(n_verts, 2))) + 4)
    for _ in range(rounds):
        # large-star: every strictly-larger neighbor re-attaches to
        # min(N(u) ∪ {u})
        sym = E.union(E.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", F.col("u")).alias("mn"))
        )
        E = stage_checkpoint(
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .distinct()
        )
        # small-star: orient edges larger→smaller; every smaller
        # neighbor (and u itself) re-attaches to the minimum
        d = (
            E.select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        mins = d.groupBy("u").agg(F.min("v").alias("mn"))
        joined = d.join(mins, "u")
        E = stage_checkpoint(
            joined.filter(F.col("v") != F.col("mn"))
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .union(joined.select("u", F.col("mn").alias("v")))
            .distinct()
        )
    # converged edge set is a star forest pointing at component minima
    lbl = (
        verts.select(F.col("v0").alias("v"), F.col("v0").alias("lbl"))
        .union(E.select(F.col("u").alias("v"), F.col("v").alias("lbl")))
        .groupBy("v")
        .agg(F.min("lbl").alias("lbl"))
    )
    return lbl.select(
        F.col("v").alias("doc_id"),
        F.col("lbl").alias("component"),
        (F.col("v") == F.col("lbl")).alias("is_canonical"),
    )


_COMPONENTS_ORACLE = f"""
WITH RECURSIVE capped AS (
  SELECT doc_id, source, text FROM (
    SELECT doc_id, source, text,
           row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
    FROM documents
  ) WHERE rn <= {BLOCK_CAP}
),
sh AS (
  SELECT doc_id, source, {_SHINGLE_SQL} AS s
  FROM (SELECT doc_id, source, string_split(text, ' ') AS w FROM capped)
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
  WHERE len(list_intersect(a.s, b.s)) * 1.0
        / len(list_distinct(list_concat(a.s, b.s))) >= 0.5
),
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
)
SELECT v AS doc_id, MIN(w) AS component,
       (v = MIN(w)) AS is_canonical
FROM reach GROUP BY v
"""


@register("dedup_components", oracle=_COMPONENTS_ORACLE)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution over the exact n-gram Jaccard
    near-dup pairs: each document in any >= 0.5-similarity pair gets
    its cluster id (min reachable doc_id) and a survivor flag.

    The missing last step of a real dedup pipeline — pair lists don't
    dedup a corpus, transitive clusters do (A~B, B~C must drop two of
    three docs even though A~C may sit below threshold). The oracle
    recomputes the same closure with a recursive CTE. Edges come from
    the shared scored-pairs core at the >= 0.5 threshold (NOT from the
    top-k catalog view of ``ngram_jaccard_dupes`` — cluster membership
    is a threshold property, a ranking would wire arbitrary weak pairs
    into components).

    ORACLE-BASELINE ROLE (since round 4): this variant keeps a
    driver-side convergence ``count()`` per round (NOTES rule-12
    accepted exception) and exists as the readable ground-truth twin;
    the DEFAULT for dup-cluster resolution at scale is
    ``dedup_components_lss``, whose round budget comes from one upfront
    metadata count instead of per-round driver actions.
    """
    return connected_components(
        _scored_jaccard_pairs(spark, sf_dir)
        .filter(F.col("jac_x") >= 0.5)
        .select("doc_a", "doc_b")
    )


@register("dedup_components_lss", oracle=_COMPONENTS_ORACLE)
def dedup_components_lss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution by large-star/small-star — the
    NO-driver-action twin of ``dedup_components`` (which keeps a
    per-round convergence ``count()``, its accepted NOTES-rule-12
    exception). Fixed-round star contraction removes the exception
    entirely: at 100 TB this is the variant to run. Same edges, same
    output contract, same recursive-CTE oracle — the driver hash-match
    proves both formulations compute the identical closure."""
    return connected_components_lss(
        _scored_jaccard_pairs(spark, sf_dir)
        .filter(F.col("jac_x") >= 0.5)
        .select("doc_a", "doc_b")
    )


# --- SimHash ----------------------------------------------------------


@register("dedup_simhash", oracle=None)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprint per document (token-hash bit voting).

    sim = for each bit b: sign(sum over tokens of +-1 by bit b of
    xxhash64(token)). Near-dups then cluster by small Hamming distance.
    Engine-specific hashing → rows-only; tests assert exact-duplicate
    texts collide and the fingerprint is stable.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = parallelize_if_narrow(docs).select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("w")
    ).withColumn("hashes", F.transform(F.col("w"), lambda t: F.xxhash64(t)))

    # per bit b: set bit in the fingerprint iff >half the token hashes
    # have bit b set (majority vote); bit 63 is the long's sign bit.
    # All 64 votes assembled as ONE SQL string (NOTES rule 16: building
    # them as Column lambdas cost ~1.4 s of py4j plan-construction per
    # invocation, 4x the execution time).
    def vote_sql(b: int) -> str:
        weight = f"{1 << b}L" if b < 63 else "shiftleft(CAST(-1 AS BIGINT), 63)"
        return (
            f"(CASE WHEN aggregate(hashes, 0L,"
            f" (a, h) -> a + (shiftright(h, {b}) & 1)) * 2 > size(w)"
            f" THEN {weight} ELSE 0L END)"
        )

    sim = F.expr(" + ".join(vote_sql(b) for b in range(64)))
    return toks.select("doc_id", sim.alias("simhash"))


# --- embedding cosine near-dup ----------------------------------------

# scaled-integer components: exact in both engines
_Q = 10_000_000


def _ivec(col):
    return F.transform(
        col if not isinstance(col, str) else F.col(col),
        lambda x: F.round(x.cast("double") * _Q, 0).cast("long"),
    )


def _idot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


_IVEC_SQL = "[CAST(round(CAST({v}[i] AS DOUBLE) * 10000000, 0) AS BIGINT) FOR i IN range(1, len({v}) + 1)]"

# near-dup candidate budget: the K highest-cosine cell-blocked pairs.
# The query itself lives in operators/similarity.py since round 4 (it
# shares the two-level _coarse_cells quantizer, and dedup <- similarity
# imports would otherwise be circular).
COSINE_TOPK = 50


# --- portable-hash MinHash-LSH (fully oracle-verified variant) --------

# CTE block ending in `bands` (the md5-family band table) — the prefix
# shared by the standalone portable-LSH oracle, the pipeline oracle,
# and the incremental-dedup oracle.
PORTABLE_BANDS_CTES = f"""sh AS (
  SELECT doc_id, unnest({_SHINGLE_SQL}) AS t
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
),
perms AS (SELECT doc_id, r.range AS p, t FROM sh, range(0, 32) r),
mins AS (
  -- lexicographic MIN over fixed-width lowercase hex == numeric min
  SELECT doc_id, p, MIN(substr(md5(concat(p, ':', t)), 1, 8)) AS h
  FROM perms GROUP BY 1, 2
),
bands AS (
  SELECT doc_id, p // 4 AS band,
         md5(string_agg(h, ',' ORDER BY p)) AS bucket
  FROM mins GROUP BY doc_id, p // 4
)"""

# CTE block ending in `pairs` (the verified near-dup pairs) — shared by
# the standalone portable-LSH oracle and the end-to-end pipeline oracle
# (map_reduce_spark.pipelines), so both verify the identical band math.
PORTABLE_PAIRS_CTES = f"""{PORTABLE_BANDS_CTES},
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
),
sets AS (
  SELECT doc_id, {_SHINGLE_SQL} AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
),
pairs AS (
  SELECT doc_a, doc_b,
         round(len(list_intersect(a.s, b.s)) * 1.0
               / len(list_distinct(list_concat(a.s, b.s))), 6) AS jac
  FROM cand JOIN sets a ON doc_a = a.doc_id JOIN sets b ON doc_b = b.doc_id
  WHERE len(list_intersect(a.s, b.s)) * 1.0
        / len(list_distinct(list_concat(a.s, b.s))) >= 0.5
)"""

_PORTABLE_LSH_ORACLE = f"""
WITH {PORTABLE_PAIRS_CTES}
SELECT doc_a, doc_b, jac FROM pairs
"""


@register("dedup_minhash_lsh_portable", oracle=_PORTABLE_LSH_ORACLE)
def dedup_minhash_lsh_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_minhash_lsh`` on the engine-portable md5 family (8-hex
    per-permutation values), so the ENTIRE pipeline — signatures, band
    buckets, candidate set, verified pairs — is reproduced exactly by
    the DuckDB oracle: the correctness witness for the band math."""
    return _minhash_lsh(spark, sf_dir, "md5")


# --- incremental dedup: new batch vs stored corpus index --------------

# The daily-batch production shape at 100 TB: yesterday's corpus is
# already deduped and its BAND TABLE is stored (a few hundred bytes per
# doc — signatures, never text); today's batch dedups (a) within itself
# and (b) against the index by two (band, bucket) equi-joins, and only
# COLLIDING docs are ever re-read for the exact-Jaccard verify. The
# full corpus text is never rescanned.
_INCREMENTAL_MOD = 10  # doc_id % 10 == 0 plays today's batch (~10%)

_INCREMENTAL_ORACLE = f"""
WITH {PORTABLE_BANDS_CTES},
newb AS (SELECT * FROM bands WHERE doc_id % {_INCREMENTAL_MOD} = 0),
oldb AS (SELECT * FROM bands WHERE doc_id % {_INCREMENTAL_MOD} <> 0),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b, 'batch' AS scope
  FROM newb x JOIN newb y
    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
  UNION
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b, 'index' AS scope
  FROM newb x JOIN oldb y ON x.band = y.band AND x.bucket = y.bucket
),
sets AS (
  SELECT doc_id, {_SHINGLE_SQL} AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
)
SELECT doc_a AS doc_id, doc_b AS dup_of, scope,
       round(len(list_intersect(a.s, b.s)) * 1.0
             / len(list_distinct(list_concat(a.s, b.s))), 6) AS jac
FROM cand JOIN sets a ON doc_a = a.doc_id JOIN sets b ON doc_b = b.doc_id
WHERE len(list_intersect(a.s, b.s)) * 1.0
      / len(list_distinct(list_concat(a.s, b.s))) >= 0.5
"""


@register("dedup_incremental", oracle=_INCREMENTAL_ORACLE)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash-LSH dedup: flag each NEW-batch doc that
    near-dups (Jaccard >= 0.5) another new doc (``scope='batch'``) or
    an already-indexed corpus doc (``scope='index'``).

    The test-scale stand-in derives both band tables from one
    ``documents`` scan and splits by doc_id mod 10; in production
    the old side is the STORED index (signatures only — the scan
    below stands in for a metadata-sized parquet read), so the
    incremental cost is O(batch + collisions): two (band, bucket)
    equi-joins generate candidates, and only colliding doc_ids are
    re-read for the exact verify. No full-corpus rescan, nothing
    quadratic — the same two-stage barrier as the minhash family.
    Portable md5 hash family start-to-finish, so bands, candidates,
    scopes, and verdicts are all reproduced by the DuckDB oracle.
    """
    docs = load_table(spark, sf_dir, "documents")
    bands = stage_cache(minhash_bands(docs, "md5"))  # one signature pass, two consumers
    is_new = F.col("doc_id") % _INCREMENTAL_MOD == 0
    return incremental_dedup_frames(bands.filter(is_new), bands.filter(~is_new), docs)


def incremental_dedup_frames(
    new_bands: DataFrame,
    index_bands: DataFrame,
    text_store: DataFrame,
    tau: float = 0.5,
) -> DataFrame:
    """Library form of ``dedup_incremental``: fold a new batch's band
    table into a STORED signature index.

    ``new_bands`` is today's batch's (doc_id, band, bucket) table
    (``minhash_bands(batch_docs, "md5")``), ``index_bands`` the
    stored corpus index — typically a parquet read of signatures
    persisted by a previous run (tests/test_round6_ops.py drives that
    write-then-fold path end-to-end). ``text_store`` is the corpus text
    store, touched ONLY via a broadcast-semi-join on colliding doc_ids
    inside the exact-Jaccard verify — so the incremental cost stays
    O(batch + collisions) however large the stored index grows.
    """
    cand = stage_cache(
        _collision_pairs(new_bands)
        .withColumn("scope", F.lit("batch"))
        .union(_collision_pairs(new_bands, index_bands).withColumn("scope", F.lit("index")))
    )
    return _verify_jaccard(text_store, cand, tau).select(
        F.col("doc_a").alias("doc_id"),
        F.col("doc_b").alias("dup_of"),
        "scope",
        "jac",
    )


# --- portable SimHash (engine-portable hash family, full oracle) ------

_SIMHASH_PORTABLE_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
  FROM documents
), nib AS (
  SELECT doc_id,
         strpos('0123456789abcdef', substr(md5(w), 1, 1)) - 1 AS n1,
         strpos('0123456789abcdef', substr(md5(w), 2, 1)) - 1 AS n2,
         strpos('0123456789abcdef', substr(md5(w), 3, 1)) - 1 AS n3,
         strpos('0123456789abcdef', substr(md5(w), 4, 1)) - 1 AS n4,
         strpos('0123456789abcdef', substr(md5(w), 5, 1)) - 1 AS n5,
         strpos('0123456789abcdef', substr(md5(w), 6, 1)) - 1 AS n6,
         strpos('0123456789abcdef', substr(md5(w), 7, 1)) - 1 AS n7,
         strpos('0123456789abcdef', substr(md5(w), 8, 1)) - 1 AS n8,
         strpos('0123456789abcdef', substr(md5(w), 9, 1)) - 1 AS n9,
         strpos('0123456789abcdef', substr(md5(w), 10, 1)) - 1 AS n10,
         strpos('0123456789abcdef', substr(md5(w), 11, 1)) - 1 AS n11,
         strpos('0123456789abcdef', substr(md5(w), 12, 1)) - 1 AS n12,
         strpos('0123456789abcdef', substr(md5(w), 13, 1)) - 1 AS n13,
         strpos('0123456789abcdef', substr(md5(w), 14, 1)) - 1 AS n14,
         strpos('0123456789abcdef', substr(md5(w), 15, 1)) - 1 AS n15,
         strpos('0123456789abcdef', substr(md5(w), 16, 1)) - 1 AS n16
  FROM toks
), votes AS (
  SELECT doc_id, COUNT(*) AS n,
         SUM((n1 >> 0) & 1) AS c1_0,
         SUM((n1 >> 1) & 1) AS c1_1,
         SUM((n1 >> 2) & 1) AS c1_2,
         SUM((n1 >> 3) & 1) AS c1_3,
         SUM((n2 >> 0) & 1) AS c2_0,
         SUM((n2 >> 1) & 1) AS c2_1,
         SUM((n2 >> 2) & 1) AS c2_2,
         SUM((n2 >> 3) & 1) AS c2_3,
         SUM((n3 >> 0) & 1) AS c3_0,
         SUM((n3 >> 1) & 1) AS c3_1,
         SUM((n3 >> 2) & 1) AS c3_2,
         SUM((n3 >> 3) & 1) AS c3_3,
         SUM((n4 >> 0) & 1) AS c4_0,
         SUM((n4 >> 1) & 1) AS c4_1,
         SUM((n4 >> 2) & 1) AS c4_2,
         SUM((n4 >> 3) & 1) AS c4_3,
         SUM((n5 >> 0) & 1) AS c5_0,
         SUM((n5 >> 1) & 1) AS c5_1,
         SUM((n5 >> 2) & 1) AS c5_2,
         SUM((n5 >> 3) & 1) AS c5_3,
         SUM((n6 >> 0) & 1) AS c6_0,
         SUM((n6 >> 1) & 1) AS c6_1,
         SUM((n6 >> 2) & 1) AS c6_2,
         SUM((n6 >> 3) & 1) AS c6_3,
         SUM((n7 >> 0) & 1) AS c7_0,
         SUM((n7 >> 1) & 1) AS c7_1,
         SUM((n7 >> 2) & 1) AS c7_2,
         SUM((n7 >> 3) & 1) AS c7_3,
         SUM((n8 >> 0) & 1) AS c8_0,
         SUM((n8 >> 1) & 1) AS c8_1,
         SUM((n8 >> 2) & 1) AS c8_2,
         SUM((n8 >> 3) & 1) AS c8_3,
         SUM((n9 >> 0) & 1) AS c9_0,
         SUM((n9 >> 1) & 1) AS c9_1,
         SUM((n9 >> 2) & 1) AS c9_2,
         SUM((n9 >> 3) & 1) AS c9_3,
         SUM((n10 >> 0) & 1) AS c10_0,
         SUM((n10 >> 1) & 1) AS c10_1,
         SUM((n10 >> 2) & 1) AS c10_2,
         SUM((n10 >> 3) & 1) AS c10_3,
         SUM((n11 >> 0) & 1) AS c11_0,
         SUM((n11 >> 1) & 1) AS c11_1,
         SUM((n11 >> 2) & 1) AS c11_2,
         SUM((n11 >> 3) & 1) AS c11_3,
         SUM((n12 >> 0) & 1) AS c12_0,
         SUM((n12 >> 1) & 1) AS c12_1,
         SUM((n12 >> 2) & 1) AS c12_2,
         SUM((n12 >> 3) & 1) AS c12_3,
         SUM((n13 >> 0) & 1) AS c13_0,
         SUM((n13 >> 1) & 1) AS c13_1,
         SUM((n13 >> 2) & 1) AS c13_2,
         SUM((n13 >> 3) & 1) AS c13_3,
         SUM((n14 >> 0) & 1) AS c14_0,
         SUM((n14 >> 1) & 1) AS c14_1,
         SUM((n14 >> 2) & 1) AS c14_2,
         SUM((n14 >> 3) & 1) AS c14_3,
         SUM((n15 >> 0) & 1) AS c15_0,
         SUM((n15 >> 1) & 1) AS c15_1,
         SUM((n15 >> 2) & 1) AS c15_2,
         SUM((n15 >> 3) & 1) AS c15_3,
         SUM((n16 >> 0) & 1) AS c16_0,
         SUM((n16 >> 1) & 1) AS c16_1,
         SUM((n16 >> 2) & 1) AS c16_2,
         SUM((n16 >> 3) & 1) AS c16_3
  FROM nib GROUP BY doc_id
), fp AS (
  SELECT doc_id,
         substr('0123456789abcdef', 1 + (1 * (CASE WHEN 2 * c1_0 > n THEN 1 ELSE 0 END) + 2 * (CASE WHEN 2 * c1_1 > n THEN 1 ELSE 0 END) + 4 * (CASE WHEN 2 * c1_2 > n THEN 1 ELSE 0 END) + 8 * (CASE WHEN 2 * c1_3 > n THEN 1 ELSE 0 END)), 1) ||
         substr('0123456789abcdef', 1 + (1 * (CASE WHEN 2 * c2_0 > n THEN 1 ELSE 0 END) + 2 * (CASE WHEN 2 * c2_1 > n THEN 1 ELSE 0 END) + 4 * (CASE WHEN 2 * c2_2 > n THEN 1 ELSE 0 END) + 8 * (CASE WHEN 2 * c2_3 > n THEN 1 ELSE 0 END)), 1) ||
         substr('0123456789abcdef', 1 + (1 * (CASE WHEN 2 * c3_0 > n THEN 1 ELSE 0 END) + 2 * (CASE WHEN 2 * c3_1 > n THEN 1 ELSE 0 END) + 4 * (CASE WHEN 2 * c3_2 > n THEN 1 ELSE 0 END) + 8 * (CASE WHEN 2 * c3_3 > n THEN 1 ELSE 0 END)), 1) ||
         substr('0123456789abcdef', 1 + (1 * (CASE WHEN 2 * c4_0 > n THEN 1 ELSE 0 END) + 2 * (CASE WHEN 2 * c4_1 > n THEN 1 ELSE 0 END) + 4 * (CASE WHEN 2 * c4_2 > n THEN 1 ELSE 0 END) + 8 * (CASE WHEN 2 * c4_3 > n THEN 1 ELSE 0 END)), 1) ||
         substr('0123456789abcdef', 1 + (1 * (CASE WHEN 2 * c5_0 > n THEN 1 ELSE 0 END) + 2 * (CASE WHEN 2 * c5_1 > n THEN 1 ELSE 0 END) + 4 * (CASE WHEN 2 * c5_2 > n THEN 1 ELSE 0 END) + 8 * (CASE WHEN 2 * c5_3 > n THEN 1 ELSE 0 END)), 1) ||
         substr('0123456789abcdef', 1 + (1 * (CASE WHEN 2 * c6_0 > n THEN 1 ELSE 0 END) + 2 * (CASE WHEN 2 * c6_1 > n THEN 1 ELSE 0 END) + 4 * (CASE WHEN 2 * c6_2 > n THEN 1 ELSE 0 END) + 8 * (CASE WHEN 2 * c6_3 > n THEN 1 ELSE 0 END)), 1) ||
         substr('0123456789abcdef', 1 + (1 * (CASE WHEN 2 * c7_0 > n THEN 1 ELSE 0 END) + 2 * (CASE WHEN 2 * c7_1 > n THEN 1 ELSE 0 END) + 4 * (CASE WHEN 2 * c7_2 > n THEN 1 ELSE 0 END) + 8 * (CASE WHEN 2 * c7_3 > n THEN 1 ELSE 0 END)), 1) ||
         substr('0123456789abcdef', 1 + (1 * (CASE WHEN 2 * c8_0 > n THEN 1 ELSE 0 END) + 2 * (CASE WHEN 2 * c8_1 > n THEN 1 ELSE 0 END) + 4 * (CASE WHEN 2 * c8_2 > n THEN 1 ELSE 0 END) + 8 * (CASE WHEN 2 * c8_3 > n THEN 1 ELSE 0 END)), 1) ||
         substr('0123456789abcdef', 1 + (1 * (CASE WHEN 2 * c9_0 > n THEN 1 ELSE 0 END) + 2 * (CASE WHEN 2 * c9_1 > n THEN 1 ELSE 0 END) + 4 * (CASE WHEN 2 * c9_2 > n THEN 1 ELSE 0 END) + 8 * (CASE WHEN 2 * c9_3 > n THEN 1 ELSE 0 END)), 1) ||
         substr('0123456789abcdef', 1 + (1 * (CASE WHEN 2 * c10_0 > n THEN 1 ELSE 0 END) + 2 * (CASE WHEN 2 * c10_1 > n THEN 1 ELSE 0 END) + 4 * (CASE WHEN 2 * c10_2 > n THEN 1 ELSE 0 END) + 8 * (CASE WHEN 2 * c10_3 > n THEN 1 ELSE 0 END)), 1) ||
         substr('0123456789abcdef', 1 + (1 * (CASE WHEN 2 * c11_0 > n THEN 1 ELSE 0 END) + 2 * (CASE WHEN 2 * c11_1 > n THEN 1 ELSE 0 END) + 4 * (CASE WHEN 2 * c11_2 > n THEN 1 ELSE 0 END) + 8 * (CASE WHEN 2 * c11_3 > n THEN 1 ELSE 0 END)), 1) ||
         substr('0123456789abcdef', 1 + (1 * (CASE WHEN 2 * c12_0 > n THEN 1 ELSE 0 END) + 2 * (CASE WHEN 2 * c12_1 > n THEN 1 ELSE 0 END) + 4 * (CASE WHEN 2 * c12_2 > n THEN 1 ELSE 0 END) + 8 * (CASE WHEN 2 * c12_3 > n THEN 1 ELSE 0 END)), 1) ||
         substr('0123456789abcdef', 1 + (1 * (CASE WHEN 2 * c13_0 > n THEN 1 ELSE 0 END) + 2 * (CASE WHEN 2 * c13_1 > n THEN 1 ELSE 0 END) + 4 * (CASE WHEN 2 * c13_2 > n THEN 1 ELSE 0 END) + 8 * (CASE WHEN 2 * c13_3 > n THEN 1 ELSE 0 END)), 1) ||
         substr('0123456789abcdef', 1 + (1 * (CASE WHEN 2 * c14_0 > n THEN 1 ELSE 0 END) + 2 * (CASE WHEN 2 * c14_1 > n THEN 1 ELSE 0 END) + 4 * (CASE WHEN 2 * c14_2 > n THEN 1 ELSE 0 END) + 8 * (CASE WHEN 2 * c14_3 > n THEN 1 ELSE 0 END)), 1) ||
         substr('0123456789abcdef', 1 + (1 * (CASE WHEN 2 * c15_0 > n THEN 1 ELSE 0 END) + 2 * (CASE WHEN 2 * c15_1 > n THEN 1 ELSE 0 END) + 4 * (CASE WHEN 2 * c15_2 > n THEN 1 ELSE 0 END) + 8 * (CASE WHEN 2 * c15_3 > n THEN 1 ELSE 0 END)), 1) ||
         substr('0123456789abcdef', 1 + (1 * (CASE WHEN 2 * c16_0 > n THEN 1 ELSE 0 END) + 2 * (CASE WHEN 2 * c16_1 > n THEN 1 ELSE 0 END) + 4 * (CASE WHEN 2 * c16_2 > n THEN 1 ELSE 0 END) + 8 * (CASE WHEN 2 * c16_3 > n THEN 1 ELSE 0 END)), 1) AS fp
  FROM votes
), bands AS (
  SELECT doc_id, fp, b, substr(fp, b * 4 + 1, 4) AS bv
  FROM (SELECT doc_id, fp, unnest([0, 1, 2, 3]) AS b FROM fp)
), cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y
    ON x.b = y.b AND x.bv = y.bv AND x.doc_id < y.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(strpos('0123456789abcdef', substr(fa.fp, 1, 1)) - 1, strpos('0123456789abcdef', substr(fb.fp, 1, 1)) - 1))
       + bit_count(xor(strpos('0123456789abcdef', substr(fa.fp, 2, 1)) - 1, strpos('0123456789abcdef', substr(fb.fp, 2, 1)) - 1))
       + bit_count(xor(strpos('0123456789abcdef', substr(fa.fp, 3, 1)) - 1, strpos('0123456789abcdef', substr(fb.fp, 3, 1)) - 1))
       + bit_count(xor(strpos('0123456789abcdef', substr(fa.fp, 4, 1)) - 1, strpos('0123456789abcdef', substr(fb.fp, 4, 1)) - 1))
       + bit_count(xor(strpos('0123456789abcdef', substr(fa.fp, 5, 1)) - 1, strpos('0123456789abcdef', substr(fb.fp, 5, 1)) - 1))
       + bit_count(xor(strpos('0123456789abcdef', substr(fa.fp, 6, 1)) - 1, strpos('0123456789abcdef', substr(fb.fp, 6, 1)) - 1))
       + bit_count(xor(strpos('0123456789abcdef', substr(fa.fp, 7, 1)) - 1, strpos('0123456789abcdef', substr(fb.fp, 7, 1)) - 1))
       + bit_count(xor(strpos('0123456789abcdef', substr(fa.fp, 8, 1)) - 1, strpos('0123456789abcdef', substr(fb.fp, 8, 1)) - 1))
       + bit_count(xor(strpos('0123456789abcdef', substr(fa.fp, 9, 1)) - 1, strpos('0123456789abcdef', substr(fb.fp, 9, 1)) - 1))
       + bit_count(xor(strpos('0123456789abcdef', substr(fa.fp, 10, 1)) - 1, strpos('0123456789abcdef', substr(fb.fp, 10, 1)) - 1))
       + bit_count(xor(strpos('0123456789abcdef', substr(fa.fp, 11, 1)) - 1, strpos('0123456789abcdef', substr(fb.fp, 11, 1)) - 1))
       + bit_count(xor(strpos('0123456789abcdef', substr(fa.fp, 12, 1)) - 1, strpos('0123456789abcdef', substr(fb.fp, 12, 1)) - 1))
       + bit_count(xor(strpos('0123456789abcdef', substr(fa.fp, 13, 1)) - 1, strpos('0123456789abcdef', substr(fb.fp, 13, 1)) - 1))
       + bit_count(xor(strpos('0123456789abcdef', substr(fa.fp, 14, 1)) - 1, strpos('0123456789abcdef', substr(fb.fp, 14, 1)) - 1))
       + bit_count(xor(strpos('0123456789abcdef', substr(fa.fp, 15, 1)) - 1, strpos('0123456789abcdef', substr(fb.fp, 15, 1)) - 1))
       + bit_count(xor(strpos('0123456789abcdef', substr(fa.fp, 16, 1)) - 1, strpos('0123456789abcdef', substr(fb.fp, 16, 1)) - 1)) AS BIGINT) AS hamming
FROM cand
JOIN fp fa ON fa.doc_id = doc_a
JOIN fp fb ON fb.doc_id = doc_b
WHERE bit_count(xor(strpos('0123456789abcdef', substr(fa.fp, 1, 1)) - 1, strpos('0123456789abcdef', substr(fb.fp, 1, 1)) - 1))
       + bit_count(xor(strpos('0123456789abcdef', substr(fa.fp, 2, 1)) - 1, strpos('0123456789abcdef', substr(fb.fp, 2, 1)) - 1))
       + bit_count(xor(strpos('0123456789abcdef', substr(fa.fp, 3, 1)) - 1, strpos('0123456789abcdef', substr(fb.fp, 3, 1)) - 1))
       + bit_count(xor(strpos('0123456789abcdef', substr(fa.fp, 4, 1)) - 1, strpos('0123456789abcdef', substr(fb.fp, 4, 1)) - 1))
       + bit_count(xor(strpos('0123456789abcdef', substr(fa.fp, 5, 1)) - 1, strpos('0123456789abcdef', substr(fb.fp, 5, 1)) - 1))
       + bit_count(xor(strpos('0123456789abcdef', substr(fa.fp, 6, 1)) - 1, strpos('0123456789abcdef', substr(fb.fp, 6, 1)) - 1))
       + bit_count(xor(strpos('0123456789abcdef', substr(fa.fp, 7, 1)) - 1, strpos('0123456789abcdef', substr(fb.fp, 7, 1)) - 1))
       + bit_count(xor(strpos('0123456789abcdef', substr(fa.fp, 8, 1)) - 1, strpos('0123456789abcdef', substr(fb.fp, 8, 1)) - 1))
       + bit_count(xor(strpos('0123456789abcdef', substr(fa.fp, 9, 1)) - 1, strpos('0123456789abcdef', substr(fb.fp, 9, 1)) - 1))
       + bit_count(xor(strpos('0123456789abcdef', substr(fa.fp, 10, 1)) - 1, strpos('0123456789abcdef', substr(fb.fp, 10, 1)) - 1))
       + bit_count(xor(strpos('0123456789abcdef', substr(fa.fp, 11, 1)) - 1, strpos('0123456789abcdef', substr(fb.fp, 11, 1)) - 1))
       + bit_count(xor(strpos('0123456789abcdef', substr(fa.fp, 12, 1)) - 1, strpos('0123456789abcdef', substr(fb.fp, 12, 1)) - 1))
       + bit_count(xor(strpos('0123456789abcdef', substr(fa.fp, 13, 1)) - 1, strpos('0123456789abcdef', substr(fb.fp, 13, 1)) - 1))
       + bit_count(xor(strpos('0123456789abcdef', substr(fa.fp, 14, 1)) - 1, strpos('0123456789abcdef', substr(fb.fp, 14, 1)) - 1))
       + bit_count(xor(strpos('0123456789abcdef', substr(fa.fp, 15, 1)) - 1, strpos('0123456789abcdef', substr(fb.fp, 15, 1)) - 1))
       + bit_count(xor(strpos('0123456789abcdef', substr(fa.fp, 16, 1)) - 1, strpos('0123456789abcdef', substr(fb.fp, 16, 1)) - 1)) <= 3
"""


@register("dedup_simhash_portable", oracle=_SIMHASH_PORTABLE_ORACLE)
def dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup detection with an md5-derived 64-bit hash family
    so the ENTIRE pipeline — per-token nibbles, bit-majority votes,
    fingerprints, band buckets, candidate pairs, Hamming verify — is
    reproduced exactly by the DuckDB oracle (the same portability
    pattern as ``dedup_minhash_lsh_portable``). ``dedup_simhash``
    (xxhash64) stays the fast production fingerprint; this variant is
    the correctness witness for the banded-Hamming candidate search.

    Emits candidate pairs whose fingerprints agree on at least one of
    four 16-bit bands (a Hamming-radius-style LSH: any pair with
    Hamming distance <= 3 MUST share a band by pigeonhole) and whose
    verified Hamming distance is <= 3.

    Scale shape: one explode + one 65-aggregate groupBy (fixed ~0.5 KB
    state per doc, partial-agged), a band equi-join on 16-bit buckets
    (never all-pairs), and a verify join that carries only 16-char
    fingerprints — no document text ever shuffles.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = parallelize_if_narrow(docs, "doc_id").select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("w")
    )
    hexs = "0123456789abcdef"
    nibs = toks.select(
        "doc_id",
        *[
            F.expr("instr('{0}', substring(md5(w), {1}, 1)) - 1".format(hexs, i))
            .cast("int")
            .alias("n{0}".format(i))
            for i in range(1, 17)
        ],
    )
    votes = nibs.groupBy("doc_id").agg(
        F.count("*").alias("n"),
        *[
            F.sum(F.expr("(n{0} >> {1}) & 1".format(i, j))).alias(
                "c{0}_{1}".format(i, j)
            )
            for i in range(1, 17)
            for j in range(4)
        ],
    )

    def _char(i: int):
        terms = " + ".join(
            "{0} * (CASE WHEN 2 * c{1}_{2} > n THEN 1 ELSE 0 END)".format(
                1 << j, i, j
            )
            for j in range(4)
        )
        return F.expr("substring('{0}', 1 + ({1}), 1)".format(hexs, terms))

    # fp feeds three consumers (band explode + both verify sides):
    # persist it as a stage barrier or the whole explode+65-aggregate
    # pipeline re-executes per consumer (NOTES rule 11)
    fp = stage_cache(
        votes.select("doc_id", F.concat(*[_char(i) for i in range(1, 17)]).alias("fp"))
    )

    bands = fp.select(
        "doc_id", "fp", F.explode(F.array(*[F.lit(b) for b in range(4)])).alias("band")
    ).withColumn("bucket", F.expr("substring(fp, band * 4 + 1, 4)"))
    cand = _collision_pairs(bands)

    fa = fp.select(F.col("doc_id").alias("doc_a"), F.col("fp").alias("fpa"))
    fb = fp.select(F.col("doc_id").alias("doc_b"), F.col("fp").alias("fpb"))
    ham = None
    for i in range(1, 17):
        term = F.expr(
            "bit_count((instr('{0}', substring(fpa, {1}, 1)) - 1) ^ "
            "(instr('{0}', substring(fpb, {1}, 1)) - 1))".format(hexs, i)
        )
        ham = term if ham is None else ham + term
    return (
        cand.join(fa, "doc_a")
        .join(fb, "doc_b")
        .withColumn("hamming", ham.cast("long"))
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
    )


# --- span-level (sub-document) duplicate detection --------------------

_SPAN_W = 8  # rolling window width in tokens
_SPAN_TOPK = 100


@register(
    "dedup_spans",
    oracle=f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), idx AS (
  SELECT doc_id, ws, unnest(range(1, len(ws) - {_SPAN_W} + 2)) AS i
  FROM w WHERE len(ws) >= {_SPAN_W}
), span AS (
  SELECT doc_id,
         md5(array_to_string(ws[i : i + {_SPAN_W} - 1], ' ')) AS span_md5
  FROM idx
), per_doc AS (
  SELECT span_md5, doc_id, CAST(COUNT(*) AS BIGINT) AS c
  FROM span GROUP BY span_md5, doc_id
), agg AS (
  SELECT span_md5,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(c) AS BIGINT) AS n_occ,
         MIN(doc_id) AS first_doc
  FROM per_doc GROUP BY span_md5
)
SELECT span_md5, n_docs, n_occ, first_doc
FROM agg WHERE n_docs >= 2
ORDER BY n_docs DESC, n_occ DESC, span_md5
LIMIT {_SPAN_TOPK}
""",
)
def dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level (sub-document) duplicate detection: rolling
    {W}-token windows fingerprinted and counted across the corpus; a
    span repeated in >= 2 distinct documents is a duplicated passage
    (the distributed approximation of suffix-array substring dedup
    from "Deduplicating Training Data Makes Language Models Better" —
    doc-level MinHash misses these shared passages entirely).

    Output: the top-{K} most-widely-shared spans (fingerprint, how many
    docs carry it, total occurrences, lowest carrying doc_id).

    Scale shape (100 TB): the row path is one narrow
    split -> sequence-explode -> slice -> md5 (all codegen'd, no Python,
    no HOF lambdas per NOTES rule 8's spirit — `slice` is a positional
    primitive, not an interpreted lambda over elements). Distinct-doc
    counting is the two-phase exact pattern: groupBy(span, doc) with
    map-side combine first, then groupBy(span) — the big shuffle
    carries 16-byte md5 keys + two longs, never window text. Final
    top-k is TakeOrderedAndProject (no global sort). Stride is 1 for
    exactness; a production corpus pass would raise the stride or
    pre-filter spans by a cheap frequency sketch, both one-line knobs.
    """
    docs = parallelize_if_narrow(load_table(spark, sf_dir, "documents"))
    ws = F.split("text", " ")
    spans = (
        docs.select("doc_id", ws.alias("ws"))
        .filter(F.size("ws") >= _SPAN_W)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.size("ws") - _SPAN_W + 1)
            ).alias("i"),
            "ws",
        )
        .select(
            "doc_id",
            F.md5(F.concat_ws(" ", F.slice("ws", F.col("i"), _SPAN_W))).alias(
                "span_md5"
            ),
        )
    )
    per_doc = spans.groupBy("span_md5", "doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    agg = per_doc.groupBy("span_md5").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("c").cast("bigint").alias("n_occ"),
        F.min("doc_id").alias("first_doc"),
    )
    return (
        agg.filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), F.desc("n_occ"), "span_md5")
        .limit(_SPAN_TOPK)
    )


# --- signature-index compaction (completes the incremental story) -----

# The production loop around dedup_incremental: batches fold their band
# tables + collision candidates into stored state; periodically the
# index is COMPACTED — candidates are Jaccard-verified once, duplicate
# docs are killed (min-doc_id survives), and the consolidated index
# carries only canonical survivors. Mirrors ann_index_compact on the
# ANN side (similarity.py): decomposable state, any fold order == the
# one-shot computation, proven through parquet at rest.

_DEDUP_COMPACT_BATCHES = 4  # the registered query plays 4 arrival days

_DEDUP_COMPACT_ORACLE = f"""
WITH {PORTABLE_PAIRS_CTES}
SELECT b.doc_id, b.band, b.bucket
FROM bands b
WHERE b.doc_id NOT IN (SELECT doc_b FROM pairs)
"""


def dedup_batch_state(
    batch_docs: DataFrame, cache=None
) -> tuple[DataFrame, DataFrame]:
    """One batch's contribution to the compaction state: its band table
    (the signature-index delta) and its WITHIN-batch collision pairs.
    Cross-batch pairs belong to the merge (they need the other side).

    ``cache`` (optional callable, e.g. ``stage_cache`` or the stream
    fold's per-batch persist hook) is applied to the band table — the
    batch's expensive signature pass (shingle explode + 32 md5 mins)
    feeds three consumers (the bands leg write, the within-batch
    collision self-join, and the merge's cross-batch probe), so without
    the barrier it recomputes once per consumer per micro-batch. Same
    contract as ``health_batch_state``: the caller owns the release."""
    bands = minhash_bands(batch_docs, "md5")
    if cache is not None:
        bands = cache(bands)
    return bands, _collision_pairs(bands)


def merge_dedup_states(
    stored: tuple[DataFrame, DataFrame],
    batch: tuple[DataFrame, DataFrame],
    deltas_only: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Fold a batch's (bands, cand) state into the stored state.

    Associative and commutative: band tables fold by DISJOINT union
    (each doc's signatures appear in exactly one batch), and the
    candidate ledger decomposes pairwise — a cross pair (a, b) is
    produced exactly once, by whichever fold first has both sides, and
    is normalized here to doc_a < doc_b whichever side of the fold
    each doc arrived on (NOTES rule 34: nothing fold-order-dependent
    enters certified state). So any fold order reproduces the one-shot
    band table and candidate set.

    ``deltas_only=True`` returns only the NEW state (the batch bands
    and the batch's new pairs) for append-leg storage: because both
    legs fold by disjoint union, a stream deployment appends O(batch +
    collisions) per commit instead of rewriting the corpus-sized
    index (streaming/jobs.py run_streaming_dedup_fold)."""
    bands_s, cand_s = stored
    bands_b, cand_b = batch
    cross = _collision_pairs(bands_b, bands_s).filter(
        F.col("doc_a") != F.col("doc_b")
    )
    new_pairs = cand_b.unionByName(
        cross.select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
        )
    )
    if deltas_only:
        return bands_b, new_pairs
    return bands_s.unionByName(bands_b), cand_s.unionByName(new_pairs)


def dedup_compact_finish(
    bands: DataFrame,
    cand: DataFrame,
    text_store: DataFrame,
    tau: float = 0.5,
) -> DataFrame:
    """Compact the accumulated signature index: Jaccard-verify the
    candidate ledger (the only step that touches text, and only for
    colliding doc_ids), kill every doc that near-dups a smaller-id doc
    (keep-first), and emit the consolidated (doc_id, band, bucket)
    index of canonical survivors — what the next round of
    ``incremental_dedup_frames`` folds against, now free of dup
    signatures."""
    # no broadcast hints anywhere on this path: both the colliding-id
    # set inside the verify (broadcast_ids=False) and the kill list are
    # dup-rate-proportional, not bounded by construction (NOTES rule
    # 28) — let AQE pick; the anti-join co-partitions with the index on
    # doc_id either way
    killed = (
        _verify_jaccard(text_store, cand, tau, broadcast_ids=False)
        .select("doc_b")
        .distinct()
    )
    return bands.join(
        killed, bands["doc_id"] == killed["doc_b"], "left_anti"
    ).select("doc_id", "band", "bucket")


@register("dedup_index_compact", oracle=_DEDUP_COMPACT_ORACLE)
def dedup_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodic signature-index COMPACTION — the leg that completes the
    incremental-dedup maintenance family (fold batches ->
    dedup_incremental verdicts -> compaction), the dedup mirror of
    ``ann_index_compact``: fold the band tables and collision ledgers
    of accumulated arrival batches, verify the ledger once, and emit
    the consolidated index carrying only canonical survivors
    (min-doc_id per verified near-dup pair).

    In production the two state legs already EXIST when compaction
    runs — the ingest fold (``merge_dedup_states`` per batch, or the
    stream deployment's append legs) accumulated them as batches
    arrived — so compaction itself is only verify + kill + emit. The
    candidate ledger is SPLIT-INVARIANT (any batch partitioning
    accumulates the identical (doc_a, doc_b) set — proven in
    tests/test_round7_ops.py through parquet in arbitrary fold order),
    so the test-scale stand-in derives it in one shot from the band
    table rather than replaying an ingest history inside the query;
    the {_DEDUP_COMPACT_BATCHES}-day fold itself is exercised by the
    order-invariance test and deployed for real by
    ``streaming_dedup_incremental``.

    Scale shape: signatures are ~200 bytes/doc — the band legs move
    metadata, never text; the ledger is bounded by collisions (on a
    stored index, bucketed by (band, bucket), each ingest-time probe
    join is shuffle-free on the index side); the verify re-reads text
    for COLLIDING ids only (broadcast semi-join); the kill anti-join's
    dup-rate-proportional side carries no broadcast hint (NOTES rule
    28). Nothing rescans the corpus, nothing is quadratic.
    """
    docs = load_table(spark, sf_dir, "documents")
    bands = stage_cache(minhash_bands(docs, "md5"))  # shared: one signature pass
    return dedup_compact_finish(bands, _collision_pairs(bands), docs)

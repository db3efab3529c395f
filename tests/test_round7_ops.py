"""Round-7 operators: periodic ANN index-delta compaction
(``ann_index_compact``), the incremental corpus-health report
(``health_report_fold``), and their stream deployments
(``streaming_health_report``, ``streaming_ann_upsert``) — all
MERGE-shaped (merge_rollup, incremental.py): decomposable state folded
through parquet at rest, any fold order == the one-shot computation
(r6 verdict items 2, 3), with the exactly-once commit protocol
(run_stream_state_fold) fault-injected here."""

from __future__ import annotations

from functools import reduce

from pyspark.sql import functions as F

from map_reduce_spark.io import load_table
from map_reduce_spark.operators.similarity import (
    _COMPACT_DAYS,
    _UPSERT_MOD,
    _batch_terms,
    _iv4,
    _ivf_cell_stats,
    _upsert_assign,
    ann_compact_frames,
    ann_delta_frame,
    ann_index_compact,
    merge_ann_deltas,
)
from map_reduce_spark.session import release_caches
from tests.oracle import assert_frames_match


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


# --- ann_index_compact -------------------------------------------------


def test_ann_compact_matches_oracle(spark, duck, sf_dir):
    from map_reduce_spark.registry import all_queries

    q = all_queries()["ann_index_compact"]
    got = q.fn(spark, sf_dir)
    assert_frames_match(got, duck.execute(q.oracle).fetchdf(), "ann_index_compact")
    release_caches()


def test_ann_compact_fold_order_through_parquet(spark, sf_dir, tmp_path):
    """The deployment shape: each day's upsert leaves a delta parquet;
    compaction loads N deltas and folds them. Folding in ANY order —
    including the reversed order and a one-shot single delta over the
    whole accumulated batch — must consolidate to the identical
    metadata table."""
    iv = _iv4(load_table(spark, sf_dir, "embeddings"))
    is_batch = F.col("vec_id") % _UPSERT_MOD == 0
    cent = _ivf_cell_stats(iv.filter(~is_batch))
    bterms = _batch_terms(iv.filter(is_batch))
    assign = _upsert_assign(bterms, cent)
    day = F.expr(f"(vec_id div {_UPSERT_MOD}) % {_COMPACT_DAYS}")

    paths = []
    for d in range(_COMPACT_DAYS):
        p = str(tmp_path / f"delta_{d}")
        ann_delta_frame(
            assign.filter(day == d), bterms.filter(day == d)
        ).write.parquet(p)
        paths.append(p)

    stored = [spark.read.parquet(p) for p in paths]
    fwd = ann_compact_frames(cent, reduce(merge_ann_deltas, stored))
    rev = ann_compact_frames(cent, reduce(merge_ann_deltas, stored[::-1]))
    want = _rows(ann_index_compact(spark, sf_dir))
    assert _rows(fwd) == want
    assert _rows(rev) == want
    release_caches()


def test_compact_ledger_single_pass_equals_pairwise_fold(spark, sf_dir):
    """r12 (VERDICT item 6): the query's single-pass day-tagged ledger
    (``ann_merged_delta_by_day``) must equal the production pairwise
    fold of per-day ``ann_delta_frame`` ledgers FIELD-EXACT — at the
    ledger grain, not just through the compact output — in both fold
    orders. This is the mechanical check that licenses collapsing the
    in-query fold chain to one keyed SUM."""
    from map_reduce_spark.operators.similarity import ann_merged_delta_by_day

    iv = _iv4(load_table(spark, sf_dir, "embeddings"))
    is_batch = F.col("vec_id") % _UPSERT_MOD == 0
    cent = _ivf_cell_stats(iv.filter(~is_batch))
    bterms = _batch_terms(iv.filter(is_batch))
    assign = _upsert_assign(bterms, cent)
    day = F.expr(f"(vec_id div {_UPSERT_MOD}) % {_COMPACT_DAYS}")
    deltas = [
        ann_delta_frame(assign.filter(day == d), bterms.filter(day == d))
        for d in range(_COMPACT_DAYS)
    ]
    single = _rows(ann_merged_delta_by_day(assign, bterms, day))
    assert _rows(reduce(merge_ann_deltas, deltas)) == single
    assert _rows(reduce(merge_ann_deltas, deltas[::-1])) == single
    release_caches()


def test_ann_compact_one_shot_equals_fold(spark, sf_dir):
    """A single delta over the whole accumulated batch consolidates to
    the same sums/counts/flags as the per-day fold (n_deltas aside,
    which by definition counts contributing deltas)."""
    iv = _iv4(load_table(spark, sf_dir, "embeddings"))
    is_batch = F.col("vec_id") % _UPSERT_MOD == 0
    cent = _ivf_cell_stats(iv.filter(~is_batch))
    bterms = _batch_terms(iv.filter(is_batch))
    assign = _upsert_assign(bterms, cent)
    one = ann_compact_frames(cent, ann_delta_frame(assign, bterms)).drop("n_deltas")
    folded = ann_index_compact(spark, sf_dir).drop("n_deltas")
    assert _rows(one) == _rows(folded)
    release_caches()


def test_ann_compact_semantics(spark, sf_dir):
    rows = ann_index_compact(spark, sf_dir).collect()
    release_caches()
    assert rows
    cells = {}
    for r in rows:
        assert r["n_members"] > 0 and r["n_deltas"] >= 0
        assert r["needs_retrain"] in (0, 1)
        # centroid is the 6dp micro-grid mean of the exact sums:
        # half-away rounding on the integer grid, recomputed exactly
        micro = (abs(r["s_total"]) * 200 + r["n_members"]) // (2 * r["n_members"])
        if r["s_total"] < 0:
            micro = -micro
        assert abs(r["centroid_ci"] - micro / 1e6) < 1e-12
        cells.setdefault(r["cell"], set()).add(
            (r["needs_retrain"], r["n_deltas"])
        )
    # per-cell flags consistent across dims; every stored cell present
    for cell, s in cells.items():
        assert len(s) == 1, f"cell {cell}: inconsistent {s}"


# --- health_report_fold ------------------------------------------------


def test_health_fold_matches_oracle(spark, duck, sf_dir):
    from map_reduce_spark.registry import all_queries

    q = all_queries()["health_report_fold"]
    got = q.fn(spark, sf_dir)
    assert_frames_match(got, duck.execute(q.oracle).fetchdf(), "health_report_fold")
    release_caches()


def test_health_fold_order_through_parquet(spark, sf_dir, tmp_path):
    """Each day's state written to parquet, reloaded, folded in two
    different orders AND as one-shot whole-corpus state — all three
    must finish into the identical report."""
    from map_reduce_spark.operators.monitoring import (
        _HEALTH_FOLD_DAYS,
        health_batch_state,
        health_report_fold,
        health_report_from_state,
        merge_health_states,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text", "n_chars"
    )
    legs = ("psic", "gate", "dup", "sig")
    stored = []
    for d in range(_HEALTH_FOLD_DAYS):
        state = health_batch_state(docs.filter(F.col("doc_id") % _HEALTH_FOLD_DAYS == d))
        frames = []
        for leg, frame in zip(legs, state):
            p = str(tmp_path / f"{leg}_{d}")
            frame.write.parquet(p)
            frames.append(spark.read.parquet(p))
        stored.append(tuple(frames))

    fwd = health_report_from_state(*reduce(merge_health_states, stored))
    rev = health_report_from_state(*reduce(merge_health_states, stored[::-1]))
    one = health_report_from_state(*health_batch_state(docs))
    want = _rows(health_report_fold(spark, sf_dir))
    got_fwd = _rows(fwd)
    release_caches()
    got_rev = _rows(rev)
    release_caches()
    got_one = _rows(one)
    release_caches()
    assert got_fwd == want
    assert got_rev == want
    assert got_one == want


def test_health_fold_consistent_with_one_shot_report(spark, sf_dir):
    """The fold twin agrees with corpus_health_report on every shared
    column (the overlap leg differs by design: estimator vs exact)."""
    from map_reduce_spark.operators.monitoring import (
        corpus_health_report,
        health_report_fold,
    )

    shared = ["source", "n_docs", "psi", "kept", "too_short", "low_diversity", "exact_dup"]
    a = _rows(health_report_fold(spark, sf_dir).select(*shared))
    release_caches()
    b = _rows(corpus_health_report(spark, sf_dir).select(*shared))
    release_caches()
    assert a == b


# --- streaming_health_report -------------------------------------------


def test_streaming_health_report_equals_batch_fold(spark, sf_dir):
    """The stream-maintained report must equal the batch fold exactly
    (same merge, same finish)."""
    from map_reduce_spark.operators.monitoring import health_report_fold
    from map_reduce_spark.streaming.jobs import streaming_health_report

    a = _rows(streaming_health_report(spark, sf_dir))
    release_caches()
    b = _rows(health_report_fold(spark, sf_dir))
    release_caches()
    assert a == b


def test_streaming_health_fold_multi_epoch(spark, sf_dir, tmp_path):
    """A REAL multi-micro-batch fold: the corpus split across three
    files streamed one file per trigger must fold into the same report
    as the one-shot state — and replaying the drained stream against
    the SAME state dir must be a no-op (epoch idempotence), not a
    double-count."""
    from map_reduce_spark.operators.monitoring import (
        health_batch_state,
        health_report_from_state,
    )
    from map_reduce_spark.streaming.jobs import (
        DOCS_SCHEMA,
        run_streaming_health_fold,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    src_dir = str(tmp_path / "docs_stream")
    for d in range(3):
        docs.filter(F.col("doc_id") % 3 == d).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)

    state_dir = str(tmp_path / "health_state")
    import os

    os.makedirs(state_dir)

    def make_source():
        return (
            spark.readStream.schema(DOCS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )

    got = _rows(
        run_streaming_health_fold(spark, sf_dir, state_dir, source=make_source())
    )
    release_caches()
    want = _rows(health_report_from_state(*health_batch_state(docs)))
    release_caches()
    assert got == want
    # restart against the SAME checkpoint: the drained lineage has no
    # new files, so zero epochs fold and the committed state is served
    # unchanged — the normal resume path
    again = _rows(
        run_streaming_health_fold(spark, sf_dir, state_dir, source=make_source())
    )
    release_caches()
    assert again == want


def test_streaming_health_fold_rejects_foreign_lineage(spark, sf_dir, tmp_path):
    """Folding a fresh checkpoint (which re-delivers already-folded
    data from epoch 0) into existing state must raise loudly, not
    silently double-count or skip."""
    import os
    import shutil

    import pytest

    from map_reduce_spark.streaming.jobs import run_streaming_health_fold

    state_dir = str(tmp_path / "health_state")
    os.makedirs(state_dir)
    run_streaming_health_fold(spark, sf_dir, state_dir)
    release_caches()
    shutil.rmtree(os.path.join(state_dir, "_chk"))  # "reset the stream"
    with pytest.raises(Exception, match="lineage"):
        run_streaming_health_fold(spark, sf_dir, state_dir)
    release_caches()


# --- streaming_ann_upsert ----------------------------------------------


def test_streaming_ann_upsert_equals_batch_compact(spark, sf_dir):
    """The stream-maintained index metadata must equal the periodic
    batch compaction on its batching-invariant columns (same
    assignment, same merge, same finish; n_deltas is the one
    trigger-dependent column and is excluded from the streaming
    surface)."""
    from map_reduce_spark.streaming.jobs import streaming_ann_upsert

    a = _rows(streaming_ann_upsert(spark, sf_dir))
    release_caches()
    b = _rows(ann_index_compact(spark, sf_dir).drop("n_deltas"))
    release_caches()
    assert a == b


def test_streaming_ann_fold_multi_epoch(spark, sf_dir, tmp_path):
    """Batch vectors split across three files streamed one file per
    trigger must fold into the same consolidated metadata as the
    one-shot; resuming the drained stream must serve the committed
    state unchanged."""
    import os

    from map_reduce_spark.streaming.jobs import (
        EMBEDDINGS_SCHEMA,
        run_streaming_ann_delta_fold,
    )

    batch = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % _UPSERT_MOD == 0)
        .select("vec_id", "embedding", "label")
    )
    src_dir = str(tmp_path / "emb_stream")
    for d in range(3):
        batch.filter(F.col("vec_id") % 3 == d).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)

    state_dir = str(tmp_path / "ann_state")
    os.makedirs(state_dir)

    def make_source():
        return (
            spark.readStream.schema(EMBEDDINGS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )

    got = _rows(
        run_streaming_ann_delta_fold(spark, sf_dir, state_dir, source=make_source())
    )
    release_caches()
    want = _rows(ann_index_compact(spark, sf_dir).drop("n_deltas"))
    release_caches()
    assert got == want
    again = _rows(
        run_streaming_ann_delta_fold(spark, sf_dir, state_dir, source=make_source())
    )
    release_caches()
    assert again == want


def test_stream_fold_ignores_torn_uncommitted_version(spark, sf_dir, tmp_path):
    """Crash-before-commit recovery: a version directory written by a
    crashed fold (legs present, marker never moved) must be ignored by
    the next fold — which folds from the last COMMITTED version — and
    swept after its commit."""
    import os

    from map_reduce_spark.streaming.jobs import (
        EMBEDDINGS_SCHEMA,
        run_streaming_ann_delta_fold,
    )

    batch = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % _UPSERT_MOD == 0)
        .select("vec_id", "embedding", "label")
    )
    src_dir = str(tmp_path / "emb_stream")
    batch.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.mode("append").parquet(
        src_dir
    )
    state_dir = str(tmp_path / "ann_state")
    os.makedirs(state_dir)

    def make_source():
        return (
            spark.readStream.schema(EMBEDDINGS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )

    run_streaming_ann_delta_fold(spark, sf_dir, state_dir, source=make_source())
    release_caches()
    # fake a crashed fold: a newer version directory with garbage legs
    # and NO marker move — the commit protocol must treat it as absent
    torn = os.path.join(state_dir, "v999", "delta")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-00000.parquet"), "w") as fh:
        fh.write("not parquet")
    # second drop of vectors arrives; the fold resumes from the
    # committed version, never reads v999, and sweeps it post-commit
    batch.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.mode("append").parquet(
        src_dir
    )
    got = _rows(
        run_streaming_ann_delta_fold(spark, sf_dir, state_dir, source=make_source())
    )
    release_caches()
    want = _rows(ann_index_compact(spark, sf_dir).drop("n_deltas"))
    release_caches()
    assert got == want
    assert not os.path.exists(os.path.join(state_dir, "v999"))


def test_stream_fold_rejects_rewound_epochs(spark, sf_dir, tmp_path):
    """A checkpoint whose offset log is lost while its metadata file
    survives keeps its lineage id but restarts epoch ids at 0,
    re-delivering data the state already folded — the fold must raise,
    not silently skip (data batched under a recycled epoch id would be
    dropped) and not double-count."""
    import os
    import shutil

    import pytest

    from map_reduce_spark.streaming.jobs import (
        EMBEDDINGS_SCHEMA,
        run_streaming_ann_delta_fold,
    )

    batch = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % _UPSERT_MOD == 0)
        .select("vec_id", "embedding", "label")
    )
    src_dir = str(tmp_path / "emb_stream")
    for d in range(2):
        batch.filter(F.col("vec_id") % 2 == d).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)
    state_dir = str(tmp_path / "ann_state")
    os.makedirs(state_dir)

    def make_source():
        return (
            spark.readStream.schema(EMBEDDINGS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )

    run_streaming_ann_delta_fold(spark, sf_dir, state_dir, source=make_source())
    release_caches()
    # partial reset: offsets/commits gone, metadata (the lineage id)
    # survives — the stream re-delivers everything from epoch 0
    chk = os.path.join(state_dir, "_chk")
    for sub in ("offsets", "commits"):
        shutil.rmtree(os.path.join(chk, sub), ignore_errors=True)
    with pytest.raises(Exception, match="re-delivered"):
        run_streaming_ann_delta_fold(spark, sf_dir, state_dir, source=make_source())
    release_caches()


# --- dedup_index_compact / streaming_dedup_incremental ------------------


def test_dedup_compact_matches_oracle(spark, duck, sf_dir):
    from map_reduce_spark.registry import all_queries

    q = all_queries()["dedup_index_compact"]
    got = q.fn(spark, sf_dir)
    assert_frames_match(got, duck.execute(q.oracle).fetchdf(), "dedup_index_compact")
    release_caches()


def test_dedup_compact_fold_order_through_parquet(spark, sf_dir, tmp_path):
    """The deployment shape: each arrival day leaves its band table and
    within-day collision pairs as parquet; compaction loads the N day
    states and folds them. Folding forward and reversed must both
    finish into the identical survivor index (the merge is associative
    and commutative: cross pairs decompose pairwise over the union)."""
    from map_reduce_spark.operators.dedup import (
        _DEDUP_COMPACT_BATCHES,
        _collision_pairs,
        dedup_compact_finish,
        dedup_index_compact,
        merge_dedup_states,
        minhash_bands,
    )

    docs = load_table(spark, sf_dir, "documents")
    bands = minhash_bands(docs, "md5")
    day = F.col("doc_id") % _DEDUP_COMPACT_BATCHES
    states = []
    for d in range(_DEDUP_COMPACT_BATCHES):
        bp = str(tmp_path / f"bands_{d}")
        cp = str(tmp_path / f"cand_{d}")
        db = bands.filter(day == d)
        db.write.parquet(bp)
        _collision_pairs(db).write.parquet(cp)
        states.append((spark.read.parquet(bp), spark.read.parquet(cp)))

    fwd = reduce(merge_dedup_states, states)
    rev = reduce(merge_dedup_states, states[::-1])
    want = _rows(dedup_index_compact(spark, sf_dir))
    release_caches()
    assert _rows(dedup_compact_finish(fwd[0], fwd[1], docs)) == want
    assert _rows(dedup_compact_finish(rev[0], rev[1], docs)) == want
    release_caches()


def test_dedup_compact_kill_rule(spark, sf_dir):
    """Survivors are exactly the docs that near-dup no smaller-id doc:
    the kill list must equal the doc_b side of the fully-verified
    portable-LSH pair table, and every survivor keeps all its bands."""
    from map_reduce_spark.operators.dedup import (
        BANDS,
        dedup_index_compact,
        dedup_minhash_lsh_portable,
    )

    killed = {
        r["doc_b"] for r in dedup_minhash_lsh_portable(spark, sf_dir).collect()
    }
    release_caches()
    docs = {r["doc_id"] for r in load_table(spark, sf_dir, "documents").collect()}
    out = dedup_index_compact(spark, sf_dir).collect()
    release_caches()
    per_doc = {}
    for r in out:
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + 1
    assert set(per_doc) == docs - killed
    assert all(n == BANDS for n in per_doc.values())


def test_streaming_dedup_equals_batch_compact(spark, sf_dir):
    from map_reduce_spark.operators.dedup import dedup_index_compact
    from map_reduce_spark.streaming.jobs import streaming_dedup_incremental

    got = _rows(streaming_dedup_incremental(spark, sf_dir))
    release_caches()
    want = _rows(dedup_index_compact(spark, sf_dir))
    release_caches()
    assert got == want


def test_streaming_dedup_fold_multi_epoch_append_legs(spark, sf_dir, tmp_path):
    """Documents split across three files streamed one file per trigger
    must compact to the same survivor index as the one-shot; the state
    legs are APPEND legs, so a committed version's band files must be
    hard links of the previous version's (O(batch) per commit, no
    index rewrite), and resuming the drained stream serves the
    committed state unchanged."""
    import os

    from map_reduce_spark.operators.dedup import dedup_index_compact
    from map_reduce_spark.streaming.jobs import (
        DOCS_SCHEMA,
        run_streaming_dedup_fold,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    src_dir = str(tmp_path / "docs_stream")
    for d in range(3):
        docs.filter(F.col("doc_id") % 3 == d).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)

    state_dir = str(tmp_path / "dedup_state")
    os.makedirs(state_dir)

    def make_source():
        return (
            spark.readStream.schema(DOCS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )

    got = _rows(
        run_streaming_dedup_fold(spark, sf_dir, state_dir, source=make_source())
    )
    release_caches()
    want = _rows(dedup_index_compact(spark, sf_dir))
    release_caches()
    assert got == want

    # the committed (final) version's bands leg must share inodes with
    # the retained previous version — appended, not rewritten
    versions = sorted(
        int(d[1:]) for d in os.listdir(state_dir) if d.startswith("v")
    )
    assert len(versions) == 2  # final + the power-loss recovery point
    final_bands = os.path.join(state_dir, f"v{versions[-1]}", "bands")
    linked = [
        f
        for f in os.listdir(final_bands)
        if f.endswith(".parquet")
        and os.stat(os.path.join(final_bands, f)).st_nlink > 1
    ]
    assert linked, "append leg contains no hard-linked prior files"

    again = _rows(
        run_streaming_dedup_fold(spark, sf_dir, state_dir, source=make_source())
    )
    release_caches()
    assert again == want


# --- ann_recall_eval -----------------------------------------------------


def test_ann_recall_eval_matches_oracle(spark, duck, sf_dir):
    from map_reduce_spark.registry import all_queries

    q = all_queries()["ann_recall_eval"]
    got = q.fn(spark, sf_dir)
    assert_frames_match(got, duck.execute(q.oracle).fetchdf(), "ann_recall_eval")
    release_caches()


def test_ann_recall_eval_panel_and_bounds(spark, sf_dir):
    from map_reduce_spark.operators.similarity import (
        _RECALL_K,
        _RECALL_PROBE_CAP,
        _RECALL_PROBE_MOD,
        ann_recall_eval,
    )

    rows = ann_recall_eval(spark, sf_dir).collect()
    release_caches()
    # the panel is the FIXED probe set, one row each, at every SF
    assert sorted(r["probe_id"] for r in rows) == list(
        range(0, _RECALL_PROBE_CAP, _RECALL_PROBE_MOD)
    )
    for r in rows:
        assert 0 <= r["hits"] <= _RECALL_K
        assert abs(r[f"recall_at_{_RECALL_K}"] - r["hits"] / _RECALL_K) < 1e-9


def test_dedup_index_lifecycle_roundtrip(spark, sf_dir, tmp_path):
    """The full production loop in one test: three arrival days fold
    through the STREAM (append legs, parquet state), the drained state
    compacts into the survivor index at rest, and day 4 then dedups
    against that stored index via incremental_dedup_frames — the result
    must equal the same fold built in memory from one-shot parts. This
    is the path a real deployment runs every day; nothing in it may
    depend on how the state got to disk."""
    import os

    from map_reduce_spark.operators.dedup import (
        _collision_pairs,
        dedup_compact_finish,
        incremental_dedup_frames,
        minhash_bands,
    )
    from map_reduce_spark.streaming.jobs import (
        DOCS_SCHEMA,
        run_streaming_dedup_fold,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    early = docs.filter(F.col("doc_id") % 4 != 3)
    day4 = docs.filter(F.col("doc_id") % 4 == 3)

    # days 1-3 arrive as a 3-file stream; state folds to parquet
    src_dir = str(tmp_path / "docs_stream")
    for d in range(3):
        early.filter(F.col("doc_id") % 4 == d).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)
    state_dir = str(tmp_path / "state")
    os.makedirs(state_dir)
    source = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    compacted = run_streaming_dedup_fold(spark, sf_dir, state_dir, source=source)
    idx_path = str(tmp_path / "index")
    compacted.write.parquet(idx_path)  # the index a deployment persists
    release_caches()

    # day 4 folds against the STORED index
    got = _rows(
        incremental_dedup_frames(
            minhash_bands(day4, "md5"), spark.read.parquet(idx_path), docs
        )
    )
    release_caches()

    # the in-memory one-shot twin of the same semantics
    b_early, b_day4 = minhash_bands(early, "md5"), minhash_bands(day4, "md5")
    survivors = dedup_compact_finish(b_early, _collision_pairs(b_early), docs)
    want = _rows(incremental_dedup_frames(b_day4, survivors, docs))
    release_caches()
    assert got == want


def test_append_leg_fold_survives_torn_version(spark, sf_dir, tmp_path):
    """Crash-before-commit with APPEND legs: a torn newer version (delta
    files + hard links written, marker never moved) must be ignored by
    the resumed fold — which re-appends from the last COMMITTED version
    — and swept post-commit without losing any inode the committed
    versions still link. Mirrors the generic torn-version test for the
    rewrite-leg folds."""
    import os

    from map_reduce_spark.operators.dedup import dedup_index_compact
    from map_reduce_spark.streaming.jobs import (
        DOCS_SCHEMA,
        run_streaming_dedup_fold,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    src_dir = str(tmp_path / "docs_stream")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src_dir)
    state_dir = str(tmp_path / "state")
    os.makedirs(state_dir)

    def make_source():
        return (
            spark.readStream.schema(DOCS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )

    run_streaming_dedup_fold(spark, sf_dir, state_dir, source=make_source())
    release_caches()

    # fake a crashed epoch: a newer version whose bands leg contains a
    # garbage delta AND a hard link to a committed band file, marker
    # never moved
    committed = sorted(
        d for d in os.listdir(state_dir) if d.startswith("v")
    )[-1]
    torn = os.path.join(state_dir, "v999", "bands")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-torn.parquet"), "w") as fh:
        fh.write("not parquet")
    src_band_dir = os.path.join(state_dir, committed, "bands")
    linked_name = next(
        f for f in os.listdir(src_band_dir) if f.endswith(".parquet")
    )
    os.link(
        os.path.join(src_band_dir, linked_name),
        os.path.join(torn, linked_name),
    )

    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src_dir)
    got = _rows(
        run_streaming_dedup_fold(spark, sf_dir, state_dir, source=make_source())
    )
    release_caches()
    want = _rows(dedup_index_compact(spark, sf_dir))
    release_caches()
    assert got == want
    assert not os.path.exists(os.path.join(state_dir, "v999"))
    # the committed file the torn version linked must still be readable
    # through the FINAL version (sweep dropped directory entries only)
    final = sorted(
        d for d in os.listdir(state_dir) if d.startswith("v")
    )[-1]
    assert os.path.exists(os.path.join(state_dir, final, "bands", linked_name))

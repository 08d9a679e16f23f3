"""Streaming corpus ingest with near-dup gating — the incremental
dedup story (operators/dedup.incremental_minhash_dedup) run the way a
production corpus actually grows: as a Structured Streaming
foreachBatch pipeline over document arrivals.

Per micro-batch:
1. shingle ONCE (``with_shingle_column`` — the ingest-time kernel
   pass, pinned for the batch's gates and write; the written column
   serves every future batch without the kernel);
2. find every near-dup pair of the batch in ONE MinHash-LSH pass: the
   batch's shingle arrays and the existing corpus's go into one frame
   keyed by ``struct(side, epoch, doc_id)`` (side 0 batch, 1 corpus;
   unique per row even where ids repeat across sides or epochs), one
   signature/band-bucket build, one (band, bucket) grouping that
   expands pairs only from batch members (batch-batch and
   batch-corpus pairs, never corpus-corpus), one exact-Jaccard
   verify. The corpus side reads its persisted shingle column (no
   kernel), but still re-explodes and re-hashes every corpus shingle
   into band buckets on every batch — O(corpus) work per batch. A
   persisted band-bucket column written at ingest would make it
   O(batch); that is the open follow-up (see
   incremental_minhash_dedup);
3. drop the losers: in a batch-internal pair the higher id loses, in
   a pair with a corpus doc the batch doc does;
4. append survivors (WITH shingles) under ``epoch=<id>/`` —
   overwriting the epoch directory, so a replayed micro-batch after
   a failure rewrites the same directory with the same rows:
   IDEMPOTENT, the same delete-then-reload contract as
   ``write_idempotent_partitions``;
5. optionally record (batch_doc, corpus_doc, jaccard) rejects for
   audit — the corpus pairs of batch docs that no internal pair
   already dropped, so every dropped doc is attributable, the same
   quarantine discipline as the sales pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from analytics_etl_spark.operators.dedup import (
    lsh_band_buckets,
    lsh_candidate_pairs,
    minhash_signatures,
    verify_jaccard,
    with_shingle_column,
)
from analytics_etl_spark.sinks.writer import read_parquet_if_present


def _sided(df: DataFrame, side: int, epoch) -> DataFrame:
    """(struct(side, epoch, doc_id), distinct shingles) rows of one
    side of the gate. The key is unique per row: side keeps a batch
    doc apart from a corpus doc with the same doc_id, and epoch keeps
    apart corpus rows that different batches admitted under one
    doc_id (each is signed and verified on its own, as
    incremental_minhash_dedup verifies each corpus row)."""
    return df.select(
        F.struct(
            F.lit(side).alias("side"), epoch.alias("epoch"), F.col("doc_id")
        ).alias("doc_id"),
        # array_distinct: the silent-understated-Jaccard defense of
        # minhash_lsh_dedup's shingles_col path (see its docstring)
        F.array_distinct(F.col("shingles")).alias("shingles"),
    )


def ingest_batch(
    batch_df: DataFrame,
    epoch_id: int,
    corpus_path: str,
    rejects_path: str | None = None,
    min_jaccard: float = 0.5,
    shingle_n: int = 3,
) -> None:
    """One micro-batch of the gated ingest (module-level so failure
    replay is directly testable: same (batch, epoch) in, same corpus
    state out).

    Both gates are one LSH pass (module docstring, steps 2-3); the
    rows it keeps and the rejects it records are those of
    ``minhash_lsh_dedup`` on the batch followed by
    ``incremental_minhash_dedup`` of the survivors against the corpus
    (same banding, same verify). One difference: where a doc_id
    repeats across corpus epochs, each corpus row here gets its own
    signature, while ``incremental_minhash_dedup`` signs the union of
    those rows' shingles under the one id (both verify each row)."""
    # the gate and the write read the shingled batch: pin it so the
    # Arrow kernel runs once per batch, and release every pin before
    # returning so a long-running stream accumulates no cached blocks
    shingled = with_shingle_column(batch_df, n=shingle_n).persist()
    pinned = [shingled]
    try:
        shingled.count()

        # exclude THIS epoch's directory from the corpus side: on a
        # failure replay the previous attempt's output is already on
        # disk, and gating the batch against its own prior write would
        # self-dedup every doc to zero — the replay must see exactly
        # the corpus state the first attempt saw. No corpus yet (first
        # batch) is the only read failure that means "no gate"
        corpus = read_parquet_if_present(batch_df.sparkSession, corpus_path)
        sides = _sided(shingled, 0, F.lit(-1))
        if corpus is not None:
            corpus = corpus.filter(F.col("epoch") != int(epoch_id))
            sides = sides.unionByName(_sided(corpus, 1, F.col("epoch")))

        exploded = sides.select("doc_id", F.explode("shingles").alias("shingle"))
        cands = lsh_candidate_pairs(
            lsh_band_buckets(minhash_signatures(exploded)), anchored=True
        )
        pairs = verify_jaccard(sides, cands).filter(F.col("jaccard") >= min_jaccard)

        internal = F.col("doc_b.side") == 0
        if corpus is not None and rejects_path is not None:
            # pair-sized frame read twice (rejects + the drop list)
            pinned.append(pairs.persist())
            internal_drop = pairs.filter(internal).select(
                F.col("doc_b.doc_id").alias("batch_doc")
            )
            pairs.filter(~internal).select(
                F.col("doc_a.doc_id").alias("batch_doc"),
                F.col("doc_b.doc_id").alias("corpus_doc"),
                "jaccard",
            ).join(internal_drop, "batch_doc", "left_anti").withColumn(
                "epoch", F.lit(int(epoch_id))
            ).write.mode("overwrite").parquet(f"{rejects_path}/epoch={int(epoch_id)}")

        # internal pair: the higher id (doc_b) loses; corpus pair: the
        # batch doc (doc_a) loses
        drop = pairs.select(
            F.when(internal, F.col("doc_b.doc_id"))
            .otherwise(F.col("doc_a.doc_id"))
            .alias("doc_id")
        )
        survivors = shingled.join(drop, "doc_id", "left_anti")
        # epoch-directory overwrite = idempotent under foreachBatch replay
        survivors.write.mode("overwrite").parquet(f"{corpus_path}/epoch={int(epoch_id)}")
    finally:
        for df in pinned:
            df.unpersist(blocking=True)


def streaming_corpus_ingest(
    docs_stream: DataFrame,
    corpus_path: str,
    checkpoint: str,
    rejects_path: str | None = None,
    min_jaccard: float = 0.5,
    shingle_n: int = 3,
):
    """Wire the gated ingest into a streaming writer. Returns the
    DataStreamWriter (caller .start()s it)."""

    def _ingest(batch_df: DataFrame, epoch_id: int) -> None:
        ingest_batch(
            batch_df,
            epoch_id,
            corpus_path,
            rejects_path=rejects_path,
            min_jaccard=min_jaccard,
            shingle_n=shingle_n,
        )

    return (
        docs_stream.writeStream.outputMode("append")
        .foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint)
    )


def refresh_attribution_batch(
    batch_df: DataFrame,
    epoch_id: int,
    standing: DataFrame,
    bench: DataFrame,
    attribution_path: str,
    **refresh_kwargs,
) -> None:
    """foreachBatch maintenance of the corpus-refresh ATTRIBUTION
    table (VERDICT r14 item 8): run one ``corpus_refresh``
    (plans/incremental_refresh.py) over the micro-batch against the
    standing corpus, then merge the per-doc attribution rows —
    (doc_id, disposition, cluster_id, split, n_chunks, epoch) — into
    the accumulated table under the sketch/bloom crash-recovery
    protocol (_merge_swap_table: entry recovery of an interrupted
    swap, temp-write, old-aside → tmp-in → delete-old-last).

    Idempotence under at-least-once delivery: the merge REPLACES the
    stored rows of this epoch with the re-computed ones. corpus_refresh
    is deterministic given (standing, batch, bench) — every decision is
    integer/md5/exact-double arithmetic — so a re-delivered epoch
    rewrites value-identical rows and the table is unchanged; other
    epochs are never touched. This is the row-data sibling of the
    sketch table's register-max idempotence (there the ALGEBRA dedups;
    here determinism + epoch-replace does). Pinned by
    tests/test_incremental_refresh.py (replay no-op, interrupted-swap
    recovery, equality with per-batch direct recompute)."""
    from analytics_etl_spark.plans.incremental_refresh import corpus_refresh

    result, _ = corpus_refresh(standing, batch_df, bench, **refresh_kwargs)
    fresh = result.withColumn("epoch", F.lit(int(epoch_id)))

    def replace_epoch(stored: DataFrame) -> DataFrame:
        return stored.filter(F.col("epoch") != int(epoch_id)).unionByName(fresh)

    _merge_swap_table(batch_df.sparkSession, attribution_path, fresh, replace_epoch)


def streaming_corpus_refresh(
    docs_stream: DataFrame,
    standing: DataFrame,
    bench: DataFrame,
    attribution_path: str,
    checkpoint: str,
    **refresh_kwargs,
):
    """Wire the daily-ingest attribution pipeline into a streaming
    writer: each micro-batch of arriving docs is one corpus_refresh
    against the (fixed) standing corpus, and its attribution record
    lands in the maintained table. Returns the DataStreamWriter
    (caller .start()s it)."""

    def _refresh(batch_df: DataFrame, epoch_id: int) -> None:
        refresh_attribution_batch(
            batch_df,
            epoch_id,
            standing,
            bench,
            attribution_path,
            **refresh_kwargs,
        )

    return (
        docs_stream.writeStream.outputMode("append")
        .foreachBatch(_refresh)
        .option("checkpointLocation", checkpoint)
    )


def _recover_interrupted_swap(path: str) -> None:
    """Entry recovery for the temp-write+swap tables (ADVICE r6,
    medium): a crash between old-aside and tmp-in leaves NO live
    table — only the ``.old`` copy. Restore it as the live table
    before any read, and discard the interrupted run's ``.tmp`` (its
    batch will be re-delivered; both maintained tables merge
    idempotently under replay). Without this, the next merge would
    read nothing (merged = batch-only) and then rmtree the ``.old`` —
    destroying the only surviving copy of accumulated state."""
    import os
    import shutil

    tmp = path.rstrip("/") + ".tmp"
    old = path.rstrip("/") + ".old"
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)
        if os.path.exists(tmp):
            shutil.rmtree(tmp)


def _crash_safe_swap_in(path: str) -> None:
    """Promote ``path + '.tmp'`` (already written) to the live table:
    old-aside → tmp-in → delete old LAST, so a crash at any point
    leaves either the old or the new table on disk (paired with
    ``_recover_interrupted_swap`` at the next merge's entry). Local
    filesystem only — on an object store, swap via a versioned
    directory + pointer file instead (rename is not atomic there)."""
    import os
    import shutil

    tmp = path.rstrip("/") + ".tmp"
    old = path.rstrip("/") + ".old"
    if os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(path):
        os.rename(path, old)
    os.replace(tmp, path)
    if os.path.exists(old):
        shutil.rmtree(old)


def merge_sketch_batch(
    batch_df: DataFrame,
    epoch_id: int,
    sketch_path: str,
    group_cols: list[str] | None = None,
    value_col: str = "user_id",
) -> None:
    """foreachBatch maintenance of the daily HLL sketch table
    (operators/sketches.py): sketch the micro-batch, UNION with the
    stored per-group sketches, swap the table.

    Two sketch properties carry the correctness story:

    * union is LOSSLESS at equal lg_k — after any number of
      micro-batches the stored sketches are bit-identical to a batch
      recompute over all rows seen (pinned by
      tests/test_streaming_sketches.py);
    * union is IDEMPOTENT — re-merging a replayed batch is a
      register-wise max with itself, a no-op. At-least-once delivery
      therefore yields EXACTLY correct sketches with no dedup
      bookkeeping, epoch ledger, or transaction log at all. (Contrast
      ingest_batch above, which needs epoch-directory overwrite for
      the same guarantee on row data.)

    The stored table is group-cardinality-sized (KBs/row); the
    read-union-swap touches sketches only, never raw history. The
    temp-write+swap mirrors sinks.writer.merge_upsert (plain parquet
    lazily re-reading its own path cannot self-overwrite safely).

    Swap order (ADVICE r5, recovery hardened per ADVICE r6): rename the
    live table ASIDE first, rename the freshly-written tmp IN, and
    delete the old copy LAST. A crash mid-swap can still leave a moment
    with only the ``.old`` copy on disk, so every merge FIRST restores
    ``.old`` as the live table if the live path is missing (and
    discards the interrupted ``.tmp``) before reading — the accumulated
    sketches are never read-missed and never rmtree'd while they are
    the sole surviving copy (they are not reconstructible without
    re-scanning raw history). The
    os.rename swap makes this helper local-filesystem-only — on an
    object store, swap via a versioned directory + pointer file
    instead (rename is not atomic there anyway).
    """
    from analytics_etl_spark.operators.sketches import group_sketches

    gc = group_cols or ["event_type", "day"]
    fresh = group_sketches(batch_df, gc, value_col)

    def union_sketches(stored: DataFrame) -> DataFrame:
        return (
            stored.unionByName(fresh)
            .groupBy(*gc)
            # strict precision match — see operators/sketches.union_rollup
            .agg(F.hll_union_agg(F.col("sketch"), F.lit(False)).alias("sketch"))
        )

    _merge_swap_table(batch_df.sparkSession, sketch_path, fresh, union_sketches)


def _merge_swap_table(spark, path: str, fresh: DataFrame, merge_fn, finalize_tmp=None) -> None:
    """The shared read-stored → merge → temp-write → swap skeleton for
    incrementally maintained side tables (HLL sketches, corpus bloom).
    One implementation so a future change to the recovery protocol or
    the missing-table error codes cannot silently diverge between the
    maintained tables: entry recovery of an interrupted swap, read the
    stored table (a missing/empty path means first batch — the merged
    table IS the fresh one), ``merge_fn(stored)`` → merged, write to
    ``path + '.tmp'``, crash-safe swap in.

    ``finalize_tmp(tmp_path)``, if given, runs after the merged table
    is written but BEFORE the swap — sidecar files written into the
    tmp directory (the bloom param sidecar) therefore move in
    atomically with the data they describe; a crash before the swap
    discards data + sidecar together, never one without the other."""
    _recover_interrupted_swap(path)
    stored = read_parquet_if_present(spark, path)
    merged = fresh if stored is None else merge_fn(stored)
    tmp = path.rstrip("/") + ".tmp"
    merged.write.mode("overwrite").parquet(tmp)
    if finalize_tmp is not None:
        finalize_tmp(tmp)
    _crash_safe_swap_in(path)


def merge_bloom_batch(
    batch_df: DataFrame,
    epoch_id: int,
    bloom_path: str,
    key_col: str,
    num_bits: int,
    num_hashes: int = 4,
) -> None:
    """foreachBatch maintenance of the corpus membership bloom
    (operators/bloom.py): build the micro-batch's bloom, OR it into
    the stored sparse (word_idx, bits) table, swap — the always-current
    ingest-prescreen artifact as a side effect of ingest, the exact
    analogue of ``merge_sketch_batch`` for the HLL table.

    The same two sketch properties carry the correctness story:
    bit_or union is LOSSLESS (incremental merges equal the one-shot
    corpus build bit for bit) and IDEMPOTENT (re-OR-ing a replayed
    batch changes no bit), so at-least-once delivery needs no epoch
    ledger. CRITICAL ordering contract (see
    ``bloom_prescreened_new_keys``): merge a batch's keys in BEFORE
    the next batch is prescreened — a bloom missing corpus keys
    breaks the no-false-negative promise; running this in the same
    foreachBatch as the corpus append provides exactly that.

    Same temp-write + crash-safe swap + entry recovery as the sketch
    table (the bloom IS reconstructible from raw corpus keys, but a
    rebuild is a corpus-priced scan — the recovery keeps it
    batch-priced).

    Param safety (ADVICE r8): the sparse (word_idx, bits) table is
    parameter-blind, and OR-merging blooms built with different
    (num_bits, num_hashes) silently yields FALSE NEGATIVES — the one
    error this module forbids. So: ``check_bloom_meta`` fails loud at
    entry if the stored table declares different params (or none —
    an unstamped table's params are unknowable), and the merged table
    is re-stamped with its ``_bloom_meta.json`` sidecar INSIDE the
    crash-safe swap (written into the tmp directory, so the sidecar
    moves in atomically with the bits it describes)."""
    import os

    from analytics_etl_spark.operators.bloom import (
        BLOOM_META_FILE,
        bloom_build,
        bloom_merge,
        bloom_meta_json,
        check_bloom_meta,
    )

    check_bloom_meta(bloom_path, num_bits, num_hashes)
    fresh = bloom_build(batch_df, key_col, num_bits, num_hashes)

    def _stamp(tmp_path: str) -> None:
        with open(os.path.join(tmp_path, BLOOM_META_FILE), "w") as f:
            f.write(bloom_meta_json(num_bits, num_hashes))

    _merge_swap_table(
        batch_df.sparkSession,
        bloom_path,
        fresh,
        lambda stored: bloom_merge(stored, fresh),
        finalize_tmp=_stamp,
    )


def read_corpus_asof(spark, corpus_path: str, epoch: int) -> DataFrame:
    """Time-travel-lite: the corpus as it stood after micro-batch
    `epoch` committed. The epoch-directory layout written above IS a
    coarse commit log — `epoch <= n` is a partition predicate, so the
    as-of read lists/scans only the wanted directories (no log replay,
    no merge). Useful for reproducing exactly the corpus a training
    run saw ("train run R used corpus as of epoch 17"), and for
    bisecting a regression to the batch that introduced it.
    """
    return spark.read.parquet(corpus_path).filter(F.col("epoch") <= int(epoch))


def streaming_sketch_maintenance(
    events_stream: DataFrame,
    sketch_path: str,
    checkpoint: str,
    group_cols: list[str] | None = None,
    value_col: str = "user_id",
):
    """Wire merge_sketch_batch into a streaming writer (caller
    .start()s it) — the always-current distinct-count table as a
    side effect of ingest."""

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        merge_sketch_batch(
            batch_df, epoch_id, sketch_path, group_cols=group_cols, value_col=value_col
        )

    return (
        events_stream.writeStream.outputMode("append")
        .foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
    )


def streaming_bloom_maintenance(
    docs_stream: DataFrame,
    bloom_path: str,
    checkpoint: str,
    key_col: str,
    num_bits: int,
    num_hashes: int = 4,
):
    """Wire merge_bloom_batch into a streaming writer (caller
    .start()s it) — the always-current corpus membership bloom as a
    side effect of ingest, feeding bloom_prescreened_new_keys."""

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        merge_bloom_batch(
            batch_df, epoch_id, bloom_path, key_col, num_bits, num_hashes
        )

    return (
        docs_stream.writeStream.outputMode("append")
        .foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
    )


def merge_cms_batch(
    batch_df: DataFrame,
    epoch_id: int,
    cms_path: str,
    key_col: str,
    depth: int | None = None,
    width: int | None = None,
) -> None:
    """foreachBatch maintenance of a count-min frequency sketch
    (operators/cms.py) — the frequency sibling of the HLL and bloom
    maintained tables. Cell-wise SUM merge is LOSSLESS (incremental
    merges equal the one-shot sketch exactly — int64 addition) but,
    unlike bloom's OR, NOT idempotent: a replayed batch double-counts,
    so this runs under exactly-once foreachBatch semantics (the
    streaming checkpoint is the epoch ledger; same stance as
    merge_sketch_batch, whose HLL union happens to tolerate replay —
    the CMS contract is stated rather than accidental). Param safety
    as bloom: ``check_cms_meta`` fails loud on a mismatched or
    unstamped stored table; the `_cms_meta.json` sidecar is re-stamped
    inside the crash-safe swap."""
    import os

    from analytics_etl_spark.operators.cms import (
        CMS_DEPTH,
        CMS_META_FILE,
        CMS_WIDTH,
        check_cms_meta,
        cms_build,
        cms_merge,
        cms_meta_json,
    )

    d = CMS_DEPTH if depth is None else depth
    w = CMS_WIDTH if width is None else width
    check_cms_meta(cms_path, d, w)
    fresh = cms_build(batch_df, key_col, d, w)

    def _stamp(tmp_path: str) -> None:
        with open(os.path.join(tmp_path, CMS_META_FILE), "w") as f:
            f.write(cms_meta_json(d, w))

    _merge_swap_table(
        batch_df.sparkSession,
        cms_path,
        fresh,
        lambda stored: cms_merge(stored, fresh),
        finalize_tmp=_stamp,
    )


def streaming_cms_maintenance(
    events_stream: DataFrame,
    cms_path: str,
    checkpoint: str,
    key_col: str,
    depth: int | None = None,
    width: int | None = None,
):
    """Wire merge_cms_batch into a streaming writer (caller .start()s
    it) — the always-current frequency sketch as a side effect of
    ingest."""

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        merge_cms_batch(batch_df, epoch_id, cms_path, key_col, depth, width)

    return (
        events_stream.writeStream.outputMode("append")
        .foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
    )


def ingest_vector_batch(
    batch_df: DataFrame,
    epoch_id: int,
    index_path: str,
    centroids: list[list[float]],
    rejects_path: str | None = None,
    threshold: float = 0.95,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """One micro-batch of the EMBEDDING-side gated ingest — the vector
    twin of ``ingest_batch``: admit only vectors that are novel vs the
    already-admitted index AND within the batch, and grow the
    ``write_ivf_index``-shaped layout by exactly the survivors.

    Per micro-batch (semantic_dedup_incremental does 2+3 in one plan):
    1. the quantizer is INDEX-TIME state (``centroids`` — fixed for
       the life of the index; retraining per batch would silently
       shift every stored row's cell and corrupt cell-local search);
    2. drop batch-internal near-dups (smaller id survives);
    3. drop vectors with a same-cell index witness at
       cosine ≥ threshold — the index side reads its persisted
       ``cell`` partition column, zero Python kernels corpus-side;
    4. write survivors under ``epoch=<id>/cell=<c>/`` — epoch-dir
       overwrite makes a failure replay idempotent, and the corpus
       read EXCLUDES the replaying epoch (the replay must judge
       against exactly the state the first attempt saw, or every doc
       would self-dedup to zero — the ingest_batch lesson);
    5. optionally record (vec_id, cell, dup_of) rejects for audit —
       every dropped vector is attributable (quarantine discipline).

    Module-level so failure replay is directly testable: same
    (batch, epoch) in, same index state out.
    """
    from analytics_etl_spark.operators.ivf import (
        semantic_dedup,
        semantic_dedup_incremental,
    )

    # nothing on disk yet (first batch) is the only read failure that
    # means "no index gate"; a corrupt index raises
    corpus = read_parquet_if_present(batch_df.sparkSession, index_path)
    if corpus is not None:
        corpus = corpus.filter(F.col("epoch") != int(epoch_id))
    have_corpus = corpus is not None and corpus.limit(1).count() > 0

    # the batch-sized frames the operators pin for their own readers
    pinned: list[DataFrame] = []
    if have_corpus:
        judged = semantic_dedup_incremental(
            corpus,
            batch_df,
            threshold=threshold,
            dim=dim,
            id_col=id_col,
            vec_col=vec_col,
            centroids=centroids,
            corpus_cell_col="cell",
            cache_handles=pinned,
        )
    else:
        # empty index: batch-internal witness rule alone — exactly
        # what the incremental judgment degenerates to with no corpus
        judged = semantic_dedup(
            batch_df,
            threshold=threshold,
            dim=dim,
            id_col=id_col,
            vec_col=vec_col,
            centroids=centroids,
            cache_handles=pinned,
        )
    # id-sized decision frame, consumed by rejects + the keep join:
    # pinned and filled before either reads it (two consumers inside
    # one job would race an uncommitted cache — the
    # corpus_build_ppl_gated lesson). Every pin is released before
    # returning, so a long-running stream accumulates no cached blocks
    judged = judged.persist()
    pinned.append(judged)
    try:
        judged.count()

        if rejects_path is not None:
            judged.filter(~F.col("kept")).select(
                id_col, "cell", "dup_of"
            ).withColumn("epoch", F.lit(int(epoch_id))).write.mode(
                "overwrite"
            ).parquet(f"{rejects_path}/epoch={int(epoch_id)}")

        # judged already carries each batch vector's cell — join it back
        # instead of re-running the assign kernel on the survivors
        kept_cells = judged.filter(F.col("kept")).select(id_col, "cell")
        survivors = batch_df.join(kept_cells, id_col).select(
            F.col(id_col), F.col(vec_col), F.col("cell")
        )
        # epoch-directory overwrite = idempotent under foreachBatch replay;
        # cell stays a partition column inside the epoch dir, so the
        # combined layout reads back with BOTH partition columns and
        # cell-equi-joins keep pruning (epoch=*/cell=*)
        survivors.repartition("cell").write.mode("overwrite").partitionBy(
            "cell"
        ).parquet(f"{index_path}/epoch={int(epoch_id)}")
    finally:
        for df in pinned:
            df.unpersist(blocking=True)


def streaming_vector_ingest(
    vec_stream: DataFrame,
    index_path: str,
    checkpoint: str,
    centroids: list[list[float]],
    rejects_path: str | None = None,
    threshold: float = 0.95,
    dim: int | None = None,
):
    """Wire the gated vector ingest into a streaming writer (caller
    .start()s it) — the always-current deduplicated embedding index
    as a side effect of ingest, the vector twin of
    ``streaming_corpus_ingest``."""

    def _ingest(batch_df: DataFrame, epoch_id: int) -> None:
        ingest_vector_batch(
            batch_df,
            epoch_id,
            index_path,
            centroids,
            rejects_path=rejects_path,
            threshold=threshold,
            dim=dim,
        )

    return (
        vec_stream.writeStream.outputMode("append")
        .foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint)
    )


def merge_priority_sample_batch(
    batch_df: DataFrame,
    epoch_id: int,
    sample_path: str,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "ps",
) -> None:
    """foreachBatch maintenance of a RUNNING weighted sample
    (operators/sampling.py priority sampling) — the streaming sibling
    of the HLL/bloom/CMS maintained tables: after any number of
    micro-batches the stored table IS the batch top-(k+1) priority
    sample of everything ever seen, exactly.

    Why this merges losslessly: a row's priority is a pure function
    of (salt, id, weight) — recomputed bit-for-bit, never random
    state — so "top-(k+1) of (stored ∪ batch top-(k+1))" equals
    "top-(k+1) of the full history" (a discarded row can never
    re-enter: anything outside a batch's top-(k+1) is dominated by
    k+1 rows that ARE retained). And it is replay-IDEMPOTENT without
    an epoch ledger: a re-delivered row is id-identical with an
    identical priority, and the merge dedupes on id before ranking —
    so at-least-once delivery needs no exactly-once machinery (the
    CMS table, by contrast, genuinely needs the checkpoint ledger).

    The stored table keeps k+1 rows so the threshold τ (and the
    ŵ = max(w, τ) estimators) stay computable at read time
    (``read_priority_sample``)."""
    from analytics_etl_spark.operators.sampling import priority_expr

    w = F.col(weight_col)

    def _best_per_id(df: DataFrame) -> DataFrame:
        """Deterministic survivor per sample_id: the (pri, weight)-max
        row. dropDuplicates kept an ARBITRARY row, so the same id
        arriving with two different weights (intra-batch, or an
        update across batches) made the stored sample and its w_est
        nondeterministic (ADVICE r11). With max_by over
        struct(pri, weight) the survivor is a pure function of the
        input set — replay-idempotence holds for updated rows too:
        the higher-priority version wins no matter the arrival or
        partition order."""
        return (
            df.groupBy("sample_id")
            .agg(
                F.max_by(
                    F.struct("weight", "pri"), F.struct("pri", "weight")
                ).alias("s")
            )
            .select(
                "sample_id",
                F.col("s.weight").alias("weight"),
                F.col("s.pri").alias("pri"),
            )
        )

    # Dedup on id BEFORE taking the batch top-(k+1): a re-delivered or
    # intra-batch duplicate id would otherwise occupy two of the k+1
    # slots and evict a distinct row the full-history top-(k+1) keeps
    # (ADVICE r10). Weight stays its native type cast to double — a
    # bigint cast truncated fractional weights and broke the pinned
    # equality with batch priority_sample on double weight columns.
    fresh = (
        _best_per_id(
            batch_df.filter(w.isNotNull() & (w > 0)).select(
                F.col(id_col).alias("sample_id"),
                w.cast("double").alias("weight"),
                priority_expr(weight_col, id_col, salt).alias("pri"),
            )
        )
        .orderBy(F.desc("pri"), "sample_id")
        .limit(k + 1)
    )

    def merge(stored: DataFrame) -> DataFrame:
        return (
            _best_per_id(stored.unionByName(fresh))
            .orderBy(F.desc("pri"), "sample_id")
            .limit(k + 1)
        )

    _merge_swap_table(batch_df.sparkSession, sample_path, fresh, merge)


def read_priority_sample(spark, sample_path: str) -> DataFrame:
    """The maintained sample with its estimators: drop the τ row,
    ŵ = max(w, τ) — identical to what operators/sampling.py
    priority_sample returns over the full history (pytest-pinned)."""
    stored = spark.read.parquet(sample_path)
    tau = stored.agg(F.min("pri").alias("tau"))
    return (
        stored.crossJoin(F.broadcast(tau))
        .filter(F.col("pri") > F.col("tau"))
        .select(
            "sample_id",
            "weight",
            F.greatest(F.col("weight").cast("double"), F.col("tau")).alias(
                "w_est"
            ),
        )
    )


def merge_paragraph_hashes_batch(
    batch_df: DataFrame,
    epoch_id: int,
    table_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    paragraphs=None,
    delimiter: str = "\n",
) -> None:
    """foreachBatch maintenance of the CORPUS PARAGRAPH-HASH table
    behind operators/dedup.paragraph_dedup — the streaming sibling of
    the span/bloom/minhash corpus tables, so per-paragraph boilerplate
    dedup (CCNet §4.1) can run against corpus history in O(batch)
    instead of re-exploding 100 TB nightly.

    Stored schema: (par_hash, first_doc, first_pos, max_doc) — one row
    per DISTINCT canonical paragraph ever seen. The trick that makes
    the merge both LOSSLESS and replay-IDEMPOTENT without an epoch
    ledger: the dedup decision needs only (a) "does this hash appear
    in >= 2 distinct docs" and (b) "which occurrence is corpus-first".
    (b) is min(struct(doc, pos)); (a) is equivalent to
    first_doc != max_doc over DISTINCT docs — and min/max are
    idempotent merges (re-delivering a batch recomputes identical
    extrema), where a stored n_docs COUNT would double on replay (the
    CMS table's problem, which genuinely needs its checkpoint ledger).
    State is |distinct paragraphs|-sized, never corpus-sized."""
    from analytics_etl_spark.operators.dedup import explode_paragraph_hashes

    fresh = (
        explode_paragraph_hashes(batch_df, paragraphs, text_col, id_col, delimiter)
        .groupBy("h")
        .agg(
            F.min(F.struct("doc_id", "pos")).alias("first"),
            F.max("doc_id").alias("max_doc"),
        )
        .select(
            F.col("h").alias("par_hash"),
            F.col("first.doc_id").alias("first_doc"),
            F.col("first.pos").alias("first_pos"),
            "max_doc",
        )
    )

    def merge(stored: DataFrame) -> DataFrame:
        return (
            stored.unionByName(fresh)
            .groupBy("par_hash")
            .agg(
                F.min(F.struct("first_doc", "first_pos")).alias("first"),
                F.max("max_doc").alias("max_doc"),
            )
            .select(
                "par_hash",
                F.col("first.first_doc").alias("first_doc"),
                F.col("first.first_pos").alias("first_pos"),
                "max_doc",
            )
        )

    _merge_swap_table(batch_df.sparkSession, table_path, fresh, merge)


def paragraph_dedup_vs_corpus(
    spark,
    table_path: str,
    batch_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    paragraphs=None,
    delimiter: str = "\n",
    joiner: str | None = None,
) -> DataFrame:
    """Apply the CCNet paragraph-dedup decision to a batch against the
    MAINTAINED corpus table (which must already include this batch —
    ingest-then-decide, the same contract as read_corpus_asof): a
    batch paragraph is dropped iff its hash is corpus boilerplate
    (first_doc != max_doc: seen in >= 2 distinct docs across ALL
    history) and this occurrence is not the corpus-first. Produces
    exactly what operators/dedup.paragraph_dedup(full_history) would
    for the batch's docs (pytest-pinned), touching only O(batch)
    paragraphs plus a hash-keyed join into the |distinct paragraphs|
    table."""
    from analytics_etl_spark.operators.dedup import (
        _reassemble_paragraphs,
        explode_paragraph_hashes,
    )

    sep = delimiter if joiner is None else joiner
    exploded = explode_paragraph_hashes(
        batch_docs, paragraphs, text_col, id_col, delimiter
    )
    stored = spark.read.parquet(table_path)
    kept = exploded.join(
        stored, exploded["h"] == stored["par_hash"], "left"
    ).filter(
        F.col("par_hash").isNull()  # unseen by the table: trivially unique
        | (F.col("first_doc") == F.col("max_doc"))  # single-doc hash
        | (
            (F.col("doc_id") == F.col("first_doc"))
            & (F.col("pos") == F.col("first_pos"))
        )
    )
    return _reassemble_paragraphs(exploded, kept.select("doc_id", "pos", "par"), sep)


def streaming_paragraph_maintenance(
    docs_stream: DataFrame,
    table_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    delimiter: str = "\n",
):
    """Wire merge_paragraph_hashes_batch into a streaming writer
    (caller .start()s it) — same shape as the sketch/bloom/CMS
    maintenance wrappers, so the paragraph-boilerplate corpus table
    stays current as documents arrive."""

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        merge_paragraph_hashes_batch(
            batch_df,
            epoch_id,
            table_path,
            text_col=text_col,
            id_col=id_col,
            delimiter=delimiter,
        )

    return (
        docs_stream.writeStream.outputMode("append")
        .foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
    )


def merge_histogram_batch(
    batch_df: DataFrame,
    epoch_id: int,
    hist_path: str,
    value_col: str,
    width: int | float,
    group_cols: tuple[str, ...] = (),
) -> None:
    """foreachBatch maintenance of the fixed-width value histogram
    (operators/histogram.py) — the quantile sibling of the CMS table,
    and the same contract stated rather than accidental: bin-keyed
    SUM merge is LOSSLESS (incremental == one-shot, int64 addition)
    but NOT idempotent, so this runs under exactly-once foreachBatch
    semantics with the streaming checkpoint as the epoch ledger.
    The stored table is value-range/width-sized — per group when
    ``group_cols`` is set (histogram_merge keys on every non-cnt
    column, so the grouped table merges with zero extra plumbing)."""
    from analytics_etl_spark.operators.histogram import (
        histogram_build,
        histogram_merge,
    )

    fresh = histogram_build(batch_df, value_col, width, group_cols=group_cols)
    _merge_swap_table(
        batch_df.sparkSession,
        hist_path,
        fresh,
        lambda stored: histogram_merge(stored, fresh),
    )


def merge_domain_stats_batch(
    batch_df: DataFrame,
    epoch_id: int,
    stats_path: str,
    domain_col: str = "domain",
    loss_col: str = "loss",
) -> None:
    """foreachBatch maintenance of the DoReMi domain-stats table
    (operators/doremi.py) — (domain, n_docs, sum_loss), K rows total.
    With this table maintained at ingest, the reweighting loop never
    rescans the corpus: ``doremi_reweight(spark.read.parquet(path))``
    reads K rows, and the whole mixture optimization becomes
    driver-side integer arithmetic on an always-current table.

    Merge contract (the CMS/histogram stance, stated not accidental):
    domain-keyed int64 SUM is LOSSLESS (incremental == one-shot
    recompute) but NOT idempotent, so this runs under exactly-once
    foreachBatch semantics with the streaming checkpoint as the epoch
    ledger."""
    import pyspark.sql.functions as F

    from analytics_etl_spark.operators.doremi import domain_loss_stats

    fresh = domain_loss_stats(batch_df, domain_col=domain_col, loss_col=loss_col)
    _merge_swap_table(
        batch_df.sparkSession,
        stats_path,
        fresh,
        lambda stored: stored.unionByName(fresh)
        .groupBy("domain")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("sum_loss").cast("bigint").alias("sum_loss"),
        ),
    )


def streaming_domain_stats_maintenance(
    docs_stream: DataFrame,
    stats_path: str,
    checkpoint: str,
    domain_col: str = "domain",
    loss_col: str = "loss",
):
    """Wire merge_domain_stats_batch into a streaming writer (caller
    .start()s it) — an always-current K-row domain-stats table; the
    DoReMi loop reads it instead of rescanning the corpus."""

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        merge_domain_stats_batch(
            batch_df, epoch_id, stats_path, domain_col, loss_col
        )

    return (
        docs_stream.writeStream.outputMode("append")
        .foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
    )


def streaming_histogram_maintenance(
    events_stream: DataFrame,
    hist_path: str,
    checkpoint: str,
    value_col: str,
    width: int | float,
    group_cols: tuple[str, ...] = (),
):
    """Wire merge_histogram_batch into a streaming writer (caller
    .start()s it) — always-current value-distribution bins, any
    quantile readable from the bin table at any time."""

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        merge_histogram_batch(
            batch_df, epoch_id, hist_path, value_col, width, group_cols
        )

    return (
        events_stream.writeStream.outputMode("append")
        .foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
    )

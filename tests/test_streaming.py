"""Structured Streaming: watermark windowed aggs + idempotent sink."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from analytics_etl_spark.streaming.events import (
    read_events_stream,
    windowed_event_counts,
    write_idempotent_partitions,
)

SF = "/root/testdata/sf0.001"


def test_windowed_counts_match_batch(spark, tmp_path):
    """Drive the events parquet through readStream; the streamed
    windowed agg must equal the same agg run as a batch query."""
    stream = read_events_stream(spark, f"{SF}/events.parquet")
    agg = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_counts")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }

    from analytics_etl_spark.tables import load_table

    ev = load_table(spark, SF, "events")
    batch = {
        (r["ws"], r["event_type"]): (r["n"], r["total_value"])
        for r in ev.groupBy(
            F.window(F.col("ts").cast("timestamp"), "1 hour").alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("ws"), "event_type", "n", "total_value")
        .collect()
    }
    assert streamed == batch
    assert len(streamed) > 0


def test_idempotent_partition_sink_replay(spark, tmp_path):
    """Replaying the same micro-batch content must not duplicate rows
    (the reference's delete-then-reload semantics, S10)."""
    out, ckpt1, ckpt2 = (
        str(tmp_path / "out"),
        str(tmp_path / "c1"),
        str(tmp_path / "c2"),
    )

    def run_once(ckpt):
        stream = read_events_stream(spark, f"{SF}/events.parquet")
        agg = windowed_event_counts(stream)
        q = write_idempotent_partitions(agg, out, ckpt).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once(ckpt1)
    first = spark.read.parquet(out).count()
    run_once(ckpt2)  # fresh checkpoint → the whole input replays
    second = spark.read.parquet(out).count()
    assert first == second > 0


def test_idempotent_sink_keeps_windows_across_batches(spark, tmp_path):
    """Two micro-batches touching DIFFERENT windows of the same event
    type: the second batch's overwrite must not delete the first
    batch's finalized windows (the partition grain must match the
    update grain — (event_type, window), not event_type alone)."""
    import pyspark.sql.types as T

    # a directory named *.parquet: read_events_stream streams it as-is
    landing = tmp_path / "events.parquet"
    landing.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck_multi")

    def mk_events(rows):
        # (event_id, hour, user) -> EVENTS_DDL rows, ts in nanos
        base = 1_600_000_000  # epoch seconds, window-aligned enough
        return spark.createDataFrame(
            [
                (eid, (base + h * 3600) * 10**9, u, "click", 1.0, "{}")
                for (eid, h, u) in rows
            ],
            schema=T.StructType(
                [
                    T.StructField("event_id", T.LongType()),
                    T.StructField("ts", T.LongType()),
                    T.StructField("user_id", T.LongType()),
                    T.StructField("event_type", T.StringType()),
                    T.StructField("value", T.DoubleType()),
                    T.StructField("props", T.StringType()),
                ]
            ),
        )

    def stage_file(df, name):
        # the file stream source lists plain files — write the frame,
        # then drop its single part-file into the landing dir
        import shutil

        d = tmp_path / f"stage_{name}"
        df.coalesce(1).write.parquet(str(d))
        part = next(p for p in d.iterdir() if p.name.endswith(".parquet"))
        shutil.copy(part, landing / name)

    # batch 1: windows at hour 0 and hour 1
    stage_file(mk_events([(1, 0, 10), (2, 0, 11), (3, 1, 12)]), "f1.parquet")
    stream = read_events_stream(spark, str(landing))
    agg = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    q = write_idempotent_partitions(agg, out, ckpt).start()
    try:
        q.processAllAvailable()
        # batch 2: only a NEW window at hour 5 (advances the watermark,
        # finalizing hours 0-1 which this batch does not touch)
        stage_file(mk_events([(4, 5, 13)]), "f2.parquet")
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r["window_start"], r["n"])
        for r in spark.read.parquet(out).filter(F.col("event_type") == "click").collect()
    }
    starts = sorted(ws for ws, _ in got)
    assert len(got) == 3, f"earlier windows were lost: {got}"
    assert {n for _, n in got} == {2, 1}  # hour0: 2 events, hour1: 1, hour5: 1
    assert starts[0] < starts[1] < starts[2]


def test_stream_dedup_suppresses_cross_batch_redelivery(spark, tmp_path):
    """At-least-once transport → exactly-once stream: an event
    redelivered in a later micro-batch (same event_id, within the
    watermark horizon) must be dropped; genuinely new events pass."""
    import pyspark.sql.types as T

    from analytics_etl_spark.streaming.events import deduplicate_stream

    landing = tmp_path / "events.parquet"
    landing.mkdir()

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    base = 1_600_000_000

    def stage(rows, name):
        import shutil

        df = spark.createDataFrame(
            [(eid, (base + mins * 60) * 10**9, u, "click", 1.0, "{}") for eid, mins, u in rows],
            schema=schema,
        )
        d = tmp_path / f"stage_{name}"
        df.coalesce(1).write.parquet(str(d))
        part = next(p for p in d.iterdir() if p.name.endswith(".parquet"))
        shutil.copy(part, landing / name)

    stage([(1, 0, 10), (2, 1, 11)], "f1.parquet")
    stream = read_events_stream(spark, str(landing))
    deduped = deduplicate_stream(stream, keys=("event_id",), watermark="2 hours")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_stream")
        .option("checkpointLocation", str(tmp_path / "ck_dedup"))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: event 1 redelivered (jittered ts, +5 min), event 3 new
        stage([(1, 5, 10), (3, 6, 12)], "f2.parquet")
        q.processAllAvailable()
    finally:
        q.stop()

    ids = sorted(
        r["event_id"] for r in spark.sql("SELECT event_id FROM dedup_stream").collect()
    )
    assert ids == [1, 2, 3], f"redelivery not suppressed (or new rows lost): {ids}"


def test_stream_stream_interval_join(spark, tmp_path):
    """Purchases joined to preceding clicks within 1h, stream-stream.
    Must equal the same interval join run in batch."""
    from analytics_etl_spark.streaming.events import stream_stream_click_purchase_join

    stream = read_events_stream(spark, f"{SF}/events.parquet")
    joined = stream_stream_click_purchase_join(stream, max_gap="1 hour")
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj")
        .option("checkpointLocation", str(tmp_path / "ckss"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = {
        (r["purchase_id"], r["click_id"])
        for r in spark.sql("SELECT * FROM ssj").collect()
    }

    from analytics_etl_spark.tables import load_table

    ev = load_table(spark, SF, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("event_id").alias("cid"), F.col("ts").alias("cts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("event_id").alias("pid"), F.col("ts").alias("pts")
    )
    batch = {
        (r["pid"], r["cid"])
        for r in p.join(
            c,
            (F.col("cu") == F.col("pu"))
            & (F.col("cts") <= F.col("pts"))
            & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 1 hour")),
        ).collect()
    }
    assert streamed == batch
    assert len(streamed) > 0


def test_stream_static_enrichment(spark, tmp_path):
    """Stream-static join: every streamed event picks up its dim row
    (left join keeps dim-less events), equal to the batch join."""
    from analytics_etl_spark.streaming.events import enrich_stream_with_dim

    dim = spark.createDataFrame(
        [("click", "interactive"), ("view", "passive"), ("purchase", "revenue")],
        "event_type string, category string",
    )
    stream = read_events_stream(spark, f"{SF}/events.parquet")
    q = (
        enrich_stream_with_dim(stream, dim, on="event_type", dim_cols=("category",))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("enriched")
        .option("checkpointLocation", str(tmp_path / "ck_enrich"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT event_type, category, COUNT(*) AS n FROM enriched GROUP BY 1, 2")
    rows = {(r["event_type"], r["category"]): r["n"] for r in got.collect()}

    from analytics_etl_spark.tables import load_table

    ev = load_table(spark, SF, "events")
    batch = {
        (r["event_type"], r["category"]): r["n"]
        for r in ev.join(dim, "event_type", "left")
        .groupBy("event_type", "category")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert rows == batch
    # dim-less event types survive with NULL category (left semantics)
    assert any(cat is None for _, cat in rows)


def _run_nodes(plan) -> list[str]:
    """Names of the physical operators ``plan`` runs. Adaptive and
    query-stage wrappers are opened; an InMemoryTableScan is a leaf —
    the cached plan its text repeats ran once, when the pin filled."""
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan":
        return _run_nodes(plan.executedPlan())
    if name.endswith("QueryStage"):
        return _run_nodes(plan.plan())
    kids = plan.children()
    return [name] + [n for i in range(kids.size()) for n in _run_nodes(kids.apply(i))]


def test_streaming_corpus_ingest_gates_near_dups(spark, tmp_path, monkeypatch):
    """The incremental-dedup story under Structured Streaming: batch 1
    seeds the corpus (internal near-dups dropped), batch 2 is gated
    against the PERSISTED corpus state (its shingle column, so no
    kernel runs on the corpus side — its band buckets are still
    recomputed per batch, O(corpus)), rejects are attributable, and a
    replayed micro-batch leaves the corpus byte-identical
    (epoch-directory overwrite = idempotent) whether or not it records
    rejects. ingest_batch finds the batch-internal and the vs-corpus
    near-dups in ONE LSH pass over one bucket frame; the expectation
    comes from the two batch operators run one after the other
    (minhash_lsh_dedup, then incremental_minhash_dedup), and every
    write's plan stays within the one pass's Exchange count — a tree
    that splits the gates again runs several times as many.

    Every frame ingest_batch writes reads the shingled batch from its
    pin: the executed plan runs no Python eval node, so the Arrow
    shingling kernel ran once per batch, upstream. And the stream
    accumulates no cached blocks: after the three ingest_batch calls
    no RDD they persisted is still registered."""
    import shutil

    import pyspark.sql.types as T
    from pyspark.sql.readwriter import DataFrameWriter

    from analytics_etl_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_lsh_dedup,
    )
    from analytics_etl_spark.streaming.ingest import ingest_batch, streaming_corpus_ingest

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    b1 = docs.filter(F.col("doc_id") < 450)
    b2 = docs.filter(F.col("doc_id") >= 450)

    landing = tmp_path / "landing"
    landing.mkdir()
    corpus_path = str(tmp_path / "corpus")
    rejects_path = str(tmp_path / "rejects")

    # executed plans of the frames ingest_batch writes (staging writes
    # of the landing files are not its)
    runs = []
    write = DataFrameWriter.parquet

    def capture(writer, path, *args, **kwargs):
        if path.startswith((corpus_path, rejects_path)):
            runs.append(_run_nodes(writer._df._jdf.queryExecution().executedPlan()))
        return write(writer, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", capture)
    jsc = spark.sparkContext._jsc

    def pinned_ids():
        return set(jsc.getPersistentRDDs().keys())

    before_stream = pinned_ids()

    def stage(df, name):
        d = tmp_path / f"stage_{name}"
        df.coalesce(1).write.parquet(str(d))
        part = next(p for p in d.iterdir() if p.name.endswith(".parquet"))
        shutil.copy(part, landing / name)

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    stage(b1, "f1.parquet")
    stream = spark.readStream.schema(schema).parquet(str(landing))
    q = streaming_corpus_ingest(
        stream,
        corpus_path,
        str(tmp_path / "ck"),
        rejects_path=rejects_path,
        min_jaccard=0.5,
    ).start()
    try:
        q.processAllAvailable()
        stage(b2, "f2.parquet")
        q.processAllAvailable()
    finally:
        q.stop()
    # the stream released every pin its two batches took (older RDDs
    # may be cleaned meanwhile, so compare ids, not counts)
    assert not pinned_ids() - before_stream

    corpus = spark.read.parquet(corpus_path)
    got_ids = {r["doc_id"] for r in corpus.select("doc_id").collect()}

    # expectation from the BATCH operators (the streaming path must
    # reproduce the batch semantics exactly)
    def internal_drop(df):
        pairs = minhash_lsh_dedup(df, min_jaccard=0.5)
        return {r["doc_b"] for r in pairs.select("doc_b").distinct().collect()}

    b1_ids = {r["doc_id"] for r in b1.select("doc_id").collect()} - internal_drop(b1)
    b2_clean = b2.join(
        spark.createDataFrame([(i,) for i in internal_drop(b2)] or [(-1,)], "doc_id long"),
        "doc_id",
        "left_anti",
    )
    corpus_b1 = b1.join(
        spark.createDataFrame([(i,) for i in b1_ids], "doc_id long"), "doc_id", "left_semi"
    )
    vs_corpus = incremental_minhash_dedup(corpus_b1, b2_clean, min_jaccard=0.5)
    b2_ids = {r["doc_id"] for r in b2_clean.select("doc_id").collect()} - {
        r["batch_doc"] for r in vs_corpus.select("batch_doc").distinct().collect()
    }
    assert got_ids == b1_ids | b2_ids

    # near-dups were actually present and are attributable in rejects
    rejects = spark.read.parquet(rejects_path)
    assert rejects.count() == vs_corpus.count() > 0
    assert {"batch_doc", "corpus_doc", "jaccard"} <= set(rejects.columns)
    # survivors carry the persisted shingle column for future batches
    assert "shingles" in corpus.columns

    # failure replay: re-running epoch 1 with the same batch leaves
    # the corpus identical (overwrite of the same epoch directory).
    # The replay records no rejects: with rejects the pair frame is
    # pinned for its second reader, and the corpus written without
    # that pin must hold the same rows
    def epoch_ids():
        return sorted(
            (r["epoch"], r["doc_id"])
            for r in spark.read.parquet(corpus_path).select("epoch", "doc_id").collect()
        )

    before = epoch_ids()
    before_replay = pinned_ids()
    ingest_batch(b2, 1, corpus_path, min_jaccard=0.5)
    assert not pinned_ids() - before_replay
    assert epoch_ids() == before

    # two corpus writes + the rejects of the batch that met a corpus,
    # then the replay's corpus write. The one-pass gate runs at most 6
    # Exchanges in a write (the replay's, which re-derives the pairs);
    # the two gates run one after the other ran 22-23 in a gated write
    # of 150 docs against a 400-2,200-doc corpus
    assert len(runs) == 4
    for nodes in runs:
        assert not [n for n in nodes if "EvalPython" in n], nodes
        assert "InMemoryTableScan" in nodes, nodes
        assert len([n for n in nodes if "Exchange" in n]) <= 6, nodes


def test_streaming_vector_ingest_gates_semantic_dups(spark, tmp_path):
    """The vector twin of the corpus-ingest test: batch 1 seeds the
    embedding index (batch-internal near-dups dropped, quantizer is
    FIXED index-time state), batch 2 is gated against the persisted
    cell-partitioned index, rejects are attributable, the streaming
    path reproduces the batch operators' judgment exactly, and a
    replayed micro-batch leaves the index byte-identical. Each
    micro-batch releases the decision frame it pins: no RDD persisted
    during the stream or the replay is still registered."""
    import shutil

    import pyspark.sql.types as T

    from analytics_etl_spark.operators.ivf import (
        kmeans_centroids,
        semantic_dedup,
        semantic_dedup_incremental,
    )
    from analytics_etl_spark.streaming.ingest import (
        ingest_vector_batch,
        streaming_vector_ingest,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    b1 = emb.filter(F.col("vec_id") < 400)
    b2 = emb.filter(F.col("vec_id") >= 400)
    # index-time quantizer: trained once on the seed corpus
    cents = kmeans_centroids(b1, k=4, iters=2)

    landing = tmp_path / "landing"
    landing.mkdir()
    index_path = str(tmp_path / "index")
    rejects_path = str(tmp_path / "rejects")

    def stage(df, name):
        d = tmp_path / f"stage_{name}"
        df.coalesce(1).write.parquet(str(d))
        part = next(p for p in d.iterdir() if p.name.endswith(".parquet"))
        shutil.copy(part, landing / name)

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    jsc = spark.sparkContext._jsc

    def pinned_ids():
        return set(jsc.getPersistentRDDs().keys())

    before_stream = pinned_ids()
    stage(b1, "f1.parquet")
    stream = spark.readStream.schema(schema).parquet(str(landing))
    q = streaming_vector_ingest(
        stream,
        index_path,
        str(tmp_path / "ck"),
        cents,
        rejects_path=rejects_path,
        threshold=0.3,
        dim=64,
    ).start()
    try:
        q.processAllAvailable()
        stage(b2, "f2.parquet")
        q.processAllAvailable()
    finally:
        q.stop()
    # older RDDs may be cleaned meanwhile, so compare ids, not counts
    assert not pinned_ids() - before_stream

    index = spark.read.parquet(index_path)
    got_ids = {r["vec_id"] for r in index.select("vec_id").collect()}

    # expectation from the BATCH operators with the SAME quantizer
    j1 = semantic_dedup(b1, threshold=0.3, dim=64, centroids=cents)
    b1_ids = {r["vec_id"] for r in j1.collect() if r["kept"]}
    corpus_b1 = b1.join(
        spark.createDataFrame([(i,) for i in b1_ids], "vec_id long"),
        "vec_id",
        "left_semi",
    )
    j2 = semantic_dedup_incremental(
        corpus_b1, b2, threshold=0.3, dim=64, centroids=cents
    ).collect()
    b2_ids = {r["vec_id"] for r in j2 if r["kept"]}
    assert got_ids == b1_ids | b2_ids

    # dups were actually present and are attributable in rejects
    rejects = spark.read.parquet(rejects_path)
    n_dropped_b2 = sum(1 for r in j2 if not r["kept"])
    assert rejects.filter(F.col("epoch") == 1).count() == n_dropped_b2 > 0
    assert {"vec_id", "cell", "dup_of"} <= set(rejects.columns)
    # the index reads back with BOTH partition columns (epoch, cell)
    assert {"epoch", "cell"} <= set(index.columns)

    # failure replay: re-running epoch 1 with the same batch leaves
    # the index identical (epoch-dir overwrite; corpus read excludes
    # the replaying epoch)
    before = sorted(
        (r["vec_id"], r["epoch"], r["cell"]) for r in index.collect()
    )
    before_replay = pinned_ids()
    ingest_vector_batch(
        b2, 1, index_path, cents, rejects_path=rejects_path,
        threshold=0.3, dim=64,
    )
    assert not pinned_ids() - before_replay
    after = sorted(
        (r["vec_id"], r["epoch"], r["cell"])
        for r in spark.read.parquet(index_path).collect()
    )
    assert after == before


def test_ingest_batch_keeps_batch_and_corpus_ids_apart(spark, tmp_path):
    """A batch doc may carry a doc_id the corpus already holds. The
    one-pass gate keys its rows by (side, epoch, doc_id), so such a doc
    is judged against the corpus doc, never paired with itself, and
    ingest_batch keeps what the batch operators keep. Batch 1: id 1
    repeats corpus doc 1's text (dropped, its reject recorded); id 2
    is new text under corpus doc 2's id (kept, so the corpus now holds
    doc_id 2 twice); id 5 copies id 2 inside the batch (the higher id
    loses). Batch 2: id 11 repeats the text of the second corpus doc 2
    (dropped against that row, not lost to the repeated id); id 12 is
    new."""
    from analytics_etl_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_lsh_dedup,
    )
    from analytics_etl_spark.streaming.ingest import ingest_batch

    def text(seed):
        return " ".join(f"w{seed}x{i}" for i in range(24))

    def shingles(t):
        w = t.split(" ")
        return [" ".join(w[i : i + 3]) for i in range(len(w) - 2)]

    corpus_path = str(tmp_path / "corpus")
    rejects_path = str(tmp_path / "rejects")

    def frame(ids):
        return spark.createDataFrame(
            [(i, text(s), shingles(text(s))) for i, s in ids],
            "doc_id long, text string, shingles array<string>",
        )

    def check(batch, epoch, want, want_rejects):
        """Ingest ``batch`` as ``epoch`` and compare what it wrote with
        the batch operators run one after the other on the shingle
        columns (no Python kernel runs in the reference)."""
        corpus = spark.read.parquet(corpus_path)
        ingest_batch(batch.drop("shingles"), epoch, corpus_path, rejects_path=rejects_path)
        internal = minhash_lsh_dedup(batch, min_jaccard=0.5, shingles_col="shingles")
        losers = [r["doc_b"] for r in internal.collect()]
        clean = batch.filter(~F.col("doc_id").isin(losers))
        vs_corpus = incremental_minhash_dedup(
            corpus, clean, min_jaccard=0.5, shingles_col="shingles"
        ).collect()
        ref = {r["doc_id"] for r in batch.collect()} - set(losers)
        ref -= {r["batch_doc"] for r in vs_corpus}
        got = spark.read.parquet(corpus_path).filter(F.col("epoch") == epoch)
        assert {r["doc_id"] for r in got.collect()} == ref == want
        rejects = spark.read.parquet(f"{rejects_path}/epoch={epoch}").collect()
        assert sorted((r["batch_doc"], r["corpus_doc"], r["jaccard"]) for r in rejects) == sorted(
            (r["batch_doc"], r["corpus_doc"], r["jaccard"]) for r in vs_corpus
        ) == want_rejects

    frame([(1, 1), (2, 2), (3, 3)]).write.parquet(f"{corpus_path}/epoch=0")
    check(frame([(1, 1), (2, 9), (5, 9), (7, 7)]), 1, {2, 7}, [(1, 1, 1.0)])
    check(frame([(11, 9), (12, 12)]), 2, {12}, [(11, 2, 1.0)])


def test_ingest_raises_on_unreadable_corpus(spark, tmp_path):
    """A corpus that exists but cannot be read is not an empty one:
    admitting the batch ungated would write silent duplicates, so both
    gated ingests raise instead, from the footer read of the corpus
    scan (the schema inference of ``spark.read.parquet``)."""
    from py4j.protocol import Py4JJavaError

    from analytics_etl_spark.streaming.ingest import ingest_batch, ingest_vector_batch

    for name in ("corpus", "index"):
        epoch_dir = tmp_path / name / "epoch=0"
        epoch_dir.mkdir(parents=True)
        (epoch_dir / "part-00000.parquet").write_bytes(b"not a parquet file")
    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with pytest.raises(Py4JJavaError, match="is not a Parquet file"):
        ingest_batch(docs, 1, str(tmp_path / "corpus"))
    vecs = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
    with pytest.raises(Py4JJavaError, match="is not a Parquet file"):
        ingest_vector_batch(vecs, 1, str(tmp_path / "index"), [[1.0, 0.0]], dim=2)
    assert not (tmp_path / "corpus" / "epoch=1").exists()
    assert not (tmp_path / "index" / "epoch=1").exists()

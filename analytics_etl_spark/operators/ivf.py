"""IVF (inverted-file) ANN: k-means coarse quantizer + probed lists.

The other classic ANN scale path beside LSH (FAISS's IVF family):
partition the corpus into k centroid cells at INDEX time; at query
time score only the n_probe cells nearest the query. Scan fraction
≈ n_probe/k with recall tracking how well cells capture the metric's
neighborhoods — on clustered embeddings this beats hyperplane LSH at
the same scan budget; on near-uniform vectors both need wide probes
(measured side-by-side in tests/test_ann_recall.py).

Spark shape:
- training: Lloyd iterations where the ASSIGN step is one Arrow-batch
  matmul per partition (same kernel family as hyperplane_signatures)
  and the UPDATE step is a posexplode + (cluster, dim) mean — codegen
  hash aggregation, one shuffle per iteration of k·dim rows. The k×dim
  centroid matrix is collected to the driver each iteration — bounded
  by the index size (k·dim floats), NOT the corpus, which is the
  legitimate driver-side exception (same class as the REST cursor
  walk and the components fixpoint test).
- query: assign cells in-plan, filter to the probed cells, exact
  cosine + top-k. With the cell id written as a partition column at
  ingest, the probe filter becomes partition pruning and the scan
  never touches the other cells' files.

Centroid init is deterministic (the k vectors with the smallest
md5-derived buckets), so the whole index is reproducible run-to-run;
it is still registered rows-only because float MEANS are not
bit-stable across engines (unlike the engine's decimal sums).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from analytics_etl_spark.operators.sampling import hash_bucket
from analytics_etl_spark.operators.similarity import as_double_array, cosine


def _unit_cols(vec_col: str, dim: int | None):
    """(pre-projection extras, unit-array expression) for the L2
    normalization step.

    dim=None: the original one-expression form — transform with the
    norm fold inside the lambda (interpreted per element, and the
    loop-invariant fold re-runs per element: O(dim²) interpreted work
    per row).

    dim given (r16 optimization round): the SAME values via a
    two-stage projection — the norm² fold lands in a ``__n2`` column
    evaluated ONCE per row, and the unit array divides by
    sqrt(``__n2``) per element. That turns O(dim²) interpreted work
    per row into O(dim): the one-expression form re-runs the whole
    norm fold once PER ELEMENT inside the transform lambda.
    x/sqrt(n2) per element is IEEE-identical to the one-expression
    form (same casts, same fold order inside n2, same divide), so
    unit vectors — and every downstream pair cosine — are
    bit-identical. The fold (not unrolled-chain) form is deliberate:
    normalization runs once per ROW, not per candidate pair, so the
    giant unrolled tree would buy little execution and cost real
    driver plan/codegen time on every build — the semantic family
    rebuilds plans per k-means/CC iteration (measured this round:
    the unrolled form made dedup_semantic_cc 2.8x SLOWER end to end).
    """
    v = as_double_array(vec_col)
    if dim is None:
        unit = F.transform(v, lambda x: x / F.sqrt(F.aggregate(
            F.zip_with(v, v, lambda a, b: a * b), F.lit(0.0), lambda acc, x2: acc + x2
        )))
        return [], unit
    n2 = F.aggregate(
        F.zip_with(v, v, lambda a, b: a * b), F.lit(0.0), lambda acc, x2: acc + x2
    )
    extras = [v.alias("__v"), n2.alias("__n2")]
    unit = F.transform(
        F.col("__v"), lambda x: x / F.sqrt(F.col("__n2"))
    )
    return extras, unit


def _assign_udf(centroids: list[list[float]]):
    """vec -> nearest centroid id by cosine, one matmul per batch."""
    import numpy as np
    import pandas as pd

    c = np.array(centroids, dtype=np.float64)  # (k, dim)
    # zero-norm guard: an all-zero centroid would turn every cosine
    # into NaN and make argmax assignments meaningless
    cn = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)

    def _assign(v):
        mat = np.array(v.tolist(), dtype=np.float64)
        mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        return pd.Series((mat @ cn.T).argmax(axis=1).astype(np.int32))

    _assign.__annotations__ = {"v": pd.Series, "return": pd.Series}
    return F.pandas_udf(_assign, "int")


def kmeans_centroids(
    embeddings: DataFrame,
    k: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
) -> list[list[float]]:
    """Deterministic spherical k-means (cosine) centroids.

    Init: the k rows with the smallest md5 hash of their id — stable
    under any partitioning. Each Lloyd iteration: Arrow assign +
    codegen (cluster, dim) mean + driver collect of k·dim floats.

    ``sample_fraction`` bounds the TRAINING scan: with it set, every
    Lloyd iteration runs over a deterministic md5-threshold sample of
    the corpus instead of all of it — at 100 TB, 5 full-corpus
    training scans at index-build time is the cost that matters, and
    k-means centroids estimated from a few million vectors are
    statistically indistinguishable from full-corpus ones (the means
    concentrate at O(1/√n)). The sample is the hash-SMALLEST prefix of
    the id space (``hash_bucket(id) < f·2^30``), which has two
    properties a `.sample()` call lacks: it is stable under any
    partitioning/ordering, and it CONTAINS the k seed rows (the seeds
    are the k smallest hashes), so seeded init is unchanged. Falls
    back to the full corpus when the sample would hold < 4·k rows —
    fewer vectors than that can't estimate k means.
    """
    v = as_double_array(vec_col)
    train = embeddings
    if sample_fraction is not None and sample_fraction < 1.0:
        n_buckets = 1 << 30
        thresh = int(sample_fraction * n_buckets)
        sampled = embeddings.filter(hash_bucket(id_col, n_buckets) < thresh)
        # one count() at index-build time (driver-side, bounded) to
        # guard the degenerate tiny-table case
        if sampled.count() >= 4 * k:
            train = sampled
    # the training frame is consumed by the seed scan plus every Lloyd
    # iteration (iters+1 passes) — pin it once instead of re-running
    # the parquet scan + validity gate per pass; unpersisted before
    # returning (training is index-build-time work, the cache must not
    # outlive it)
    train = train.persist()
    seed_rows = (
        train.select(F.col(id_col), v.alias("v"), hash_bucket(id_col, 1 << 30).alias("hb"))
        .orderBy("hb", id_col)
        .limit(k)
        .collect()
    )
    centroids = [list(r["v"]) for r in seed_rows]
    # tables smaller than k seed fewer cells; clamping k (instead of
    # letting the empty-cell fallback index past the seed list) keeps
    # every later centroids[i] valid
    k = len(centroids)
    for _ in range(iters):
        assigned = train.select(
            _assign_udf(centroids)(v).alias("cell"), F.posexplode(v).alias("dim", "x")
        )
        # r17 (guide §2.4): collect the (cell, dim, m) rows straight off
        # the FIRST groupBy — k·dim rows, driver-bounded — and assemble
        # the centroid arrays in Python, instead of a second
        # groupBy(cell) + array_sort(collect_list(...)) whose only job
        # was reshaping. One shuffle per Lloyd iteration instead of
        # two; the avg values come from the identical first aggregate,
        # so the trained centroids are bit-identical.
        means = (
            assigned.groupBy("cell", "dim").agg(F.avg("x").alias("m")).collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:
            by_cell.setdefault(r["cell"], {})[r["dim"]] = r["m"]
        new = {
            c: [dm[d] for d in range(len(dm))] for c, dm in by_cell.items()
        }
        # empty cells keep their previous centroid
        centroids = [new.get(i, centroids[i]) for i in range(k)]
    train.unpersist()
    return centroids


def ivf_topk(
    embeddings: DataFrame,
    query_df: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qvec_col: str = "qv",
    exclude_ids: tuple[int, ...] = (),
    dim: int | None = None,
) -> DataFrame:
    """Probe the n_probe cells nearest the query; exact cosine inside.

    Both the row cell and the query's probe set are computed in-plan
    (Arrow kernels over literal centroids), so the query is one lazy
    plan; written with `cell` as a partition column, the probe filter
    prunes partitions instead of filtering rows.
    """
    import numpy as np
    import pandas as pd

    c = np.array(centroids, dtype=np.float64)
    cn = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)

    def _probes(v):
        mat = np.array(v.tolist(), dtype=np.float64)
        mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        order = np.argsort(-(mat @ cn.T), axis=1)[:, :n_probe]
        return pd.Series(list(order.astype(np.int32)))

    _probes.__annotations__ = {"v": pd.Series, "return": pd.Series}
    probes_udf = F.pandas_udf(_probes, "array<int>")

    e = as_double_array(vec_col)
    q = as_double_array(qvec_col)
    # probe set computed on the 1-row query frame BEFORE the cross
    # join — after it, the probe matmul would re-run per corpus row
    q_probed = query_df.withColumn("_probes", probes_udf(q))
    joined = embeddings.crossJoin(F.broadcast(q_probed)).withColumn(
        "_cell", _assign_udf(centroids)(e)
    )
    score = (
        cosine(vec_col, qvec_col, dim) if dim is not None else cosine(e, q)
    )
    out = joined.filter(F.array_contains("_probes", F.col("_cell"))).select(
        F.col(id_col), score.alias("score")
    )
    for ex in exclude_ids:
        out = out.filter(F.col(id_col) != ex)
    return out.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def write_ivf_index(
    embeddings: DataFrame,
    path: str,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF index AT WRITE TIME: one assign pass over
    the corpus, `cell` written as a partition column (the inverted
    lists ARE directories). Same ingest-time pattern as the LSH index
    and the shingle column — pay the kernel once, prune forever.
    Unlike LSH there is no L× storage blow-up: each vector lands in
    exactly one cell.
    """
    v = as_double_array(vec_col)
    idx = embeddings.select(
        F.col(id_col), F.col(vec_col), _assign_udf(centroids)(v).alias("cell")
    )
    # one file per cell directory (see write_lsh_index for the
    # small-file rationale)
    idx.repartition("cell").write.mode("overwrite").partitionBy("cell").parquet(path)


def ivf_index_topk(
    index: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_ids: tuple[int, ...] = (),
    dim: int | None = None,
) -> DataFrame:
    """ANN top-k over a write-time IVF index (``write_ivf_index``).

    The query's probe cells are computed DRIVER-SIDE against the k×dim
    centroid matrix (index-metadata-sized, the same legitimate class
    as the LSH ``query_signature``), so the probe predicate is a
    literal ``cell IN (...)`` over the partition column — static
    partition pruning, scan touches n_probe of k directories, and no
    Python kernel runs at query time. Scoring stays on the exact JVM
    fold (``cosine``); results match the inline ``ivf_topk`` exactly.
    """
    import numpy as np

    c = np.array(centroids, dtype=np.float64)
    cn = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
    q = np.asarray(query_vec, dtype=np.float64)
    qn = q / max(float(np.linalg.norm(q)), 1e-12)
    probes = [int(x) for x in np.argsort(-(qn @ cn.T))[:n_probe]]

    if dim is not None and len(query_vec) != dim:
        raise ValueError(f"dim={dim} but query vector has {len(query_vec)} elements")
    if dim is not None:
        # literal-vector operand — O(dim) tree (similarity._elem)
        score = cosine(vec_col, [float(x) for x in query_vec], dim)
    else:
        qlit = F.array(*[F.lit(float(x)) for x in query_vec])
        score = cosine(as_double_array(vec_col), qlit)
    out = index.filter(F.col("cell").isin(probes)).select(
        F.col(id_col), score.alias("score")
    )
    for ex in exclude_ids:
        out = out.filter(F.col(id_col) != ex)
    return out.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    k: int | None = None,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    sample_fraction: float | None = None,
    target_cluster_size: int = 500,
    cache_handles: list[DataFrame] | None = None,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup-shaped semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embedding space, compare
    pairs only WITHIN a cluster, and keep one representative of each
    near-duplicate group — embedding-space near-dedup where MinHash
    sees only text shingles (paraphrases, translations, re-encodings).

    Per scorable vector returns (id, cell, kept, dup_of):
      kept   — False iff some SAME-CELL vector with a smaller id has
               cosine ≥ threshold (SemDeDup's keep-one rule, made
               deterministic by id order: the minimal element of every
               duplicate neighborhood survives, independent of
               partitioning);
      dup_of — the smallest such witness id (NULL when kept).

    CHAIN-DELETION semantics (deliberate, ADVICE r9): a vector is
    dropped when ANY smaller-id same-cell witness clears the
    threshold, even if that witness is itself dropped. For a chain
    A~B, B~C with A!~C (ids ascending), both B and C are deleted
    (C's dup_of=B points at a non-survivor) although the surviving
    representative A is not a near-duplicate of C. Precisely: the
    kept set is the LOCAL minima of the within-cell pair graph —
    every vector all of whose neighbors have larger ids — which can
    be several per connected component, and for monotone chains
    degenerates to the chain minimum alone. This is the chosen rule
    because it is one self-join (no iteration), deterministic, and
    partition-invariant; SemDeDup itself tolerates over-deletion of
    this kind (its keep-one within ε-balls makes no transitive-
    closure guarantee either, §2 of the paper). dup_of is therefore a
    WITNESS (proof of some near-dup with a smaller id), not
    necessarily the surviving representative — callers needing exact
    one-survivor-per-component semantics with actionable dup_of use
    ``semantic_dedup_cc`` below.

    100 TB shape — never all-pairs: the candidate join is an equi-join
    on the cell id, so pair work is Σ s_c² over cluster sizes, bounded
    by choosing k ∝ N/E[s] exactly as SemDeDup does (they use 11k
    clusters for 1.8B embeddings ≈ 160k vectors/cluster on 50k GPUs;
    here the default aims at ``target_cluster_size`` rows/cluster —
    when ``k`` is None it is derived as ceil(n / target_cluster_size)
    from one bounded count() at index-build time, so the pair join
    stays ~n·target_cluster_size at every corpus size instead of
    n²/k); training cost is bounded separately by ``sample_fraction``
    (see kmeans_centroids). Vectors are
    unit-normalized ONCE before the join, so each candidate pair costs
    a single JVM dot fold, and the assigned frame is persisted — it
    feeds both sides of the self-join and the final keep-join.
    Junk vectors (NULL / wrong-dim / non-finite / zero-norm) are gated
    out by ``valid_embeddings`` before clustering; they appear in
    neither the kept nor the dropped set.

    Rows-only by design (kmeans float means are not bit-stable across
    engines); the property evidence is tests/test_semantic_dedup.py:
    planted near-duplicates are dropped to one representative,
    orthogonal vectors all survive, and the result is invariant under
    input repartitioning.
    """
    assigned, pairs = _semantic_assigned_pairs(
        embeddings, threshold, k, iters, id_col, vec_col, dim,
        sample_fraction, target_cluster_size, cache_handles, centroids,
    )
    witnesses = pairs.groupBy(F.col("id_b").alias("id")).agg(
        F.min("id_a").alias("dup_of")
    )
    return (
        assigned.join(witnesses, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "cell",
            F.col("dup_of").isNull().alias("kept"),
            "dup_of",
        )
    )


def _semantic_assigned_pairs(
    embeddings: DataFrame,
    threshold: float,
    k: int | None,
    iters: int,
    id_col: str,
    vec_col: str,
    dim: int | None,
    sample_fraction: float | None,
    target_cluster_size: int,
    cache_handles: list[DataFrame] | None,
    centroids: list[list[float]] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Shared SemDeDup candidate machinery: gate → cluster → assign →
    within-cell cosine pairs. Returns (assigned(id, cell, u),
    pairs(id_a, id_b) with id_a < id_b and cosine ≥ threshold).
    Pass ``centroids`` (an index-time quantizer, k·dim floats) to
    skip training entirely — the production shape, where the
    quantizer is built once at index time and reused per run."""
    from analytics_etl_spark.operators.similarity import valid_embeddings

    gated = valid_embeddings(embeddings, vec_col, dim)
    if centroids is None:
        if k is None:
            n = gated.count()
            k = max(4, -(-n // max(1, int(target_cluster_size))))
        centroids = kmeans_centroids(
            gated, k=k, iters=iters, id_col=id_col, vec_col=vec_col,
            sample_fraction=sample_fraction,
        )
    v = as_double_array(vec_col)
    extras, unit = _unit_cols(vec_col, dim)
    if extras:
        # two-stage projection: the __v/__n2 extras land first so the
        # unrolled norm evaluates once per row (see _unit_cols)
        base = gated.select(
            F.col(id_col).alias("id"),
            _assign_udf(centroids)(v).alias("cell"),
            *extras,
        ).select("id", "cell", unit.alias("u"))
    else:
        base = gated.select(
            F.col(id_col).alias("id"),
            _assign_udf(centroids)(v).alias("cell"),
            unit.alias("u"),
        )
    assigned = (
        base
        # consumed twice (the _cell_pairs_kernel applyInPandas + the
        # keep join); without the pin the Arrow assignment kernel runs
        # twice.
        # Lifetime (ADVICE r9): must outlive the caller's action, so no
        # unpersist here — long-lived callers take the handle via
        # ``cache_handles`` (the bloom.py convention) and unpersist
        # after consuming; otherwise LRU eviction reclaims it.
        .persist()
    )
    if cache_handles is not None:
        cache_handles.append(assigned)
    pairs = _cell_pairs_kernel(assigned, float(threshold))
    return assigned, pairs


def _cell_pairs_kernel(assigned: DataFrame, threshold: float) -> DataFrame:
    """Within-cell cosine pairs as ONE Arrow kernel per cell (r17,
    guide §4.2): groupBy(cell).applyInPandas builds the cell's gram
    matrix with numpy and emits (id_a, id_b) for id_a < id_b and
    cos ≥ threshold.

    This replaces the r15/r16 cell self-join whose ≥threshold filter
    Catalyst pushed into the join CONDITION, where the dot had to stay
    an interpreted zip_with+aggregate fold (the unrolled chain un-JITs
    a join-condition method — see the r16 per-shape rule): every one
    of the Σ s_c² candidate pairs paid a 64-element interpreted fold —
    measured 3.3 s at sf0.1 (~1M candidate pairs). The kernel scores
    the same pairs as ~dim vectorized rank-1 updates per cell
    (BLAS-shaped, ms at this size) and ships n rows once, grouped by
    cell — the actual SemDeDup deployment shape (GPU-friendly
    per-cluster gram matrices; Abbas et al. 2023 §2).

    BIT-IDENTICAL scores by construction: the accumulation loops over
    dimensions d = 0..dim-1 adding x_d·y_d rank-1 slabs, so each
    pair's score is ((0.0 + x₀y₀) + x₁y₁) + … in IEEE doubles —
    exactly the fold's left-to-right order — and the ≥ threshold
    comparison is the same double compare. Pair work and memory are
    Σ s_c² (bounded by k ∝ n/target_cluster_size exactly as before);
    the i-block loop bounds the materialized gram slab.
    """
    import numpy as np
    import pandas as pd

    id_dtype = dict(assigned.dtypes)["id"]

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id", kind="mergesort")
        ids = pdf["id"].to_numpy()
        n = len(ids)
        if n < 2:
            return pd.DataFrame({"id_a": ids[:0], "id_b": ids[:0]})
        X = np.array(pdf["u"].tolist(), dtype=np.float64)  # (n, dim)
        out_a, out_b = [], []
        block = 1024
        for s in range(0, n, block):
            e = min(s + block, n)
            acc = np.zeros((e - s, n), dtype=np.float64)
            for d in range(X.shape[1]):
                # rank-1 slab, accumulated in dimension order: each
                # element's sum is the fold's left-to-right IEEE order
                acc += np.outer(X[s:e, d], X[:, d])
            hit = acc >= threshold
            # id_a < id_b ⇔ global index i < j (ids sorted ascending)
            ii, jj = np.nonzero(hit)
            keep = (ii + s) < jj
            out_a.append(ids[ii[keep] + s])
            out_b.append(ids[jj[keep]])
        return pd.DataFrame(
            {"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b)}
        )

    return assigned.select("cell", "id", "u").groupBy("cell").applyInPandas(
        _pairs, schema=f"id_a {id_dtype}, id_b {id_dtype}"
    )


def semantic_dedup_cc(
    embeddings: DataFrame,
    threshold: float = 0.95,
    k: int | None = None,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    sample_fraction: float | None = None,
    target_cluster_size: int = 500,
    cache_handles: list[DataFrame] | None = None,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """semantic_dedup with exact one-survivor-per-CONNECTED-COMPONENT
    semantics (the alternative rule ADVICE r9 proposed): the same
    gate → cluster → within-cell cosine-pair machinery, but instead of
    the one-join witness rule (which chain-deletes: for A~B, B~C,
    A!~C it drops both B and C), the ≥threshold pair list feeds
    iterative min-label propagation (operators/graph.py
    connected_components — the dedup_cluster_canonical pattern), so
    every near-duplicate CHAIN keeps exactly its minimum id and
    ``dup_of`` names the actual SURVIVING representative, never a
    dropped vector.

    Drop-set relationship (exact): witness-drops ⊆ cc-drops. A vector
    with a smaller-id direct neighbor is never its component's min,
    so everything semantic_dedup drops, this drops too; conversely
    the witness rule KEEPS every local minimum (e.g. edges (1,5),
    (2,5): both 1 and 2 survive there) while cc keeps exactly the
    component min (only 1). So this variant deduplicates transitively
    — one survivor per duplicate cluster, the MinHash
    dedup_cluster_canonical convention — and its dup_of is actionable
    (always names a kept vector; join survivors directly), where the
    witness variant needs a second resolution pass.

    100 TB shape: the pair list is bounded by near-dup density (never
    corpus-sized); connected_components checkpoints it once and runs
    O(component-diameter) pair-sized joins — near-dup chains are
    short in practice, and the iteration cap is 25. Cost relative to
    semantic_dedup is the CC fixpoint over the pair list (cheap)
    on top of the identical clustering+pair stage.

    Rows-only evidence channel, same reason as semantic_dedup
    (kmeans float means); property tests in
    tests/test_semantic_dedup.py cover chain resolution and
    equivalence of the drop sets on planted data.
    """
    from analytics_etl_spark.operators.graph import connected_components

    assigned, pairs = _semantic_assigned_pairs(
        embeddings, threshold, k, iters, id_col, vec_col, dim,
        sample_fraction, target_cluster_size, cache_handles, centroids,
    )
    comp = connected_components(pairs, src="id_a", dst="id_b").select(
        F.col("doc_id").alias("id"), "cluster_id"
    )
    return (
        assigned.join(comp, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "cell",
            (F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col("id")))
            .alias("kept"),
            F.when(F.col("cluster_id") != F.col("id"), F.col("cluster_id"))
            .alias("dup_of"),
        )
    )


def semantic_dedup_incremental(
    corpus: DataFrame,
    batch: DataFrame,
    threshold: float = 0.95,
    k: int | None = None,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    sample_fraction: float | None = None,
    target_cluster_size: int = 500,
    centroids: list[list[float]] | None = None,
    corpus_cell_col: str | None = None,
    cache_handles: list[DataFrame] | None = None,
) -> DataFrame:
    """Incremental (daily-ingest) SemDeDup: NEW batch vs EXISTING
    corpus — the embedding-space twin of
    ``dedup.incremental_minhash_dedup``. Corpus vectors are already
    admitted and are never re-judged; each BATCH vector returns
    (id, cell, kept, dup_of) where kept is False iff some same-cell
    corpus vector OR some smaller-id same-cell batch vector clears
    ``threshold`` (batches can contain internal dups), and dup_of is
    the smallest such witness id (corpus and batch ids share one id
    space here, as in the text twin).

    The shape that keeps a 100 TB corpus ingestable:
    - the quantizer is INDEX-TIME state: pass ``centroids`` (trained
      once at index build, k·dim floats) and no training scan runs at
      ingest; with ``corpus_cell_col`` the corpus side's cell
      assignment is ingest-persisted too (``write_ivf_index`` layout:
      cell is a partition column), so NO Python kernel touches the
      corpus at batch time and the cell equi-join against the
      batch-sized build side drives dynamic partition pruning — the
      corpus scan touches only the cells the batch lands in
      (k-bounded), never the whole index.
    - join work is O(batch × cell density) + O(batch²/cells): the
      batch-vs-corpus candidate join never generates corpus-corpus
      pairs, exactly like the MinHash twin's bucket join.
    - when ``centroids`` is None (cold start / tests), the quantizer
      trains on the CORPUS slice only (sample-boundable via
      ``sample_fraction``) — the batch must not shift the cells that
      existing index entries were assigned under.

    Junk vectors gate out on BOTH sides via ``valid_embeddings``
    before any comparison. Rows-only evidence channel (k-means float
    means, as semantic_dedup); property tests in
    tests/test_semantic_dedup.py.
    """
    from analytics_etl_spark.operators.similarity import valid_embeddings

    gated_c = valid_embeddings(corpus, vec_col, dim)
    gated_b = valid_embeddings(batch, vec_col, dim)
    if centroids is None:
        if k is None:
            n = gated_c.count()
            k = max(4, -(-n // max(1, int(target_cluster_size))))
        centroids = kmeans_centroids(
            gated_c, k=k, iters=iters, id_col=id_col, vec_col=vec_col,
            sample_fraction=sample_fraction,
        )
    v = as_double_array(vec_col)
    extras, unit = _unit_cols(vec_col, dim)
    cell_expr = (
        F.col(corpus_cell_col) if corpus_cell_col is not None
        else _assign_udf(centroids)(v)
    )
    if extras:
        # two-stage projections (see _unit_cols): the unrolled norm
        # evaluates once per row on both sides
        bat_base = gated_b.select(
            F.col(id_col).alias("id"),
            _assign_udf(centroids)(v).alias("cell"),
            *extras,
        ).select("id", "cell", unit.alias("u"))
        cor = gated_c.select(
            F.col(id_col).alias("wid"), cell_expr.alias("cell"), *extras
        ).select("wid", "cell", unit.alias("wu"))
    else:
        bat_base = gated_b.select(
            F.col(id_col).alias("id"),
            _assign_udf(centroids)(v).alias("cell"),
            unit.alias("u"),
        )
        cor = gated_c.select(
            F.col(id_col).alias("wid"), cell_expr.alias("cell"), unit.alias("wu")
        )
    bat = (
        bat_base
        # consumed three times (corpus join, batch self-join both
        # sides, final keep join) — and it is batch-sized, the cheap
        # side; cache_handles per the bloom.py lifetime convention
        .persist()
    )
    if cache_handles is not None:
        cache_handles.append(bat)
    # fold on purpose: the threshold filters below land in join
    # CONDITIONS (see _semantic_assigned_pairs — the unrolled chain
    # un-JITs the whole join stage there); bit-identical scores
    pair_cos = F.aggregate(
        F.zip_with(F.col("u"), F.col("wu"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    corpus_wit = (
        bat.join(cor, "cell")
        .filter(pair_cos >= F.lit(float(threshold)))
        .select("id", "wid")
    )
    batch_wit = (
        bat.join(
            bat.select(
                F.col("id").alias("wid"), "cell", F.col("u").alias("wu")
            ),
            "cell",
        )
        .filter(F.col("wid") < F.col("id"))
        .filter(pair_cos >= F.lit(float(threshold)))
        .select("id", "wid")
    )
    witnesses = (
        corpus_wit.unionByName(batch_wit)
        .groupBy("id")
        .agg(F.min("wid").alias("dup_of"))
    )
    return (
        bat.join(witnesses, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "cell",
            F.col("dup_of").isNull().alias("kept"),
            "dup_of",
        )
    )

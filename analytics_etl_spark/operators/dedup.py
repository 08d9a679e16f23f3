"""Deduplication operators for training-data pipelines.

Four strategies:

- exact: md5-fingerprint groupBy — one shuffle on the fingerprint.
- n-gram Jaccard: shingle explode + pair join on shared shingles —
  the exact-verification kernel; quadratic in *colliding* docs only.
- MinHash + LSH: shingle → k affine minhashes → banded buckets →
  candidate pairs → exact Jaccard verify. The 100 TB path: candidate
  generation is linear scans + ONE shuffle on (band, bucket); only
  near-duplicates ever meet in a join.
- SimHash: 64-bit signature via per-shingle md5 bit-votes; bucket by
  signature prefix.

Hashes are md5 (identical across Spark, DuckDB, and any other engine),
which keeps every stage oracle-checkable and deterministic — a
property xxhash64/murmur do NOT have across engines. Shingling runs as
an Arrow-batched kernel (the one Python boundary here): SQL
higher-order-function lambdas are interpreted per element outside
whole-stage codegen, and benchmarking the pipeline at sf0.1 showed
them dominating end-to-end cost 6-25× over the vectorized batch loop —
see each function's docstring for the measured trade.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def shingle_udf(n: int = 3, distinct: bool = True):
    """The Arrow shingling kernel: text column → array<string> of word
    n-grams (per-doc first-occurrence distinct when ``distinct``).

    Arrow kernel, not a SQL higher-order function: HOF lambdas are
    interpreted per element (outside whole-stage codegen), and at
    ~50 shingles × several expression nodes per doc that measured
    6-25× slower than this vectorized batch loop at sf0.1 (5.8s vs
    1.0s for shingle+explode; the gap grows with the element count).
    Per-doc distinctness stays inside the row (first-occurrence
    order, like array_distinct) — never a corpus-wide DISTINCT.
    """
    import pandas as pd

    def _shingle(texts):
        out = []
        for txt in texts:
            if txt is None:
                out.append([])
                continue
            w = txt.split(" ")
            grams = [" ".join(w[i : i + n]) for i in range(len(w) - n + 1)]
            out.append(list(dict.fromkeys(grams)) if distinct else grams)
        return pd.Series(out)

    _shingle.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return F.pandas_udf(_shingle, "array<string>")


def _spread_small_scan(docs: DataFrame, id_col: str) -> DataFrame:
    """Shingling fans out ~tokens× per row; if the source arrived in
    fewer *files* than cores (small file, coalesced scan), spread it
    first so downstream array work parallelizes. File count is a
    driver-cheap proxy for scan tasks that avoids touching df.rdd
    (which forces a plan conversion); at real scale the scan has
    >= cores partitions and this is a no-op. Non-file sources
    (in-memory test frames) report no files and are left alone."""
    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(docs.inputFiles())
    except Exception:
        n_files = 0
    if 0 < n_files < parallelism:
        docs = docs.repartition(parallelism, id_col)
    return docs


def shingle_arrays(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """(id, text) → (doc_id, shingles: array<string>) — NOT exploded.

    Keeping shingles as a per-row array lets the Jaccard verify join
    carry one row per doc; explode only where a relational shape is
    genuinely needed (word_shingles / the signature aggregation).
    """
    docs = _spread_small_scan(docs, id_col)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        shingle_udf(n, distinct)(F.col(text_col)).alias("shingles"),
    )


def with_shingle_column(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    distinct: bool = True,
    out_col: str = "shingles",
) -> DataFrame:
    """docs + a persisted-ready ``shingles`` column — the INGEST form.

    The deployment answer to the kernel-runs-twice trade documented in
    ``minhash_lsh_dedup``: run the Arrow shingling kernel ONCE at
    ingest, write the array as a table column next to the text, and
    every downstream consumer (signature building, LSH verify,
    contamination, fingerprinting) reads it from parquet instead of
    recomputing. All source columns are kept, so this composes with a
    normal partitioned/bucketed table write.
    """
    docs = _spread_small_scan(docs, id_col)
    return docs.withColumn(out_col, shingle_udf(n, distinct)(F.col(text_col)))


def word_shingles(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """(id, text) → (id, shingle): word n-gram shingles, exploded."""
    arr = shingle_arrays(docs, text_col, id_col, n=n, distinct=distinct)
    return arr.select("doc_id", F.explode("shingles").alias("shingle"))


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: group identical texts by md5, keep the min id.

    Hash-groupBy on the 32-char fingerprint instead of the full text —
    the shuffle carries 32 bytes per row, not the document.
    """
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("kept_doc_id"), F.count("*").alias("n_copies"))
    )


def jaccard_pairs(shingled: DataFrame, min_jaccard: float = 0.0) -> DataFrame:
    """Exact pairwise Jaccard over docs sharing ≥1 shingle.

    shingled: distinct (doc_id, shingle). Returns (doc_a, doc_b,
    jaccard) with doc_a < doc_b. The join key is the shingle, so only
    docs with actual overlap are ever paired.
    """
    sizes = shingled.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = shingled.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = shingled.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    out = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("common").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("common"))
            ).alias("jaccard"),
        )
    )
    return out.filter(F.col("jaccard") >= min_jaccard)


# Affine minhash family: hash each shingle ONCE (md5 → int), then
# derive the k minhashes as h_i = (a_i·h + b_i) mod p — the classic
# universal-hash construction. Measured at sf0.1 this is the
# difference between 12M and 1M md5 calls per pass (md5 dominates the
# signature stage). p = 2^31-1 keeps a_i·h < 2^62: no int64 overflow
# in either engine. a_i/b_i are seed-deterministic literals, and the
# md5-hex→int conversion (first 15 hex chars) is bit-identical in
# Spark (conv(...,16,10)) and DuckDB (('0x'||...)::BIGINT), so the
# whole family stays oracle-checkable.
MINHASH_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)


def minhash_affine_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs, shared with the SQL oracle."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, MINHASH_P), rng.randrange(0, MINHASH_P))
        for _ in range(num_hashes)
    ]


def shingle_hash(col) -> F.Column:
    """shingle → int in [0, p): md5 hex[:15] (60 bits) → long mod p."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long") % MINHASH_P


def minhash_signatures(shingled: DataFrame, num_hashes: int = 12) -> DataFrame:
    """(doc_id, shingle) → (doc_id, h0..h{k-1}): wide minhash signature.

    One md5 per shingle row, then all k affine minhashes as k MIN
    aggregates in ONE groupBy: no k× row fan-out, one shuffle, and
    partial aggregation means one row per (doc, task) crosses the
    wire. This is the FAST form: every expression here is inside
    whole-stage codegen (measured 6× faster at sf0.1 than a
    shuffle-free array_min(transform(...)) form, whose lambdas are
    interpreted per element).
    """
    base = shingled.select("doc_id", shingle_hash(F.col("shingle")).alias("hb"))
    aggs = [
        F.min((F.col("hb") * F.lit(a) + F.lit(b)) % MINHASH_P).alias(f"h{i}")
        for i, (a, b) in enumerate(minhash_affine_params(num_hashes))
    ]
    return base.groupBy("doc_id").agg(*aggs)


def lsh_band_buckets(
    signatures: DataFrame, rows_per_band: int = 3, num_hashes: int = 12
) -> DataFrame:
    """Wide minhash signatures → (doc_id, band, bucket) LSH buckets.

    bucket = md5 of the band's rows_per_band minhashes joined in seed
    order. Docs agreeing on ALL rows of some band share a bucket.
    Pure projection + explode — no extra shuffle.
    """
    n_bands = num_hashes // rows_per_band
    bands = F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("band"),
                F.md5(
                    F.concat_ws(
                        "|", *[F.col(f"h{b * rows_per_band + j}") for j in range(rows_per_band)]
                    )
                ).alias("bucket"),
            )
            for b in range(n_bands)
        ]
    )
    return signatures.select("doc_id", F.explode(bands).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def lsh_candidate_pairs(
    buckets: DataFrame, max_bucket_size: int | None = None, anchored: bool = False
) -> DataFrame:
    """Distinct candidate pairs from shared (band, bucket).

    Shaped as groupBy(band, bucket) → sorted id list → expand i<j
    pairs, NOT as a self-join: a self-join of the bucket frame
    recomputes the whole scan→shingle→signature chain once per side
    (Spark does not reuse the exchange across differently-aliased
    branches — measured 5× slower end-to-end at sf0.1), while the
    group-by formulation pays ONE shuffle on the same key and computes
    the chain once. The per-bucket pair expansion is quadratic only
    within a bucket — the known LSH hot-bucket pathology.

    ``max_bucket_size`` is the at-scale guard for that pathology: a
    boilerplate-heavy corpus (SEO spam, templated pages) produces a
    few buckets with 10^5+ members, and ONE such bucket is 10^10
    pairs — a job-killer no cluster size absorbs. Capping drops those
    buckets' pairs entirely (the standard production trade: members
    of a mega-bucket are near-identical templates better handled by
    exact dedup upstream; every real pipeline — and the reference
    literature — caps or splits hot buckets). Default None keeps the
    exact semantics for the oracle-checked queries; corpus-scale
    deployments set a cap around 10^3–10^4.

    ``anchored`` is the incremental form, one pass over new and
    existing docs together: ``doc_id`` is a struct key whose first
    field is ``side``, 0 for a new doc and 1 for an existing one, and
    which is unique per row. Keys sort by side first, so new docs lead
    each bucket's list, and pairs expand only from side-0 positions:
    new-new and new-existing pairs come out (the new doc always
    ``doc_a`` of a new-existing pair), existing-existing pairs never
    do.
    """
    grouped = (
        buckets.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    if max_bucket_size is not None:
        grouped = grouped.filter(F.size("ids") <= max_bucket_size)
    if anchored:
        # a bucket whose first member is existing has no new member
        grouped = grouped.filter(F.col("ids")[0]["side"] == 0)
    e1 = grouped.select("ids", F.posexplode("ids").alias("i", "doc_a"))
    if anchored:
        e1 = e1.filter(F.col("doc_a.side") == 0)
    # ids are sorted, so everything after position i is > doc_a
    rest = F.slice(
        F.col("ids"),
        F.col("i") + 2,
        F.greatest(F.size("ids") - F.col("i") - 1, F.lit(0)),
    )
    return (
        e1.select("doc_a", F.explode(rest).alias("doc_b"))
        .distinct()
    )


def verify_jaccard(arrays: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact Jaccard for a GIVEN pair set only (the LSH verify stage).

    Takes the per-doc shingle ARRAYS (shingle_arrays output,
    distinct=True), not exploded rows: each candidate pair picks up
    both docs' arrays by key and the overlap is
    ``size(array_intersect(a, b))`` — pure per-row JVM array algebra.

    Why this shape, measured at sf0.1: the exploded formulation
    (pairs⋈shingles on doc_a, re-matched on (doc_b, shingle)) shuffles
    the corpus-wide exploded shingle set (~200× more rows than docs)
    TWICE and re-aggregates — ~8× slower end-to-end, and worse with
    scale. Here the only join inputs are the doc-sized arrays table
    and the candidate pairs; no corpus-wide explode ever happens.

    No broadcast hint: the candidate frame is unbounded (hot LSH
    buckets can make it large), so a forced broadcast is a driver-OOM
    risk. AQE broadcasts the pair side when it is genuinely small (the
    JOIN then leaves arrays unshuffled) and falls back to a doc-keyed
    shuffle join when it isn't. The re-group below DOES exchange two
    shingle arrays per candidate pair — pair-sized, never corpus-sized,
    and the price of executing the arrays pipeline once instead of
    twice: ``arrays`` is typically an unmaterialized scan + Arrow
    shingling pass, so the old two-side-joins shape re-ran that over
    the whole corpus per side.

    Join shape: pairs are deduplicated, MELTED to (doc_a, doc_b,
    doc_id) rows, joined against ``arrays`` ONCE, then re-grouped per
    pair.
    """
    # dedupe defensively: a duplicated input pair would melt to 4 rows
    # and trip the exactly-two-sides check below, silently dropping a
    # genuine near-duplicate (pair-sized shuffle, same key as the
    # group-by that follows)
    melted = pairs.select("doc_a", "doc_b").distinct().select(
        "doc_a", "doc_b", F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    )
    j = melted.join(
        arrays.select("doc_id", "shingles", F.size("shingles").alias("sz")), "doc_id"
    )
    # exactly one row per side per pair → first(when(...)) is a
    # deterministic "pick the matching side", not an order gamble
    side = lambda d: F.when(F.col("doc_id") == F.col(d), F.col("shingles"))  # noqa: E731
    sz_side = lambda d: F.when(F.col("doc_id") == F.col(d), F.col("sz"))  # noqa: E731
    g = (
        j.groupBy("doc_a", "doc_b")
        .agg(
            F.first(side("doc_a"), ignorenulls=True).alias("sh_a"),
            F.first(side("doc_b"), ignorenulls=True).alias("sh_b"),
            F.first(sz_side("doc_a"), ignorenulls=True).alias("sz_a"),
            F.first(sz_side("doc_b"), ignorenulls=True).alias("sz_b"),
            F.count("*").alias("n_sides"),
        )
        .filter(F.col("n_sides") == 2)  # drop pairs missing a side
    )
    common = F.size(F.array_intersect("sh_a", "sh_b"))
    return g.select(
        "doc_a",
        "doc_b",
        (common.cast("double") / (F.col("sz_a") + F.col("sz_b") - common)).alias(
            "jaccard"
        ),
    )


def lsh_detection_probability(s: float, n_bands: int, rows_per_band: int) -> float:
    """The LSH S-curve: probability a doc pair with Jaccard ``s`` shares
    at least one band bucket under (b, r) banding — 1 - (1 - s^r)^b.
    Pure math (Leskovec/Rajaraman/Ullman, Mining of Massive Datasets
    ch. 3.4); exposed so the planner and its property tests share one
    definition."""
    return 1.0 - (1.0 - s**rows_per_band) ** n_bands


def plan_bands(
    threshold: float,
    n_perm: int,
    fp_weight: float = 0.5,
    fn_weight: float = 0.5,
) -> tuple[int, int]:
    """Pick ``(n_bands, rows_per_band)`` for a target Jaccard
    ``threshold`` and a signature budget of ``n_perm`` minhashes —
    the standard S-curve solve real corpora use instead of
    hand-fixed banding (MMDS ch. 3.4; the same optimization every
    production MinHash-LSH library performs).

    For each feasible (b, r) with b·r <= n_perm it numerically
    integrates the two error areas of the detection curve
    P(s) = 1-(1-s^r)^b — false positives ∫₀^t P(s) ds (pairs BELOW
    the threshold that still collide → wasted exact-verify work) and
    false negatives ∫ₜ^1 (1-P(s)) ds (pairs ABOVE it that never
    collide → lost dedup recall) — and returns the weighted-sum
    minimizer. Ties break toward the larger band count (more of the
    budget used; steeper curve). Driver-side pure Python over
    O(n_perm·divisors) configs — nothing touches Spark.

    The engine's registered defaults are consistent with the
    planner: plan_bands(0.5, 12) == (4, 3), exactly the
    (num_hashes=12, rows_per_band=3) banding minhash_lsh_dedup ships
    and dedup_minhash_lsh is hash-checked with (its verify stage
    filters at min_jaccard=0.5). Curve properties (monotone
    detection probability, threshold within one feasible band step,
    optimality vs an independent integration) are pinned in
    tests/test_properties.py."""
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if n_perm < 2:
        raise ValueError(f"n_perm must be >= 2, got {n_perm}")
    grid = 400
    best: tuple[float, int, int] | None = None
    for r in range(1, n_perm + 1):
        for b in range(1, n_perm // r + 1):
            fp = fn = 0.0
            # trapezoid over [0, threshold] and [threshold, 1]
            for i in range(grid + 1):
                w = 0.5 if i in (0, grid) else 1.0
                s_lo = threshold * i / grid
                fp += w * lsh_detection_probability(s_lo, b, r)
                s_hi = threshold + (1.0 - threshold) * i / grid
                fn += w * (1.0 - lsh_detection_probability(s_hi, b, r))
            fp *= threshold / grid
            fn *= (1.0 - threshold) / grid
            err = fp_weight * fp + fn_weight * fn
            # strict '<' with the loop ordering (r asc, b asc) plus the
            # -b tiebreak keeps selection deterministic
            if best is None or (err, -b) < (best[0], -best[1]):
                best = (err, b, r)
    assert best is not None
    return best[1], best[2]


def minhash_lsh_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    rows_per_band: int | None = 3,
    shingle_n: int = 3,
    min_jaccard: float = 0.0,
    shingles_col: str | None = None,
    max_bucket_size: int | None = None,
    threshold: float | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: candidates + exact verify.

    Returns (doc_a, doc_b, jaccard) for LSH-candidate pairs. At scale:
    shingle explode (narrow) → minhash agg (shuffle on doc) → bucket
    join (shuffle on bucket) → exact-Jaccard verify restricted to the
    candidate pairs (never corpus-wide).

    Banding: pass ``threshold`` (with ``rows_per_band=None``) to have
    ``plan_bands`` solve the S-curve for the target Jaccard — the
    documented way to pick banding for a new corpus; the explicit
    ``rows_per_band`` stays for pinned call sites. The shipped
    defaults agree: plan_bands(0.5, 12) == (4, 3) is exactly
    (num_hashes=12, rows_per_band=3). Passing both is a contract
    error (raise-instead-of-silently-prefer, module stance).

    ``shingles_col`` names an ALREADY-COMPUTED shingle array column on
    ``docs`` (written at ingest by ``with_shingle_column``): the Arrow
    kernel then runs ZERO times at query time and the whole pipeline
    is parquet scan + JVM expressions (tests/test_dedup_similarity.py
    asserts the plan has no Python node on this path). The column must
    hold DISTINCT shingles (the with_shingle_column default); we apply
    array_distinct defensively because a distinct=False column would
    otherwise understate Jaccard silently (F.size counts duplicates
    while array_intersect dedups) — on an already-distinct column the
    extra op is a no-op projection, not a shuffle.
    """
    if threshold is not None:
        if rows_per_band is not None:
            raise ValueError(
                "pass either threshold (plan_bands solves the banding) "
                "or rows_per_band (pinned banding), not both — an "
                "ignored threshold would silently change dedup recall"
            )
        n_bands, rows_per_band = plan_bands(threshold, num_hashes)
        # the planner may use LESS than the budget (fewer bands than
        # num_hashes//r when extra bands only add false positives) —
        # shrink the signature to exactly b·r hashes so the banding
        # executed is the banding planned, and the minhash agg does
        # no dead work
        num_hashes = n_bands * rows_per_band
    elif rows_per_band is None:
        raise ValueError("one of rows_per_band / threshold is required")
    if shingles_col is not None:
        arrays = docs.select(
            F.col(id_col).alias("doc_id"),
            F.array_distinct(F.col(shingles_col)).alias("shingles"),
        )
    else:
        # The shingle arrays feed BOTH signature building and the exact
        # verify stage — the Arrow shingling kernel therefore runs TWICE
        # over the corpus per action (once per consumer; verify's melted
        # join shape keeps it to one, not two, passes on its side).
        # Deliberately NOT cached: pinning corpus-sized shingle arrays in
        # executor memory is its own hazard at scale, and the second
        # kernel pass is a measured ~0.5s of the 2s total at sf0.1. At
        # deployment scale the answer is neither recompute nor cache:
        # persist `shingles` at ingest (``with_shingle_column``) and pass
        # ``shingles_col`` so both consumers read it from parquet.
        arrays = shingle_arrays(docs, text_col, id_col, n=shingle_n, distinct=True)
    # exploded + groupBy signatures, NOT the array-HOF form: the 12
    # min aggregates run inside whole-stage codegen with map-side
    # partial mins (one signature row per doc crosses the wire), while
    # 12 array_min(transform(...)) projections are interpreted per
    # element — measured 6× slower at sf0.1 despite being shuffle-free.
    shingled = arrays.select("doc_id", F.explode("shingles").alias("shingle"))
    sigs = minhash_signatures(shingled, num_hashes)
    cands = lsh_candidate_pairs(
        lsh_band_buckets(sigs, rows_per_band, num_hashes),
        max_bucket_size=max_bucket_size,
    )
    return verify_jaccard(arrays, cands).filter(F.col("jaccard") >= min_jaccard)


def simhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    shingle_n: int = 2,
) -> DataFrame:
    """SimHash: per-doc `bits`-bit signature from shingle-hash bit votes.

    bit_i(doc) = 1 iff more shingles have bit i set than not in their
    md5-derived integer hash (strictly more set than unset). ZERO
    shuffle — one Arrow kernel pass per row. Hamming-distance buckets
    via signature prefix.

    Implementation note: the first formulation built the hash array
    with JVM expressions and took 32 interpreted size(filter(...))
    passes over it — ~bits×shingles lambda evaluations per doc,
    measured 3.0 s at sf0.1. This numpy kernel (md5 per shingle at C
    speed, one (shingles × bits) bit matrix, vectorized votes)
    replaces all of it in a single pass; signatures are bit-identical
    (same md5-hex-prefix integers, same strict-majority rule — the
    DuckDB oracle pins this).
    """
    import hashlib

    import numpy as np
    import pandas as pd

    def _sig(texts):
        out = []
        pos = np.arange(bits, dtype=np.int64)
        for txt in texts:
            if txt is None:
                out.append(None)
                continue
            w = txt.split(" ")
            grams = [" ".join(w[i : i + shingle_n]) for i in range(len(w) - shingle_n + 1)]
            if not grams:
                out.append(None)
                continue
            hs = np.array(
                [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams],
                dtype=np.int64,
            )
            votes = ((hs[:, None] >> pos) & 1).sum(axis=0)
            sig = int(((votes * 2 > len(hs)).astype(np.int64) << pos).sum())
            out.append(sig)
        return pd.Series(out, dtype="object")

    _sig.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    kernel = F.pandas_udf(_sig, "long")
    docs = _spread_small_scan(docs, id_col)
    return docs.select(
        F.col(id_col).alias("doc_id"), kernel(F.col(text_col)).alias("simhash")
    ).filter(F.col("simhash").isNotNull())


def span_hash_expr(text_col: str, span_words: int, stride: int = 1) -> F.Column:
    """Rolling ``span_words``-word span hashes of ``text_col`` as one
    array<string> expression — md5 per word position via transform/
    slice/array_join, pure JVM. Empty array for docs shorter than a
    span (guards sequence(0, negative), which would generate a
    DESCENDING range and fabricate spans).

    ``stride``: step between span starts. 1 = every position (exact —
    catches a copy at ANY alignment); ``span_words`` = non-overlapping
    blocks, cutting the span volume ``span_words``x at the documented
    recall cost (a copy is only caught when both documents emit it at
    the same block alignment — the cheap screening pass, not the
    exact one)."""
    if stride < 1:
        raise ValueError(f"stride must be >= 1, got {stride}")
    w = F.split(F.col(text_col), " ")
    return F.when(
        F.col(text_col).isNotNull() & (F.size(w) >= span_words),
        F.transform(
            F.sequence(F.lit(0), F.size(w) - F.lit(span_words), F.lit(stride)),
            lambda i: F.md5(F.array_join(F.slice(w, i + 1, span_words), " ")),
        ),
    ).otherwise(F.array().cast("array<string>"))


def with_span_hashes(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_words: int = 20,
    out_col: str = "span_hashes",
    stride: int = 1,
) -> DataFrame:
    """docs + a persisted-ready rolling-span-hash column — the INGEST
    form of exact substring dedup (VERDICT r5 item 4), mirroring
    ``with_shingle_column``: pay the span expansion once at write time,
    and every nightly substring-dedup run reads 32-char hashes from
    parquet instead of re-splitting/re-hashing the full corpus text.
    All source columns are kept so this composes with a normal
    partitioned table write; pass the column to
    ``substring_span_duplicates(spans_col=...)``."""
    docs = _spread_small_scan(docs, id_col)
    return docs.withColumn(out_col, span_hash_expr(text_col, span_words, stride))


def substring_span_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_words: int = 20,
    min_docs: int = 2,
    spans_col: str | None = None,
    stride: int = 1,
) -> DataFrame:
    """EXACT substring-span dedup (the Lee et al. 2022 "Deduplicating
    Training Data" shape): find every ``span_words``-word span that
    occurs verbatim in >= ``min_docs`` distinct documents. Near-dup
    methods (MinHash) miss this case — two long documents sharing one
    boilerplate paragraph are NOT near-duplicates, but the paragraph
    still leaks between train and eval and gets memorized.

    Returns (span_hash, n_docs, n_occurrences). Pure JVM expressions:
    rolling spans come from transform over a 0..n-span index sequence
    (slice + array_join + md5 per position — no Python kernel, unlike
    shingling, because spans need no normalization pass), then one
    explode + the two-phase distinct aggregate on the 32-char hash
    (shuffle on (hash, doc) for countDistinct, then on hash). At
    100 TB both shuffles carry one md5 row per word position — the
    standard cost of suffix-free exact dedup; stride>1 or a
    min-frequency pre-filter (count-min on the map side) are the
    documented cheapenings, both at recall cost.

    ``spans_col``: name of an ingest-persisted span-hash column
    (written by ``with_span_hashes`` at the same ``span_words``/
    ``stride``) — the text split/hash expansion is then skipped
    entirely and the scan reads (id, hashes) only.

    ``stride``: see ``span_hash_expr`` — stride=1 is the exact form,
    stride=span_words the block-aligned screening form.
    """
    if spans_col is not None:
        exploded = docs.select(
            F.col(id_col).alias("doc_id"), F.explode(spans_col).alias("span_hash")
        )
    else:
        exploded = docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(span_hash_expr(text_col, span_words, stride)).alias("span_hash"),
        )
    return (
        exploded.groupBy("span_hash")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def incremental_minhash_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    rows_per_band: int = 3,
    shingle_n: int = 3,
    min_jaccard: float = 0.0,
    shingles_col: str | None = None,
) -> DataFrame:
    """Incremental (daily-ingest) near-dup check: NEW batch vs EXISTING
    corpus. Returns (batch_doc, corpus_doc, jaccard) pairs.

    Candidates come from joining the batch's band buckets against the
    corpus's on (band, bucket) — batch-batch and corpus-corpus pairs
    are never generated, so the candidate join's output is O(batch ×
    collision rate), not O(corpus²). The corpus's buckets themselves
    are NOT stored: every call re-explodes and re-hashes every corpus
    shingle into signatures and band buckets, which is O(corpus) work
    per ingest batch. Persisting a band-bucket column at ingest (the
    write-time pattern of ``with_shingle_column`` /
    ``write_lsh_index``) would remove it; that is the open follow-up.
    Pass ``shingles_col`` when both frames carry the ingest-persisted
    shingle column — then no Arrow kernel runs at all.

    Verification joins each side's shingle arrays by its own key (the
    sides are different tables, so there is no self-join re-execution
    hazard here — the melted trick in ``verify_jaccard`` exists for
    the single-table case); the exchanged rows are candidate-pair
    sized, never corpus-sized.
    """

    def _prep(df: DataFrame) -> tuple[DataFrame, DataFrame]:
        if shingles_col is not None:
            # array_distinct: same silent-understated-Jaccard defense as
            # minhash_lsh_dedup's shingles_col path (see its docstring)
            arrays = df.select(
                F.col(id_col).alias("doc_id"),
                F.array_distinct(F.col(shingles_col)).alias("shingles"),
            )
        else:
            arrays = shingle_arrays(df, text_col, id_col, n=shingle_n, distinct=True)
        shingled = arrays.select("doc_id", F.explode("shingles").alias("shingle"))
        sigs = minhash_signatures(shingled, num_hashes)
        return arrays, lsh_band_buckets(sigs, rows_per_band, num_hashes)

    arr_c, bk_c = _prep(corpus)
    arr_b, bk_b = _prep(batch)
    cands = (
        bk_b.select("band", "bucket", F.col("doc_id").alias("batch_doc"))
        .join(
            bk_c.select("band", "bucket", F.col("doc_id").alias("corpus_doc")),
            ["band", "bucket"],
        )
        .select("batch_doc", "corpus_doc")
        .distinct()
    )
    j = cands.join(
        arr_b.select(
            F.col("doc_id").alias("batch_doc"),
            F.col("shingles").alias("sh_a"),
            F.size("shingles").alias("sz_a"),
        ),
        "batch_doc",
    ).join(
        arr_c.select(
            F.col("doc_id").alias("corpus_doc"),
            F.col("shingles").alias("sh_b"),
            F.size("shingles").alias("sz_b"),
        ),
        "corpus_doc",
    )
    common = F.size(F.array_intersect("sh_a", "sh_b"))
    out = j.select(
        "batch_doc",
        "corpus_doc",
        (common.cast("double") / (F.col("sz_a") + F.col("sz_b") - common)).alias(
            "jaccard"
        ),
    )
    return out.filter(F.col("jaccard") >= min_jaccard)


def word_chunk_paragraphs(text_col: str = "text", width: int = 10) -> F.Column:
    """Aligned non-overlapping ``width``-word windows as an
    array<string> "paragraph" column — the paragraph notion for
    corpora with no newline structure (the synthetic tables have
    none; real crawl text uses the default newline split). Pure JVM:
    sequence over chunk starts + slice + array_join; the last chunk
    keeps its natural shorter length so reassembly is lossless."""
    words = F.split(F.col(text_col), " ")
    starts = F.sequence(F.lit(1), F.greatest(F.size(words), F.lit(1)), F.lit(width))
    return F.transform(
        starts, lambda i: F.array_join(F.slice(words, i, width), " ")
    )


def explode_paragraph_hashes(
    docs: DataFrame,
    paragraphs: F.Column | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    delimiter: str = "\n",
) -> DataFrame:
    """(doc_id, pos, par, h): one row per hashable paragraph — the
    shared first stage of the paragraph-dedup family (inline,
    intra-doc, and the streaming corpus-table maintenance all explode
    through here so their hash definitions can never drift).
    Paragraphs default to ``split(text, delimiter)``; NULL texts and
    paragraphs whose canonical form is empty are excluded."""
    from analytics_etl_spark.functions.text import canonicalize_text

    c = F.col(text_col)
    pars = paragraphs if paragraphs is not None else F.split(c, delimiter)
    return (
        docs.filter(c.isNotNull())
        .select(F.col(id_col).alias("doc_id"), F.posexplode(pars).alias("pos", "par"))
        .withColumn("h", F.md5(canonicalize_text(F.col("par"))))
        .filter(canonicalize_text(F.col("par")) != "")
    )


def _reassemble_paragraphs(exploded: DataFrame, kept: DataFrame, sep: str) -> DataFrame:
    """(doc_id, n_pars, n_kept, text_dedup) from the exploded frame and
    its surviving subset — survivors rejoined in original order; docs
    whose every paragraph was dropped come back with n_kept=0/''."""
    base = exploded.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_pars")
    )
    agg = kept.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "par"))),
                lambda s: s["par"],
            ),
            sep,
        ).alias("text_dedup"),
    )
    return base.join(agg, "doc_id", "left").select(
        "doc_id",
        "n_pars",
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
    )


def paragraph_dedup(
    docs: DataFrame,
    paragraphs: F.Column | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    delimiter: str = "\n",
    joiner: str | None = None,
) -> DataFrame:
    """CCNet's deployed FIRST dedup stage (Wenzek et al. 2020 §4.1):
    drop individual PARAGRAPHS duplicated across the corpus, keeping
    only the first occurrence (min (doc_id, position)), and reassemble
    each document from its surviving paragraphs. This is the
    granularity that removes boilerplate headers/footers/cookie
    banners — repeated verbatim across thousands of pages — which
    document-level near-dedup structurally misses (each PAGE is
    unique; its FURNITURE is not).

    Semantics:
    - paragraphs default to ``split(text, delimiter)``; pass
      ``paragraphs=`` (e.g. ``word_chunk_paragraphs()``) to override
      the notion for newline-free corpora;
    - each paragraph is canonical-hashed (case/punct/whitespace
      folded — functions/text.canonicalize_text, the same form the
      exact-dedup stage uses); paragraphs whose canonical form is
      EMPTY are dropped outright (whitespace furniture);
    - a hash seen in >= 2 DISTINCT documents is corpus boilerplate:
      every occurrence except the corpus-first (min doc_id, then min
      position) is removed. A paragraph repeated only WITHIN one
      document is kept whole (intra-doc repetition is a repetition
      signal, not corpus boilerplate);
    - output: one row per doc with >= 1 hashable paragraph —
      (doc_id, n_pars, n_kept, text_dedup), text_dedup = surviving
      paragraphs in original order joined by ``joiner`` (defaults to
      ``delimiter``). n_kept = 0 ⇒ text_dedup = '' (the doc was pure
      boilerplate; downstream length gates remove it).

    Scale shape (the CCNet production layout): one explode, one
    map-side-combined groupBy on 32-byte hashes, one hash-keyed join
    back, one per-doc reassembly groupBy — all linear in total
    paragraph count, nothing pairwise; the hash table the stats pass
    materializes is |distinct paragraphs|-sized, never |corpus|².
    Reference: extends the reference's row-level dedup/validation
    gates (etl_service.py) to sub-document granularity.
    """
    sep = delimiter if joiner is None else joiner
    exploded = explode_paragraph_hashes(docs, paragraphs, text_col, id_col, delimiter)
    stats = exploded.groupBy("h").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.min(F.struct("doc_id", "pos")).alias("first"),
    )
    kept = exploded.join(stats, "h").filter(
        (F.col("n_docs") < 2)
        | (
            (F.col("doc_id") == F.col("first.doc_id"))
            & (F.col("pos") == F.col("first.pos"))
        )
    )
    return _reassemble_paragraphs(exploded, kept, sep)


def paragraph_dedup_intradoc(
    docs: DataFrame,
    paragraphs: F.Column | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    delimiter: str = "\n",
    joiner: str | None = None,
) -> DataFrame:
    """INTRA-document paragraph collapse: within each document, keep
    only the FIRST occurrence of every canonical paragraph — the
    repeated-nav-block/footer collapse CCNet and Gopher apply inside
    a page before any corpus-level statistics are computed (a page
    whose menu renders 40 times should count its menu once in length,
    repetition, and LM features). The complement of
    ``paragraph_dedup``: that operator deliberately KEEPS intra-doc
    repeats (they are a repetition signal, not corpus boilerplate);
    this one collapses them without consulting the rest of the corpus
    at all, so it needs NO corpus-wide state — one groupBy on
    (doc_id, hash) with map-side combine, then per-doc reassembly.
    Shuffle volume is paragraph-count-bounded and partitioned by
    doc — embarrassingly parallel at any corpus size. Same hashable-
    paragraph contract as the rest of the family
    (explode_paragraph_hashes). Output schema matches paragraph_dedup:
    (doc_id, n_pars, n_kept, text_dedup)."""
    sep = delimiter if joiner is None else joiner
    exploded = explode_paragraph_hashes(docs, paragraphs, text_col, id_col, delimiter)
    kept = (
        exploded.groupBy("doc_id", "h")
        .agg(F.min(F.struct("pos", "par")).alias("first"))
        .select(
            "doc_id",
            F.col("first.pos").alias("pos"),
            F.col("first.par").alias("par"),
        )
    )
    return _reassemble_paragraphs(exploded, kept, sep)


def scrub_paragraphs(
    docs: DataFrame,
    bench: DataFrame,
    paragraphs: F.Column | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    delimiter: str = "\n",
    joiner: str | None = None,
) -> DataFrame:
    """PARAGRAPH-level benchmark decontamination: remove from every
    pool document any paragraph whose canonical hash appears ANYWHERE
    in the eval suite, and reassemble the survivors — the sub-document
    sibling of ``ngram_contamination``'s doc-level gate. The doc-level
    gate DROPS a document once its eval overlap crosses a threshold;
    this operator instead SCRUBS the leaked span and keeps the rest of
    the document — what a pipeline wants when one quoted benchmark
    question shouldn't cost an otherwise-clean 10k-word page (the
    scrub-vs-drop trade Dolma/FineWeb document for decontamination).

    Same hashable-paragraph contract as the rest of the family
    (explode_paragraph_hashes: canonical-empty paragraphs excluded,
    NULL texts excluded); output schema matches paragraph_dedup —
    (doc_id, n_pars, n_kept, text_dedup), n_kept = 0 ⇒ '' for a doc
    that was entirely eval text. Scale shape: the bench hash set is
    |distinct eval paragraphs|-sized (eval suites are MBs, not TBs —
    Spark broadcasts it under the threshold automatically); the pool
    side is one explode + one left_anti hash join + per-doc
    reassembly, linear, nothing pairwise."""
    sep = delimiter if joiner is None else joiner
    exploded = explode_paragraph_hashes(docs, paragraphs, text_col, id_col, delimiter)
    bench_hashes = (
        explode_paragraph_hashes(bench, paragraphs, text_col, id_col, delimiter)
        .select("h")
        .distinct()
    )
    kept = exploded.join(bench_hashes, "h", "left_anti")
    return _reassemble_paragraphs(exploded, kept, sep)


def containment_pairs(shingled: DataFrame, min_containment: float = 0.0) -> DataFrame:
    """Exact pairwise shingle CONTAINMENT over docs sharing ≥1
    shingle: |A ∩ B| / min(|A|, |B|) — the asymmetric near-dup
    measure (C4/RealNews-style sub-document detection). A short doc
    fully embedded in a long one scores 1.0 here while its Jaccard
    (|A∩B|/|A∪B|) stays tiny — exactly the pairs `jaccard_pairs`
    structurally under-ranks. Same candidate generation (equi-join on
    the shingle — only docs with real overlap ever pair, never
    all-pairs); the division is one float op over exact int64
    operands, deterministic in any engine.
    """
    sizes = shingled.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = shingled.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = shingled.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    out = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("common").cast("double")
                / F.least(F.col("sz_a"), F.col("sz_b"))
            ).alias("containment"),
        )
    )
    return out.filter(F.col("containment") >= min_containment)


def remove_duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_words: int = 20,
    stride: int = 1,
    out_col: str = "clean_text",
) -> DataFrame:
    """The REMOVAL half of exact substring dedup (Lee et al. 2022):
    ``substring_span_duplicates`` finds the duplicated spans; this
    operator actually cuts them out of the text, keeping exactly ONE
    occurrence corpus-wide.

    Policy (every degree of freedom pinned so the result is a pure
    function of the corpus): each duplicated ``span_words``-word span
    keeps its occurrence at the smallest (doc_id, position) — the
    canonical occurrence — and every other occurrence's word positions
    are removed from their documents; a document's surviving words are
    re-joined with single spaces. Documents shorter than a span, and
    NULL texts, pass through unchanged (same guard as
    ``span_hash_expr``). The paragraph-granular sibling with the same
    corpus-first-survivor stance is ``dedup_paragraph_corpus``.

    Returns (doc_id, ``out_col``, n_removed) — n_removed counts the
    word positions cut (overlapping duplicated spans are unioned, not
    double-counted).

    ``stride`` is accepted for signature parity with the DETECTION arm
    (``substring_span_duplicates``) but must be 1: the keep-one-
    occurrence-corpus-wide policy only holds when every offset is
    hashed — with stride>1 a duplicated span at an unsampled offset
    would silently survive, which for a REMOVAL operator is a
    correctness hole, not a recall trade-off. Strided sampling belongs
    to the detection arm, where partial recall is a documented knob.

    Scale shape: one explode to (doc, pos, hash) rows — one md5 row
    per word position, the irreducible cost of suffix-free exact
    dedup, same as the detection pass; a groupBy(hash) min-struct for
    the canonical occurrence (map-side combined); one hash-keyed join
    back to the occurrences (spans-sized); one groupBy(doc) to union
    covered positions (arrays bounded by doc length); one left join to
    the corpus. No all-pairs anywhere, every shuffle keyed. The
    rebuild is pure array expressions in whole-stage codegen
    (transform-with-index + filter + array_join — no UDF).
    """
    if stride != 1:
        raise ValueError(
            f"remove_duplicate_spans requires stride=1 (got {stride}): "
            "strided offsets skip duplicated spans, breaking the "
            "keep-one-occurrence guarantee — use "
            "substring_span_duplicates for strided detection"
        )
    w = F.split(F.col(text_col), " ")
    pairs = F.when(
        F.col(text_col).isNotNull() & (F.size(w) >= span_words),
        F.transform(
            F.sequence(F.lit(0), F.size(w) - F.lit(span_words), F.lit(stride)),
            lambda i: F.struct(
                i.alias("pos"),
                F.md5(F.array_join(F.slice(w, i + 1, span_words), " ")).alias("h"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,h:string>>"))
    spans = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(pairs).alias("s")
    ).select("doc_id", F.col("s.pos").alias("pos"), F.col("s.h").alias("h"))
    # canonical occurrence = lexicographic min (doc_id, pos) — struct
    # MIN compares fields in declaration order, a total order, so the
    # survivor is partition-invariant
    canon = spans.groupBy("h").agg(F.min(F.struct("doc_id", "pos")).alias("c"))
    dup = (
        spans.join(canon, "h")
        .filter(
            (F.col("doc_id") != F.col("c.doc_id")) | (F.col("pos") != F.col("c.pos"))
        )
        .select("doc_id", "pos")
    )
    cov = (
        dup.groupBy("doc_id")
        .agg(
            F.array_distinct(
                F.flatten(
                    F.collect_list(
                        F.sequence(F.col("pos"), F.col("pos") + F.lit(span_words - 1))
                    )
                )
            ).alias("_rds_covered")
        )
        .withColumnRenamed("doc_id", "_rds_id")
    )
    joined = docs.join(cov, F.col(id_col) == F.col("_rds_id"), "left")
    covered = F.coalesce(F.col("_rds_covered"), F.array().cast("array<int>"))
    # hash-based set difference, O(doc_len + n_covered): array_except
    # preserves first-array order, so surviving positions stay
    # ascending. (A per-word array_contains scan would be
    # O(doc_len * n_covered) — quadratic for a heavily-duplicated long
    # document.)
    kept_idx = F.array_except(F.sequence(F.lit(0), F.size(w) - F.lit(1)), covered)
    kept = F.transform(kept_idx, lambda i: F.element_at(w, i + F.lit(1)))
    cleaned = F.when(F.col(text_col).isNull(), F.lit(None).cast("string")).otherwise(
        F.array_join(kept, " ")
    )
    return joined.select(
        F.col(id_col).alias("doc_id"),
        cleaned.alias(out_col),
        F.size(covered).cast("bigint").alias("n_removed"),
    )

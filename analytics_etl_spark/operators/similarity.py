"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the correctness baseline, and a
sign-bucketed (random-hyperplane-style) LSH variant as the scale path.
All arithmetic is JVM-side higher-order functions over double arrays —
no Python in the hot loop. ``F.aggregate`` folds left-to-right, so
scores are bit-deterministic.

At 100 TB: brute force is one narrow pass per query (fine for batch
scoring, O(N·d) per query); the bucketed variant prunes the scan to
one bucket (2^b-fold fan-in reduction) at a documented recall cost.
A full IVF/HNSW index is out of scope for a shuffle-oriented engine;
bucketing composes with partition pruning when the table is written
partitioned by bucket.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def as_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


# --- unrolled-SQL builders (r16 optimization round) -----------------
#
# The dim-unrolled scoring expressions are built as ONE SQL string and
# parsed by a single F.expr() call. Building the same chain with
# Python Column operators costs ~6 py4j round-trips per term — ~400
# per 64-dim dot, seconds per query BUILD (and the bench times the
# build; measured: similarity_topk_cosine DataFrame construction
# 5.9 s Column-built vs 0.4 s fold-built) — while one expr() parse of
# a few-KB string is milliseconds and yields the IDENTICAL analyzed
# tree (same functions, same literals, same left-assoc order).
#
# Operand convention: a fragment WITHOUT "(" is treated as a column
# NAME and backtick-quoted; anything else is spliced verbatim (the
# generated array(...)/CAST(...) literal fragments). Column objects
# are not accepted on the dim path — there is no reliable Column→SQL
# text mapping.


def _frag(s: str) -> str:
    if "(" in s:
        return s
    return "`" + s.replace("`", "``") + "`"


def sql_double_lit(x: float) -> str:
    """Exact SQL fragment for a double literal: Python repr round-trips
    (shortest correctly-rounded string) and Spark's string→double cast
    is correctly rounded, so the parsed value is bit-identical to
    F.lit(float(x))."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def sql_double_array_lit(vec) -> str:
    """array(...) fragment of exact double literals — the query-vector
    side of the unrolled scoring expressions."""
    return "array(" + ", ".join(sql_double_lit(v) for v in vec) + ")"


def _elem(o, i: int) -> str:
    """i-th element fragment of an operand: a column/array fragment
    indexes with get(); a LITERAL VECTOR (any non-str sequence of
    floats) splices the scalar literal directly. Splicing the whole
    ``sql_double_array_lit`` per term made the expression TREE
    O(dim²) nodes (the 64-element array literal repeated in all 64
    terms — plus the query self-norm chain at O(dim²) twice more),
    which cost SECONDS of Catalyst analysis per probe-query build
    (measured r16: similarity_ann_lsh_indexed 0.5 s → 4.2 s). The
    scalar literal is the value ``CAST(get(array_lit, i) AS DOUBLE)``
    folds to — bit-identical, O(dim) tree."""
    if isinstance(o, str):
        return f"CAST(get({_frag(o)}, {i}) AS DOUBLE)"
    return sql_double_lit(o[i])


def _dot_sql(a, b, dim: int) -> str:
    for o in (a, b):
        if not isinstance(o, str) and len(o) != dim:
            raise ValueError(f"literal vector has {len(o)} elements, dim={dim}")
    return "0.0D" + "".join(
        f" + ({_elem(a, i)} * {_elem(b, i)})" for i in range(dim)
    )


def _cosine_sql(a: str, b: str, dim: int) -> str:
    n2 = f"(({_dot_sql(a, a, dim)}) * ({_dot_sql(b, b, dim)}))"
    return (
        f"CASE WHEN ({n2} > 0) AND (NOT isnan({n2})) "
        f"THEN ({_dot_sql(a, b, dim)}) / SQRT({n2}) END"
    )


def _cosine_pre_sql(a: str, b: str, na2: str, nb2: str, dim: int) -> str:
    n2 = f"({_frag(na2)} * {_frag(nb2)})"
    return (
        f"CASE WHEN ({n2} > 0) AND (NOT isnan({n2})) "
        f"THEN ({_dot_sql(a, b, dim)}) / SQRT({n2}) END"
    )


def cosine_pre(a: str, b: str, na2: str, nb2: str, dim: int) -> Column:
    """``cosine`` with the two norm² operands PRE-computed per side
    (r16, guide §2.2/§4.1): the caller projects ``dot(v, v, dim)``
    onto each join input once per ROW, and the per-PAIR expression
    shrinks to one unrolled dot + a guard — 1/3 of the inline form's
    flops and, decisively, 1/3 of its generated code: the inline
    3-chain form inside a join stage exceeds the JVM's 64 KB method
    limit (measured: janino "Code grows beyond 64 KB" on the bucketed
    pair join, after which Spark re-attempts the failed compile on
    EVERY action — compile failures are not cached — and runs the
    stage interpreted).

    Bit-identity: ``na2``/``nb2`` hold exactly the values the inline
    form computes (same left-to-right chain), ``na2 * nb2`` is the
    same multiply, and the guard/divide/sqrt are unchanged — so
    scores are bit-identical to ``cosine(a, b, dim)`` and to the
    HEAD fold form. All operands are SQL fragments (see ``dot``)."""
    return F.expr(_cosine_pre_sql(a, b, na2, nb2, dim))


def _int8_elem(o, i: int) -> str:
    """Integer twin of ``_elem``: literal int8 vectors splice exact
    BIGINT literals (same value ``CAST(get(...) AS BIGINT)`` yields).
    Non-integral literal elements raise (ADVICE r16): int(o[i]) would
    silently truncate toward zero where the dim=None fold multiplies
    the raw value — a divergence no caller should meet by accident."""
    if isinstance(o, str):
        return f"CAST(get({_frag(o)}, {i}) AS BIGINT)"
    if o[i] != int(o[i]):
        raise ValueError(
            f"int8 literal vector element {i} is non-integral ({o[i]!r}); "
            "quantize before passing (the fold path would multiply the "
            "raw value — refusing to silently diverge)"
        )
    return f"CAST({int(o[i])} AS BIGINT)"


def _int8_dot_sql(a, b, dim: int) -> str:
    for o in (a, b):
        if not isinstance(o, str) and len(o) != dim:
            raise ValueError(f"literal vector has {len(o)} elements, dim={dim}")
    return "CAST(0 AS BIGINT)" + "".join(
        f" + ({_int8_elem(a, i)} * {_int8_elem(b, i)})" for i in range(dim)
    )


def dot(a: Column | str, b: Column | str, dim: int | None = None) -> Column:
    """Sequential-fold dot product (deterministic summation order).

    With ``dim`` given (r16 optimization round, guide §4.1/§1.2-2):
    the SAME left-to-right sum, UNROLLED into a plain expression chain
    ``0.0 + a[0]·b[0] + … + a[dim-1]·b[dim-1]``, built as one SQL
    string (see the builder block above) so constructing it costs one
    py4j call. Higher-order-function lambdas (aggregate/zip_with/
    transform) are CodegenFallback — interpreted per element outside
    whole-stage codegen — and the similarity family pays them per
    CANDIDATE PAIR; the unrolled chain compiles into codegen (measured
    6.9x on the 2000² self-join at sf0.1, 0 value mismatches over 4M
    pairs — null-safe compare).

    Bit-identity: IEEE addition order is unchanged (the fold starts at
    0.0 and adds left-to-right; so does the chain), elements are cast
    to double exactly as ``as_double_array`` casts them (get() is the
    same 0-based NULL-out-of-bounds function as F.get), and a NULL
    element poisons the whole sum on both paths. The ONLY divergence
    class is vectors whose length differs from ``dim`` — zip_with
    NULL-pads the shorter side (fold → NULL) while the chain reads
    exactly ``dim`` positions — so callers pass ``dim`` ONLY where a
    ``valid_embeddings(..., dim=)`` gate (or a literal query array of
    that length) already pins every row to exactly ``dim`` elements;
    registered queries all gate. ``dim=None`` keeps the fold form
    unchanged for generic/ungated callers.

    With ``dim``, each operand is either a SQL FRAGMENT (str — a raw
    column name / array-typed fragment, indexed per term with get()),
    or a LITERAL VECTOR (any non-str sequence of floats — each term
    splices only the i-th scalar literal). Do NOT pass a
    ``sql_double_array_lit`` fragment for a literal vector on this
    path: the whole dim-element array literal would be re-spliced into
    all dim terms, an O(dim²)-node expression tree costing seconds of
    Catalyst analysis per plan build (the r16 lsh_indexed regression,
    see ``_elem``). Elements are cast per access, so no
    ``as_double_array`` transform is needed.
    """
    if dim is not None:
        if isinstance(a, Column) or isinstance(b, Column):
            raise TypeError(
                "dot(dim=...) takes SQL fragment (str) or literal-vector "
                "(sequence) operands, not Column"
            )
        return F.expr(_dot_sql(a, b, dim))
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column, dim: int | None = None) -> Column:
    """cos(a,b) = dot/(sqrt(|a|²·|b|²)) — one sqrt so engines agree.

    ZERO-NORM CONTRACT (r8, hostile-embeddings sweep): a zero-norm
    vector has no defined cosine — the unguarded form yields 0.0/0.0 →
    NaN, and NaN ordering/propagation is exactly the cross-engine
    divergence class the r7 hostile sweep kept finding. The norm
    product is gated (> 0 → score, else NULL), mirrored verbatim as
    CASE WHEN in every oracle. Registered queries additionally exclude
    unscorable vectors up front via ``scorable_vector`` (NULL / wrong
    dim / non-finite component / zero norm), so post-gate this guard
    is pure defense in depth and a no-op on clean data.

    NaN norms are also NULLed (ADVICE r8): ``NaN > 0`` is TRUE in both
    Spark and DuckDB, so a bare ``> 0`` guard would pass a NaN norm
    through and return NaN — while the pandas scoring path
    (``cosine_topk_pandas``) masks NaN denominators to NULL (numpy
    ``NaN > 0`` is False). The extra ``~isnan`` keeps the two scoring
    paths bit-identical for UNGATED callers too. Post-gate it is
    unreachable (``finite_vector`` already rejects NaN components), so
    the registered oracles' ``CASE WHEN n2 > 0`` mirror stays exact.

    ``dim``: the unrolled-codegen opt-in (see ``dot``) — operands are
    SQL fragments (column name / generated literal), only under a
    dim-pinning gate; scores are bit-identical to the fold form for
    every gated row.
    """
    if dim is not None:
        if isinstance(a, Column) or isinstance(b, Column):
            raise TypeError(
                "cosine(dim=...) takes SQL fragment (str) or literal-vector "
                "(sequence) operands, not Column"
            )
        return F.expr(_cosine_sql(a, b, dim))
    n2 = dot(a, a) * dot(b, b)
    return F.when((n2 > 0) & ~F.isnan(n2), dot(a, b) / F.sqrt(n2))


def finite_vector(col: Column | str, dim: int | None = None) -> Column:
    """True iff the vector is non-NULL, every component is non-NULL and
    finite (no NaN/±Inf), and (when ``dim`` is given) it has exactly
    ``dim`` components. Pure expressions; nothing here can raise, so
    predicate reordering under ANSI mode is safe."""
    c = F.col(col) if isinstance(col, str) else col
    v = as_double_array(c)
    ok = c.isNotNull() & F.forall(
        v,
        lambda x: x.isNotNull() & ~F.isnan(x) & (F.abs(x) != F.lit(float("inf"))),
    )
    if dim is not None:
        ok = ok & (F.size(c) == dim)
    return ok


def scorable_vector(col: Column | str, dim: int | None = None) -> Column:
    """``finite_vector`` plus a positive L2 norm — the admission gate
    every similarity/ANN query applies BEFORE scoring.

    A real crawl-derived embedding table WILL contain zero-norm rows
    (failed encoder calls), NULL/NaN components (schema drift), and
    wrong-dimension vectors (model-version mixes); none of them has a
    defined cosine, and several crash one engine but not the other
    (ragged numpy batches, DuckDB list_dot_product on NULL elements,
    ANSI element_at past the end). Gating at the scan is also the
    100 TB shape: the predicate is columnar, pushes ahead of every
    kernel, and drops junk before it costs a shuffle. No-op on clean
    data (asserted by the hostile-embeddings sweep, tools/
    hostile_data.py)."""
    c = F.col(col) if isinstance(col, str) else col
    v = as_double_array(c)
    return finite_vector(c, dim) & (dot(v, v) > 0)


def valid_embeddings(
    df: DataFrame, vec_col: str = "embedding", dim: int | None = None
) -> DataFrame:
    """df filtered to scorable vectors — the shared query-entry gate."""
    return df.filter(scorable_vector(vec_col, dim))


def cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_ids: tuple[int, ...] = (),
    dim: int | None = None,
) -> DataFrame:
    """Brute-force top-k by cosine against a literal query vector.

    The query vector is folded into the plan as a literal array —
    Catalyst constant-folds it; the scan is a single narrow pass and
    top-k runs as TakeOrderedAndProject (no full sort).

    ``dim``: unrolled-codegen scoring (see ``dot``) — pass only when a
    dim gate pins every corpus row to exactly ``dim`` elements.
    """
    if dim is not None and len(query_vec) != dim:
        raise ValueError(f"dim={dim} but query vector has {len(query_vec)} elements")
    if dim is not None:
        # literal-vector operand (see ``_elem``): per-element scalar
        # literals keep the expression TREE O(dim); splicing the whole
        # array literal per term was O(dim²) and cost seconds of
        # Catalyst analysis per build
        score = cosine(vec_col, [float(v) for v in query_vec], dim)
    else:
        q = F.array(*[F.lit(float(v)) for v in query_vec])
        score = cosine(as_double_array(vec_col), q)
    out = embeddings.select(
        F.col(id_col),
        score.alias("score"),
    )
    for ex in exclude_ids:
        out = out.filter(F.col(id_col) != ex)
    return out.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def cosine_topk_join(
    embeddings: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qvec_col: str = "qv",
    exclude_ids: tuple[int, ...] = (),
    dim: int | None = None,
) -> DataFrame:
    """cosine_topk with the query vector kept IN the plan.

    ``query_df`` is a 1-row frame holding the query vector (e.g. a
    filtered row of the embeddings table). Cross-joining it (broadcast
    of one row) means fetching the vector never runs a separate
    driver-side job — the whole query is one lazy plan, and Spark
    still executes the top-k as TakeOrderedAndProject.

    ``dim``: unrolled-codegen scoring (see ``dot``) — pass only when a
    dim gate pins both sides to exactly ``dim`` elements.
    """
    score = (
        cosine(vec_col, qvec_col, dim)
        if dim is not None
        else cosine(as_double_array(vec_col), as_double_array(qvec_col))
    )
    out = embeddings.crossJoin(F.broadcast(query_df)).select(
        F.col(id_col), score.alias("score")
    )
    for ex in exclude_ids:
        out = out.filter(F.col(id_col) != ex)
    return out.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def sign_bucket(vec_col: Column | str, bits: int = 8) -> Column:
    """LSH bucket id from the sign pattern of the first `bits` dims.

    A fixed-projection stand-in for random hyperplanes (deterministic
    and cross-engine reproducible); bucket = Σ 2^i·[v_i > 0].

    ``F.get`` (0-based, NULL past the end) rather than ``element_at``:
    under ANSI mode element_at RAISES on out-of-bounds, so one
    wrong-dimension hostile row would abort the whole scan even when a
    validity gate sits in the same filter conjunction (Catalyst may
    reorder predicates). get() never raises; a short vector's missing
    dims contribute 0 and the row is dropped by the gate anyway.
    """
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    b = F.lit(0)
    for i in range(bits):
        b = b + F.when(F.get(c, i) > 0, F.lit(2**i)).otherwise(F.lit(0))
    return b.cast("int")


def bucketed_cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 5,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_ids: tuple[int, ...] = (),
    dim: int | None = None,
) -> DataFrame:
    """ANN: search only the query's sign-bucket, then exact cosine.

    With the table physically partitioned by bucket this is partition
    pruning — the scan touches 1/2^bits of the data.
    """
    qbucket = 0
    for i in range(bits):
        if float(query_vec[i]) > 0:
            qbucket += 2**i
    pruned = embeddings.filter(sign_bucket(vec_col, bits) == F.lit(qbucket))
    return cosine_topk(pruned, query_vec, k, id_col, vec_col, exclude_ids, dim=dim)


def bucketed_cosine_topk_join(
    embeddings: DataFrame,
    query_df: DataFrame,
    k: int = 5,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qvec_col: str = "qv",
    exclude_ids: tuple[int, ...] = (),
    dim: int | None = None,
) -> DataFrame:
    """Sign-bucket ANN with the query vector kept in the plan.

    Bucket equality becomes a post-broadcast filter; when the table is
    written partitioned by bucket, the broadcast side feeds dynamic
    partition pruning so the scan still touches ~1/2^bits of the data.
    """
    pruned = embeddings.crossJoin(F.broadcast(query_df)).filter(
        sign_bucket(vec_col, bits) == sign_bucket(qvec_col, bits)
    )
    score = (
        cosine(vec_col, qvec_col, dim)
        if dim is not None
        else cosine(as_double_array(vec_col), as_double_array(qvec_col))
    )
    out = pruned.select(F.col(id_col), score.alias("score"))
    for ex in exclude_ids:
        out = out.filter(F.col(id_col) != ex)
    return out.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def multiprobe_bucket_set(
    qvec_col: Column | str, bits: int = 8, n_probes: int = 4
) -> Column:
    """The query's sign bucket plus its (n_probes-1) nearest neighbor
    buckets, as an array<int> — all computed in-plan.

    Multi-probe LSH: the buckets most likely to hold missed neighbors
    are the ones reached by flipping the bits whose dimensions have
    the SMALLEST |value| (the query sits closest to those hyperplanes).
    Sort dims by |v_i|, flip the lowest-margin bits one at a time.
    Recall rises with n_probes at a linear scan-cost increase
    (n_probes/2^bits of the table instead of 1/2^bits).
    """
    n_probes = min(n_probes, bits + 1)  # at most one flip per bit + base
    c = F.col(qvec_col) if isinstance(qvec_col, str) else qvec_col
    base = sign_bucket(c, bits)
    # (margin, bit) pairs sorted ascending by margin — struct sort
    # orders by the first field.
    margins = F.array_sort(
        F.array(
            *[
                F.struct(
                    # F.get: NULL past the end instead of an ANSI raise
                    # (see sign_bucket) — gated queries never hit it
                    F.abs(F.get(c, i).cast("double")).alias("m"),
                    F.lit(i).alias("i"),
                )
                for i in range(bits)
            ]
        )
    )
    # 2^i as pow→int (F.shiftleft needs a literal bit count, and i is
    # a column here); exact for i < 31.
    probes = [base] + [
        base.bitwiseXOR(
            F.pow(F.lit(2.0), F.element_at(margins, j + 1)["i"]).cast("int")
        )
        for j in range(n_probes - 1)
    ]
    return F.array(*probes)


def multiprobe_cosine_topk(
    embeddings: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    bits: int = 8,
    n_probes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qvec_col: str = "qv",
    exclude_ids: tuple[int, ...] = (),
    dim: int | None = None,
) -> DataFrame:
    """Multi-probe sign-bucket ANN: scan the query bucket AND the
    lowest-margin neighbor buckets, then exact cosine + top-k.

    Lifts recall over single-probe at n_probes× the pruned scan cost —
    still a 2^bits/n_probes-fold reduction vs brute force.
    """
    probe_set = multiprobe_bucket_set(qvec_col, bits, n_probes)
    pruned = embeddings.crossJoin(F.broadcast(query_df)).filter(
        F.array_contains(probe_set, sign_bucket(vec_col, bits))
    )
    score = (
        cosine(vec_col, qvec_col, dim)
        if dim is not None
        else cosine(as_double_array(vec_col), as_double_array(qvec_col))
    )
    out = pruned.select(F.col(id_col), score.alias("score"))
    for ex in exclude_ids:
        out = out.filter(F.col(id_col) != ex)
    return out.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def rademacher_planes(
    dim: int, bits: int, tables: int, seed: int = 7
) -> list[list[list[float]]]:
    """Deterministic ±1 hyperplanes, tables × bits × dim.

    Rademacher (sign) vectors are valid LSH directions — for sign-of-
    dot hashing only the direction's distribution matters, and ±1
    coordinates sample directions as uniformly as gaussians do in high
    dim. Two wins over gaussian planes:
    - ±1·x is exact in float arithmetic (no coefficient rounding), so
      the only float work is the summation, whose left-fold order
      Spark's ``F.aggregate`` and DuckDB's ``list_dot_product`` share
      bit-for-bit (verified round 1);
    - the sign comes from md5 (identical in every engine), so an
      oracle can regenerate — or compactly embed — the same planes.

    Sign rule: plane[t][i][j] = +1 iff the first hex digit of
    md5("seed:t:i:j") is < 8.
    """
    import hashlib

    return [
        [
            [
                1.0
                if int(hashlib.md5(f"{seed}:{t}:{i}:{j}".encode()).hexdigest()[0], 16) < 8
                else -1.0
                for j in range(dim)
            ]
            for i in range(bits)
        ]
        for t in range(tables)
    ]


def hyperplane_signatures(planes: list[list[list[float]]]):
    """Arrow-vectorized LSH signature kernel: vec -> array<int> of
    per-table bucket ids, via ONE (batch × dim) @ (dim × tables·bits)
    matrix multiply per Arrow batch.

    This is the documented Pandas-UDF escape hatch (SURVEY.md §2.7):
    hundreds of simultaneous projections per row are exactly what SQL
    fold expressions can't express efficiently — a literal-expression
    bucket per plane costs O(tables·bits) aggregate folds in the plan
    (tens of seconds of py4j plan construction + codegen for 24×6
    planes, measured) while the matmul is one BLAS call per batch.
    Bucket SIGNS are the only thing computed here; candidate scores
    stay on the exact JVM fold path (``cosine``), so oracle parity is
    unaffected except for dots within float-rounding of zero
    (|Σ ±v_j| < ~1e-13 — vanishing).

    At 100 TB this kernel is how signatures get PRECOMPUTED at write
    time into a `sig` column (then bucket joins / partition pruning do
    query-time work); computing it inline per query is the fallback.
    """
    import numpy as np
    import pandas as pd

    flat = np.array(
        [p for tp in planes for p in tp], dtype=np.float64
    )  # (tables*bits, dim)
    n_tables, n_bits = len(planes), len(planes[0])
    weights = (2 ** np.arange(n_bits)).astype(np.int64)

    def _sig(v):
        mat = np.array(v.tolist(), dtype=np.float64)  # (n, dim)
        bits = (mat @ flat.T) > 0  # (n, tables*bits)
        buckets = bits.reshape(len(mat), n_tables, n_bits) @ weights  # (n, tables)
        return pd.Series(list(buckets.astype(np.int32)))

    # live annotations (the module-level `from __future__ import
    # annotations` would stringify inline hints past pandas_udf's
    # signature inference)
    _sig.__annotations__ = {"v": pd.Series, "return": pd.Series}
    return F.pandas_udf(_sig, "array<int>")


def hyperplane_lsh_topk(
    embeddings: DataFrame,
    query_df: DataFrame,
    dim: int,
    k: int = 10,
    bits: int = 6,
    tables: int = 24,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qvec_col: str = "qv",
    exclude_ids: tuple[int, ...] = (),
    planes: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Multi-table random-hyperplane LSH ANN (OR-amplification).

    A row is a candidate if it lands in the query's bucket in ANY of
    the `tables` independent b-bit hash tables: recall ≈
    1-(1-p^b)^L for per-bit collision p = 1-θ/π, while non-neighbors
    (p≈0.5) survive with prob ≈ L/2^b. This is the knob single-probe
    bucketing lacks: L lifts recall without coarsening the buckets.
    Bucketing runs through the Arrow matmul kernel
    (``hyperplane_signatures``); candidate scoring stays on the exact
    JVM fold (``cosine``) so results remain oracle-checkable. Zero
    shuffle before the final top-k. Measured recall/scan-cost:
    tests/test_ann_recall.py.
    """
    if planes is None:
        planes = rademacher_planes(dim, bits, tables, seed)
    sig = hyperplane_signatures(planes)
    # sign the query on the 1-ROW frame BEFORE the cross join — signed
    # after it, the broadcast query vector would re-run the full
    # tables×bits matmul once per corpus row, doubling the kernel work
    q_signed = query_df.withColumn("_sig_q", sig(as_double_array(qvec_col)))
    joined = embeddings.crossJoin(F.broadcast(q_signed)).withColumn(
        "_sig_e", sig(as_double_array(vec_col))
    )
    # candidate iff the buckets agree in ANY table (positional match)
    match_any = F.exists(
        F.zip_with("_sig_e", "_sig_q", lambda a, b: a == b), lambda x: x
    )
    # fold scoring (r16: deliberately NOT unrolled): this is the
    # single-query arm — candidates are a 1/2^bits slice of the
    # corpus scored once per ROW, a linear path where the unrolled
    # chain's fixed driver plan/codegen cost (~0.8 s measured)
    # outweighs any per-row win; the unrolled form is reserved for
    # the superlinear pair-JOIN hot loops (knn_join*, cosine_pre)
    out = joined.filter(match_any).select(
        F.col(id_col),
        cosine(as_double_array(vec_col), as_double_array(qvec_col)).alias("score"),
    )
    for ex in exclude_ids:
        out = out.filter(F.col(id_col) != ex)
    return out.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def cosine_topk_pandas(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_ids: tuple[int, ...] = (),
) -> DataFrame:
    """The Arrow/Pandas-UDF variant of cosine_topk — the documented
    "slow path" (SURVEY.md §2.7: UDFs only where built-ins can't go).

    Kept as a reference implementation + fallback for scoring logic
    that outgrows SQL expressions (e.g. a real model head). Numpy
    vectorizes across the Arrow batch, so this is batch-at-a-time,
    never row-at-a-time. The JVM higher-order-function path
    (cosine_topk) remains the default: no serialization toll, plans
    fuse into codegen.
    """
    import pandas as pd  # noqa: F401
    from pyspark.sql.functions import pandas_udf

    q = [float(v) for v in query_vec]

    @pandas_udf("double")
    def score(vecs):
        import numpy as np
        import pandas as _pd

        qv = np.asarray(q, dtype="float64")
        qn = np.sqrt(qv @ qv)
        m = np.asarray([np.asarray(v, dtype="float64") for v in vecs])
        dots = m @ qv
        norms = np.sqrt((m * m).sum(axis=1))
        # zero-norm guard, mirroring the JVM cosine(): undefined
        # cosine → NULL (masked NaN crosses Arrow as null), never a
        # divide warning or a NaN leaking into top-k ordering
        den = norms * qn
        ok = den > 0  # False for 0 and for NaN dens alike
        return _pd.Series(dots / np.where(ok, den, 1.0)).mask(~ok)

    out = embeddings.select(F.col(id_col), score(F.col(vec_col)).alias("score"))
    for ex in exclude_ids:
        out = out.filter(F.col(id_col) != ex)
    return out.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def write_lsh_index(
    embeddings: DataFrame,
    path: str,
    planes: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the multi-table LSH index AT WRITE TIME, partitioned
    by (table_id, bucket) — the at-scale completion of the ANN story.

    One pass of the Arrow signature kernel over the corpus, then
    posexplode to L rows per vector (one per hash table) written under
    `table_id=<t>/bucket=<b>/` directories. Storage is L× the vector
    payload — the standard LSH index trade (L tables = L postings
    lists); query-time cost drops from "scan corpus + compute L·b dots
    per row" to "read exactly L directories": the probe filter is a
    PARTITION filter, so Spark's file listing skips every other bucket
    and the signature kernel never runs at query time
    (tests/test_ann_recall.py asserts both on the plan).
    """
    sig = hyperplane_signatures(planes)
    idx = embeddings.withColumn("_sig", sig(as_double_array(vec_col))).select(
        F.col(id_col), F.col(vec_col), F.posexplode("_sig").alias("table_id", "bucket")
    )
    # repartition on the partition keys first: without it every write
    # task touches every (table_id, bucket) directory → tasks × L·2^b
    # tiny files; with it each directory receives exactly the files of
    # the tasks owning that key (the same small-file discipline as
    # sinks.writer.compact_partitions)
    idx.repartition("table_id", "bucket").write.mode("overwrite").partitionBy(
        "table_id", "bucket"
    ).parquet(path)


def query_signature(query_vec: list[float], planes: list[list[list[float]]]) -> list[int]:
    """The query vector's per-table bucket ids, computed DRIVER-SIDE.

    L·b·dim flops on one vector — index-metadata-sized work (the same
    legitimate driver class as the IVF centroid collect), and the
    price of getting LITERAL bucket predicates into the plan, which is
    what turns the probe into static partition pruning (no runtime
    subquery needed).
    """
    import numpy as np

    flat = np.array([p for tp in planes for p in tp], dtype=np.float64)
    n_tables, n_bits = len(planes), len(planes[0])
    weights = (2 ** np.arange(n_bits)).astype(np.int64)
    bits = (np.asarray(query_vec, dtype=np.float64) @ flat.T) > 0
    return [int(x) for x in bits.reshape(n_tables, n_bits) @ weights]


def lsh_index_topk(
    index: DataFrame,
    query_vec: list[float],
    planes: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_ids: tuple[int, ...] = (),
    dim: int | None = None,
) -> DataFrame:
    """ANN top-k over a write-time LSH index (``write_lsh_index``).

    The probe predicate OR-combines L literal (table_id, bucket)
    equalities — both are partition columns, so the scan reads exactly
    L directories out of L·2^b. A vector matching in several tables
    appears once per match; the max_by(score-keyed) groupBy dedups to
    one candidate row before the exact-cosine top-k. Candidate scoring
    stays on the exact JVM fold (``cosine``), identical to the inline
    ``hyperplane_lsh_topk`` — same results, none of the query-time
    kernel work.
    """
    import functools
    import operator

    buckets = query_signature(query_vec, planes)
    probe = functools.reduce(
        operator.or_,
        [
            (F.col("table_id") == F.lit(t)) & (F.col("bucket") == F.lit(b))
            for t, b in enumerate(buckets)
        ],
    )
    if dim is not None and len(query_vec) != dim:
        raise ValueError(f"dim={dim} but query vector has {len(query_vec)} elements")
    if dim is not None:
        # literal-vector operand — O(dim) tree, see ``_elem``
        score = cosine(vec_col, [float(v) for v in query_vec], dim)
    else:
        q = F.array(*[F.lit(float(v)) for v in query_vec])
        score = cosine(as_double_array(vec_col), q)
    out = (
        index.filter(probe)
        .select(F.col(id_col), score.alias("score"))
        .groupBy(id_col)
        .agg(F.max("score").alias("score"))
    )
    for ex in exclude_ids:
        out = out.filter(F.col(id_col) != ex)
    return out.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


# --- int8 quantization: the 4x storage/bandwidth cut for ANN at scale ---
#
# Symmetric per-vector scalar quantization: scale = max|v|/127,
# q_i = halfup(v_i/scale) in [-127, 127]. Chosen over fancier codes
# (PQ/OPQ) because it is integer-EXACT end to end: the quantized dot
# product is a bounded BIGINT sum (|q|<=127, so dim 64 caps the sum at
# ~10^6), which makes the whole rerank pipeline oracle-checkable —
# rounding is written as floor(x + 0.5), the same IEEE double ops in
# Spark, DuckDB, or NumPy, so signatures agree bit-for-bit across
# engines (the same portability argument as the md5 hash family).


def int8_scale(vec: Column) -> Column:
    """Per-vector quantization scale: max|v| / 127 (double)."""
    return F.array_max(F.transform(vec, lambda x: F.abs(x))) / F.lit(127.0)


def int8_quantize(vec: Column, scale: Column) -> Column:
    """v → array<int> of halfup(v_i/scale); all-zero vectors → zeros.

    floor(x + 0.5) rather than round(): engines disagree on round()'s
    tie rule (HALF_UP vs HALF_EVEN), floor is IEEE-exact everywhere.
    """
    return F.when(
        scale == 0, F.transform(vec, lambda x: F.lit(0))
    ).otherwise(
        F.transform(vec, lambda x: F.floor(x / scale + F.lit(0.5)).cast("int"))
    )


def int8_dot(
    qa: Column | str, qb: Column | str, dim: int | None = None
) -> Column:
    """Exact integer dot product of two quantized vectors (bigint).

    ``dim``: unrolled-codegen form (see ``dot``) — exact integers, so
    the sum is association-free; the dim caveat (length ≠ dim rows)
    is the only divergence class, same contract as ``dot``.
    """
    if dim is not None:
        # operands cast to long BEFORE the multiply: |q| <= 127 so the
        # product (<= 16129) is identical either way, and long math
        # matches the codes-column fold path exactly. One SQL string —
        # one py4j call (see ``dot``); operands are fragments (str) or
        # literal INT vectors (sequences — each term splices one exact
        # BIGINT literal; non-integral elements raise, see _int8_elem).
        if isinstance(qa, Column) or isinstance(qb, Column):
            raise TypeError(
                "int8_dot(dim=...) takes SQL fragment (str) or literal-"
                "vector (sequence) operands, not Column"
            )
        return F.expr(_int8_dot_sql(qa, qb, dim))
    return F.aggregate(
        F.zip_with(qa, qb, lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def with_int8_codes(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    codes_col: str = "codes",
    scale_col: str = "scale",
) -> DataFrame:
    """embeddings + persisted-ready ``codes`` (array<int>) and
    ``scale`` (double) columns — the INGEST form of int8 quantization,
    mirroring ``with_shingle_column`` / ``write_lsh_index``.

    Quantize ONCE at write time; every downstream quantized scan reads
    the int codes and column-prunes the float vectors entirely (the
    4x I/O cut — asserted on the plan in tests/test_ann_recall.py).
    ``scale`` rides along so survivors of the cheap pass can be
    dequantized (q_i * scale ≈ v_i) for an exact rerank without
    touching the float column for non-survivors. All source columns
    are kept, so this composes with a normal partitioned table write.
    """
    v = as_double_array(vec_col)
    return embeddings.withColumn(scale_col, int8_scale(v)).withColumn(
        codes_col, int8_quantize(v, F.col(scale_col))
    )


def int8_topk(
    embeddings: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qvec_col: str = "qv",
    exclude_ids: tuple[int, ...] = (),
    codes_col: str | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Top-k by QUANTIZED dot product — the cheap first pass of a
    quantize-then-rerank pipeline (scan reads int8 arrays, 4x less
    I/O than float32; survivors get exact float rerank if needed).

    Returns (id, iscore) with iscore the exact bigint dot of the two
    int8 codes. One narrow pass + TakeOrderedAndProject, zero shuffle.

    ``codes_col`` names an ALREADY-QUANTIZED int-codes column on
    ``embeddings`` (written at ingest by ``with_int8_codes``): the
    corpus-side quantization expressions then run ZERO times at query
    time and the scan reads only (id, codes) — the float vector column
    is column-pruned out of the parquet read. Identical results to the
    inline path (quantization is deterministic), only the scan width
    changes.

    ``dim``: unrolled-codegen integer dot (see ``int8_dot``/``dot``) —
    pass only under a dim gate. On the inline path the corpus codes
    are materialized into a projected column first, so the quantize
    transform still runs once per row (an unrolled access into the
    transform EXPRESSION would re-evaluate it per element).
    """
    if codes_col is not None:
        qe: Column | str = (
            codes_col
            if dim is not None
            else F.transform(F.col(codes_col), lambda x: x.cast("long"))
        )
        corpus = embeddings
    elif dim is not None:
        e = as_double_array(vec_col)
        corpus = embeddings.withColumn("__codes", int8_quantize(e, int8_scale(e)))
        qe = "__codes"
    else:
        e = as_double_array(vec_col)
        corpus = embeddings
        qe = int8_quantize(e, int8_scale(e))
    q = as_double_array(qvec_col)
    # quantize the query on the 1-row frame BEFORE the broadcast join:
    # evaluated once, not re-derived (array_max + transform) per corpus
    # row inside the post-join select — mirrors ivf_topk's q_probed.
    qdf = query_df.withColumn("_qq", int8_quantize(q, int8_scale(q)))
    iscore = (
        int8_dot(qe, "_qq", dim)
        if dim is not None
        else int8_dot(qe, F.col("_qq"))
    )
    out = corpus.crossJoin(F.broadcast(qdf)).select(
        F.col(id_col), iscore.alias("iscore")
    )
    for ex in exclude_ids:
        out = out.filter(F.col(id_col) != ex)
    return out.orderBy(F.desc("iscore"), F.asc(id_col)).limit(k)


def int8_rerank_topk(
    embeddings: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qvec_col: str = "qv",
    exclude_ids: tuple[int, ...] = (),
    codes_col: str | None = None,
    dim: int | None = None,
) -> DataFrame:
    """The FULL quantize-then-rerank deployment pattern in one plan:
    int8 coarse pass selects a ``shortlist`` (reads codes, 4x less
    I/O), exact float cosine re-scores ONLY the shortlist, final top-k
    by the exact score.

    Returns (id, score) with score the exact cosine — identical
    ranking quality to brute force whenever the true top-k survives
    the shortlist (shortlist/k = 5 by default; the coarse pass's
    integer ranking approximates the float one to quantization error,
    so survivors are near-certain in practice and the whole thing is
    oracle-checkable: both passes are deterministic).

    Scale shape: coarse = narrow scan + TakeOrdered(shortlist);
    rerank = shortlist-sized semi-join back to the float vectors +
    shortlist·dim flops. The rerank fetch is a join against the
    corpus scan — at deployment the float table is bucketed by id
    (sinks/bucketed.py) so the fetch prunes to the shortlist's
    buckets instead of re-scanning; with ``codes_col`` persisted
    (``with_int8_codes``) the coarse pass never touches floats at
    all.
    """
    coarse = int8_topk(
        embeddings,
        query_df,
        k=shortlist,
        id_col=id_col,
        vec_col=vec_col,
        qvec_col=qvec_col,
        exclude_ids=exclude_ids,
        codes_col=codes_col,
        dim=dim,
    )
    cand = embeddings.join(coarse.select(id_col), id_col, "left_semi")
    score = (
        cosine(vec_col, qvec_col, dim)
        if dim is not None
        else cosine(as_double_array(vec_col), as_double_array(qvec_col))
    )
    out = cand.crossJoin(F.broadcast(query_df)).select(
        F.col(id_col), score.alias("score")
    )
    return out.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def plan_bucket_bits(
    n_vectors: int,
    target_occupancy: int = 4,
    max_bits: int = 24,
) -> int:
    """Pick ``bucket_bits`` for the sign-LSH kNN join so candidate
    volume stays LINEAR in corpus size — the knob-scaling rule a
    100 TB deployment applies, made executable (the ``plan_bands``
    pattern for the embedding family).

    Why this planner exists (r14, measured): with FIXED bits the
    self-join's candidate volume is ~N²/2^bits — quadratic in N. The
    100x scale rehearsal caught the knee live: ``knn_graph_clusters``
    at bucket_bits=10 ran 1.9 s / 5.1 s / 103.7 s at sf0.1/x10/x100 —
    wall-time exponent 1.31 over the second decade (superlinear),
    exactly the N²/1024 the docstring always declared. Expected
    per-bucket occupancy is N/2^bits, so holding occupancy at a
    CONSTANT ``target_occupancy`` — bits = log2(N / target) — makes
    expected candidates ≈ N·target: linear by construction.

    The recall trade is explicit and has its own knob: more bits →
    fewer collisions among true neighbors → single-probe recall
    drops; recover it with ``n_probes > 1`` (multiprobe costs
    ~n_probes× LINEAR candidates — still no quadratic term) or with
    the IVF/semantic family (`operators/ivf.py`), which is the
    preferred production path for whole-corpus clustering at this
    size. Clamped to [1, max_bits] (signature cost is linear in
    bits; beyond ~24 the bucket key exceeds any realistic occupancy
    win).

    INTEGER-EXACT since r15 (the module's determinism stance,
    cf. the odds-ratio idf and fixed-point perplexity): the sizing
    rule is round(log2(n/target)), evaluated as "bits >= b iff
    n² >= target²·2^(2b-1)" in plain integer arithmetic — no float
    log2 whose banker's-rounding at a boundary representation could
    disagree with the DuckDB replica that the planner-sized
    registered queries (knn_graph_clusters) carry in their oracle
    SQL. The b-0.5 boundary is irrational, so >= is exact."""
    if n_vectors < 1:
        raise ValueError(f"n_vectors must be >= 1, got {n_vectors}")
    if target_occupancy < 1:
        raise ValueError(f"target_occupancy must be >= 1, got {target_occupancy}")
    n2 = n_vectors * n_vectors
    t2 = target_occupancy * target_occupancy
    bits = 1
    while bits < max_bits and n2 >= t2 << (2 * (bits + 1) - 1):
        bits += 1
    return bits


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    qvec_col: str = "qv",
    bucket_bits: int | str | None = None,
    exclude_self: bool = True,
    n_probes: int = 1,
    max_bucket_size: int | None = None,
    anti_affinity: tuple[str, str] | None = None,
    dim: int | None = None,
) -> DataFrame:
    """k-nearest-neighbor JOIN: top-k cosine neighbors for EVERY row
    of ``queries`` at once — the set-valued sibling of
    cosine_topk_join (one query) and the primitive behind kNN-graph
    construction (SemDeDup's pair discovery, kNN-LM datastore lookups,
    retrieval-augmented dedup audits).

    Two shapes, one contract:
    - ``bucket_bits=None`` (EXACT): the query frame is broadcast
      (BroadcastNestedLoopJoin — the query side must be the bounded
      side; a full self-kNN over 10^11 vectors has no exact answer
      cheaper than n², which is precisely what the bucketed form is
      for) and every (query, corpus) cosine is scored.
    - ``bucket_bits=b`` (SCALE): both sides get the deterministic
      sign-pattern LSH bucket (sign_bucket) and candidates come from
      a bucket EQUI-join — shuffle-partitioned by bucket, candidate
      volume Σ|bucket_q|·|bucket_c|, never all-pairs; recall is the
      single-probe LSH trade measured for the ANN family in
      tests/test_ann_recall.py. With the corpus written partitioned
      by bucket this is the persisted-index layout.
    - ``bucket_bits="auto"`` (SCALE, planner-sized — the r15 default
      for the registered kNN-graph family): bits come from
      ``plan_bucket_bits(corpus.count())``, holding expected bucket
      occupancy constant so candidate volume stays LINEAR in corpus
      size at any SF. The r14 100x rehearsal measured exactly why a
      FIXED b is a scale knee: self-join candidates grow ~N²/2^b
      (exp 1.31, 5.1 s → 103.7 s over the second decade at b=10).
      The count is one deterministic corpus-sized action at plan
      time (the bounded-collect stance: a single long), and the
      sizing rule is integer-exact, so oracle parity survives —
      DuckDB replays the same bits from the same count. Fixed
      ``bucket_bits=b`` remains the documented small-SF parity arm
      and the knob for callers who pre-partitioned a persisted index
      at a known b.
    - ``n_probes>1`` (RECALL, with bucket_bits): each query probes
      its own bucket AND its (n_probes-1) lowest-margin neighbor
      buckets (multiprobe_bucket_set — the flip-the-closest-
      hyperplane machinery the single-query ANN family uses). The
      probe set explodes query-side into the SAME bucket equi-join,
      so candidate volume scales ~n_probes× and stays equi-join-
      shuffled, never all-pairs; probes are distinct by construction
      (base XOR distinct single bits), so no candidate dedup is
      needed. Recall is monotone in n_probes (a probe set only ever
      grows) — measured in tests/test_ann_recall.py.

    ``exclude_self`` filters candidates where query_id == vec_id —
    ONLY meaningful for self-kNN, where queries are drawn from the
    corpus and carry ITS ids (the kNN-graph build). When the query
    frame comes from an unrelated id namespace, pass
    exclude_self=False: a coincidental id collision would silently
    drop a legitimate corpus neighbor (ADVICE r11).

    ``max_bucket_size`` (bucketed forms only) is the hot-bucket
    blow-up guard — the same trade the hyperplane arm and
    lsh_candidate_pairs carry (r13): a template-heavy corpus puts
    10^5+ near-identical vectors in ONE sign bucket, and a self-join
    expands it quadratically. Sign buckets whose CORPUS membership
    exceeds the cap contribute no candidates (their members are
    near-duplicate templates better handled by exact/MinHash dedup
    upstream); the census is a map-side-combined groupBy on the join
    key and the hot list is structurally <= 2^bucket_bits rows, so
    the broadcast anti-join is always driver-safe. Default None keeps
    exact LSH semantics for the oracle-checked queries. Exact form +
    cap raises (nothing to cap — the raise-instead-of-silently-
    misbehave stance).

    ``anti_affinity=(corpus_col, query_col)`` drops candidates whose
    two columns MATCH (null-safe: NULL == NULL counts as a match) —
    the HARD-NEGATIVE MINING contract (retrieval training: nearest
    neighbors from a DIFFERENT source/group than the query, so the
    rank is computed over eligible negatives only, not post-filtered
    with gaps). Both frames must carry their column; the names must
    differ (the raise-instead-of-silently-misbehave stance — a shared
    name would be ambiguous after the join). Filtering happens BEFORE
    the ranking window, exactly like exclude_self.

    Ranking is a per-query window (row_number over score DESC, id ASC
    — total order, tie-stable in any engine); a query whose bucket
    holds fewer than k candidates returns what exists, and a query
    with an empty candidate set returns no rows (both documented
    DuckDB-replayable outcomes). Output:
    (query_id, vec_id, rank int, score double)."""
    if anti_affinity is not None and anti_affinity[0] == anti_affinity[1]:
        raise ValueError(
            "anti_affinity columns must have DISTINCT names on the two "
            f"frames (got {anti_affinity!r}) — alias one side"
        )
    if isinstance(bucket_bits, str):
        if bucket_bits != "auto":
            raise ValueError(
                f"bucket_bits must be an int, None (exact), or 'auto' "
                f"(planner-sized); got {bucket_bits!r}"
            )
        bucket_bits = plan_bucket_bits(corpus.count())
    # ``dim``: unrolled-codegen scoring (see ``dot``/``cosine_pre``) —
    # the kNN join scores every CANDIDATE PAIR, so the fold is paid
    # k·N-to-N² times; callers gate both sides to exactly ``dim``.
    # Norm² is projected per ROW onto each side before the join (the
    # per-pair expression is then ONE unrolled dot + guard — smaller
    # generated code, 1/3 the flops; values bit-identical).
    if dim is not None:
        corpus = corpus.withColumn("__cn2", dot(vec_col, vec_col, dim))
        queries = queries.withColumn("__qn2", dot(qvec_col, qvec_col, dim))
        pair_score = cosine_pre(vec_col, qvec_col, "__cn2", "__qn2", dim)
    else:
        pair_score = cosine(as_double_array(vec_col), as_double_array(qvec_col))
    if bucket_bits is None:
        if n_probes > 1:
            # Raise instead of silently misbehave (module stance, cf.
            # histogram_quantiles' column check): the exact path scores
            # every pair, so a recall knob that does nothing would hide
            # a caller's intent to run the bucketed form (ADVICE r12).
            raise ValueError(
                "n_probes > 1 requires bucket_bits: the exact "
                "(bucket_bits=None) path already scores every "
                "(query, corpus) pair, so probing is meaningless — "
                "pass bucket_bits for the multiprobe LSH form"
            )
        if max_bucket_size is not None:
            raise ValueError(
                "max_bucket_size requires bucket_bits: the exact "
                "(bucket_bits=None) path has no buckets to cap — "
                "pass bucket_bits for the LSH form"
            )
        cand = corpus.crossJoin(F.broadcast(queries))
    else:
        if n_probes > 1:
            probed = queries.withColumn(
                "__qb",
                F.explode(
                    multiprobe_bucket_set(qvec_col, bucket_bits, n_probes)
                ),
            )
        else:
            probed = queries.withColumn(
                "__qb", sign_bucket(qvec_col, bucket_bits)
            )
        bucketed = corpus.withColumn("__cb", sign_bucket(vec_col, bucket_bits))
        if max_bucket_size is not None:
            hot = (
                bucketed.groupBy("__cb")
                .count()
                .filter(F.col("count") > max_bucket_size)
                .select("__cb")
            )
            bucketed = bucketed.join(F.broadcast(hot), ["__cb"], "left_anti")
        cand = bucketed.join(probed, F.col("__cb") == F.col("__qb"))
    if anti_affinity is not None:
        c_col, q_col = anti_affinity
        cand = cand.filter(~F.col(c_col).eqNullSafe(F.col(q_col)))
    scored = cand.select(
        F.col(query_id_col),
        F.col(id_col),
        pair_score.alias("score"),
    )
    if exclude_self:
        scored = scored.filter(F.col(query_id_col) != F.col(id_col))
    from pyspark.sql import Window

    win = Window.partitionBy(query_id_col).orderBy(
        F.desc("score"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, F.col("rank").cast("int"), "score")
    )


def mutual_knn_edges(
    knn: DataFrame,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """A self-kNN join result → MUTUAL kNN edges (u, v) with u < v:
    the edge exists iff v ∈ kNN(u) AND u ∈ kNN(v).

    The mutuality filter is the standard kNN-graph symmetrization for
    clustering (SemDeDup-style cluster dedup, kNN-graph community
    detection): a one-directional edge often just means u sits in a
    sparse region and v is its least-bad neighbor — requiring both
    directions keeps only genuinely close pairs and bounds each
    node's degree by k, so the downstream component/cluster pass
    works on an edge set of at most n·k/2 rows.

    Shape: one self-equi-join of the kNN result on both id columns
    (LeftSemi — no payload duplication), never touching vectors; the
    kNN result is n·k-sized, so this is cheap at any corpus size."""
    a = knn.select(F.col(query_id_col).alias("u"), F.col(id_col).alias("v"))
    swapped = knn.select(
        F.col(id_col).alias("u"), F.col(query_id_col).alias("v")
    )
    return a.join(swapped, ["u", "v"], "left_semi").filter(
        F.col("u") < F.col("v")
    )


def hyperplane_candidate_pairs(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    bits: int = 6,
    tables: int = 24,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    qvec_col: str = "qv",
    exclude_self: bool = True,
    planes: list[list[list[float]]] | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """The candidate-generation stage of knn_join_hyperplane, exposed
    so its volume is testable and cappable: distinct (query_id,
    vec_id) pairs colliding in >= 1 of the L (table, signature)
    cells.

    ``max_bucket_size`` is the self-join blow-up guard (VERDICT r12:
    at L=24/b=6 a SELF-join "approaches all-pairs" when cells run
    hot — a template-heavy corpus puts 10^5+ near-identical vectors
    in the SAME cell of EVERY table, and one such cell is 10^10
    pairs·L). Same trade as lsh_candidate_pairs(max_bucket_size=...)
    (operators/dedup.py): (table, signature) cells whose CORPUS
    membership exceeds the cap contribute no pairs at all — members
    of a mega-cell are near-identical templates better handled by
    exact/MinHash dedup upstream, and OR-amplification keeps any
    pair that also collides in a non-hot cell of another table. The
    hot-cell census is a map-side-combined groupBy on the same
    (table, signature) key the join shuffles on, and the hot list is
    STRUCTURALLY bounded by L·2^bits rows (1536 at defaults) — the
    broadcast anti-join is always driver-safe. Default None keeps
    exact semantics for the oracle-checked queries; corpus-scale
    self-joins set ~10^3-10^4.
    """
    if planes is None:
        planes = rademacher_planes(dim, bits, tables, seed)
    sig = hyperplane_signatures(planes)
    c_sig = corpus.select(
        F.col(id_col),
        F.posexplode(sig(as_double_array(vec_col))).alias("_t", "_b"),
    )
    if max_bucket_size is not None:
        hot = (
            c_sig.groupBy("_t", "_b")
            .count()
            .filter(F.col("count") > max_bucket_size)
            .select("_t", "_b")
        )
        c_sig = c_sig.join(F.broadcast(hot), ["_t", "_b"], "left_anti")
    q_sig = queries.select(
        F.col(query_id_col),
        F.posexplode(sig(as_double_array(qvec_col))).alias("_t", "_b"),
    )
    pairs = (
        c_sig.join(q_sig, ["_t", "_b"]).select(query_id_col, id_col).distinct()
    )
    if exclude_self:
        pairs = pairs.filter(F.col(query_id_col) != F.col(id_col))
    return pairs


def knn_join_hyperplane(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    bits: int = 6,
    tables: int = 24,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    qvec_col: str = "qv",
    exclude_self: bool = True,
    planes: list[list[list[float]]] | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """The RECALL arm of the kNN join family: multi-table random-
    hyperplane LSH (OR-amplification) as a (table, signature)
    EQUI-join.

    Sign-bucket forms (knn_join bucket_bits / n_probes) trade recall
    for pruning with ONE hash table; this is the knob they lack —
    `tables` independent b-bit tables lift candidate recall to
    ≈ 1-(1-p^b)^L without coarsening any bucket, the same
    amplification the single-query family deploys
    (hyperplane_lsh_topk). Where the single-query form can afford a
    broadcast + per-row ANY-table match, the JOIN form must stay
    equi-join-shaped: both sides' signature arrays (the Arrow matmul
    kernel — at deployment a write-time `sig` column, see
    write_lsh_index) posexplode to (table_id, bucket) rows, candidates
    come from the (table_id, bucket) equi-join, and pairs colliding in
    several tables are DISTINCT-ed BEFORE the two vector-fetch joins
    so each pair is scored once. Candidate volume Σ_t Σ_b
    |bucket_qtb|·|bucket_ctb| ≈ L·N_q·N_c/2^b — never all-pairs, all
    shuffles keyed. Scoring stays on the exact JVM cosine fold, so
    the whole join is oracle-replayable (md5-derived ±1 planes, both
    engines regenerate or embed them). Ranking/ties/exclude_self:
    the knn_join contract (exclude_self is self-kNN-only — pass False
    for an unrelated query id namespace).

    ``max_bucket_size`` caps hot (table, signature) cells on the
    corpus side before the equi-join — the SELF-join blow-up guard
    (see hyperplane_candidate_pairs; a no-quadratic-expansion pin
    lives in tests/test_ann_recall.py). Default None = exact LSH
    semantics for the oracle-checked query."""
    pairs = hyperplane_candidate_pairs(
        corpus,
        queries,
        dim,
        bits=bits,
        tables=tables,
        seed=seed,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        qvec_col=qvec_col,
        exclude_self=exclude_self,
        planes=planes,
        max_bucket_size=max_bucket_size,
    )
    # unrolled-codegen pair scoring with per-ROW norm² (see
    # cosine_pre): the signature kernel already pins every vector to
    # exactly ``dim`` elements, so the dim contract holds
    cand = (
        pairs.join(corpus.withColumn("__cn2", dot(vec_col, vec_col, dim)), id_col)
        .join(queries.withColumn("__qn2", dot(qvec_col, qvec_col, dim)), query_id_col)
    )
    scored = cand.select(
        F.col(query_id_col),
        F.col(id_col),
        cosine_pre(vec_col, qvec_col, "__cn2", "__qn2", dim).alias("score"),
    )
    from pyspark.sql import Window

    win = Window.partitionBy(query_id_col).orderBy(
        F.desc("score"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, F.col("rank").cast("int"), "score")
    )

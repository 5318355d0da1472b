"""Similarity search over an embedding frame.

The frame contract, shared with dedup's embedding operators: one row
per vector with the id in ``vec_id`` (bigint) and the vector in
``embedding`` (array<float>) — the ``embeddings`` table of
FIXTURES.md. Every operator here reads those two columns by name
(VEC_ID, EMBEDDING); a frame with other names is renamed by the caller.

Extension operators (SURVEY.md §7.4):
  * brute-force cosine top-k — the exact baseline: broadcast the query
    set, fold-based dot product (JVM expression, no UDF), window rank;
  * random-hyperplane LSH bucketing — the scale path: each vector gets
    a b-bit signature from sign(v . plane_j); near vectors collide.

Determinism across engines: hyperplane components are pseudo-random
+-1 derived from md5(plane, dim) parity, so the DuckDB oracle builds
the identical planes. Outputs are (query, neighbor, rank) — never raw
float scores — so IEEE summation-order noise cannot flip a hash
compare (ranks only flip if two cosines collide to ~1e-15, which
random data cannot produce).

Scale shape of top-k: queries are broadcast (small side), candidates
stream by partition, ranks via window on (query) — shuffle size is
O(queries x candidates-kept), and at 100 TB you pre-filter candidates
with the LSH buckets before ranking.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves the (stringified)
# pd.Series type hints against module globals at decoration time

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(v) -> F.Column:
    return F.sqrt(
        F.aggregate(
            F.transform(v, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def nonzero_vecs(df: DataFrame, *extra) -> DataFrame:
    """(id, v, nrm, *extra) scan projection over POSITIVE-norm vectors
    — the one vector base every pairing/top-k variant (and dedup's
    embedding variants) builds on. Zero-norm rows drop HERE: their
    cosine is NaN, which sorts GREATER than every double (rank 1 of
    every top-k, passes every >= threshold cut). The norm computes
    once per vector in the scan, never per pair.

    The filter predicate is NOT ``nrm > 0`` on the projected column:
    pushing that filter below the projection substitutes the whole
    norm fold into the Filter condition, so every vector paid the
    64-element fold TWICE (the guide §4.4 double-eval shape, with
    built-ins). Instead the filter
    runs BELOW the projection on an exactly-equivalent cheap
    predicate over the raw array; the fold then evaluates once per
    surviving vector, and downstream deterministic key filters
    (``id < num_queries``) still push past it to the scan — which a
    non-deterministic pushdown barrier would have blocked.

    Equivalence of ``has_mass`` to ``sqrt(sum(x^2)) > 0`` is exact,
    not approximate, for float inputs: (a) NULL array / any NULL
    element → norm NULL → filter false == conjuncts 1-2; (b) the
    square of a nonzero FLOAT in DOUBLE arithmetic can never
    underflow to 0 (min |float| ~1e-45, squared ~1e-90 ≫ min double)
    and a sum of non-negative doubles with one positive term is
    positive, so ∃x: x² > 0 ⟺ Σx² > 0 ⟺ sqrt > 0; (c) a NaN element
    makes both predicates true (NaN compares greater than 0 in Spark
    on both paths); (d) ±Inf squares to +Inf on both. ``exists``
    short-circuits on the first hit, so the predicate costs ~one
    multiply per row against the fold's 64. SQL text, not composed
    lambda Columns, for the predicate (the repo's standard py4j
    discipline)."""
    v = EMBEDDING
    has_mass = F.expr(
        f"{v} IS NOT NULL AND NOT exists({v}, x -> x IS NULL) "
        f"AND exists({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE) > 0D)"
    )
    return df.where(has_mass).select(
        F.col(VEC_ID).alias("id"), F.col(v).alias("v"),
        _norm(F.col(v)).alias("nrm"), *extra,
    )


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """The rank contract shared by EVERY top-k variant (exact, LSH,
    IVF, trained-IVF, k-NN join): per-query window ordered by
    (cos desc, neighbor_id asc) — a total order, so ties are
    engine-portable — cut at rank <= k. One definition so a tie-break
    or contract change cannot half-apply across variants."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _ann_from_base(base: DataFrame, num_queries: int, k: int) -> DataFrame:
    """Shared body of every top-k variant (one universal key, LSH
    bucket, static IVF cell, trained IVF cell — only the quantizer
    key differs) over a (id, v, nrm, __key) base from nonzero_vecs:
    the tiny query side broadcast, candidates restricted by an
    equi-join on the key, exact cosine ranking via _rank_topk."""
    queries = base.where(F.col("id") < num_queries).select(
        F.col("id").alias("query_id"), F.col("v").alias("qv"),
        F.col("nrm").alias("qn"), F.col("__key"),
    )
    cands = F.broadcast(queries).join(
        base.withColumnRenamed("id", "neighbor_id"), on="__key"
    ).where(F.col("query_id") != F.col("neighbor_id"))
    scored = cands.select(
        "query_id",
        "neighbor_id",
        (_dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))).alias("cos"),
    )
    return _rank_topk(scored, k)


def cosine_topk(df: DataFrame, num_queries: int = 8, k: int = 5) -> DataFrame:
    """Exact cosine top-k: ids BELOW ``num_queries`` (the oracle's cut;
    on 0-based ids, "the first num_queries vectors") against every
    other vector. Negative ids are full candidates but also land below
    the cut — signed-id corpora need a caller-side query filter, since
    the broadcast is sized by this cut. Returns (query_id,
    neighbor_id, rank) with rank 1..k, ties broken by id.

    The keyed body with ONE universal bucket (constant key — Catalyst
    folds it away and plans the same allowed O(q*n) broadcast nested
    loop as the previous explicit form, q constant): one body for all
    top-k variants."""
    base = nonzero_vecs(df, F.lit(0).cast("long").alias("__key"))
    return _ann_from_base(base, num_queries, k)


def plane_sign(plane: int, dim: int) -> int:
    """Deterministic pseudo-random +-1 hyperplane component from
    md5('p{plane}_d{dim}') parity. Computed driver-side (hashlib) and
    embedded as a literal, so the Spark plan and the DuckDB oracle use
    byte-identical coefficients by construction."""
    import hashlib

    h = hashlib.md5(f"p{plane}_d{dim}".encode()).hexdigest()
    return (int(h[31], 16) % 2) * 2 - 1


def lsh_bucket_expr(
    vec_col: str, num_planes: int, dim: int, first_plane: int = 0
) -> F.Column:
    """Column expression for the random-hyperplane LSH bucket id:
    bit j of the bucket is sign(v . plane_{first_plane+j}). The planes
    are +-1 vectors, so each dot product is a signed sum of components
    — all ``num_planes`` folds evaluate in a single codegen projection,
    no shuffle and no driver-side action. ``dim`` must come from the
    caller (schema metadata / pipeline config): probing it with a
    Spark job inside operator construction is a scale anti-pattern.
    ``first_plane`` selects an independent plane family, letting
    banded (OR-amplified) consumers build several bucket tables.

    Each dot product is a zip_with + aggregate fold against a literal
    coefficient array — codegen emits a LOOP per plane, not dim inlined
    element_at terms (whose bounds-check branches overflow Janino's
    method limit beyond ~512 terms and silently drop the whole stage
    to interpreted mode). The whole bucket is built as ONE parsed SQL
    expression string: composing it from planes*dim F.lit Column
    objects costs that many py4j round-trips of driver time per query
    construction (measured: seconds at 16 planes x 64 dims) before a
    single task runs; one expr() parse is milliseconds.

    ``vec_col`` must be a plain SQL-safe column name (it is spliced
    into the expression)."""
    bits = []
    for j in range(num_planes):
        coefs = ",".join(
            f"{float(plane_sign(first_plane + j, d))!r}D" for d in range(dim)
        )
        dot = (
            f"aggregate(zip_with({vec_col}, array({coefs}), "
            "(x, c) -> CAST(x AS DOUBLE) * c), 0D, (acc, x) -> acc + x)"
        )
        bits.append(f"IF({dot} >= 0, {1 << j}L, 0L)")
    return F.expr(f"CAST({' + '.join(bits)} AS BIGINT)")


def ivf_cell_expr(vec_col: str) -> F.Column:
    """Column expression for the IVF-style coarse cell id:
    (argmax-|component| dimension, its sign) — 2*dim inverted lists.
    A trained k-means codebook slots into the same shape (cell id :=
    nearest centroid, a broadcast join against the codebook); this
    deterministic quantizer keeps the oracle SQL-expressible while the
    plumbing (cell assignment -> per-cell candidate join) is identical.

    Ties in |v_i| resolve to the first (lowest) dimension in both
    engines: array_position / list_position return the first match.
    """
    absv = F.transform(F.col(vec_col), lambda x: F.abs(x))
    idx = F.array_position(absv, F.array_max(absv))  # 1-based first max
    signed = F.when(F.element_at(F.col(vec_col), idx.cast("int")) < 0, 1).otherwise(0)
    return (idx * 2 + signed).cast("long")


def ann_topk_ivf(df: DataFrame, num_queries: int = 8, k: int = 5) -> DataFrame:
    """Approximate top-k via IVF inverted lists: exact cosine ranking
    restricted to the query's cell. Same scale shape as ann_topk_lsh —
    the candidate join is keyed on the cell, so a query only meets its
    list's vectors, never the full corpus; nprobe>1 = union more cells.

    The cell id is computed inline with the scan projection (one pass
    over the corpus, zero extra shuffles); the tiny query side
    recomputes it for num_queries rows, which is cheaper than the
    join-back-on-id + persist it replaces."""
    base = nonzero_vecs(df, ivf_cell_expr(EMBEDDING).alias("__key"))
    return _ann_from_base(base, num_queries, k)


def ann_topk_lsh(
    df: DataFrame,
    num_queries: int = 8,
    k: int = 5,
    num_planes: int = 8,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: exact cosine ranking restricted to the
    query's LSH bucket. Recall < 1 by construction; the point is the
    join is keyed on (bucket) — at 100 TB each query only meets its
    bucket's candidates instead of the full corpus.

    The bucket is computed inline with the scan projection (one pass
    over the corpus, zero extra shuffles, no persist to manage);
    ``dim`` is required pipeline config — see lsh_bucket_expr."""
    if dim is None:
        raise ValueError("ann_topk_lsh requires dim (embedding width)")
    base = nonzero_vecs(
        df, lsh_bucket_expr(EMBEDDING, num_planes, dim).alias("__key"))
    return _ann_from_base(base, num_queries, k)


def _dist2_sql(vec_sql: str, centroid: list[float]) -> str:
    """Squared L2 distance to a literal centroid, as one fold — SQL
    text. ``CAST('<repr>' AS DOUBLE)`` literals: repr is shortest
    round-trip decimal, bit-identical to the F.lit() path (the
    _train_iteration_sql precedent).

    Deliberately a zip_with/aggregate fold and NOT an unrolled
    per-component expression chain: with k centroids x dim components
    the unrolled tree is k*dim*~4 plan nodes, and Catalyst's
    analysis/optimization of that tree dominates wall time (measured
    9x WORSE end-to-end at k=8, dim=64 despite the fold's lambdas
    evaluating outside whole-stage codegen). The fold keeps the plan
    O(k) nodes; its left-to-right double summation order is what the
    external oracle replica mirrors with cumsum."""
    lits = ", ".join(f"CAST('{c!r}' AS DOUBLE)" for c in centroid)
    return (
        f"aggregate(zip_with({vec_sql}, array({lits}), "
        "(x, c) -> (CAST(x AS DOUBLE) - c) * (CAST(x AS DOUBLE) - c)), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def assign_cells(vec_col: str, codebook: list[list[float]]) -> F.Column:
    """Cell id = argmin squared-L2 over the codebook, evaluated as one
    scan-local projection (k distance folds + array_position) — no
    join, no shuffle; the codebook rides into the plan as literals.
    A pure expression builder (like ivf_cell_expr / lsh_bucket_expr):
    it binds to whatever DataFrame the caller selects it on;
    ``vec_col`` must be a plain SQL-safe column name (spliced into
    the expression, same contract as lsh_bucket_expr). Built as ONE
    parsed SQL string: the previous Column form paid O(k*dim) py4j
    literal conversions per call — ~0.4s of the trained-ANN gate's
    serve construction at k=8 x dim=64 (same discipline as
    _train_iteration_sql).
    Same expression tree as before: the dists array appears in both
    array_position arguments, exactly like the composed-Column form
    it replaces."""
    from canal_phoenix_adapter_spark.functions.hashing import bq

    dists = "array(" + ", ".join(
        _dist2_sql(bq(vec_col), c) for c in codebook
    ) + ")"
    return F.expr(
        f"CAST(array_position({dists}, array_min({dists})) - 1 AS BIGINT)"
    )


VEC_ID = "vec_id"  # the embedding frame's columns (module docstring)
EMBEDDING = "embedding"

LITERAL_CODEBOOK_MAX = 64  # measured: F.lit-array construction 2.2 s
# at k=64 but 7.8 s at k=256 and 37 s at k=1024 (driver-side literal
# conversion is O(k*dim)); past this, _arrow_cells assigns the cells.

ARROW_CELL_CHUNK_ELEMS = 1 << 24  # ~134 MB float64 distance block;
# bounds _arrow_cells' per-worker peak independent of k (see kernel)


def _arrow_cells(
    df: DataFrame, codebook: list[list[float]], vec_col: str, cell_col: str
) -> DataFrame:
    """Argmin assignment as an Arrow-batched numpy kernel: one
    (batch x dim) @ (dim x k) BLAS matmul per Arrow batch instead of
    k interpreted HOF folds per ROW. This is the repo's one deliberate
    dense-linear-algebra pandas_udf (Arrow-vectorized — NOT a
    row-at-a-time Python UDF): at k=1563 x 200k vectors a fold
    kernel measured 921.9 s where this kernel serves in seconds
    (SCALE.md) — flat-IVF assignment is a dense matmul, and no
    Column-fold formulation competes with BLAS on it. Distances
    expand as |x|^2 - 2 x.c + |c|^2 and |x|^2 is argmin-invariant, so
    only -2 x.c + |c|^2 is computed. Ulp caveat: BLAS summation order
    differs from the folds' left-to-right, so an EXACT distance tie
    may assign differently than assign_cells (measure-zero on
    q6-quantized codebooks and real data; agreement is unit-pinned on
    fixtures) — assign_cells remains the bit-pinned oracle
    reference. NULL and wrong-width (ragged) vectors map to NULL
    cells, matching assign_cells (its zip_with pads the short side
    with NULLs and the distance folds to NULL; nonzero_vecs does NOT
    screen width, so a ragged row reaches this kernel); element-NULL
    vectors never reach the kernel (nonzero_vecs' norm predicate is
    NULL for them)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    m = np.asarray(codebook, dtype=np.float64)
    c2 = (m * m).sum(axis=1)
    dim = m.shape[1]
    # Row-chunk so the distance block stays ~O(ARROW_CELL_CHUNK_ELEMS)
    # doubles PER WORKER regardless of k: unchunked, a 10k-row Arrow
    # batch at sized k=15625 peaks ~2.5 GB/worker (x 32 workers
    # alongside the 48g JVM — OOM territory), and memory must not
    # scale with batch x k when k ∝ n. Per-row argmin is unaffected
    # by row blocking; agreement stays pinned.
    rows_per = max(1, ARROW_CELL_CHUNK_ELEMS // len(codebook))

    @pandas_udf("long")
    def _cell(v: pd.Series) -> pd.Series:
        out = pd.array([None] * len(v), dtype="Int64")
        mask = v.map(lambda e: e is not None and len(e) == dim)
        idx = np.flatnonzero(mask.to_numpy())
        vals = v[mask]
        for lo in range(0, len(idx), rows_per):
            sel = vals.iloc[lo:lo + rows_per]
            x = np.asarray([np.asarray(e, dtype=np.float64) for e in sel])
            d = c2[None, :] - 2.0 * (x @ m.T)
            out[idx[lo:lo + rows_per]] = np.argmin(d, axis=1)
        return pd.Series(out, dtype="Int64")

    return df.withColumn(cell_col, _cell(F.col(vec_col)))


def with_codebook_cells(
    df: DataFrame, codebook: list[list[float]],
    vec_col: str, cell_col: str = "cell",
) -> DataFrame:
    """Attach the trained-quantizer cell, strategy by k alone: up to
    LITERAL_CODEBOOK_MAX the codebook rides into the plan as literal
    fold expressions (assign_cells: scan-local projection, no join —
    fuses with the scan, bit-pinned against the oracle); above it, the
    Arrow BLAS kernel (_arrow_cells — assignment cost is a dense
    matmul, where interpreted folds measured ~100x slower at k ∝ n
    scale)."""
    if len(codebook) <= LITERAL_CODEBOOK_MAX:
        return df.withColumn(cell_col, assign_cells(vec_col, codebook))
    return _arrow_cells(df, codebook, vec_col, cell_col)


def ivf_k_for_corpus(expected_count: int, max_cell: int | None = None) -> int:
    """k ∝ n for the IVF quantizer: k = ceil(2n / max_cell), floor 8 —
    targets a MEAN cell of max_cell/2 (2x skew headroom under the
    cap). The anchors are measured (SCALE_SMOKE/SCALE.md): at
    FIXED k the uncapped within-cell pair cost is ~n^2/k (static
    2*dim quantizer measured 7.29x wall at 103x output over one
    decade), and with the cap ON recall silently decays once cells
    grow past max_cell — so k must grow with n, exactly as
    dedup.lsh_planes_for_corpus grows planes with log2(n). The sized
    path composes caller-side (training is a Spark action, never run
    inside plan construction): k = ivf_k_for_corpus(n); codebook =
    ivf_train_codebook(df, k=k); then pass codebook to
    semantic_dup_pairs_ivf / ann_topk_ivf_trained / knn_join_ivf.
    Its own boundary, also measured: flat Lloyd's assignment is
    O(n*k) per pass, quadratic when k ∝ n — past the octave-measured
    wall the log-cost route is the hyperplane-LSH family (planes ∝
    log2 n), with IVF-derived-k as the recall-quality middle ground."""
    if max_cell is None:
        from canal_phoenix_adapter_spark.operators.dedup import DEFAULT_IVF_MAX_CELL
        max_cell = DEFAULT_IVF_MAX_CELL
    return max(8, -(-2 * expected_count // max_cell))


def _train_iteration_sql(view: str, codebook: list[list[float]], dim: int) -> str:
    """ONE Lloyd's assignment+update pass as a single SQL statement
    over the persisted vector view: scan-local argmin projection into
    one grouped aggregate — no join, one exchange (plan-pinned). SQL
    TEXT, not Column composition: the JVM parses the k x dim literal
    text in milliseconds where the equivalent Column build costs
    ~0.7 s/iteration of driver py4j round-trips (warm iter: 0.55 s
    this form vs 1.27 s literal Columns vs 1.29 s a one-row codebook
    broadcast join). CAST('<repr>' AS DOUBLE): repr is shortest
    round-trip decimal — bit-identical to the F.lit() path."""
    dists = ", ".join(_dist2_sql("__v", centroid) for centroid in codebook)
    sums = ", ".join(f"sum(CAST(__v[{i}] AS DOUBLE)) AS s{i}" for i in range(dim))
    return (
        f"SELECT array_position(__d, array_min(__d)) - 1 AS __cell, "
        f"count(1) AS n, {sums} "
        f"FROM (SELECT __v, array({dists}) AS __d FROM {view}) "
        f"GROUP BY __cell"
    )


def ivf_train_codebook(
    df: DataFrame, k: int = 8, iters: int = 3
) -> list[list[float]]:
    """Deterministic Lloyd's k-means for the IVF coarse quantizer.

    This fills the slot ivf_cell_expr documents ("a trained k-means
    codebook slots into the same shape"). Everything data-sized stays
    distributed: assignment is a scan-local argmin projection; the
    update step is ``groupBy(cell)`` with dim-wide component sums +
    a count — every aggregate partial-combines map-side, so the
    shuffle carries ONE row of k x (dim+1) doubles per map partition
    (a posexplode variant would shuffle n x dim (cell, pos, value)
    triples — the data, not the model). Only the k x dim centroid
    matrix (model parameters, not data) is collected per iteration,
    which is what makes the next iteration's literals possible. The
    projected vector column is persisted across the ``iters``
    re-scans (the standard iterative-training trade: memory-and-disk
    blocks vs re-reading the source each pass); the persist is
    released before returning.

    Each iteration is ONE job, the strategy split by k alone, as in
    with_codebook_cells: at k <= LITERAL_CODEBOOK_MAX the whole pass
    is ONE SQL string over a temp view (_train_iteration_sql — the
    per-iteration cost there is driver-side py4j plan construction);
    sized k attaches the cells with the Arrow BLAS kernel (the
    codebook travels into the UDF, no O(k*dim) plan text, which is
    what lets k ∝ n train).

    Determinism: seeds are the k lowest-id vectors (TakeOrdered), and
    every subsequent step is deterministic arithmetic — same data,
    same codebook, on any cluster. Empty cells keep their previous
    centroid (standard Lloyd's fallback). Each updated centroid
    component is quantized to 1e-6 (round half-away-from-zero,
    ``floor(|x| * 1e6 + 0.5)`` — the same formula the external oracle
    replica uses, so engine and replica agree by construction): the
    floating summation order depends on partition layout, so without
    the quantization a retrain on a different cluster shape could
    drift by ulps and flip argmin near-ties — rounding makes the
    trained codebook bit-stable across layouts."""
    import math

    def _q6(x: float) -> float:
        return math.copysign(math.floor(abs(x) * 1e6 + 0.5), x) / 1e6

    # Untrainable rows drop under nonzero_vecs' own serving predicate
    # (norm > 0): NULL / element-NULL / empty arrays crash seeding and
    # zero-norm vectors have no direction — an isNotNull-only guard
    # passed the latter three. Need k usable seeds.
    vecs = df.where(_norm(F.col(EMBEDDING)) > 0)
    seeds = (
        vecs.select(F.col(VEC_ID).alias("id"), F.col(EMBEDDING).alias("v"))
        .orderBy("id")
        .limit(k)
        .collect()
    )
    if len(seeds) < k:
        raise ValueError(
            f"k={k} centroids need k positive-norm vectors, got {len(seeds)}"
        )
    codebook = [[float(x) for x in r["v"]] for r in seeds]
    dim = len(codebook[0])
    # Ragged rows (wrong width, positive norm) pass the norm guard but
    # ABORT the training job under ANSI mode: the update step's
    # component sums index __v[i] past a short vector's end
    # (INVALID_ARRAY_INDEX, on either kernel). Serving
    # assigns them a NULL cell; training's equivalent is contributing
    # to no centroid, i.e. exclusion. Mixed-width SEEDS mean the
    # first-seed dim was arbitrary — refuse loudly instead.
    if any(len(c) != dim for c in codebook):
        raise ValueError(
            f"ragged corpus: seed vector widths differ "
            f"({sorted({len(c) for c in codebook})}); one width required"
        )
    base = (
        vecs.where(F.size(F.col(EMBEDDING)) == dim)
        .select(F.col(EMBEDDING).alias("__v")).persist()
    )
    sql_text = k <= LITERAL_CODEBOOK_MAX
    if sql_text:
        view = f"__ivf_train_{id(base)}"
        base.createOrReplaceTempView(view)
    try:
        for _ in range(iters):
            if sql_text:
                stats = base.sparkSession.sql(
                    _train_iteration_sql(view, codebook, dim)
                ).collect()
            else:
                stats = (
                    _arrow_cells(base, codebook, "__v", "__cell")
                    .groupBy("__cell")
                    .agg(
                        F.count(F.lit(1)).alias("n"),
                        *[F.sum(F.col("__v")[i].cast("double")).alias(f"s{i}")
                          for i in range(dim)],
                    )
                    .collect()
                )
            for r in stats:
                n = r["n"]
                codebook[int(r["__cell"])] = [
                    _q6(r[f"s{i}"] / n) for i in range(dim)
                ]
    finally:
        base.unpersist()
        if sql_text:  # don't leak the per-call view into the catalog
            base.sparkSession.catalog.dropTempView(view)
    return codebook


def ivf_cells_base(
    df: DataFrame, codebook: list[list[float]] | None = None
) -> DataFrame:
    """The (id, v, nrm, cell) scan base shared by every IVF consumer
    (semantic_dup_pairs_ivf / knn_join_ivf / ivf_cell_occupancy):
    static 2*dim quantizer when ``codebook`` is None, trained cells
    via with_codebook_cells' k-split otherwise. One definition so the
    occupancy witness measures EXACTLY the cells the pair/knn joins
    route through."""
    if codebook is None:
        return nonzero_vecs(df, ivf_cell_expr(EMBEDDING).alias("cell"))
    return with_codebook_cells(nonzero_vecs(df), codebook, "v", "cell")


def ann_topk_ivf_trained(
    df: DataFrame, codebook: list[list[float]], num_queries: int = 8, k: int = 5
) -> DataFrame:
    """ann_topk_ivf with a TRAINED codebook: identical topology (cell
    computed inline with the scan, candidate join keyed on the cell,
    exact cosine ranking within the cell) — only the quantizer
    changed, exactly as ivf_cell_expr's docstring promises. The cell
    attaches via with_codebook_cells' k-split (literal folds small,
    Arrow kernel sized — the sized path's k ∝ n must not hit the
    literal plan-size wall)."""
    base = with_codebook_cells(nonzero_vecs(df), codebook, "v", "__key")
    return _ann_from_base(base, num_queries, k)


def knn_join_ivf(
    df: DataFrame,
    k: int = 5,
    max_bucket: int | None = None,
    codebook: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate k-NN JOIN: top-k cosine neighbors for EVERY vector
    (not a fixed query set), candidates restricted to the vector's IVF
    cell. The all-to-all similarity-join deliverable: near-dup
    clustering seeds, recommendation candidates, SemDeDup keep-lists.

    Scale shape: one equi-join on cell (sum of squared cell sizes,
    never n^2), one window per query id for the top-k cut —
    rank-partitioned by query, so the sort is per-key, not global.
    ``max_bucket`` caps degenerate cells exactly like the dedup
    variants (dropped cells produce no neighbors for their members —
    at 100 TB a cell with 10^6 members is a quantizer failure to fix,
    not a join to execute).

    Ties: equal cosine resolves by ascending neighbor id — total
    order, engine-portable.

    ``codebook``: the SIZED path — a trained quantizer (k from
    ivf_k_for_corpus) replaces the static 2*dim cell, keeping mean
    cell size bounded as the corpus grows. dedup.ivf_cell_occupancy
    reports what the cap is dropping (the loud recall-decay signal)."""
    base = ivf_cells_base(df, codebook)
    if max_bucket is not None:
        from canal_phoenix_adapter_spark.operators.dedup import _cap_bucket_size

        # shared skew guard; broadcast_hot because the over-cap key set
        # is bounded by n/max_bucket (only cells exceeding the cap are
        # broadcast — small for static 2*dim AND sized k ~ n codebooks)
        base = _cap_bucket_size(base, ["cell"], max_bucket, broadcast_hot=True)
    # The join reads base twice; the (id, cell) + vector rows are the
    # table a production system would have persisted/bucketed by cell
    # already, so no persist is forced here (callers own the cache).
    q = base.select(
        F.col("id").alias("query_id"), F.col("v").alias("qv"),
        F.col("nrm").alias("qn"), F.col("cell"),
    )
    n = base.select(
        F.col("id").alias("neighbor_id"), F.col("v").alias("nv"),
        F.col("nrm").alias("nn"), F.col("cell"),
    )
    scored = (
        q.join(n, on="cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn"))).alias("cos"),
        )
    )
    return _rank_topk(scored, k)

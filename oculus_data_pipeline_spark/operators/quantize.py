"""Embedding quantization for storage/serving compression.

``int8_quantize`` is per-dimension min-max scalar quantization — the
standard first compression tier for embedding tables (4× smaller than
float32, and the format ANN systems like FAISS SQ8 consume). The
per-dimension [lo, hi] calibration is a 64-row aggregate computed in
one pass and broadcast back as two array literals via a single-row
cross join — the vectors themselves are NEVER exploded or shuffled:
quantization is a zip_with projection on the scan, so at 100 TB the
operator runs at parquet-read speed after one tiny stats pass.

Integer outputs (per-element int8 codes; the registry query emits a
position-weighted checksum per vector) are order-independent, so the
oracle may compute them by unnest+join and still match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dim_stats(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension (d, lo, hi) calibration over the corpus —
    posexplode + min/max hash aggregate with map-side partials."""
    e = emb.select(F.col(vec_col).cast("array<double>").alias("v"))
    return (
        e.select(F.posexplode("v").alias("d", "x"))
        .groupBy("d")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    )


def int8_quantize(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Min-max int8 codes per vector, summarized as (id, n_dims,
    checksum, q_min, q_max) where checksum = Σ (d+1)·code_d — a
    position-sensitive integer digest so the driver's value-hash
    pins every code without shipping 64 columns.

    code_d = round((x_d − lo_d) / (hi_d − lo_d) · 254) − 127 ∈
    [−127, 127]; constant dimensions (hi == lo) map to code 0.
    """
    stats = dim_stats(emb, vec_col)
    # one row, two 64-element arrays — broadcast, then pure projection
    stats_row = stats.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "lo"))), lambda s: s.lo
        ).alias("los"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "hi"))), lambda s: s.hi
        ).alias("his"),
    )
    e = emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    shifted = F.zip_with("v", "los", lambda x, lo: x - lo)
    rng = F.zip_with("his", "los", lambda hi, lo: hi - lo)
    codes = F.zip_with(
        shifted,
        rng,
        lambda s, r: F.when(
            r > 0, F.round(s / r * 254).cast("long") - 127
        ).otherwise(F.lit(0).cast("long")),
    )
    weighted = F.zip_with(
        codes,
        F.sequence(F.lit(1), F.size("v")),
        lambda c, i: c * i.cast("long"),
    )
    return (
        e.crossJoin(F.broadcast(stats_row))
        .select(
            "id",
            F.size("v").cast("long").alias("n_dims"),
            F.aggregate(
                weighted, F.lit(0).cast("long"), lambda acc, x: acc + x
            ).alias("checksum"),
            F.array_min(codes).alias("q_min"),
            F.array_max(codes).alias("q_max"),
        )
    )


def gram_matrix(
    emb: DataFrame,
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Corpus Gram matrix (uncentred second moment) of the embedding
    column — the calibration statistic behind PCA whitening and OPQ
    rotation (the preprocessing stage ahead of :func:`pq_encode`).

    Returns the upper triangle as (i, j, n_vecs, gram) with
    gram = Σ_rows v_i·v_j / n-th — exact: components are quantized to
    integers (round(x·scale)) so every product and the corpus-wide sum
    are integer arithmetic (DECIMAL(38,0) accumulator — no float
    summation order to drift cross-engine); only the final readout
    rescales to double.

    Scale shape: each row expands to its d(d+1)/2 index-pair products
    inside one narrow codegen stage feeding a hash aggregate — map-side
    partials mean every task emits at most d(d+1)/2 rows regardless of
    row count, so the shuffle is O(partitions · d²), not O(N). This is
    the declarative form of the classic per-partition outer-product
    accumulation; vectors themselves never shuffle."""
    return _gram_int(emb, vec_col, scale).select(
        "i",
        "j",
        "n_vecs",
        F.round(
            F.col("s").cast("double") / F.lit(float(scale) * float(scale)), 6
        ).alias("gram"),
    )


def _gram_int(
    emb: DataFrame,
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Upper-triangle integer Gram: (i, j, n_vecs, s) with
    s = Σ_rows q_i·q_j over q = round(x·scale) — exact DECIMAL(38,0)
    accumulation, shared by :func:`gram_matrix` (rescaled readout) and
    :func:`power_iteration` (mean-normalized matvec input).

    Two chained generators instead of one nested-HOF struct array:
    posexplode the quantized vector, then explode the j >= i tail and
    multiply directly — stays in codegen (measured ~8× faster than
    building d(d+1)/2 structs per row through interpreted lambdas)."""
    e = emb.select(F.col(vec_col).cast("array<double>").alias("v"))
    qd = e.select(
        F.transform("v", lambda x: F.round(x * scale).cast("long")).alias("q")
    )
    return (
        qd.select(F.posexplode("q").alias("i", "xi"), "q")
        .select(
            "i",
            "xi",
            F.explode(F.sequence(F.col("i"), F.size("q") - 1)).alias("j"),
            "q",
        )
        .select(
            F.col("i").cast("long").alias("i"),
            F.col("j").cast("long").alias("j"),
            (F.col("xi") * F.element_at(F.col("q"), (F.col("j") + 1).cast("int"))).alias("p"),
        )
        .groupBy("i", "j")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum(F.col("p").cast("decimal(38,0)")).alias("s"),
        )
    )


def power_iteration(
    emb: DataFrame,
    vec_col: str = "embedding",
    scale: int = 1_000_000,
    iters: int = 2,
) -> DataFrame:
    """Integer-exact power-iteration readout of the dominant
    eigenvector direction of the corpus Gram matrix — the top
    principal axis used for PCA whitening / the first OPQ rotation
    (the calibration consumer of :func:`gram_matrix`).

    Every step is integer arithmetic so the result is cross-engine
    bit-exact (the float path with per-step normalization is pinned
    against NumPy in tests instead):

    1. ĝ[i][j] = (Σ q_i·q_j) div n_vecs — the MEAN-normalized integer
       Gram via truncating integral division (Spark ``div`` and DuckDB
       ``//`` both truncate toward zero). Mean-normalizing bounds every
       entry by (scale·max|x|)² **independent of corpus size**, which
       is what keeps the exact matvecs inside DECIMAL(38,0) at 100 TB.
    2. v₁ = ĝ·1, v₂ = ĝ·v₁ — exact decimal matvecs. With d ≤ 128 and
       |ĝ| ≤ ~4e11 (unit-ish embeddings at scale=1e6), |v₂| ≤
       d²·ĝ² ≈ 3e27 ≪ 10³⁸; a third exact iteration would overflow,
       hence ``iters ≤ 2`` (more iterations belong to the float path).
    3. direction = round(v_t / max|v_t|, 6) — readout only.

    Scale shape: the corpus-sized work is the one _gram_int pass
    (shuffle bounded at d(d+1)/2 rows/task); the iterations run on the
    d×d matrix with a broadcast d-row vector — negligible at any N."""
    if not 1 <= iters <= 2:
        raise ValueError("exact tier supports iters in {1, 2}")
    up = _gram_int(emb, vec_col, scale).select(
        "i", "j", F.expr("s div n_vecs").alias("g")
    )
    # symmetrize via explode, NOT self-union: a union would evaluate
    # the corpus-sized _gram_int aggregation twice (the q97 lesson)
    mirrored = F.when(
        F.col("j") > F.col("i"),
        F.array(
            F.struct(F.col("i").alias("a"), F.col("j").alias("b"), F.col("g")),
            F.struct(F.col("j").alias("a"), F.col("i").alias("b"), F.col("g")),
        ),
    ).otherwise(
        F.array(F.struct(F.col("i").alias("a"), F.col("j").alias("b"), F.col("g")))
    )
    g = up.select(F.explode(mirrored).alias("e")).select(
        F.col("e.a").alias("i"), F.col("e.b").alias("j"), F.col("e.g").alias("g")
    )
    # ĝ is d² ≤ ~16k rows but is referenced by BOTH matvecs, the max
    # readout, and the final select — without cutting lineage the
    # corpus-sized gram pass re-executes once per reference (measured
    # 4 scans). Lazy localCheckpoint materializes it once.
    g = g.localCheckpoint(eager=False)
    v = g.groupBy(F.col("i").alias("vi")).agg(
        F.sum(F.col("g").cast("decimal(38,0)")).alias("vv")
    )
    for _ in range(iters - 1):
        v = (
            g.join(F.broadcast(v), g["j"] == v["vi"])
            .groupBy(F.col("i").alias("vi"))
            .agg(F.sum(F.col("g").cast("decimal(38,0)") * F.col("vv")).alias("vv"))
        )
    mx = v.groupBy().agg(F.max(F.abs(F.col("vv"))).alias("mx"))
    # iterate can reach ~3e27 (> int64), so the exact readout is the
    # DECIMAL value rendered as a STRING: DECIMAL final columns render
    # engine-differently in downstream hash pipelines even when values
    # match (r5 q148 lesson — final columns are BIGINT/DOUBLE/VARCHAR/
    # BOOL/DATE/TIMESTAMP only), and scale-0 decimal → string is plain
    # digits on both engines.
    return v.crossJoin(F.broadcast(mx)).select(
        F.col("vi").alias("i"),
        F.col("vv").cast("decimal(38,0)").cast("string").alias("iterate"),
        F.round(
            F.col("vv").cast("double") / F.col("mx").cast("double"), 6
        ).alias("direction"),
    )


def pq_encode(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_subspaces: int = 4,
    k: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Product quantization (PQ) encoding — the second compression tier
    above :func:`int8_quantize` (FAISS ``PQ`` / the codebook half of
    IVFPQ, built on the same deterministic-seed convention as
    operators/ivf.py): split each vector into ``n_subspaces``
    contiguous sub-vectors, assign each sub-vector to its nearest of
    ``k`` per-subspace centroids (squared L2, left-fold order,
    tie-break on centroid id), emit one row per (vector, subspace)
    with the chosen code and its quantization error.

    The codebook is the ``k`` lowest-``id_col`` vectors (fixed seed —
    cross-engine checkable like the q135 k-means step; swapping in
    Lloyd-trained centroids from operators/ivf.py changes only the
    codebook row, not the plan). Scale shape: the codebook collapses
    to ONE broadcast row of k full vectors, so encoding is a pure
    projection on the scan — explode over subspace ids is narrow, the
    argmin is an ``array_min`` over a k-element struct array computed
    by HOF folds, and nothing shuffles at any corpus size. PQ codes
    at M=4, k=8 are 4 × 3 bits per vector vs 64 × 32 bits raw.
    """
    sub = dim // n_subspaces
    e = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    cands = _subspace_candidates(sub, k)
    return (
        e.crossJoin(F.broadcast(_codebook_row(e, k)))
        .select(
            "id",
            F.explode(F.sequence(F.lit(0), F.lit(n_subspaces - 1))).alias("m"),
            "v",
            "cvs",
        )
        .select(
            "id",
            F.col("m").cast("long").alias("m"),
            F.array_min(cands).alias("best"),
        )
        .select(
            "id",
            "m",
            F.col("best.cid").alias("code"),
            F.round(F.col("best.d"), 6).alias("sq_dist"),
        )
    )


def _codebook_row(e: DataFrame, k: int) -> DataFrame:
    """ONE broadcastable row holding the k centroid vectors sorted by
    id — the whole PQ codebook collapses to a literal-sized payload."""
    return (
        e.where(F.col("id") < k)
        .groupBy()
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("id", "v"))),
                lambda s: s.v,
            ).alias("cvs")
        )
    )


def _subspace_candidates(sub: int, k: int, vec: str = "v", book: str = "cvs"):
    """array<struct(d, cid)> of squared-L2 distances from this row's
    subspace ``m`` slice of ``vec`` to every codebook centroid's same
    slice — left-fold order so the oracle can replay it bit-for-bit."""
    start = (F.col("m") * sub + 1).cast("int")
    subv = F.slice(F.col(vec), start, sub)

    def sq_dist(j):
        subc = F.slice(F.element_at(F.col(book), (j + 1).cast("int")), start, sub)
        return F.aggregate(
            F.zip_with(subv, subc, lambda x, c: (x - c) * (x - c)),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )

    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda j: F.struct(sq_dist(j).alias("d"), j.cast("long").alias("cid")),
    )


def _full_sqdist(vcol, ccol):
    """Whole-vector squared L2 as the same left fold the oracle
    unrolls term-by-term."""
    return F.aggregate(
        F.zip_with(vcol, ccol, lambda x, c: (x - c) * (x - c)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )


def ivf_pq_topk(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_queries: int = 10,
    topk: int = 5,
    n_subspaces: int = 4,
    k: int = 8,
    k_coarse: int = 4,
    nprobe: int = 2,
    dim: int = 64,
) -> DataFrame:
    """IVF+PQ composed ANN search — the full FAISS ``IVFx,PQy`` shape:
    a coarse quantizer routes each vector to an inverted list, PQ
    encodes the RESIDUAL (v − coarse centroid), and queries scan only
    the codes of their ``nprobe`` nearest lists with an
    asymmetric-distance table built from the query's own residual per
    probed list.

    Deterministic-seed convention as q135/q138: coarse centroids are
    the ``k_coarse`` lowest-id vectors, the PQ codebook the residuals
    of the ``k`` lowest-id vectors — every argmin is a left-fold with
    (distance, id) tie-break, so a DuckDB oracle replays the search
    bit-for-bit.

    Scale shape (the reason IVFPQ wins at 100 TB): the corpus-side
    search input is the codes table — (id, list, M small ints) per
    vector; raw embeddings are scanned once at encode time and never
    again. Both codebooks collapse to ONE broadcast row each; the
    per-query distance table is n_queries·nprobe·M·k rows, broadcast.
    Probing = the broadcast equi-join on (list, m, code) — vectors in
    unprobed lists never leave the scan, and the only shuffle carries
    (query, id, partial-distance) triples. Per-subspace partials round
    to DECIMAL(28,9) so the Σ_m sum is order-independent."""
    sub = dim // n_subspaces
    e = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    coarse = (
        e.where(F.col("id") < k_coarse)
        .groupBy()
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("id", "v"))), lambda s: s.v
            ).alias("ccs")
        )
    )
    # one projection: nearest coarse list (left-fold argmin, tie on cid)
    coarse_cands = F.transform(
        F.sequence(F.lit(0), F.lit(k_coarse - 1)),
        lambda c: F.struct(
            _full_sqdist(
                F.col("v"), F.element_at(F.col("ccs"), (c + 1).cast("int"))
            ).alias("d"),
            c.cast("long").alias("cid"),
        ),
    )
    assigned = (
        e.crossJoin(F.broadcast(coarse))
        .withColumn("list_id", F.array_min(coarse_cands).cid)
        .select(
            "id",
            "list_id",
            F.zip_with(
                "v",
                F.element_at(F.col("ccs"), (F.col("list_id") + 1).cast("int")),
                lambda x, c: x - c,
            ).alias("r"),
            "v",
        )
    )
    codebook = (
        # ids [k_coarse, k_coarse+k): the k_coarse lowest ids ARE the
        # coarse centroids, so their residuals are zero vectors — a
        # degenerate codebook (k_coarse identical entries that argmin
        # ties collapse onto). Start above them.
        assigned.where(
            (F.col("id") >= k_coarse) & (F.col("id") < k_coarse + k)
        )
        .groupBy()
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("id", "r"))), lambda s: s.r
            ).alias("cvs")
        )
    )
    codes = (
        assigned.crossJoin(F.broadcast(codebook))
        .select(
            "id",
            "list_id",
            F.explode(F.sequence(F.lit(0), F.lit(n_subspaces - 1))).alias("m"),
            "r",
            "cvs",
        )
        .select(
            "id",
            "list_id",
            F.col("m").cast("long").alias("m"),
            F.array_min(_subspace_candidates(sub, k, vec="r")).cid.alias("code"),
        )
    )
    # query side: nprobe nearest lists, then a per-(query, probed list)
    # residual distance table to the shared residual codebook
    probes = (
        e.where(F.col("id") < n_queries)
        .withColumnRenamed("id", "query_id")
        .crossJoin(F.broadcast(coarse))
        .select(
            "query_id",
            "v",
            "ccs",
            F.explode(
                F.slice(F.array_sort(coarse_cands), 1, nprobe)
            ).alias("probe"),
        )
        .select(
            "query_id",
            F.col("probe.cid").alias("list_id"),
            F.zip_with(
                "v",
                F.element_at(F.col("ccs"), (F.col("probe.cid") + 1).cast("int")),
                lambda x, c: x - c,
            ).alias("rq"),
        )
    )
    dtable = (
        probes.crossJoin(F.broadcast(codebook))
        .select(
            "query_id",
            "list_id",
            F.explode(F.sequence(F.lit(0), F.lit(n_subspaces - 1))).alias("m"),
            "rq",
            "cvs",
        )
        .select(
            "query_id", "list_id", F.col("m").cast("long").alias("m"), "rq", "cvs"
        )
        .select(
            "query_id",
            "list_id",
            "m",
            F.explode(_subspace_candidates(sub, k, vec="rq")).alias("c"),
        )
        .select(
            "query_id",
            "list_id",
            "m",
            F.col("c.cid").alias("code"),
            F.round(F.col("c.d"), 9).cast("decimal(28,9)").alias("pd"),
        )
    )
    agg = (
        codes.join(F.broadcast(dtable), ["list_id", "m", "code"])
        .where(F.col("id") != F.col("query_id"))
        .groupBy("query_id", "id")
        .agg(F.min("list_id").alias("list_id"), F.sum("pd").alias("adc_dec"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dec"), F.asc("id"))
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topk)
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            "list_id",
            F.round(F.col("adc_dec").cast("double"), 6).alias("adc_dist"),
            "rank",
        )
    )


def pq_adc_topk(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_queries: int = 10,
    topk: int = 5,
    n_subspaces: int = 4,
    k: int = 8,
    dim: int = 64,
) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k search — the query half of
    FAISS-style IVFPQ: approximate L2 distance to every corpus vector
    computed from its PQ codes alone, Σ_m dtable[query][m][code], where
    dtable holds the exact per-subspace distances from each query to
    the 8 codebook centroids.

    This is the operator that makes PQ pay at scale: the corpus side
    of the search touches ONLY the codes table (M small ints per
    vector — the raw embedding column is never scanned, never joined,
    never shuffled), and the per-query distance table is
    n_queries·M·k rows, broadcast. The shuffle carries (query, vec,
    partial-distance) triples. Per-subspace partials are rounded to
    DECIMAL(28,9) before the Σ_m sum so the 4-term addition is
    order-independent and the ranking cross-engine exact."""
    sub = dim // n_subspaces
    e = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    codes = pq_encode(
        emb, id_col=id_col, vec_col=vec_col,
        n_subspaces=n_subspaces, k=k, dim=dim,
    ).select("id", "m", "code")
    cands = _subspace_candidates(sub, k)
    dtable = (
        e.where(F.col("id") < n_queries)
        .withColumnRenamed("id", "query_id")
        .crossJoin(F.broadcast(_codebook_row(e, k)))
        .select(
            "query_id",
            F.explode(F.sequence(F.lit(0), F.lit(n_subspaces - 1))).alias("m"),
            "v",
            "cvs",
        )
        .select("query_id", F.col("m").cast("long").alias("m"), "v", "cvs")
        .select("query_id", "m", F.explode(cands).alias("c"))
        .select(
            "query_id",
            "m",
            F.col("c.cid").alias("code"),
            F.round(F.col("c.d"), 9).cast("decimal(28,9)").alias("pd"),
        )
    )
    agg = (
        codes.join(F.broadcast(dtable), ["m", "code"])
        .where(F.col("id") != F.col("query_id"))
        .groupBy("query_id", "id")
        .agg(F.sum("pd").alias("adc_dec"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dec"), F.asc("id"))
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topk)
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            F.round(F.col("adc_dec").cast("double"), 6).alias("adc_dist"),
            "rank",
        )
    )


def rotate_embeddings(
    emb: DataFrame,
    rotation: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Apply a fixed d×d rotation to every embedding — the OPQ/PCA
    preprocessing step between :func:`power_iteration` (which finds
    the axis) and :func:`pq_encode` (whose subspace split the rotation
    is aligning). out[i] = Σ_j R[i][j]·v[j], left-fold order.

    The rotation ships as ONE literal matrix broadcast inside the
    plan (a d×d constant, no join), so this is a pure projection on
    the scan. The HOF form suits small/medium d; for d in the
    thousands the same contract is a mapInPandas NumPy matmul — the
    plan shape (projection, nothing shuffles) is identical."""
    rows = F.array(
        *[
            F.array(*[F.lit(float(x)) for x in row])
            for row in rotation
        ]
    )
    out = F.transform(
        rows,
        lambda r: F.aggregate(
            F.zip_with(r, F.col("__v"), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, t: acc + t,
        ),
    )
    return (
        emb.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("__v"),
        )
        .select("vec_id", out.alias("embedding"))
    )


def pq_train_report(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_subspaces: int = 4,
    k: int = 8,
    dim: int = 64,
    scale: int = 1_000_000,
) -> DataFrame:
    """One exact Lloyd update of the PQ codebook, attested per
    subspace: encode with the fixed-seed codebook (q138), recompute
    each (subspace, code) centroid as the mean of its assigned
    sub-vectors, re-encode against the trained codebook, and report
    (m, n_vecs, err_init, err_trained, improved) — Lloyd's descent
    guarantee (total error never increases after an
    assign-update-assign cycle) checked as data, the q135 pattern
    extended to the update step.

    Exactness: means accumulate over quantized components
    (round(x·scale)) in DECIMAL(38,0) and divide once in double, so
    the trained centroids — and every distance fold against them —
    replay bit-for-bit in the oracle. Error totals round each term to
    DECIMAL(28,9) before summing (order-independent, the q142 trick).
    Empty cells keep their init centroid (the Lloyd convention).

    Scale shape: codes0 is the q138 shuffle-free projection; the
    update is ONE aggregation keyed (m, code, position) — bounded at
    M·k·(dim/M) = k·dim rows per task; the re-score joins the
    M·k-row trained codebook by broadcast and the argmin shuffle
    carries (id, m, best) triples only. Vectors never shuffle."""
    sub = dim // n_subspaces
    e = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    cands = _subspace_candidates(sub, k)
    codes0 = (
        e.crossJoin(F.broadcast(_codebook_row(e, k)))
        .select(
            "id",
            F.explode(F.sequence(F.lit(0), F.lit(n_subspaces - 1))).alias("m"),
            "v",
            "cvs",
        )
        .select(
            "id",
            F.col("m").cast("long").alias("m"),
            "v",
            "cvs",
            F.array_min(cands).alias("best"),
        )
        .select(
            "id",
            "m",
            "v",
            "cvs",
            F.col("best.cid").alias("code"),
            F.col("best.d").alias("d0"),
        )
    )
    # exact per-(m, code, position) means over quantized components
    qslice = F.transform(
        F.slice(F.col("v"), (F.col("m") * sub + 1).cast("int"), sub),
        lambda x: F.round(x * scale).cast("long"),
    )
    # ONE aggregation keyed (m, code) with sub+1 cells — count + per-
    # position exact decimal sums — replacing the posexplode →
    # groupBy(m, code, t) → join-on-(m,code,t) → collect_list
    # re-assembly (guide §2.3/§2.4: 3 shuffles and a sub-fold row
    # blowup collapse into 1 bounded shuffle). Values are identical:
    # same decimal sums (order-independent), same per-position
    # double division, same init fallback on empty (m, code) cells.
    sums = codes0.select("m", "code", qslice.alias("qs")).groupBy("m", "code").agg(
        F.count("*").alias("cnt"),
        *[
            F.sum(F.element_at("qs", t + 1).cast("decimal(38,0)")).alias(f"s{t}")
            for t in range(sub)
        ],
    )
    # trained codebook: (m, cid, cvec) with init fallback for empty cells
    init_cb = (
        _codebook_row(e, k)
        .select(F.posexplode("cvs").alias("c0", "cv"))
        .select(
            F.col("c0").cast("long").alias("code"),
            F.explode(F.sequence(F.lit(0), F.lit(n_subspaces - 1))).alias("m"),
            "cv",
        )
        .select(
            F.col("m").cast("long").alias("m"),
            "code",
            F.slice(
                F.col("cv"), (F.col("m") * sub + 1).cast("int"), sub
            ).alias("icvec"),
        )
    )
    mu_t = [
        F.col(f"s{t}").cast("double") / F.col("cnt") / F.lit(float(scale))
        for t in range(sub)
    ]
    cb1 = init_cb.join(F.broadcast(sums), ["m", "code"], "left").select(
        "m",
        "code",
        F.array(
            *[
                F.coalesce(mu_t[t], F.element_at("icvec", t + 1))
                for t in range(sub)
            ]
        ).alias("cvec"),
    )
    # re-score: broadcast the M·k trained rows, fold per candidate,
    # argmin via (id, m)-keyed min over (d, cid) structs
    vslice = F.slice(F.col("v"), (F.col("m") * sub + 1).cast("int"), sub)
    d1 = F.aggregate(
        F.zip_with(vslice, F.col("cvec"), lambda x, c: (x - c) * (x - c)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    rescored = (
        codes0.select("id", "m", "v", "d0")
        .join(F.broadcast(cb1), "m")
        .select(
            "id",
            "m",
            "d0",
            F.struct(d1.alias("d"), F.col("code").alias("cid")).alias("cand"),
        )
        .groupBy("id", "m")
        .agg(F.min("d0").alias("d0"), F.min("cand").alias("best1"))
    )
    dec = lambda c: F.round(c, 9).cast("decimal(28,9)")  # noqa: E731
    return (
        rescored.groupBy("m")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum(dec(F.col("d0"))).alias("err_init_dec"),
            F.sum(dec(F.col("best1.d"))).alias("err_trained_dec"),
        )
        .select(
            "m",
            "n_vecs",
            F.round(F.col("err_init_dec").cast("double"), 6).alias("err_init"),
            F.round(F.col("err_trained_dec").cast("double"), 6).alias("err_trained"),
            (F.col("err_trained_dec") <= F.col("err_init_dec")).alias("improved"),
        )
    )


def opq_rotation(
    emb: DataFrame,
    n_subspaces: int = 4,
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> list[list[float]]:
    """OPQ eigenvalue-allocation rotation from the exact corpus Gram:
    decorrelate with the full eigenbasis, then assign principal
    components to PQ subspaces by GREEDY VARIANCE BALANCING (each
    eigenvector, in descending-eigenvalue order, goes to the
    least-loaded non-full subspace by log-eigenvalue product — the
    parametric allocation from the OPQ paper). Balancing matters:
    naively sorting ALL top components into subspace 0 concentrates
    the signal a single 2^b-entry codebook must cover and measurably
    WORSENS PQ error (tried; the multi-component test caught it) —
    each subspace's independent codebook should carry an equal share
    of the variance.

    Scale shape: the ONLY corpus-sized work is the bounded-shuffle
    _gram_int pass; the d×d matrix (≤ a few thousand rows) is then a
    bounded driver pull — same convention as ivf.py's centroid pulls
    — and the dense eigendecomposition runs on the driver in O(d³),
    microseconds for embedding-sized d. The returned matrix feeds
    :func:`rotate_embeddings` as a broadcast literal."""
    import math

    import numpy as np

    rows = _gram_int(emb, vec_col, scale).collect()  # ≤ d(d+1)/2 rows
    d = max(int(r.j) for r in rows) + 1
    G = np.zeros((d, d))
    for r in rows:
        v = float(r.s) / (float(scale) * float(scale)) / float(r.n_vecs)
        G[int(r.i)][int(r.j)] = v
        G[int(r.j)][int(r.i)] = v
    vals, vecs = np.linalg.eigh(G)  # ascending
    order = list(np.argsort(vals)[::-1])
    cap = d // n_subspaces
    buckets: list[list[int]] = [[] for _ in range(n_subspaces)]
    load = [0.0] * n_subspaces
    for i in order:
        open_ = [m for m in range(n_subspaces) if len(buckets[m]) < cap]
        m = min(open_, key=lambda j: (load[j], j))
        buckets[m].append(i)
        load[m] += math.log(max(float(vals[i]), 1e-12))
    return [
        list(map(float, vecs[:, i])) for m in range(n_subspaces) for i in buckets[m]
    ]


# ---------------------------------------------------------------------------
# Trained IVF+PQ — MULTI-STEP Lloyd on both quantizer levels (round 8).
#
# The r7 registry's one remaining pinned plan ran exactly ONE Lloyd step
# per level because exact means compounded DECIMAL depth across steps.
# De-pinned the same way the LSH family was: a deterministic integer
# formula that both engines compute identically at EVERY iteration —
#
#   * vectors are quantized ONCE to a fixed integer grid:
#     xs[t] = CAST(round(x[t] * TRAIN_SCALE) AS BIGINT)  (TRAIN_SCALE=10⁴)
#   * every centroid update re-enters the SAME grid via floor division:
#     mu = (Σ xs + cnt·TRAIN_OFFSET) div cnt − TRAIN_OFFSET
#     The TRAIN_OFFSET shift keeps the numerator non-negative. The
#     binding stage is the RESIDUAL update: |r| = |xs − cvec| reaches
#     2·max|xs|, so the precondition is |x| ≤ TRAIN_OFFSET/(2·TRAIN_SCALE)
#     = 50 (the corpus lives in ±0.6; pinned by
#     test_train_grid_offset_bounds_corpus), where Spark `div` on DECIMAL(38,0) and
#     DuckDB `//` on HUGEINT both truncate = floor, the q185/q180
#     discipline. Floor-vs-round drift against true Lloyd is < 10⁻⁴ per
#     component per step; determinism is what the oracle needs.
#   * all distances are BIGINT sums of squared integer differences —
#     order-free, tie-broken on centroid id, no float compare anywhere.
#
# Both levels run the SAME trainer (:func:`_lloyd`): the coarse
# quantizer is one subspace of width dim, the residual PQ codebook M
# subspaces of width dim/M. Scale shape: each Lloyd step is ONE corpus
# scan (an Arrow argmin against the driver-held codebook, emitting
# per-partition count/objective/sum partials that merge to ≤ M·k
# cells). Between steps the codebooks are driver-side lists of k·dim
# ints; the search turns the final ones into single-row local
# relations, so the logical plan holds no per-step codebook chain.
# ---------------------------------------------------------------------------

TRAIN_SCALE = 10_000
TRAIN_OFFSET = 1_000_000
# Lloyd steps per quantizer level. Cross-engine exactness of q168
# requires the DuckDB oracle to replay EXACTLY this many steps at
# EXACTLY this grid — the oracle imports these three constants, so a
# bump here desyncs nothing.
TRAIN_STEPS = 3


def _int_sqdist(vcol, ccol):
    """Squared L2 between two integer-grid vectors as a BIGINT fold —
    exact and order-free (integer addition commutes), so the oracle's
    unrolled term chain matches bit-for-bit."""
    return F.aggregate(
        F.zip_with(vcol, ccol, lambda x, c: (x - c) * (x - c)),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )


def _pq_cands(rvec, midx, k: int):
    """(d, cid) candidate structs for ONE subspace: exact BIGINT
    squared-L2 of residual slice ``rvec`` against every code row of
    subspace ``midx`` in the broadcast nested codebook column ``mm``.
    ``F.array_min(...).cid`` over these is the final PQ encoding; the
    (d, cid) struct order is the lowest-code tie-break the training
    argmin in :func:`_lloyd_partials` replicates. The integer analogue
    of :func:`_subspace_candidates` (``rvec``/``midx`` accept columns
    or lambda variables)."""
    book = F.col("mm")
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda j: F.struct(
            _int_sqdist(
                rvec,
                F.element_at(
                    F.element_at(book, (midx + 1).cast("int")),
                    (j + 1).cast("int"),
                ),
            ).alias("d"),
            j.cast("long").alias("cid"),
        ),
    )


def _coarse_cands(k_coarse: int):
    """array<struct(d BIGINT, cid)> of distances from this row's ``xs``
    to every coarse centroid in the one-row ``ccs`` array — argmin via
    array_min with (d, cid) tie-break, exactly the oracle's
    ROW_NUMBER(ORDER BY d, c0)."""
    book = F.col("ccs")
    return F.transform(
        F.sequence(F.lit(0), F.lit(k_coarse - 1)),
        lambda c: F.struct(
            _int_sqdist(
                F.col("xs"), F.element_at(book, (c + 1).cast("int"))
            ).alias("d"),
            c.cast("long").alias("cid"),
        ),
    )


def _div_trunc(num: int, den: int) -> int:
    """Spark ``div`` in Python: integral division truncating toward
    zero (Python ``//`` floors, which differs on negative numerators —
    the shifted numerator below is non-negative on every corpus the
    grid-offset test pins, but truncation is replicated exactly
    anyway, so the driver-side update and the oracle's SQL cannot
    diverge on any input)."""
    q = abs(num) // den
    return q if num >= 0 else -q


def _ccs_local(spark, cent):
    """The coarse codebook [(0, c, cvec), ...] as ONE broadcastable
    row — ccs[c+1] = code c's centroid — built as a single-row LOCAL
    relation, so the broadcast collects from a LocalTableScan on the
    driver: no job, no upstream re-execution (the codebook is k·dim
    ints, the bounded-driver-pull convention of ivf.py's
    train_kmeans). Embedding the codebook as an in-expression literal
    instead was measured WORSE: the argmin duplicates the book
    sub-tree per candidate, and a k·dim literal tree per candidate
    made analysis + GC dominate."""
    ccs = [[int(x) for x in v] for _, _, v in sorted(cent)]
    return spark.createDataFrame([(ccs,)], "ccs array<array<bigint>>")


def _mm_local(spark, cb):
    """The PQ codebook [(m, code, cvec), ...] as ONE broadcastable
    row — mm[m+1][code+1] = that subspace centroid's slice — a
    single-row LOCAL relation like :func:`_ccs_local`, sorted by m,
    then code."""
    ms = sorted({m for m, _, _ in cb})
    mm = [
        [
            [int(x) for x in v]
            for _, _, v in sorted(
                (e for e in cb if e[0] == m), key=lambda e: e[1]
            )
        ]
        for m in ms
    ]
    return spark.createDataFrame([(mm,)], "mm array<array<array<bigint>>>")


def _init_book(df: DataFrame, col: str, lo: int, k: int, n_sub: int) -> list:
    """Lloyd init codebook [(m, code, vec)]: the rows with id in
    [lo, lo + k) become codes id − lo, each ``col`` vector cut into
    ``n_sub`` equal-width subspaces (n_sub = 1 is the coarse level)."""
    rows = (
        df.where((F.col("id") >= lo) & (F.col("id") < lo + k))
        .select("id", col)
        .collect()
    )
    book = []
    for r in rows:
        vec = [int(x) for x in r[col]]
        sub = len(vec) // n_sub
        for m in range(n_sub):
            book.append((m, int(r["id"]) - lo, vec[m * sub : (m + 1) * sub]))
    return book


def _lloyd_partials(df: DataFrame, col: str, book: list) -> DataFrame:
    """ONE Lloyd step's per-partition partials as one Arrow stage.

    ``book`` is a dense codebook [(m, code, vec)] of M subspaces, each
    k codes of width len(vec). Per batch and subspace m, a vectorized
    int64 argmin of ``col``'s m-th slice against subspace m's codes
    (ties -> lowest code, matching array_min's (d, cid) struct order)
    accumulates per cell the count ``cnt``, the objective ``sse`` (Σ
    of the min squared distance) and the per-position ``sums``. Emits
    rows (m, code, cnt, sse, sums), one per cell per partition (guide
    §4.2: hand whole batches to numpy; the pattern of ivf.py's
    _assign). int64 is safe: components are grid-bounded (test-pinned
    |x| <= TRAIN_OFFSET/2) and rows per partition split-bounded, so
    partials, sums and sse alike, stay far below 2^63; the merges add
    them exactly."""
    import numpy as np
    import pandas as pd
    from typing import Iterator

    n_m = len({m for m, _, _ in book})
    books = np.array([v for _, _, v in sorted(book)], dtype=np.int64)
    k, sub = len(book) // n_m, books.shape[1]
    books = books.reshape(n_m, k, sub)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cnt = np.zeros((n_m, k), dtype=np.int64)
        sse = np.zeros((n_m, k), dtype=np.int64)
        sums = np.zeros((n_m, k, sub), dtype=np.int64)
        seen = False
        for pdf in it:
            if len(pdf) == 0:
                continue
            seen = True
            x = np.array(pdf[col].tolist(), dtype=np.int64)
            for m in range(n_m):
                xm = x[:, m * sub : (m + 1) * sub]
                d = ((xm[:, None, :] - books[m][None, :, :]) ** 2).sum(axis=2)
                a = np.argmin(d, axis=1)  # first occurrence = lowest code
                cnt[m] += np.bincount(a, minlength=k)
                np.add.at(sse[m], a, d.min(axis=1))
                np.add.at(sums[m], a, xm)
        if seen:
            yield pd.DataFrame(
                {
                    "m": np.repeat(np.arange(n_m, dtype=np.int64), k),
                    "code": np.tile(np.arange(k, dtype=np.int64), n_m),
                    "cnt": cnt.reshape(-1),
                    "sse": sse.reshape(-1),
                    "sums": [row.tolist() for row in sums.reshape(-1, sub)],
                }
            )

    return df.select(col).mapInPandas(
        batches, schema="m long, code long, cnt long, sse long, sums array<long>"
    )


def _merge_driver(part: DataFrame) -> dict:
    """Merge Lloyd partials on the driver: collect the per-partition
    rows and add them in arbitrary-precision Python ints. Returns
    {(m, code): (cnt, sse, [sums])} for the cells some row mapped to."""
    acc: dict = {}
    for r in part.collect():
        key = (int(r["m"]), int(r["code"]))
        row = [int(x) for x in r["sums"]]
        cnt, sse, sums = acc.get(key, (0, 0, [0] * len(row)))
        acc[key] = (
            cnt + int(r["cnt"]),
            sse + int(r["sse"]),
            [a + b for a, b in zip(sums, row)],
        )
    return {key: v for key, v in acc.items() if v[0] > 0}


def _merge_cells(part: DataFrame) -> dict:
    """Merge the same partials IN SPARK: posexplode each partial's
    [cnt, sse, *sums] to (m, code, pos, v) cells, sum per cell in
    DECIMAL(38,0) (exact for int64 partials at any partition count —
    the map-side partial aggregation means the shuffle carries at most
    #map-tasks × M·k·(sub+2) tiny rows), and collect the merged cells.
    Returns exactly :func:`_merge_driver`'s dict (integer addition is
    associative and exact in both)."""
    cells = part.select(
        "m",
        "code",
        F.posexplode(F.concat(F.array("cnt", "sse"), "sums")).alias("pos", "v"),
    )
    merged = cells.groupBy("m", "code", "pos").agg(
        F.sum(F.col("v").cast("decimal(38,0)")).alias("v")
    )
    acc: dict = {}
    for r in merged.collect():
        acc.setdefault((int(r["m"]), int(r["code"])), {})[int(r["pos"])] = int(r["v"])
    out = {}
    for key, by_pos in acc.items():
        cnt, sse, *sums = (by_pos[p] for p in range(len(by_pos)))
        if cnt > 0:
            out[key] = (cnt, sse, sums)
    return out


def _floor_mean_ints(cnt: int, sums):
    return [_div_trunc(int(sv) + cnt * TRAIN_OFFSET, cnt) - TRAIN_OFFSET for sv in sums]


# Above this many cores the driver no longer pulls raw per-partition
# Lloyd partials (one row per partition × cell — fine at local[32], a
# multi-GB pull at 100 TB where a scan has ~10^5-10^6 splits): the
# partials merge IN SPARK to exactly M·k cells per step before the
# collect (r11 verdict item 5). Both merges are integer-exact and
# bit-identical (DECIMAL(38,0) sums of int64 partials collect as exact
# Python ints); pinned by tests/test_optimization_equivalence.py.
_DRIVER_MERGE_MAX_CORES = 128


def _lloyd(df: DataFrame, col: str, init: list, k: int, n_steps: int):
    """Integer Lloyd training of the codebook ``init`` [(m, code, vec)]
    on the vectors ``df[col]``, one subspace per distinct m.

    The codebook stays ON THE DRIVER between steps: each step is ONE
    job (the :func:`_lloyd_partials` scan, then a merge of ≤ M·k
    cells — the per-step driver pull is bounded at any corpus size;
    Lloyd's per-step corpus scan is inherent), then the exact
    floor-mean update of the module header in Python ints; an empty
    cell keeps its previous centroid. Returns ``(books, objectives)``:
    books[s] is the codebook after s steps (books[0] = the sorted
    init) and objectives[s][m] the corpus Σ of min squared distance
    to books[s] in subspace m. Step s's own assignment yields it, so
    no extra scan runs; the final codebook's objective needs one more
    step."""
    cur = sorted(init)
    n_m = max(len({m for m, _, _ in cur}), 1)
    # the merges key cells by LABEL while the numpy argmin indexes the
    # codebook by POSITION — they coincide only when codes are dense
    # 0..k-1 in every subspace (r11 advice: assert the density instead
    # of assuming it; an id gap in the init rows would otherwise
    # silently misattribute cell updates)
    if [(m, c) for m, c, _ in cur] != [(m, c) for m in range(n_m) for c in range(k)]:
        raise ValueError(
            f"Lloyd init codes must be dense 0..{k - 1} in every subspace, "
            f"got {sorted({c for _, c, _ in cur})}"
        )
    cores = df.sparkSession.sparkContext.defaultParallelism
    merge = _merge_cells if cores > _DRIVER_MERGE_MAX_CORES else _merge_driver
    books, objectives = [cur], []
    for _ in range(n_steps):
        stats = merge(_lloyd_partials(df, col, cur))
        objectives.append(
            [sum(v[1] for (m, _), v in stats.items() if m == mi) for mi in range(n_m)]
        )
        nxt = []
        for m, c, vec in cur:
            hit = stats.get((m, c))
            nxt.append((m, c, vec if hit is None else _floor_mean_ints(hit[0], hit[2])))
        books.append(nxt)
        cur = nxt
    return books, objectives


def _int_corpus(
    emb: DataFrame, id_col: str, vec_col: str, scale: int
) -> DataFrame:
    return emb.select(
        F.col(id_col).alias("id"),
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: F.round(x * scale).cast("long"),
        ).alias("xs"),
    )


def _residuals(e: DataFrame, crow: DataFrame, k_coarse: int) -> DataFrame:
    """(id, list_id, r) — integer residuals vs the trained coarse
    quantizer; a scan-speed projection against ONE broadcast row."""
    return (
        e.crossJoin(F.broadcast(crow))
        .withColumn("list_id", F.array_min(_coarse_cands(k_coarse)).cid)
        .select(
            "id",
            "list_id",
            F.zip_with(
                "xs",
                F.element_at(F.col("ccs"), (F.col("list_id") + 1).cast("int")),
                lambda x, c: x - c,
            ).alias("r"),
        )
    )


def ivf_pq_trained_topk(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_queries: int = 10,
    topk: int = 5,
    n_subspaces: int = 4,
    k: int = 8,
    k_coarse: int = 4,
    nprobe: int = 2,
    dim: int = 64,
    scale: int = TRAIN_SCALE,
    n_steps: int = TRAIN_STEPS,
) -> DataFrame:
    """IVF+PQ with BOTH codebooks Lloyd-trained ``n_steps`` exact
    integer steps (default 3 — de-pinned from the r7 single step), then
    the probed ADC search against the trained index: q135's assignment
    + the integer-rescale update (module header) iterated on the coarse
    quantizer (full-dim) AND the residual PQ codebook (per subspace),
    composing q149's probed search. Every stage is cross-engine
    bit-exact: one up-front ×10⁴ quantization, BIGINT distance folds
    with id tie-breaks, floor-division means that re-enter the same
    integer grid each iteration, and a BIGINT ADC sum (``adc_dist`` is
    squared L2 in the scaled domain — divide by scale² for the float
    reading).

    Scale shape: per level, one init collect plus n_steps corpus scans
    (:func:`_lloyd` — each an Arrow argmin emitting ≤ M·k partial cells
    per partition, Lloyd's inherent per-iteration cost), then the
    search touches codes only with the n_queries·nprobe·M·k distance
    table broadcast. Between steps the codebooks are driver-side lists;
    the final ones enter the plan as single-row local relations, so
    the plan holds no per-step codebook chain.
    """
    sub = dim // n_subspaces
    e = _int_corpus(emb, id_col, vec_col, scale)
    spark = e.sparkSession
    cents, _ = _lloyd(e, "xs", _init_book(e, "xs", 0, k_coarse, 1), k_coarse, n_steps)
    # the trained codebooks come back as SINGLE-ROW LOCAL relations
    # (bounded driver pulls, k·dim ints): the cross joins below keep
    # the original broadcast shape, but the broadcast now collects
    # from a LocalTableScan — no upstream job, no checkpoint chain
    crow = _ccs_local(spark, cents[-1])
    # Residuals materialize ONCE (r12): five consumers read this table
    # — the PQ init collect, the three per-step Arrow scans, and the
    # final codes projection — and each used to re-run the coarse
    # argmin (k_coarse × dim zip_with/aggregate folds per row), the
    # most expensive per-row expression in the operator. Measured
    # same-session: PQ training 2.44 s recomputing vs 0.74 s build +
    # 0.80 s training on the checkpoint. At scale the checkpoint
    # trades one local-disk materialization of (id, list_id, r)
    # against n_steps+1 recomputes of the assign projection — the
    # scans themselves are inherent to Lloyd either way.
    resid = _residuals(e, crow, k_coarse).localCheckpoint(eager=True)
    cbs, _ = _lloyd(
        resid, "r", _init_book(resid, "r", k_coarse, k, n_subspaces), k, n_steps
    )
    cb = cbs[-1]
    # ---- final codes vs the trained residual codebook ----
    codes = (
        resid.crossJoin(F.broadcast(_mm_local(spark, cb)))
        .select(
            "id",
            "list_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(n_subspaces - 1)),
                    lambda mi: F.array_min(
                        _pq_cands(
                            F.slice(
                                F.col("r"), (mi * sub + 1).cast("int"), sub
                            ),
                            mi,
                            k,
                        )
                    ).cid,
                )
            ).alias("mpos", "code"),
        )
        .select(
            "id",
            "list_id",
            F.col("mpos").cast("long").alias("m"),
            "code",
        )
    )
    # ---- query side: probe trained lists, dtable vs trained codebook ----
    probes = (
        e.where(F.col("id") < n_queries)
        .withColumnRenamed("id", "query_id")
        .crossJoin(F.broadcast(crow))
        .select(
            "query_id",
            "xs",
            "ccs",
            F.explode(
                F.slice(F.array_sort(_coarse_cands(k_coarse)), 1, nprobe)
            ).alias("probe"),
        )
        .select(
            "query_id",
            F.col("probe.cid").alias("list_id"),
            F.zip_with(
                "xs",
                F.element_at(
                    F.col("ccs"), (F.col("probe.cid") + 1).cast("int")
                ),
                lambda x, c: x - c,
            ).alias("rq"),
        )
    )
    cb_table = spark.createDataFrame(
        [(int(m), int(c), [int(x) for x in v]) for m, c, v in cb],
        "m long, code long, cvec array<bigint>",
    )
    dtable = probes.crossJoin(F.broadcast(cb_table)).select(
        "query_id",
        "list_id",
        "m",
        "code",
        _int_sqdist(
            F.slice(F.col("rq"), (F.col("m") * sub + 1).cast("int"), sub),
            F.col("cvec"),
        ).alias("pd"),
    )
    agg = (
        codes.join(F.broadcast(dtable), ["list_id", "m", "code"])
        .where(F.col("id") != F.col("query_id"))
        .groupBy("query_id", "id")
        .agg(F.min("list_id").alias("list_id"), F.sum("pd").alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("id"))
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topk)
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            "list_id",
            F.col("adc").alias("adc_dist"),
            "rank",
        )
    )

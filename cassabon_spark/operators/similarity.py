"""Similarity search over embedding columns: exact brute-force top-k and a
random-hyperplane LSH scale path (SURVEY §2 Part C).

Exact path (`cosine_topk`): broadcast the query set against the corpus,
rank with one window per query. Cost: |corpus| x |queries| similarity
evaluations, fully JVM-side — correct baseline and the oracle for recall.

Scale path (`lsh_bucket_topk`): deterministic random-hyperplane signatures
(md5-seeded, so reproducible across runs and engines) bucket the corpus
once; each query probes only its bucket (optionally multi-probe by flipping
bits). At 100 TB the corpus signature/bucketing is a one-off job and probes
touch |corpus| / 2^bits rows — the classic ANN trade: recall vs probe cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cassabon_spark.functions.text import md5_bucket_expr
from cassabon_spark.functions.vectors import cosine_sim_expr, dot_expr, l2_norm_expr


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine: (qid, cid, cosine, rnk).

    r14: each side's L2 norm is computed ONCE per row before the join
    (dedup_semdedup's r5 trick — the norm is the same sequential fold
    either way, so dot/(qn*cn) is the identical double), and the window
    ranks on the computed `cosine` column instead of re-stating the
    expression — the interpreted HOF fold otherwise evaluates twice per
    pair (column + sort key)."""
    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qe"),
        l2_norm_expr(vec_col).alias("__qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("ce"),
        l2_norm_expr(vec_col).alias("__cn"),
    )
    pairs = c.crossJoin(F.broadcast(q)).filter(F.col("qid") != F.col("cid"))
    sim = dot_expr("qe", "ce") / (F.col("__qn") * F.col("__cn"))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    return (
        pairs.withColumn("cosine", sim)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "cid", "cosine", "rnk")
    )


def _hyperplane(dim: int, bit: int, seed: int = 42) -> list[float]:
    """Deterministic pseudo-random hyperplane component in [-0.5, 0.5):
    md5-derived, so identical on every engine/run — no RNG state."""
    import hashlib

    out = []
    for j in range(dim):
        h = hashlib.md5(f"{seed}|{bit}|{j}".encode()).hexdigest()[:12]
        out.append(int(h, 16) / float(1 << 48) - 0.5)
    return out


def lsh_signature_expr(vec_col, dim: int, n_bits: int = 8, seed: int = 42):
    """Random-hyperplane signature: bit b = sign(v . h_b). Returns INT bucket.
    Pure Catalyst: each dot product is a zip_with/aggregate over a literal
    plane array."""
    sig = F.lit(0)
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    for b in range(n_bits):
        plane = F.array(*[F.lit(x) for x in _hyperplane(dim, b, seed)])
        dot = F.aggregate(
            F.zip_with(v, plane, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig = sig + F.when(dot >= 0, F.lit(1 << b)).otherwise(F.lit(0))
    return sig.cast("int")


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_bits: int = 8,
    multiprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: bucket corpus and queries by LSH signature, rank
    only within the query's probed buckets. Returns (qid, cid, cosine, rnk).

    multiprobe=1 additionally probes every bucket at Hamming distance 1 from
    the query's signature (flip each bit) — the standard recall/cost dial:
    probes (1 + n_bits) buckets, i.e. touches ~(1+n_bits)/2^n_bits of the
    corpus instead of 1/2^n_bits. The corpus is bucketed ONCE; only the tiny
    query side explodes.
    """
    sig = lsh_signature_expr(vec_col, dim, n_bits)
    # r14: norms once per side (identical sequential fold -> identical
    # doubles), rank on the computed column (single HOF evaluation)
    c = corpus.select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("ce"), sig.alias("bucket"),
        l2_norm_expr(vec_col).alias("__cn"),
    )
    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qe"), sig.alias("sig0"),
        l2_norm_expr(vec_col).alias("__qn"),
    )
    if multiprobe >= 1:
        probes = F.array(
            F.col("sig0"), *[F.col("sig0").bitwiseXOR(F.lit(1 << b)) for b in range(n_bits)]
        )
    else:
        probes = F.array(F.col("sig0"))
    q = q.select("qid", "qe", "__qn", F.explode(probes).alias("bucket"))
    pairs = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("qid") != F.col("cid"))
        .dropDuplicates(["qid", "cid"])
    )
    sim = dot_expr("qe", "ce") / (F.col("__qn") * F.col("__cn"))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    return (
        pairs.withColumn("cosine", sim)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "cid", "cosine", "rnk")
    )


#: Partitions the coarse quantizer is fit on. KMeans' k-means||
#: initialisation draws per partition (seeded by partition index), so the
#: cells follow how the input is split; fitting on a fixed hash
#: partitioning of `cid`, each partition sorted by `cid`, gives the same
#: centres whatever the caller's partition count.
QUANTIZER_PARTITIONS = 8


def fit_quantizer(vectors: DataFrame, n_cells: int, seed: int = 42, max_iter: int = 10):
    """pyspark.ml KMeans over (cid, fv) fit on a canonical partitioning of
    the rows (QUANTIZER_PARTITIONS by hash of cid, sorted by cid)."""
    from pyspark.ml.clustering import KMeans

    canonical = vectors.repartition(QUANTIZER_PARTITIONS, "cid").sortWithinPartitions("cid")
    return KMeans(
        k=n_cells, seed=seed, maxIter=max_iter, featuresCol="fv", predictionCol="cell"
    ).fit(canonical)


def ivf_kmeans_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    nprobe: int = 2,
    seed: int = 42,
    max_iter: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-flat ANN with a LEARNED coarse quantizer (pyspark.ml KMeans) —
    the production counterpart of the md5-pivot IVF in queries/extensions.

    Vectors are L2-normalized before clustering so the quantizer's euclidean
    cells align with cosine neighborhoods (on the unit sphere,
    ||a-b||^2 = 2 - 2cos, monotone in cosine); the final rerank uses true
    cosine on the original vectors (scale-invariant, so identical ranking).

    Scale shape: training samples the corpus (k-means|| init, on a
    canonical partitioning: `fit_quantizer`), the corpus is
    assigned to cells in ONE pass and bucketed; each query probes its nprobe
    nearest centroids and scans only those cells — |corpus| * nprobe /
    n_cells candidate evaluations instead of |corpus| * |queries|. Centroids
    broadcast (n_cells x dim floats). Returns (qid, cid, cosine, rnk).
    """
    from pyspark.ml.functions import array_to_vector

    unit = F.transform(
        F.col(vec_col), lambda x: x.cast("double") / l2_norm_expr(F.col(vec_col))
    )
    c = corpus.select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("ce"),
        array_to_vector(unit).alias("fv"),
    )
    model = fit_quantizer(c, n_cells, seed, max_iter)
    cells = model.transform(c).select("cid", "ce", "cell")

    centers = F.array(
        *[
            F.struct(
                F.lit(i).alias("cell"),
                F.array(*[F.lit(float(x)) for x in ctr]).alias("ctr"),
            )
            for i, ctr in enumerate(model.clusterCenters())
        ]
    )
    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qe"))
    # nprobe nearest centroids per query (euclidean on normalized query)
    qn = q.withColumn("qu", F.transform(F.col("qe"), lambda x: x.cast("double") / l2_norm_expr(F.col("qe"))))
    dist = F.aggregate(
        F.zip_with(F.col("qu"), F.col("c.ctr"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    probes = (
        qn.select("qid", "qe", "qu", F.explode(centers).alias("c"))
        .withColumn("d2", dist)
        .withColumn(
            "prnk",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(F.asc("d2"), F.asc("c.cell"))
            ),
        )
        .filter(F.col("prnk") <= nprobe)
        .select("qid", "qe", F.col("c.cell").alias("cell"))
    )
    pairs = cells.join(F.broadcast(probes), "cell").filter(F.col("qid") != F.col("cid"))
    sim = cosine_sim_expr("qe", "ce")
    w = Window.partitionBy("qid").orderBy(F.desc(sim), F.asc("cid"))
    return (
        pairs.withColumn("cosine", sim)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "cid", "cosine", "rnk")
    )


# ------------------------------------------------ product quantization (PQ)

def _sub_expr(vec_col: str, s: int, dsub: int):
    """1-based slice of subspace s (0-based) from a vector column."""
    return F.slice(F.col(vec_col), s * dsub + 1, dsub)


def _l2sq_expr(a, b):
    """Sum of squared differences, left-fold in element order with DOUBLE
    casts — the summation-order-portable pattern the IVF oracle proved."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
        f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _dot_expr(a, b):
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        f"CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def pq_codebook(
    corpus: DataFrame,
    m: int = 8,
    dsub: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "",
) -> DataFrame:
    """Deterministic PQ codebook: the md5-ordered first n_codes corpus
    vectors are the 'training sample'; code (s, j) is sample j's subspace-s
    slice. (s, j, code) — m x n_codes rows, broadcast-sized. No k-means:
    reproducible bit-for-bit in SQL, same trade as the IVF pivot variant.

    Scale note: sample selection is orderBy(key).limit(n_codes) — Catalyst
    plans TakeOrderedAndProject (distributed per-partition top-k + merge),
    so no corpus row ever crosses a single-task global sort. The ordinal j
    is assigned by a window AFTER the limit, over exactly n_codes rows —
    bounded by construction, not by data volume.

    `salt` prefixes the id before hashing, picking a DIFFERENT deterministic
    sample: required when the corpus is residuals of md5-chosen pivots
    (ivfpq_adc_topk) — the unsalted md5-first rows ARE the pivots, whose
    residuals are identically zero, which degenerates the codebook."""
    key = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    train = (
        corpus.select(F.col(id_col).alias("__id"), F.col(vec_col).alias(vec_col), key.alias("__k"))
        .orderBy("__k", "__id")
        .limit(n_codes)
    )
    w = Window.orderBy("__k", "__id")
    train = train.withColumn("j", F.row_number().over(w) - 1).drop("__k", "__id")
    subs = F.explode(
        F.array(*[
            F.struct(F.lit(s).alias("s"), _sub_expr(vec_col, s, dsub).alias("code"))
            for s in range(m)
        ])
    )
    return train.select("j", subs.alias("sc")).select("j", "sc.s", "sc.code")


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    m: int = 8,
    dsub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as m small code ids: (id, s, j) — the 100 TB
    memory story (64 floats -> 8 nibbles per vector). Nearest code by
    squared L2 per subspace; deterministic ties on smallest j. One
    broadcast join (corpus x m x n_codes narrow rows) + one min_by
    aggregation — no shuffle of the float vectors themselves."""
    subs = corpus.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array(*[
                F.struct(F.lit(s).alias("s"), _sub_expr(vec_col, s, dsub).alias("sub"))
                for s in range(m)
            ])
        ).alias("sc"),
    ).select("id", "sc.s", "sc.sub")
    dist = _l2sq_expr("sub", "code")
    joined = subs.join(F.broadcast(codebook), "s")
    # composite scalar key: smallest distance wins, smallest j breaks ties
    # (distances are cross-engine-identical doubles; j < 2^20)
    return (
        joined.groupBy("id", "s")
        .agg(
            F.min_by("j", F.struct(dist.alias("d"), F.col("j"))).alias("j")
        )
    )


def ivfpq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 2,
    m: int = 8,
    dsub: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF+PQ residual ANN (VERDICT r2 next #5): the standard composition —
    a coarse quantizer routes each vector to its nearest cell, PQ encodes
    the RESIDUAL x - centroid (residuals are smaller and better-centered
    than raw vectors, so the same 16-code codebook quantizes them with less
    error), and queries probe only nprobe cells.

    Inner-product ADC decomposes exactly: dot(q, c + r̂) = dot(q, c) +
    Σ_s dot(q_s, code_{s,j_s}) — so the LUT uses the FULL query subvectors
    against the residual codebook and no query residual is ever formed.

    Determinism: cells are the md5-ordered first n_cells corpus vectors
    (TakeOrderedAndProject, same as pq_codebook's sample), assignment ranks
    cosine with id tie-breaks, the codebook trains on the md5-first n_codes
    RESIDUALS — every step SQL-reproducible, so the whole index is
    exact-oracle-checked. Ranking keys on ROUND(adc, 8) like PQ-ADC.

    Scale shape: corpus floats are touched once (assignment + residual +
    encoding); scoring joins nibble codes against a broadcast LUT
    (queries x m x n_codes) and a broadcast probe map (queries x nprobe),
    and only candidates inside probed cells are scored — |corpus| * nprobe
    / n_cells code-rows instead of every pair. The encode-then-join on id
    is two co-shufflable corpus-sized narrow frames; a production build
    would carry the cell id through encoding to skip it.
    """
    key = F.md5(F.col(id_col).cast("string"))
    pivots = (
        corpus.select(
            F.col(id_col).alias("pivot_id"), F.col(vec_col).alias("pe"), key.alias("__k")
        )
        .orderBy("__k", "pivot_id")
        .limit(n_cells)
        .drop("__k")
        # norm once per pivot (r14): the assignment cosine otherwise
        # re-folds ||pe|| once per (vector, pivot) pair — n_cells x
        # per-row waste in an interpreted HOF. Same sequential fold,
        # identical double (the dedup_semdedup r5 trick).
        .withColumn("__pn", l2_norm_expr("pe"))
    )
    sim_p = dot_expr(vec_col, "pe") / (F.col("__vn") * F.col("__pn"))
    w_assign = Window.partitionBy(id_col).orderBy(F.desc(sim_p), F.asc("pivot_id"))
    # r8 (first SCALE width-gate run): pre-partition the corpus by the
    # window key with an EXPLICIT (AQE-exempt) repartition so the
    # crossJoin + cosine + assignment window fuse into ONE stage at
    # cluster width — without it the window's ENSURE_REQUIREMENTS
    # exchange read coalesces by bytes (measured 7 tasks at 1.5 s median
    # on the 10x corpus) and the assignment-final work runs narrow.
    n_parts = int(corpus.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    assigned = (
        corpus.repartition(n_parts, id_col)
        .withColumn("__vn", l2_norm_expr(vec_col))  # norm once per vector (r14)
        .crossJoin(F.broadcast(pivots))
        .withColumn("prnk", F.row_number().over(w_assign))
    )
    res = F.zip_with(
        F.col(vec_col), F.col("pe"), lambda x, y: x.cast("double") - y.cast("double")
    )
    # width-pin (the r6 semdedup lesson, SCALE_r06.md): cells is ~10 MB
    # of residual arrays at the 10x stress, so AQE coalesces the window
    # exchange's read to ~7 tasks — and EVERYTHING compute-dense
    # downstream (residual subvector explode, x n_codes codebook join,
    # min_by encode, ADC scoring) inherits that width. An explicit
    # user-specified repartition is AQE-exempt (verified on this Spark).
    cells = (
        assigned.filter(F.col("prnk") == 1)
        .select(F.col(id_col), F.col("pivot_id"), res.alias("res"))
        .repartition(n_parts, id_col)
    )
    codebook = pq_codebook(
        cells, m=m, dsub=dsub, n_codes=n_codes, id_col=id_col, vec_col="res",
        salt="ivfpq|",  # unsalted order would sample the pivots themselves
        # — zero residuals, degenerate codebook
    )
    encoded = pq_encode(
        cells, codebook, m=m, dsub=dsub, id_col=id_col, vec_col="res"
    )
    # query side: nprobe nearest cells + the dot(q, centroid) offset
    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qe"),
        l2_norm_expr(vec_col).alias("__qn"),
    )
    sim_q = dot_expr("qe", "pe") / (F.col("__qn") * F.col("__pn"))
    w_probe = Window.partitionBy("qid").orderBy(F.desc(sim_q), F.asc("pivot_id"))
    probes = (
        q.crossJoin(F.broadcast(pivots))
        .withColumn("prnk", F.row_number().over(w_probe))
        .filter(F.col("prnk") <= nprobe)
        .select("qid", "pivot_id", _dot_expr("qe", "pe").alias("qc"))
    )
    qsubs = q.select(
        "qid",
        F.explode(
            F.array(*[
                F.struct(F.lit(s).alias("s"), _sub_expr("qe", s, dsub).alias("qsub"))
                for s in range(m)
            ])
        ).alias("sc"),
    ).select("qid", "sc.s", "sc.qsub")
    lut = qsubs.join(F.broadcast(codebook), "s").select(
        "qid", "s", "j", _dot_expr("qsub", "code").alias("pdot")
    )
    # the code/cell scoring join inherits the pinned width through the
    # cells repartition above; pin the encoded side too (PQ codes are
    # ~32x smaller than the floats BY DESIGN, so byte-based coalescing
    # would otherwise under-provision the scoring stage)
    scored = (
        encoded.repartition(n_parts, "id")
        .join(
            cells.select(F.col(id_col).alias("id"), "pivot_id").repartition(
                n_parts, "id"
            ),
            "id",
        )
        .join(F.broadcast(probes), "pivot_id")
        .filter(F.col("id") != F.col("qid"))
        .join(F.broadcast(lut), ["qid", "s", "j"])
        .groupBy("qid", F.col("id").alias("cid"))
        .agg((F.max("qc") + F.sum("pdot")).alias("adc"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc(F.round("adc", 8)), F.asc("cid"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "cid", "adc", "rnk")
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    dsub: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k: queries score candidates through a
    per-query lookup table dot(q_s, code_{s,j}) — after encoding, the
    corpus side carries ONLY (id, s, j); the scoring join touches no
    corpus floats. (qid, cid, adc, rnk), adc = dot(q, reconstruction)."""
    codebook = pq_codebook(corpus, m, dsub, n_codes, id_col, vec_col)
    encoded = pq_encode(corpus, codebook, m, dsub, id_col, vec_col)
    qsubs = queries.select(
        F.col(id_col).alias("qid"),
        F.explode(
            F.array(*[
                F.struct(F.lit(s).alias("s"), _sub_expr(vec_col, s, dsub).alias("qsub"))
                for s in range(m)
            ])
        ).alias("sc"),
    ).select("qid", "sc.s", "sc.qsub")
    lut = qsubs.join(F.broadcast(codebook), "s").select(
        "qid", "s", "j", _dot_expr("qsub", "code").alias("pdot")
    )
    scored = (
        encoded.join(F.broadcast(lut), ["s", "j"])
        .filter(F.col("id") != F.col("qid"))
        .groupBy("qid", F.col("id").alias("cid"))
        .agg(F.sum("pdot").alias("adc"))
    )
    # rank on ROUND(adc, 8): the m-term ADC sum is the one order-sensitive
    # float reduction; the 1e-8 quantum absorbs summation-order ulp noise
    # so the ranking (and any oracle of it) is engine-independent
    w = Window.partitionBy("qid").orderBy(
        F.desc(F.round("adc", 8)), F.asc("cid")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "cid", "adc", "rnk")
    )


# --------------------------------------------------------------------------
# Shared candidate-stage helpers (r11, VERDICT r10 #3): the similarity_*
# registry family had grown three verbatim copies of the SQ8 quantization
# pipeline and three of the md5-pivot coarse assignment. These helpers are
# the single source; the entries keep only their ranking/eval shapes. The
# expressions are copied UNCHANGED from the entries — the full oracle sweep
# (unchanged-exact) is the refactor's safety net.


def md5_pivots(emb: DataFrame, k: int) -> DataFrame:
    """Deterministic md5-chosen coarse pivots (pivot_id, pe) over an
    (vec_id, embedding) frame — the engine-portable stand-in for trained
    IVF centroids (identical in DuckDB via ORDER BY MD5(CAST(vec_id AS
    VARCHAR)), vec_id LIMIT k). Shared by similarity_ivf_topk,
    similarity_probe_ablation and similarity_filtered_ann."""
    return (
        emb.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(k)
        .select(F.col("vec_id").alias("pivot_id"), F.col("embedding").alias("pe"))
    )


def pivot_assigned(
    emb: DataFrame, pivots: DataFrame, rank_round: int | None = None
) -> DataFrame:
    """emb x broadcast(pivots) with prnk = that pivot's cosine rank for the
    vector (1 = owning cell); every emb column rides through. rank_round:
    decimals to round the rank key to before ordering — 8 is the
    engine-independent tie-break (ADVICE r10 #2), None preserves
    similarity_ivf_topk's original raw-cosine contract."""
    sim_p = cosine_sim_expr("embedding", "pe")
    key = F.round(sim_p, rank_round) if rank_round is not None else sim_p
    w = Window.partitionBy("vec_id").orderBy(F.desc(key), F.asc("pivot_id"))
    return emb.crossJoin(F.broadcast(pivots)).withColumn(
        "prnk", F.row_number().over(w)
    )


def sq8_scores(
    emb: DataFrame, dim: int, levels: int, n_queries: int = 5
) -> DataFrame:
    """(qid, cid, score) asymmetric SQ8 scores over an (vec_id, embedding)
    frame: per-dim [min, max] envelope -> 8-bit corpus codes (the scan
    touches only int codes); per-query constants (qs, qmin, qssum)
    broadcast, so score = qmin + 0.5*qssum + sum_i qs[i]*code[i] is a
    codes-only reduction. Shared by similarity_sq8 (direct top-k) and
    similarity_ann_rerank (wide scan + exact refine)."""
    dimstats = (
        emb.select(F.posexplode("embedding").alias("i0", "v"))
        .groupBy("i0")
        .agg(
            F.min(F.col("v").cast("double")).alias("mn"),
            F.max(F.col("v").cast("double")).alias("mx"),
        )
    )
    stats = dimstats.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i0", "mn"))), lambda x: x["mn"]
        ).alias("mns"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("i0", "mx"))), lambda x: x["mx"]
        ).alias("mxs"),
    )
    seq = F.sequence(F.lit(1), F.lit(dim))

    def _at(arr, i):
        return F.element_at(F.col(arr) if isinstance(arr, str) else arr, i)

    code_expr = F.transform(
        seq,
        lambda i: F.when(_at("mxs", i) == _at("mns", i), F.lit(0)).otherwise(
            F.least(
                F.lit(levels - 1),
                F.greatest(
                    F.lit(0),
                    F.floor(
                        (_at("embedding", i).cast("double") - _at("mns", i))
                        / (_at("mxs", i) - _at("mns", i))
                        * levels
                    ).cast("int"),
                ),
            )
        ),
    )
    codes = emb.crossJoin(F.broadcast(stats)).select(
        F.col("vec_id").alias("cid"), code_expr.alias("code")
    )
    qs_expr = F.transform(
        seq,
        lambda i: _at("embedding", i).cast("double")
        * (_at("mxs", i) - _at("mns", i))
        / F.lit(float(levels)),
    )
    qmin_expr = F.aggregate(
        F.zip_with(
            F.transform(seq, lambda i: _at("embedding", i).cast("double")),
            F.col("mns"),
            lambda a, b: a * b,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    q = (
        emb.filter(F.col("vec_id") < n_queries)
        .crossJoin(F.broadcast(stats))
        .select(
            F.col("vec_id").alias("qid"),
            qs_expr.alias("qs"),
            qmin_expr.alias("qmin"),
            F.aggregate(qs_expr, F.lit(0.0), lambda acc, x: acc + x).alias(
                "qssum"
            ),
        )
    )
    return codes.join(F.broadcast(q), F.col("cid") != F.col("qid")).select(
        "qid",
        "cid",
        (
            F.col("qmin")
            + F.lit(0.5) * F.col("qssum")
            + F.aggregate(
                F.zip_with(
                    F.col("qs"), F.col("code"), lambda a, c: a * c.cast("double")
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ).alias("score"),
    )

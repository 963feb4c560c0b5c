"""Similarity search over embedding columns (BASELINE.json extension
surface): brute-force cosine top-k as the exact baseline, an IVF-style
coarse-quantized variant as the scale path, and cosine near-duplicate
pairs.

Scale posture: the brute-force path is a broadcast of the (small) query
set against a partitioned candidate scan — linear, no shuffle of the big
side, and the per-row double-precision fold runs in whole-stage codegen.
The IVF path clusters candidates once (KMeans coarse quantizer), routes
each query to its nprobe nearest centroids, and searches only those
partitions — the classic inverted-file trade of recall for a ~k/nprobe
scan reduction. For serious SIMD throughput the mapInPandas variant
(numpy/BLAS batch dot products) is the drop-in replacement; it is
exercised in tests.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .. import state
from ..registry import register
from ..sources.catalog import fan_out, literal_df, load_table, pin_derived

N_QUERIES = 10
TOP_K = 5
N_PROBE = 2  # IVF cells searched per query
IVF_FIT_SAMPLE = 4096  # bounded sample for the layout-invariant quantizer fit


def _dbl(col) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a, b) -> Column:
    """Double-precision dot product via zip_with + left-to-right fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def sq_norm(a) -> Column:
    return F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)


def cosine(a, b) -> Column:
    return dot(a, b) / (F.sqrt(sq_norm(a)) * F.sqrt(sq_norm(b)))


def norm_col(e) -> Column:
    """sqrt(sq_norm(e)) — the per-row factor of :func:`cosine`."""
    return F.sqrt(sq_norm(e))


def cosine_prenorm(a, b, na, nb) -> Column:
    """:func:`cosine` with the two norms precomputed per ROW instead of
    per PAIR (r11, guide §1.2 step 1): an all-pairs/candidate-pair stage
    evaluates three interpreted array folds per pair (dot + 2 norms);
    carrying ``norm_col(e)`` on each side's rows leaves only the dot
    fold pairwise. Bit-identical — same sqrt over the same fold, and
    ``na * nb`` keeps the left/right order ``cosine`` uses, so every
    emitted double (and the oracles that hash them) is unchanged."""
    return dot(a, b) / (na * nb)


# DuckDB twin of the cosine fold, element-wise identical double math:
# list_zip → struct list → transform to products → left fold.
_SQL_DOT = (
    "list_reduce(list_transform(list_zip({a}, {b}), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)"
)
_SQL_SQNORM = (
    "list_reduce(list_transform({a}, "
    "e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE)), (x, y) -> x + y)"
)


@register(
    "x10_bruteforce_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.qid, c.vec_id,
             {_SQL_DOT.format(a='q.qe', b='c.embedding')}
               / (SQRT({_SQL_SQNORM.format(a='q.qe')}) * SQRT({_SQL_SQNORM.format(a='c.embedding')}))
               AS cos_sim
      FROM q CROSS JOIN embeddings c
      WHERE c.vec_id <> q.qid
    )
    SELECT qid, vec_id, ROUND(cos_sim, 6) AS cos_sim, rn FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rn
      FROM scored
    ) WHERE rn <= {TOP_K}
    """,
    doc="brute-force cosine top-k: broadcast queries × partitioned candidates",
)
def x10_bruteforce_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan the candidate side across cores: the scan is one split locally,
    # and the crossJoin inherits its parallelism from this side
    em = fan_out(load_table(spark, sf_dir, "embeddings"), spark)
    # per-row norms once, not per pair (cosine_prenorm — bit-identical)
    q = em.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), _dbl("embedding").alias("qe")
    ).withColumn("nq", norm_col(F.col("qe")))
    c = em.select("vec_id", _dbl("embedding").alias("ce")).withColumn(
        "nr", norm_col(F.col("ce"))
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "vec_id",
            cosine_prenorm(
                F.col("qe"), F.col("ce"), F.col("nq"), F.col("nr")
            ).alias("cos_sim"),
        )
    )
    w = W.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("qid", "vec_id", F.round("cos_sim", 6).alias("cos_sim"), "rn")
    )


@register(
    "x11_cosine_near_dupes",
    oracle=f"""
    WITH pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             {_SQL_DOT.format(a='a.embedding', b='b.embedding')}
               / (SQRT({_SQL_SQNORM.format(a='a.embedding')}) * SQRT({_SQL_SQNORM.format(a='b.embedding')}))
               AS cos_sim
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, ROUND(cos_sim, 6) AS cos_sim
    FROM pairs WHERE cos_sim >= 0.9
    """,
    doc="embedding-cosine near-dup pairs, blocked by label (LSH-bucket analog)",
)
def x11_cosine_near_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = fan_out(load_table(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", "label", _dbl("embedding").alias("e")
    )
    # per-row norms once, not per pair (cosine_prenorm — bit-identical)
    a = em.select(
        F.col("label"), F.col("vec_id").alias("vec_a"), F.col("e").alias("ea"),
        norm_col(F.col("e")).alias("na"),
    )
    b = em.select(
        F.col("label"), F.col("vec_id").alias("vec_b"), F.col("e").alias("eb"),
        norm_col(F.col("e")).alias("nb"),
    )
    pairs = a.join(b, "label").filter(F.col("vec_a") < F.col("vec_b"))
    return (
        pairs.select(
            "vec_a", "vec_b",
            cosine_prenorm(
                F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.9)
        .select("vec_a", "vec_b", F.round("cos_sim", 6).alias("cos_sim"))
    )


def ivf_index(
    em: DataFrame, n_cells: int = 8, seed: int = 42, cache_key: str | None = None
) -> tuple[DataFrame, "object"]:
    """IVF coarse quantizer: KMeans over the corpus, assignments attached.

    Returns (embeddings + cell column, fitted model). One-time cost; at
    scale the model is tiny (n_cells × dim) and broadcast everywhere.
    With ``cache_key`` (the dataset identity, e.g. sf_dir) the fitted
    model is memoized in the session store — an index is BUILT once and
    QUERIED many times; refitting the coarse quantizer on every query
    batch misrepresents serving cost by an order of magnitude.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = em.select(
        "vec_id", "label", F.col("e"), array_to_vector("e").alias("features")
    )

    def fit():
        vecs.persist()  # the fit sample's ordered scan; pin once
        # Fit the coarse quantizer on a BOUNDED, canonically-ordered,
        # single-partition sample (md5-ordered limit — same device as the
        # PQ codebook fit): k-means|| init samples per partition and float
        # partial sums reduce in partition order, so fitting on the raw
        # distributed corpus makes the centroids a function of physical
        # layout. A fixed sample in one sorted partition pins the model for
        # any partitioning (asserted by test_rowsonly_fixed_seed_determinism)
        # and is also the 100 TB shape: n_cells × dim centroids never need
        # the full corpus, only a representative bounded sample.
        fit_sample = (
            vecs.select("vec_id", "features")
            .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
            .limit(IVF_FIT_SAMPLE)
            .repartition(1)
            .sortWithinPartitions("vec_id")
        )
        model = KMeans(
            k=n_cells, seed=seed, featuresCol="features", maxIter=10
        ).fit(fit_sample)
        vecs.unpersist()
        return model

    if cache_key is None:
        model = fit()
    else:
        model = state.memo(
            em.sparkSession, ("ivf", cache_key, n_cells, seed), fit
        )
    assigned = model.transform(vecs).withColumnRenamed("prediction", "cell")
    return assigned.drop("features"), model


@register(
    "x12_ivf_topk",
    oracle=None,  # approximate (recall < 1 by design); recall checked in tests
    doc="IVF-style ANN: KMeans coarse cells + nprobe=2 probe (scale path)",
)
def x12_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _dbl("embedding").alias("e")
    )
    assigned, model = ivf_index(em, cache_key=sf_dir)

    # Route each query to its nprobe nearest centroids fully
    # distributed: broadcast the k×d centroid table (model metadata,
    # n_cells rows — tiny at any corpus size) against the query
    # DataFrame and keep the top-nprobe cells per query via row_number.
    # No query vectors ever reach the driver, so this shape holds when
    # "queries" is itself a 100 TB-side table instead of a fixture set.
    # literal_df, not createDataFrame: the centroid table is re-evaluated
    # on every action, and an ExistingRDD scan pays ~32 Python worker
    # round trips each time (guide §4.1 — keep constants in the JVM)
    centroids = literal_df(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cell int, ce array<double>",
    )
    q = assigned.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe")
    )
    l2sq = F.aggregate(
        F.zip_with(F.col("qe"), F.col("ce"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wp = W.partitionBy("qid").orderBy(F.asc("dist"), F.asc("cell"))
    probe_df = (
        q.join(F.broadcast(centroids))
        .select("qid", "cell", l2sq.alias("dist"))
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= N_PROBE)
        .select("qid", "cell")
    )
    # per-row norms once, not per pair (cosine_prenorm — bit-identical)
    cand = assigned.select(
        "vec_id", "cell", F.col("e").alias("ce"),
        norm_col(F.col("e")).alias("nr"),
    )
    scored = (
        probe_df.join(F.broadcast(q.withColumn("nq", norm_col(F.col("qe")))), "qid")
        .join(cand, "cell")
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "vec_id",
            cosine_prenorm(
                F.col("qe"), F.col("ce"), F.col("nq"), F.col("nr")
            ).alias("cos_sim"),
        )
        .groupBy("qid", "vec_id")
        .agg(F.max("cos_sim").alias("cos_sim"))
    )
    w = W.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("qid", "vec_id", F.round("cos_sim", 6).alias("cos_sim"), "rn")
    )


def bruteforce_topk_pandas(
    em: DataFrame, n_queries: int = N_QUERIES, k: int = TOP_K
) -> DataFrame:
    """The BLAS scale path: mapInPandas with a broadcast query matrix and a
    single numpy matmul per Arrow batch (vs per-row fold). Same results as
    x10 up to float summation order; used by tests + bench."""
    import numpy as np
    import pandas as pd

    spark = em.sparkSession
    qrows = (
        em.filter(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect()
    )
    qids = np.array([r.vec_id for r in qrows])
    qmat = np.array([r.embedding for r in qrows], dtype=np.float64)
    qnorm = np.linalg.norm(qmat, axis=1)
    bq = spark.sparkContext.broadcast((qids, qmat, qnorm))

    def score(batches):
        qids_, qmat_, qnorm_ = bq.value
        for pdf in batches:
            cmat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            cnorm = np.linalg.norm(cmat, axis=1)
            sims = (cmat @ qmat_.T) / np.outer(cnorm, qnorm_)
            out = pd.DataFrame(
                {
                    "qid": np.repeat(qids_, len(pdf)),
                    "vec_id": np.tile(pdf["vec_id"].values, len(qids_)),
                    "cos_sim": sims.T.ravel(),
                }
            )
            yield out[out.qid != out.vec_id]

    scored = em.select("vec_id", "embedding").mapInPandas(
        score, "qid long, vec_id long, cos_sim double"
    )
    w = W.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", "vec_id", F.round("cos_sim", 6).alias("cos_sim"), "rn")
    )


def quantize_int8(col) -> Column:
    """Per-vector symmetric int8 quantization: scale by max |component|.

    Returns struct(codes: array<int>, scale: double) — 4-8× smaller than
    float32/64 storage, which at 100 TB of embeddings is the difference
    between spilling and staying in memory during the candidate scan.
    """
    max_abs = F.aggregate(
        col, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x.cast("double")))
    )
    scale = F.when(max_abs > 0, max_abs / 127.0).otherwise(F.lit(1.0))
    codes = F.transform(col, lambda x: F.round(x.cast("double") / scale).cast("int"))
    return F.struct(codes.alias("codes"), scale.alias("scale"))


def quantized_cosine(qa, qb) -> Column:
    """Cosine over int8 codes (scales cancel in the normalized form)."""
    a, b = qa["codes"], qb["codes"]
    num = F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na = F.aggregate(a, F.lit(0.0), lambda acc, x: acc + (x * x).cast("double"))
    nb = F.aggregate(b, F.lit(0.0), lambda acc, x: acc + (x * x).cast("double"))
    return num / (F.sqrt(na) * F.sqrt(nb))


@register(
    "x17_quantized_cosine_topk",
    # Quantization is deterministic arithmetic (per-vector max-abs scale,
    # round-half-away codes — both engines' ROUND semantics), and the
    # int8 code sums are exactly representable doubles, so even the
    # lossy path carries an exact oracle; 'approximate' refers to recall
    # vs the float path (still asserted in tests), not nondeterminism.
    oracle=f"""
    WITH m AS (
      SELECT vec_id, embedding,
             list_reduce(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE))), (x, y) -> greatest(x, y))
               AS max_abs
      FROM embeddings
    ), qz AS (
      SELECT vec_id,
             list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE)
                      / (CASE WHEN max_abs > 0 THEN max_abs / 127.0
                         ELSE 1.0 END)) AS INT)) AS codes
      FROM m
    ), q AS (
      SELECT vec_id AS qid, codes AS qc FROM qz WHERE vec_id < {N_QUERIES}
    ), scored AS (
      SELECT qid, c.vec_id,
             list_reduce(list_transform(list_zip(qc, c.codes),
                 p -> CAST(p[1] * p[2] AS DOUBLE)), (x, y) -> x + y)
             / (SQRT(list_reduce(list_transform(qc,
                    x -> CAST(x * x AS DOUBLE)), (x, y) -> x + y))
                * SQRT(list_reduce(list_transform(c.codes,
                    x -> CAST(x * x AS DOUBLE)), (x, y) -> x + y)))
               AS cos_sim
      FROM q CROSS JOIN qz c
      WHERE c.vec_id <> qid
    )
    SELECT qid, vec_id, ROUND(cos_sim, 6) AS cos_sim, rn FROM (
      SELECT qid, vec_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY cos_sim DESC, vec_id) AS rn
      FROM scored
    ) WHERE rn <= {TOP_K}
    """,
    doc="int8-quantized cosine top-k: 4-8x smaller candidate scan, recall "
    "vs the exact float path asserted in tests",
)
def x17_quantized_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = fan_out(load_table(spark, sf_dir, "embeddings"), spark)
    qz = em.select("vec_id", quantize_int8("embedding").alias("q"))
    queries = qz.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("q").alias("qq")
    )
    scored = (
        qz.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "vec_id", quantized_cosine(F.col("qq"), F.col("q")).alias("cos_sim")
        )
    )
    w = W.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("qid", "vec_id", F.round("cos_sim", 6).alias("cos_sim"), "rn")
    )


RRF_K = 60  # standard reciprocal-rank-fusion damping constant


@register(
    "x28_rrf_fusion",
    # Fused scores are rationals of integer ranks (1/(60+r)), so the only
    # cross-engine float risk is the rank orderings themselves — the same
    # risk profile as the already-exact x10 (embedding cosines are spread
    # far wider than a double ulp at any realistic dimensionality).
    oracle=f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.qid, c.vec_id,
             {_SQL_DOT.format(a='q.qe', b='c.embedding')}
               / (SQRT({_SQL_SQNORM.format(a='q.qe')}) * SQRT({_SQL_SQNORM.format(a='c.embedding')}))
               AS cos_sim,
             list_reduce(list_transform(list_zip(q.qe, c.embedding),
               p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                    * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), (x, y) -> x + y)
               AS l2sq
      FROM q CROSS JOIN embeddings c
      WHERE c.vec_id <> q.qid
    ),
    ranked AS (
      SELECT qid, vec_id,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS r_cos,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY l2sq ASC, vec_id) AS r_l2
      FROM scored
    )
    SELECT qid, vec_id, r_cos, r_l2,
           ROUND(1.0 / ({RRF_K} + r_cos) + 1.0 / ({RRF_K} + r_l2), 6) AS rrf_score,
           rn
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY qid
        ORDER BY 1.0 / ({RRF_K} + r_cos) + 1.0 / ({RRF_K} + r_l2) DESC, vec_id) AS rn
      FROM ranked
    ) WHERE rn <= {TOP_K}
    """,
    doc="reciprocal-rank fusion of two retrievers (cosine rank + L2 rank) "
    "per query: one scoring pass, two row_number windows sharing a single "
    "hash-partition on qid, fused top-k — the standard multi-retriever "
    "merge for hybrid search pipelines",
)
def x28_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = fan_out(load_table(spark, sf_dir, "embeddings"), spark)
    q = em.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), _dbl("embedding").alias("qe")
    )
    c = em.select("vec_id", _dbl("embedding").alias("ce"))
    l2sq = F.aggregate(
        F.zip_with(F.col("qe"), F.col("ce"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # one crossJoin pass produces both measures; the two rank windows share
    # the qid hash-partition, so fusion costs one shuffle + two sorts
    scored = (
        c.withColumn("nr", norm_col(F.col("ce")))
        .crossJoin(F.broadcast(q.withColumn("nq", norm_col(F.col("qe")))))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            # per-row norms once, not per pair (bit-identical)
            cosine_prenorm(
                F.col("qe"), F.col("ce"), F.col("nq"), F.col("nr")
            ).alias("cos_sim"),
            l2sq.alias("l2sq"),
        )
    )
    w_cos = W.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    w_l2 = W.partitionBy("qid").orderBy(F.asc("l2sq"), F.asc("vec_id"))
    fused = (
        F.lit(1.0) / (RRF_K + F.col("r_cos")) + F.lit(1.0) / (RRF_K + F.col("r_l2"))
    )
    ranked = scored.select(
        "qid",
        "vec_id",
        F.row_number().over(w_cos).alias("r_cos"),
        F.row_number().over(w_l2).alias("r_l2"),
    ).withColumn("rrf_score", fused)
    w_f = W.partitionBy("qid").orderBy(F.desc("rrf_score"), F.asc("vec_id"))
    return (
        ranked.withColumn("rn", F.row_number().over(w_f))
        .filter(F.col("rn") <= TOP_K)
        .select(
            "qid", "vec_id", "r_cos", "r_l2",
            F.round("rrf_score", 6).alias("rrf_score"), "rn",
        )
    )


SEMDEDUP_TAU = 0.9  # within-cell cosine threshold (matches x11)


@register(
    "x29_semdedup",
    oracle=None,  # KMeans cells are not SQL-reproducible; recall vs the
    # exact all-pairs near-dup set is asserted in tests
    doc="SemDeDup-style semantic dedup: KMeans coarse cells over the "
    "embedding corpus, exact cosine only WITHIN each cell, prune every "
    "vector that has a smaller-id neighbor above the threshold. All-pairs "
    "work drops from O(N^2) to O(sum of cell^2) — the cells bound the "
    "candidate set the same way LSH bands do for MinHash (x08)",
)
def x29_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _dbl("embedding").alias("e")
    )
    return semdedup_prune(em, cache_key=sf_dir)


def semdedup_prune(
    em: DataFrame,
    n_cells: int = 8,
    tau: float = SEMDEDUP_TAU,
    cache_key: str | None = None,
) -> DataFrame:
    """Core SemDeDup pass over (vec_id, label, e) rows; see x29."""
    assigned, _model = ivf_index(em, n_cells=n_cells, cache_key=cache_key)
    # the cell-assigned corpus feeds the pair join's both sides AND the
    # final left-join base; unpinned, the KMeans transform + embedding
    # scan lineage replays three times. Only a caller naming the dataset
    # (``cache_key``) gives the store a key to pin it under.
    if cache_key is not None:
        cells = assigned
        assigned = pin_derived(
            em.sparkSession, cache_key, f"semdedup_cells_{n_cells}", lambda: cells
        )
    # per-row norms once, not per pair (cosine_prenorm — bit-identical)
    a = assigned.select(
        "cell", F.col("vec_id").alias("vec_a"), F.col("e").alias("ea"),
        norm_col(F.col("e")).alias("na"),
    )
    b = assigned.select(
        "cell", F.col("vec_id").alias("vec_b"), F.col("e").alias("eb"),
        norm_col(F.col("e")).alias("nb"),
    )
    # within-cell pairs only: the join key IS the blocking structure
    pairs = (
        a.join(b, "cell")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "cell", "vec_a", "vec_b",
            cosine_prenorm(
                F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= tau)
    )
    # SemDeDup keep-rule: within a cell, a vector survives unless a
    # smaller-id vector sits above the threshold (deterministic canonical)
    pruned = pairs.groupBy(F.col("vec_b").alias("vec_id")).agg(
        F.min("vec_a").alias("kept_neighbor"),
        F.round(F.max("cos_sim"), 6).alias("max_cos"),
    )
    return (
        assigned.select("vec_id", "label", "cell")
        .join(pruned, "vec_id", "left")
        .select(
            "vec_id",
            "label",
            "cell",
            F.col("kept_neighbor").isNotNull().alias("pruned"),
            "kept_neighbor",
            "max_cos",
        )
    )


@register(
    "x24_label_centroids",
    # Long (label, dim, centroid) shape so the hash compare sees scalars,
    # not arrays; ROUND(,6) absorbs the float summation-order ulp between
    # Spark's per-partition partial avgs and DuckDB's sequential avg. The
    # static range(64) join sidesteps DuckDB's no-lateral-refs limitation
    # on table-function bounds (embedding width is fixed).
    oracle="""
    SELECT label, CAST(t.i AS INT) AS dim,
           ROUND(AVG(CAST(embedding[t.i + 1] AS DOUBLE)), 6) AS centroid
    FROM embeddings CROSS JOIN range(64) t(i)
    GROUP BY label, t.i
    """,
    doc="per-label embedding centroids (class prototypes / IVF seeds): "
    "posexplode to (label, dim, value), one hash-agg shuffle — the "
    "centroid table is labels x dims regardless of corpus size",
)
def x24_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = fan_out(load_table(spark, sf_dir, "embeddings"), spark)
    return (
        em.select("label", F.posexplode(_dbl("embedding")).alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(F.round(F.avg("v"), 6).alias("centroid"))
    )


# --- x41: hyperplane (sign-random-projection) LSH ANN ------------------------

# The OTHER classic cosine-ANN family next to IVF (x12): each of NBITS
# deterministic hyperplanes contributes sign(w·v) to a bit signature;
# vectors on the same side of every plane in a band land in the same
# bucket (P[bit match] = 1 - angle/pi, Charikar 2002). Candidates come
# from band-equality joins — never all-pairs — then exact cosine ranks
# them. Plane weights derive from md5 so any engine / any run builds the
# identical planes (no RNG state shipped to executors).
# s-curve tuning: with per-bit match p = 1 - angle/pi, a candidate fires
# with 1-(1-p^r)^bands. Top-k neighbors here sit near p ~ 0.6, so r=3 /
# bands=8 gives ~0.86 hit probability while a band key still carves the
# corpus into 2^3 buckets per band (the prior r=4/bands=3 fired at only
# ~0.34 — measured recall 0.3). Narrow further (larger r, more bands) as
# corpus density grows.
LSH_NBITS = 24
LSH_ANN_BANDS = 8  # 3 bits per band
EMB_DIM = 64


def _plane_weights() -> list[list[float]]:
    import hashlib

    planes = []
    for j in range(LSH_NBITS):
        row = []
        for k in range(EMB_DIM):
            h = int.from_bytes(
                hashlib.md5(f"swm-plane:{j}:{k}".encode()).digest()[:8], "big"
            )
            row.append(h / float(1 << 63) - 1.0)  # uniform [-1, 1)
        planes.append(row)
    return planes


def _band_cols(e):
    """NBITS sign bits folded into LSH_ANN_BANDS small integer band keys."""
    planes = _plane_weights()
    bits = [
        (
            F.aggregate(
                F.zip_with(
                    e,
                    F.array(*[F.lit(w) for w in planes[j]]),
                    lambda a, b: a * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            > 0
        ).cast("int")
        for j in range(LSH_NBITS)
    ]
    r = LSH_NBITS // LSH_ANN_BANDS
    return [
        sum(bits[b * r + i] * (1 << i) for i in range(r)).alias(f"band{b}")
        for b in range(LSH_ANN_BANDS)
    ]


def _x41_oracle() -> str:
    """DuckDB twin of the hyperplane-LSH pipeline. The md5-derived plane
    weights are inlined as literal arrays (repr round-trips doubles
    exactly); both engines fold the dot products left-to-right over
    identical doubles, so every sign bit — and therefore every band key,
    candidate set, and ranked result — is engine-exact. The 'approximate'
    in ANN refers to recall vs x10, not to nondeterminism."""
    planes = _plane_weights()
    r = LSH_NBITS // LSH_ANN_BANDS
    bit_exprs = ",\n             ".join(
        "CASE WHEN list_reduce(list_transform(list_zip(e, ["
        + ", ".join(repr(w) for w in planes[j])
        + "]), p -> p[1] * p[2]), (x, y) -> x + y) > 0 "
        f"THEN 1 ELSE 0 END AS bit{j}"
        for j in range(LSH_NBITS)
    )
    band_exprs = ", ".join(
        " + ".join(f"bit{b * r + i} * {1 << i}" for i in range(r))
        + f" AS band{b}"
        for b in range(LSH_ANN_BANDS)
    )
    stacked = "\n      UNION ALL ".join(
        f"SELECT vec_id, e, {b} AS band, band{b} AS bh FROM bands"
        for b in range(LSH_ANN_BANDS)
    )
    cos = (
        _SQL_DOT.format(a="qe", b="s.e")
        + " / (SQRT(" + _SQL_SQNORM.format(a="qe") + ")"
        + " * SQRT(" + _SQL_SQNORM.format(a="s.e") + "))"
    )
    return f"""
    WITH emb AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), bits AS (
      SELECT vec_id, e,
             {bit_exprs}
      FROM emb
    ), bands AS (
      SELECT vec_id, e, {band_exprs} FROM bits
    ), stacked AS (
      {stacked}
    ), q AS (
      SELECT band, bh, vec_id AS qid, e AS qe FROM stacked
      WHERE vec_id < {N_QUERIES}
    ), scored AS (
      SELECT qid, s.vec_id AS vec_id, MAX({cos}) AS cos_sim
      FROM q JOIN stacked s ON q.band = s.band AND q.bh = s.bh
      WHERE s.vec_id <> qid
      GROUP BY qid, s.vec_id
    )
    SELECT qid, vec_id, ROUND(cos_sim, 6) AS cos_sim, rn FROM (
      SELECT qid, vec_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY cos_sim DESC, vec_id) AS rn
      FROM scored
    ) WHERE rn <= {TOP_K}
    """


@register(
    "x41_hyperplane_lsh_ann",
    oracle=_x41_oracle(),
    doc=f"hyperplane-LSH cosine ANN (Charikar sign-random-projection): "
    f"{LSH_NBITS} deterministic md5-derived planes -> sign bits -> "
    f"{LSH_ANN_BANDS} band keys; candidates from band-equality joins "
    "(hash-partitioned, never all-pairs), exact cosine re-ranks them. "
    "The bucketed complement to x12's IVF cells — at 100 TB the band "
    "tables are what you persist and the probe touches only matching "
    "buckets",
)
def x41_hyperplane_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = fan_out(load_table(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", _dbl("embedding").alias("e")
    )
    # pinned: the 24-plane sign-projection expression feeds BOTH sides of
    # the band self-join (q is a filter of the same frame) — unpinned,
    # Catalyst evaluates the ~24x64-term dot-product tree twice per run
    banded = pin_derived(
        spark,
        sf_dir,
        "x41_bands",
        lambda: em.select(
            "vec_id", "e", norm_col(F.col("e")).alias("nr"),
            *_band_cols(F.col("e")),
        ),
    )
    stacked = banded.select(
        "vec_id",
        "e",
        "nr",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("bh"))
                for b in range(LSH_ANN_BANDS)
            ])
        ).alias("s"),
    ).select("vec_id", "e", "nr", "s.band", "s.bh")
    q = stacked.filter(F.col("vec_id") < N_QUERIES).select(
        "band", "bh", F.col("vec_id").alias("qid"), F.col("e").alias("qe"),
        F.col("nr").alias("nq"),
    )
    cand = (
        q.join(stacked.select("band", "bh", "vec_id", "e", "nr"), ["band", "bh"])
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "qe", "nq", "vec_id", "e", "nr")
    )
    # score BEFORE deduping band collisions, then dedup on scalars (x12's
    # pattern): redundant cosines are cheap map-side FLOPs, while a
    # distinct over (qid, qe, vec_id, e) would shuffle up-to-8x-duplicated
    # 64-double array payloads
    # per-row norms once, not per pair (cosine_prenorm — bit-identical;
    # the norms ride the pinned band table)
    scored = cand.select(
        "qid", "vec_id",
        cosine_prenorm(
            F.col("qe"), F.col("e"), F.col("nq"), F.col("nr")
        ).alias("cos_sim"),
    )
    dedup = scored.groupBy("qid", "vec_id").agg(F.max("cos_sim").alias("cos_sim"))
    w = W.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        dedup.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("qid", "vec_id", F.round("cos_sim", 6).alias("cos_sim"), "rn")
    )


# --- x48/x49: label cohesion & separation audit ------------------------------

# Embedding-space quality audit without a pairwise join: for vectors
# v_1..v_n in a group, sum-of-pairwise-dots = ||S||^2 - sum||v||^2 with
# S = sum(v), so the MEAN intra-label dot (cohesion, ~mean cosine for
# unit vectors) needs only the per-dim sums and per-row square norms —
# one posexplode + two hash aggs at any corpus size. Cross-label
# separation is S_a . S_b / (n_a n_b) from the same per-dim sum table.
# A curation pipeline runs this to catch label noise / collapsed
# clusters before training; at 100 TB it replaces an impossible O(n^2)
# cosine sweep with two scans. All moments go through exact-decimal
# sums (functions/numeric.py) so both engines derive bit-identical
# doubles — no ROUND-absorbed ulp drift.


def _label_dim_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinned per-(label, dim) exact-decimal sum table shared by x48/x49."""
    from ..functions.numeric import dsum
    def build():
        em = fan_out(load_table(spark, sf_dir, "embeddings"), spark)
        return (
            em.select("label", F.posexplode(_dbl("embedding")).alias("dim", "v"))
            .groupBy("label", "dim")
            .agg(dsum("v").alias("s"))
        )

    return pin_derived(spark, sf_dir, "label_dim_sums", build)


_SQL_LABEL_DIM_SUMS = f"""
    per_dim AS (
      SELECT label, CAST(t.i AS INT) AS dim,
             CAST(SUM(CAST(CAST(embedding[t.i + 1] AS DOUBLE)
                           AS DECIMAL(27,6))) AS DOUBLE) AS s
      FROM embeddings CROSS JOIN range({EMB_DIM}) t(i)
      GROUP BY label, t.i
    )"""


@register(
    "x48_label_cohesion",
    oracle=f"""
    WITH {_SQL_LABEL_DIM_SUMS},
    ssq AS (
      SELECT label, CAST(SUM(CAST(s * s AS DECIMAL(38,6))) AS DOUBLE) AS ssq
      FROM per_dim GROUP BY label
    ),
    rows_sq AS (
      SELECT label, COUNT(*) AS n_vecs,
             CAST(SUM(CAST({_SQL_SQNORM.format(a='embedding')}
                           AS DECIMAL(27,6))) AS DOUBLE) AS sum_sq
      FROM embeddings GROUP BY label
    )
    SELECT r.label, r.n_vecs,
           ROUND((ssq - sum_sq) / (r.n_vecs * (r.n_vecs - 1.0)), 6)
             AS mean_intra_dot,
           ROUND(SQRT(ssq) / r.n_vecs, 6) AS centroid_norm
    FROM rows_sq r JOIN ssq USING (label)
    """,
    doc="per-label cohesion audit: mean intra-label dot product and "
    "centroid norm via the sum-of-pairwise-dots identity "
    "(||S||^2 - sum||v||^2) — O(n) scans instead of an O(n^2) cosine "
    "sweep; exact-decimal moments make it engine-exact",
)
def x48_label_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.numeric import dsum

    per_dim = _label_dim_sums(spark, sf_dir)
    ssq = per_dim.groupBy("label").agg(
        dsum(F.col("s") * F.col("s"), 38).alias("ssq")
    )
    em = fan_out(load_table(spark, sf_dir, "embeddings"), spark)
    rows_sq = em.select("label", sq_norm(_dbl("embedding")).alias("sqn")).groupBy(
        "label"
    ).agg(F.count("*").alias("n_vecs"), dsum("sqn").alias("sum_sq"))
    n = F.col("n_vecs")
    return rows_sq.join(ssq, "label").select(
        "label",
        "n_vecs",
        F.round((F.col("ssq") - F.col("sum_sq")) / (n * (n - 1.0)), 6).alias(
            "mean_intra_dot"
        ),
        F.round(F.sqrt(F.col("ssq")) / n, 6).alias("centroid_norm"),
    )


@register(
    "x49_label_separation",
    oracle=f"""
    WITH {_SQL_LABEL_DIM_SUMS},
    n AS (SELECT label, COUNT(*) AS n_vecs FROM embeddings GROUP BY label)
    SELECT a.label AS label_a, b.label AS label_b,
           ROUND(CAST(SUM(CAST(a.s * b.s AS DECIMAL(38,6))) AS DOUBLE)
                 / (na.n_vecs * nb.n_vecs), 6) AS mean_cross_dot
    FROM per_dim a
    JOIN per_dim b ON a.dim = b.dim AND a.label < b.label
    JOIN n na ON na.label = a.label
    JOIN n nb ON nb.label = b.label
    GROUP BY a.label, b.label, na.n_vecs, nb.n_vecs
    """,
    doc="cross-label separation: mean inter-label dot product "
    "S_a . S_b / (n_a n_b) from the shared per-dim sum table — the "
    "labels x labels contrast matrix to x48's diagonal, again with no "
    "pairwise vector join (the join is dims x labels, constant-size)",
)
def x49_label_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.numeric import dsum

    per_dim = _label_dim_sums(spark, sf_dir)
    a = per_dim.alias("a")
    b = per_dim.alias("b")
    n = (
        fan_out(load_table(spark, sf_dir, "embeddings"), spark)
        .groupBy("label")
        .agg(F.count("*").alias("n_vecs"))
    )
    pairs = (
        a.join(
            b,
            (F.col("a.dim") == F.col("b.dim"))
            & (F.col("a.label") < F.col("b.label")),
        )
        .groupBy(F.col("a.label").alias("label_a"), F.col("b.label").alias("label_b"))
        .agg(dsum(F.col("a.s") * F.col("b.s"), 38).alias("cross"))
    )
    na = n.select(F.col("label").alias("label_a"), F.col("n_vecs").alias("n_a"))
    nb = n.select(F.col("label").alias("label_b"), F.col("n_vecs").alias("n_b"))
    return (
        pairs.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            F.round(F.col("cross") / (F.col("n_a") * F.col("n_b")), 6).alias(
                "mean_cross_dot"
            ),
        )
    )


# --- x54: product-quantization ANN (ADC scan) --------------------------------

PQ_M = 16  # subspaces (64-dim embeddings -> 16 chunks of 4 dims)
PQ_KS = 16  # centroids per subspace (4-bit codes)


def pq_codebooks(
    em: DataFrame,
    m: int = PQ_M,
    ks: int = PQ_KS,
    seed: int = 42,
    cache_key: str | None = None,
):
    """Fit per-subspace codebooks on a bounded sample and return them as a
    numpy array of shape (m, ks, dsub).

    The sample is deterministic (md5-ordered top rows) and BOUNDED
    (PQ_TRAIN_ROWS), so collecting it is the standard "fit the tiny model
    driver-side, broadcast it everywhere" pattern — at 100 TB the
    codebooks are m*ks*dsub floats (~4 KB here) while the corpus never
    leaves the executors. Lloyd iterations run in numpy on the sample
    (deterministic seed, fixed iteration count — no convergence
    nondeterminism across machines). With ``cache_key`` the codebooks are
    memoized in the session store."""
    import numpy as np

    if cache_key is not None:
        return state.memo(
            em.sparkSession,
            ("pq", cache_key, m, ks, seed),
            lambda: pq_codebooks(em, m, ks, seed),
        )

    sample_rows = (
        em.select("vec_id", "e")
        .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(PQ_TRAIN_ROWS)
        .collect()
    )
    x = np.array([r.e for r in sample_rows], dtype=np.float64)
    dim = x.shape[1]
    dsub = dim // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, ks, dsub))
    for j in range(m):
        xs = x[:, j * dsub : (j + 1) * dsub]
        # k-means++-free deterministic init: ks distinct sample rows
        idx = rng.permutation(len(xs))[:ks]
        c = xs[idx].copy()
        for _ in range(PQ_ITERS):
            d2 = ((xs[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for k in range(ks):
                mask = assign == k
                if mask.any():
                    c[k] = xs[mask].mean(axis=0)
        books[j] = c
    return books


PQ_TRAIN_ROWS = 256
PQ_ITERS = 12
PQ_RERANK = 64  # ADC shortlist size fed to the exact rerank


@register(
    "x54_pq_topk",
    oracle=None,  # approximate by design; recall vs exact x10 checked in tests
    doc=f"product-quantization ANN: {PQ_M} subspaces x {PQ_KS} centroids "
    "(4-bit codes) fit on a bounded deterministic sample; candidates are "
    f"encoded to {PQ_M}-nibble codes (32x smaller than float32 vectors) by a "
    "broadcast-codebook mapInPandas pass, and queries scan codes via "
    "asymmetric-distance lookup tables (one ks-entry LUT per subspace per "
    "query — distance becomes m table lookups per candidate, no float "
    "vector ever re-read). The scan stays linear and Arrow-batched; at "
    "100 TB the code table is the only thing scanned, and IVF cells (x12) "
    "compose in front of it for sublinear probes",
)
def x54_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    em = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _dbl("embedding").alias("e")
    )
    books = pq_codebooks(em, cache_key=sf_dir)
    m, ks, dsub = books.shape
    bb = spark.sparkContext.broadcast(books)

    # Encode: one argmin per subspace per row, vectorized per Arrow batch.
    def encode(batches):
        b = bb.value
        for pdf in batches:
            x = np.array(pdf["e"].tolist(), dtype=np.float64)
            codes = np.empty((len(x), m), dtype=np.int32)
            for j in range(m):
                xs = x[:, j * dsub : (j + 1) * dsub]
                d2 = ((xs[:, None, :] - b[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].values, "code": list(codes)}
            )

    code_df = em.mapInPandas(encode, "vec_id long, code array<int>")

    # Queries: bounded fixture set; LUTs (m x ks squared distances per
    # query) are built once and broadcast with the query ids.
    qrows = em.filter(F.col("vec_id") < N_QUERIES).collect()
    qids = np.array([r.vec_id for r in qrows])
    qmat = np.array([r.e for r in qrows], dtype=np.float64)
    luts = np.empty((len(qids), m, ks))
    for j in range(m):
        qs = qmat[:, j * dsub : (j + 1) * dsub]
        luts[:, j, :] = ((qs[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
    bl = spark.sparkContext.broadcast((qids, luts))

    # ADC scan: approx squared L2 = sum of per-subspace LUT entries.
    def adc(batches):
        qids_, luts_ = bl.value
        for pdf in batches:
            codes = np.array(pdf["code"].tolist(), dtype=np.int64)  # n x m
            n = len(codes)
            # gather: for each query q, dist[q, i] = sum_j lut[q, j, codes[i, j]]
            d = np.zeros((len(qids_), n))
            for j in range(m):
                d += luts_[:, j, :][:, codes[:, j]]
            out = pd.DataFrame(
                {
                    "qid": np.repeat(qids_, n),
                    "vec_id": np.tile(pdf["vec_id"].values, len(qids_)),
                    "adc_dist": d.ravel(),
                }
            )
            yield out[out.qid != out.vec_id]

    scored = code_df.mapInPandas(adc, "qid long, vec_id long, adc_dist double")

    # Exact rerank of the ADC shortlist: PQ distances are lossy (4-bit
    # codes), so production PQ takes the top-R by ADC and reranks those
    # few with true vectors. R is a constant (not a corpus fraction): the
    # expensive exact math touches R rows per query regardless of scale.
    wr = W.partitionBy("qid").orderBy(F.asc("adc_dist"), F.asc("vec_id"))
    shortlist = (
        scored.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= PQ_RERANK)
        .select("qid", "vec_id")
    )
    q = em.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe")
    )
    l2 = F.aggregate(
        F.zip_with(F.col("qe"), F.col("ce"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    exact = (
        shortlist.join(em.select("vec_id", F.col("e").alias("ce")), "vec_id")
        .join(F.broadcast(q), "qid")
        .select("qid", "vec_id", l2.alias("l2_dist"))
    )
    w = W.partitionBy("qid").orderBy(F.asc("l2_dist"), F.asc("vec_id"))
    return (
        exact.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("qid", "vec_id", F.round("l2_dist", 6).alias("l2_dist"), "rn")
    )


# --- x60: PageRank over the k-NN similarity graph ----------------------------

PR_ITERS = 5
PR_DAMP = 0.85
PR_KNN = 3  # out-degree: top-3 cosine neighbors within the label block


def _pr_knn_sql() -> str:
    """The deterministic directed k-NN edge list, shared CTE text."""
    dot = _SQL_DOT.format(a="a.embedding", b="b.embedding")
    na = _SQL_SQNORM.format(a="a.embedding")
    nb = _SQL_SQNORM.format(a="b.embedding")
    return f"""
    edges AS (
      SELECT src, dst FROM (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               ROW_NUMBER() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY {dot} / (SQRT({na}) * SQRT({nb})) DESC, b.vec_id
               ) AS rk
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id <> b.vec_id
      ) WHERE rk <= {PR_KNN}
    ),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn FROM embeddings)
    """


def _pr_oracle() -> str:
    """Unrolled power iteration: each round is a join + decimal-exact
    contribution sum — expressible without recursive aggregation, so the
    iterative algorithm itself is oracle-checked."""
    sql = "WITH " + _pr_knn_sql() + """,
    r0 AS (SELECT vec_id, 1.0 / nn AS r FROM embeddings CROSS JOIN n)
    """
    prev = "r0"
    for i in range(1, PR_ITERS + 1):
        # zero-in-degree nodes must stay in the rank vector at (1-d)/N —
        # they keep contributing along their out-edges in later rounds
        sql += f""",
    c{i} AS (
      SELECT e.dst AS vec_id,
             CAST(SUM(CAST(ROUND(p.r / {PR_KNN}, 12) AS DECIMAL(27,12)))
                  AS DOUBLE) AS contrib
      FROM edges e JOIN {prev} p ON e.src = p.vec_id
      GROUP BY e.dst
    ),
    r{i} AS (
      SELECT em.vec_id,
             ROUND((1.0 - {PR_DAMP}) / n.nn
                   + {PR_DAMP} * COALESCE(c.contrib, 0.0), 12) AS r
      FROM embeddings em CROSS JOIN n
      LEFT JOIN c{i} c ON em.vec_id = c.vec_id
    )"""
        prev = f"r{i}"
    sql += f"""
    SELECT vec_id, ROUND(r, 9) AS pagerank
    FROM {prev}
    ORDER BY vec_id
    """
    return sql


@register(
    "x60_knn_pagerank",
    oracle=_pr_oracle(),
    doc=f"PageRank over the directed k-NN similarity graph (top-{PR_KNN} "
    "cosine neighbors within each label block): the graph-centrality "
    "signal used to pick canonical representatives / weigh quality "
    "inside near-dup clusters. The iterative shape is the engine's "
    "Pregel analog — per round one hash join (ranks x edges, both "
    "partitioned on the join key) + one map-combined aggregate, lineage "
    f"truncated per round; {PR_ITERS} rounds unrolled in the oracle so "
    "the ITERATION ITSELF is hash-checked, not just invariants. "
    "Per-contribution 12-dp rounding + decimal sums make every round "
    "order-independent and engine-exact",
)
def x60_knn_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = fan_out(load_table(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", "label", _dbl("embedding").alias("e")
    )
    # per-row norms once, not per pair (cosine_prenorm — bit-identical)
    a = em.select(
        "label", F.col("vec_id").alias("src"), F.col("e").alias("ea"),
        norm_col(F.col("e")).alias("na"),
    )
    b = em.select(
        "label", F.col("vec_id").alias("dst"), F.col("e").alias("eb"),
        norm_col(F.col("e")).alias("nb"),
    )
    wk = W.partitionBy("src").orderBy(
        F.desc("cos"), F.asc("dst")
    )
    edges = (
        a.join(b, "label")
        .filter(F.col("src") != F.col("dst"))
        .select(
            "src", "dst",
            cosine_prenorm(
                F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")
            ).alias("cos"),
        )
        .withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= PR_KNN)
        .select("src", "dst")
        .persist()  # re-joined every iteration
    )
    n = em.count()  # bounded driver scalar (graph size)
    nodes = em.select("vec_id").persist()
    ranks = nodes.select("vec_id", (F.lit(1.0) / n).alias("r"))
    contrib = F.round(F.col("r") / PR_KNN, 12).cast("decimal(27,12)")
    for _ in range(PR_ITERS):
        summed = (
            edges.join(ranks, edges["src"] == ranks["vec_id"])
            .groupBy(edges["dst"].alias("vec_id"))
            .agg(F.sum(contrib).cast("double").alias("contrib"))
        )
        # zero-in-degree nodes stay in the vector at (1-d)/N so their
        # out-edges keep contributing in later rounds (true PR semantics)
        ranks = (
            nodes.join(summed, "vec_id", "left")
            .select(
                "vec_id",
                F.round(
                    (1.0 - PR_DAMP) / n
                    + PR_DAMP * F.coalesce("contrib", F.lit(0.0)),
                    12,
                ).alias("r"),
            )
            # truncate lineage: without this the plan doubles per round
            .localCheckpoint(eager=False)
        )
    out = ranks.select("vec_id", F.round("r", 9).alias("pagerank"))
    edges.unpersist()
    nodes.unpersist()
    return out


# --- x65: IVF+PQ composed ANN (coarse cells + code scan + exact rerank) ------


def ivfpq_exact_shortlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF+PQ candidate stream with exact distances: KMeans coarse
    cells bound WHICH rows are scanned (nprobe cells per query), PQ/ADC
    byte-lookups bound HOW MUCH is read per row, and the bounded
    shortlist (<= PQ_RERANK rows per query) is re-scored with exact L2.
    Shared spine of x65 (pure-relevance top-k) and x123 (ANN->MMR
    composition, VERDICT r7 directive #4): both consume this stream
    instead of a corpus crossJoin. Returns (qid, vec_id, l2_dist)."""
    import numpy as np

    em = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _dbl("embedding").alias("e")
    )
    assigned, model = ivf_index(em, cache_key=sf_dir)

    # PQ codebooks + per-row codes over the SAME corpus (cell kept)
    books = pq_codebooks(em.select("vec_id", "e"), cache_key=sf_dir)
    m, ks, dsub = books.shape
    bb = spark.sparkContext.broadcast(books)

    # r12 (VERDICT r11 directive #3, guide §4.2): the corpus encode is a
    # mapInArrow stage — the former mapInPandas paid a pandas conversion
    # both ways (Arrow list column -> pandas object Series -> .tolist() ->
    # np.array on entry; python-list 'code' cells -> pandas -> Arrow on
    # exit). Arrow-native, the float64 values buffer is read zero-copy
    # into the (n, d) numpy view and the int32 code matrix is emitted as
    # one ListArray over its own ravel — no per-row Python objects at
    # either boundary. The argmin math is unchanged float64 numpy, so
    # every code (and everything downstream) is bit-identical.
    def encode(batches):
        import pyarrow as pa

        b = bb.value
        for batch in batches:
            n = batch.num_rows
            x = (
                batch.column("e")
                .flatten()
                .to_numpy(zero_copy_only=False)
                .reshape(n, m * dsub)
            )
            codes = np.empty((n, m), dtype=np.int32)
            for j in range(m):
                xs = x[:, j * dsub : (j + 1) * dsub]
                d2 = ((xs[:, None, :] - b[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("vec_id"),
                    batch.column("cell"),
                    pa.ListArray.from_arrays(
                        pa.array(np.arange(0, (n + 1) * m, m, dtype=np.int32)),
                        pa.array(codes.ravel()),
                    ),
                ],
                names=["vec_id", "cell", "code"],
            )

    # r11: the PQ-encoded corpus is the INDEX a production system
    # persists (codes + cell per vector, m bytes each) — pin it per
    # (session, sf_dir) like the IVF model and the MinHash signature
    # table, so repeated queries serve from the code table instead of
    # re-running the KMeans transform + encode mapInPandas per
    # invocation (ivf_index's build-once-serve-many contract; first use
    # per session still computes from parquet).
    code_df = pin_derived(
        spark,
        sf_dir,
        "ivfpq_codes",
        lambda: assigned.select("vec_id", "cell", "e").mapInArrow(
            encode, "vec_id long, cell int, code array<int>"
        ),
    )

    # Distributed query->cell routing (x12's shape: broadcast centroids;
    # literal_df keeps the constant table JVM-side — guide §4.1)
    centroids = literal_df(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cell int, ce array<double>",
    )
    q = assigned.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe")
    )
    l2sq = F.aggregate(
        F.zip_with(F.col("qe"), F.col("ce"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wp = W.partitionBy("qid").orderBy(F.asc("dist"), F.asc("cell"))
    probe_df = (
        q.join(F.broadcast(centroids))
        .select("qid", "cell", l2sq.alias("dist"))
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= N_PROBE)
        .select("qid", "cell")
    )

    # ADC LUTs for the bounded query set
    qrows = q.collect()
    qids = np.array([r.qid for r in qrows])
    qmat = np.array([r.qe for r in qrows], dtype=np.float64)
    luts = np.empty((len(qids), m, ks))
    for j in range(m):
        qs = qmat[:, j * dsub : (j + 1) * dsub]
        luts[:, j, :] = ((qs[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)

    # scan ONLY the probed cells' codes: join codes to (qid, cell) pairs
    probed = code_df.join(probe_df, "cell").filter(
        F.col("vec_id") != F.col("qid")
    )

    # ADC scan in the JVM (optimization guide §4.1: prefer built-ins over
    # the Python boundary): the per-query LUT rides a broadcast join as an
    # m×ks double grid and the code walk is a transform+aggregate HOF —
    # the second full mapInPandas pass over the candidate stream is gone.
    # Fold order matches the previous numpy sum (j = 0..m-1 left fold from
    # 0.0), so every adc_dist double is bit-identical.
    # literal_df (not createDataFrame): the LUT grid is re-read per
    # action; as an ExistingRDD it would re-pickle through Python worker
    # tasks every time. Same numpy doubles, embedded exactly via F.lit.
    lut_df = literal_df(
        spark,
        [
            (int(i), [[float(v) for v in luts[k][j]] for j in range(m)])
            for k, i in enumerate(qids)
        ],
        "qid long, lut array<array<double>>",
    )
    adc_dist = F.aggregate(
        F.transform(
            F.col("code"),
            lambda c, j: F.element_at(
                F.element_at(F.col("lut"), (j + F.lit(1)).cast("int")),
                (c + F.lit(1)).cast("int"),
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        probed.select("qid", "vec_id", "code")
        .join(F.broadcast(lut_df), "qid")
        .select("qid", "vec_id", adc_dist.alias("adc_dist"))
    )
    ws = W.partitionBy("qid").orderBy(F.asc("adc_dist"), F.asc("vec_id"))
    shortlist = (
        scored.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= PQ_RERANK)
        .select("qid", "vec_id")
    )
    l2 = F.aggregate(
        F.zip_with(F.col("qe"), F.col("ce"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        shortlist.join(em.select("vec_id", F.col("e").alias("ce")), "vec_id")
        .join(F.broadcast(q), "qid")
        .select("qid", "vec_id", l2.alias("l2_dist"))
    )


@register(
    "x65_ivfpq_topk",
    oracle=None,  # doubly approximate (cell routing + lossy codes);
    # recall vs exact L2 asserted in tests
    doc=f"IVF+PQ composed ANN — the standard billion-scale index shape: "
    f"KMeans coarse cells (x12) bound WHICH rows are scanned "
    f"(nprobe={N_PROBE} of the cell list), {PQ_M}-nibble PQ codes (x54) "
    "bound HOW MUCH is read per row (ADC lookup tables instead of float "
    "vectors), and an exact rerank of the bounded shortlist restores "
    "recall. Scan cost per query ~ (corpus/n_cells)*nprobe rows x m "
    "byte-lookups; everything distributed — broadcast centroids + LUTs, "
    "partitioned code table, no driver materialization beyond the "
    "bounded query set",
)
def x65_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = ivfpq_exact_shortlist(spark, sf_dir)
    w = W.partitionBy("qid").orderBy(F.asc("l2_dist"), F.asc("vec_id"))
    return (
        exact.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("qid", "vec_id", F.round("l2_dist", 6).alias("l2_dist"), "rn")
    )


# Micro-quantization scale for order-independent embedding statistics:
# floor(e * 1e6) is integer-valued in BOTH engines (floor has no
# rounding-mode ambiguity, unlike DECIMAL casts which can land float32
# dyadic rationals exactly on a decimal midpoint), so the per-dimension
# sums are exact integers and every downstream double is deterministic.
_MICRO = 1_000_000


@register(
    "x72_embedding_dim_stats",
    oracle=f"""
    WITH dims AS (
      SELECT u.d AS dim,
             CAST(floor(u.e * {_MICRO}.0) AS BIGINT) AS q,
             u.e AS e
      FROM (SELECT unnest(list_transform(range(0, len(embedding)),
              i -> {{'d': i, 'e': CAST(embedding[i+1] AS DOUBLE)}})) AS u
            FROM embeddings)
    )
    SELECT dim,
           COUNT(*) AS n_vals,
           CAST(SUM(q) AS DOUBLE) / COUNT(*) / {_MICRO}.0 AS mean_val,
           sqrt((CAST(SUM(q*q) AS DOUBLE)
                 - CAST(SUM(q) AS DOUBLE) * CAST(SUM(q) AS DOUBLE) / COUNT(*))
                / (COUNT(*) - 1)) / {_MICRO}.0 AS std_val,
           MIN(e) AS min_val,
           MAX(e) AS max_val
    FROM dims GROUP BY dim
    """,
    doc="x72 (ext.): per-dimension embedding distribution stats (mean/std/"
    "min/max) for whitening + drift diagnostics before ANN indexing. "
    "posexplode -> groupBy(dim) is the word-count shape: map-side partial "
    "aggregation, 64 reducer keys, mergeable integer moments (the decimal-"
    "moment device from functions/numeric.py, specialized to floor-based "
    "micro-quantization because raw float32 elements can sit exactly on "
    "decimal midpoints). At 100 TB the q*q bigint sums widen to "
    "DECIMAL(38,0) before overflow territory (~1e7 rows/dim); same shape",
)
def x72_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = fan_out(load_table(spark, sf_dir, "embeddings"), spark)
    dims = em.select(
        F.posexplode(_dbl("embedding")).alias("dim", "e")
    ).withColumn("q", F.floor(F.col("e") * F.lit(float(_MICRO))).cast("bigint"))
    agg = dims.groupBy("dim").agg(
        F.count("*").alias("n_vals"),
        F.sum("q").alias("sq"),
        F.sum(F.col("q") * F.col("q")).alias("sq2"),
        F.min("e").alias("min_val"),
        F.max("e").alias("max_val"),
    )
    sq = F.col("sq").cast("double")
    n = F.col("n_vals")
    return agg.select(
        "dim",
        "n_vals",
        (sq / n / F.lit(float(_MICRO))).alias("mean_val"),
        (
            F.sqrt(
                (F.col("sq2").cast("double") - sq * sq / n) / (n - F.lit(1))
            )
            / F.lit(float(_MICRO))
        ).alias("std_val"),
        "min_val",
        "max_val",
    )


# Matryoshka (MRL) truncation: keep the first MRL_DIMS of the embedding —
# a 4x byte cut on the candidate scan — and audit how much of the exact
# full-dimension top-k the truncated ranking retains. (On MRL-trained
# embeddings the prefix carries most of the signal; on this synthetic
# random fixture recall is low — the AUDIT is the operator, and its
# structural invariants are asserted in tests.)
MRL_DIMS = 16


@register(
    "x73_matryoshka_topk",
    oracle=f"""
    WITH sliced AS (
      SELECT vec_id, embedding[1:{MRL_DIMS}] AS m, embedding AS fv
      FROM embeddings
    ), q AS (
      SELECT vec_id AS qid, m AS qm, fv AS qf FROM sliced
      WHERE vec_id < {N_QUERIES}
    ), pairs AS (
      SELECT qid, s.vec_id,
             {_SQL_DOT.format(a='qm', b='s.m')}
               / (SQRT({_SQL_SQNORM.format(a='qm')})
                  * SQRT({_SQL_SQNORM.format(a='s.m')})) AS cos_m,
             {_SQL_DOT.format(a='qf', b='s.fv')}
               / (SQRT({_SQL_SQNORM.format(a='qf')})
                  * SQRT({_SQL_SQNORM.format(a='s.fv')})) AS cos_f
      FROM q CROSS JOIN sliced s WHERE s.vec_id <> qid
    ), ranked AS (
      SELECT qid, vec_id, cos_m,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY cos_m DESC, vec_id) AS rn,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY cos_f DESC, vec_id) AS rn_f
      FROM pairs
    )
    SELECT qid, vec_id, ROUND(cos_m, 6) AS cos_m, rn,
           CAST(CASE WHEN rn_f <= {TOP_K} THEN 1 ELSE 0 END AS INT)
             AS in_full_topk
    FROM ranked WHERE rn <= {TOP_K}
    """,
    doc=f"x73 (ext.): Matryoshka-truncated cosine top-k ({MRL_DIMS} of 64 "
    "dims = 4x smaller candidate scan) with a per-hit audit flag marking "
    "membership in the exact full-dimension top-k. Same broadcast-queries "
    "x partitioned-candidates shape as x10/x17; the two rankings come out "
    "of ONE scored pass (two window ranks, one shuffle), so the audit "
    "costs no extra scan. The scale play pairs with x17's int8 codes: "
    "prefix dims cut bytes 4x, quantization another 4x, multiplicatively",
)
def x73_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = fan_out(load_table(spark, sf_dir, "embeddings"), spark).select(
        "vec_id",
        F.slice(_dbl("embedding"), 1, MRL_DIMS).alias("m"),
        _dbl("embedding").alias("fv"),
    )
    q = em.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("m").alias("qm"),
        F.col("fv").alias("qf"),
    )
    scored = (
        em.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            cosine(F.col("qm"), F.col("m")).alias("cos_m"),
            cosine(F.col("qf"), F.col("fv")).alias("cos_f"),
        )
    )
    ranked = scored.select(
        "qid",
        "vec_id",
        "cos_m",
        F.row_number()
        .over(W.partitionBy("qid").orderBy(F.desc("cos_m"), F.asc("vec_id")))
        .alias("rn"),
        F.row_number()
        .over(W.partitionBy("qid").orderBy(F.desc("cos_f"), F.asc("vec_id")))
        .alias("rn_f"),
    )
    return ranked.filter(F.col("rn") <= TOP_K).select(
        "qid",
        "vec_id",
        F.round("cos_m", 6).alias("cos_m"),
        "rn",
        F.when(F.col("rn_f") <= TOP_K, 1).otherwise(0).alias("in_full_topk"),
    )


# Micro-quantization factor for the centroid-outlier device (same constant
# x72 uses: fine enough that the flag is meaningful, coarse enough that
# the quantized integers stay far from BIGINT range at bench scale).
_MQ = 1_000_000


@register(
    "x74_centroid_outliers",
    oracle=f"""
    WITH qv AS (
      SELECT vec_id, label, u.d AS dim,
             CAST(floor(CAST(u.e AS DOUBLE) * {_MQ}.0) AS BIGINT) AS qe
      FROM (SELECT vec_id, label,
                   unnest(list_transform(range(0, len(embedding)),
                     i -> {{'d': i, 'e': embedding[i+1]}})) AS u
            FROM embeddings)
    ),
    cent AS (SELECT label, dim, SUM(qe) AS cq FROM qv GROUP BY label, dim),
    nc AS (SELECT label, SUM(CAST(cq AS HUGEINT) * cq) AS nc2
           FROM cent GROUP BY label),
    per_vec AS (
      SELECT v.vec_id, v.label,
             SUM(CAST(v.qe AS HUGEINT) * c.cq) AS dot_q,
             SUM(CAST(v.qe AS HUGEINT) * v.qe) AS nv2
      FROM qv v JOIN cent c ON v.label = c.label AND v.dim = c.dim
      GROUP BY v.vec_id, v.label
    )
    SELECT p.vec_id, p.label,
           ROUND(CAST(p.dot_q AS DOUBLE)
                 / sqrt(CAST(p.nv2 AS DOUBLE) * CAST(n.nc2 AS DOUBLE)),
                 6) AS cos_centroid,
           CAST(CASE WHEN p.dot_q < 0 THEN 1 ELSE 0 END AS INT) AS is_outlier
    FROM per_vec p JOIN nc n ON p.label = n.label
    """,
    doc="x74 (ext.): mislabel/poisoning audit — cosine of every vector to "
    "its OWN label centroid, with an outlier flag for vectors pointing "
    "away from their class (the candidate mislabels a curation pass "
    "re-examines). Exactness device: elements micro-quantized to BIGINT "
    "(floor(e*1e6)); the centroid is then an exact integer sum per "
    "(label, dim), the dot/norm reductions are exact DECIMAL sums, and "
    "the flag is a pure INTEGER SIGN TEST (dot_q < 0) — no float enters "
    "any engine-divergent path. Scale shape: posexplode -> two hash aggs "
    "(word-count shape, map-combined) + a broadcast join of the "
    "labels x dims centroid table (constant-size at any corpus scale); "
    "never a pairwise vector join",
)
def x74_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = fan_out(load_table(spark, sf_dir, "embeddings"), spark)
    qv = em.select(
        "vec_id", "label", F.posexplode(_dbl("embedding")).alias("dim", "e")
    ).withColumn("qe", F.floor(F.col("e") * F.lit(float(_MQ))).cast("bigint"))
    cent = qv.groupBy("label", "dim").agg(F.sum("qe").alias("cq"))
    nc = cent.groupBy("label").agg(
        F.sum(F.col("cq").cast("decimal(38,0)") * F.col("cq")).alias("nc2")
    )
    dec = F.col("qe").cast("decimal(38,0)")
    per_vec = (
        qv.join(F.broadcast(cent), ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(dec * F.col("cq")).alias("dot_q"),
            F.sum(dec * F.col("qe")).alias("nv2"),
        )
    )
    return per_vec.join(F.broadcast(nc), "label").select(
        "vec_id",
        "label",
        F.round(
            F.col("dot_q").cast("double")
            / F.sqrt(F.col("nv2").cast("double") * F.col("nc2").cast("double")),
            6,
        ).alias("cos_centroid"),
        F.when(F.col("dot_q") < 0, 1).otherwise(0).alias("is_outlier"),
    )


# Johnson–Lindenstrauss sign projection: JL_DIMS dense ±1 planes drawn
# once from md5 (hashlib here == engine md5 on the same strings, so the
# matrix is a shared cross-engine constant embedded as a literal — no
# per-row hashing). The dense-float sketch complement to x41 (sign BITS)
# and x73 (prefix dims): same 4x byte cut, but basis-free, so it works on
# embeddings that were NOT Matryoshka-trained.
JL_DIMS = 16
FULL_DIMS = 64


def _jl_sign(p: int, d: int) -> float:
    import hashlib

    h = hashlib.md5(f"jl{p}_{d}".encode()).hexdigest()
    return 1.0 if int(h[:8], 16) % 2 == 0 else -1.0


_JL = [[_jl_sign(p, d) for d in range(FULL_DIMS)] for p in range(JL_DIMS)]
_JL_SPARK = (
    "array("
    + ", ".join(
        "array(" + ", ".join(f"{s:.1f}D" for s in row) + ")" for row in _JL
    )
    + ")"
)
_JL_DUCK = (
    "["
    + ", ".join("[" + ", ".join(f"{s:.1f}" for s in row) + "]" for row in _JL)
    + "]"
)


@register(
    "x75_jl_projection_topk",
    oracle=f"""
    WITH sliced AS (
      SELECT vec_id,
             list_transform({_JL_DUCK}, s ->
               list_reduce(list_transform(list_zip(embedding, s),
                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)),
                 (x, y) -> x + y)) AS jv,
             embedding AS fv
      FROM embeddings
    ), q AS (
      SELECT vec_id AS qid, jv AS qj, fv AS qf FROM sliced
      WHERE vec_id < {N_QUERIES}
    ), pairs AS (
      SELECT qid, s.vec_id,
             {_SQL_DOT.format(a='qj', b='s.jv')}
               / (SQRT({_SQL_SQNORM.format(a='qj')})
                  * SQRT({_SQL_SQNORM.format(a='s.jv')})) AS cos_j,
             {_SQL_DOT.format(a='qf', b='s.fv')}
               / (SQRT({_SQL_SQNORM.format(a='qf')})
                  * SQRT({_SQL_SQNORM.format(a='s.fv')})) AS cos_f
      FROM q CROSS JOIN sliced s WHERE s.vec_id <> qid
    ), ranked AS (
      SELECT qid, vec_id, cos_j,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY cos_j DESC, vec_id) AS rn,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY cos_f DESC, vec_id) AS rn_f
      FROM pairs
    )
    SELECT qid, vec_id, ROUND(cos_j, 6) AS cos_j, rn,
           CAST(CASE WHEN rn_f <= {TOP_K} THEN 1 ELSE 0 END AS INT)
             AS in_full_topk
    FROM ranked WHERE rn <= {TOP_K}
    """,
    doc=f"x75 (ext.): Johnson-Lindenstrauss sign-projection top-k — a dense "
    f"{JL_DIMS}-dim +/-1 random projection (4x smaller candidate scan) "
    "with the same free full-dim audit flag as x73. The projection matrix "
    "is an md5-derived constant folded by Catalyst (no per-row hashing), "
    "so the sketch is engine-exact and basis-free — it does not require "
    "Matryoshka-trained embeddings the way x73's prefix truncation does. "
    "Same broadcast-queries x partitioned-candidates shape as x10; at "
    "100 TB the projected table is what you persist (16 doubles/row) and "
    "the full vectors are read only by the final rerank",
)
def x75_jl_projection_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = (
        fan_out(load_table(spark, sf_dir, "embeddings"), spark)
        .select("vec_id", _dbl("embedding").alias("fv"))
        .withColumn(
            "jv",
            F.expr(
                f"transform({_JL_SPARK}, s -> "
                "aggregate(zip_with(fv, s, (x, y) -> x * y), 0D, "
                "(acc, x) -> acc + x))"
            ),
        )
    )
    q = em.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("jv").alias("qj"),
        F.col("fv").alias("qf"),
    )
    scored = (
        em.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            cosine(F.col("qj"), F.col("jv")).alias("cos_j"),
            cosine(F.col("qf"), F.col("fv")).alias("cos_f"),
        )
    )
    ranked = scored.select(
        "qid",
        "vec_id",
        "cos_j",
        F.row_number()
        .over(W.partitionBy("qid").orderBy(F.desc("cos_j"), F.asc("vec_id")))
        .alias("rn"),
        F.row_number()
        .over(W.partitionBy("qid").orderBy(F.desc("cos_f"), F.asc("vec_id")))
        .alias("rn_f"),
    )
    return ranked.filter(F.col("rn") <= TOP_K).select(
        "qid",
        "vec_id",
        F.round("cos_j", 6).alias("cos_j"),
        "rn",
        F.when(F.col("rn_f") <= TOP_K, 1).otherwise(0).alias("in_full_topk"),
    )


# --- x86: deterministic IVF recall audit -------------------------------------

IVF_DET_CELLS = 8  # md5-seeded centroid count for the audit index


@register(
    "x86_ivf_recall_audit",
    oracle=f"""
    WITH cent AS (
      SELECT vec_id AS cent_id, embedding AS cv, rn AS cell FROM (
        SELECT vec_id, embedding,
               ROW_NUMBER() OVER (
                 ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        FROM embeddings
      ) WHERE rn <= {IVF_DET_CELLS}
    ),
    assign AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT e.vec_id, e.embedding, c.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_SQL_DOT.format(a='e.embedding', b='c.cv')}
                   / (SQRT({_SQL_SQNORM.format(a='e.embedding')})
                      * SQRT({_SQL_SQNORM.format(a='c.cv')})) DESC,
                   c.cell) AS arn
        FROM embeddings e CROSS JOIN cent c
      ) WHERE arn = 1
    ),
    qprobe AS (
      SELECT qid, qe, cell FROM (
        SELECT e.vec_id AS qid, e.embedding AS qe, c.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_SQL_DOT.format(a='e.embedding', b='c.cv')}
                   / (SQRT({_SQL_SQNORM.format(a='e.embedding')})
                      * SQRT({_SQL_SQNORM.format(a='c.cv')})) DESC,
                   c.cell) AS prn
        FROM embeddings e CROSS JOIN cent c
        WHERE e.vec_id < {N_QUERIES}
      ) WHERE prn <= {N_PROBE}
    ),
    cand AS (
      SELECT q.qid, q.qe, a.vec_id, a.embedding
      FROM qprobe q JOIN assign a USING (cell)
      WHERE a.vec_id <> q.qid
    ),
    ivf_top AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
                 {_SQL_DOT.format(a='qe', b='embedding')}
                   / (SQRT({_SQL_SQNORM.format(a='qe')})
                      * SQRT({_SQL_SQNORM.format(a='embedding')})) DESC,
                 vec_id) AS rn
        FROM cand
      ) WHERE rn <= {TOP_K}
    ),
    truth AS (
      SELECT qid, vec_id FROM (
        SELECT q.vec_id AS qid, c.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                 {_SQL_DOT.format(a='q.embedding', b='c.embedding')}
                   / (SQRT({_SQL_SQNORM.format(a='q.embedding')})
                      * SQRT({_SQL_SQNORM.format(a='c.embedding')})) DESC,
                 c.vec_id) AS rn
        FROM embeddings q CROSS JOIN embeddings c
        WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
      ) WHERE rn <= {TOP_K}
    ),
    ncand AS (SELECT qid, COUNT(*) AS n_candidates FROM cand GROUP BY qid)
    SELECT t.qid,
           CAST({N_PROBE} AS INT) AS n_cells_probed,
           n.n_candidates,
           CAST(COUNT(i.vec_id) AS BIGINT) AS n_hits,
           CAST(COUNT(i.vec_id) AS DOUBLE) / {TOP_K} AS recall_at_k
    FROM truth t
    LEFT JOIN ivf_top i ON i.qid = t.qid AND i.vec_id = t.vec_id
    JOIN ncand n ON n.qid = t.qid
    GROUP BY t.qid, n.n_candidates
    """,
    doc=f"x86 (ext.): IVF ANN recall audit with a fully DETERMINISTIC "
    f"index — {IVF_DET_CELLS} centroids are the vectors with the "
    "smallest md5(vec_id) (a seedless uniform sample), assignment is "
    "argmax-cosine with a fixed tie-break, queries probe their "
    f"{N_PROBE} nearest cells, and recall@{TOP_K} is measured against "
    "the exact brute-force top-k — so unlike the MLlib-KMeans IVF "
    "(x12, rows-only) the ENTIRE index + recall pipeline is "
    "exact-oracle-checkable. The tuning table an ANN deployment reads "
    "(recall vs candidates scanned). Scale shape: centroid table is "
    "constant-size and broadcast everywhere; assignment is one "
    "argmax-over-8 window per vector (word-count shape); the ground "
    "truth is restricted to the bounded query set, so nothing all-pairs "
    "ever materializes",
)
def x86_ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = fan_out(load_table(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", _dbl("embedding").alias("v")
    )
    cent = (
        em.withColumn("hx", F.md5(F.col("vec_id").cast("string")))
        .orderBy("hx", "vec_id")
        .limit(IVF_DET_CELLS)
        .select(
            F.row_number().over(W.orderBy("hx", "vec_id")).alias("cell"),
            F.col("v").alias("cv"),
        )
    )
    # argmax-cosine cell per vector: explode over the broadcast centroid
    # table, one rank window partitioned by vec_id
    scored_cells = em.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "v",
        "cell",
        F.row_number()
        .over(
            W.partitionBy("vec_id").orderBy(
                F.desc(cosine(F.col("v"), F.col("cv"))), F.asc("cell")
            )
        )
        .alias("arn"),
    )
    assign = scored_cells.filter(F.col("arn") == 1).select("vec_id", "v", "cell")
    qprobe = (
        scored_cells.filter(
            (F.col("vec_id") < N_QUERIES) & (F.col("arn") <= N_PROBE)
        )
        .select(
            F.col("vec_id").alias("qid"), F.col("v").alias("qv"), "cell"
        )
    )
    cand = qprobe.join(assign, "cell").filter(F.col("vec_id") != F.col("qid"))
    ivf_top = (
        cand.select(
            "qid",
            "vec_id",
            F.row_number()
            .over(
                W.partitionBy("qid").orderBy(
                    F.desc(cosine(F.col("qv"), F.col("v"))), F.asc("vec_id")
                )
            )
            .alias("rn"),
        )
        .filter(F.col("rn") <= TOP_K)
        .select("qid", F.col("vec_id").alias("ivf_vec"))
    )
    q = em.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    truth = (
        em.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.row_number()
            .over(
                W.partitionBy("qid").orderBy(
                    F.desc(cosine(F.col("qv"), F.col("v"))), F.asc("vec_id")
                )
            )
            .alias("rn"),
        )
        .filter(F.col("rn") <= TOP_K)
        .select("qid", "vec_id")
    )
    ncand = cand.groupBy("qid").agg(F.count("*").alias("n_candidates"))
    hits = truth.join(
        ivf_top,
        (truth["qid"] == ivf_top["qid"]) & (truth["vec_id"] == ivf_top["ivf_vec"]),
        "left",
    ).select(truth["qid"].alias("qid"), ivf_top["ivf_vec"])
    return (
        hits.groupBy("qid")
        .agg(F.count("ivf_vec").alias("n_hits"))
        .join(F.broadcast(ncand), "qid")
        .select(
            "qid",
            F.lit(N_PROBE).cast("int").alias("n_cells_probed"),
            "n_candidates",
            F.col("n_hits").cast("bigint").alias("n_hits"),
            (F.col("n_hits").cast("double") / F.lit(TOP_K)).alias("recall_at_k"),
        )
    )


# --- x87: mutual-kNN clustering ----------------------------------------------


def _mutual_knn_cte() -> str:
    """Shared WITH-chain (recursive) ending in ``comp(vec_id, cluster)`` —
    the mutual-kNN component assignment x87 reports and x88 scores.
    Recursive-closure twin of the min-label propagation (x15's oracle
    device over a similarity-derived edge set)."""
    return f"""{_pr_knn_sql()},
    mutual AS (
      SELECT e1.src AS a, e1.dst AS b
      FROM edges e1 JOIN edges e2 ON e1.src = e2.dst AND e1.dst = e2.src
    ),
    reach(a, b) AS (
      SELECT a, b FROM mutual
      UNION
      SELECT r.a, m.b FROM reach r JOIN mutual m ON r.b = m.a
    ),
    closure AS (
      SELECT a, b FROM reach
      UNION
      SELECT DISTINCT a, a FROM mutual
    ),
    comp AS (SELECT a AS vec_id, MIN(b) AS cluster FROM closure GROUP BY a)"""


def _x87_oracle() -> str:
    return f"""
    WITH RECURSIVE {_mutual_knn_cte()}
    SELECT cluster,
           COUNT(*) AS n_members,
           string_agg(CAST(vec_id AS VARCHAR), ',' ORDER BY vec_id)
             AS member_ids
    FROM comp GROUP BY cluster
    """


def mutual_knn_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, component) assignment over the mutual-kNN graph — the
    Spark twin of ``_mutual_knn_cte``'s ``comp``; shared by x87, x88 and
    x120. r11: pinned per (session, sf_dir) — the r11 sweep measured the
    kNN edge build + label-propagation rounds at ~10 s per consumer,
    re-run identically by all three; same build-once-serve-many contract
    as ``ivf_index`` (first use per session computes from parquet)."""
    from .components import connected_components

    def build() -> DataFrame:
        em = fan_out(load_table(spark, sf_dir, "embeddings"), spark).select(
            "vec_id", "label", _dbl("embedding").alias("e")
        )
        # per-row norms once, not per pair (cosine_prenorm — bit-identical)
        a = em.select(
            "label", F.col("vec_id").alias("src"), F.col("e").alias("ea"),
            norm_col(F.col("e")).alias("na"),
        )
        b = em.select(
            "label", F.col("vec_id").alias("dst"), F.col("e").alias("eb"),
            norm_col(F.col("e")).alias("nb"),
        )
        wk = W.partitionBy("src").orderBy(F.desc("cos"), F.asc("dst"))
        edges = (
            a.join(b, "label")
            .filter(F.col("src") != F.col("dst"))
            .select(
                "src", "dst",
                cosine_prenorm(
                    F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")
                ).alias("cos"),
            )
            .withColumn("rk", F.row_number().over(wk))
            .filter(F.col("rk") <= PR_KNN)
            .select("src", "dst")
        )
        rev = edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
        mutual = edges.join(rev, ["src", "dst"]).filter(
            F.col("src") < F.col("dst")
        )
        return connected_components(
            mutual.select(
                F.col("src").alias("doc_a"), F.col("dst").alias("doc_b")
            )
        )

    return pin_derived(spark, sf_dir, "mutual_knn_comp", build)


@register(
    "x87_mutual_knn_clusters",
    oracle=_x87_oracle(),
    doc=f"x87 (ext.): mutual-kNN clustering — keep only RECIPROCATED "
    f"top-{PR_KNN} cosine edges (a in b's neighbors AND b in a's, the "
    "standard noise-robust clustering graph), then transitive closure "
    "via the same min-label propagation as x15's dedup groups; emits "
    "every cluster with its full sorted membership, so the oracle "
    "hash-checks the exact partition of the corpus. The "
    "topic/near-dup discovery pass run over embeddings before choosing "
    "dedup thresholds. Scale shape: the kNN edge build is x60's "
    "label-blocked rank window; mutuality is a self-join of the "
    "k-bounded edge list on (src,dst)=(dst,src); closure state is one "
    "(node,label) row per node with lineage truncated per round",
)
def x87_mutual_knn_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = mutual_knn_components(spark, sf_dir)
    return comp.groupBy(F.col("component").alias("cluster")).agg(
        F.count("*").alias("n_members"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("doc_id")),
                lambda v: v.cast("string"),
            ),
            ",",
        ).alias("member_ids"),
    )


# --- x88: external cluster-quality score (purity + NMI) ----------------------


def _x88_oracle() -> str:
    return f"""
    WITH RECURSIVE {_mutual_knn_cte()},
    lab AS (
      SELECT c.cluster, e.label
      FROM comp c JOIN embeddings e ON e.vec_id = c.vec_id
    ),
    joint AS (
      SELECT cluster, label, COUNT(*) AS n_cl FROM lab GROUP BY 1, 2
    ),
    nt AS (SELECT CAST(SUM(n_cl) AS BIGINT) AS n FROM joint),
    mc AS (SELECT cluster, CAST(SUM(n_cl) AS BIGINT) AS n_c
           FROM joint GROUP BY 1),
    ml AS (SELECT label, CAST(SUM(n_cl) AS BIGINT) AS n_l
           FROM joint GROUP BY 1),
    pur AS (
      SELECT CAST(SUM(mx) AS BIGINT) AS maj FROM (
        SELECT cluster, MAX(n_cl) AS mx FROM joint GROUP BY 1)
    ),
    it AS (
      SELECT SUM(CAST(ROUND(
               (CAST(j.n_cl AS DOUBLE) / t.n)
               * LN((CAST(t.n AS DOUBLE) * j.n_cl)
                    / (CAST(m1.n_c AS DOUBLE) * m2.n_l)), 6)
             AS DECIMAL(27,6))) AS i_sum
      FROM joint j JOIN mc m1 USING (cluster) JOIN ml m2 USING (label)
      CROSS JOIN nt t
    ),
    hc AS (
      SELECT SUM(CAST(ROUND(
               (CAST(n_c AS DOUBLE) / t.n)
               * LN(CAST(n_c AS DOUBLE) / t.n), 6)
             AS DECIMAL(27,6))) AS h FROM mc CROSS JOIN nt t
    ),
    hl AS (
      SELECT SUM(CAST(ROUND(
               (CAST(n_l AS DOUBLE) / t.n)
               * LN(CAST(n_l AS DOUBLE) / t.n), 6)
             AS DECIMAL(27,6))) AS h FROM ml CROSS JOIN nt t
    )
    SELECT t.n AS n_clustered,
           (SELECT COUNT(*) FROM mc) AS n_clusters,
           CAST(p.maj AS DOUBLE) / t.n AS purity,
           ROUND(2.0 * CAST(i.i_sum AS DOUBLE)
                 / (-CAST(hc.h AS DOUBLE) - CAST(hl.h AS DOUBLE)), 6) AS nmi
    FROM nt t CROSS JOIN pur p CROSS JOIN it i
    CROSS JOIN hc CROSS JOIN hl
    """


@register(
    "x88_cluster_purity",
    oracle=_x88_oracle(),
    doc="x88 (ext.): external cluster-quality score — purity and "
    "normalized mutual information of the x87 mutual-kNN clusters "
    "against the ground-truth labels (the validation table for any "
    "unsupervised corpus-structure pass). Exactness: purity is an exact "
    "integer quotient; mutual information and both entropies use the "
    "x45 device (each p*ln term rounded to 6dp, accumulated as DECIMAL, "
    "final NMI assembled from identical doubles and rounded once). "
    "Scale shape: after the component pass everything operates on "
    "clusters x labels cells — constant-sized aggregates, broadcast "
    "scalars, one row out",
)
def x88_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = mutual_knn_components(spark, sf_dir)
    em = fan_out(load_table(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", "label"
    )
    lab = comp.join(em, comp["doc_id"] == em["vec_id"]).select(
        F.col("component").alias("cluster"), "label"
    )
    # r11: eager-checkpoint the clusters x labels cell grid — nt/mc/ml/it
    # (and the purity agg) re-derive it six times otherwise; it is the
    # constant-sized contingency table the whole score reads from
    joint = (
        lab.groupBy("cluster", "label")
        .agg(F.count("*").alias("n_cl"))
        .localCheckpoint(eager=True)
    )
    nt = joint.agg(F.sum("n_cl").cast("bigint").alias("n"))
    mc = joint.groupBy("cluster").agg(F.sum("n_cl").cast("bigint").alias("n_c"))
    ml = joint.groupBy("label").agg(F.sum("n_cl").cast("bigint").alias("n_l"))
    dec = lambda c: F.round(c, 6).cast("decimal(27,6)")  # noqa: E731
    nd = F.col("n").cast("double")
    it = (
        joint.join(mc, "cluster")
        .join(ml, "label")
        .crossJoin(F.broadcast(nt))
        .agg(
            F.sum(
                dec(
                    (F.col("n_cl").cast("double") / F.col("n"))
                    * F.log(
                        (nd * F.col("n_cl"))
                        / (F.col("n_c").cast("double") * F.col("n_l"))
                    )
                )
            ).alias("i_sum")
        )
    )
    hc = (
        mc.crossJoin(F.broadcast(nt))
        .agg(
            F.sum(
                dec(
                    (F.col("n_c").cast("double") / F.col("n"))
                    * F.log(F.col("n_c").cast("double") / nd)
                )
            ).alias("h_c")
        )
    )
    hl = (
        ml.crossJoin(F.broadcast(nt))
        .agg(
            F.sum(
                dec(
                    (F.col("n_l").cast("double") / F.col("n"))
                    * F.log(F.col("n_l").cast("double") / nd)
                )
            ).alias("h_l")
        )
    )
    pur = mc.agg(F.count("*").alias("n_clusters")).crossJoin(
        joint.groupBy("cluster")
        .agg(F.max("n_cl").alias("mx"))
        .agg(F.sum("mx").cast("bigint").alias("maj"))
    )
    out = (
        nt.crossJoin(pur)
        .crossJoin(it)
        .crossJoin(hc)
        .crossJoin(hl)
    )
    return out.select(
        F.col("n").alias("n_clustered"),
        "n_clusters",
        (F.col("maj").cast("double") / F.col("n")).alias("purity"),
        F.round(
            (F.lit(2.0) * F.col("i_sum").cast("double"))
            / (-F.col("h_c").cast("double") - F.col("h_l").cast("double")),
            6,
        ).alias("nmi"),
    )


# --- x91: retrieval-quality metrics (MRR / precision@k / NDCG@k) -------------

EVAL_K = 10  # evaluated retrieval depth


def _dcg_term_sql(rank: str) -> str:
    """1/log2(1+rank) gain through the x45 decimal-ln device: both lns
    rounded to 6dp (absorbing libm-ulp skew), the quotient rounded once,
    accumulated as exact DECIMAL."""
    return (
        f"CAST(ROUND(ROUND(LN(2), 6) / ROUND(LN({rank} + 1), 6), 6) "
        "AS DECIMAL(27,6))"
    )


@register(
    "x91_retrieval_metrics",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, label AS qlabel, embedding AS qe
      FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    ranked AS (
      SELECT q.qid, q.qlabel, c.vec_id, c.label,
             ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
               {_SQL_DOT.format(a='q.qe', b='c.embedding')}
                 / (SQRT({_SQL_SQNORM.format(a='q.qe')})
                    * SQRT({_SQL_SQNORM.format(a='c.embedding')})) DESC,
               c.vec_id) AS rn
      FROM q CROSS JOIN embeddings c
      WHERE c.vec_id <> q.qid
    ),
    topk AS (
      SELECT qid, rn, CASE WHEN label = qlabel THEN 1 ELSE 0 END AS rel
      FROM ranked WHERE rn <= {EVAL_K}
    ),
    perq AS (
      SELECT qid,
             CAST(SUM(rel) AS BIGINT) AS n_rel_topk,
             CAST(MIN(CASE WHEN rel = 1 THEN rn END) AS BIGINT)
               AS first_rel_rank,
             SUM(CASE WHEN rel = 1 THEN {_dcg_term_sql('rn')}
                      ELSE CAST(0 AS DECIMAL(27,6)) END) AS dcg_dec
      FROM topk GROUP BY qid
    ),
    lbl AS (SELECT label, COUNT(*) AS cnt FROM embeddings GROUP BY label),
    nrel AS (
      SELECT q.qid, CAST(l.cnt - 1 AS BIGINT) AS n_rel_corpus
      FROM q JOIN lbl l ON l.label = q.qlabel
    ),
    igrid AS (
      SELECT qid, n_rel_corpus,
             UNNEST(range(1, LEAST({EVAL_K}, n_rel_corpus) + 1)) AS r
      FROM nrel
    ),
    ideal AS (
      SELECT qid, n_rel_corpus, SUM({_dcg_term_sql('r')}) AS idcg_dec
      FROM igrid GROUP BY qid, n_rel_corpus
    )
    SELECT p.qid, i.n_rel_corpus, p.n_rel_topk, p.first_rel_rank,
           CASE WHEN p.first_rel_rank IS NULL THEN 0.0
                ELSE 1.0 / p.first_rel_rank END AS rr,
           CAST(p.n_rel_topk AS DOUBLE) / {EVAL_K} AS p_at_k,
           CAST(p.dcg_dec AS DOUBLE) AS dcg,
           CAST(i.idcg_dec AS DOUBLE) AS idcg,
           CAST(p.dcg_dec AS DOUBLE) / CAST(i.idcg_dec AS DOUBLE) AS ndcg
    FROM perq p JOIN ideal i USING (qid)
    """,
    doc=f"x91 (ext.): retrieval-quality evaluation of the dense cosine "
    f"retriever — MRR, precision@{EVAL_K} and NDCG@{EVAL_K} per query "
    "with label-match relevance (the eval harness a RAG/retrieval "
    "pipeline runs next to x10's retriever and x86's ANN recall audit). "
    "Exactness: ranks/counts are exact integers; every DCG gain goes "
    "through the x45 decimal-ln device (both lns rounded 6dp, quotient "
    "rounded once, summed as DECIMAL); rr and p@k are IEEE quotients of "
    "exact integers; ndcg is one quotient of two identical doubles, "
    "never rounded. Scale shape: the bounded query set broadcasts "
    "against the partitioned candidate scan (x10's shape), per-query "
    "metrics are a rank-window + one agg, the ideal-DCG grid is at most "
    f"{EVAL_K} rows per query built from a per-label count broadcast — "
    "nothing all-pairs, no UDFs",
)
def x91_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = fan_out(load_table(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", "label", _dbl("embedding").alias("v")
    )
    q = em.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("v").alias("qv"),
    )

    def dcg_term(rank):
        return F.round(
            F.round(F.log(F.lit(2.0)), 6) / F.round(F.log(rank + 1), 6), 6
        ).cast("decimal(27,6)")

    ranked = (
        em.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "qlabel",
            "label",
            F.row_number()
            .over(
                W.partitionBy("qid").orderBy(
                    F.desc(cosine(F.col("qv"), F.col("v"))), F.asc("vec_id")
                )
            )
            .alias("rn"),
        )
    )
    topk = ranked.filter(F.col("rn") <= EVAL_K).withColumn(
        "rel", (F.col("label") == F.col("qlabel")).cast("int")
    )
    perq = topk.groupBy("qid").agg(
        F.sum("rel").cast("bigint").alias("n_rel_topk"),
        F.min(F.when(F.col("rel") == 1, F.col("rn")))
        .cast("bigint")
        .alias("first_rel_rank"),
        F.sum(
            F.when(F.col("rel") == 1, dcg_term(F.col("rn"))).otherwise(
                F.lit(0).cast("decimal(27,6)")
            )
        ).alias("dcg_dec"),
    )
    lbl = em.groupBy("label").agg(F.count("*").alias("cnt"))
    nrel = q.join(F.broadcast(lbl), q["qlabel"] == lbl["label"]).select(
        "qid", (F.col("cnt") - 1).cast("bigint").alias("n_rel_corpus")
    )
    igrid = nrel.select(
        "qid",
        "n_rel_corpus",
        F.explode(
            F.when(
                F.col("n_rel_corpus") >= 1,
                F.sequence(
                    F.lit(1).cast("bigint"),
                    F.least(F.lit(EVAL_K).cast("bigint"), F.col("n_rel_corpus")),
                ),
            ).otherwise(F.array().cast("array<bigint>"))
        ).alias("r"),
    )
    ideal = igrid.groupBy("qid", "n_rel_corpus").agg(
        F.sum(dcg_term(F.col("r"))).alias("idcg_dec")
    )
    return perq.join(ideal, "qid").select(
        "qid",
        "n_rel_corpus",
        "n_rel_topk",
        "first_rel_rank",
        F.when(F.col("first_rel_rank").isNull(), F.lit(0.0))
        .otherwise(F.lit(1.0) / F.col("first_rel_rank"))
        .alias("rr"),
        (F.col("n_rel_topk").cast("double") / EVAL_K).alias("p_at_k"),
        F.col("dcg_dec").cast("double").alias("dcg"),
        F.col("idcg_dec").cast("double").alias("idcg"),
        (
            F.col("dcg_dec").cast("double") / F.col("idcg_dec").cast("double")
        ).alias("ndcg"),
    )


# --- x97: contrastive hard-negative mining ------------------------------------

_X97_MARGIN = 0.2


@register(
    "x97_hard_negative_mining",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, label AS qlab, embedding AS qe
      FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    scored AS (
      SELECT q.qid, q.qlab, c.vec_id, c.label,
             {_SQL_DOT.format(a='q.qe', b='c.embedding')}
               / (SQRT({_SQL_SQNORM.format(a='q.qe')})
                  * SQRT({_SQL_SQNORM.format(a='c.embedding')})) AS cos_sim
      FROM q CROSS JOIN embeddings c
      WHERE c.vec_id <> q.qid
    ),
    pos AS (
      SELECT qid, vec_id AS pos_id, cos_sim AS cos_pos FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY cos_sim DESC, vec_id) AS rn
        FROM scored WHERE label = qlab
      ) WHERE rn = 1
    ),
    neg AS (
      SELECT qid, vec_id AS neg_id, cos_sim AS cos_neg FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY cos_sim DESC, vec_id) AS rn
        FROM scored WHERE label <> qlab
      ) WHERE rn = 1
    )
    SELECT qid, pos_id, ROUND(cos_pos, 6) AS cos_pos,
           neg_id, ROUND(cos_neg, 6) AS cos_neg,
           ROUND(cos_pos - cos_neg, 6) AS margin,
           cos_pos - cos_neg < {_X97_MARGIN} AS is_hard
    FROM pos JOIN neg USING (qid)
    """,
    doc="x97: contrastive training-pair mining — for each anchor, the "
    "nearest same-label neighbor (positive) and the nearest other-label "
    "neighbor (hardest negative), with the triplet margin and a "
    f"margin-violation flag (< {_X97_MARGIN}): the pair generator for "
    "contrastive embedding fine-tuning, and the purity probe for an "
    "existing labeling. Shape: x10's broadcast-anchors x partitioned-"
    "candidates scan with TWO rank windows over the same scored pass "
    "(one exchange on qid); margins compare raw doubles (identical "
    "IEEE folds both engines), rounding only at output. Scale: anchors "
    "are a bounded query set; candidates never pair with each other",
)
def x97_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = fan_out(load_table(spark, sf_dir, "embeddings"), spark)
    q = em.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlab"),
        _dbl("embedding").alias("qe"),
    )
    c = em.select("vec_id", "label", _dbl("embedding").alias("ce"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "qlab",
            "vec_id",
            "label",
            cosine(F.col("qe"), F.col("ce")).alias("cos_sim"),
        )
    )
    w = W.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    pos = (
        scored.filter(F.col("label") == F.col("qlab"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("qid", F.col("vec_id").alias("pos_id"), F.col("cos_sim").alias("cos_pos"))
    )
    neg = (
        scored.filter(F.col("label") != F.col("qlab"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("qid", F.col("vec_id").alias("neg_id"), F.col("cos_sim").alias("cos_neg"))
    )
    return pos.join(neg, "qid").select(
        "qid",
        "pos_id",
        F.round("cos_pos", 6).alias("cos_pos"),
        "neg_id",
        F.round("cos_neg", 6).alias("cos_neg"),
        F.round(F.col("cos_pos") - F.col("cos_neg"), 6).alias("margin"),
        (F.col("cos_pos") - F.col("cos_neg") < _X97_MARGIN).alias("is_hard"),
    )


# --- x98: centroid-predictor label confusion matrix ---------------------------

_X98_DIMS = 64  # embeddings.embedding is fixed-width (asserted by x72)


@register(
    "x98_label_confusion",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    dims AS (
      SELECT vec_id, label, d.i AS dim, emb[d.i] AS v
      FROM e CROSS JOIN
           (SELECT unnest(generate_series(1, {_X98_DIMS})) AS i) d
    ),
    cents AS (
      SELECT label AS clabel, dim,
             CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS c
      FROM dims GROUP BY 1, 2
    ),
    cvecs AS (
      SELECT clabel, list(c ORDER BY dim) AS cvec FROM cents GROUP BY clabel
    ),
    scored AS (
      SELECT e.vec_id, e.label, cv.clabel,
             list_reduce(list_transform(list_zip(e.emb, cv.cvec),
                         p -> (p[1] - p[2]) * (p[1] - p[2])),
                         (a, b) -> a + b) AS d2
      FROM e CROSS JOIN cvecs cv
    ),
    pred AS (
      SELECT vec_id, label, clabel AS predicted FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY d2, clabel) AS rn
        FROM scored
      ) WHERE rn = 1
    )
    SELECT label AS given_label, predicted,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / SUM(COUNT(*)) OVER (PARTITION BY label), 6) AS row_share,
           label = predicted AS is_correct
    FROM pred GROUP BY 1, 2
    """,
    doc="x98: label-noise screen via a nearest-centroid predictor — fit "
    "per-label mean embeddings (exact decimal per-dim means), re-predict "
    "every vector's label by closest centroid (identical IEEE "
    "zip-fold distance both engines, ties to the smaller label), and "
    "emit the given-vs-predicted CONFUSION MATRIX with per-row shares — "
    "confident-learning's first step: off-diagonal mass marks label "
    "pairs that bleed into each other, the candidates for relabeling "
    "before the corpus trains anything. Scale: centroids are a bounded "
    "(labels x dims) artifact broadcast onto one scan; the per-dim fit "
    "is a word-count-shaped map-combined agg; no vector ever pairs "
    "with another vector",
)
def x98_label_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = fan_out(load_table(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", "label", _dbl("embedding").alias("emb")
    )
    dims = em.select(
        "label", F.posexplode("emb").alias("dim", "v")
    )
    cents = dims.groupBy(F.col("label").alias("clabel"), "dim").agg(
        (
            F.sum(F.col("v").cast("decimal(38,6)")).cast("double")
            / F.count("*")
        ).alias("c")
    )
    cvecs = cents.groupBy("clabel").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))),
            lambda s: s["c"],
        ).alias("cvec")
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col("emb"), F.col("cvec"), lambda x, y: (x - y) * (x - y)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = em.crossJoin(F.broadcast(cvecs)).select(
        "vec_id", "label", "clabel", d2.alias("d2")
    )
    w = W.partitionBy("vec_id").orderBy("d2", "clabel")
    pred = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", F.col("clabel").alias("predicted"))
    )
    conf = pred.groupBy(
        F.col("label").alias("given_label"), "predicted"
    ).agg(F.count("*").cast("bigint").alias("n"))
    wl = W.partitionBy("given_label")
    return conf.select(
        "given_label",
        "predicted",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(wl), 6).alias(
            "row_share"
        ),
        (F.col("given_label") == F.col("predicted")).alias("is_correct"),
    )


# --- x119: maximal-marginal-relevance diversity rerank ------------------------------

_X119_M = 8     # relevance candidates per query
_X119_K = 3     # diverse picks per query
_X119_LAM = 0.5


def _x119_oracle() -> str:
    cos = (
        _SQL_DOT.format(a="{a}", b="{b}")
        + " / (SQRT(" + _SQL_SQNORM.format(a="{a}") + ")"
        + " * SQRT(" + _SQL_SQNORM.format(a="{b}") + "))"
    )
    qc = cos.format(a="q.qe", b="e.embedding")
    ab = cos.format(a="ea.embedding", b="eb.embedding")
    return f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qe FROM embeddings
      WHERE vec_id < {N_QUERIES}
    ),
    scored AS (
      SELECT q.qid, e.vec_id, {qc} AS rel
      FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.qid
    ),
    cand AS (
      SELECT qid, vec_id, rel FROM (
        SELECT qid, vec_id, rel,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY rel DESC, vec_id) AS rn
        FROM scored
      ) WHERE rn <= {_X119_M}
    ),
    pair AS (
      SELECT a.qid, a.vec_id AS va, b.vec_id AS vb, {ab} AS sim
      FROM cand a
      JOIN cand b ON b.qid = a.qid AND b.vec_id <> a.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
    ),
    s1 AS (
      SELECT qid, vec_id AS v1, rel AS score1 FROM (
        SELECT qid, vec_id, rel,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY rel DESC, vec_id) AS rn
        FROM cand
      ) WHERE rn = 1
    ),
    s2 AS (
      SELECT qid, vec_id AS v2, score2 FROM (
        SELECT c.qid, c.vec_id,
               c.rel - {_X119_LAM} * p.sim AS score2,
               ROW_NUMBER() OVER (PARTITION BY c.qid
                 ORDER BY c.rel - {_X119_LAM} * p.sim DESC, c.vec_id)
                 AS rn
        FROM cand c
        JOIN s1 ON s1.qid = c.qid AND c.vec_id <> s1.v1
        JOIN pair p ON p.qid = c.qid AND p.va = c.vec_id
                    AND p.vb = s1.v1
      ) WHERE rn = 1
    ),
    s3 AS (
      SELECT qid, vec_id AS v3, score3 FROM (
        SELECT c.qid, c.vec_id,
               c.rel - {_X119_LAM} * GREATEST(p1.sim, p2.sim) AS score3,
               ROW_NUMBER() OVER (PARTITION BY c.qid
                 ORDER BY c.rel - {_X119_LAM} * GREATEST(p1.sim, p2.sim)
                   DESC, c.vec_id) AS rn
        FROM cand c
        JOIN s1 ON s1.qid = c.qid
        JOIN s2 ON s2.qid = c.qid
        JOIN pair p1 ON p1.qid = c.qid AND p1.va = c.vec_id
                     AND p1.vb = s1.v1
        JOIN pair p2 ON p2.qid = c.qid AND p2.va = c.vec_id
                     AND p2.vb = s2.v2
        WHERE c.vec_id <> s1.v1 AND c.vec_id <> s2.v2
      ) WHERE rn = 1
    )
    SELECT qid, 1 AS pick, v1 AS vec_id, ROUND(score1, 6) AS mmr_score
    FROM s1
    UNION ALL
    SELECT qid, 2, v2, ROUND(score2, 6) FROM s2
    UNION ALL
    SELECT qid, 3, v3, ROUND(score3, 6) FROM s3
    """


@register(
    "x119_mmr_diversity_rerank",
    oracle=_x119_oracle(),
    doc=f"x119: maximal-marginal-relevance rerank — per query, greedily "
    f"pick {_X119_K} results from the top-{_X119_M} relevance "
    f"candidates maximizing rel - {_X119_LAM}*max-sim-to-selected "
    "(Carbonell-Goldstein MMR), the diversity selection retrieval and "
    "data-curation pipelines run after x10's pure-relevance top-k "
    "(near-duplicate results waste context slots; MMR spends them on "
    "coverage). Scale: candidates bound everything — the greedy "
    "recursion touches only the M x M per-query pair grid (broadcast-"
    "joined selections, never the corpus); the unrolled rounds are "
    "rank windows over that bounded grid. Exactness: fold-computed "
    "cosines are engine-identical; ties break on vec_id; 6-dp "
    "rounding only on emitted scores",
)
def x119_mmr_diversity_rerank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    em = fan_out(load_table(spark, sf_dir, "embeddings"), spark)
    # per-row norms once, not per pair (cosine_prenorm — bit-identical)
    q = em.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), _dbl("embedding").alias("qe")
    ).withColumn("nq", norm_col(F.col("qe")))
    c = em.select("vec_id", _dbl("embedding").alias("ce")).withColumn(
        "nr", norm_col(F.col("ce"))
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "vec_id", "ce", "nr",
            cosine_prenorm(
                F.col("qe"), F.col("ce"), F.col("nq"), F.col("nr")
            ).alias("rel"),
        )
    )
    w = W.partitionBy("qid").orderBy(F.desc("rel"), F.asc("vec_id"))
    cand = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _X119_M)
        .select("qid", "vec_id", "ce", "nr", "rel")
    )
    return mmr_greedy_picks(cand)


def mmr_greedy_picks(cand: DataFrame) -> DataFrame:
    """The 3-round Carbonell-Goldstein greedy over a BOUNDED per-query
    candidate set ``(qid, vec_id, ce, nr, rel)`` (<= _X119_M rows per
    qid; ``nr`` = norm_col(ce), precomputed by the caller so pair sims
    cost one fold, not three).
    Shared by x119 (brute-force relevance candidates) and x123 (x65's
    IVF+PQ candidate stream) so the two rerankers are provably the same
    selection over different candidate generators. Only the bounded
    M x M per-query pair grid is ever joined — never the corpus.

    r11 optimization (guide §3.3/§5 — truncate very large plans): the
    greedy references ``cand`` four times and the pair grid (cand²)
    three more, so a lazily-persisted candidate frame replays its WHOLE
    upstream subtree per reference in the analyzed plan — for x123 that
    meant 96 parquet scans / 94 exchanges of pure planning work per
    action (execution deduped by the cache, planning did not). An eager
    ``localCheckpoint`` materializes the bounded candidate rows once and
    cuts every downstream reference to one in-memory scan (plan: 96
    scans -> 1 RDD scan; measured 4.9 s -> ~1.5 s for x123). Values are
    the exact rows the persist() form computed. At 100 TB the candidate
    set is still queries x M rows — checkpoint-sized by construction;
    a durable ``checkpoint()`` would restore fault tolerance at the
    same plan shape if the candidate build becomes re-run-expensive."""
    cand = cand.localCheckpoint(eager=True)
    w = W.partitionBy("qid").orderBy(F.desc("rel"), F.asc("vec_id"))
    a = cand.select(
        "qid", F.col("vec_id").alias("va"), F.col("ce").alias("ea"),
        F.col("nr").alias("na"),
    )
    b = cand.select(
        "qid", F.col("vec_id").alias("vb"), F.col("ce").alias("eb"),
        F.col("nr").alias("nb"),
    )
    pair = (
        a.join(b, "qid")
        .filter(F.col("va") != F.col("vb"))
        .select(
            "qid", "va", "vb",
            cosine_prenorm(
                F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")
            ).alias("sim"),
        )
    )
    s1 = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("qid", F.col("vec_id").alias("v1"), F.col("rel").alias("score1"))
    )
    lam = _X119_LAM
    c2 = (
        cand.join(F.broadcast(s1), "qid")
        .filter(F.col("vec_id") != F.col("v1"))
        .join(
            pair.select("qid", F.col("va").alias("vec_id"),
                        F.col("vb").alias("v1"), "sim"),
            ["qid", "vec_id", "v1"],
        )
        .withColumn("score2", F.col("rel") - lam * F.col("sim"))
    )
    w2 = W.partitionBy("qid").orderBy(F.desc("score2"), F.asc("vec_id"))
    s2 = (
        c2.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") == 1)
        .select("qid", F.col("vec_id").alias("v2"), "score2")
    )
    p1 = pair.select(
        "qid", F.col("va").alias("vec_id"), F.col("vb").alias("v1"),
        F.col("sim").alias("sim1"),
    )
    p2 = pair.select(
        "qid", F.col("va").alias("vec_id"), F.col("vb").alias("v2"),
        F.col("sim").alias("sim2"),
    )
    c3 = (
        cand.join(F.broadcast(s1), "qid")
        .join(F.broadcast(s2), "qid")
        .filter(
            (F.col("vec_id") != F.col("v1")) & (F.col("vec_id") != F.col("v2"))
        )
        .join(p1, ["qid", "vec_id", "v1"])
        .join(p2, ["qid", "vec_id", "v2"])
        .withColumn(
            "score3",
            F.col("rel") - lam * F.greatest(F.col("sim1"), F.col("sim2")),
        )
    )
    w3 = W.partitionBy("qid").orderBy(F.desc("score3"), F.asc("vec_id"))
    s3 = (
        c3.withColumn("rn", F.row_number().over(w3))
        .filter(F.col("rn") == 1)
        .select("qid", F.col("vec_id").alias("v3"), "score3")
    )
    return (
        s1.select(
            "qid", F.lit(1).alias("pick"), F.col("v1").alias("vec_id"),
            F.round("score1", 6).alias("mmr_score"),
        )
        .unionByName(
            s2.select(
                "qid", F.lit(2).alias("pick"), F.col("v2").alias("vec_id"),
                F.round("score2", 6).alias("mmr_score"),
            )
        )
        .unionByName(
            s3.select(
                "qid", F.lit(3).alias("pick"), F.col("v3").alias("vec_id"),
                F.round("score3", 6).alias("mmr_score"),
            )
        )
    )


# --- x123: ANN->MMR composed rerank (x65's candidate stream into x119's greedy) -----


@register(
    "x123_ann_mmr_rerank",
    oracle=None,  # candidates inherit x65's KMeans cell routing
    # (approximate); pick-level agreement vs the brute-force twin x119
    # is asserted in tests (exact equality wherever the IVF+PQ candidate
    # set recalled the full brute-force top-M)
    doc=f"x123: ANN->MMR composition (VERDICT r7 directive #4) — the "
    f"MMR diversity rerank CONSUMING x65's IVF+PQ candidate stream "
    f"instead of x119's brute-force corpus crossJoin: IVF cells bound "
    f"which rows are scanned, PQ/ADC bounds bytes per row, the exact-"
    f"rerank shortlist (<= {PQ_RERANK}/query) is re-scored with exact "
    f"cosine relevance, cut to the top-{_X119_M} candidates, and fed "
    "through the SAME shared 3-round greedy (mmr_greedy_picks) as "
    "x119 — so at 100 TB the rerank rides the index, never the "
    "corpus. Wherever the candidate stream recalls the brute-force "
    "top-M, the picks are byte-identical to x119 by construction "
    "(same greedy, same candidates); the recall-conditioned agreement "
    "is pinned in tests/test_llmdata.py",
)
def x123_ann_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    shortlist = ivfpq_exact_shortlist(spark, sf_dir).select("qid", "vec_id")
    em = fan_out(load_table(spark, sf_dir, "embeddings"), spark)
    # per-row norms once, not per pair (cosine_prenorm — bit-identical)
    q = em.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), _dbl("embedding").alias("qe")
    ).withColumn("nq", norm_col(F.col("qe")))
    c = em.select("vec_id", _dbl("embedding").alias("ce")).withColumn(
        "nr", norm_col(F.col("ce"))
    )
    scored = (
        shortlist.join(c, "vec_id")
        .join(F.broadcast(q), "qid")
        .select(
            "qid", "vec_id", "ce", "nr",
            cosine_prenorm(
                F.col("qe"), F.col("ce"), F.col("nq"), F.col("nr")
            ).alias("rel"),
        )
    )
    w = W.partitionBy("qid").orderBy(F.desc("rel"), F.asc("vec_id"))
    cand = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _X119_M)
        .select("qid", "vec_id", "ce", "nr", "rel")
    )
    return mmr_greedy_picks(cand)


# --- x120: cluster term labels (characteristic terms per kNN cluster) ---------------

_X120_TOPK = 3
_X120_MIN_COUNT = 2


def _x120_oracle() -> str:
    return f"""
    WITH RECURSIVE {_mutual_knn_cte()},
    member AS (
      SELECT c.cluster, d.doc_id,
             list_distinct(string_split(lower(d.text), ' ')) AS tk
      FROM comp c JOIN documents d ON d.doc_id = c.vec_id
    ),
    csize AS (
      SELECT cluster, COUNT(*) AS n_members FROM member GROUP BY cluster
    ),
    cterm AS (
      SELECT cluster, unnest(tk) AS term FROM member
    ),
    cin AS (
      SELECT cluster, term, COUNT(*) AS c_in FROM cterm
      GROUP BY cluster, term
    ),
    ctot AS (
      SELECT cluster, SUM(c_in) AS n_in FROM cin GROUP BY cluster
    ),
    allterm AS (
      SELECT term, COUNT(*) AS c_all FROM (
        SELECT unnest(list_distinct(string_split(lower(text), ' ')))
          AS term
        FROM documents
      ) GROUP BY term
    ),
    atot AS (SELECT SUM(c_all) AS n_all FROM allterm),
    lifted AS (
      SELECT cin.cluster, cin.term, cin.c_in,
             (CAST(cin.c_in AS DOUBLE) / ctot.n_in)
               / (CAST(a.c_all AS DOUBLE) / t.n_all) AS lift
      FROM cin
      JOIN ctot ON ctot.cluster = cin.cluster
      JOIN allterm a ON a.term = cin.term
      JOIN atot t ON TRUE
      WHERE cin.c_in >= {_X120_MIN_COUNT}
    ),
    ranked AS (
      SELECT cluster, term, c_in, lift,
             ROW_NUMBER() OVER (PARTITION BY cluster
                                ORDER BY lift DESC, term) AS rk
      FROM lifted
    )
    SELECT r.cluster, CAST(s.n_members AS BIGINT) AS n_members,
           CAST(r.rk AS BIGINT) AS rk, r.term,
           CAST(r.c_in AS BIGINT) AS c_in, r.lift
    FROM ranked r JOIN csize s ON s.cluster = r.cluster
    WHERE r.rk <= {_X120_TOPK}
    """


@register(
    "x120_cluster_term_labels",
    oracle=_x120_oracle(),
    doc=f"x120: cluster cards — the top-{_X120_TOPK} characteristic "
    "terms of every x87 mutual-kNN cluster by lift (in-cluster "
    "document frequency over corpus document frequency, min count "
    f"{_X120_MIN_COUNT}), with cluster sizes. Turns x87's anonymous "
    "component ids into human-readable labels — the triage view a "
    "curation run reads before deciding which semantic clusters to "
    "down-sample (x88 scores the clustering; x120 names it). Scale: "
    "the components come from the banded kNN graph; term stats are "
    "word-count-shaped shuffles; ranking is a window over the "
    "(cluster x qualifying-term) aggregate grid. Exactness: integer "
    "counts; lift is a quotient of quotients of identical doubles "
    "(emitted unrounded); ties break lexicographically",
)
def x120_cluster_term_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import tokens

    comp = mutual_knn_components(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    member = comp.join(
        docs, comp["doc_id"] == docs["doc_id"]
    ).select(
        F.col("component").alias("cluster"),
        F.array_distinct(tokens("text")).alias("tk"),
    )
    csize = member.groupBy("cluster").agg(
        F.count("*").alias("n_members")
    )
    cterm = member.select("cluster", F.explode("tk").alias("term"))
    cin = cterm.groupBy("cluster", "term").agg(
        F.count("*").alias("c_in")
    )
    ctot = cin.groupBy("cluster").agg(F.sum("c_in").alias("n_in"))
    allterm = (
        docs.select(F.explode(F.array_distinct(tokens("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("c_all"))
    )
    atot = allterm.agg(F.sum("c_all").alias("n_all"))
    lifted = (
        cin.filter(F.col("c_in") >= _X120_MIN_COUNT)
        .join(F.broadcast(ctot), "cluster")
        .join(allterm, "term")
        .crossJoin(F.broadcast(atot))
        .select(
            "cluster",
            "term",
            "c_in",
            (
                (F.col("c_in").cast("double") / F.col("n_in"))
                / (F.col("c_all").cast("double") / F.col("n_all"))
            ).alias("lift"),
        )
    )
    from pyspark.sql import Window as W

    rk = F.row_number().over(
        W.partitionBy("cluster").orderBy(F.desc("lift"), F.asc("term"))
    )
    return (
        lifted.withColumn("rk", rk)
        .filter(F.col("rk") <= _X120_TOPK)
        .join(F.broadcast(csize), "cluster")
        .select(
            "cluster",
            F.col("n_members").cast("bigint").alias("n_members"),
            F.col("rk").cast("bigint").alias("rk"),
            "term",
            F.col("c_in").cast("bigint").alias("c_in"),
            "lift",
        )
    )


# --- x127: linear-MMD embedding drift matrix between label groups -------------------


def _x127_oracle() -> str:
    return f"""
    WITH dims AS (
      SELECT label, u.d AS d,
             CAST(floor(u.e * {_MICRO}.0) AS BIGINT) AS q
      FROM (SELECT label,
                   unnest(list_transform(range(0, len(embedding)),
                     i -> {{'d': i, 'e': CAST(embedding[i+1] AS DOUBLE)}}))
                     AS u
            FROM embeddings)
    ),
    gs AS (
      SELECT label, d, CAST(SUM(q) AS BIGINT) AS s, COUNT(*) AS c
      FROM dims GROUP BY label, d
    ),
    arr AS (
      SELECT label, list(s ORDER BY d) AS sv, MAX(c) AS n
      FROM gs GROUP BY label
    )
    SELECT a.label AS label_a, b.label AS label_b,
           CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
           ROUND(list_reduce(
             list_concat([CAST(0 AS DOUBLE)],
               list_transform(range(1, len(a.sv) + 1),
                 i -> (CAST(a.sv[i] AS DOUBLE) / a.n
                       - CAST(b.sv[i] AS DOUBLE) / b.n) / {_MICRO}.0)),
             (acc, x) -> acc + x * x), 9) AS mmd2
    FROM arr a JOIN arr b ON a.label < b.label
    """


@register(
    "x127_embedding_mmd_matrix",
    # Linear-kernel MMD^2 between two groups is just the squared
    # distance of their mean embeddings — the cheapest distribution-
    # shift test over embedding space. Exactness: per-(label, dim)
    # integer micro-sums (x72's floor device) make both means exact
    # rationals; the 64 per-dim mean-diff squares are folded in DIM
    # ORDER (Spark F.aggregate == DuckDB list_reduce with a 0.0 seed),
    # so every double op is order-pinned and engine-identical; one
    # 9-dp round at the end.
    oracle=_x127_oracle(),
    doc="x127: linear-MMD embedding drift matrix — squared mean-"
    "embedding distance between every pair of label groups, the "
    "O(n) distribution-shift screen run before mixing corpora or "
    "after re-embedding (a large MMD between shards that should be "
    "iid flags encoder or pipeline drift). Scale: one posexplode -> "
    "(label, dim) integer aggregate (word-count shape, 640 reducer "
    "keys), then a label x label broadcast self-join that is "
    "INDEPENDENT of corpus size — the statistic streams, the "
    "comparison is O(labels^2 * dims). Exactness: micro-quantized "
    "integer sums; dim-ordered fold of mean-diff squares; 9-dp "
    "round. No reference analog — extension per brief; extends the "
    "correlation stage (src/enhanced_spark_etl.py:628) to "
    "embedding-space shift testing",
)
def x127_embedding_mmd_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    em = fan_out(load_table(spark, sf_dir, "embeddings"), spark)
    gs = mmd_moment_sums(em)
    return mmd_matrix_from_sums(gs)


def mmd_moment_sums(em: DataFrame) -> DataFrame:
    """The mergeable sufficient statistics behind x127: per-(label, dim)
    integer micro-sums + counts. Plain integer SUMs — associative and
    commutative — so partial grids from any data slicing merge to the
    batch answer bit-for-bit (the property t28 exploits as streaming
    state)."""
    dims = em.select(
        "label", F.posexplode(F.col("embedding")).alias("d", "e")
    ).select(
        "label",
        "d",
        F.floor(F.col("e").cast("double") * _MICRO).cast("bigint").alias("q"),
    )
    return dims.groupBy("label", "d").agg(
        F.sum("q").cast("bigint").alias("s"), F.count("*").alias("c")
    )


def mmd_matrix_from_sums(gs: DataFrame) -> DataFrame:
    """Finalize the linear-MMD label-pair matrix from the (label, d, s, c)
    moment table (shared by x127 batch and t28 streaming state)."""
    arr = gs.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "s"))),
            lambda x: x["s"],
        ).alias("sv"),
        F.max("c").alias("n"),
    )
    a = arr.select(
        F.col("label").alias("label_a"),
        F.col("sv").alias("sa"),
        F.col("n").alias("na"),
    )
    b = arr.select(
        F.col("label").alias("label_b"),
        F.col("sv").alias("sb"),
        F.col("n").alias("nb"),
    )
    diffs = F.zip_with(
        F.col("sa"),
        F.col("sb"),
        lambda x, y: (
            x.cast("double") / F.col("na") - y.cast("double") / F.col("nb")
        )
        / F.lit(float(_MICRO)),
    )
    return (
        a.join(F.broadcast(b), F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            F.col("na").cast("bigint").alias("n_a"),
            F.col("nb").cast("bigint").alias("n_b"),
            F.round(
                F.aggregate(
                    diffs, F.lit(0.0), lambda acc, x: acc + x * x
                ),
                9,
            ).alias("mmd2"),
        )
    )


# --- x130: reciprocal-rank fusion of lexical + dense retrieval ----------------------

_X130_RRF_K = 60   # the standard RRF damping constant
_X130_TOPK = 5


def _x130_oracle() -> str:
    cos = (
        _SQL_DOT.format(a="q.qe", b="e.embedding")
        + " / (SQRT(" + _SQL_SQNORM.format(a="q.qe") + ")"
        + " * SQRT(" + _SQL_SQNORM.format(a="e.embedding") + "))"
    )
    inter = "len(list_filter(c.w, x -> list_contains(qd.qw, x)))"
    return f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qe FROM embeddings
      WHERE vec_id < {N_QUERIES}
    ),
    qd AS (
      SELECT doc_id AS qid,
             list_distinct(string_split(lower(text), ' ')) AS qw
      FROM documents WHERE doc_id < {N_QUERIES}
    ),
    cw AS (
      SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS w
      FROM documents
    ),
    lex AS (
      SELECT qd.qid, c.doc_id,
             CAST({inter} AS DOUBLE)
               / (len(c.w) + len(qd.qw) - {inter}) AS jac
      FROM qd, cw c WHERE c.doc_id <> qd.qid
    ),
    lexr AS (
      SELECT qid, doc_id,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY jac DESC, doc_id) AS lex_rank
      FROM lex
    ),
    den AS (
      SELECT q.qid, e.vec_id AS doc_id, {cos} AS cs
      FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.qid
    ),
    denr AS (
      SELECT qid, doc_id,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY cs DESC, doc_id) AS dense_rank
      FROM den
    ),
    fused AS (
      SELECT l.qid, l.doc_id, l.lex_rank, d.dense_rank,
             1.0 / ({_X130_RRF_K} + l.lex_rank)
               + 1.0 / ({_X130_RRF_K} + d.dense_rank) AS rrf_score
      FROM lexr l JOIN denr d
        ON d.qid = l.qid AND d.doc_id = l.doc_id
    )
    SELECT qid, doc_id,
           CAST(lex_rank AS BIGINT) AS lex_rank,
           CAST(dense_rank AS BIGINT) AS dense_rank,
           rrf_score,
           CAST(fr AS BIGINT) AS fused_rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY rrf_score DESC, doc_id) AS fr
      FROM fused
    ) WHERE fr <= {_X130_TOPK}
    """


@register(
    "x130_hybrid_rrf_fusion",
    oracle=_x130_oracle(),
    doc=f"x130: hybrid retrieval via reciprocal-rank fusion — for each "
    f"query-by-example document, a LEXICAL ranking (distinct-word "
    f"Jaccard) and a DENSE ranking (exact cosine over the doc_id== "
    f"vec_id pairing) are fused by RRF (1/({_X130_RRF_K}+r_lex) + "
    f"1/({_X130_RRF_K}+r_dense)), emitting the top-{_X130_TOPK} fused "
    "results with both source ranks — the standard hybrid-search "
    "combiner (lexical catches exact terms dense misses; dense "
    "catches paraphrase lexical misses; RRF needs no score "
    "calibration, only ranks). Scale: both rankers here are the "
    "bounded-query exact twins (broadcast queries x partitioned "
    "corpus, the documented stand-ins for an inverted-index join and "
    "the x65 IVF stream); the fusion join is per-(query, doc) and "
    "the rank windows partition on qid. Exactness: ranks are "
    "integers; jaccard is one int/int quotient; the RRF sum is two "
    "IEEE quotients in pinned order — no rounding anywhere. "
    "Ref parity: the reference has no retrieval surface; this "
    "completes the x89/x10 ranker pair with the industry-standard "
    "fusion layer",
)
def x130_hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    em = fan_out(load_table(spark, sf_dir, "embeddings"), spark)
    qd = docs.filter(F.col("doc_id") < N_QUERIES).select(
        F.col("doc_id").alias("qid"),
        F.array_distinct(F.split(F.lower("text"), " ")).alias("qw"),
    )
    cw = docs.select(
        "doc_id", F.array_distinct(F.split(F.lower("text"), " ")).alias("w")
    )
    inter = F.size(F.array_intersect(F.col("w"), F.col("qw")))
    lex = (
        cw.crossJoin(F.broadcast(qd))
        .filter(F.col("doc_id") != F.col("qid"))
        .select(
            "qid",
            "doc_id",
            (
                inter.cast("double")
                / (F.size("w") + F.size("qw") - inter)
            ).alias("jac"),
        )
    )
    wl = W.partitionBy("qid").orderBy(F.desc("jac"), F.asc("doc_id"))
    lexr = lex.select(
        "qid", "doc_id", F.row_number().over(wl).alias("lex_rank")
    )
    q = em.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), _dbl("embedding").alias("qe")
    )
    den = (
        em.select("vec_id", _dbl("embedding").alias("ce"))
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("doc_id"),
            cosine(F.col("qe"), F.col("ce")).alias("cs"),
        )
    )
    wd = W.partitionBy("qid").orderBy(F.desc("cs"), F.asc("doc_id"))
    denr = den.select(
        "qid", "doc_id", F.row_number().over(wd).alias("dense_rank")
    )
    fused = lexr.join(denr, ["qid", "doc_id"]).select(
        "qid",
        "doc_id",
        "lex_rank",
        "dense_rank",
        (
            F.lit(1.0) / (_X130_RRF_K + F.col("lex_rank"))
            + F.lit(1.0) / (_X130_RRF_K + F.col("dense_rank"))
        ).alias("rrf_score"),
    )
    wf = W.partitionBy("qid").orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(wf))
        .filter(F.col("fused_rank") <= _X130_TOPK)
        .select(
            "qid",
            "doc_id",
            F.col("lex_rank").cast("bigint").alias("lex_rank"),
            F.col("dense_rank").cast("bigint").alias("dense_rank"),
            "rrf_score",
            F.col("fused_rank").cast("bigint").alias("fused_rank"),
        )
    )


# --- x133: RAG context-window packing -----------------------------------------------

_X133_CAND = 20     # dense-retrieval candidates considered per query
_X133_BUDGET = 256  # context token budget per query


@register(
    "x133_rag_context_pack",
    # The step between retrieval and generation: fill each query's
    # context window with retrieved docs IN RANK ORDER until the token
    # budget is hit (prefix semantics — cum tokens are monotone, so
    # inclusion is one comparison). Token costs are integer n_chars/4
    # proxies; the cumulative sum rides the per-qid rank window over
    # the top-20 candidate set, never the corpus.
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qe FROM embeddings
      WHERE vec_id < {N_QUERIES}
    ),
    ranked AS (
      SELECT qid, vec_id AS doc_id, rn AS rank FROM (
        SELECT q.qid, e.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                 {_SQL_DOT.format(a='q.qe', b='e.embedding')}
                   / (SQRT({_SQL_SQNORM.format(a='q.qe')})
                      * SQRT({_SQL_SQNORM.format(a='e.embedding')})) DESC,
                 e.vec_id) AS rn
        FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.qid
      ) WHERE rn <= {_X133_CAND}
    ),
    costed AS (
      SELECT r.qid, r.doc_id, r.rank,
             CAST(FLOOR(d.n_chars / 4.0) AS BIGINT) AS tok_cost
      FROM ranked r JOIN documents d ON d.doc_id = r.doc_id
    )
    SELECT qid, doc_id, CAST(rank AS BIGINT) AS rank, tok_cost,
           CAST(SUM(tok_cost) OVER (PARTITION BY qid ORDER BY rank)
                AS BIGINT) AS cum_tokens,
           SUM(tok_cost) OVER (PARTITION BY qid ORDER BY rank)
             <= {_X133_BUDGET} AS included
    FROM costed
    """,
    doc=f"x133: RAG context-window packing — for each query, the dense "
    f"retriever's top-{_X133_CAND} docs are packed into a "
    f"{_X133_BUDGET}-token context in rank order (prefix semantics: "
    "a doc is included iff the running token total still fits), "
    "emitting per-slot cost, cumulative tokens and the inclusion "
    "flag — the assembly step every retrieval-augmented pipeline "
    "runs between x10/x130's ranking and generation, and the "
    "budget-accounting twin of x103's corpus-level waterfill. "
    "Scale: candidates bound everything (broadcast queries x "
    "partitioned corpus for ranking, then per-qid windows over "
    f"<= {_X133_CAND} rows); doc costs attach by hash join on "
    "doc_id == vec_id. Exactness: integer token costs and prefix "
    "sums; ranking ties break on vec_id",
)
def x133_rag_context_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = fan_out(load_table(spark, sf_dir, "embeddings"), spark)
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id"),
        F.floor(F.col("n_chars") / 4.0).cast("bigint").alias("tok_cost"),
    )
    q = em.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), _dbl("embedding").alias("qe")
    )
    c = em.select("vec_id", _dbl("embedding").alias("ce"))
    wr = W.partitionBy("qid").orderBy(
        F.desc("cs"), F.asc("vec_id")
    )
    ranked = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            cosine(F.col("qe"), F.col("ce")).alias("cs"),
        )
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= _X133_CAND)
        .select("qid", F.col("vec_id").alias("doc_id"), "rank")
    )
    costed = ranked.join(docs, "doc_id")
    wc = W.partitionBy("qid").orderBy("rank")
    cum = F.sum("tok_cost").over(wc)
    return costed.select(
        "qid",
        "doc_id",
        F.col("rank").cast("bigint").alias("rank"),
        "tok_cost",
        cum.cast("bigint").alias("cum_tokens"),
        (cum <= _X133_BUDGET).alias("included"),
    )


# --- x134: embedding-cosine vs lexical-Jaccard calibration --------------------------

_X134_BAND = 20  # cosine band width: floor(cos * 20) -> 0.05-wide bands


@register(
    "x134_cosine_lexical_calibration",
    # Does embedding similarity MEAN lexical similarity on this corpus?
    # For every label-blocked pair (x11's candidate device, no
    # threshold), bucket the cosine into 0.05 bands (FLOOR on both
    # engines) and pool the word-level overlap per band: POOLED Jaccard
    # = SUM(intersections)/SUM(unions) — integer sums, ONE quotient per
    # band, deliberately avoiding a mean of per-pair rationals (whose
    # float sum would be order-dependent).
    oracle=f"""
    WITH w AS (
      SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS ws
      FROM documents
    ),
    pairs AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             {_SQL_DOT.format(a='a.embedding', b='b.embedding')}
               / (SQRT({_SQL_SQNORM.format(a='a.embedding')})
                  * SQRT({_SQL_SQNORM.format(a='b.embedding')})) AS cs
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
    ),
    lex AS (
      SELECT p.va, p.vb,
             CAST(FLOOR(p.cs * {_X134_BAND}) AS BIGINT) AS band,
             len(list_filter(wa.ws, x -> list_contains(wb.ws, x))) AS i,
             len(wa.ws) + len(wb.ws)
               - len(list_filter(wa.ws, x -> list_contains(wb.ws, x)))
               AS u
      FROM pairs p
      JOIN w wa ON wa.doc_id = p.va
      JOIN w wb ON wb.doc_id = p.vb
    )
    SELECT band,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(i) AS BIGINT) AS sum_intersect,
           CAST(SUM(u) AS BIGINT) AS sum_union,
           CAST(SUM(i) AS DOUBLE) / SUM(u) AS pooled_jaccard
    FROM lex GROUP BY band
    """,
    doc="x134: embedding-cosine vs lexical-Jaccard calibration curve — "
    "label-blocked pairs (x11's candidate device) bucketed into 0.05 "
    "cosine bands, each band reporting its POOLED word-Jaccard "
    "(sum-of-intersections over sum-of-unions). The trust audit "
    "behind every cosine threshold in the dedup/similarity stack "
    "(x11/x29 pick thresholds in cosine space; this shows what those "
    "thresholds mean lexically on THIS corpus, and a flat curve "
    "flags embeddings that do not track content). Scale: pair "
    "generation stays label-blocked (never all-pairs); word sets "
    "attach by two hash joins; the result is a <=40-row curve. "
    "Exactness: FLOOR banding on both engines, integer overlap "
    "sums, one IEEE quotient per band",
)
def x134_cosine_lexical_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    em = fan_out(load_table(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", "label", _dbl("embedding").alias("e")
    )
    w = fan_out(load_table(spark, sf_dir, "documents"), spark).select(
        F.col("doc_id"),
        F.array_distinct(F.split(F.lower("text"), " ")).alias("ws"),
    )
    a = em.select(
        "label", F.col("vec_id").alias("va"), F.col("e").alias("ea")
    )
    b = em.select(
        "label", F.col("vec_id").alias("vb"), F.col("e").alias("eb")
    )
    pairs = (
        a.join(b, "label")
        .filter(F.col("va") < F.col("vb"))
        .select(
            "va", "vb", cosine(F.col("ea"), F.col("eb")).alias("cs")
        )
    )
    wa = w.select(F.col("doc_id").alias("va"), F.col("ws").alias("wsa"))
    wb = w.select(F.col("doc_id").alias("vb"), F.col("ws").alias("wsb"))
    inter = F.size(F.array_intersect(F.col("wsa"), F.col("wsb")))
    lex = (
        pairs.join(wa, "va")
        .join(wb, "vb")
        .select(
            F.floor(F.col("cs") * _X134_BAND).cast("bigint").alias("band"),
            inter.alias("i"),
            (F.size("wsa") + F.size("wsb") - inter).alias("u"),
        )
    )
    return lex.groupBy("band").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum("i").cast("bigint").alias("sum_intersect"),
        F.sum("u").cast("bigint").alias("sum_union"),
        (F.sum("i").cast("double") / F.sum("u")).alias("pooled_jaccard"),
    )


# --- x157: prefix-norm (Cauchy-Schwarz) pruning audit for exact top-k -------------------

_X157_D1 = 32  # head dims scored exactly; the 32-dim tail is bounded


@register(
    "x157_norm_bound_prune_audit",
    # THE exact-ANN scale lever x10 lacks: score only the first 32
    # dims, bound the tail's contribution by Cauchy-Schwarz
    # (|tail_dot| <= ||q_tail|| * ||c_tail||), and skip any candidate
    # whose upper bound can't reach the current kth-best score. The
    # answer stays EXACT — unlike IVF (x65) or JL (x75) there is no
    # recall loss, because the bound is a theorem, not an estimate.
    # This audit measures the lever on real data: per query, the kth
    # cosine, how many candidates a bound-first scan could prove away,
    # and a soundness column (top-k members whose bound dips under the
    # threshold — MUST be 0, asserting Cauchy-Schwarz end-to-end in
    # both engines). Determinism: ordered left folds for every
    # dot/norm (x10's device), raw-double comparisons identical on
    # both engines, ROUND(,6) only on outputs. Scale: head-dot is d1/d
    # of the FLOPs and the tail norm is precomputed per row — with
    # PCA-ordered dims the bound collapses early and the full scan
    # touches a sliver of the corpus.
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qe
      FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    scored AS (
      SELECT q.qid, c.vec_id,
             {_SQL_DOT.format(a='q.qe', b='c.embedding')} AS full_dot,
             {_SQL_DOT.format(a='q.qe[1:32]', b='c.embedding[1:32]')}
               AS head_dot,
             SQRT({_SQL_SQNORM.format(a='q.qe[33:64]')})
               * SQRT({_SQL_SQNORM.format(a='c.embedding[33:64]')})
               AS tail_bound,
             SQRT({_SQL_SQNORM.format(a='q.qe')})
               * SQRT({_SQL_SQNORM.format(a='c.embedding')}) AS norms
      FROM q CROSS JOIN embeddings c
      WHERE c.vec_id <> q.qid
    ),
    cosed AS (
      SELECT qid, vec_id,
             full_dot / norms AS cos_sim,
             (head_dot + tail_bound) / norms AS cos_ub,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY full_dot / norms DESC, vec_id)
               AS rn
      FROM scored
    ),
    th AS (
      SELECT qid, MIN(cos_sim) AS kth FROM cosed
      WHERE rn <= {TOP_K} GROUP BY qid
    )
    SELECT c.qid,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           ROUND(MAX(t.kth), 6) AS kth_score,
           CAST(SUM(CASE WHEN c.cos_ub < t.kth THEN 1 ELSE 0 END)
                AS BIGINT) AS n_prunable,
           ROUND(CAST(SUM(CASE WHEN c.cos_ub < t.kth THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS prune_rate,
           CAST(SUM(CASE WHEN c.rn <= {TOP_K} AND c.cos_ub < t.kth
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bound_violations
    FROM cosed c JOIN th t USING (qid)
    GROUP BY c.qid
    """,
    doc="x157: prefix-norm pruning audit — the Cauchy-Schwarz "
    "early-termination lever for EXACT cosine top-k: score the first "
    "32 dims, bound the 32-dim tail by ||q_tail||*||c_tail||, and "
    "count per query how many candidates the bound alone disqualifies "
    "from the top-5 (plus a zero-by-theorem soundness column for "
    "top-k members). x65/x75 trade recall for speed; x157 measures "
    "the no-recall-loss alternative — with variance-ordered (PCA) "
    "dims the bound prunes most of the corpus and the exact answer "
    "survives. Ordered-fold dots/norms (x10's device), raw-double "
    "bound comparisons, ROUND(,6) outputs only. No reference analog "
    "— extension per brief (similarity-search scale path)",
)
def x157_norm_bound_prune_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d1 = _X157_D1
    em = fan_out(load_table(spark, sf_dir, "embeddings"), spark)
    q = em.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), _dbl("embedding").alias("qe")
    )
    c = em.select("vec_id", _dbl("embedding").alias("ce"))
    qe, ce = F.col("qe"), F.col("ce")
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "vec_id",
            dot(qe, ce).alias("full_dot"),
            dot(F.slice(qe, 1, d1), F.slice(ce, 1, d1)).alias("head_dot"),
            (
                F.sqrt(sq_norm(F.slice(qe, d1 + 1, 64 - d1)))
                * F.sqrt(sq_norm(F.slice(ce, d1 + 1, 64 - d1)))
            ).alias("tail_bound"),
            (F.sqrt(sq_norm(qe)) * F.sqrt(sq_norm(ce))).alias("norms"),
        )
    )
    w = W.partitionBy("qid").orderBy(
        F.desc(F.col("full_dot") / F.col("norms")), F.asc("vec_id")
    )
    cosed = scored.select(
        "qid", "vec_id",
        (F.col("full_dot") / F.col("norms")).alias("cos_sim"),
        ((F.col("head_dot") + F.col("tail_bound")) / F.col("norms"))
        .alias("cos_ub"),
        F.row_number().over(w).alias("rn"),
    )
    th = (
        cosed.filter(F.col("rn") <= TOP_K)
        .groupBy("qid")
        .agg(F.min("cos_sim").alias("kth"))
    )
    pruned = F.when(F.col("cos_ub") < F.col("kth"), 1).otherwise(0)
    return (
        cosed.join(F.broadcast(th), "qid")
        .groupBy("qid")
        .agg(
            F.count("*").cast("bigint").alias("n_candidates"),
            F.round(F.max("kth"), 6).alias("kth_score"),
            F.sum(pruned).cast("bigint").alias("n_prunable"),
            F.round(
                F.sum(pruned).cast("double") / F.count("*"), 6
            ).alias("prune_rate"),
            F.sum(
                F.when(
                    (F.col("rn") <= TOP_K)
                    & (F.col("cos_ub") < F.col("kth")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_bound_violations"),
        )
    )

"""ML analytics operators (SURVEY.md §2.10 M1-M9): K-means behavior
clustering, distance-to-centroid anomaly scoring, random-forest
forecasting with temporal split, correlation matrix.

Reference sites: pipeline assembly src/enhanced_spark_etl.py:371-399
(VectorAssembler + StandardScaler + KMeans k=5 seed=42), anomaly scoring
:402-414 (the reference uses a hash *placeholder* for distance — we
compute the real distance-to-centroid), RF forecasting :451-524 (lead-1h
target, temporal split, RMSE), Correlation.corr :607-648.

All seeded (seed=42, matching the reference) and registered rows-only —
ML outputs are invariant-checked in tests rather than hash-compared
(SURVEY §5.2.2).
"""

from __future__ import annotations

import math
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .. import state
from ..functions.numeric import dsum, sql_davg, sql_dstddev, sql_dsum
from ..registry import register, share_oracle
from ..sources.catalog import load_table

SEED = 42


def _features(ev: DataFrame) -> DataFrame:
    """M1/M9-style feature engineering: cyclical hour encoding + value."""
    h = F.hour("ts")
    two_pi = 2 * 3.141592653589793
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        "ts",
        F.sin(two_pi * h / 24).alias("hour_sin"),
        F.cos(two_pi * h / 24).alias("hour_cos"),
    )


def fit_kmeans(ev: DataFrame, k: int = 5):
    """M1+M2+M3+M4: assembler → scaler → KMeans as one ml.Pipeline.

    The assembled+scaled features are persisted before the iterative
    KMeans fit — otherwise every Lloyd iteration replays the full
    assembler/scaler lineage from the scan (k iterations × full scan).
    PipelineModel is reassembled from the individually-fitted stages so
    downstream ``model.transform`` keeps the one-pipeline API.
    """
    from pyspark.ml import PipelineModel
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import StandardScaler, VectorAssembler

    feats = _features(ev)
    assembler = VectorAssembler(
        inputCols=["value", "hour_sin", "hour_cos"], outputCol="raw"
    )
    scaler = StandardScaler(inputCol="raw", outputCol="features", withMean=True)
    assembled = assembler.transform(feats)
    scaler_model = scaler.fit(assembled)
    scaled = scaler_model.transform(assembled).persist()
    try:
        km = KMeans(k=k, seed=SEED, featuresCol="features", maxIter=10).fit(scaled)
    finally:
        scaled.unpersist()
    return PipelineModel(stages=[assembler, scaler_model, km]), feats


# The behavior-clustering model is deterministic (seed=42, same input),
# and both m01 (cluster profile) and m02 (anomaly scoring) consume it —
# a model-registry pattern: fit once per (session, dataset), reuse.
def _cached_kmeans(spark: SparkSession, sf_dir: str):
    ev = load_table(spark, sf_dir, "events")
    model = state.memo(spark, ("kmeans", sf_dir), lambda: fit_kmeans(ev)[0])
    return model, _features(ev)


def kmeans_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3: per-cluster profile (n_events, avg_value, n_users), clusters
    re-keyed by size rank so the output is stable under the label
    permutation KMeans is free to apply across fits/versions."""
    model, feats = _cached_kmeans(spark, sf_dir)
    profile = (
        model.transform(feats)
        .groupBy(F.col("prediction").alias("cluster"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.avg("value"), 4).alias("avg_value"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast("decimal(27,6)")).alias("_sum_dec"),
        )
    )
    w = W.orderBy(F.desc("n_events"), F.asc("avg_value"))
    return profile.withColumn("cluster", F.row_number().over(w) - 1)


@register(
    "m01_kmeans_clusters",
    oracle="""
    SELECT CAST(r AS INT) AS cluster,
           TRUE AS is_nonempty,
           CAST(5 AS BIGINT) AS n_clusters,
           (SELECT COUNT(*) FROM events) AS total_events,
           (SELECT CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE)
              FROM events) AS total_value
    FROM range(0, 5) t(r)
    """,
    doc="M1-M4: K-means (k=5, seed=42) behavior clusters, driver-checked "
    "via structural invariants — exactly k size-ranked non-empty clusters "
    "whose member counts and exact value sums partition the events table "
    "(the full per-cluster profile is kmeans_cluster_profile; the profile "
    "itself is label-permutation-sensitive, so the oracle certifies the "
    "partition facts instead)",
)
def m01_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    profile = kmeans_cluster_profile(spark, sf_dir)
    totals = profile.agg(
        F.count("*").alias("n_clusters"),
        F.sum("n_events").alias("total_events"),
        F.sum("_sum_dec").cast("double").alias("total_value"),
    )
    return profile.crossJoin(F.broadcast(totals)).select(
        "cluster",
        (F.col("n_events") > 0).alias("is_nonempty"),
        "n_clusters",
        "total_events",
        "total_value",
    )


@register(
    "m02_distance_anomaly",
    oracle=None,
    doc="M3/F3: REAL distance-to-centroid anomaly score (fixes the reference's "
    "hash placeholder), top-5% flagged via approxQuantile; emits its own "
    "load-bearing invariants (anomaly_frac ~0.05, score_nonneg) so a "
    "rows-only driver check still certifies the scoring contract",
)
def m02_distance_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.functions import vector_to_array

    from ..sources.catalog import pin_derived

    model, feats = _cached_kmeans(spark, sf_dir)
    km = model.stages[-1]
    centers = [list(map(float, c)) for c in km.clusterCenters()]
    centers_arr = F.array(*[
        F.array(*[F.lit(x) for x in c]) for c in centers
    ])

    def _score() -> DataFrame:
        return (
            model.transform(feats)
            .withColumn("fa", vector_to_array("features"))
            .withColumn("center", F.element_at(centers_arr, F.col("prediction") + 1))
            .withColumn(
                "dist",
                F.sqrt(
                    F.aggregate(
                        F.zip_with("fa", "center", lambda a, b: (a - b) * (a - b)),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                ),
            )
            .select("event_id", "user_id", "dist")
        )

    # Three consumers (quantile action, fraction action, final frame) —
    # tracked-pin the slim scored projection instead of replaying the
    # KMeans transform lineage per pass.
    scored = pin_derived(spark, sf_dir, "m02_scored", _score)
    quantiles = scored.approxQuantile("dist", [0.95], 0.01)  # A8 action
    if not quantiles:  # empty events table: no threshold to compute
        return spark.createDataFrame(
            [],
            "event_id long, user_id long, anomaly_score double, "
            "is_anomaly int, anomaly_frac double, score_nonneg boolean",
        )
    threshold = quantiles[0]
    frac = scored.agg(
        F.avg((F.col("dist") > threshold).cast("int"))
    ).first()[0]
    return scored.select(
        "event_id",
        "user_id",
        F.round("dist", 6).alias("anomaly_score"),
        (F.col("dist") > threshold).cast("int").alias("is_anomaly"),
        # Invariant columns: flagged fraction sits inside the approxQuantile
        # error band around 5%, and distances are non-negative by
        # construction — checkable from the output frame alone.
        F.lit(round(float(frac), 4)).alias("anomaly_frac"),
        (F.col("dist") >= 0).alias("score_nonneg"),
    )


@register(
    "m03_rf_forecast",
    oracle=None,
    doc="M5/M6/M9: RandomForest lead-1 forecast, temporal split, RMSE",
)
def m03_rf_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml import Pipeline
    from pyspark.ml.evaluation import RegressionEvaluator
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import RandomForestRegressor

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    df = (
        _features(ev)
        .withColumn("lag_1", F.lag("value", 1).over(w))
        .withColumn("lag_2", F.lag("value", 2).over(w))
        .withColumn("target", F.lead("value", 1).over(w))
        .na.drop(subset=["lag_1", "lag_2", "target"])
    )
    cutoff = "2024-01-24 00:00:00"  # temporal split (M9), ~80/20
    # Persist the windowed frame: the RF fit makes one pass per tree batch
    # and would otherwise replay the lag/lead window computation each time.
    df = df.persist()
    try:
        train = df.filter(F.col("ts") < F.lit(cutoff).cast("timestamp"))
        test = df.filter(F.col("ts") >= F.lit(cutoff).cast("timestamp"))
        pipe = Pipeline(
            stages=[
                VectorAssembler(
                    inputCols=["value", "lag_1", "lag_2", "hour_sin", "hour_cos"],
                    outputCol="features",
                ),
                RandomForestRegressor(
                    featuresCol="features", labelCol="target",
                    numTrees=8, maxDepth=4, seed=SEED,
                ),
            ]
        )
        model = pipe.fit(train)
        pred = model.transform(test)
        rmse = RegressionEvaluator(
            labelCol="target", predictionCol="prediction", metricName="rmse"
        ).evaluate(pred)
        # Temporal-split facts as invariant columns: every train row
        # precedes the cutoff, every test row follows it, and the split
        # partitions the windowed frame — checkable from the output alone.
        train_max, n_train = train.agg(F.max("ts"), F.count("*")).first()
        test_min, n_test = test.agg(F.min("ts"), F.count("*")).first()
        cutoff_dt = datetime.fromisoformat(cutoff)
        split_ok = bool(
            train_max is not None
            and test_min is not None
            and train_max < cutoff_dt <= test_min
        )
        from ..sources.catalog import literal_df

        return literal_df(
            pred.sparkSession,
            [
                (
                    float(rmse),
                    math.isfinite(rmse) and rmse >= 0.0,
                    n_train,
                    n_test,
                    cutoff,
                    split_ok,
                )
            ],
            "rmse double, rmse_valid boolean, n_train long, n_test long, "
            "cutoff_ts string, temporal_split_ok boolean",
        )
    finally:
        df.unpersist()


_M04_TYPES = ["click", "error", "purchase", "signup", "view"]
_M04_WIDE = """
    WITH wide AS (
      SELECT time_bucket(INTERVAL 1 DAY, ts) AS d,
             {cols}
      FROM events GROUP BY 1
    ),
    clean AS (SELECT * FROM wide WHERE {notnull})
""".format(
    cols=", ".join(
        f"AVG(value) FILTER (event_type = '{t}') AS {t}" for t in _M04_TYPES
    ),
    notnull=" AND ".join(f"{t} IS NOT NULL" for t in _M04_TYPES),
)


@register(
    "m04_correlation_matrix",
    # Pearson over 30 daily points is stable far past the 6th decimal,
    # so the ML-family matrix is exactly reproducible in SQL: pivot via
    # FILTER aggregates, corr() per type pair, rounded on both sides.
    oracle=_M04_WIDE
    + " UNION ALL ".join(
        f"SELECT '{a}' AS type_a, '{b}' AS type_b, "
        f"ROUND(corr({a}, {b}), 6) AS pearson FROM clean"
        for a in _M04_TYPES
        for b in _M04_TYPES
    ),
    doc="M7/A15: Pearson correlation matrix over pivoted per-type daily avgs",
)
def m04_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.stat import Correlation

    ev = load_table(spark, sf_dir, "events")
    types = _M04_TYPES  # one list for the query AND its oracle
    wide = (
        ev.groupBy(F.window("ts", "1 day").alias("w"))
        .pivot("event_type", types)
        .avg("value")
        .na.drop()
    )
    assembled = VectorAssembler(inputCols=types, outputCol="features").transform(wide)
    mat = Correlation.corr(assembled, "features").head()[0].toArray()
    rows = [
        (types[i], types[j], round(float(mat[i][j]), 6))
        for i in range(len(types))
        for j in range(len(types))
    ]
    from ..sources.catalog import literal_df

    return literal_df(
        ev.sparkSession, rows, "type_a string, type_b string, pearson double"
    )


@register(
    "m05_pca_embeddings",
    oracle=None,  # SVD sign/fp nondeterminism; invariants in tests
    doc="M8: PCA over the embedding corpus (reference imports PCA at "
    "src/enhanced_spark_etl.py:11 but never wires it; here it is real — "
    "dimensionality reduction ahead of ANN indexing at scale)",
)
def m05_pca_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit PCA(k=8) on the embedding column and report per-component
    explained variance — the standard precursor to cheaper similarity
    search (project once, search in 8 dims instead of 64).

    Scale: the fit is one pass building a d×d Gram matrix per partition
    (tree-aggregated); d=64 here, so driver memory is O(d²) regardless of
    corpus size. The projection itself is a broadcast matmul per row.
    """
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector

    from ..sources.catalog import fan_out

    em = fan_out(load_table(spark, sf_dir, "embeddings"), spark)
    vecs = em.select(
        "vec_id",
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
    )
    model = PCA(k=8, inputCol="features", outputCol="pc").fit(vecs)
    ev = [round(float(x), 6) for x in model.explainedVariance]
    # Invariant columns: PCA orders components by variance, so the ratios
    # must be non-increasing and their running sum bounded by 1 — a
    # rows-only driver check can certify the spectrum's shape even though
    # the exact values are SVD/fp-nondeterministic.
    cum = 0.0
    rows = []
    for i, v in enumerate(ev):
        cum += v
        rows.append(
            (
                i,
                v,
                round(cum, 6),
                v <= (ev[i - 1] if i else 1.0) + 1e-9,
                cum <= 1.0 + 1e-6,
            )
        )
    from ..sources.catalog import literal_df

    return literal_df(
        spark,
        rows,
        "component int, explained_variance double, cum_explained double, "
        "monotone_nonincreasing boolean, cum_leq_one boolean",
    )


# --- M6 (ext.): per-group least-squares trend from exact decimal moments -----

# The closed-form OLS line (slope/intercept of value over time) per event
# type — the trend statistic the reference's forecasting module prints
# alongside the RF model (src/enhanced_spark_etl.py RMSE block), computed
# here without MLlib: one hash-agg pass accumulating the five moments as
# DECIMAL (exact, order-independent — a15's pattern), then the closed
# form on identical doubles in both engines. The x axis is hours since
# 2024-01-01 in integer seconds, floored on both engines (DuckDB's
# epoch() keeps fractional seconds, Spark's unix_timestamp truncates) —
# a near-data origin keeps the intercept at O(value) magnitude instead
# of amplifying epoch-origin extrapolation past the 6-decimal round, and
# the moments stay inside DECIMAL(38,6) headroom at any row count.
@register(
    "m06_linear_trend",
    oracle=f"""
    WITH t AS (
      SELECT event_type,
             (CAST(FLOOR(epoch(ts)) AS BIGINT) - 1704067200) / 3600.0 AS x,
             value AS y
      FROM events
    ),
    m AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS n,
             {sql_dsum('x', 38)} AS sx,
             {sql_dsum('y', 38)} AS sy,
             {sql_dsum('x*x', 38)} AS sxx,
             {sql_dsum('x*y', 38)} AS sxy
      FROM t GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_points,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
             AS slope_per_hour,
           ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
             AS intercept
    FROM m
    """,
    doc="M6 (ext.): closed-form OLS trend (slope per hour + intercept) per "
    "event type from five exact-decimal moments — one hash-agg pass, no "
    "MLlib, engine-exact (a15's determinism pattern)",
)
def m06_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    t = ev.select(
        "event_type",
        ((F.unix_timestamp("ts") - F.lit(1704067200)) / 3600.0).alias("x"),
        F.col("value").alias("y"),
    )
    m = t.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n"),
        dsum("x", 38).alias("sx"),
        dsum("y", 38).alias("sy"),
        dsum(F.col("x") * F.col("x"), 38).alias("sxx"),
        dsum(F.col("x") * F.col("y"), 38).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return m.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_points"),
        F.round(slope, 6).alias("slope_per_hour"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
    )


# --- M7 (ext.): weekday seasonality decomposition ----------------------------

# The variance decomposition behind "is this series seasonal": per
# (type, day-of-week) means against the grand mean, with seasonal
# strength = SS_between / SS_total computed entirely from exact decimal
# moments (n, Σx, Σx² per cell — re-aggregatable partials, so the same
# two-level rollup runs on a 100 TB fact without a second scan). All
# divisions happen on identical doubles in both engines.
@register(
    "m07_weekday_seasonality",
    oracle=f"""
    WITH cells AS (
      -- DuckDB dayofweek is 0(Sun)-6; Spark's is 1(Sun)-7 — align
      SELECT event_type, dayofweek(ts) + 1 AS dow,
             COUNT(*) AS n,
             {sql_dsum('value')} AS sx,
             {sql_dsum('value*value')} AS sxx
      FROM events GROUP BY 1, 2
    ),
    -- second-level rollup re-rounds per-cell doubles into DECIMAL before
    -- summing: raw double addition is partition-order dependent and would
    -- break the engine-exact contract the oracle gate relies on
    totals AS (
      SELECT event_type,
             CAST(SUM(n) AS BIGINT) AS n_total,
             CAST(SUM(CAST(ROUND(sx, 6) AS DECIMAL(27,6))) AS DOUBLE) AS sx_total,
             CAST(SUM(CAST(ROUND(sxx, 6) AS DECIMAL(27,6))) AS DOUBLE) AS sxx_total,
             CAST(SUM(CAST(ROUND(sx * sx / n, 6) AS DECIMAL(27,6))) AS DOUBLE)
               AS ss_cells
      FROM cells GROUP BY event_type
    )
    SELECT c.event_type, c.dow,
           c.n AS n_rows,
           ROUND(c.sx / c.n, 6) AS dow_mean,
           ROUND(t.sx_total / t.n_total, 6) AS grand_mean,
           ROUND((t.ss_cells - t.sx_total * t.sx_total / t.n_total)
                 / (t.sxx_total - t.sx_total * t.sx_total / t.n_total), 6)
             AS seasonal_strength
    FROM cells c JOIN totals t USING (event_type)
    """,
    doc="M7 (ext.): weekday seasonality — per-(type, day-of-week) means "
    "and the between-cell variance share (SS_between/SS_total) from "
    "exact decimal moments; the partials are re-aggregatable, so the "
    "two-level rollup never rescans the fact",
)
def m07_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", F.dayofweek("ts").alias("dow")
    ).agg(
        F.count("*").alias("n"),
        dsum("value").alias("sx"),
        dsum(F.col("value") * F.col("value")).alias("sxx"),
    )
    def _dec(c):
        return F.sum(F.round(c, 6).cast("decimal(27,6)")).cast("double")

    totals = cells.groupBy("event_type").agg(
        F.sum("n").alias("n_total"),
        _dec(F.col("sx")).alias("sx_total"),
        _dec(F.col("sxx")).alias("sxx_total"),
        _dec(F.col("sx") * F.col("sx") / F.col("n")).alias("ss_cells"),
    )
    corr = F.col("sx_total") * F.col("sx_total") / F.col("n_total")
    return cells.join(F.broadcast(totals), "event_type").select(
        "event_type",
        "dow",
        F.col("n").alias("n_rows"),
        F.round(F.col("sx") / F.col("n"), 6).alias("dow_mean"),
        F.round(F.col("sx_total") / F.col("n_total"), 6).alias("grand_mean"),
        F.round(
            (F.col("ss_cells") - corr) / (F.col("sxx_total") - corr), 6
        ).alias("seasonal_strength"),
    )


# --- M8 (ext.): ridge-regularized trend --------------------------------------

RIDGE_LAMBDA = 10.0  # L2 penalty on the slope (in centered-moment units)


@register(
    "m08_ridge_trend",
    # Centered closed form: slope = Sxy / (Sxx + lambda) with
    # Sxx = sxx - sx^2/n, Sxy = sxy - sx*sy/n from the same five exact
    # DECIMAL moments as m06 — so the regularized and unregularized fits
    # share one aggregation pass and differ only in the final scalar
    # arithmetic, which runs on identical doubles in both engines.
    oracle=f"""
    WITH t AS (
      SELECT event_type,
             (CAST(FLOOR(epoch(ts)) AS BIGINT) - 1704067200) / 3600.0 AS x,
             value AS y
      FROM events
    ),
    m AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS n,
             {sql_dsum('x', 38)} AS sx,
             {sql_dsum('y', 38)} AS sy,
             {sql_dsum('x*x', 38)} AS sxx,
             {sql_dsum('x*y', 38)} AS sxy
      FROM t GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_points,
           ROUND((sxy - sx * sy / n)
                 / ((sxx - sx * sx / n) + {RIDGE_LAMBDA}), 6) AS ridge_slope,
           ROUND((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) AS ols_slope,
           ABS((sxy - sx * sy / n)
               / ((sxx - sx * sx / n) + {RIDGE_LAMBDA}))
             <= ABS((sxy - sx * sy / n) / (sxx - sx * sx / n)) AS shrinks
    FROM m
    """,
    doc=f"M8 (ext.): ridge-regularized trend (L2 lambda={RIDGE_LAMBDA}) "
    "per event type via the centered closed form slope = Sxy/(Sxx + "
    "lambda) — the regularization a forecasting pipeline applies when "
    "per-key series are short/noisy, computed from the SAME five "
    "exact-decimal moments as the OLS fit (one shared hash-agg pass, "
    "no MLlib, engine-exact); emits both slopes and the shrinkage "
    "invariant |ridge| <= |ols|",
)
def m08_ridge_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..functions.numeric import dsum
    from ..sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    t = ev.select(
        "event_type",
        ((F.unix_timestamp("ts") - F.lit(1704067200)) / 3600.0).alias("x"),
        F.col("value").alias("y"),
    )
    m = t.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n"),
        dsum("x", 38).alias("sx"),
        dsum("y", 38).alias("sy"),
        dsum(F.col("x") * F.col("x"), 38).alias("sxx"),
        dsum(F.col("x") * F.col("y"), 38).alias("sxy"),
    )
    cxx = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    cxy = F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")
    ridge = cxy / (cxx + RIDGE_LAMBDA)
    ols = cxy / cxx
    return m.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_points"),
        F.round(ridge, 6).alias("ridge_slope"),
        F.round(ols, 6).alias("ols_slope"),
        (F.abs(ridge) <= F.abs(ols)).alias("shrinks"),
    )


# --- m09 (ext.): multinomial Naive Bayes language classifier -----------------


@register(
    "m09_naive_bayes_lang",
    # Exactness: every probability is an exact integer ratio; each ln is
    # rounded to 6dp and scaled by an exact integer token count inside a
    # DECIMAL sum (the x45 device), so per-(doc, class) scores are
    # order-independent and engine-identical; argmax ties break on class
    # name. Resubstitution protocol (train = eval corpus), documented —
    # the operator certifies the distributed scoring pipeline, not
    # generalization.
    oracle="""
    WITH tok AS (
      SELECT d.doc_id, d.lang, t.w, COUNT(*) AS c_dw
      FROM documents d,
           LATERAL (SELECT unnest(string_split(lower(d.text), ' ')) AS w) t
      GROUP BY d.doc_id, d.lang, t.w
    ),
    classes AS (SELECT DISTINCT lang AS c FROM documents),
    vocab AS (SELECT DISTINCT w FROM tok),
    vstat AS (SELECT COUNT(*) AS v FROM vocab),
    cw AS (
      SELECT lang AS c, w, CAST(SUM(c_dw) AS BIGINT) AS c_cw
      FROM tok GROUP BY lang, w
    ),
    ctot AS (SELECT c, CAST(SUM(c_cw) AS BIGINT) AS n_c FROM cw GROUP BY c),
    priors AS (
      SELECT lang AS c, COUNT(*) AS n_docs_c,
             (SELECT COUNT(*) FROM documents) AS n_docs
      FROM documents GROUP BY lang
    ),
    full_cw AS (
      SELECT cl.c, vo.w, COALESCE(cw.c_cw, 0) AS c_cw
      FROM classes cl CROSS JOIN vocab vo
      LEFT JOIN cw ON cw.c = cl.c AND cw.w = vo.w
    ),
    lterm AS (
      SELECT f.c, f.w,
             CAST(ROUND(LN((f.c_cw + 1.0) / (t.n_c + s.v)), 6)
                  AS DECIMAL(27,6)) AS lw
      FROM full_cw f JOIN ctot t USING (c) CROSS JOIN vstat s
    ),
    scores AS (
      SELECT tk.doc_id, tk.lang, l.c,
             SUM(tk.c_dw * l.lw) AS s_words
      FROM tok tk JOIN lterm l ON l.w = tk.w
      GROUP BY tk.doc_id, tk.lang, l.c
    ),
    pred AS (
      SELECT doc_id, lang, c AS predicted FROM (
        SELECT s.doc_id, s.lang, s.c,
               ROW_NUMBER() OVER (
                 PARTITION BY s.doc_id
                 ORDER BY CAST(s.s_words AS DOUBLE)
                          + ROUND(LN(CAST(p.n_docs_c AS DOUBLE)
                                     / p.n_docs), 6) DESC,
                          s.c) AS rn
        FROM scores s JOIN priors p ON p.c = s.c
      ) WHERE rn = 1
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN predicted = lang THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           CAST(SUM(CASE WHEN predicted = lang THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS accuracy
    FROM pred GROUP BY lang
    """,
    doc="m09 (ext.): multinomial Naive Bayes language classifier, trained "
    "and scored wholly as DataFrame algebra — per-(class, word) Laplace-"
    "smoothed log-likelihoods + log priors, per-document argmax, "
    "per-language resubstitution accuracy. The from-scratch MLlib-free "
    "counterpart to m02/m05's MLlib pipelines: every probability is an "
    "exact integer ratio and every ln goes through the x45 decimal "
    "device, so the WHOLE classifier is oracle-exact (no seeds, no "
    "floats drifting). Scale shape: token counts are word-count "
    "shuffles; the class x vocab likelihood table is vocabulary-sized "
    "and joins the token stream on the word key; scoring is one "
    "map-combined aggregate per (doc, class); nothing iterates",
)
def m09_naive_bayes_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmdata.text import tokens
    from ..sources.catalog import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"), spark)
    tok = (
        d.select("doc_id", "lang", F.explode(tokens("text")).alias("w"))
        .groupBy("doc_id", "lang", "w")
        .agg(F.count("*").alias("c_dw"))
    )
    classes = d.select(F.col("lang").alias("c")).distinct()
    vocab = tok.select("w").distinct()
    vstat = vocab.agg(F.count("*").alias("v"))
    cw = tok.groupBy(F.col("lang").alias("c"), "w").agg(
        F.sum("c_dw").cast("bigint").alias("c_cw")
    )
    ctot = cw.groupBy("c").agg(F.sum("c_cw").cast("bigint").alias("n_c"))
    n_docs_total = d.agg(F.count("*").alias("n_docs"))
    priors = (
        d.groupBy(F.col("lang").alias("c"))
        .agg(F.count("*").alias("n_docs_c"))
        .crossJoin(F.broadcast(n_docs_total))
    )
    full_cw = (
        classes.crossJoin(vocab)
        .join(cw, ["c", "w"], "left")
        .select("c", "w", F.coalesce("c_cw", F.lit(0)).alias("c_cw"))
    )
    lterm = (
        full_cw.join(F.broadcast(ctot), "c")
        .crossJoin(F.broadcast(vstat))
        .select(
            "c",
            "w",
            F.round(
                F.log((F.col("c_cw") + 1.0) / (F.col("n_c") + F.col("v"))), 6
            )
            .cast("decimal(27,6)")
            .alias("lw"),
        )
    )
    scores = (
        tok.join(lterm, "w")
        .groupBy("doc_id", "lang", "c")
        .agg(F.sum(F.col("c_dw") * F.col("lw")).alias("s_words"))
    )
    lprior = F.round(
        F.log(F.col("n_docs_c").cast("double") / F.col("n_docs")), 6
    )
    pred = (
        scores.join(F.broadcast(priors), "c")
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("doc_id").orderBy(
                    F.desc(F.col("s_words").cast("double") + lprior),
                    F.asc("c"),
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", F.col("c").alias("predicted"))
    )
    return pred.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("predicted") == F.col("lang"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_correct"),
        (
            F.sum(
                F.when(F.col("predicted") == F.col("lang"), 1).otherwise(0)
            ).cast("double")
            / F.count("*")
        ).alias("accuracy"),
    )


# --- m10 (ext.): Mann–Kendall trend test -------------------------------------


@register(
    "m10_mann_kendall",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             SUM(CAST(ROUND(value, 6) AS DECIMAL(27,6))) AS sy,
             COUNT(*) AS cnt
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    xy AS (
      SELECT event_type, d, CAST(sy AS DOUBLE) / cnt AS y FROM daily
    ),
    s AS (
      SELECT a.event_type,
             CAST(SUM(CASE WHEN b.y > a.y THEN 1
                           WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT)
               AS s_stat
      FROM xy a JOIN xy b
        ON a.event_type = b.event_type AND a.d < b.d
      GROUP BY a.event_type
    ),
    ties AS (
      SELECT event_type,
             CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tie_term
      FROM (
        SELECT event_type, y, COUNT(*) AS t FROM xy
        GROUP BY event_type, y HAVING COUNT(*) > 1
      ) GROUP BY event_type
    ),
    n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nd FROM xy
          GROUP BY event_type),
    stat AS (
      SELECT n.event_type, n.nd, s.s_stat,
             CAST(n.nd * (n.nd - 1) * (2 * n.nd + 5)
                  - COALESCE(t.tie_term, 0) AS DOUBLE) / 18 AS var_s
      FROM n JOIN s USING (event_type)
      LEFT JOIN ties t ON t.event_type = n.event_type
    )
    SELECT event_type, nd AS n_days, s_stat,
           var_s,
           CASE WHEN s_stat > 0
                  THEN CAST(s_stat - 1 AS DOUBLE) / SQRT(var_s)
                WHEN s_stat < 0
                  THEN CAST(s_stat + 1 AS DOUBLE) / SQRT(var_s)
                ELSE 0.0 END AS z,
           CAST(s_stat AS DOUBLE) / (CAST(nd AS DOUBLE) * (nd - 1) / 2)
             AS tau,
           CASE WHEN s_stat > 0 AND CAST(s_stat - 1 AS DOUBLE) / SQRT(var_s)
                     > 1.959964 THEN 'increasing'
                WHEN s_stat < 0 AND CAST(s_stat + 1 AS DOUBLE) / SQRT(var_s)
                     < -1.959964 THEN 'decreasing'
                ELSE 'no_trend' END AS trend
    FROM stat
    """,
    doc="m10 (ext.): Mann–Kendall nonparametric trend test per event_type "
    "over the daily-mean series — S statistic (sum of pairwise signs), "
    "tie-corrected variance, normal-approximation Z and Kendall's tau, "
    "with the 5%-level trend verdict (the distribution-free companion "
    "to a31's Theil–Sen slope; the pair ships as the standard "
    "hydrology/sensor drift-test kit). Exactness: S and the tie term "
    "are exact integers (signs compare identical doubles); var_s is "
    "one IEEE quotient of an exact integer by 18; Z divides exact "
    "integers by SQRT(var_s) — IEEE sqrt is correctly rounded in both "
    "engines, so every double is bit-identical; the 1.959964 cutoff "
    "compares those identical doubles. Scale shape: the event stream "
    "reduces map-side to (type, day) rows before the bounded O(d^2) "
    "sign pairing; tie detection is a constant-size agg. Reference "
    "analog: trend classification in src/enhanced_spark_etl.py:500-540",
)
def m10_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(
        F.sum(F.round("value", 6).cast("decimal(27,6)")).alias("sy"),
        F.count("*").alias("cnt"),
    )
    xy = daily.select(
        "event_type", "d", (F.col("sy").cast("double") / F.col("cnt")).alias("y")
    )
    a = xy.select("event_type", F.col("d").alias("da"), F.col("y").alias("ya"))
    b = xy.select("event_type", F.col("d").alias("db"), F.col("y").alias("yb"))
    s = (
        a.join(b, "event_type")
        .filter(F.col("da") < F.col("db"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("yb") > F.col("ya"), 1)
                .when(F.col("yb") < F.col("ya"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    ties = (
        xy.groupBy("event_type", "y")
        .agg(F.count("*").alias("t"))
        .filter(F.col("t") > 1)
        .groupBy("event_type")
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tie_term")
        )
    )
    n = xy.groupBy("event_type").agg(F.count("*").cast("bigint").alias("nd"))
    stat = (
        n.join(s, "event_type")
        .join(ties, "event_type", "left")
        .select(
            "event_type",
            "nd",
            "s_stat",
            (
                (
                    F.col("nd") * (F.col("nd") - 1) * (2 * F.col("nd") + 5)
                    - F.coalesce(F.col("tie_term"), F.lit(0))
                ).cast("double")
                / 18
            ).alias("var_s"),
        )
    )
    z = (
        F.when(
            F.col("s_stat") > 0,
            (F.col("s_stat") - 1).cast("double") / F.sqrt("var_s"),
        )
        .when(
            F.col("s_stat") < 0,
            (F.col("s_stat") + 1).cast("double") / F.sqrt("var_s"),
        )
        .otherwise(F.lit(0.0))
    )
    return stat.select(
        "event_type",
        F.col("nd").alias("n_days"),
        "s_stat",
        "var_s",
        z.alias("z"),
        (
            F.col("s_stat").cast("double")
            / (F.col("nd").cast("double") * (F.col("nd") - 1) / 2)
        ).alias("tau"),
        F.when((F.col("s_stat") > 0) & (z > 1.959964), "increasing")
        .when((F.col("s_stat") < 0) & (z < -1.959964), "decreasing")
        .otherwise("no_trend")
        .alias("trend"),
    )


# --- m11 (ext.): isotonic (PAV) calibration via the minimax identity ---------

M11_BUCKET_W = 50  # n_chars per bucket


@register(
    "m11_isotonic_calibration",
    oracle=f"""
    WITH docs AS (
      SELECT n_chars // {M11_BUCKET_W} AS b,
             len(string_split(lower(text), ' ')) AS n_tok,
             len(list_filter(string_split(lower(text), ' '),
                             w -> w IN ('the', 'a', 'of', 'and', 'to')))
               AS n_stop
      FROM documents
    ),
    buckets AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS n_tok,
             CAST(SUM(n_stop) AS BIGINT) AS n_stop
      FROM docs GROUP BY b
    ),
    intervals AS (
      SELECT j.b AS j, k.b AS k,
             CAST(SUM(m.n_stop) AS DOUBLE) / SUM(m.n_tok) AS m
      FROM buckets j
      JOIN buckets k ON j.b <= k.b
      JOIN buckets m ON m.b BETWEEN j.b AND k.b
      GROUP BY j.b, k.b
    ),
    t1 AS (
      SELECT i.b AS b, v.j, MIN(v.m) AS mn
      FROM buckets i JOIN intervals v ON v.j <= i.b AND v.k >= i.b
      GROUP BY i.b, v.j
    ),
    iso AS (SELECT b, MAX(mn) AS iso_rate FROM t1 GROUP BY b)
    SELECT bk.b AS bucket, bk.n_docs, bk.n_tok, bk.n_stop,
           CAST(bk.n_stop AS DOUBLE) / bk.n_tok AS raw_rate,
           iso.iso_rate
    FROM buckets bk JOIN iso ON iso.b = bk.b
    """,
    doc="m11 (ext.): isotonic regression (pool-adjacent-violators) of "
    "stopword density vs document-length bucket, computed through the "
    "PAV minimax identity fit_i = max_{{j<=i}} min_{{k>=i}} "
    "mean(y[j..k]) — the monotone-calibration primitive a curation "
    "pipeline uses to turn a raw quality signal into a monotone "
    "keep-probability curve (MLlib's IsotonicRegression is the "
    "sequential counterpart; this closed form is exact, "
    "embarrassingly parallel, and oracle-checkable). Exactness: every "
    "interval mean is one IEEE quotient of exact BIGINT token sums; "
    "min/max scan identical doubles; nothing rounded. Scale shape: "
    "the corpus reduces map-side to one row per length bucket BEFORE "
    "any pairing, so the O(B^3) minimax fan-out is over the "
    "constant-size bucket table (B ~ 12), all three joins "
    "broadcastable. Reference analog: quality-band calibration in "
    "src/enhanced_spark_etl.py:216-225, done there with fixed CASE "
    "thresholds",
)
def m11_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llmdata.text import STOPWORDS, tokens

    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    docs = d.select(
        F.floor(F.col("n_chars") / M11_BUCKET_W).alias("b"),
        F.size(toks).alias("n_tok"),
        F.size(F.filter(toks, lambda w: w.isin(STOPWORDS))).alias("n_stop"),
    )
    buckets = docs.groupBy("b").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tok"),
        F.sum("n_stop").cast("bigint").alias("n_stop"),
    )
    j = buckets.select(F.col("b").alias("j"))
    k = buckets.select(F.col("b").alias("k"))
    m = buckets.select(
        F.col("b").alias("mb"),
        F.col("n_stop").alias("ms"),
        F.col("n_tok").alias("mt"),
    )
    intervals = (
        j.join(F.broadcast(k), F.col("j") <= F.col("k"))
        .join(
            F.broadcast(m),
            (F.col("mb") >= F.col("j")) & (F.col("mb") <= F.col("k")),
        )
        .groupBy("j", "k")
        .agg((F.sum("ms").cast("double") / F.sum("mt")).alias("m"))
    )
    i = buckets.select(F.col("b").alias("i"))
    t1 = (
        i.join(
            F.broadcast(intervals),
            (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")),
        )
        .groupBy("i", "j")
        .agg(F.min("m").alias("mn"))
    )
    iso = t1.groupBy("i").agg(F.max("mn").alias("iso_rate"))
    return buckets.join(
        F.broadcast(iso), buckets["b"] == iso["i"]
    ).select(
        F.col("b").alias("bucket"),
        "n_docs",
        "n_tok",
        "n_stop",
        (F.col("n_stop").cast("double") / F.col("n_tok")).alias("raw_rate"),
        "iso_rate",
    )


# --- M12 (ext.): classical additive decomposition ----------------------------

# The seasonal-index decomposition a demand-forecasting pipeline runs
# before model choice (reference analog: the seasonality probe next to
# the RF forecaster, src/enhanced_spark_etl.py:451-524 — the reference
# eyeballs hourly means; we compute the textbook trend/seasonal split).
# Exactness device: the hourly series is an exact DECIMAL sum, the
# centered 25-term moving-average trend is a DECIMAL window sum, and the
# detrended value is computed as 25*y - trend_sum — DECIMAL minus
# DECIMAL, so every intermediate is exact and order-independent; the
# only doubles are the two final quotients, identical IEEE expressions
# in both engines, rounded once.
_M12_HALF = 12  # centered MA half-width: 2*12+1 = 25 observed hours


def _hourly_series_sql() -> str:
    """Shared oracle CTE: exact-decimal hourly totals per event type."""
    return """
    hourly AS (
      SELECT event_type,
             CAST(FLOOR((CAST(FLOOR(epoch(ts)) AS BIGINT) - 1704067200)
                        / 3600.0) AS BIGINT) AS h,
             SUM(CAST(value AS DECIMAL(27,6))) AS hv
      FROM events GROUP BY 1, 2
    )"""


def _hourly_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-decimal hourly totals per event type (m12/m13/w23 share it).

    One map-combined hash aggregate collapses the fact table to at most
    (types x hours) rows — the pre-reduction that makes every downstream
    window/self-join run on a calendar-bounded series (8,760 rows/year
    per type) no matter how many raw events feed it."""
    ev = load_table(spark, sf_dir, "events")
    h = F.floor(
        (F.unix_timestamp("ts") - F.lit(1704067200)) / F.lit(3600.0)
    ).cast("long")
    return ev.groupBy("event_type", h.alias("h")).agg(
        F.sum(F.col("value").cast("decimal(27,6)")).alias("hv")
    )


@register(
    "m12_classical_decomposition",
    oracle=f"""
    WITH {_hourly_series_sql()},
    tr AS (
      SELECT event_type, h, hv,
             SUM(hv) OVER w AS tsum,
             COUNT(*) OVER w AS nf
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY h
                   ROWS BETWEEN {_M12_HALF} PRECEDING
                            AND {_M12_HALF} FOLLOWING)
    ),
    det AS (
      SELECT event_type, h % 24 AS hod,
             hv * {2 * _M12_HALF + 1} - tsum AS d, tsum
      FROM tr WHERE nf = {2 * _M12_HALF + 1}
    )
    SELECT event_type, hod,
           CAST(COUNT(*) AS BIGINT) AS n_obs,
           ROUND(CAST(SUM(d) AS DOUBLE)
                 / ({2 * _M12_HALF + 1}.0 * COUNT(*)), 6) AS seasonal_index,
           ROUND(CAST(SUM(tsum) AS DOUBLE)
                 / ({2 * _M12_HALF + 1}.0 * COUNT(*)), 6) AS trend_level
    FROM det GROUP BY 1, 2
    """,
    doc="M12 (ext.): classical additive decomposition of the hourly "
    "demand series per event type — trend via a centered 25-term "
    "observed-hour moving average (ROWS frame: gap-skipping, so sparse "
    "fixtures and dense production series share one definition), "
    "seasonal index per hour-of-day as the mean detrended value. "
    "Exact-decimal end-to-end (detrended = 25*y - trend_sum, DECIMAL "
    "arithmetic); the two output quotients are single IEEE expressions "
    "on identical doubles. Scale: one map-combined pre-agg bounds the "
    "series to calendar size; the window runs per type on that bounded "
    "series, never on raw events",
)
def m12_classical_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_terms = 2 * _M12_HALF + 1
    hourly = _hourly_series(spark, sf_dir)
    w = (
        W.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(-_M12_HALF, _M12_HALF)
    )
    tr = hourly.select(
        "event_type",
        "h",
        "hv",
        F.sum("hv").over(w).alias("tsum"),
        F.count("*").over(w).alias("nf"),
    ).filter(F.col("nf") == n_terms)
    det = tr.select(
        "event_type",
        (F.col("h") % 24).alias("hod"),
        (F.col("hv") * n_terms - F.col("tsum")).alias("d"),
        "tsum",
    )
    return det.groupBy("event_type", "hod").agg(
        F.count("*").cast("bigint").alias("n_obs"),
        F.round(
            F.sum("d").cast("double") / (float(n_terms) * F.count("*")), 6
        ).alias("seasonal_index"),
        F.round(
            F.sum("tsum").cast("double") / (float(n_terms) * F.count("*")), 6
        ).alias("trend_level"),
    )


# --- M13 (ext.): autocorrelation profile (ACF lags 1-3) -----------------------

_M13_LAGS = 3


@register(
    "m13_acf_profile",
    oracle=f"""
    WITH {_hourly_series_sql()},
    x AS (SELECT event_type, h, CAST(hv AS DOUBLE) AS v FROM hourly),
    pairs AS (
      SELECT a.event_type, l.lag, a.v AS xv, b.v AS yv
      FROM x a
      CROSS JOIN (SELECT CAST(unnest(generate_series(1, {_M13_LAGS}))
                          AS INT) AS lag) l
      JOIN x b ON b.event_type = a.event_type AND b.h = a.h + l.lag
    ),
    m AS (
      SELECT event_type, lag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             {sql_dsum('xv', 38)} AS sx,
             {sql_dsum('yv', 38)} AS sy,
             {sql_dsum('xv*xv', 38)} AS sxx,
             {sql_dsum('yv*yv', 38)} AS syy,
             {sql_dsum('xv*yv', 38)} AS sxy
      FROM pairs GROUP BY 1, 2
    )
    SELECT event_type, lag, CAST(n AS BIGINT) AS n_pairs,
           ROUND((n * sxy - sx * sy)
                 / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
             AS autocorr
    FROM m
    """,
    doc="M13 (ext.): the autocorrelation profile (lags 1-3 over observed "
    "hours) of the hourly demand series per event type — the ACF a "
    "forecaster checks before choosing AR terms, as a lagged self-join "
    "on the calendar-bounded hourly pre-agg plus one exact-decimal "
    "moment pass (a15/m06's determinism pattern: Pearson r from six "
    "DECIMAL moments, closed form on identical doubles). Scale: the "
    "self-join and moments run on (types x hours) rows, never raw "
    "events; the lag relation is a 3-row broadcast",
)
def m13_acf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    x = _hourly_series(spark, sf_dir).select(
        "event_type", "h", F.col("hv").cast("double").alias("v")
    )
    # lag fanout happens IN-ROW (explode of a 3-literal array) — no join
    # operator at all for the lag relation, the row count triples inside
    # the same stage
    lag_arr = F.array(*[F.lit(k) for k in range(1, _M13_LAGS + 1)])
    a = x.select(
        "event_type",
        F.explode(lag_arr).alias("lag"),
        "h",
        F.col("v").alias("xv"),
    ).select(
        "event_type",
        "lag",
        (F.col("h") + F.col("lag")).alias("hk"),
        "xv",
    )
    pairs = a.join(
        x.select("event_type", F.col("h").alias("hk"), F.col("v").alias("yv")),
        ["event_type", "hk"],
    )
    m = pairs.groupBy("event_type", "lag").agg(
        F.count("*").cast("double").alias("n"),
        dsum("xv", 38).alias("sx"),
        dsum("yv", 38).alias("sy"),
        dsum(F.col("xv") * F.col("xv"), 38).alias("sxx"),
        dsum(F.col("yv") * F.col("yv"), 38).alias("syy"),
        dsum(F.col("xv") * F.col("yv"), 38).alias("sxy"),
    )
    r = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select(
        "event_type",
        "lag",
        F.col("n").cast("bigint").alias("n_pairs"),
        F.round(r, 6).alias("autocorr"),
    )


# --- M14 (ext.): two-sample Kolmogorov-Smirnov drift test ----------------------


@register(
    "m14_ks_drift_test",
    oracle="""
    WITH vals AS (
      SELECT value AS v, COUNT(*) AS c_all FROM events GROUP BY 1
    ),
    tv AS (
      SELECT event_type, value AS v, COUNT(*) AS c_t
      FROM events GROUP BY 1, 2
    ),
    types AS (
      SELECT event_type, COUNT(*) AS n_t FROM events GROUP BY 1
    ),
    grid AS (
      SELECT t.event_type, t.n_t, va.v, va.c_all, COALESCE(tv.c_t, 0) AS c_t
      FROM types t CROSS JOIN vals va
      LEFT JOIN tv ON tv.event_type = t.event_type AND tv.v = va.v
    ),
    cum AS (
      SELECT event_type, n_t, v,
             SUM(c_t) OVER (PARTITION BY event_type ORDER BY v) AS ct,
             SUM(c_all) OVER (PARTITION BY event_type ORDER BY v) AS ca
      FROM grid
    )
    SELECT event_type,
           CAST(ANY_VALUE(n_t) AS BIGINT) AS n_type,
           CAST((SELECT SUM(c_all) FROM vals) AS BIGINT) AS n_all,
           ROUND(MAX(ABS(CAST(ct AS DOUBLE) / n_t
                         - CAST(ca AS DOUBLE)
                           / (SELECT SUM(c_all) FROM vals))), 6) AS ks_d,
           ROUND(MAX(ABS(CAST(ct AS DOUBLE) / n_t
                         - CAST(ca AS DOUBLE)
                           / (SELECT SUM(c_all) FROM vals)))
                 * SQRT(CAST(ANY_VALUE(n_t) AS DOUBLE)
                        * (SELECT SUM(c_all) FROM vals)
                        / (ANY_VALUE(n_t)
                           + (SELECT SUM(c_all) FROM vals))), 6)
             AS ks_scaled
    FROM cum GROUP BY event_type
    """,
    doc="M14 (ext.): two-sample Kolmogorov-Smirnov drift test — each "
    "event type's value distribution against the pooled corpus: "
    "D = max |F_t - F_all| over the merged support, plus the "
    "sqrt(n*m/(n+m))-scaled statistic. The distribution-level drift "
    "gate (complements w21's sequential CUSUM and v10's schema drift): "
    "a type whose D spikes changed shape, not just mean. Exactness: "
    "cumulative counts are integer window sums; the ECDFs are single "
    "IEEE quotients; max/abs of identical doubles. Scale: support "
    "collapses to DISTINCT values first (map-combined), the type x "
    "value grid fans a bounded 5-row broadcast over it, and each "
    "ECDF is one partitioned window — nothing global",
)
def m14_ks_drift_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    vals = ev.groupBy(F.col("value").alias("v")).agg(
        F.count("*").alias("c_all")
    )
    tv = ev.groupBy("event_type", F.col("value").alias("v")).agg(
        F.count("*").alias("c_t")
    )
    types = ev.groupBy("event_type").agg(F.count("*").alias("n_t"))
    n_all = ev.agg(F.count("*").alias("n_all"))
    grid = (
        vals.crossJoin(F.broadcast(types))
        .join(tv, ["event_type", "v"], "left")
        .select(
            "event_type",
            "n_t",
            "v",
            "c_all",
            F.coalesce(F.col("c_t"), F.lit(0)).alias("c_t"),
        )
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("v")
        .rangeBetween(W.unboundedPreceding, 0)
    )
    cum = grid.select(
        "event_type",
        "n_t",
        F.sum("c_t").over(w).alias("ct"),
        F.sum("c_all").over(w).alias("ca"),
    ).crossJoin(F.broadcast(n_all))
    diff = F.abs(
        F.col("ct").cast("double") / F.col("n_t")
        - F.col("ca").cast("double") / F.col("n_all")
    )
    agg = cum.groupBy("event_type").agg(
        F.any_value("n_t").cast("bigint").alias("n_type"),
        F.any_value("n_all").cast("bigint").alias("n_all"),
        F.max(diff).alias("d_raw"),
    )
    scale = F.sqrt(
        F.col("n_type").cast("double")
        * F.col("n_all")
        / (F.col("n_type") + F.col("n_all"))
    )
    return agg.select(
        "event_type",
        "n_type",
        "n_all",
        F.round("d_raw", 6).alias("ks_d"),
        F.round(F.col("d_raw") * scale, 6).alias("ks_scaled"),
    )


# --- M15 (ext.): Holt double-exponential smoothing ------------------------------

_M15_ALPHA = 0.5
_M15_BETA = 0.3


@register(
    "m15_holt_smoothing",
    # A sequential recurrence (level/trend pair) is still engine-exact:
    # both engines run the IDENTICAL left fold over the identical
    # h-ordered doubles (Spark F.aggregate ≙ DuckDB list_reduce, the
    # x45/x82 fold device extended to a PAIR accumulator carried as a
    # 2-element array), so level and trend come out bit-identical and
    # need no rounding at all.
    oracle=f"""
    WITH hourly AS (
      SELECT event_type,
             CAST(FLOOR((CAST(FLOOR(epoch(ts)) AS BIGINT) - 1704067200)
                        / 3600.0) AS BIGINT) AS h,
             SUM(CAST(value AS DECIMAL(27,6))) AS hv
      FROM events GROUP BY 1, 2
    ),
    ser AS (
      SELECT event_type, list(CAST(hv AS DOUBLE) ORDER BY h) AS xs
      FROM hourly GROUP BY 1
    ),
    fold AS (
      SELECT event_type, len(xs) AS n_hours,
             list_reduce(
               list_prepend([xs[1], xs[2] - xs[1]],
                            list_transform(xs[3:],
                                           e -> [e, CAST(0.0 AS DOUBLE)])),
               (acc, x) ->
                 [{_M15_ALPHA} * x[1]
                    + {1 - _M15_ALPHA} * (acc[1] + acc[2]),
                  {_M15_BETA} * (({_M15_ALPHA} * x[1]
                    + {1 - _M15_ALPHA} * (acc[1] + acc[2])) - acc[1])
                    + {1 - _M15_BETA} * acc[2]]) AS st
      FROM ser WHERE len(xs) >= 2
    )
    SELECT event_type, CAST(n_hours AS BIGINT) AS n_hours,
           st[1] AS level, st[2] AS trend,
           st[1] + st[2] AS forecast_next
    FROM fold
    """,
    doc=f"M15 (ext.): Holt double-exponential smoothing (alpha="
    f"{_M15_ALPHA}, beta={_M15_BETA}) of the hourly demand series per "
    "event type — final level/trend state and the one-step-ahead "
    "forecast. A sequential recurrence made engine-exact by running the "
    "identical left fold in both engines over identical doubles (pair "
    "accumulator as a 2-array; no rounding anywhere). Scale: the fold "
    "runs on the calendar-bounded per-type series (collect after the "
    "map-combined hourly pre-agg), the same shape a per-key "
    "applyInPandas forecaster takes — but with zero Python in the "
    "loop",
)
def m15_holt_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = _hourly_series(spark, sf_dir)
    ser = hourly.groupBy("event_type").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct("h", F.col("hv").cast("double").alias("v"))
                )
            ),
            lambda s: s["v"],
        ).alias("xs")
    ).filter(F.size("xs") >= 2)
    xs = F.col("xs")
    init = F.array(xs[0], xs[1] - xs[0])
    rest = F.slice(
        xs, 3, F.greatest(F.size(xs) - 2, F.lit(0))
    )
    a, b = _M15_ALPHA, _M15_BETA
    st = F.aggregate(
        rest,
        init,
        lambda acc, x: F.array(
            a * x + (1 - a) * (acc[0] + acc[1]),
            b * ((a * x + (1 - a) * (acc[0] + acc[1])) - acc[0])
            + (1 - b) * acc[1],
        ),
    )
    return ser.select(
        "event_type",
        F.size("xs").cast("bigint").alias("n_hours"),
        st[0].alias("level"),
        st[1].alias("trend"),
        (st[0] + st[1]).alias("forecast_next"),
    )


# --- M16 (ext.): seasonal-period detection via ACF argmax -----------------------

_M16_MAX_LAG = 24


@register(
    "m16_period_detection",
    # m13's ACF machinery widened to lags 1..24 and reduced to the
    # DETECTED PERIOD: the lag with the maximum autocorrelation (ties to
    # the smaller lag — both engines compare the identical doubles).
    # The automated "does this series have a daily cycle, and at what
    # period" probe a forecasting pipeline runs before m07/m12/m15.
    oracle=f"""
    WITH hourly AS (
      SELECT event_type,
             CAST(FLOOR((CAST(FLOOR(epoch(ts)) AS BIGINT) - 1704067200)
                        / 3600.0) AS BIGINT) AS h,
             SUM(CAST(value AS DECIMAL(27,6))) AS hv
      FROM events GROUP BY 1, 2
    ),
    x AS (SELECT event_type, h, CAST(hv AS DOUBLE) AS v FROM hourly),
    pairs AS (
      SELECT a.event_type, l.lag, a.v AS xv, b.v AS yv
      FROM x a
      CROSS JOIN (SELECT CAST(unnest(generate_series(1, {_M16_MAX_LAG}))
                          AS INT) AS lag) l
      JOIN x b ON b.event_type = a.event_type AND b.h = a.h + l.lag
    ),
    m AS (
      SELECT event_type, lag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             {sql_dsum('xv', 38)} AS sx,
             {sql_dsum('yv', 38)} AS sy,
             {sql_dsum('xv*xv', 38)} AS sxx,
             {sql_dsum('yv*yv', 38)} AS syy,
             {sql_dsum('xv*yv', 38)} AS sxy
      FROM pairs GROUP BY 1, 2
    ),
    acf AS (
      SELECT event_type, lag, CAST(n AS BIGINT) AS n_pairs,
             (n * sxy - sx * sy)
             / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r
      FROM m
    ),
    best AS (
      SELECT event_type, lag, n_pairs, r,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY r DESC, lag) AS rk
      FROM acf
    )
    SELECT event_type,
           CAST(lag AS INT) AS detected_period,
           n_pairs,
           ROUND(r, 6) AS acf_at_period,
           detected_period = 24 AS is_daily
    FROM best WHERE rk = 1
    """,
    doc=f"M16 (ext.): seasonal-period detection — the ACF over lags "
    f"1..{_M16_MAX_LAG} observed hours per event type, reduced to the "
    "argmax lag (the detected cycle length) with a daily-cycle flag: "
    "the automated seasonality probe that picks the period m07/m12/m15 "
    "then condition on. Same exact-decimal moment pass as m13 (six "
    "DECIMAL moments per (type, lag), closed-form Pearson r on "
    "identical doubles); the lag fanout is in-row and the argmax is "
    "one rank window over (types x 24) rows",
)
def m16_period_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    x = _hourly_series(spark, sf_dir).select(
        "event_type", "h", F.col("hv").cast("double").alias("v")
    )
    lag_arr = F.array(*[F.lit(k) for k in range(1, _M16_MAX_LAG + 1)])
    a = x.select(
        "event_type", F.explode(lag_arr).alias("lag"), "h", F.col("v").alias("xv")
    ).select(
        "event_type", "lag", (F.col("h") + F.col("lag")).alias("hk"), "xv"
    )
    pairs = a.join(
        x.select("event_type", F.col("h").alias("hk"), F.col("v").alias("yv")),
        ["event_type", "hk"],
    )
    m = pairs.groupBy("event_type", "lag").agg(
        F.count("*").cast("double").alias("n"),
        dsum("xv", 38).alias("sx"),
        dsum("yv", 38).alias("sy"),
        dsum(F.col("xv") * F.col("xv"), 38).alias("sxx"),
        dsum(F.col("yv") * F.col("yv"), 38).alias("syy"),
        dsum(F.col("xv") * F.col("yv"), 38).alias("sxy"),
    )
    r = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    acf = m.select(
        "event_type",
        "lag",
        F.col("n").cast("bigint").alias("n_pairs"),
        r.alias("r"),
    )
    wk = W.partitionBy("event_type").orderBy(F.desc("r"), F.asc("lag"))
    return (
        acf.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("lag").cast("int").alias("detected_period"),
            "n_pairs",
            F.round("r", 6).alias("acf_at_period"),
            (F.col("lag") == 24).alias("is_daily"),
        )
    )


# --- M17 (ext.): Holt-Winters triple exponential smoothing ----------------------

_M17_ALPHA = 0.3
_M17_BETA = 0.1
_M17_GAMMA = 0.2
_M17_PERIOD = 24


@register(
    "m17_holt_winters",
    # m15's pair-fold device extended to the FULL Holt-Winters additive
    # state: a 26-wide accumulator [level, trend, s1..s24] where the
    # seasonal queue rotates one slot per step (drop the consumed front,
    # append the re-estimated value). Both engines run the identical
    # left fold over the identical h-ordered doubles, so every output
    # is bit-exact with zero rounding. Init is the textbook two-season
    # start: L0 = mean(season 1), B0 = (mean(season 2) - L0)/24,
    # S_i = x_i - L0.
    oracle=f"""
    WITH {_hourly_series_sql().strip()},
    ser AS (
      SELECT event_type, list(CAST(hv AS DOUBLE) ORDER BY h) AS xs
      FROM hourly GROUP BY 1
    ),
    ini AS (
      SELECT event_type, xs, len(xs) AS n_hours,
             list_reduce(list_prepend(CAST(0 AS DOUBLE), xs[1:24]),
                         (a, b) -> a + b) / 24.0 AS m1,
             list_reduce(list_prepend(CAST(0 AS DOUBLE), xs[25:48]),
                         (a, b) -> a + b) / 24.0 AS m2
      FROM ser WHERE len(xs) >= 49
    ),
    fold AS (
      SELECT event_type, n_hours,
             list_reduce(
               list_prepend(
                 list_concat([m1, (m2 - m1) / 24.0],
                             list_transform(xs[1:24], v -> v - m1)),
                 list_transform(xs[49:], e -> [e])),
               (acc, x) ->
                 list_concat(list_concat(
                   [{_M17_ALPHA} * (x[1] - acc[3])
                      + {1 - _M17_ALPHA} * (acc[1] + acc[2]),
                    {_M17_BETA} * (({_M17_ALPHA} * (x[1] - acc[3])
                      + {1 - _M17_ALPHA} * (acc[1] + acc[2])) - acc[1])
                      + {1 - _M17_BETA} * acc[2]],
                   acc[4:26]),
                   [{_M17_GAMMA} * (x[1] - ({_M17_ALPHA} * (x[1] - acc[3])
                      + {1 - _M17_ALPHA} * (acc[1] + acc[2])))
                      + {1 - _M17_GAMMA} * acc[3]])) AS st
      FROM ini
    )
    SELECT event_type, CAST(n_hours AS BIGINT) AS n_hours,
           st[1] AS level, st[2] AS trend, st[3] AS s_next,
           st[1] + st[2] + st[3] AS forecast_next,
           list_max(st[3:26]) - list_min(st[3:26]) AS season_amplitude
    FROM fold
    """,
    doc=f"M17 (ext.): Holt-Winters additive triple smoothing (alpha="
    f"{_M17_ALPHA}, beta={_M17_BETA}, gamma={_M17_GAMMA}, period="
    f"{_M17_PERIOD}) of the hourly demand series per event type — "
    "final level/trend/seasonal state, the one-step forecast, and the "
    "seasonal amplitude. The go-to operational forecaster for series "
    "with a daily cycle (m16 DETECTS the period; m17 exploits it). "
    "Engine-exact via the m15 fold device widened to a 26-element "
    "rotating accumulator. Scale: fold runs on the calendar-bounded "
    "per-type series after ONE map-combined hourly pre-agg; state is "
    "O(period) per key regardless of corpus size",
)
def m17_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = _hourly_series(spark, sf_dir)
    ser = (
        hourly.groupBy("event_type")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("h", F.col("hv").cast("double").alias("v"))
                    )
                ),
                lambda s: s["v"],
            ).alias("xs")
        )
        .filter(F.size("xs") >= 2 * _M17_PERIOD + 1)
    )
    xs = F.col("xs")
    m = _M17_PERIOD
    sum1 = F.aggregate(
        F.slice(xs, 1, m), F.lit(0.0), lambda a, b: a + b
    )
    sum2 = F.aggregate(
        F.slice(xs, m + 1, m), F.lit(0.0), lambda a, b: a + b
    )
    ini = ser.select(
        "event_type",
        "xs",
        F.size("xs").cast("bigint").alias("n_hours"),
        (sum1 / float(m)).alias("m1"),
        (sum2 / float(m)).alias("m2"),
    )
    a, b, g = _M17_ALPHA, _M17_BETA, _M17_GAMMA
    acc0 = F.concat(
        F.array(
            F.col("m1"), (F.col("m2") - F.col("m1")) / float(m)
        ),
        F.transform(F.slice(xs, 1, m), lambda v: v - F.col("m1")),
    )
    rest = F.slice(
        xs, 2 * m + 1, F.greatest(F.size(xs) - 2 * m, F.lit(0))
    )

    def step(acc, x):
        lnew = a * (x - acc[2]) + (1 - a) * (acc[0] + acc[1])
        bnew = b * (lnew - acc[0]) + (1 - b) * acc[1]
        snew = g * (x - lnew) + (1 - g) * acc[2]
        return F.concat(
            F.array(lnew, bnew), F.slice(acc, 4, m - 1), F.array(snew)
        )

    st = F.aggregate(rest, acc0, step)
    seas = F.slice(st, 3, m)
    return ini.select(
        "event_type",
        "n_hours",
        st[0].alias("level"),
        st[1].alias("trend"),
        st[2].alias("s_next"),
        (st[0] + st[1] + st[2]).alias("forecast_next"),
        (F.array_max(seas) - F.array_min(seas)).alias("season_amplitude"),
    )


# --- M18 (ext.): two-proportion z-test (deterministic A/B) -----------------------

_M18_CUT = 50.0


@register(
    "m18_ab_proportion_test",
    # A deterministic md5-parity split assigns every user to arm A or B
    # (reproducible, balanced in expectation); "conversion" is
    # value > cut. The two-proportion pooled z statistic per event type
    # is pure closed-form IEEE arithmetic on exact integer counts — the
    # experiment-analysis primitive (and the null calibration check:
    # a random split should yield |z| mostly under 2).
    oracle=f"""
    WITH armed AS (
      SELECT event_type,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)
                  AS BIGINT) % 2 AS arm,
             CASE WHEN value > {_M18_CUT} THEN 1 ELSE 0 END AS conv
      FROM events
    ),
    agg AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT)
               AS conv_a,
             CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT)
               AS conv_b
      FROM armed GROUP BY event_type
    )
    SELECT event_type, n_a, n_b, conv_a, conv_b,
           CAST(conv_a AS DOUBLE) / n_a AS p_a,
           CAST(conv_b AS DOUBLE) / n_b AS p_b,
           (CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
             / SQRT((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                    * (1 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                    * (1.0 / n_a + 1.0 / n_b)) AS z
    FROM agg
    """,
    doc=f"M18 (ext.): two-proportion z-test over a deterministic "
    "md5-parity A/B split (conversion = value > "
    f"{_M18_CUT}) — the pooled z statistic per event type, computed "
    "closed-form from ONE map-combined conditional aggregate. The "
    "experimentation primitive the reference's dashboards lack, plus "
    "a null-calibration property (random split ⇒ |z| ~ N(0,1)). "
    "Exactness: integer counts, single IEEE expression per statistic; "
    "md5 arm draws are engine-identical",
)
def m18_ab_proportion_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    arm = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 2
    )
    conv = F.when(F.col("value") > _M18_CUT, 1).otherwise(0)
    agg = (
        ev.select("event_type", arm.alias("arm"), conv.alias("conv"))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_a"),
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_b"),
            F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
            .cast("bigint")
            .alias("conv_a"),
            F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
            .cast("bigint")
            .alias("conv_b"),
        )
    )
    p_a = F.col("conv_a").cast("double") / F.col("n_a")
    p_b = F.col("conv_b").cast("double") / F.col("n_b")
    pool = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    return agg.select(
        "event_type",
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        p_a.alias("p_a"),
        p_b.alias("p_b"),
        (
            (p_a - p_b)
            / F.sqrt(
                pool
                * (1 - pool)
                * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
            )
        ).alias("z"),
    )


# --- M19 (ext.): single change-point detection (binary segmentation step) -------


@register(
    "m19_changepoint_detection",
    # Least-squares single change-point: the split t minimizing
    # SSE(1..t) + SSE(t+1..n) over the hourly series, computed from
    # PREFIX moments — cumulative decimal sums are exact at every
    # prefix in both engines, so every candidate cost is identical
    # IEEE arithmetic and the argmin (ties to the earlier split) is
    # engine-exact with no rounding.
    oracle=f"""
    WITH {_hourly_series_sql().strip()},
    ser AS (
      SELECT event_type, h, CAST(hv AS DOUBLE) AS x,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS t,
             CAST(SUM(CAST(hv AS DECIMAL(27,6)))
                  OVER (PARTITION BY event_type ORDER BY h) AS DOUBLE) AS s1,
             CAST(SUM(CAST(CAST(hv AS DOUBLE) * CAST(hv AS DOUBLE)
                           AS DECIMAL(27,6)))
                  OVER (PARTITION BY event_type ORDER BY h) AS DOUBLE) AS s2,
             COUNT(*) OVER (PARTITION BY event_type) AS n,
             CAST(SUM(CAST(hv AS DECIMAL(27,6)))
                  OVER (PARTITION BY event_type) AS DOUBLE) AS s1t,
             CAST(SUM(CAST(CAST(hv AS DOUBLE) * CAST(hv AS DOUBLE)
                           AS DECIMAL(27,6)))
                  OVER (PARTITION BY event_type) AS DOUBLE) AS s2t
      FROM hourly
    ),
    cost AS (
      SELECT event_type, h, t, n, s1, s1t, s2t,
             (s2 - s1 * s1 / t)
               + ((s2t - s2) - (s1t - s1) * (s1t - s1) / (n - t)) AS c
      FROM ser WHERE t < n
    ),
    best AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY c, t) AS rk
      FROM cost
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_hours,
           CAST(t AS BIGINT) AS split_t,
           CAST(h AS BIGINT) AS split_hour,
           (s2t - s1t * s1t / n) - c AS gain,
           s1 / t AS mean_left,
           (s1t - s1) / (n - t) AS mean_right
    FROM best WHERE rk = 1
    """,
    doc="M19 (ext.): least-squares change-point detection — the single "
    "split of each event type's hourly series that maximally reduces "
    "within-segment variance (one step of binary segmentation), with "
    "the variance gain and the segment means. Localizes WHEN the "
    "drift m14/w21 merely flag happened. Scale: candidate costs come "
    "from prefix-moment windows over the calendar-bounded hourly "
    "pre-agg (partitioned by type, never the raw fact table); the "
    "argmin is a rank window over the same partitioning — Catalyst "
    "reuses one exchange. Exactness: prefix decimal sums are exact at "
    "every t; costs and means are single IEEE expressions; ties break "
    "to the earlier split in both engines",
)
def m19_changepoint_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return changepoint_from_hourly(_hourly_series(spark, sf_dir))


def changepoint_from_hourly(hourly: DataFrame) -> DataFrame:
    """m19's split search over any (event_type, h, hv) hourly table —
    shared with t26's incrementally-maintained state twin."""
    from pyspark.sql import Window as W

    x = F.col("hv").cast("double")
    wp = W.partitionBy("event_type").orderBy("h")
    wa = W.partitionBy("event_type")
    ser = hourly.select(
        "event_type",
        "h",
        F.row_number().over(wp).alias("t"),
        F.sum(F.col("hv").cast("decimal(27,6)"))
        .over(wp)
        .cast("double")
        .alias("s1"),
        F.sum((x * x).cast("decimal(27,6)"))
        .over(wp)
        .cast("double")
        .alias("s2"),
        F.count("*").over(wa).alias("n"),
        F.sum(F.col("hv").cast("decimal(27,6)"))
        .over(wa)
        .cast("double")
        .alias("s1t"),
        F.sum((x * x).cast("decimal(27,6)"))
        .over(wa)
        .cast("double")
        .alias("s2t"),
    )
    s1, s2, t, n = F.col("s1"), F.col("s2"), F.col("t"), F.col("n")
    s1t, s2t = F.col("s1t"), F.col("s2t")
    cost = ser.filter(t < n).withColumn(
        "c",
        (s2 - s1 * s1 / t)
        + ((s2t - s2) - (s1t - s1) * (s1t - s1) / (n - t)),
    )
    rk = F.row_number().over(
        W.partitionBy("event_type").orderBy("c", "t")
    )
    return (
        cost.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            n.cast("bigint").alias("n_hours"),
            t.cast("bigint").alias("split_t"),
            F.col("h").cast("bigint").alias("split_hour"),
            ((s2t - s1t * s1t / n) - F.col("c")).alias("gain"),
            (s1 / t).alias("mean_left"),
            ((s1t - s1) / (n - t)).alias("mean_right"),
        )
    )


# --- M20 (ext.): segmented trend around the detected change-point ----------------


@register(
    "m20_segmented_trend",
    # m19's least-squares split feeds two per-segment OLS fits (the m06
    # decimal-moment device, x = within-segment hour index t): slope and
    # intercept on each side of the break plus the level shift across
    # it. The composition a drift postmortem actually reads: WHEN it
    # broke (m19), and what the trend was before vs after (m20).
    oracle=f"""
    WITH {_hourly_series_sql().strip()},
    ser AS (
      SELECT event_type, h, CAST(hv AS DOUBLE) AS x,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS t,
             CAST(SUM(CAST(hv AS DECIMAL(27,6)))
                  OVER (PARTITION BY event_type ORDER BY h) AS DOUBLE) AS s1,
             CAST(SUM(CAST(CAST(hv AS DOUBLE) * CAST(hv AS DOUBLE)
                           AS DECIMAL(27,6)))
                  OVER (PARTITION BY event_type ORDER BY h) AS DOUBLE) AS s2,
             COUNT(*) OVER (PARTITION BY event_type) AS n,
             CAST(SUM(CAST(hv AS DECIMAL(27,6)))
                  OVER (PARTITION BY event_type) AS DOUBLE) AS s1t,
             CAST(SUM(CAST(CAST(hv AS DOUBLE) * CAST(hv AS DOUBLE)
                           AS DECIMAL(27,6)))
                  OVER (PARTITION BY event_type) AS DOUBLE) AS s2t
      FROM hourly
    ),
    best AS (
      SELECT event_type, t AS split_t,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY
               (s2 - s1 * s1 / t)
                 + ((s2t - s2) - (s1t - s1) * (s1t - s1) / (n - t)), t)
               AS rk
      FROM ser WHERE t < n
    ),
    seg AS (
      SELECT s.event_type,
             b.split_t,
             (s.t <= b.split_t) AS is_left,
             CAST(s.t AS DOUBLE) AS tx,
             s.x
      FROM ser s JOIN best b
        ON b.event_type = s.event_type AND b.rk = 1
    ),
    fits AS (
      SELECT event_type, split_t, is_left,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(tx AS DECIMAL(38,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(tx*tx AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(tx*x AS DECIMAL(38,6))) AS DOUBLE) AS sxy
      FROM seg GROUP BY event_type, split_t, is_left
    ),
    sides AS (
      SELECT event_type, split_t,
             MAX(CASE WHEN is_left AND n*sxx - sx*sx <> 0 THEN
               (n*sxy - sx*sy) / (n*sxx - sx*sx) END) AS slope_left,
             MAX(CASE WHEN is_left AND n*sxx - sx*sx <> 0 THEN
               (sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n END)
               AS intercept_left,
             MAX(CASE WHEN NOT is_left AND n*sxx - sx*sx <> 0 THEN
               (n*sxy - sx*sy) / (n*sxx - sx*sx) END) AS slope_right,
             MAX(CASE WHEN NOT is_left AND n*sxx - sx*sx <> 0 THEN
               (sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n END)
               AS intercept_right
      FROM fits GROUP BY event_type, split_t
    )
    SELECT event_type, CAST(split_t AS BIGINT) AS split_t,
           ROUND(slope_left, 6) AS slope_left,
           ROUND(intercept_left, 6) AS intercept_left,
           ROUND(slope_right, 6) AS slope_right,
           ROUND(intercept_right, 6) AS intercept_right,
           ROUND((intercept_right + slope_right * (split_t + 1))
                 - (intercept_left + slope_left * (split_t + 1)), 6)
             AS level_shift_at_break
    FROM sides
    """,
    doc="M20 (ext.): segmented trend — per event type, OLS slope and "
    "intercept on each side of m19's least-squares change-point, plus "
    "the level shift across the break (both lines evaluated at the "
    "first post-break hour). The drift postmortem companion: m19 says "
    "WHEN, m20 says what changed (slope regime vs level step). Scale: "
    "the split reuses m19's prefix-moment windows over the "
    "calendar-bounded hourly pre-agg; the two fits are ONE grouped "
    "decimal-moment aggregate keyed (type, side). Exactness: m06's "
    "decimal-moment OLS device per segment; 6-dp rounding only on "
    "final irrational-valued outputs",
)
def m20_segmented_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..functions.numeric import dsum

    hourly = _hourly_series(spark, sf_dir)
    x = F.col("hv").cast("double")
    wp = W.partitionBy("event_type").orderBy("h")
    wa = W.partitionBy("event_type")
    ser = hourly.select(
        "event_type",
        F.row_number().over(wp).alias("t"),
        x.alias("x"),
        F.sum(F.col("hv").cast("decimal(27,6)"))
        .over(wp)
        .cast("double")
        .alias("s1"),
        F.sum((x * x).cast("decimal(27,6)"))
        .over(wp)
        .cast("double")
        .alias("s2"),
        F.count("*").over(wa).alias("n"),
        F.sum(F.col("hv").cast("decimal(27,6)"))
        .over(wa)
        .cast("double")
        .alias("s1t"),
        F.sum((x * x).cast("decimal(27,6)"))
        .over(wa)
        .cast("double")
        .alias("s2t"),
    )
    s1, s2, t, n = F.col("s1"), F.col("s2"), F.col("t"), F.col("n")
    s1t, s2t = F.col("s1t"), F.col("s2t")
    cost = (s2 - s1 * s1 / t) + (
        (s2t - s2) - (s1t - s1) * (s1t - s1) / (n - t)
    )
    best = (
        ser.filter(t < n)
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("event_type").orderBy(cost, t)
            ),
        )
        .filter(F.col("rk") == 1)
        .select("event_type", t.alias("split_t"))
    )
    seg = ser.join(F.broadcast(best), "event_type").select(
        "event_type",
        "split_t",
        (t <= F.col("split_t")).alias("is_left"),
        t.cast("double").alias("tx"),
        "x",
    )
    fits = seg.groupBy("event_type", "split_t", "is_left").agg(
        F.count("*").cast("double").alias("n"),
        dsum("tx", 38).alias("sx"),
        dsum("x", 38).alias("sy"),
        dsum(F.col("tx") * F.col("tx"), 38).alias("sxx"),
        dsum(F.col("tx") * F.col("x"), 38).alias("sxy"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = F.when(
        den != 0,
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / den,
    )
    intercept = F.when(
        den != 0, (F.col("sy") - slope * F.col("sx")) / F.col("n")
    )
    sides = fits.groupBy("event_type", "split_t").agg(
        F.max(F.when(F.col("is_left"), slope)).alias("sl"),
        F.max(F.when(F.col("is_left"), intercept)).alias("il"),
        F.max(F.when(~F.col("is_left"), slope)).alias("sr"),
        F.max(F.when(~F.col("is_left"), intercept)).alias("ir"),
    )
    return sides.select(
        "event_type",
        F.col("split_t").cast("bigint").alias("split_t"),
        F.round("sl", 6).alias("slope_left"),
        F.round("il", 6).alias("intercept_left"),
        F.round("sr", 6).alias("slope_right"),
        F.round("ir", 6).alias("intercept_right"),
        F.round(
            (F.col("ir") + F.col("sr") * (F.col("split_t") + 1))
            - (F.col("il") + F.col("sl") * (F.col("split_t") + 1)),
            6,
        ).alias("level_shift_at_break"),
    )


# --- M21 (ext.): partial autocorrelation via Durbin-Levinson fold ----------------

_M21_K = 6


def _m21_oracle() -> str:
    # Durbin-Levinson as a single list_reduce: state (1-based) =
    # [k, v, phi_1..phi_k, pacf_1..pacf_k]. The reflection coefficient
    # a = (r_{k+1} - sum_j phi_j r_{k+1-j}) / v has no let-binding in
    # lambda SQL, so the dot product is inlined wherever `a` appears —
    # textual duplication, identical IEEE ops.
    K = _M21_K
    dot = (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        "list_transform(range(1, CAST(acc[1] AS INT) + 1), "
        "j -> acc[2 + j] * rho[CAST(acc[1] AS INT) + 1 - j])), "
        "(p, q) -> p + q)"
    )
    a = f"((x[1] - {dot}) / acc[2])"
    step = (
        "list_concat(list_concat(list_concat(list_concat("
        f"[acc[1] + 1, acc[2] * (1 - {a} * {a})], "
        "list_transform(range(1, CAST(acc[1] AS INT) + 1), "
        f"j -> acc[2 + j] - {a} "
        "* acc[2 + CAST(acc[1] AS INT) + 1 - j])), "
        f"[{a}]), "
        "acc[CAST(acc[1] AS INT) + 3 : 2 + 2 * CAST(acc[1] AS INT)]), "
        f"[{a}])"
    )
    return f"""
    WITH {_hourly_series_sql().strip()},
    x AS (SELECT event_type, h, CAST(hv AS DOUBLE) AS v FROM hourly),
    base AS (
      SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
             {sql_dsum('v', 38)} AS s1, {sql_dsum('v*v', 38)} AS s2
      FROM x GROUP BY event_type
    ),
    pairs AS (
      SELECT a.event_type, l.lag, a.v AS xv, b.v AS yv
      FROM x a
      CROSS JOIN (SELECT CAST(unnest(generate_series(1, {K}))
                          AS INT) AS lag) l
      JOIN x b ON b.event_type = a.event_type AND b.h = a.h + l.lag
    ),
    lm AS (
      SELECT event_type, lag, CAST(COUNT(*) AS DOUBLE) AS nk,
             {sql_dsum('xv', 38)} AS sx, {sql_dsum('yv', 38)} AS sy,
             {sql_dsum('xv*yv', 38)} AS sxy
      FROM pairs GROUP BY 1, 2
    ),
    rk AS (
      SELECT lm.event_type, lm.lag,
             (lm.sxy - (b.s1 / b.n) * (lm.sx + lm.sy)
                + lm.nk * (b.s1 / b.n) * (b.s1 / b.n))
               / (b.s2 - b.n * (b.s1 / b.n) * (b.s1 / b.n)) AS r
      FROM lm JOIN base b ON b.event_type = lm.event_type
    ),
    ser AS (
      SELECT event_type, list(r ORDER BY lag) AS rho
      FROM rk GROUP BY event_type HAVING COUNT(*) = {K}
    ),
    fold AS (
      SELECT event_type, rho,
             list_reduce(
               list_prepend([CAST(1 AS DOUBLE), 1 - rho[1] * rho[1],
                             rho[1], rho[1]],
                            list_transform(rho[2:{K}], e -> [e])),
               (acc, x) -> {step}) AS st
      FROM ser
    )
    SELECT event_type, CAST(g.lag AS BIGINT) AS lag,
           ROUND(st[{K} + 2 + g.lag], 6) AS pacf
    FROM fold, range(1, {K} + 1) AS g(lag)
    """


@register(
    "m21_pacf_profile",
    oracle=_m21_oracle(),
    doc=f"M21 (ext.): partial autocorrelation (lags 1-{_M21_K}) of the "
    "hourly demand per event type via the Durbin-Levinson recursion "
    "run as a SINGLE fold — state [k, v, phi_1..k, pacf_1..k] updates "
    "with the reflection coefficient each step, identically in both "
    "engines (nested lambdas, zero rounding until the final 6-dp "
    "emit). m13's ACF says which lags correlate; the PACF says which "
    "lags matter DIRECTLY — the AR-order picker. Scale: the ACF "
    "inputs come from the m13 lagged-join decimal moments over the "
    "calendar-bounded hourly grid; the recursion is O(K^2) per type "
    "on the driver-free fold path",
)
def m21_pacf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.numeric import dsum

    K = _M21_K
    x = _hourly_series(spark, sf_dir).select(
        "event_type", "h", F.col("hv").cast("double").alias("v")
    )
    base = x.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n"),
        dsum("v", 38).alias("s1"),
        dsum(F.col("v") * F.col("v"), 38).alias("s2"),
    )
    lag_arr = F.array(*[F.lit(k) for k in range(1, K + 1)])
    a_side = x.select(
        "event_type",
        F.explode(lag_arr).alias("lag"),
        (F.col("h") + F.col("lag")).alias("hk"),
        F.col("v").alias("xv"),
    )
    pairs = a_side.join(
        x.select(
            "event_type", F.col("h").alias("hk"), F.col("v").alias("yv")
        ),
        ["event_type", "hk"],
    )
    lm = pairs.groupBy("event_type", "lag").agg(
        F.count("*").cast("double").alias("nk"),
        dsum("xv", 38).alias("sx"),
        dsum("yv", 38).alias("sy"),
        dsum(F.col("xv") * F.col("yv"), 38).alias("sxy"),
    )
    mu = F.col("s1") / F.col("n")
    rk = lm.join(F.broadcast(base), "event_type").select(
        "event_type",
        "lag",
        (
            (F.col("sxy") - mu * (F.col("sx") + F.col("sy"))
             + F.col("nk") * mu * mu)
            / (F.col("s2") - F.col("n") * mu * mu)
        ).alias("r"),
    )
    ser = (
        rk.groupBy("event_type")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("lag", "r"))),
                lambda s: s["r"],
            ).alias("rho")
        )
        .filter(F.size("rho") == K)
    )
    rho = F.col("rho")

    def step(acc, r):
        kk = F.element_at(acc, 1).cast("int")
        v = F.element_at(acc, 2)
        dot = F.aggregate(
            F.sequence(F.lit(1), kk),
            F.lit(0.0),
            lambda s, j: s
            + F.element_at(acc, j + 2) * F.element_at(rho, kk + 1 - j),
        )
        a = (r - dot) / v
        newphi = F.transform(
            F.sequence(F.lit(1), kk),
            lambda j: F.element_at(acc, j + 2)
            - a * F.element_at(acc, kk + 1 - j + 2),
        )
        pacf_prev = F.slice(acc, kk + 3, kk)
        return F.concat(
            F.array(
                (kk + 1).cast("double"), v * (1 - a * a)
            ),
            newphi,
            F.array(a),
            pacf_prev,
            F.array(a),
        )

    r1 = F.element_at(rho, 1)
    acc0 = F.array(F.lit(1.0), 1 - r1 * r1, r1, r1)
    st = F.aggregate(F.slice(rho, 2, K - 1), acc0, step)
    fold = ser.select("event_type", st.alias("st"))
    out = fold.select(
        "event_type",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.lit(K)),
                lambda i: F.struct(
                    i.cast("bigint").alias("lag"),
                    F.round(
                        F.element_at(F.col("st"), i + K + 2), 6
                    ).alias("pacf"),
                ),
            )
        ).alias("g"),
    )
    return out.select("event_type", "g.lag", "g.pacf")


# --- M22 (ext.): one-step forecast backtest --------------------------------------

_M22_HOLDOUT = 48  # evaluate on each type's last 48 observed hours


@register(
    "m22_forecast_backtest",
    # Rolling one-step backtest of the three closed-form baselines every
    # forecast must beat: naive (x_{t-1}), seasonal-naive (x_{t-24}),
    # and drift (x_{t-1} + average historical step). Errors come from
    # lag windows over the hourly grid; MAE/RMSE are decimal-moment
    # exact. The evaluation harness that gives m15/m17/w23 their
    # baseline bars.
    oracle=f"""
    WITH {_hourly_series_sql().strip()},
    ser AS (
      SELECT event_type, h, CAST(hv AS DOUBLE) AS x,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS t,
             COUNT(*) OVER (PARTITION BY event_type) AS n,
             LAG(CAST(hv AS DOUBLE), 1) OVER
               (PARTITION BY event_type ORDER BY h) AS x1,
             LAG(CAST(hv AS DOUBLE), 24) OVER
               (PARTITION BY event_type ORDER BY h) AS x24,
             FIRST_VALUE(CAST(hv AS DOUBLE)) OVER
               (PARTITION BY event_type ORDER BY h) AS x0
      FROM hourly
    ),
    holdout AS (
      SELECT * FROM ser
      WHERE t > n - {_M22_HOLDOUT} AND x24 IS NOT NULL AND t >= 3
    ),
    preds AS (
      SELECT event_type, 'naive' AS model, x, x1 AS yhat FROM holdout
      UNION ALL
      SELECT event_type, 'seasonal_naive', x, x24 FROM holdout
      UNION ALL
      SELECT event_type, 'drift', x,
             x1 + (x1 - x0) / (t - 2) FROM holdout
    ),
    ordls AS (
      SELECT event_type, model,
             list(ABS(x - yhat) ORDER BY x, yhat) AS ae,
             list((x - yhat) * (x - yhat) ORDER BY x, yhat) AS se
      FROM preds GROUP BY event_type, model
    )
    SELECT event_type, model,
           CAST(len(ae) AS BIGINT) AS n_evals,
           list_reduce(list_prepend(CAST(0 AS DOUBLE), ae),
                       (a, b) -> a + b) / len(ae) AS mae,
           SQRT(list_reduce(list_prepend(CAST(0 AS DOUBLE), se),
                            (a, b) -> a + b) / len(se)) AS rmse
    FROM ordls
    """,
    doc=f"M22 (ext.): one-step forecast backtest — MAE/RMSE of the "
    "naive, seasonal-naive and drift baselines over each event type's "
    f"last {_M22_HOLDOUT} observed hours. The honest evaluation every "
    "forecasting claim needs (m15/m17 fit smoothers; m22 measures "
    "whether they beat x_(t-1) at all). Scale: lag windows over the "
    "calendar-bounded hourly grid (one exchange per type partition), "
    "a 3-model in-plan union, and one map-combined error aggregate. "
    "Exactness: forecasts are identical IEEE expressions on exact "
    "hourly doubles; error moments are decimal sums",
)
def m22_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    hourly = _hourly_series(spark, sf_dir)
    wp = W.partitionBy("event_type").orderBy("h")
    wa = W.partitionBy("event_type")
    x = F.col("hv").cast("double")
    ser = hourly.select(
        "event_type",
        "h",
        x.alias("x"),
        F.row_number().over(wp).alias("t"),
        F.count("*").over(wa).alias("n"),
        F.lag(x, 1).over(wp).alias("x1"),
        F.lag(x, 24).over(wp).alias("x24"),
        F.first(x).over(wp).alias("x0"),
    )
    holdout = ser.filter(
        (F.col("t") > F.col("n") - _M22_HOLDOUT)
        & F.col("x24").isNotNull()
        & (F.col("t") >= 3)
    )
    preds = (
        holdout.select(
            "event_type",
            F.lit("naive").alias("model"),
            "x",
            F.col("x1").alias("yhat"),
        )
        .unionByName(
            holdout.select(
                "event_type",
                F.lit("seasonal_naive").alias("model"),
                "x",
                F.col("x24").alias("yhat"),
            )
        )
        .unionByName(
            holdout.select(
                "event_type",
                F.lit("drift").alias("model"),
                "x",
                (
                    F.col("x1")
                    + (F.col("x1") - F.col("x0")) / (F.col("t") - 2)
                ).alias("yhat"),
            )
        )
    )
    # 48 bounded terms per group: sum them as a PINNED-ORDER fold (sort
    # by (x, yhat) — drift errors can sit exactly on 6-dp midpoints, so
    # the decimal-rounding device is unsafe here; the fold needs none)
    e = F.col("x") - F.col("yhat")
    ordered = preds.groupBy("event_type", "model").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("x", "yhat", F.abs(e).alias("v")))
            ),
            lambda s: s["v"],
        ).alias("ae"),
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("x", "yhat", (e * e).alias("v")))
            ),
            lambda s: s["v"],
        ).alias("se"),
    )
    fsum = lambda col: F.aggregate(col, F.lit(0.0), lambda a, b: a + b)
    return ordered.select(
        "event_type",
        "model",
        F.size("ae").cast("bigint").alias("n_evals"),
        (fsum(F.col("ae")) / F.size("ae")).alias("mae"),
        F.sqrt(fsum(F.col("se")) / F.size("se")).alias("rmse"),
    )


# --- M23 (ext.): trend prediction bands --------------------------------------------

_M23_Z = 1.96
_M23_H = 24  # forecast horizon: 24 hours past the last observation


@register(
    "m23_trend_prediction_bands",
    # Closed-form OLS prediction interval at x* = (last hour + horizon):
    # yhat = a + b x*, se^2 = s2 (1 + 1/n + (x* - xbar)^2 / Sxx_c),
    # where s2 is the residual variance — all derivable from the same
    # five decimal moments m06 uses (residual SS via the algebraic
    # identity Syy_c - b^2 Sxx_c, no second pass over the data).
    oracle=f"""
    WITH {_hourly_series_sql().strip()},
    t AS (
      SELECT event_type,
             CAST(h AS DOUBLE) AS x, CAST(hv AS DOUBLE) AS y,
             MAX(h) OVER (PARTITION BY event_type) AS hmax
      FROM hourly
    ),
    m AS (
      SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
             {sql_dsum('x', 38)} AS sx, {sql_dsum('y', 38)} AS sy,
             {sql_dsum('x*x', 38)} AS sxx, {sql_dsum('y*y', 38)} AS syy,
             {sql_dsum('x*y', 38)} AS sxy,
             CAST(MAX(hmax) AS DOUBLE) AS hmax
      FROM t GROUP BY event_type
    ),
    f AS (
      SELECT event_type, n, hmax + {_M23_H} AS xstar,
             (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b,
             (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS a,
             (sxx - sx * sx / n) AS sxxc,
             (syy - sy * sy / n)
               - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
                 * ((n * sxy - sx * sy) / (n * sxx - sx * sx))
                 * (sxx - sx * sx / n) AS rss,
             sx / n AS xbar
      FROM m WHERE n > 2
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_hours,
           CAST(xstar AS BIGINT) AS forecast_hour,
           ROUND(a + b * xstar, 6) AS yhat,
           ROUND(a + b * xstar - {_M23_Z}
                 * SQRT((rss / (n - 2))
                        * (1 + 1 / n
                           + (xstar - xbar) * (xstar - xbar) / sxxc)),
                 6) AS lo95,
           ROUND(a + b * xstar + {_M23_Z}
                 * SQRT((rss / (n - 2))
                        * (1 + 1 / n
                           + (xstar - xbar) * (xstar - xbar) / sxxc)),
                 6) AS hi95
    FROM f
    """,
    doc=f"M23 (ext.): OLS trend forecast with a 95% prediction interval "
    f"{_M23_H} hours past the last observation — the closed-form "
    "uncertainty band m06's point trend lacks (the difference between "
    "'demand will be X' and 'between lo and hi'). Everything derives "
    "from the SAME five decimal moments (residual SS via "
    "Syy_c - b^2 Sxx_c — no second residual pass over the data). "
    "Scale: one map-combined moment aggregate over the hourly "
    "pre-agg. Exactness: decimal moments, single IEEE expressions, "
    "6-dp rounding only on the final irrational-valued outputs",
)
def m23_trend_prediction_bands(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window as W

    from ..functions.numeric import dsum

    hourly = _hourly_series(spark, sf_dir)
    t = hourly.select(
        "event_type",
        F.col("h").cast("double").alias("x"),
        F.col("hv").cast("double").alias("y"),
        F.max("h").over(W.partitionBy("event_type")).alias("hmax"),
    )
    m = t.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n"),
        dsum("x", 38).alias("sx"),
        dsum("y", 38).alias("sy"),
        dsum(F.col("x") * F.col("x"), 38).alias("sxx"),
        dsum(F.col("y") * F.col("y"), 38).alias("syy"),
        dsum(F.col("x") * F.col("y"), 38).alias("sxy"),
        F.max("hmax").cast("double").alias("hmax"),
    ).filter(F.col("n") > 2)
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    b = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    a = (sy - b * sx) / n
    sxxc = sxx - sx * sx / n
    rss = (syy - sy * sy / n) - b * b * sxxc
    xbar = sx / n
    xstar = F.col("hmax") + _M23_H
    se = F.sqrt(
        (rss / (n - 2))
        * (1 + 1 / n + (xstar - xbar) * (xstar - xbar) / sxxc)
    )
    return m.select(
        "event_type",
        n.cast("bigint").alias("n_hours"),
        xstar.cast("bigint").alias("forecast_hour"),
        F.round(a + b * xstar, 6).alias("yhat"),
        F.round(a + b * xstar - _M23_Z * se, 6).alias("lo95"),
        F.round(a + b * xstar + _M23_Z * se, 6).alias("hi95"),
    )


# --- M24 (ext.): Holt-Winters in-fold one-step backtest ---------------------------


@register(
    "m24_hw_backtest",
    # m17's 26-wide rotating fold widened to 30: the accumulator also
    # carries [t, n_evals, sum|e|, sum e^2], scoring each step's
    # one-step-ahead forecast (L + B + S_next, computed BEFORE the
    # update absorbs the observation) against the observation, counted
    # only over the trailing holdout window. One fold = fit AND
    # backtest; numbers line up against m22's baseline table.
    oracle=f"""
    WITH {_hourly_series_sql().strip()},
    ser AS (
      SELECT event_type, list(CAST(hv AS DOUBLE) ORDER BY h) AS xs
      FROM hourly GROUP BY 1
    ),
    ini AS (
      SELECT event_type, xs, len(xs) AS n_hours,
             list_reduce(list_prepend(CAST(0 AS DOUBLE), xs[1:24]),
                         (a, b) -> a + b) / 24.0 AS m1,
             list_reduce(list_prepend(CAST(0 AS DOUBLE), xs[25:48]),
                         (a, b) -> a + b) / 24.0 AS m2
      FROM ser WHERE len(xs) >= 49
    ),
    fold AS (
      SELECT event_type, n_hours,
             list_reduce(
               list_prepend(
                 list_concat(list_concat(
                   [m1, (m2 - m1) / 24.0],
                   list_transform(xs[1:24], v -> v - m1)),
                   [CAST(48 AS DOUBLE), 0, 0, 0]),
                 list_transform(xs[49:], e -> [e])),
               (acc, x) ->
                 list_concat(list_concat(list_concat(list_concat(
                   [{_M17_ALPHA} * (x[1] - acc[3])
                      + {1 - _M17_ALPHA} * (acc[1] + acc[2]),
                    {_M17_BETA} * (({_M17_ALPHA} * (x[1] - acc[3])
                      + {1 - _M17_ALPHA} * (acc[1] + acc[2])) - acc[1])
                      + {1 - _M17_BETA} * acc[2]],
                   acc[4:26]),
                   [{_M17_GAMMA} * (x[1] - ({_M17_ALPHA} * (x[1] - acc[3])
                      + {1 - _M17_ALPHA} * (acc[1] + acc[2])))
                      + {1 - _M17_GAMMA} * acc[3]]),
                   [acc[27] + 1]),
                   CASE WHEN acc[27] + 1 > n_hours - {_M22_HOLDOUT}
                        THEN [acc[28] + 1,
                              acc[29] + ABS(x[1]
                                - (acc[1] + acc[2] + acc[3])),
                              acc[30] + (x[1] - (acc[1] + acc[2] + acc[3]))
                                * (x[1] - (acc[1] + acc[2] + acc[3]))]
                        ELSE [acc[28], acc[29], acc[30]] END)) AS st
      FROM ini
    )
    SELECT event_type, CAST(n_hours AS BIGINT) AS n_hours,
           CAST(st[28] AS BIGINT) AS n_evals,
           st[29] / st[28] AS mae,
           SQRT(st[30] / st[28]) AS rmse
    FROM fold WHERE st[28] > 0
    """,
    doc=f"M24 (ext.): Holt-Winters one-step backtest — m17's rotating "
    "fold widened to carry the evaluation state, so fitting and "
    "scoring happen in the SAME pass: each step's pre-update forecast "
    "(level + trend + due seasonal) is scored against the incoming "
    f"observation over the trailing {_M22_HOLDOUT}-hour holdout. Read "
    "against m22's naive/seasonal/drift table: if HW doesn't beat "
    "seasonal-naive here, m17's extra state isn't paying. Exactness: "
    "pure fold arithmetic, zero rounding. Scale: same as m17 — one "
    "hourly pre-agg, O(period) state per key",
)
def m24_hw_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = _hourly_series(spark, sf_dir)
    ser = (
        hourly.groupBy("event_type")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("h", F.col("hv").cast("double").alias("v"))
                    )
                ),
                lambda s: s["v"],
            ).alias("xs")
        )
        .filter(F.size("xs") >= 2 * _M17_PERIOD + 1)
    )
    xs = F.col("xs")
    m = _M17_PERIOD
    sum1 = F.aggregate(F.slice(xs, 1, m), F.lit(0.0), lambda a, b: a + b)
    sum2 = F.aggregate(
        F.slice(xs, m + 1, m), F.lit(0.0), lambda a, b: a + b
    )
    ini = ser.select(
        "event_type",
        "xs",
        F.size("xs").cast("bigint").alias("n_hours"),
        (sum1 / float(m)).alias("m1"),
        (sum2 / float(m)).alias("m2"),
    )
    a, b, g = _M17_ALPHA, _M17_BETA, _M17_GAMMA
    acc0 = F.concat(
        F.array(F.col("m1"), (F.col("m2") - F.col("m1")) / float(m)),
        F.transform(F.slice(xs, 1, m), lambda v: v - F.col("m1")),
        F.array(
            F.lit(float(2 * m)), F.lit(0.0), F.lit(0.0), F.lit(0.0)
        ),
    )
    rest = F.slice(xs, 2 * m + 1, F.greatest(F.size(xs) - 2 * m, F.lit(0)))
    n_hours = F.col("n_hours")

    def step(acc, x):
        fc = acc[0] + acc[1] + acc[2]  # pre-update one-step forecast
        lnew = a * (x - acc[2]) + (1 - a) * (acc[0] + acc[1])
        bnew = b * (lnew - acc[0]) + (1 - b) * acc[1]
        snew = g * (x - lnew) + (1 - g) * acc[2]
        t_new = acc[26] + 1
        in_hold = t_new > n_hours - _M22_HOLDOUT
        evals = F.when(in_hold, acc[27] + 1).otherwise(acc[27])
        sae = F.when(in_hold, acc[28] + F.abs(x - fc)).otherwise(acc[28])
        sse = F.when(in_hold, acc[29] + (x - fc) * (x - fc)).otherwise(
            acc[29]
        )
        return F.concat(
            F.array(lnew, bnew),
            F.slice(acc, 4, m - 1),
            F.array(snew, t_new, evals, sae, sse),
        )

    st = F.aggregate(rest, acc0, step)
    return (
        ini.select(
            "event_type",
            "n_hours",
            st[27].cast("bigint").alias("n_evals"),
            (st[28] / st[27]).alias("mae"),
            F.sqrt(st[29] / st[27]).alias("rmse"),
        )
        .filter(F.col("n_evals") > 0)
    )


# --- M25 (ext.): decomposition strength indices -----------------------------------


@register(
    "m25_decomposition_strength",
    # Hyndman's strength-of-trend / strength-of-seasonality on m12's
    # classical decomposition: F_T = max(0, 1 - Var(R)/Var(x - S)),
    # F_S = max(0, 1 - Var(R)/Var(x - T)). The detrended series rides
    # as the SCALED integer-exact (25x - MA-sum) decimal so every
    # intermediate is exact; the only doubles are final quotients.
    oracle=f"""
    WITH {_hourly_series_sql().strip()},
    tr AS (
      SELECT event_type, h, hv,
             SUM(hv) OVER w AS tsum, COUNT(*) OVER w AS nf
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY h
                   ROWS BETWEEN {_M12_HALF} PRECEDING
                            AND {_M12_HALF} FOLLOWING)
    ),
    det AS (
      SELECT event_type, h, h % 24 AS hod,
             CAST(hv AS DOUBLE) AS x,
             CAST(tsum AS DOUBLE) / {2 * _M12_HALF + 1} AS t,
             (CAST(hv AS DOUBLE) * {2 * _M12_HALF + 1}
                - CAST(tsum AS DOUBLE)) / {2 * _M12_HALF + 1} AS d
      FROM tr WHERE nf = {2 * _M12_HALF + 1}
    ),
    seas AS (
      SELECT event_type, hod,
             (CAST(SUM(CAST(d AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*))
               AS s
      FROM det GROUP BY event_type, hod
    ),
    joined AS (
      SELECT det.event_type,
             det.d - seas.s AS r,
             det.x - seas.s AS xs,
             det.d AS d
      FROM det JOIN seas
        ON seas.event_type = det.event_type AND seas.hod = det.hod
    ),
    v AS (
      SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
             {sql_dsum('r', 38)} AS sr, {sql_dsum('r*r', 38)} AS srr,
             {sql_dsum('xs', 38)} AS sxs, {sql_dsum('xs*xs', 38)} AS sxx,
             {sql_dsum('d', 38)} AS sd, {sql_dsum('d*d', 38)} AS sdd
      FROM joined GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_obs,
           ROUND(GREATEST(0.0,
             1 - (srr - sr * sr / n) / (sxx - sxs * sxs / n)), 6)
             AS trend_strength,
           ROUND(GREATEST(0.0,
             1 - (srr - sr * sr / n) / (sdd - sd * sd / n)), 6)
             AS seasonal_strength,
           ROUND((srr - sr * sr / n) / n, 6) AS var_remainder
    FROM v
    """,
    doc="M25 (ext.): decomposition strength — Hyndman's F_trend and "
    "F_seasonal computed from m12's classical decomposition "
    "(remainder variance against the detrended and deseasonalized "
    "variances). The single-number answer to 'is this series "
    "seasonal enough for m17/w23 to pay off' (m16 finds the period; "
    "m25 grades its strength). Scale: the centered-MA window and "
    "seasonal means run on the calendar-bounded hourly grid; the "
    "strength indices come from ONE decimal-moment aggregate over "
    "the joined remainder. Exactness: decimal moments; 6-dp rounding "
    "only on final irrational-valued outputs",
)
def m25_decomposition_strength(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..functions.numeric import dsum

    n_terms = 2 * _M12_HALF + 1
    hourly = _hourly_series(spark, sf_dir)
    w = (
        W.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(-_M12_HALF, _M12_HALF)
    )
    tr = hourly.select(
        "event_type",
        "h",
        "hv",
        F.sum("hv").over(w).alias("tsum"),
        F.count("*").over(w).alias("nf"),
    ).filter(F.col("nf") == n_terms)
    det = tr.select(
        "event_type",
        (F.col("h") % 24).alias("hod"),
        F.col("hv").cast("double").alias("x"),
        (
            (F.col("hv").cast("double") * n_terms
             - F.col("tsum").cast("double"))
            / float(n_terms)
        ).alias("d"),
    )
    seas = det.groupBy("event_type", "hod").agg(
        (
            F.sum(F.col("d").cast("decimal(27,6)")).cast("double")
            / F.count("*")
        ).alias("s")
    )
    joined = det.join(F.broadcast(seas), ["event_type", "hod"]).select(
        "event_type",
        (F.col("d") - F.col("s")).alias("r"),
        (F.col("x") - F.col("s")).alias("xs"),
        "d",
    )
    v = joined.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n"),
        dsum("r", 38).alias("sr"),
        dsum(F.col("r") * F.col("r"), 38).alias("srr"),
        dsum("xs", 38).alias("sxs"),
        dsum(F.col("xs") * F.col("xs"), 38).alias("sxx"),
        dsum("d", 38).alias("sd"),
        dsum(F.col("d") * F.col("d"), 38).alias("sdd"),
    )
    n = F.col("n")
    var_r = F.col("srr") - F.col("sr") * F.col("sr") / n
    var_xs = F.col("sxx") - F.col("sxs") * F.col("sxs") / n
    var_d = F.col("sdd") - F.col("sd") * F.col("sd") / n
    return v.select(
        "event_type",
        n.cast("bigint").alias("n_obs"),
        F.round(F.greatest(F.lit(0.0), 1 - var_r / var_xs), 6).alias(
            "trend_strength"
        ),
        F.round(F.greatest(F.lit(0.0), 1 - var_r / var_d), 6).alias(
            "seasonal_strength"
        ),
        F.round(var_r / n, 6).alias("var_remainder"),
    )


# --- M26 (ext.): Ljung-Box portmanteau test ----------------------------------------

_M26_LAGS = 6


@register(
    "m26_ljung_box",
    # Q = n(n+2) * sum_k r_k^2/(n-k) over lags 1..6, with the r_k from
    # the SAME classical-ACF construction m21 uses (global-mean
    # covariances from decimal moments). The white-noise screen read
    # after any model fit: Q >> chi2(6) means structure remains. The
    # final sum runs over a pinned-order 6-element fold (no rounding).
    oracle=f"""
    WITH {_hourly_series_sql().strip()},
    x AS (SELECT event_type, h, CAST(hv AS DOUBLE) AS v FROM hourly),
    base AS (
      SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
             {sql_dsum('v', 38)} AS s1, {sql_dsum('v*v', 38)} AS s2
      FROM x GROUP BY event_type
    ),
    pairs AS (
      SELECT a.event_type, l.lag, a.v AS xv, b.v AS yv
      FROM x a
      CROSS JOIN (SELECT CAST(unnest(generate_series(1, {_M26_LAGS}))
                          AS INT) AS lag) l
      JOIN x b ON b.event_type = a.event_type AND b.h = a.h + l.lag
    ),
    lm AS (
      SELECT event_type, lag, CAST(COUNT(*) AS DOUBLE) AS nk,
             {sql_dsum('xv', 38)} AS sx, {sql_dsum('yv', 38)} AS sy,
             {sql_dsum('xv*yv', 38)} AS sxy
      FROM pairs GROUP BY 1, 2
    ),
    rk AS (
      SELECT lm.event_type, lm.lag, b.n,
             (lm.sxy - (b.s1 / b.n) * (lm.sx + lm.sy)
                + lm.nk * (b.s1 / b.n) * (b.s1 / b.n))
               / (b.s2 - b.n * (b.s1 / b.n) * (b.s1 / b.n)) AS r
      FROM lm JOIN base b ON b.event_type = lm.event_type
    ),
    folded AS (
      SELECT event_type, ANY_VALUE(n) AS n,
             list_reduce(
               list_prepend(CAST(0 AS DOUBLE),
                            list(r * r / (n - lag) ORDER BY lag)),
               (a, b) -> a + b) AS s
      FROM rk GROUP BY event_type HAVING COUNT(*) = {_M26_LAGS}
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_hours,
           {_M26_LAGS} AS n_lags,
           n * (n + 2) * s AS q_stat
    FROM folded
    """,
    doc=f"M26 (ext.): Ljung-Box portmanteau test (lags 1-{_M26_LAGS}) "
    "on the hourly demand per event type — the is-there-any-"
    "autocorrelation-left screen (compare q_stat to chi-square with "
    f"{_M26_LAGS} dof; the hourly series itself should fail "
    "spectacularly, residuals from a good m17 fit should not). "
    "Composes m21's exact classical-ACF machinery; the weighted "
    "r^2 sum folds 6 terms in lag order — engine-exact with zero "
    "rounding. Scale: identical to m13/m21 — lagged joins over the "
    "calendar-bounded grid, decimal moments, bounded folds",
)
def m26_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.numeric import dsum

    K = _M26_LAGS
    x = _hourly_series(spark, sf_dir).select(
        "event_type", "h", F.col("hv").cast("double").alias("v")
    )
    base = x.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n"),
        dsum("v", 38).alias("s1"),
        dsum(F.col("v") * F.col("v"), 38).alias("s2"),
    )
    lag_arr = F.array(*[F.lit(k) for k in range(1, K + 1)])
    a_side = x.select(
        "event_type",
        F.explode(lag_arr).alias("lag"),
        (F.col("h") + F.col("lag")).alias("hk"),
        F.col("v").alias("xv"),
    )
    pairs = a_side.join(
        x.select(
            "event_type", F.col("h").alias("hk"), F.col("v").alias("yv")
        ),
        ["event_type", "hk"],
    )
    lm = pairs.groupBy("event_type", "lag").agg(
        F.count("*").cast("double").alias("nk"),
        dsum("xv", 38).alias("sx"),
        dsum("yv", 38).alias("sy"),
        dsum(F.col("xv") * F.col("yv"), 38).alias("sxy"),
    )
    mu = F.col("s1") / F.col("n")
    rk = lm.join(F.broadcast(base), "event_type").select(
        "event_type",
        "lag",
        "n",
        (
            (F.col("sxy") - mu * (F.col("sx") + F.col("sy"))
             + F.col("nk") * mu * mu)
            / (F.col("s2") - F.col("n") * mu * mu)
        ).alias("r"),
    )
    folded = (
        rk.groupBy("event_type")
        .agg(
            F.any_value("n").alias("n"),
            F.aggregate(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "lag",
                                (
                                    F.col("r") * F.col("r")
                                    / (F.col("n") - F.col("lag"))
                                ).alias("t"),
                            )
                        )
                    ),
                    lambda s: s["t"],
                ),
                F.lit(0.0),
                lambda a, b: a + b,
            ).alias("s"),
            F.count("*").alias("n_lags_got"),
        )
        .filter(F.col("n_lags_got") == K)
    )
    return folded.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_hours"),
        F.lit(K).alias("n_lags"),
        (F.col("n") * (F.col("n") + 2) * F.col("s")).alias("q_stat"),
    )


# --- M27 (ext.): Diebold-Mariano forecast-comparison test --------------------------


@register(
    "m27_diebold_mariano",
    # Which backtest difference is REAL? For every pair of m22's
    # baseline models, the Diebold-Mariano statistic on the squared-
    # error loss differential d_t = e_a^2 - e_b^2 over the shared
    # holdout: DM = mean(d) / sqrt(var(d)/n). One-step-ahead forecasts
    # (h=1) need no HAC correction, so the plain variance is the
    # textbook statistic. Loss differentials are identical IEEE
    # expressions on both engines; their mean/variance come from
    # h-ordered folds (48 bounded terms per pair), so no decimal
    # rounding is needed anywhere.
    oracle=f"""
    WITH {_hourly_series_sql().strip()},
    ser AS (
      SELECT event_type, h, CAST(hv AS DOUBLE) AS x,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS t,
             COUNT(*) OVER (PARTITION BY event_type) AS n,
             LAG(CAST(hv AS DOUBLE), 1) OVER
               (PARTITION BY event_type ORDER BY h) AS x1,
             LAG(CAST(hv AS DOUBLE), 24) OVER
               (PARTITION BY event_type ORDER BY h) AS x24,
             FIRST_VALUE(CAST(hv AS DOUBLE)) OVER
               (PARTITION BY event_type ORDER BY h) AS x0
      FROM hourly
    ),
    holdout AS (
      SELECT * FROM ser
      WHERE t > n - {_M22_HOLDOUT} AND x24 IS NOT NULL AND t >= 3
    ),
    err AS (
      SELECT event_type, h, 'naive' AS model,
             (x - x1) * (x - x1) AS se FROM holdout
      UNION ALL
      SELECT event_type, h, 'seasonal_naive',
             (x - x24) * (x - x24) FROM holdout
      UNION ALL
      SELECT event_type, h, 'drift',
             (x - (x1 + (x1 - x0) / (t - 2)))
             * (x - (x1 + (x1 - x0) / (t - 2))) FROM holdout
    ),
    pair AS (
      SELECT a.event_type, a.model AS model_a, b.model AS model_b,
             a.h, a.se - b.se AS d
      FROM err a JOIN err b
        ON b.event_type = a.event_type AND b.h = a.h
       AND a.model < b.model
    ),
    folds AS (
      SELECT event_type, model_a, model_b,
             COUNT(*) AS n,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(d ORDER BY h)), (p, q) -> p + q) AS sd,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(d * d ORDER BY h)), (p, q) -> p + q) AS sdd
      FROM pair GROUP BY 1, 2, 3
    )
    SELECT event_type, model_a, model_b,
           CAST(n AS BIGINT) AS n_evals,
           sd / n AS mean_loss_diff,
           CASE WHEN (sdd - sd * sd / n) / (n - 1) > 0
                THEN (sd / n)
                     / SQRT(((sdd - sd * sd / n) / (n - 1)) / n)
                END AS dm_stat,
           CASE WHEN sd / n < 0 THEN model_a
                WHEN sd / n > 0 THEN model_b
                ELSE 'tie' END AS lower_loss_model
    FROM folds
    """,
    doc="M27 (ext.): Diebold-Mariano forecast-comparison test — for "
    "every pair of m22's baseline models, whether the backtest loss "
    "gap is statistically real: DM = mean(d)/sqrt(var(d)/n) on the "
    "squared-error differential over the shared holdout (one-step "
    "horizon => no HAC lag correction needed). m22 ranks the models; "
    "m27 says whether the ranking is noise — the sign-off a "
    "forecasting-model swap needs. Scale: errors ride m22's lag "
    "windows over the calendar-bounded hourly grid; the model-pair "
    "fanout is a 3-row in-plan self-join per type; folds see 48 "
    "terms per pair. Exactness: identical IEEE loss expressions, "
    "h-ordered folds, variance guarded against the degenerate "
    "zero-variance pair (NULL, not a div-by-zero)",
)
def m27_diebold_mariano(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    hourly = _hourly_series(spark, sf_dir)
    wp = W.partitionBy("event_type").orderBy("h")
    wa = W.partitionBy("event_type")
    x = F.col("hv").cast("double")
    ser = hourly.select(
        "event_type",
        "h",
        x.alias("x"),
        F.row_number().over(wp).alias("t"),
        F.count("*").over(wa).alias("n"),
        F.lag(x, 1).over(wp).alias("x1"),
        F.lag(x, 24).over(wp).alias("x24"),
        F.first(x).over(wp).alias("x0"),
    )
    holdout = ser.filter(
        (F.col("t") > F.col("n") - _M22_HOLDOUT)
        & F.col("x24").isNotNull()
        & (F.col("t") >= 3)
    )
    e1 = F.col("x") - F.col("x1")
    e24 = F.col("x") - F.col("x24")
    edr = F.col("x") - (
        F.col("x1") + (F.col("x1") - F.col("x0")) / (F.col("t") - 2)
    )
    err = (
        holdout.select(
            "event_type", "h", F.lit("naive").alias("model"),
            (e1 * e1).alias("se"),
        )
        .unionByName(
            holdout.select(
                "event_type", "h",
                F.lit("seasonal_naive").alias("model"),
                (e24 * e24).alias("se"),
            )
        )
        .unionByName(
            holdout.select(
                "event_type", "h", F.lit("drift").alias("model"),
                (edr * edr).alias("se"),
            )
        )
    )
    a = err.select(
        "event_type", "h", F.col("model").alias("model_a"),
        F.col("se").alias("sea"),
    )
    b = err.select(
        "event_type", "h", F.col("model").alias("model_b"),
        F.col("se").alias("seb"),
    )
    pair = a.join(b, ["event_type", "h"]).filter(
        F.col("model_a") < F.col("model_b")
    )
    fsum = lambda col: F.aggregate(col, F.lit(0.0), lambda p, q: p + q)
    folds = pair.groupBy("event_type", "model_a", "model_b").agg(
        F.count("*").alias("n"),
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct("h", (F.col("sea") - F.col("seb")).alias("d"))
                )
            ),
            lambda s: s["d"],
        ).alias("ds"),
    )
    nd = F.col("n").cast("double")
    sd = fsum(F.col("ds"))
    sdd = fsum(F.transform(F.col("ds"), lambda v: v * v))
    var = (sdd - sd * sd / nd) / (nd - 1)
    mean = sd / nd
    return folds.select(
        "event_type",
        "model_a",
        "model_b",
        F.col("n").cast("bigint").alias("n_evals"),
        mean.alias("mean_loss_diff"),
        F.when(var > 0, mean / F.sqrt(var / nd)).alias("dm_stat"),
        F.when(mean < 0, F.col("model_a"))
        .when(mean > 0, F.col("model_b"))
        .otherwise(F.lit("tie"))
        .alias("lower_loss_model"),
    )


# --- M28 (ext.): two-change-point segmentation via bounded pair grid ---------------


@register(
    "m28_two_changepoint_trend",
    # Exact GLOBAL optimum over BOTH change points at once (binary
    # segmentation — m19 applied twice — is greedy and can miss it):
    # every (t1 < t2) pair's three-segment SSE comes from the same
    # prefix moments m19 uses, so the pair grid costs O(1) each and
    # the whole search is bounded by the CALENDAR (hours^2 per type),
    # not the corpus. Ties break to the earliest (t1, t2).
    oracle=f"""
    WITH {_hourly_series_sql().strip()},
    ser AS (
      SELECT event_type, h, CAST(hv AS DOUBLE) AS x,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS t,
             CAST(SUM(CAST(hv AS DECIMAL(27,6)))
                  OVER (PARTITION BY event_type ORDER BY h) AS DOUBLE) AS s1,
             CAST(SUM(CAST(CAST(hv AS DOUBLE) * CAST(hv AS DOUBLE)
                           AS DECIMAL(27,6)))
                  OVER (PARTITION BY event_type ORDER BY h) AS DOUBLE) AS s2,
             COUNT(*) OVER (PARTITION BY event_type) AS n,
             CAST(SUM(CAST(hv AS DECIMAL(27,6)))
                  OVER (PARTITION BY event_type) AS DOUBLE) AS s1t,
             CAST(SUM(CAST(CAST(hv AS DOUBLE) * CAST(hv AS DOUBLE)
                           AS DECIMAL(27,6)))
                  OVER (PARTITION BY event_type) AS DOUBLE) AS s2t
      FROM hourly
    ),
    grid AS (
      SELECT a.event_type, a.n, a.s1t, a.s2t,
             a.t AS t1, a.h AS h1, b.t AS t2, b.h AS h2,
             (a.s2 - a.s1 * a.s1 / a.t)
               + ((b.s2 - a.s2)
                  - (b.s1 - a.s1) * (b.s1 - a.s1) / (b.t - a.t))
               + ((a.s2t - b.s2)
                  - (a.s1t - b.s1) * (a.s1t - b.s1) / (a.n - b.t)) AS c,
             a.s1 / a.t AS mean_1,
             (b.s1 - a.s1) / (b.t - a.t) AS mean_2,
             (a.s1t - b.s1) / (a.n - b.t) AS mean_3
      FROM ser a JOIN ser b
        ON b.event_type = a.event_type AND b.t > a.t AND b.t < b.n
    ),
    best AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY c, t1, t2) AS rk
      FROM grid
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_hours,
           CAST(t1 AS BIGINT) AS t1, CAST(h1 AS BIGINT) AS hour1,
           CAST(t2 AS BIGINT) AS t2, CAST(h2 AS BIGINT) AS hour2,
           (s2t - s1t * s1t / n) - c AS gain,
           mean_1, mean_2, mean_3
    FROM best WHERE rk = 1
    """,
    doc="M28 (ext.): exact two-change-point segmentation — the (t1, t2) "
    "pair that globally minimizes three-segment SSE over each type's "
    "hourly series, from the same prefix decimal moments as m19 (one "
    "step level shift is m19's job; regime -> transition -> regime "
    "needs both cuts jointly, where greedy binary segmentation can "
    "land off-optimum). Scale: the pair grid is bounded by the "
    "CALENDAR (hours^2 per type, independent of corpus size); costs "
    "are O(1) prefix-moment expressions; the argmin is one map-side "
    "min(struct) aggregate over the grid (r12 — formerly a rank "
    "window that sorted the whole grid). Exactness: decimal prefix "
    "sums exact at every t, identical IEEE cost expressions, ties to "
    "the earliest pair — no rounding anywhere",
)
def m28_two_changepoint_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window as W

    hourly = _hourly_series(spark, sf_dir)
    wp = W.partitionBy("event_type").orderBy("h")
    wa = W.partitionBy("event_type")
    x = F.col("hv").cast("double")
    xx = (x * x).cast("decimal(27,6)")
    ser = hourly.select(
        "event_type",
        "h",
        F.row_number().over(wp).alias("t"),
        F.sum(F.col("hv").cast("decimal(27,6)"))
        .over(wp)
        .cast("double")
        .alias("s1"),
        F.sum(xx).over(wp).cast("double").alias("s2"),
        F.count("*").over(wa).alias("n"),
        F.sum(F.col("hv").cast("decimal(27,6)"))
        .over(wa)
        .cast("double")
        .alias("s1t"),
        F.sum(xx).over(wa).cast("double").alias("s2t"),
    )
    a = ser.select(
        "event_type",
        "n",
        "s1t",
        "s2t",
        F.col("t").alias("t1"),
        F.col("h").alias("h1"),
        F.col("s1").alias("a1"),
        F.col("s2").alias("a2"),
    )
    b = ser.select(
        "event_type",
        F.col("t").alias("t2"),
        F.col("h").alias("h2"),
        F.col("s1").alias("b1"),
        F.col("s2").alias("b2"),
    )
    grid = a.join(b, "event_type").filter(
        (F.col("t2") > F.col("t1")) & (F.col("t2") < F.col("n"))
    )
    t1, t2, n = F.col("t1"), F.col("t2"), F.col("n")
    a1, a2, b1, b2 = F.col("a1"), F.col("a2"), F.col("b1"), F.col("b2")
    s1t, s2t = F.col("s1t"), F.col("s2t")
    c = (
        (a2 - a1 * a1 / t1)
        + ((b2 - a2) - (b1 - a1) * (b1 - a1) / (t2 - t1))
        + ((s2t - b2) - (s1t - b1) * (s1t - b1) / (n - t2))
    )
    scored = grid.select(
        "event_type",
        "n",
        "s1t",
        "s2t",
        "t1",
        "h1",
        "t2",
        "h2",
        c.alias("c"),
        (a1 / t1).alias("mean_1"),
        ((b1 - a1) / (t2 - t1)).alias("mean_2"),
        ((s1t - b1) / (n - t2)).alias("mean_3"),
    )
    # r12 (guide §2.3 — aggregate before you shuffle): the argmin over the
    # (t1, t2) pair grid was a row_number rank window, which shuffled and
    # fully SORTED the whole hours^2-per-type grid (~1.3M rows at sf0.1)
    # across only n_types active tasks. min(struct(c, t1, t2, ...)) picks
    # the identical row — struct ordering is lexicographic by field, which
    # is exactly ORDER BY c, t1, t2, and (t1, t2) is unique per type so no
    # comparison ever reaches the payload fields — via a map-side partial
    # aggregate: each task ships ONE candidate row per type instead of its
    # whole grid slice. Interleaved A/B and oracle parity recorded in
    # OPTIMIZATION_r12.md. The gain expression is computed from the same
    # per-type constants and the same c double, so outputs are
    # bit-identical.
    best = scored.groupBy("event_type").agg(
        F.min(
            F.struct(
                "c", "t1", "t2", "h1", "h2", "n", "s1t", "s2t",
                "mean_1", "mean_2", "mean_3",
            )
        ).alias("b")
    )
    b = F.col("b")
    return best.select(
        "event_type",
        b["n"].cast("bigint").alias("n_hours"),
        b["t1"].cast("bigint").alias("t1"),
        b["h1"].cast("bigint").alias("hour1"),
        b["t2"].cast("bigint").alias("t2"),
        b["h2"].cast("bigint").alias("hour2"),
        ((b["s2t"] - b["s1t"] * b["s1t"] / b["n"]) - b["c"]).alias("gain"),
        b["mean_1"].alias("mean_1"),
        b["mean_2"].alias("mean_2"),
        b["mean_3"].alias("mean_3"),
    )


# --- M29 (ext.): Kaplan-Meier survival curve (view -> purchase) --------------------


@register(
    "m29_kaplan_meier",
    # Time-to-conversion survival with RIGHT CENSORING: users who never
    # purchase after their first view are censored at the corpus
    # horizon (max ts). Durations bucket to hours, so the KM table is
    # calendar-bounded; at-risk counts come from one cumulative sum;
    # the survival curve is a d-ordered PREFIX PRODUCT of (1 - e/n)
    # factors, folded identically in both engines (products of doubles
    # from exact integer ratios, pinned order — nothing to round).
    oracle="""
    WITH bounds AS (
      SELECT MAX(CAST(FLOOR(epoch(ts)) AS BIGINT)) AS tmax FROM events
    ),
    s AS (
      SELECT user_id, MIN(CAST(FLOOR(epoch(ts)) AS BIGINT)) AS t0
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id, MIN(CAST(FLOOR(epoch(e.ts)) AS BIGINT)) AS t1
      FROM events e JOIN s ON s.user_id = e.user_id
      WHERE e.event_type = 'purchase'
        AND CAST(FLOOR(epoch(e.ts)) AS BIGINT) >= s.t0
      GROUP BY e.user_id
    ),
    obs AS (
      SELECT s.user_id,
             CASE WHEN p.t1 IS NOT NULL THEN 1 ELSE 0 END AS ev,
             CAST(FLOOR((COALESCE(p.t1, b.tmax) - s.t0) / 3600.0)
                  AS BIGINT) AS d
      FROM s LEFT JOIN p USING (user_id) CROSS JOIN bounds b
    ),
    tab AS (
      SELECT d, CAST(SUM(ev) AS BIGINT) AS e, COUNT(*) AS c
      FROM obs GROUP BY d
    ),
    risk AS (
      SELECT d, e,
             CAST((SELECT COUNT(*) FROM obs)
                  - COALESCE(SUM(c) OVER (ORDER BY d
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS n
      FROM tab
    ),
    ser AS (
      SELECT list(d ORDER BY d) AS ds,
             list(e ORDER BY d) AS es,
             list(n ORDER BY d) AS ns,
             list(1.0 - CAST(e AS DOUBLE) / n ORDER BY d) AS fac
      FROM risk
    )
    SELECT r.u['d'] AS d_hours, r.u['n'] AS n_at_risk,
           r.u['e'] AS n_events, r.u['s'] AS survival
    FROM (
      SELECT unnest(list_transform(range(1, len(ds) + 1), i -> {
               'd': ds[i], 'n': ns[i], 'e': es[i],
               's': list_reduce(list_prepend(CAST(1 AS DOUBLE), fac[1:i]),
                                (a, b) -> a * b)
             })) AS u
      FROM ser
    ) r
    """,
    doc="M29 (ext.): Kaplan-Meier survival curve for view->purchase "
    "conversion — the right-censoring-correct answer to 'how long "
    "until users convert' (a39's percentiles silently drop users who "
    "never converted; KM keeps them at risk until the horizon, which "
    "is the statistically honest estimate). Scale: durations bucket "
    "to the calendar-bounded hour grid after two map-combined "
    "per-user MIN aggregates; the at-risk counts are one cumulative "
    "sum over that bounded table; the prefix product folds in-row. "
    "Exactness: integer event/risk counts, d-ordered product fold of "
    "exact-ratio factors — no rounding device needed",
)
def m29_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    sec = F.floor(F.unix_timestamp("ts")).cast("bigint")
    tmax = ev.agg(F.max(sec).alias("tmax"))
    s = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(sec).alias("t0"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", sec.alias("t1s"))
        .join(s, "user_id")
        .filter(F.col("t1s") >= F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("t1s").alias("t1"))
    )
    obs = (
        s.join(p, "user_id", "left")
        .crossJoin(F.broadcast(tmax))
        .select(
            F.when(F.col("t1").isNotNull(), 1).otherwise(0).alias("ev"),
            F.floor(
                (F.coalesce("t1", "tmax") - F.col("t0")) / 3600.0
            )
            .cast("bigint")
            .alias("d"),
        )
    )
    tab = obs.groupBy("d").agg(
        F.sum("ev").cast("bigint").alias("e"), F.count("*").alias("c")
    )
    total = obs.count()  # bounded driver scalar (cohort size)
    wc = W.orderBy("d").rowsBetween(W.unboundedPreceding, -1)
    risk = tab.select(
        "d",
        "e",
        (total - F.coalesce(F.sum("c").over(wc), F.lit(0)))
        .cast("bigint")
        .alias("n"),
    )
    ser = risk.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "e", "n"))),
            lambda x: x["d"],
        ).alias("ds"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "e", "n"))),
            lambda x: x["e"],
        ).alias("es"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "e", "n"))),
            lambda x: x["n"],
        ).alias("ns"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "e", "n"))),
            lambda x: F.lit(1.0) - x["e"].cast("double") / x["n"],
        ).alias("fac"),
    )
    rows = ser.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ds")),
                lambda i: F.struct(
                    F.element_at("ds", i).alias("d"),
                    F.element_at("ns", i).alias("n"),
                    F.element_at("es", i).alias("e"),
                    F.aggregate(
                        F.slice(F.col("fac"), 1, i),
                        F.lit(1.0),
                        lambda a, b: a * b,
                    ).alias("s"),
                ),
            )
        ).alias("u")
    )
    return rows.select(
        F.col("u.d").alias("d_hours"),
        F.col("u.n").alias("n_at_risk"),
        F.col("u.e").alias("n_events"),
        F.col("u.s").alias("survival"),
    )


# --- M30 (ext.): automatic baseline-model selection --------------------------------


def _m30_oracle() -> str:
    from ..registry import _REGISTRY

    m22 = _REGISTRY["m22_forecast_backtest"].oracle
    return f"""
    WITH m22 AS ({m22}),
    ranked AS (
      SELECT event_type, model, n_evals, mae, rmse,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY mae, model) AS rk
      FROM m22
    )
    SELECT b.event_type,
           b.model AS chosen_model,
           b.n_evals,
           b.mae AS chosen_mae,
           b.rmse AS chosen_rmse,
           r.model AS runner_up,
           r.mae - b.mae AS mae_margin
    FROM ranked b JOIN ranked r
      ON r.event_type = b.event_type AND b.rk = 1 AND r.rk = 2
    """


@register(
    "m30_auto_model_select",
    # Per-type champion selection over m22's backtest: pick the
    # baseline with the lowest holdout MAE (ties to the
    # alphabetically first model) and report the runner-up margin —
    # the router a forecasting service runs nightly to decide which
    # model serves each series. Built literally ON m22's numbers
    # (same fold-exact MAE), so the choice is certified by the same
    # oracle arithmetic.
    oracle=_m30_oracle(),
    doc="M30 (ext.): automatic model selection — for each event type, "
    "the backtest champion among m22's naive/seasonal-naive/drift "
    "baselines by holdout MAE, with the runner-up and its margin "
    "(margin ~ 0 means the ranking is noise — m27's DM test says so "
    "formally; m30 is the operational router that consumes both). "
    "Scale: everything rides m22's calendar-bounded lag windows; "
    "selection is a rank window over 3 rows per type. Exactness: "
    "m22's pinned-order fold MAEs compared and subtracted — "
    "identical doubles, deterministic ties",
)
def m30_auto_model_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    m22 = m22_forecast_backtest(spark, sf_dir)
    wr = W.partitionBy("event_type").orderBy("mae", "model")
    ranked = m22.withColumn("rk", F.row_number().over(wr))
    best = ranked.filter(F.col("rk") == 1).select(
        "event_type",
        F.col("model").alias("chosen_model"),
        "n_evals",
        F.col("mae").alias("chosen_mae"),
        F.col("rmse").alias("chosen_rmse"),
    )
    second = ranked.filter(F.col("rk") == 2).select(
        "event_type",
        F.col("model").alias("runner_up"),
        F.col("mae").alias("mae2"),
    )
    return best.join(second, "event_type").select(
        "event_type",
        "chosen_model",
        "n_evals",
        "chosen_mae",
        "chosen_rmse",
        "runner_up",
        (F.col("mae2") - F.col("chosen_mae")).alias("mae_margin"),
    )


# --- m31 (ext.): Page-Hinkley sequential drift test ---------------------------------

_M31_DELTA_F = "0.01"  # tolerated drift, as a fraction of the series mean
_M31_LAM_F = "5.0"     # alarm threshold, in series standard deviations

# The fold subexpressions are BUILT ONCE as strings / column factories so
# the DuckDB lambda and the Spark lambda stay in byte-for-byte lockstep
# (the same-association requirement every fold device rides on).
_M31_I2 = "(acc[1] + CAST('1.0' AS DOUBLE))"
_M31_S2 = "(acc[2] + x[1])"
_M31_MEAN = f"({_M31_S2} / {_M31_I2})"
_M31_U2 = f"(acc[3] + ((x[1] - {_M31_MEAN}) - delta))"
_M31_MINU = f"LEAST(acc[4], {_M31_U2})"
_M31_GAP = f"({_M31_U2} - {_M31_MINU})"


@register(
    "m31_page_hinkley",
    # Page-Hinkley (1971): U_t = sum_{i<=t}(x_i - mean_i - delta) with
    # the RUNNING mean_i, alarm when U_t - min(U_1..U_t) exceeds
    # lambda. Inherently sequential (the running mean re-centers every
    # step), so the fold device: a 6-wide accumulator [t, sum, u,
    # min_u, max_gap, alarm_t] folds the h-ordered hourly series
    # identically in both engines; mu/sigma (for delta and lambda)
    # come from exact decimal moments; constants enter as
    # CAST('<repr>' AS DOUBLE) (the a43 literal device).
    oracle=f"""
    WITH hourly AS (
      SELECT event_type,
             CAST(FLOOR((CAST(FLOOR(epoch(ts)) AS BIGINT) - 1704067200)
                        / 3600.0) AS BIGINT) AS h,
             CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS hv
      FROM events GROUP BY 1, 2
    ),
    ser AS (
      SELECT event_type,
             list(hv ORDER BY h) AS xs,
             COUNT(*) AS n_hours,
             (CAST(SUM(CAST(hv AS DECIMAL(27,6))) AS DOUBLE) / COUNT(hv))
               AS mu,
             CASE WHEN COUNT(hv) > 1 THEN SQRT(GREATEST(
               (CAST(COUNT(hv) AS DOUBLE)
                  * CAST(SUM(CAST(hv*hv AS DECIMAL(27,6))) AS DOUBLE)
                - CAST(SUM(CAST(hv AS DECIMAL(27,6))) AS DOUBLE)
                  * CAST(SUM(CAST(hv AS DECIMAL(27,6))) AS DOUBLE))
               / (CAST(COUNT(hv) AS DOUBLE)
                  * (CAST(COUNT(hv) AS DOUBLE) - 1.0)), 0.0)) END AS sigma
      FROM hourly GROUP BY event_type
    ),
    prepped AS (
      SELECT event_type, n_hours, mu, sigma,
             CAST('{_M31_DELTA_F}' AS DOUBLE) * mu AS delta,
             CAST('{_M31_LAM_F}' AS DOUBLE) * sigma AS lam,
             xs
      FROM ser WHERE n_hours >= 2
    ),
    fold AS (
      SELECT event_type, n_hours, mu, sigma, lam,
             list_reduce(
               list_prepend(
                 [CAST('0.0' AS DOUBLE), CAST('0.0' AS DOUBLE),
                  CAST('0.0' AS DOUBLE), CAST('0.0' AS DOUBLE),
                  CAST('0.0' AS DOUBLE), CAST('-1.0' AS DOUBLE)],
                 list_transform(xs, e -> [e])),
               (acc, x) ->
                 [{_M31_I2},
                  {_M31_S2},
                  {_M31_U2},
                  {_M31_MINU},
                  GREATEST(acc[5], {_M31_GAP}),
                  CASE WHEN acc[6] >= CAST('0.0' AS DOUBLE) THEN acc[6]
                       WHEN {_M31_GAP} > lam THEN {_M31_I2}
                       ELSE CAST('-1.0' AS DOUBLE) END]) AS st
      FROM prepped
    )
    SELECT event_type, CAST(n_hours AS BIGINT) AS n_hours, mu, sigma,
           st[5] AS ph_max,
           st[3] AS u_final,
           st[5] > lam AS alarmed,
           CAST(st[6] AS BIGINT) AS alarm_step
    FROM fold
    """,
    doc=f"m31 (ext.): Page-Hinkley sequential drift test per event "
    f"type over the exact-decimal hourly series — the classic "
    "streaming-ML change monitor (running-mean-centered cumulative "
    f"deviation vs its running minimum; delta = {_M31_DELTA_F}*mu, "
    f"lambda = {_M31_LAM_F}*sigma). Emits the max PH gap, the final "
    "cumulative deviation, the alarm flag and the 1-based step of "
    "the first alarm. Completes the drift family: w21 CUSUM "
    "(known-target), w25 EWMA (weighted recency), m19/m28 "
    "(retrospective least-squares), m31 (sequential running-mean). "
    "Engine-exact via the 6-wide fold device with shared-string "
    "subexpressions so both lambdas associate identically. Scale: "
    "one map-combined hourly pre-agg, then O(hours) fold per type. "
    "Ref parity: the reference anomaly monitor "
    "(src/enhanced_spark_etl.py:713-737)",
)
def m31_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    return page_hinkley_from_hourly(_hourly_series(spark, sf_dir))


def page_hinkley_from_hourly(hourly_grid: DataFrame) -> DataFrame:
    """The m31 fold over any (event_type, h, hv DECIMAL) grid — shared
    with t29's streaming state table so the monitor equals batch m31
    bit-for-bit under any micro-batch slicing."""
    from ..functions.numeric import davg, dstddev

    hourly = hourly_grid.select(
        "event_type", "h", F.col("hv").cast("double").alias("hv")
    )
    ser = (
        hourly.groupBy("event_type")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("h", "hv"))),
                lambda s: s["hv"],
            ).alias("xs"),
            F.count("*").cast("bigint").alias("n_hours"),
            davg("hv").alias("mu"),
            dstddev("hv").alias("sigma"),
        )
        .filter(F.col("n_hours") >= 2)
        .withColumn("delta", F.lit(float(_M31_DELTA_F)) * F.col("mu"))
        .withColumn("lam", F.lit(float(_M31_LAM_F)) * F.col("sigma"))
    )
    delta, lam = F.col("delta"), F.col("lam")

    def step(acc, x):
        i2 = acc[0] + F.lit(1.0)
        s2 = acc[1] + x
        mean = s2 / i2
        u2 = acc[2] + ((x - mean) - delta)
        minu = F.least(acc[3], u2)
        gap = u2 - minu
        return F.array(
            i2,
            s2,
            u2,
            minu,
            F.greatest(acc[4], gap),
            F.when(acc[5] >= F.lit(0.0), acc[5])
            .when(gap > lam, i2)
            .otherwise(F.lit(-1.0)),
        )

    st = F.aggregate(
        F.col("xs"),
        F.array(*[F.lit(v) for v in (0.0, 0.0, 0.0, 0.0, 0.0, -1.0)]),
        step,
    )
    return ser.select(
        "event_type",
        "n_hours",
        "mu",
        "sigma",
        st[4].alias("ph_max"),
        st[2].alias("u_final"),
        (st[4] > lam).alias("alarmed"),
        st[5].cast("bigint").alias("alarm_step"),
    )


# streaming.jobs registers t29 BEFORE this module imports; the streaming
# twin carries m31's oracle verbatim so the driver certifies state-merge +
# fold == batch under any slicing.
share_oracle("t29_streaming_page_hinkley", "m31_page_hinkley")


# --- m32 (ext.): robust seasonal decomposition (median profile + MAD residuals) ------

_M32_K = "4.4478"  # 3 * 1.4826, the w32 Hampel threshold


@register(
    "m32_robust_decomposition",
    # m12's classical decomposition uses means — one burst drags the
    # seasonal profile. The robust variant: seasonal = LOWER MEDIAN of
    # each (type, hour-of-day) cell (exact in-row selection, w30's
    # device), residual = x - seasonal, residual center/scale = per-type
    # median and MAD (two more selections), outliers = Hampel rule on
    # the residuals. Zero arithmetic beyond subtractions and one
    # literal multiply — no rounding devices needed anywhere.
    oracle=f"""
    WITH hourly AS (
      SELECT event_type,
             CAST(FLOOR((CAST(FLOOR(epoch(ts)) AS BIGINT) - 1704067200)
                        / 3600.0) AS BIGINT) AS h,
             CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS x
      FROM events GROUP BY 1, 2
    ),
    seas AS (
      SELECT event_type, h % 24 AS hod,
             list_sort(list(x)) AS vs,
             COUNT(*) AS n_obs
      FROM hourly GROUP BY event_type, h % 24
    ),
    smed AS (
      SELECT event_type, hod, n_obs,
             vs[CAST(CEIL(n_obs / 2.0) AS INT)] AS seasonal_med
      FROM seas
    ),
    resid AS (
      SELECT h.event_type, h.h % 24 AS hod, h.x - s.seasonal_med AS r
      FROM hourly h JOIN smed s
        ON s.event_type = h.event_type AND s.hod = h.h % 24
    ),
    tstat AS (
      SELECT event_type, list_sort(list(r)) AS rs, COUNT(*) AS n
      FROM resid GROUP BY event_type
    ),
    tmed AS (
      SELECT event_type, n,
             rs[CAST(CEIL(n / 2.0) AS INT)] AS med_r,
             list_sort(list_transform(rs,
               v -> ABS(v - rs[CAST(CEIL(n / 2.0) AS INT)])))
               [CAST(CEIL(n / 2.0) AS INT)] AS mad_r
      FROM tstat
    )
    SELECT r.event_type, CAST(r.hod AS BIGINT) AS hod,
           s.seasonal_med,
           CAST(COUNT(*) AS BIGINT) AS n_obs,
           CAST(SUM(CASE WHEN ABS(r.r - t.med_r)
                         > CAST('{_M32_K}' AS DOUBLE) * t.mad_r
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           t.med_r, t.mad_r
    FROM resid r
    JOIN smed s ON s.event_type = r.event_type AND s.hod = r.hod
    JOIN tmed t ON t.event_type = r.event_type
    GROUP BY r.event_type, r.hod, s.seasonal_med, t.med_r, t.mad_r
    """,
    doc="m32 (ext.): robust seasonal decomposition — hour-of-day "
    "seasonal profile as per-cell LOWER MEDIANS, residuals against "
    "it, per-type residual median/MAD, and Hampel-rule outlier "
    "counts per (type, hour-of-day) cell. The burst-immune twin of "
    "m12's mean-based decomposition (one anomalous day shifts a mean "
    "profile and masks itself; medians don't move), sharing w32's "
    "selection-only exactness: every statistic is an element of a "
    "sorted in-row list, so both engines agree bit-for-bit with no "
    "rounding device. Scale: the hourly pre-agg bounds everything; "
    "cells are (type x 24); residual lists are calendar-bounded. "
    "Ref parity: reference seasonal baseline "
    "(src/enhanced_spark_etl.py:216-225)",
)
def m32_robust_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = _hourly_series(spark, sf_dir).select(
        "event_type", "h", F.col("hv").cast("double").alias("x")
    )
    hod = (F.col("h") % 24).alias("hod")
    seas = (
        hourly.select("event_type", hod, "x")
        .groupBy("event_type", "hod")
        .agg(
            F.array_sort(F.collect_list("x")).alias("vs"),
            F.count("*").alias("n_obs"),
        )
        .select(
            "event_type",
            "hod",
            "n_obs",
            F.element_at(
                "vs", F.ceil(F.col("n_obs") / F.lit(2.0)).cast("int")
            ).alias("seasonal_med"),
        )
    )
    resid = (
        hourly.select("event_type", hod, "x")
        .join(F.broadcast(seas), ["event_type", "hod"])
        .select(
            "event_type", "hod", (F.col("x") - F.col("seasonal_med")).alias("r")
        )
    )
    tstat = resid.groupBy("event_type").agg(
        F.array_sort(F.collect_list("r")).alias("rs"),
        F.count("*").alias("n"),
    )
    mid = F.ceil(F.col("n") / F.lit(2.0)).cast("int")
    med_r = F.element_at("rs", mid)
    tmed = tstat.select(
        "event_type",
        med_r.alias("med_r"),
        F.element_at(
            F.array_sort(
                F.transform(F.col("rs"), lambda v: F.abs(v - med_r))
            ),
            mid,
        ).alias("mad_r"),
    )
    out = (
        resid.join(F.broadcast(tmed), "event_type")
        .groupBy("event_type", "hod", "med_r", "mad_r")
        .agg(
            F.count("*").cast("bigint").alias("n_obs"),
            F.sum(
                F.when(
                    F.abs(F.col("r") - F.col("med_r"))
                    > F.lit(float(_M32_K)) * F.col("mad_r"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )
    return out.join(
        F.broadcast(seas.select("event_type", "hod", "seasonal_med")),
        ["event_type", "hod"],
    ).select(
        "event_type",
        F.col("hod").cast("bigint").alias("hod"),
        "seasonal_med",
        "n_obs",
        "n_outliers",
        "med_r",
        "mad_r",
    )


# --- m33 (ext.): seasonal Mann-Kendall trend test ------------------------------------


@register(
    "m33_seasonal_mann_kendall",
    # Hirsch-Slack seasonal MK: run m10's pairwise sign test WITHIN
    # each day-of-week series (so the weekly cycle never masquerades
    # as trend), then combine — S = sum of per-season S (integer),
    # Var = sum of per-season variance NUMERATORS / 18 (one double
    # division at the end), z with the +-1 continuity correction.
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(27,6))) AS DOUBLE)
               / COUNT(*) AS y,
             CAST(dayofweek(CAST(ts AS DATE)) AS BIGINT) AS dow
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    s AS (
      SELECT a.event_type, a.dow,
             CAST(SUM(CASE WHEN b.y > a.y THEN 1
                           WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT)
               AS s_season
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.dow = b.dow AND a.d < b.d
      GROUP BY a.event_type, a.dow
    ),
    ties AS (
      SELECT event_type, dow,
             CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tie_term
      FROM (
        SELECT event_type, dow, y, COUNT(*) AS t FROM daily
        GROUP BY event_type, dow, y HAVING COUNT(*) > 1
      ) GROUP BY event_type, dow
    ),
    n AS (
      SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS nd
      FROM daily GROUP BY event_type, dow
    ),
    per_season AS (
      SELECT n.event_type, n.dow, n.nd, s.s_season,
             n.nd * (n.nd - 1) * (2 * n.nd + 5)
               - COALESCE(t.tie_term, 0) AS var_num
      FROM n JOIN s ON s.event_type = n.event_type AND s.dow = n.dow
      LEFT JOIN ties t
        ON t.event_type = n.event_type AND t.dow = n.dow
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_seasons,
           CAST(SUM(nd) AS BIGINT) AS n_days,
           CAST(SUM(s_season) AS BIGINT) AS s_total,
           CAST(SUM(var_num) AS DOUBLE) / 18 AS var_s,
           CASE WHEN SUM(s_season) > 0
                  THEN CAST(SUM(s_season) - 1 AS DOUBLE)
                       / SQRT(CAST(SUM(var_num) AS DOUBLE) / 18)
                WHEN SUM(s_season) < 0
                  THEN CAST(SUM(s_season) + 1 AS DOUBLE)
                       / SQRT(CAST(SUM(var_num) AS DOUBLE) / 18)
                ELSE 0.0 END AS z
    FROM per_season GROUP BY event_type
    """,
    doc="m33 (ext.): seasonal Mann-Kendall (Hirsch-Slack) — m10's "
    "distribution-free trend test run within each day-of-week series "
    "and combined (S and the variance numerators are pure integers "
    "that sum exactly; the /18 and the continuity-corrected z are the "
    "only doubles, identical expressions both engines). The "
    "trend-vs-seasonality disentangler: a pure weekly cycle scores "
    "z = 0 here while fooling a naive regression slope. Scale: the "
    "daily pre-agg bounds the pair joins to per-(type, dow) series "
    "(calendar-bounded); everything downstream is a 35-row grid. "
    "Ref parity: the reference's weekday trend report "
    "(src/app.py:131-150)",
)
def m33_seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(
        (
            F.sum(F.round("value", 6).cast("decimal(27,6)")).cast("double")
            / F.count("*")
        ).alias("y"),
    ).withColumn("dow", F.dayofweek("d").cast("bigint"))
    a = daily.select(
        F.col("event_type"), F.col("dow"), F.col("d").alias("da"), F.col("y").alias("ya")
    )
    b = daily.select(
        F.col("event_type").alias("et_b"),
        F.col("dow").alias("dow_b"),
        F.col("d").alias("db"),
        F.col("y").alias("yb"),
    )
    s = (
        a.join(
            b,
            (F.col("event_type") == F.col("et_b"))
            & (F.col("dow") == F.col("dow_b"))
            & (F.col("da") < F.col("db")),
        )
        .groupBy("event_type", "dow")
        .agg(
            F.sum(
                F.when(F.col("yb") > F.col("ya"), 1)
                .when(F.col("yb") < F.col("ya"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_season")
        )
    )
    ties = (
        daily.groupBy("event_type", "dow", "y")
        .agg(F.count("*").alias("t"))
        .filter(F.col("t") > 1)
        .groupBy("event_type", "dow")
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tie_term")
        )
    )
    n = daily.groupBy("event_type", "dow").agg(
        F.count("*").cast("bigint").alias("nd")
    )
    per = (
        n.join(s, ["event_type", "dow"])
        .join(ties, ["event_type", "dow"], "left")
        .select(
            "event_type",
            "dow",
            "nd",
            "s_season",
            (
                F.col("nd") * (F.col("nd") - 1) * (2 * F.col("nd") + 5)
                - F.coalesce(F.col("tie_term"), F.lit(0))
            ).alias("var_num"),
        )
    )
    st = F.sum("s_season")
    var = F.sum("var_num").cast("double") / F.lit(18)
    return per.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_seasons"),
        F.sum("nd").cast("bigint").alias("n_days"),
        st.cast("bigint").alias("s_total"),
        var.alias("var_s"),
        F.when(st > 0, (st - 1).cast("double") / F.sqrt(var))
        .when(st < 0, (st + 1).cast("double") / F.sqrt(var))
        .otherwise(F.lit(0.0))
        .alias("z"),
    )


# --- m34 (ext.): deterministic Poisson-bootstrap confidence interval -----------------

import math as _math

_M34_B = 32  # resamples
# Poisson(1) CDF cutoffs as 6-hex-char thresholds: a row's md5 draw u
# (first 6 hex chars) maps to weight k = #{cutoffs <= u}. Computed once
# in Python, injected into BOTH engines as identical string literals —
# the deterministic stand-in for sampling WITH replacement (each row's
# multiplicity in resample b is Poisson(1), the classic distributed
# bootstrap).
_M34_CUTS = [
    format(
        int(sum(_math.exp(-1) / _math.factorial(i) for i in range(k + 1)) * 16**6),
        "06x",
    )
    for k in range(8)
]


def _m34_weight_sql(u: str) -> str:
    return "(" + " + ".join(
        f"(CASE WHEN {u} >= '{c}' THEN 1 ELSE 0 END)" for c in _M34_CUTS
    ) + ")"


@register(
    "m34_bootstrap_ci",
    # Percentile-bootstrap CI for each type's mean hourly demand.
    # Poisson(1) multiplicities from md5 draws make the 32 resamples
    # fully deterministic and engine-identical; each resample mean is
    # an exact-decimal weighted sum over the hourly grid divided by
    # the integer weight total; the CI bounds are pure order
    # statistics of the 32 means (w30's selection device).
    oracle=f"""
    WITH hourly AS (
      SELECT event_type,
             CAST(FLOOR((CAST(FLOOR(epoch(ts)) AS BIGINT) - 1704067200)
                        / 3600.0) AS BIGINT) AS h,
             CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS x
      FROM events GROUP BY 1, 2
    ),
    expanded AS (
      SELECT event_type, h, x, b,
             {_m34_weight_sql(
                 "substr(md5(event_type || '|' || CAST(h AS VARCHAR) "
                 "|| '|' || CAST(b AS VARCHAR)), 1, 6)")} AS w
      FROM hourly, (SELECT unnest(range(0, {_M34_B})) AS b)
    ),
    resamples AS (
      SELECT event_type, b,
             CAST(SUM(w) AS BIGINT) AS wsum,
             CAST(SUM(CAST(w * x AS DECIMAL(27,6))) AS DOUBLE) AS wx
      FROM expanded GROUP BY event_type, b
    ),
    means AS (
      SELECT event_type,
             list_sort(list(CASE WHEN wsum > 0 THEN wx / wsum END)) AS ms
      FROM resamples GROUP BY event_type
    ),
    point AS (
      SELECT event_type,
             (CAST(SUM(CAST(x AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*))
               AS mean_x,
             CAST(COUNT(*) AS BIGINT) AS n_hours
      FROM hourly GROUP BY event_type
    )
    SELECT p.event_type, p.n_hours, p.mean_x,
           CAST({_M34_B} AS BIGINT) AS n_resamples,
           m.ms[2] AS ci_lo,
           m.ms[{_M34_B - 1}] AS ci_hi
    FROM point p JOIN means m USING (event_type)
    """,
    doc=f"m34 (ext.): deterministic Poisson-bootstrap CI — each of "
    f"{_M34_B} resamples weights every hourly observation by a "
    "Poisson(1) multiplicity drawn from an md5 hash of (type, hour, "
    "resample), the distributed-bootstrap construction that needs no "
    "RNG state and merges across partitions; resample means are "
    "decimal-exact weighted averages and the ~90% CI is the 2nd/31st "
    "order statistic of the sorted means. Gives every dashboard mean "
    "an uncertainty band without distributional assumptions — and "
    "unlike m23's OLS bands, works for ANY plug-in statistic. "
    "Exactness: Poisson cutoffs are Python-computed hex literals "
    "(a43 device); weights are integers; selections replace "
    "quantile interpolation. Scale: the expansion is 32x the "
    "calendar-bounded hourly grid, map-side combined back down. "
    "Ref parity: reference confidence reporting "
    "(src/enhanced_spark_etl.py:680-700)",
)
def m34_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bootstrap_ci_from_hourly(_hourly_series(spark, sf_dir))


def bootstrap_ci_from_hourly(hourly_grid: DataFrame) -> DataFrame:
    """The m34 resampling pass over any (event_type, h, hv DECIMAL)
    grid — shared with t31's streaming state table so the monitor
    equals batch m34 bit-for-bit under any micro-batch slicing."""
    from ..functions.numeric import davg

    hourly = hourly_grid.select(
        "event_type", "h", F.col("hv").cast("double").alias("x")
    )
    u = F.substring(
        F.md5(
            F.concat_ws(
                "|",
                F.col("event_type"),
                F.col("h").cast("string"),
                F.col("b").cast("string"),
            )
        ),
        1,
        6,
    )
    w = sum(
        F.when(u >= F.lit(c), 1).otherwise(0) for c in _M34_CUTS
    )
    expanded = (
        hourly.withColumn(
            "b", F.explode(F.sequence(F.lit(0), F.lit(_M34_B - 1)))
        )
        .withColumn("w", w)
    )
    resamples = expanded.groupBy("event_type", "b").agg(
        F.sum("w").cast("bigint").alias("wsum"),
        F.sum((F.col("w") * F.col("x")).cast("decimal(27,6)"))
        .cast("double")
        .alias("wx"),
    )
    means = resamples.groupBy("event_type").agg(
        F.array_sort(
            F.collect_list(
                F.when(F.col("wsum") > 0, F.col("wx") / F.col("wsum"))
            )
        ).alias("ms")
    )
    point = hourly.groupBy("event_type").agg(
        davg("x").alias("mean_x"),
        F.count("*").cast("bigint").alias("n_hours"),
    )
    return point.join(means, "event_type").select(
        "event_type",
        "n_hours",
        "mean_x",
        F.lit(_M34_B).cast("bigint").alias("n_resamples"),
        F.element_at("ms", 2).alias("ci_lo"),
        F.element_at("ms", _M34_B - 1).alias("ci_hi"),
    )


# t31's oracle is m34's (shared below m34's registration).
share_oracle("t31_streaming_bootstrap_ci", "m34_bootstrap_ci")


# --- m35 (ext.): Grubbs max-studentized-deviation outlier statistic -------------------


@register(
    "m35_grubbs_outlier",
    # Grubbs' test statistic G = max|x - mean| / s per event type — the
    # single-most-extreme-observation screen that complements v05's
    # fixed |z|>3 flags (v05 counts threshold crossings; m35 finds THE
    # candidate outlier and its studentized distance). mean and s come
    # from exact decimal moments (davg/dstddev: bit-identical doubles
    # on both engines); |x - mean| is one deterministic double
    # expression per row whose MAX is order-free; the argmax id uses
    # the min-id-at-max tie-break. G is ROUND(,9).
    oracle=f"""
    WITH stats AS (
      SELECT event_type,
             CAST(COUNT(value) AS BIGINT) AS n,
             {sql_davg('value')} AS mean_v,
             {sql_dstddev('value')} AS std_v
      FROM events GROUP BY event_type
    ),
    ads AS (
      SELECT e.event_type, e.event_id, ABS(e.value - s.mean_v) AS ad
      FROM events e JOIN stats s USING (event_type)
    ),
    mx AS (SELECT event_type, MAX(ad) AS mad FROM ads GROUP BY event_type)
    SELECT s.event_type, s.n, s.mean_v, s.std_v,
           CAST(m.mad AS DOUBLE) AS max_abs_dev,
           ROUND(m.mad / s.std_v, 9) AS g_stat,
           CAST(MIN(CASE WHEN a.ad = m.mad THEN a.event_id END) AS BIGINT)
             AS outlier_event_id
    FROM ads a
    JOIN mx m USING (event_type)
    JOIN stats s USING (event_type)
    GROUP BY s.event_type, s.n, s.mean_v, s.std_v, m.mad
    """,
    doc="m35 (ext.): Grubbs outlier statistic per event type — "
    "G = max|x - mean|/s plus the offending event id (min-id "
    "tie-break). v05 counts |z|>3 crossings; m35 ranks the single "
    "most extreme observation for the 'investigate this reading' "
    "workflow. Exactness: decimal-moment mean/stddev, one double "
    "abs-deviation expression per row (MAX is order-free), "
    "ROUND(,9) on the studentized ratio. Scale: two map-combined "
    "aggregates over events plus two broadcast joins of the 5-row "
    "stats/max tables — no window over raw events, no sort. "
    "Ref parity: anomaly-detection report (src/spark_etl.py:127-133)",
)
def m35_grubbs_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.numeric import davg, dstddev

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    )
    stats = ev.groupBy("event_type").agg(
        F.count("value").cast("bigint").alias("n"),
        davg("value").alias("mean_v"),
        dstddev("value").alias("std_v"),
    )
    ads = ev.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "event_id",
        "n",
        "mean_v",
        "std_v",
        F.abs(F.col("value") - F.col("mean_v")).alias("ad"),
    )
    mx = ads.groupBy("event_type").agg(F.max("ad").alias("mad"))
    return (
        ads.join(F.broadcast(mx), "event_type")
        .groupBy("event_type", "n", "mean_v", "std_v", "mad")
        .agg(
            F.min(F.when(F.col("ad") == F.col("mad"), F.col("event_id")))
            .cast("bigint")
            .alias("outlier_event_id")
        )
        .select(
            "event_type",
            "n",
            "mean_v",
            "std_v",
            F.col("mad").cast("double").alias("max_abs_dev"),
            F.round(F.col("mad") / F.col("std_v"), 9).alias("g_stat"),
            "outlier_event_id",
        )
    )


# --- m36 (ext.): multiple OLS (trend + weekend) via closed-form normal equations -------


def _m36_det3(r1: tuple, r2: tuple, r3: tuple) -> str:
    """3x3 determinant expression (expanded along the first row) over
    column-name strings — ONE formula string consumed verbatim by BOTH
    engines (F.expr on the Spark side, inline SQL in the oracle), so the
    IEEE evaluation order cannot drift between them."""
    a1, a2, a3 = r1
    b1, b2, b3 = r2
    c1, c2, c3 = r3
    return (
        f"({a1} * ({b2} * {c3} - {b3} * {c2})"
        f" - {a2} * ({b1} * {c3} - {b3} * {c1})"
        f" + {a3} * ({b1} * {c2} - {b2} * {c1}))"
    )


# design matrix [1, t, w]: M = X'X with sww == sw (w is 0/1)
_M36_D = _m36_det3(("n", "st", "sw"), ("st", "stt", "stw"), ("sw", "stw", "sw"))
_M36_D0 = _m36_det3(("sy", "st", "sw"), ("sty", "stt", "stw"), ("swy", "stw", "sw"))
_M36_D1 = _m36_det3(("n", "sy", "sw"), ("st", "sty", "stw"), ("sw", "swy", "sw"))
_M36_D2 = _m36_det3(("n", "st", "sy"), ("st", "stt", "sty"), ("sw", "stw", "swy"))
_M36_B0 = f"({_M36_D0} / {_M36_D})"
_M36_B1 = f"({_M36_D1} / {_M36_D})"
_M36_B2 = f"({_M36_D2} / {_M36_D})"
_M36_SSE = f"(syy - {_M36_B0} * sy - {_M36_B1} * sty - {_M36_B2} * swy)"
_M36_SST = "(syy - sy * sy / n)"


@register(
    "m36_multiple_regression",
    # Closed-form MULTIPLE regression — hourly demand on (trend,
    # weekend): the 3x3 normal equations solved by Cramer's rule from
    # nine mergeable decimal moments. Every determinant/beta/R^2
    # expression is ONE shared formula string evaluated by both
    # engines (F.expr == inline SQL), m23's moment device supplies
    # deterministic inputs, ROUND(,6) on the final outputs.
    oracle=f"""
    WITH {_hourly_series_sql().strip()},
    t AS (
      SELECT event_type,
             CAST(h AS DOUBLE) AS x,
             CAST(CASE WHEN (h // 24) % 7 IN (5, 6)
                       THEN 1 ELSE 0 END AS DOUBLE) AS w,
             CAST(hv AS DOUBLE) AS y
      FROM hourly
    ),
    m AS (
      SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
             {sql_dsum('x', 38)} AS st, {sql_dsum('w', 38)} AS sw,
             {sql_dsum('y', 38)} AS sy, {sql_dsum('x*x', 38)} AS stt,
             {sql_dsum('x*w', 38)} AS stw, {sql_dsum('x*y', 38)} AS sty,
             {sql_dsum('w*y', 38)} AS swy, {sql_dsum('y*y', 38)} AS syy
      FROM t GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_hours,
           ROUND({_M36_B0}, 6) AS beta0,
           ROUND({_M36_B1}, 6) AS beta_trend,
           ROUND({_M36_B2}, 6) AS beta_weekend,
           ROUND(1 - {_M36_SSE} / {_M36_SST}, 6) AS r2
    FROM m WHERE n > 3 AND {_M36_D} <> 0
    """,
    doc="m36 (ext.): closed-form multiple OLS — hourly demand regressed "
    "on (hour index, weekend flag) per event type, the 3x3 normal "
    "equations solved by Cramer's rule. m06/m23 fit ONE predictor; "
    "m36 shows the engine does true multivariate regression from "
    "nine map-combined decimal moments: one aggregate over the "
    "hourly grid, no iterative solver, no MLlib, merges across "
    "shards (the sufficient-statistics property that makes it one "
    "pass at 100 TB). Determinism: every determinant/beta/R^2 is "
    "one formula string shared verbatim between F.expr and the SQL "
    "oracle. No reference analog beyond the MLlib regression stage "
    "(src/enhanced_spark_etl.py:451-511) — re-derived as closed form",
)
def m36_multiple_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multiple_regression_from_hourly(_hourly_series(spark, sf_dir))


def multiple_regression_from_hourly(hourly: DataFrame) -> DataFrame:
    """m36's finalize over any (event_type, h, hv) grid — shared with
    t33's streaming monitor so the incrementally-merged state finalizes
    through the identical moment fold and Cramer expressions."""
    t = hourly.select(
        "event_type",
        F.col("h").cast("double").alias("x"),
        F.expr(
            "CAST(CASE WHEN (h DIV 24) % 7 IN (5, 6) THEN 1 ELSE 0 END"
            " AS DOUBLE)"
        ).alias("w"),
        F.col("hv").cast("double").alias("y"),
    )
    m = t.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n"),
        dsum("x", 38).alias("st"),
        dsum("w", 38).alias("sw"),
        dsum("y", 38).alias("sy"),
        dsum(F.col("x") * F.col("x"), 38).alias("stt"),
        dsum(F.col("x") * F.col("w"), 38).alias("stw"),
        dsum(F.col("x") * F.col("y"), 38).alias("sty"),
        dsum(F.col("w") * F.col("y"), 38).alias("swy"),
        dsum(F.col("y") * F.col("y"), 38).alias("syy"),
    )
    return (
        m.filter(F.col("n") > 3)
        .filter(F.expr(f"{_M36_D} <> 0"))
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n_hours"),
            F.expr(f"ROUND({_M36_B0}, 6)").alias("beta0"),
            F.expr(f"ROUND({_M36_B1}, 6)").alias("beta_trend"),
            F.expr(f"ROUND({_M36_B2}, 6)").alias("beta_weekend"),
            F.expr(f"ROUND(1 - {_M36_SSE} / {_M36_SST}, 6)").alias("r2"),
        )
    )


# t33's oracle is m36's (shared below m36's registration).
share_oracle("t33_streaming_regression", "m36_multiple_regression")


# --- m37 (ext.): Croston's method for intermittent demand -------------------------------

_M37_A = 0.5  # smoothing constant for both size and interval estimates


@register(
    "m37_croston_intermittent",
    # Croston's method — THE forecaster for sparse/intermittent series
    # where Holt/HW (m15/m17) degenerate: smooth the nonzero demand
    # SIZES and the INTERVALS between them separately; forecast =
    # size/interval. Runs on the zero-filled daily demand calendar per
    # event type; the sequential update is m15/m17's fold device — an
    # identical left fold over identical day-ordered doubles on both
    # engines (accumulator [S, I, q, init, n_demand]), so every output
    # is bit-exact before the final ROUND(,6).
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             CAST(FLOOR((CAST(FLOOR(epoch(ts)) AS BIGINT) - 1704067200)
                        / 86400.0) AS BIGINT) AS day,
             CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS z
      FROM events GROUP BY 1, 2
    ),
    span AS (
      SELECT event_type, MIN(day) AS dmin, MAX(day) AS dmax
      FROM daily GROUP BY 1
    ),
    grid AS (
      SELECT s.event_type, u.d AS day
      FROM span s, unnest(range(s.dmin, s.dmax + 1)) AS u(d)
    ),
    filled AS (
      SELECT g.event_type, g.day, COALESCE(d.z, CAST(0 AS DOUBLE)) AS z
      FROM grid g LEFT JOIN daily d
        ON d.event_type = g.event_type AND d.day = g.day
    ),
    ser AS (
      SELECT event_type, list(z ORDER BY day) AS zs
      FROM filled GROUP BY 1
    ),
    fold AS (
      SELECT event_type, len(zs) AS n_days,
             list_reduce(
               list_prepend(
                 [CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
                  CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
                  CAST(0 AS DOUBLE)],
                 list_transform(zs, e -> [e])),
               (acc, x) -> CASE
                 WHEN x[1] > 0 AND acc[4] = 0 THEN
                   [x[1], acc[3] + 1, CAST(0 AS DOUBLE),
                    CAST(1 AS DOUBLE), CAST(1 AS DOUBLE)]
                 WHEN x[1] > 0 THEN
                   [{_M37_A} * x[1] + {1 - _M37_A} * acc[1],
                    {_M37_A} * (acc[3] + 1) + {1 - _M37_A} * acc[2],
                    CAST(0 AS DOUBLE), CAST(1 AS DOUBLE), acc[5] + 1]
                 ELSE
                   [acc[1], acc[2], acc[3] + 1, acc[4], acc[5]]
               END) AS st
      FROM ser
    )
    SELECT event_type,
           CAST(n_days AS BIGINT) AS n_days,
           CAST(st[5] AS BIGINT) AS n_demand_days,
           ROUND(st[5] / n_days, 6) AS demand_rate,
           ROUND(st[1], 6) AS size_est,
           ROUND(st[2], 6) AS interval_est,
           CASE WHEN st[4] = 1 THEN ROUND(st[1] / st[2], 6) END
             AS croston_forecast
    FROM fold
    """,
    doc=f"m37 (ext.): Croston's intermittent-demand forecast (alpha="
    f"{_M37_A}) over each type's zero-filled daily demand calendar — "
    "separate exponential smoothing of nonzero demand sizes and "
    "inter-demand intervals, forecast = size/interval: the method "
    "of record for spare-parts-style sparse series where m15/m17's "
    "smoothers chase zeros. Completes the forecasting family: m15 "
    "level, m17 level+trend+season, m22/m30 selection, m37 "
    "intermittent. Engine-exact via the m15/m17 fold device "
    "([S, I, gap, init, n] accumulator); one map-combined daily "
    "pre-agg is the only data shuffle, the fold runs on the "
    "calendar-bounded series. No reference analog beyond the "
    "forecasting stage (src/enhanced_spark_etl.py:451-511) — "
    "extension per brief for the intermittent case",
)
def m37_croston_intermittent(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sec = F.floor(F.unix_timestamp("ts")).cast("bigint")
    daily = (
        ev.select(
            "event_type",
            F.floor((sec - 1704067200) / 86400.0).cast("bigint").alias("day"),
            F.col("value").cast("decimal(27,6)").alias("v"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("v").cast("double").alias("z"))
    )
    span = daily.groupBy("event_type").agg(
        F.min("day").alias("dmin"), F.max("day").alias("dmax")
    )
    grid = span.select(
        "event_type",
        F.explode(F.sequence("dmin", "dmax")).alias("day"),
    )
    filled = grid.join(daily, ["event_type", "day"], "left").select(
        "event_type",
        "day",
        F.coalesce("z", F.lit(0.0)).alias("z"),
    )
    ser = filled.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "z"))),
            lambda s: s["z"],
        ).alias("zs")
    )
    a = _M37_A

    def step(acc, x):
        first = F.array(
            x,
            acc[2] + F.lit(1.0),
            F.lit(0.0),
            F.lit(1.0),
            F.lit(1.0),
        )
        update = F.array(
            F.lit(a) * x + F.lit(1 - a) * acc[0],
            F.lit(a) * (acc[2] + F.lit(1.0)) + F.lit(1 - a) * acc[1],
            F.lit(0.0),
            F.lit(1.0),
            acc[4] + F.lit(1.0),
        )
        skip = F.array(acc[0], acc[1], acc[2] + F.lit(1.0), acc[3], acc[4])
        return (
            F.when((x > 0) & (acc[3] == 0), first)
            .when(x > 0, update)
            .otherwise(skip)
        )

    acc0 = F.array(*[F.lit(0.0)] * 5)
    fold = ser.select(
        "event_type",
        F.size("zs").cast("bigint").alias("n_days"),
        F.aggregate("zs", acc0, step).alias("st"),
    )
    st = F.col("st")
    return fold.select(
        "event_type",
        "n_days",
        st[4].cast("bigint").alias("n_demand_days"),
        F.round(st[4] / F.col("n_days"), 6).alias("demand_rate"),
        F.round(st[0], 6).alias("size_est"),
        F.round(st[1], 6).alias("interval_est"),
        F.when(st[3] == 1, F.round(st[0] / st[1], 6)).alias(
            "croston_forecast"
        ),
    )


# --- m38 (ext.): Theta-method forecast (OLS detrend + SES recombination) ---------------


@register(
    "m38_theta_method",
    # The M3-competition winner, engine-exact: (1) closed-form OLS line
    # over the hourly series via LEFT-FOLD double sums (identical fold
    # order on both engines — the m15 device, so no decimal scaffolding
    # is needed even though the sums are floats), (2) the theta=2 line
    # y_t = 2*x_t - (a + b*t) amplifies curvature, (3) SES(alpha=0.5)
    # folds over y, (4) the h=1 forecast averages the SES level with
    # the trend extrapolation. Every arithmetic expression is written
    # in the SAME textual order in both engines; no rounding anywhere.
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             CAST(FLOOR((CAST(FLOOR(epoch(ts)) AS BIGINT) - 1704067200)
                        / 3600.0) AS BIGINT) AS h,
             SUM(CAST(value AS DECIMAL(27,6))) AS hv
      FROM events GROUP BY 1, 2
    ),
    ser AS (
      SELECT event_type, list(CAST(hv AS DOUBLE) ORDER BY h) AS xs
      FROM hourly GROUP BY 1
    ),
    base AS (
      SELECT event_type, xs, len(xs) AS n,
             CAST(len(xs) AS DOUBLE) AS nd
      FROM ser WHERE len(xs) >= 2
    ),
    sums AS (
      SELECT *,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE), xs),
                         (acc, x) -> acc + x) AS sx,
             list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                            list_transform(range(1, n + 1),
                                           i -> i * xs[i])),
               (acc, x) -> acc + x) AS stx
      FROM base
    ),
    par AS (
      SELECT *, nd * (nd + 1) / 2 AS st_,
             nd * (nd + 1) * (2 * nd + 1) / 6 AS stt
      FROM sums
    ),
    ab AS (
      SELECT *, (nd * stx - st_ * sx) / (nd * stt - st_ * st_) AS b
      FROM par
    ),
    ab2 AS (SELECT *, (sx - b * st_) / nd AS a FROM ab),
    th AS (
      SELECT *, list_transform(range(1, n + 1),
                               i -> 2 * xs[i] - (a + b * i)) AS ys
      FROM ab2
    ),
    fin AS (
      SELECT *, list_reduce(list_prepend(ys[1], ys[2:]),
                            (acc, y) -> 0.5 * y + 0.5 * acc) AS s
      FROM th
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_hours,
           a AS intercept, b AS slope, s AS theta_ses,
           0.5 * s + 0.5 * (a + b * (nd + 1)) AS forecast_next
    FROM fin
    """,
    doc="m38 (ext.): Theta-method forecast per event type — OLS-detrend "
    "the hourly demand series, double the deviations (theta = 2), SES "
    "the theta line at alpha = 0.5, and average that level with the "
    "trend extrapolation for the one-step-ahead forecast. The M3 "
    "benchmark's winning simple method, completing the family: m15 "
    "level+trend, m17 seasonal, m22/m30 selection, m37 intermittent, "
    "m38 theta. Engine-exact via the m15 fold device: both engines run "
    "identical left folds over identical doubles (OLS sums, theta "
    "transform, SES recurrence), so every output is bit-identical with "
    "no rounding. Scale: one map-combined hourly pre-agg is the only "
    "data shuffle; folds run on the calendar-bounded series. No "
    "reference analog beyond the MLlib forecasting stage "
    "(src/enhanced_spark_etl.py:451-511) — re-derived as closed form",
)
def m38_theta_method(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = _hourly_series(spark, sf_dir)
    ser = (
        hourly.groupBy("event_type")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("h", F.col("hv").cast("double").alias("v"))
                    )
                ),
                lambda s: s["v"],
            ).alias("xs")
        )
        .filter(F.size("xs") >= 2)
        .withColumn("n", F.size("xs"))
        .withColumn("nd", F.col("n").cast("double"))
    )
    xs = F.col("xs")
    sums = ser.withColumn(
        "sx",
        F.aggregate(xs, F.lit(0.0), lambda acc, x: acc + x),
    ).withColumn(
        "stx",
        F.aggregate(
            F.transform(
                F.sequence(F.lit(1), F.col("n")),
                lambda i: i.cast("double") * F.element_at(xs, i),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    par = sums.withColumn(
        "st_", F.col("nd") * (F.col("nd") + 1) / 2
    ).withColumn(
        "stt",
        F.col("nd") * (F.col("nd") + 1) * (2 * F.col("nd") + 1) / 6,
    )
    ab = par.withColumn(
        "b",
        (F.col("nd") * F.col("stx") - F.col("st_") * F.col("sx"))
        / (F.col("nd") * F.col("stt") - F.col("st_") * F.col("st_")),
    ).withColumn(
        "a", (F.col("sx") - F.col("b") * F.col("st_")) / F.col("nd")
    )
    th = ab.withColumn(
        "ys",
        F.transform(
            F.sequence(F.lit(1), F.col("n")),
            lambda i: F.lit(2) * F.element_at(xs, i)
            - (F.col("a") + F.col("b") * i.cast("double")),
        ),
    )
    fin = th.withColumn(
        "s",
        F.aggregate(
            F.slice(F.col("ys"), 2, F.col("n") - 1),
            F.element_at(F.col("ys"), 1),
            lambda acc, y: F.lit(0.5) * y + F.lit(0.5) * acc,
        ),
    )
    return fin.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_hours"),
        F.col("a").alias("intercept"),
        F.col("b").alias("slope"),
        F.col("s").alias("theta_ses"),
        (
            F.lit(0.5) * F.col("s")
            + F.lit(0.5)
            * (F.col("a") + F.col("b") * (F.col("nd") + 1))
        ).alias("forecast_next"),
    )


# --- M39 (ext.): damped-trend Holt smoothing (Gardner-McKenzie) ------------------

_M39_PHI = 0.9


@register(
    "m39_damped_holt",
    # m15's pair fold with Gardner-McKenzie damping: the trend is
    # multiplied by phi at every step, so long-horizon forecasts
    # flatten to the plateau level + trend * phi/(1-phi) instead of
    # extrapolating a straight line off the end of the data — the
    # robustness fix that made damped Holt the default in the M3/M4
    # forecasting competitions. Engine-exactness is m15's argument
    # verbatim: both engines run the IDENTICAL left fold over the
    # identical h-ordered doubles (F.aggregate ≙ list_reduce, pair
    # accumulator as a 2-array), and every float literal interpolates
    # from the same Python constants — bit-identical, no rounding.
    oracle=f"""
    WITH hourly AS (
      SELECT event_type,
             CAST(FLOOR((CAST(FLOOR(epoch(ts)) AS BIGINT) - 1704067200)
                        / 3600.0) AS BIGINT) AS h,
             SUM(CAST(value AS DECIMAL(27,6))) AS hv
      FROM events GROUP BY 1, 2
    ),
    ser AS (
      SELECT event_type, list(CAST(hv AS DOUBLE) ORDER BY h) AS xs
      FROM hourly GROUP BY 1
    ),
    fold AS (
      SELECT event_type, len(xs) AS n_hours,
             list_reduce(
               list_prepend([xs[1], xs[2] - xs[1]],
                            list_transform(xs[3:],
                                           e -> [e, CAST(0.0 AS DOUBLE)])),
               (acc, x) ->
                 [{_M15_ALPHA} * x[1]
                    + {1 - _M15_ALPHA} * (acc[1] + {_M39_PHI} * acc[2]),
                  {_M15_BETA} * (({_M15_ALPHA} * x[1]
                    + {1 - _M15_ALPHA} * (acc[1] + {_M39_PHI} * acc[2]))
                    - acc[1])
                    + {1 - _M15_BETA} * ({_M39_PHI} * acc[2])]) AS st
      FROM ser WHERE len(xs) >= 2
    )
    SELECT event_type, CAST(n_hours AS BIGINT) AS n_hours,
           st[1] AS level, st[2] AS trend,
           st[1] + {_M39_PHI} * st[2] AS forecast_next,
           -- CAST both operands: bare 0.9 / (1 - 0.9) is DECIMAL
           -- arithmetic in DuckDB (exactly 9.0), but the Spark side's
           -- Python constant is the double quotient 9.000000000000002
           st[1] + st[2] * (CAST({_M39_PHI} AS DOUBLE)
                            / (1 - CAST({_M39_PHI} AS DOUBLE)))
             AS forecast_plateau
    FROM fold
    """,
    doc=f"M39 (ext.): damped-trend Holt smoothing (Gardner-McKenzie; "
    f"alpha={_M15_ALPHA}, beta={_M15_BETA}, phi={_M39_PHI}) of the "
    "hourly demand series per event type — final level/damped-trend "
    "state, the one-step forecast (level + phi*trend) and the "
    "infinite-horizon plateau (level + trend*phi/(1-phi)), the number "
    "a capacity planner actually wants where m15's linear trend "
    "diverges. Completes the exponential-smoothing family: m15 Holt, "
    "m17 Holt-Winters seasonal, m37 Croston intermittent, m38 Theta, "
    "m39 damped. Engine-exact via the m15 pair-fold device (identical "
    "left fold over identical doubles on both engines; zero rounding). "
    "Scale: the fold runs on the calendar-bounded per-type series "
    "after one map-combined hourly pre-agg — 8,760 points/year per "
    "type no matter how many raw events feed it. No reference analog "
    "— extension per brief",
)
def m39_damped_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = _hourly_series(spark, sf_dir)
    ser = hourly.groupBy("event_type").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct("h", F.col("hv").cast("double").alias("v"))
                )
            ),
            lambda s: s["v"],
        ).alias("xs")
    ).filter(F.size("xs") >= 2)
    xs = F.col("xs")
    init = F.array(xs[0], xs[1] - xs[0])
    rest = F.slice(xs, 3, F.greatest(F.size(xs) - 2, F.lit(0)))
    a, b, phi = _M15_ALPHA, _M15_BETA, _M39_PHI
    st = F.aggregate(
        rest,
        init,
        lambda acc, x: F.array(
            a * x + (1 - a) * (acc[0] + phi * acc[1]),
            b * ((a * x + (1 - a) * (acc[0] + phi * acc[1])) - acc[0])
            + (1 - b) * (phi * acc[1]),
        ),
    )
    return ser.select(
        "event_type",
        F.size("xs").cast("bigint").alias("n_hours"),
        st[0].alias("level"),
        st[1].alias("trend"),
        (st[0] + phi * st[1]).alias("forecast_next"),
        (st[0] + st[1] * F.lit(phi / (1 - phi))).alias("forecast_plateau"),
    )


# --- m40 (ext.): Chow structural-break test (two-segment OLS, closed form) --------------


def _m40_sse(s: str) -> str:
    """Simple-OLS SSE (in micro^2 units) from raw INTEGER moments for
    segment suffix ``s`` — ONE formula string consumed verbatim by BOTH
    engines (m36's device): SSE = Syy - Sxy^2/Sxx on centered second
    moments. Every input column is an integer-valued decimal/BIGINT
    (m41's micro-quantization device), so the decimal->double
    conversions are single correctly-rounded operations on both engines
    — the 30x probe showed DECIMAL(38,6) fractional conversions drift
    by an ulp between engines, which the cancellation here amplifies."""
    n, sx, sy = f"CAST(n{s} AS DOUBLE)", f"CAST(sx{s} AS DOUBLE)", f"CAST(sy{s} AS DOUBLE)"
    sxx, sxy, syy = f"CAST(sxx{s} AS DOUBLE)", f"CAST(sxy{s} AS DOUBLE)", f"CAST(syy{s} AS DOUBLE)"
    cxy = f"({sxy} - {sx} * {sy} / {n})"
    return (
        f"({syy} - {sy} * {sy} / {n}"
        f" - {cxy} * {cxy} / ({sxx} - {sx} * {sx} / {n}))"
    )


# micro^2 cancels in the F ratio, so F works on the raw integer moments
_M40_F = (
    f"ROUND((({_m40_sse('p')} - ({_m40_sse('1')} + {_m40_sse('2')})) / 2)"
    f" / (({_m40_sse('1')} + {_m40_sse('2')})"
    f"    / (CAST(np AS DOUBLE) - 4)), 6)"
)


@register(
    "m40_chow_test",
    # DID THE TREND CHANGE? The Chow test for a structural break at a
    # known point: fit the hourly-demand-on-time OLS pooled and on the
    # two halves around the series midpoint, then F-test whether the
    # split fits beat the pooled fit by more than chance
    # (F = ((SSE_p - SSE_1 - SSE_2)/k) / ((SSE_1+SSE_2)/(n-2k)), k=2).
    # m19/m28 SEARCH for the best break; m40 is the inference
    # companion — given a candidate break, is it SIGNIFICANT? The
    # hourly values quantize to exact integer DECI-units first (m41's
    # quantization idea, coarser scale chosen so every moment VALUE
    # stays under 2^63: int64->double conversion is hardware-exact on
    # both engines, while the int128 path a DECIMAL(38,0) above 2^63
    # takes drifted 1 ulp at 30x and the SSE cancellation amplified
    # it). Every SSE/F expression is a shared
    # formula string (m36's device); the break point is the integer
    # midpoint of each type's observed hour span. Scale: one
    # map-combined moment aggregate over the hourly grid; the fold is
    # a per-type scalar row. Headroom: exactness holds while each
    # segment's sum of (10*hv)^2 stays under 2^63 (~3e9 deci-units per
    # hour over a year of hours) — ~100x the 30x-replicated volume;
    # beyond that both engines stay within 1 ulp but bit-parity may go.
    oracle=f"""
    WITH {{hourly}},
    t AS (
      SELECT event_type, h,
             CAST(h AS BIGINT) AS x,
             CAST(FLOOR(hv * 10 + 0.5) AS DECIMAL(13,0)) AS ym
      FROM hourly
    ),
    sp AS (
      SELECT event_type,
             CAST(FLOOR((MIN(h) + MAX(h)) / 2.0) AS BIGINT) AS mid
      FROM t GROUP BY event_type
    ),
    m AS (
      SELECT t.event_type, sp.mid,
             CAST(COUNT(*) AS BIGINT) AS np,
             CAST(SUM(CASE WHEN h <= mid THEN 1 ELSE 0 END) AS BIGINT)
               AS n1,
             CAST(SUM(CASE WHEN h > mid THEN 1 ELSE 0 END) AS BIGINT)
               AS n2,
             CAST(SUM(x) AS BIGINT) AS sxp,
             CAST(SUM(x * x) AS BIGINT) AS sxxp,
             CAST(SUM(ym) AS DECIMAL(38,0)) AS syp,
             CAST(SUM(ym * ym) AS DECIMAL(38,0)) AS syyp,
             CAST(SUM(CAST(x AS DECIMAL(13,0)) * ym) AS DECIMAL(38,0))
               AS sxyp,
             CAST(SUM(CASE WHEN h <= mid THEN x ELSE 0 END) AS BIGINT)
               AS sx1,
             CAST(SUM(CASE WHEN h <= mid THEN x * x ELSE 0 END) AS BIGINT)
               AS sxx1,
             CAST(SUM(CASE WHEN h <= mid THEN ym ELSE 0 END)
                  AS DECIMAL(38,0)) AS sy1,
             CAST(SUM(CASE WHEN h <= mid THEN ym * ym
                  ELSE 0 END) AS DECIMAL(38,0)) AS syy1,
             CAST(SUM(CASE WHEN h <= mid THEN
                    CAST(x AS DECIMAL(13,0)) * ym ELSE 0 END)
                  AS DECIMAL(38,0)) AS sxy1,
             CAST(SUM(CASE WHEN h > mid THEN x ELSE 0 END) AS BIGINT)
               AS sx2,
             CAST(SUM(CASE WHEN h > mid THEN x * x ELSE 0 END) AS BIGINT)
               AS sxx2,
             CAST(SUM(CASE WHEN h > mid THEN ym ELSE 0 END)
                  AS DECIMAL(38,0)) AS sy2,
             CAST(SUM(CASE WHEN h > mid THEN ym * ym
                  ELSE 0 END) AS DECIMAL(38,0)) AS syy2,
             CAST(SUM(CASE WHEN h > mid THEN
                    CAST(x AS DECIMAL(13,0)) * ym ELSE 0 END)
                  AS DECIMAL(38,0)) AS sxy2
      FROM t JOIN sp ON t.event_type = sp.event_type
      GROUP BY t.event_type, sp.mid
    )
    SELECT event_type, mid AS break_h, np AS n_hours, n1, n2,
           ROUND({{sse_p}} / 1e2, 6) AS sse_pooled,
           ROUND(({{sse_1}} + {{sse_2}}) / 1e2, 6) AS sse_split,
           {{f_stat}} AS f_stat
    FROM m
    WHERE n1 > 2 AND n2 > 2
      AND n1 * sxx1 - sx1 * sx1 <> 0
      AND n2 * sxx2 - sx2 * sx2 <> 0
    """.replace("{hourly}", _hourly_series_sql().strip())
    .replace("{sse_p}", _m40_sse("p"))
    .replace("{sse_1}", _m40_sse("1"))
    .replace("{sse_2}", _m40_sse("2"))
    .replace("{f_stat}", _M40_F),
    doc="m40 (ext.): Chow structural-break test — given the midpoint of "
    "each event type's hour span as the candidate break, does fitting "
    "the demand trend separately before/after beat one pooled line by "
    "more than chance? The inference companion to m19/m28's "
    "break-point SEARCH: they locate, m40 tests. Closed form from "
    "eighteen mergeable INTEGER-micro moments (m41's quantization "
    "device — fractional decimal->double conversions drifted an ulp "
    "between engines at 30x and the SSE cancellation amplified it; "
    "integer-valued conversions are single correctly-rounded steps), "
    "one map-combined aggregate over the hourly grid, every SSE/F "
    "expression a formula string shared verbatim between engines "
    "(m36's device). No reference analog — extension per brief",
)
def m40_chow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = _hourly_series(spark, sf_dir)
    t = hourly.select(
        "event_type",
        "h",
        F.col("h").cast("bigint").alias("x"),
        F.floor(F.col("hv") * 10 + 0.5).cast("decimal(13,0)").alias("ym"),
    )
    sp = t.groupBy("event_type").agg(
        F.floor((F.min("h") + F.max("h")) / 2.0).cast("bigint").alias("mid")
    )
    j = t.join(F.broadcast(sp), "event_type")
    lo = F.col("h") <= F.col("mid")
    hi = F.col("h") > F.col("mid")
    x, ym = F.col("x"), F.col("ym")
    yy = ym * ym
    xy = x.cast("decimal(13,0)") * ym
    zero = F.lit(0)

    def seg(cond, expr):
        return F.sum(F.when(cond, expr).otherwise(zero))

    m = j.groupBy("event_type", "mid").agg(
        F.count("*").cast("bigint").alias("np"),
        seg(lo, F.lit(1)).cast("bigint").alias("n1"),
        seg(hi, F.lit(1)).cast("bigint").alias("n2"),
        F.sum(x).cast("bigint").alias("sxp"),
        F.sum(x * x).cast("bigint").alias("sxxp"),
        F.sum(ym).cast("decimal(38,0)").alias("syp"),
        F.sum(yy).cast("decimal(38,0)").alias("syyp"),
        F.sum(xy).cast("decimal(38,0)").alias("sxyp"),
        seg(lo, x).cast("bigint").alias("sx1"),
        seg(lo, x * x).cast("bigint").alias("sxx1"),
        seg(lo, ym).cast("decimal(38,0)").alias("sy1"),
        seg(lo, yy).cast("decimal(38,0)").alias("syy1"),
        seg(lo, xy).cast("decimal(38,0)").alias("sxy1"),
        seg(hi, x).cast("bigint").alias("sx2"),
        seg(hi, x * x).cast("bigint").alias("sxx2"),
        seg(hi, ym).cast("decimal(38,0)").alias("sy2"),
        seg(hi, yy).cast("decimal(38,0)").alias("syy2"),
        seg(hi, xy).cast("decimal(38,0)").alias("sxy2"),
    )
    return (
        m.filter((F.col("n1") > 2) & (F.col("n2") > 2))
        .filter(
            (F.col("n1") * F.col("sxx1") - F.col("sx1") * F.col("sx1") != 0)
            & (F.col("n2") * F.col("sxx2") - F.col("sx2") * F.col("sx2") != 0)
        )
        .select(
            "event_type",
            F.col("mid").alias("break_h"),
            F.col("np").alias("n_hours"),
            "n1", "n2",
            F.expr(f"ROUND({_m40_sse('p')} / 1e2, 6)").alias("sse_pooled"),
            F.expr(
                f"ROUND(({_m40_sse('1')} + {_m40_sse('2')}) / 1e2, 6)"
            ).alias("sse_split"),
            F.expr(_M40_F).alias("f_stat"),
        )
    )


# --- m41 (ext.): Durbin-Watson residual-autocorrelation statistic -----------------------

# Shared formula strings (m36's device): the OLS slope/intercept from
# raw decimal moments, and the DW ratio from exact integer micro sums.
_M41_BETA = (
    "((CAST(n AS DOUBLE) * sxy - sx * sy)"
    " / (CAST(n AS DOUBLE) * sxx - sx * sx))"
)
_M41_DW = (
    "ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 9)"
)
_M41_RHO = (
    "ROUND(1 - CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 2, 9)"
)


@register(
    "m41_durbin_watson",
    # ARE THE TREND RESIDUALS AUTOCORRELATED? Durbin-Watson on the
    # hourly-demand-on-time OLS: DW = sum (e_t - e_{t-1})^2 / sum e_t^2
    # (2 = none, -> 0 positive, -> 4 negative). The diagnostic that says
    # whether m06/m23's OLS standard errors can be trusted — m26's
    # Ljung-Box tests a raw series; m41 tests the REGRESSION residuals.
    # Determinism device: slope/intercept are shared-string doubles
    # from mergeable decimal moments; each residual is then QUANTIZED
    # to integer micros via FLOOR(e*1e6 + 0.5) (identical half-up on
    # both engines, no ROUND-midpoint trap), so both DW sums are exact
    # DECIMAL(38,0) integers — order-free — and the final ratio is one
    # shared double. Scale: one moment aggregate + one broadcast join
    # back + one lag window over the bounded hourly grid per type.
    oracle=f"""
    WITH {_hourly_series_sql().strip()},
    t AS (
      SELECT event_type, CAST(h AS DOUBLE) AS x, CAST(hv AS DOUBLE) AS y,
             h
      FROM hourly
    ),
    m AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             {sql_dsum('x', 38)} AS sx, {sql_dsum('y', 38)} AS sy,
             {sql_dsum('x*x', 38)} AS sxx, {sql_dsum('x*y', 38)} AS sxy
      FROM t GROUP BY event_type
    ),
    r AS (
      SELECT t.event_type, t.h,
             CAST(FLOOR((t.y - ((m.sy - {_M41_BETA} * m.sx)
                                / CAST(m.n AS DOUBLE)
                                + {_M41_BETA} * t.x)) * 1000000 + 0.5)
                  AS BIGINT) AS em
      FROM t JOIN m ON t.event_type = m.event_type
      WHERE m.n > 2 AND (CAST(m.n AS DOUBLE) * m.sxx - m.sx * m.sx) <> 0
    ),
    lagged AS (
      SELECT event_type, em,
             LAG(em) OVER (PARTITION BY event_type ORDER BY h) AS pm
      FROM r
    ),
    s AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
             CAST(SUM(CASE WHEN pm IS NOT NULL
                  THEN CAST((em - pm) AS DECIMAL(19,0))
                       * CAST((em - pm) AS DECIMAL(19,0)) ELSE 0 END)
                  AS DECIMAL(38,0)) AS num,
             CAST(SUM(CAST(em AS DECIMAL(19,0))
                      * CAST(em AS DECIMAL(19,0)))
                  AS DECIMAL(38,0)) AS den
      FROM lagged GROUP BY event_type
    )
    SELECT event_type, n_hours,
           {_M41_DW} AS dw_stat,
           {_M41_RHO} AS rho1
    FROM s
    WHERE den <> 0
    """,
    doc="m41 (ext.): Durbin-Watson statistic — first-order "
    "autocorrelation of the hourly-demand trend residuals per event "
    "type, the validity check for every OLS in the m06/m23/m36 family "
    "(DW near 2 = independent errors; near 0 = the trend's standard "
    "errors are fiction). Residuals quantize to integer micros with "
    "engine-identical FLOOR half-up, making both DW sums exact "
    "order-free DECIMAL(38,0) integers; slope/intercept come from "
    "mergeable decimal moments via shared formula strings. One "
    "aggregate + one broadcast join + one bounded lag window. "
    "No reference analog — extension per brief; complements m26 "
    "(Ljung-Box on raw series) with the regression-residual test",
)
def m41_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = _hourly_series(spark, sf_dir)
    t = hourly.select(
        "event_type",
        F.col("h").cast("double").alias("x"),
        F.col("hv").cast("double").alias("y"),
        "h",
    )
    x, y = F.col("x"), F.col("y")
    m = t.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        dsum(x, 38).alias("sx"),
        dsum(y, 38).alias("sy"),
        dsum(x * x, 38).alias("sxx"),
        dsum(x * y, 38).alias("sxy"),
    )
    r = (
        t.join(F.broadcast(m), "event_type")
        .filter(
            (F.col("n") > 2)
            & (F.expr("CAST(n AS DOUBLE) * sxx - sx * sx") != 0)
        )
        .select(
            "event_type", "h",
            F.expr(
                f"CAST(FLOOR((y - ((sy - {_M41_BETA} * sx)"
                f" / CAST(n AS DOUBLE)"
                f" + {_M41_BETA} * x)) * 1000000 + 0.5) AS BIGINT)"
            ).alias("em"),
        )
    )
    w = W.partitionBy("event_type").orderBy("h")
    lagged = r.select(
        "event_type", "em", F.lag("em").over(w).alias("pm")
    )
    s = lagged.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_hours"),
        F.sum(
            F.when(
                F.col("pm").isNotNull(),
                (F.col("em") - F.col("pm")).cast("decimal(19,0)")
                * (F.col("em") - F.col("pm")).cast("decimal(19,0)"),
            ).otherwise(F.lit(0))
        )
        .cast("decimal(38,0)")
        .alias("num"),
        F.sum(
            F.col("em").cast("decimal(19,0)")
            * F.col("em").cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("den"),
    )
    return s.filter(F.col("den") != 0).select(
        "event_type", "n_hours",
        F.expr(_M41_DW).alias("dw_stat"),
        F.expr(_M41_RHO).alias("rho1"),
    )


# --- m42 (ext.): forecast-accuracy metric suite (MASE / sMAPE / bias) --------------------

# Shared final-metric strings over exact decimal sums (a47's device).
_M42_MAE = "ROUND(CAST(sum_ae AS DOUBLE) / n_evals, 6)"
_M42_SMAPE = "ROUND(100 * CAST(sum_sm AS DOUBLE) / n_evals, 6)"
_M42_BIAS = "ROUND(CAST(sum_me AS DOUBLE) / n_evals, 6)"
_M42_MASE = (
    "ROUND((CAST(sum_ae AS DOUBLE) / n_evals)"
    " / (CAST(ins_ae AS DOUBLE) / ins_n), 6)"
)


@register(
    "m42_forecast_metrics",
    # m22 reports MAE/RMSE — scale-DEPENDENT numbers you cannot compare
    # across event types or hand to a reviewer. m42 adds the standard
    # scale-free suite over the SAME holdout and models: MASE (MAE over
    # the in-sample one-step naive MAE — the Hyndman-Koehler gold
    # standard: < 1 beats naive), symmetric MAPE (bounded percentage),
    # and mean error (bias sign). Determinism: each per-row error term
    # is an identical IEEE expression on both engines, then ROUND(,6)
    # -> DECIMAL(27,6) so every sum is exact and order-free (x146's
    # round-then-decimal-sum device; no ordered list folds needed);
    # final ratios are shared strings. Scale: lag windows on the
    # bounded hourly grid, one map-combined error aggregate per
    # (type, model), a broadcast join for the per-type MASE scale.
    oracle=f"""
    WITH {_hourly_series_sql().strip()},
    ser AS (
      SELECT event_type, h, CAST(hv AS DOUBLE) AS x,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS t,
             COUNT(*) OVER (PARTITION BY event_type) AS n,
             LAG(CAST(hv AS DOUBLE), 1) OVER
               (PARTITION BY event_type ORDER BY h) AS x1,
             LAG(CAST(hv AS DOUBLE), 24) OVER
               (PARTITION BY event_type ORDER BY h) AS x24,
             FIRST_VALUE(CAST(hv AS DOUBLE)) OVER
               (PARTITION BY event_type ORDER BY h) AS x0
      FROM hourly
    ),
    insample AS (
      SELECT event_type,
             CAST(SUM(CAST(ROUND(ABS(x - x1), 6) AS DECIMAL(27,6)))
                  AS DECIMAL(38,6)) AS ins_ae,
             CAST(COUNT(*) AS BIGINT) AS ins_n
      FROM ser
      WHERE t >= 2 AND t <= n - {{H}} AND x1 IS NOT NULL
      GROUP BY event_type
    ),
    holdout AS (
      SELECT * FROM ser
      WHERE t > n - {{H}} AND x24 IS NOT NULL AND t >= 3
    ),
    preds AS (
      SELECT event_type, 'naive' AS model, x, x1 AS yhat FROM holdout
      UNION ALL
      SELECT event_type, 'seasonal_naive', x, x24 FROM holdout
      UNION ALL
      SELECT event_type, 'drift', x,
             x1 + (x1 - x0) / (t - 2) FROM holdout
    ),
    terms AS (
      SELECT event_type, model,
             CAST(ROUND(ABS(x - yhat), 6) AS DECIMAL(27,6)) AS ae_r,
             CAST(ROUND(CASE WHEN ABS(x) + ABS(yhat) = 0 THEN 0
                        ELSE 2 * ABS(x - yhat) / (ABS(x) + ABS(yhat))
                        END, 6) AS DECIMAL(27,6)) AS sm_r,
             CAST(ROUND(x - yhat, 6) AS DECIMAL(27,6)) AS me_r
      FROM preds
    ),
    agg AS (
      SELECT event_type, model,
             CAST(COUNT(*) AS BIGINT) AS n_evals,
             CAST(SUM(ae_r) AS DECIMAL(38,6)) AS sum_ae,
             CAST(SUM(sm_r) AS DECIMAL(38,6)) AS sum_sm,
             CAST(SUM(me_r) AS DECIMAL(38,6)) AS sum_me
      FROM terms GROUP BY event_type, model
    )
    SELECT a.event_type, a.model, a.n_evals,
           {_M42_MAE} AS mae,
           {_M42_MASE} AS mase,
           {_M42_SMAPE} AS smape_pct,
           {_M42_BIAS} AS mean_error
    FROM agg a JOIN insample i ON a.event_type = i.event_type
    WHERE i.ins_ae > 0
    """.replace("{H}", "48"),
    doc="m42 (ext.): forecast-accuracy metric suite — MASE, symmetric "
    "MAPE and mean-error bias for m22's three baseline models over "
    "the same 48-hour holdout, the scale-free numbers a model review "
    "actually compares (MASE < 1 = beats in-sample naive; sMAPE "
    "bounded 0-200; bias sign shows systematic over/under-forecast). "
    "Per-row error terms are identical IEEE doubles rounded to 6dp "
    "then decimal-summed (x146's device) — exact, order-free, no "
    "ordered folds. One error aggregate per (type, model) plus a "
    "broadcast per-type MASE scale join. No reference analog — "
    "extension per brief; completes the evaluation family m22/m24/m27",
)
def m42_forecast_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    H = 48
    hourly = _hourly_series(spark, sf_dir)
    wp = W.partitionBy("event_type").orderBy("h")
    wa = W.partitionBy("event_type")
    x = F.col("hv").cast("double")
    ser = hourly.select(
        "event_type", "h", x.alias("x"),
        F.row_number().over(wp).alias("t"),
        F.count("*").over(wa).alias("n"),
        F.lag(x, 1).over(wp).alias("x1"),
        F.lag(x, 24).over(wp).alias("x24"),
        F.first(x).over(wp).alias("x0"),
    )
    insample = (
        ser.filter(
            (F.col("t") >= 2)
            & (F.col("t") <= F.col("n") - H)
            & F.col("x1").isNotNull()
        )
        .select(
            "event_type",
            F.round(F.abs(F.col("x") - F.col("x1")), 6)
            .cast("decimal(27,6)")
            .alias("ae"),
        )
        .groupBy("event_type")
        .agg(
            F.sum("ae").cast("decimal(38,6)").alias("ins_ae"),
            F.count("*").cast("bigint").alias("ins_n"),
        )
    )
    holdout = ser.filter(
        (F.col("t") > F.col("n") - H)
        & F.col("x24").isNotNull()
        & (F.col("t") >= 3)
    )

    def model(name: str, yhat) -> DataFrame:
        return holdout.select(
            "event_type", F.lit(name).alias("model"), "x",
            yhat.alias("yhat"),
        )

    preds = (
        model("naive", F.col("x1"))
        .unionByName(model("seasonal_naive", F.col("x24")))
        .unionByName(
            model(
                "drift",
                F.col("x1")
                + (F.col("x1") - F.col("x0")) / (F.col("t") - 2),
            )
        )
    )
    ad = F.abs(F.col("x") - F.col("yhat"))
    den = F.abs(F.col("x")) + F.abs(F.col("yhat"))
    terms = preds.select(
        "event_type", "model",
        F.round(ad, 6).cast("decimal(27,6)").alias("ae_r"),
        F.round(
            F.when(den == 0, F.lit(0.0)).otherwise(2 * ad / den), 6
        )
        .cast("decimal(27,6)")
        .alias("sm_r"),
        F.round(F.col("x") - F.col("yhat"), 6)
        .cast("decimal(27,6)")
        .alias("me_r"),
    )
    agg = terms.groupBy("event_type", "model").agg(
        F.count("*").cast("bigint").alias("n_evals"),
        F.sum("ae_r").cast("decimal(38,6)").alias("sum_ae"),
        F.sum("sm_r").cast("decimal(38,6)").alias("sum_sm"),
        F.sum("me_r").cast("decimal(38,6)").alias("sum_me"),
    )
    return (
        agg.join(F.broadcast(insample), "event_type")
        .filter(F.col("ins_ae") > 0)
        .select(
            "event_type", "model", "n_evals",
            F.expr(_M42_MAE).alias("mae"),
            F.expr(_M42_MASE).alias("mase"),
            F.expr(_M42_SMAPE).alias("smape_pct"),
            F.expr(_M42_BIAS).alias("mean_error"),
        )
    )


# --- m43 (ext.): Wald-Wolfowitz runs test on trend residuals ----------------------------

# Shared z string: runs count vs the exact run-count moments
# mu = 2 n1 n2 / n + 1 and var = 2 n1 n2 (2 n1 n2 - n) / (n^2 (n-1)),
# every input an exact BIGINT, every float op in one fixed order.
_M43_Z = (
    "ROUND((CAST(runs AS DOUBLE)"
    " - (2 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
    "    / CAST(n1 + n2 AS DOUBLE) + 1))"
    " / SQRT(2 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
    "        * (2 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
    "           - CAST(n1 AS DOUBLE) - CAST(n2 AS DOUBLE))"
    "        / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)"
    "           * (CAST(n1 + n2 AS DOUBLE) - 1))), 9)"
)


@register(
    "m43_runs_test",
    # DO THE RESIDUALS WANDER IN STREAKS? The Wald-Wolfowitz runs test
    # on the sign sequence of m41's hourly-trend residuals: too FEW
    # runs = positive serial dependence (streaky errors), too MANY =
    # negative (zig-zag). The sign-level companion to m41's
    # magnitude-level Durbin-Watson — DW can be fooled by a few large
    # residuals; the runs test sees only the sign pattern. Determinism:
    # residuals quantize to integer micros exactly as m41 (FLOOR
    # half-up — identical on both engines), the sign is then an exact
    # integer comparison (em > 0; zeros count below, documented), and
    # runs/n1/n2 are BIGINT folds over one lag window on the bounded
    # hourly grid. z is one shared fixed-order string; NULL when the
    # null variance degenerates (n1*n2 = 0 or n1 = n2 = 1).
    oracle=f"""
    WITH {_hourly_series_sql().strip()},
    t AS (
      SELECT event_type, CAST(h AS DOUBLE) AS x, CAST(hv AS DOUBLE) AS y,
             h
      FROM hourly
    ),
    m AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             {sql_dsum('x', 38)} AS sx, {sql_dsum('y', 38)} AS sy,
             {sql_dsum('x*x', 38)} AS sxx, {sql_dsum('x*y', 38)} AS sxy
      FROM t GROUP BY event_type
    ),
    r AS (
      SELECT t.event_type, t.h,
             CAST(FLOOR((t.y - ((m.sy - {_M41_BETA} * m.sx)
                                / CAST(m.n AS DOUBLE)
                                + {_M41_BETA} * t.x)) * 1000000 + 0.5)
                  AS BIGINT) AS em
      FROM t JOIN m ON t.event_type = m.event_type
      WHERE m.n > 2 AND (CAST(m.n AS DOUBLE) * m.sxx - m.sx * m.sx) <> 0
    ),
    sg AS (
      SELECT event_type, h,
             CASE WHEN em > 0 THEN 1 ELSE 0 END AS s
      FROM r
    ),
    lagged AS (
      SELECT event_type, s,
             LAG(s) OVER (PARTITION BY event_type ORDER BY h) AS p
      FROM sg
    ),
    agg AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_hours,
             CAST(SUM(s) AS BIGINT) AS n1,
             CAST(SUM(1 - s) AS BIGINT) AS n2,
             CAST(SUM(CASE WHEN p IS NULL OR s <> p THEN 1 ELSE 0 END)
                  AS BIGINT) AS runs
      FROM lagged GROUP BY event_type
    )
    SELECT event_type, n_hours,
           n1 AS n_pos, n2 AS n_neg, runs,
           CASE WHEN n1 > 0 AND n2 > 0 AND 2 * n1 * n2 <> n1 + n2
                THEN {_M43_Z} END AS z_stat
    FROM agg
    """,
    doc="m43 (ext.): Wald-Wolfowitz runs test — randomness of the "
    "SIGN sequence of the hourly-demand trend residuals per event "
    "type. Counts maximal runs of same-sign residuals in time order "
    "and standardizes against the exact run-count null moments; too "
    "few runs exposes streaky (positively dependent) errors, too "
    "many exposes alternation. Complements m41: Durbin-Watson reads "
    "residual magnitudes, the runs test reads only their pattern. "
    "Same exactness device as m41 (micro-quantized residuals -> "
    "integer signs -> BIGINT folds; one shared z string, NULL on "
    "degenerate variance). One moment aggregate + one broadcast "
    "join + one lag window over the bounded hourly grid — identical "
    "plan at 100 TB. No reference analog — extension per brief",
)
def m43_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = _hourly_series(spark, sf_dir)
    t = hourly.select(
        "event_type",
        F.col("h").cast("double").alias("x"),
        F.col("hv").cast("double").alias("y"),
        "h",
    )
    x, y = F.col("x"), F.col("y")
    m = t.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        dsum(x, 38).alias("sx"),
        dsum(y, 38).alias("sy"),
        dsum(x * x, 38).alias("sxx"),
        dsum(x * y, 38).alias("sxy"),
    )
    r = (
        t.join(F.broadcast(m), "event_type")
        .filter(
            (F.col("n") > 2)
            & (F.expr("CAST(n AS DOUBLE) * sxx - sx * sx") != 0)
        )
        .select(
            "event_type", "h",
            F.expr(
                f"CAST(FLOOR((y - ((sy - {_M41_BETA} * sx)"
                f" / CAST(n AS DOUBLE)"
                f" + {_M41_BETA} * x)) * 1000000 + 0.5) AS BIGINT)"
            ).alias("em"),
        )
    )
    sg = r.select(
        "event_type", "h",
        F.when(F.col("em") > 0, 1).otherwise(0).alias("s"),
    )
    w = W.partitionBy("event_type").orderBy("h")
    lagged = sg.select(
        "event_type", "s", F.lag("s").over(w).alias("p")
    )
    agg = lagged.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_hours"),
        F.sum("s").cast("bigint").alias("n1"),
        F.sum(F.lit(1) - F.col("s")).cast("bigint").alias("n2"),
        F.sum(
            F.when(
                F.col("p").isNull() | (F.col("s") != F.col("p")), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("runs"),
    )
    return agg.select(
        "event_type", "n_hours",
        F.col("n1").alias("n_pos"),
        F.col("n2").alias("n_neg"),
        "runs",
        F.when(
            (F.col("n1") > 0)
            & (F.col("n2") > 0)
            & (F.lit(2) * F.col("n1") * F.col("n2")
               != F.col("n1") + F.col("n2")),
            F.expr(_M43_Z),
        ).alias("z_stat"),
    )


# --- m44 (ext.): Pettitt changepoint test (rank-based, distribution-free) ----------------

# Shared strings: the integer pair sign, and the closed-form
# significance approximation p ~= 2 exp(-6 K^2 / (T^3 + T^2)).
_M44_SGN = "CASE WHEN x2 > x1 THEN 1 WHEN x2 < x1 THEN -1 ELSE 0 END"
_M44_P = (
    "ROUND(2 * EXP(-6 * CAST(k_stat AS DOUBLE) * CAST(k_stat AS DOUBLE)"
    " / (CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE)"
    "    * CAST(n_days AS DOUBLE)"
    "    + CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE))), 6)"
)


@register(
    "m44_pettitt_test",
    # WHEN did the level shift — without assuming normality? Pettitt's
    # test: U_t = sum_{i<=t<j} sgn(x_j - x_i); the changepoint is the
    # argmax of |U_t| and K = max|U_t| has the closed-form significance
    # approximation above. The rank-based companion to m19/m28's
    # least-squares break search (those find variance breaks fast but
    # inherit squared-error's outlier sensitivity; Pettitt sees only
    # sign order, so one wild day cannot fake a break). Device: daily
    # sums quantize to integer micros, the bounded (type x day) grid
    # self-joins into ordered pairs (i < j, calendar-bounded — T days a
    # year, never traffic), each pair's sign becomes +sgn at index i
    # and -sgn at index j of a difference array, and ONE cumulative
    # window rebuilds every U_t exactly — T^2 pairs but O(T) window
    # work, all BIGINT. Tie-break: earliest day achieving |U| = K.
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             CAST(FLOOR((CAST(FLOOR(epoch(ts)) AS BIGINT) - 1704067200)
                        / 86400.0) AS BIGINT) AS day,
             CAST(SUM(CAST(value AS DECIMAL(27,6))) * 1000000 AS BIGINT)
               AS xm
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, day, xm,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
               AS i
      FROM daily
    ),
    pairs AS (
      SELECT a.event_type, a.i AS i1, b.i AS i2,
             CAST({_M44_SGN.replace('x2', 'b.xm').replace('x1', 'a.xm')}
                  AS BIGINT) AS sgn
      FROM idx a JOIN idx b
        ON a.event_type = b.event_type AND a.i < b.i
    ),
    starts AS (
      SELECT event_type, i1 AS i, CAST(SUM(sgn) AS BIGINT) AS s
      FROM pairs GROUP BY 1, 2
    ),
    ends AS (
      SELECT event_type, i2 AS i, CAST(SUM(sgn) AS BIGINT) AS s
      FROM pairs GROUP BY 1, 2
    ),
    diffs AS (
      SELECT idx.event_type, idx.i, idx.day,
             COALESCE(st.s, 0) - COALESCE(en.s, 0) AS d
      FROM idx
      LEFT JOIN starts st
        ON idx.event_type = st.event_type AND idx.i = st.i
      LEFT JOIN ends en
        ON idx.event_type = en.event_type AND idx.i = en.i
    ),
    u AS (
      SELECT event_type, i, day,
             CAST(SUM(d) OVER (PARTITION BY event_type ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS ut,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
               AS t_days
      FROM diffs
    ),
    e2 AS (
      SELECT event_type, t_days, day, ut,
             MAX(ABS(ut)) OVER (PARTITION BY event_type) AS k_part
      FROM u WHERE i < t_days
    ),
    k AS (
      SELECT event_type, t_days AS n_days,
             MAX(ABS(ut)) AS k_stat,
             MIN(CASE WHEN ABS(ut) = k_part THEN day END) AS change_day
      FROM e2
      GROUP BY event_type, t_days
    )
    SELECT event_type, n_days, k_stat, change_day,
           {_M44_P} AS p_approx
    FROM k WHERE n_days > 1
    """,
    doc="m44 (ext.): Pettitt changepoint test — distribution-free "
    "single-changepoint detection on each event type's daily demand: "
    "K = max|U_t| over the rank statistic U_t = sum sgn(x_j - x_i) "
    "(i <= t < j), the argmax day, and the closed-form significance "
    "approximation. The robust companion to m19/m28's least-squares "
    "break search and m31's sequential Page-Hinkley: sign-order only, "
    "so outliers cannot fake a break. Micro-quantized daily sums make "
    "every pair sign an exact integer; the calendar-bounded grid "
    "self-join (T^2 pairs, T = days — never traffic-scaled) folds "
    "into a difference array and ONE cumulative window rebuilds all "
    "U_t in O(T). Earliest-day tie-break, all-BIGINT, one shared "
    "EXP string at the end (x27's ROUND-after-EXP device). No "
    "reference analog — extension per brief",
)
def m44_pettitt_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.floor(
                (F.floor(F.unix_timestamp("ts")).cast("bigint")
                 - 1704067200)
                / 86400.0
            )
            .cast("bigint")
            .alias("day"),
            F.col("value").cast("decimal(27,6)").alias("v"),
        )
        .groupBy("event_type", "day")
        .agg((F.sum("v") * 1000000).cast("bigint").alias("xm"))
    )
    return pettitt_from_daily(daily)


def pettitt_from_daily(daily: DataFrame) -> DataFrame:
    """m44's finalize from the (event_type, day, xm) micro-quantized
    daily grid — shared with t41's streaming monitor, whose hourly
    decimal state rolls up to the identical daily grid (decimal
    addition is associative), so the monitor equals batch m44
    bit-for-bit under any stream slicing."""
    idx = daily.select(
        "event_type", "day", "xm",
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("day"))
        .alias("i"),
    )
    a = idx.alias("a")
    b = idx.alias("b")
    sgn_expr = _M44_SGN.replace("x2", "b.xm").replace("x1", "a.xm")
    pairs = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.i") < F.col("b.i")),
        )
        .select(
            F.col("a.event_type").alias("event_type"),
            F.col("a.i").alias("i1"),
            F.col("b.i").alias("i2"),
            F.expr(sgn_expr).cast("bigint").alias("sgn"),
        )
    )
    starts = pairs.groupBy("event_type", "i1").agg(
        F.sum("sgn").cast("bigint").alias("s_st")
    )
    ends = pairs.groupBy("event_type", "i2").agg(
        F.sum("sgn").cast("bigint").alias("s_en")
    )
    diffs = (
        idx.join(
            starts,
            (idx.event_type == starts.event_type) & (idx.i == starts.i1),
            "left",
        )
        .drop(starts.event_type)
        .join(
            ends,
            (idx.event_type == ends.event_type) & (idx.i == ends.i2),
            "left",
        )
        .drop(ends.event_type)
        .select(
            idx.event_type.alias("event_type"), "i", "day",
            (
                F.coalesce(F.col("s_st"), F.lit(0))
                - F.coalesce(F.col("s_en"), F.lit(0))
            ).alias("d"),
        )
    )
    wc = (
        W.partitionBy("event_type")
        .orderBy("i")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wp = W.partitionBy("event_type")
    u = diffs.select(
        "event_type", "i", "day",
        F.sum("d").over(wc).cast("bigint").alias("ut"),
        F.count("*").over(
            wp.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        ).cast("bigint").alias("t_days"),
    )
    eligible = u.filter(F.col("i") < F.col("t_days")).withColumn(
        "k_part", F.max(F.abs(F.col("ut"))).over(wp)
    )
    k = (
        eligible.groupBy("event_type", "t_days")
        .agg(
            F.max(F.abs(F.col("ut"))).alias("k_stat"),
            F.min(
                F.when(
                    F.abs(F.col("ut")) == F.col("k_part"), F.col("day")
                )
            ).alias("change_day"),
        )
        .withColumnRenamed("t_days", "n_days")
    )
    return k.filter(F.col("n_days") > 1).select(
        "event_type", "n_days", "k_stat", "change_day",
        F.expr(_M44_P).alias("p_approx"),
    )


# t41's oracle is m44's: the hourly state rolls up to m44's exact daily
# grid, so state-merge + pettitt_from_daily == batch m44 under any slicing.
share_oracle("t41_streaming_pettitt", "m44_pettitt_test")


# --- m45 (ext.): forecast combination (mean / median-of-3 ensembles) ---------------------

# Shared row-wise prediction strings over m22's holdout columns: the
# drift forecast, the equal-weight mean combo, and the median-of-3
# combo (sum minus extremes — branch-free, identical IEEE on both
# engines). Per-row absolute errors are rounded once and summed as
# DECIMAL (m42's device), so every MAE is exact and order-free.
_M45_DR = "(x1 + (x1 - x0) / (t - 2))"
_M45_CMEAN = f"((x1 + x24 + {_M45_DR}) / 3)"
_M45_CMED = (
    f"(x1 + x24 + {_M45_DR}"
    f" - GREATEST(x1, x24, {_M45_DR}) - LEAST(x1, x24, {_M45_DR}))"
)


def _m45_mae(pred: str) -> str:
    return (
        f"ROUND(CAST(SUM(CAST(ROUND(ABS(x - {pred}), 6)"
        f" AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*), 6)"
    )


@register(
    "m45_forecast_combination",
    # THE OLDEST RESULT IN FORECASTING PRACTICE: the average of
    # mediocre forecasters routinely beats the best single one (Bates
    # & Granger 1969). m45 tests it on m22's exact holdout: the
    # equal-weight mean and the outlier-robust median-of-3 of the
    # naive / seasonal-naive / drift baselines, scored against each
    # other and against the best individual — per event type, with a
    # combo_beats_best verdict. m30 SELECTS one model; m45 asks
    # whether selection is even the right move (when the verdict is
    # true, routing traffic to a combiner beats any picker). Device:
    # m22's lag-window holdout columns, three shared row-wise
    # prediction strings (the median via sum-minus-extremes — no
    # branches, no sort), and m42's round-then-decimal-sum MAE. One
    # pass over the calendar-bounded hourly grid.
    oracle=f"""
    WITH {_hourly_series_sql().strip()},
    ser AS (
      SELECT event_type, h, CAST(hv AS DOUBLE) AS x,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS t,
             COUNT(*) OVER (PARTITION BY event_type) AS n,
             LAG(CAST(hv AS DOUBLE), 1) OVER
               (PARTITION BY event_type ORDER BY h) AS x1,
             LAG(CAST(hv AS DOUBLE), 24) OVER
               (PARTITION BY event_type ORDER BY h) AS x24,
             FIRST_VALUE(CAST(hv AS DOUBLE)) OVER
               (PARTITION BY event_type ORDER BY h) AS x0
      FROM hourly
    ),
    holdout AS (
      SELECT * FROM ser
      WHERE t > n - {_M22_HOLDOUT} AND x24 IS NOT NULL AND t >= 3
    ),
    m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_evals,
             {_m45_mae('x1')} AS mae_naive,
             {_m45_mae('x24')} AS mae_seasonal,
             {_m45_mae(_M45_DR)} AS mae_drift,
             {_m45_mae(_M45_CMEAN)} AS mae_combo_mean,
             {_m45_mae(_M45_CMED)} AS mae_combo_median
      FROM holdout GROUP BY event_type
    )
    SELECT event_type, n_evals, mae_naive, mae_seasonal, mae_drift,
           mae_combo_mean, mae_combo_median,
           LEAST(mae_naive, mae_seasonal, mae_drift) AS best_single,
           LEAST(mae_combo_mean, mae_combo_median)
             < LEAST(mae_naive, mae_seasonal, mae_drift)
             AS combo_beats_best
    FROM m
    """,
    doc="m45 (ext.): forecast combination — equal-weight mean and "
    "median-of-3 ensembles of m22's three baselines, backtested on "
    "the same exact holdout with a per-type combo_beats_best "
    "verdict (the Bates-Granger check: is COMBINING better than "
    "m30's model SELECTION here?). Branch-free median via "
    "sum-minus-extremes, shared prediction strings, m42's "
    "round-then-decimal-sum MAE — exact and order-free on both "
    "engines. One lag-window pass over the bounded hourly grid. "
    "No reference analog — extension per brief; completes the "
    "forecasting family m15/m17/m22/m30/m38/m39/m42",
)
def m45_forecast_combination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    hourly = _hourly_series(spark, sf_dir)
    wo = W.partitionBy("event_type").orderBy("h")
    ser = hourly.select(
        "event_type", "h",
        F.col("hv").cast("double").alias("x"),
        F.row_number().over(wo).alias("t"),
        F.count("*")
        .over(
            W.partitionBy("event_type").rowsBetween(
                W.unboundedPreceding, W.unboundedFollowing
            )
        )
        .alias("n"),
        F.lag(F.col("hv").cast("double"), 1).over(wo).alias("x1"),
        F.lag(F.col("hv").cast("double"), 24).over(wo).alias("x24"),
        F.first(F.col("hv").cast("double")).over(wo).alias("x0"),
    )
    holdout = ser.filter(
        (F.col("t") > F.col("n") - _M22_HOLDOUT)
        & F.col("x24").isNotNull()
        & (F.col("t") >= 3)
    )
    m = holdout.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_evals"),
        F.expr(_m45_mae("x1")).alias("mae_naive"),
        F.expr(_m45_mae("x24")).alias("mae_seasonal"),
        F.expr(_m45_mae(_M45_DR)).alias("mae_drift"),
        F.expr(_m45_mae(_M45_CMEAN)).alias("mae_combo_mean"),
        F.expr(_m45_mae(_M45_CMED)).alias("mae_combo_median"),
    )
    return m.select(
        "event_type", "n_evals", "mae_naive", "mae_seasonal",
        "mae_drift", "mae_combo_mean", "mae_combo_median",
        F.least(
            F.col("mae_naive"), F.col("mae_seasonal"), F.col("mae_drift")
        ).alias("best_single"),
        (
            F.least(F.col("mae_combo_mean"), F.col("mae_combo_median"))
            < F.least(
                F.col("mae_naive"),
                F.col("mae_seasonal"),
                F.col("mae_drift"),
            )
        ).alias("combo_beats_best"),
    )

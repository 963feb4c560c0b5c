"""Skew- and layout-aware execution patterns (SURVEY.md §4.4).

Three techniques the 100 TB tier needs beyond AQE's automatics, each
registered with an exact oracle proving the optimized plan returns the
same rows as the naive one:

- **Salted two-phase aggregation**: when a group key has pathological
  skew (a handful of keys holding most rows), one reducer per hot key
  becomes the straggler. Salting fans each key across S partial groups,
  then a second (tiny) aggregation merges the partials. Works for any
  algebraic aggregate (sum/count/min/max and means derived from them).
- **Salted broadcast join** is unnecessary here (broadcast joins don't
  shuffle the big side at all — the preferred fix when one side fits);
  AQE skew-join handles the sort-merge case (session.py conf).
- **Bucketed co-located join**: pre-bucketing both tables on the join key
  at write time lets repeated joins run with ZERO exchanges — the
  physical-plan test asserts the absence of Exchange nodes. This is the
  Spark-native replacement for the reference warehouse's indexed FK joins
  (`sql/real_data_schema.sql:160-174`), paying one shuffle at layout time
  instead of one per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import dsum, sql_dsum
from ..registry import register
from ..sources.catalog import load_table

N_SALTS = 16


def salted_sum_count(
    df: DataFrame, key: str, value: str, n_salts: int = N_SALTS
) -> DataFrame:
    """Two-phase skew-safe aggregation: (key, salt) partials → key finals.

    Phase 1 spreads each hot key over ``n_salts`` reducers; phase 2
    aggregates ``n_keys × n_salts`` partial rows — negligible at any
    scale. The salt hashes EVERY column (the row's full identity), not
    rand() and not just the value: a deterministic plan, and a hot key
    whose rows are near-identical in one column still spreads because the
    other columns differ.
    """
    salted = df.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salts))
    )
    partial = salted.groupBy(key, "__salt").agg(
        F.sum(F.col(value).cast("decimal(27,6)")).alias("psum"),
        F.count("*").alias("pcnt"),
    )
    return partial.groupBy(key).agg(
        F.sum("psum").cast("double").alias("total_value"),
        F.sum("pcnt").alias("n_rows"),
    )


@register(
    "k01_salted_skew_agg",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total_value,
           COUNT(*) AS n_rows
    FROM events
    GROUP BY event_type
    """,
    doc="salted two-phase aggregation over a 5-value hot key — identical "
    "result to the single-phase GROUP BY, no straggler reducer",
)
def k01_salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # event_type has ~5 distinct values over the whole table: the textbook
    # skew shape (every row lands on one of 5 reducers unsalted)
    ev = load_table(spark, sf_dir, "events")
    return salted_sum_count(ev, "event_type", "value")


SKEW_REP = 4  # fact replication: makes the straggler visible at sf0.1
MD5_ROUNDS = 16  # chained md5 per joined row: reduce-side CPU must outweigh
# the exchange cost or the straggler hides behind shuffle I/O at bench scale


def skewed_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive a pathologically skewed join key over lineitem: 95% of rows
    collapse onto key 0, the rest spread over 1..997. This reproduces the
    hot-key shape (one customer/device dominating the fact table) that
    makes unsalted sort-merge joins straggle at 100 TB.

    The fact is replicated ``SKEW_REP``× (broadcast nested-loop with a
    tiny range — no shuffle) and the post-join aggregation hashes each row
    ``MD5_ROUNDS``× so the hot reducer's CPU dominates exchange cost at
    bench scale; at 100 TB no amplification would be needed. The scan is
    fanned out first: locally it arrives as ONE split, which would
    serialize the replicate+salt map side on a single core — at 100 TB the
    scan carries thousands of splits natively and fan_out is a no-op."""
    from ..sources.catalog import fan_out

    li = fan_out(load_table(spark, sf_dir, "lineitem"), spark)
    rep = spark.range(SKEW_REP).select(F.col("id").alias("rep"))
    return li.crossJoin(rep).select(
        F.when(F.pmod(F.col("l_orderkey"), F.lit(20)) < 19, F.lit(0))
        .otherwise(F.lit(1) + F.pmod(F.col("l_orderkey"), F.lit(997)))
        .cast("long")
        .alias("skew_key"),
        "l_orderkey",
        "l_linenumber",
        "l_extendedprice",
        "rep",
    )


def skew_dim(spark: SparkSession) -> DataFrame:
    """998-row dimension covering the skewed key space, with a 7-bucket
    payload so the joined result aggregates to a checkable shape."""
    return spark.range(0, 998).select(
        F.col("id").alias("skew_key"),
        F.pmod(F.col("id"), F.lit(7)).alias("bucket"),
    )


def skew_join_naive(
    spark: SparkSession, sf_dir: str, n_mappers: int = 16
) -> DataFrame:
    """The straggler plan: unsalted sort-merge join on the hot key. With
    AQE skew-join disabled, the key-0 partition holds 95% of the fact and
    one reducer does 95% of the work. Exposed un-registered for the bench
    A/B and the AQE skew-split plan test; ``k04_skew_join_salted`` is the
    production pattern.

    ``n_mappers`` guarantees a multi-mapper fact: AQE's skew split
    subdivides a hot reducer partition along mapper-output block
    boundaries, so a single-mapper scan (the fixture's one small parquet
    file) is unsplittable no matter the thresholds. A 100 TB fact scan has
    thousands of map tasks natively; fan_out inside skewed_fact usually
    provides that shape already, so the explicit repartition only fires
    when the scan still arrived too narrow."""
    fact = skewed_fact(spark, sf_dir)
    if fact.rdd.getNumPartitions() < n_mappers:
        fact = fact.repartition(n_mappers)
    dim = skew_dim(spark)
    joined = fact.hint("merge").join(dim.hint("merge"), "skew_key")
    return _skew_agg(joined)


def _skew_agg(joined: DataFrame) -> DataFrame:
    """Post-join aggregation with deliberately CPU-heavy per-row work
    (``MD5_ROUNDS`` chained md5s over the row identity): the partial
    aggregate executes in the join's reduce stage, so hot-key concentration
    shows up as one straggler task doing 95% of the hashing. Identical
    expression in the DuckDB oracle keeps the result exactly checkable."""
    h = F.concat_ws("|", "l_orderkey", "l_linenumber", "rep")
    for _ in range(MD5_ROUNDS):
        h = F.md5(h)
    row_hash = F.ascii(F.substring(h, 1, 1))
    return joined.groupBy("bucket").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("l_extendedprice").cast("decimal(27,6)"))
        .cast("double")
        .alias("total_price"),
        F.sum(row_hash).alias("hash_check"),
    )


_SQL_CHAINED_MD5 = "concat_ws('|', l_orderkey, l_linenumber, rep)"
for _ in range(MD5_ROUNDS):
    _SQL_CHAINED_MD5 = f"md5({_SQL_CHAINED_MD5})"

_SKEW_ORACLE = f"""
    WITH fact AS (
      SELECT CASE WHEN l_orderkey % 20 < 19 THEN 0
                  ELSE 1 + (l_orderkey % 997) END AS skew_key,
             l_orderkey, l_linenumber, l_extendedprice, r.range AS rep
      FROM lineitem, range(0, {SKEW_REP}) r
    ),
    dim AS (SELECT range AS skew_key, range % 7 AS bucket FROM range(0, 998))
    SELECT d.bucket,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(f.l_extendedprice AS DECIMAL(27,6))) AS DOUBLE)
             AS total_price,
           CAST(SUM(ascii(substr({_SQL_CHAINED_MD5}, 1, 1))) AS BIGINT)
             AS hash_check
    FROM fact f JOIN dim d USING (skew_key)
    GROUP BY d.bucket
    """


@register(
    "k04_skew_join_salted",
    oracle=_SKEW_ORACLE,
    doc="salted sort-merge join over a 95%-hot key: fact rows salted by "
    "full-row hash into 16 sub-keys, dim exploded 16x, join on "
    "(key, salt) — the hot key's rows spread across 16 reducers instead "
    "of one straggler. Identical rows to the naive join (same oracle); "
    "bench.py A/Bs this against skew_join_naive with AQE skew-split "
    "disabled/enabled",
)
def k04_skew_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    fact = skewed_fact(spark, sf_dir)
    dim = skew_dim(spark)
    # salt on the full row identity (deterministic, spreads even when one
    # column is constant within the hot key); dim replicated S ways — at
    # 100 TB the dim stays tiny (998 × 16 rows) while the fact never
    # concentrates more than 1/S of a hot key on one reducer
    fact_s = fact.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(N_SALTS)),
    )
    dim_s = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(N_SALTS - 1)))
    ).select("skew_key", "__salt", "bucket")
    joined = fact_s.hint("merge").join(dim_s.hint("merge"), ["skew_key", "__salt"])
    return _skew_agg(joined)


def ensure_bucketed_tables(
    spark: SparkSession, sf_dir: str, n_buckets: int = 8
) -> tuple[str, str]:
    """Lay out orders and lineitem bucketed by the join key (one-time
    shuffle at write; every subsequent equi-join on o_orderkey/l_orderkey
    is exchange-free). Returns the two table names."""
    from ..sources.catalog import dir_tag, reset_managed_table

    tag = dir_tag(sf_dir)
    ot, lt = f"orders_b_{tag}", f"lineitem_b_{tag}"
    for name, src, key in ((ot, "orders", "o_orderkey"), (lt, "lineitem", "l_orderkey")):
        if not spark.catalog.tableExists(name):
            # a prior session may have left the managed location behind
            # without its catalog entry; reset clears both
            reset_managed_table(spark, name)
            (
                load_table(spark, sf_dir, src)
                .write.bucketBy(n_buckets, key)
                .sortBy(key)
                .mode("overwrite")
                .saveAsTable(name)
            )
    return ot, lt


@register(
    "k03_dynamic_partition_pruning",
    oracle="""
    WITH cnt AS (
      SELECT EXTRACT(year FROM o_orderdate) AS year, COUNT(*) AS n
      FROM orders GROUP BY 1
    ),
    dim AS (SELECT year FROM cnt ORDER BY n DESC, year DESC LIMIT 2)
    SELECT EXTRACT(year FROM o_orderdate) AS o_year,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
             AS revenue
    FROM orders JOIN dim ON EXTRACT(year FROM o_orderdate) = dim.year
    GROUP BY 1
    """,
    doc="runtime (dynamic) partition pruning: a year-partitioned fact "
    "joined to a dim whose filter is only known at runtime (top-2 years "
    "by order count) — the fact scan reads 2 of 7 partitions, with "
    "dynamicpruningexpression in PartitionFilters (plan-asserted). At "
    "100 TB this is the difference between scanning the whole fact table "
    "and scanning only the partitions the dim selects",
)
def k03_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    fact = ensure_year_partitioned_orders(spark, sf_dir)
    # the dim's predicate (rank by count) is NOT statically inferable onto
    # the fact side — Catalyst cannot constant-fold it, so only DPP's
    # runtime subquery can prune the fact partitions
    from pyspark.sql import Window

    cnt = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.year("o_orderdate").alias("year"))
        .count()
    )
    w = Window.orderBy(F.desc("count"), F.desc("year"))
    dim = cnt.withColumn("rk", F.row_number().over(w)).filter("rk <= 2").select("year")
    return (
        fact.join(dim, fact.o_year == dim.year)
        .groupBy(fact.o_year)
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(27,6)"))
            .cast("double")
            .alias("revenue"),
        )
    )


def ensure_year_partitioned_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lay orders out as a year-partitioned parquet fact (o_year=YYYY
    directories — SURVEY §4.4 layout) and return the scan over it."""
    from ..sources.io_ops import _scratch

    path = _scratch("k03_fact", sf_dir)
    (
        load_table(spark, sf_dir, "orders")
        .withColumn("o_year", F.year("o_orderdate"))
        .write.mode("overwrite")
        .partitionBy("o_year")
        .parquet(path)
    )
    return spark.read.parquet(path)


@register(
    "k02_bucketed_join",
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(27,6))) AS DOUBLE)
             AS total_price
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
    doc="co-located join on pre-bucketed tables: zero Exchange in the "
    "join (plan-asserted) — layout-time shuffle amortized across queries",
)
def k02_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ot, lt = ensure_bucketed_tables(spark, sf_dir)
    o = spark.table(ot)
    line = spark.table(lt)
    # disable broadcast for THIS join so the bucketed sort-merge path is
    # what's exercised (broadcast would hide the layout win at test scale)
    joined = o.hint("merge").join(
        line, o.o_orderkey == line.l_orderkey
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.col("l_extendedprice").cast("decimal(27,6)"))
        .cast("double")
        .alias("total_price"),
    )


# --- k05: Z-order (Morton) clustering for multi-dimensional data skipping ----

# One sort key can cluster one dimension; a 100 TB fact queried by BOTH
# user and day needs multi-dimensional clustering or every 2-D box
# predicate scans the full table on the un-clustered axis. Interleaving
# the bits of the two bucketized dimensions (the Morton / Z-order curve —
# the layout behind Delta Lake's OPTIMIZE ZORDER BY) makes file/partition
# bounding boxes small in BOTH dimensions, so min/max stats prune on
# either axis. The registered query materializes the per-bucket bounding
# boxes of a Z-order layout next to a 1-D layout and flags which buckets
# a fixed box query must scan: Z-order needs 1 of 16 buckets, the 1-D
# layout 4 of 16 (and would need all 16 for a day-only predicate).
ZBITS = 4  # 4 bits per dimension -> 16x16 grid, 8-bit z-values
ZCELLS = 1 << ZBITS
ZBUCKET_DIV = 16  # z div 16 -> 16 buckets of 16 cells
# The demo box predicate: xb in [4,7] x yb in [4,7].
ZBOX = (4, 7, 4, 7)


def _interleave_sql(x: str, y: str, idiv: str) -> str:
    """Bit-interleave SQL shared by both engines: bit i of x lands at
    position 2i, bit i of y at 2i+1 — pure div/mod arithmetic so the
    identical expression parses in Spark SQL (`div`) and DuckDB (`//`)."""
    terms = []
    for i in range(ZBITS):
        terms.append(f"((({x}) {idiv} {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"((({y}) {idiv} {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


def zorder_box_buckets(x_lo: int, x_hi: int, y_lo: int, y_hi: int) -> list[int]:
    """Enumerate the Z-buckets a box predicate can touch — the query-side
    half of Z-ordering (box -> z-range set). Cell count is bounded by the
    grid (256 here), so this is O(1) driver arithmetic at any data size."""
    def z(x: int, y: int) -> int:
        v = 0
        for i in range(ZBITS):
            v |= ((x >> i) & 1) << (2 * i)
            v |= ((y >> i) & 1) << (2 * i + 1)
        return v

    return sorted(
        {
            z(x, y) // ZBUCKET_DIV
            for x in range(x_lo, x_hi + 1)
            for y in range(y_lo, y_hi + 1)
        }
    )


def _zorder_cols(ev: DataFrame) -> DataFrame:
    """(xb, yb, zv) over events — THE layout derivation, shared by the
    k05 stats query and ensure_zorder_events so the pruning test's bucket
    IN-list can never drift from the written layout."""
    return ev.withColumns(
        {
            "xb": F.col("user_id") % ZCELLS,
            "yb": (F.dayofyear("ts") % ZCELLS).cast("bigint"),
        }
    ).withColumn("zv", F.expr(_interleave_sql("xb", "yb", "div")))


_K05_ORACLE = f"""
    WITH base AS (
      SELECT user_id % {ZCELLS} AS xb,
             dayofyear(ts) % {ZCELLS} AS yb
      FROM events
    ),
    zed AS (
      SELECT xb, yb, ({_interleave_sql("xb", "yb", "//")}) AS zv FROM base
    ),
    tagged AS (
      SELECT 'by_user' AS layout, CAST(xb AS BIGINT) AS bucket, xb, yb FROM zed
      UNION ALL
      SELECT 'zorder', CAST(zv // {ZBUCKET_DIV} AS BIGINT), xb, yb FROM zed
    )
    SELECT layout, bucket,
           COUNT(*) AS n_rows,
           CAST(MIN(xb) AS BIGINT) AS min_x, CAST(MAX(xb) AS BIGINT) AS max_x,
           CAST(MIN(yb) AS BIGINT) AS min_y, CAST(MAX(yb) AS BIGINT) AS max_y,
           (MIN(xb) <= {ZBOX[1]} AND MAX(xb) >= {ZBOX[0]}
            AND MIN(yb) <= {ZBOX[3]} AND MAX(yb) >= {ZBOX[2]}) AS scan_needed
    FROM tagged GROUP BY layout, bucket
"""


@register(
    "k05_zorder_layout",
    oracle=_K05_ORACLE,
    doc="Z-order (Morton) clustering vs 1-D layout: per-bucket bounding "
    "boxes over (user-bucket, day-of-year-bucket) and the buckets a 2-D "
    "box predicate must scan — Z-order prunes to 1 of 16 buckets where "
    "the 1-D layout scans 4 (and can never prune day-only predicates). "
    "One fact scan + a row-doubling explode + one hash agg; the interleave "
    "is pure JVM arithmetic",
)
def k05_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    zed = _zorder_cols(load_table(spark, sf_dir, "events")).select(
        "xb", "yb", "zv"
    )
    tagged = zed.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("by_user").alias("layout"),
                    F.col("xb").cast("bigint").alias("bucket"),
                ),
                F.struct(
                    F.lit("zorder").alias("layout"),
                    F.expr(f"zv div {ZBUCKET_DIV}").cast("bigint").alias("bucket"),
                ),
            )
        ).alias("t"),
        "xb",
        "yb",
    ).select("t.layout", "t.bucket", "xb", "yb")
    x_lo, x_hi, y_lo, y_hi = ZBOX
    return tagged.groupBy("layout", "bucket").agg(
        F.count("*").alias("n_rows"),
        F.min("xb").cast("bigint").alias("min_x"),
        F.max("xb").cast("bigint").alias("max_x"),
        F.min("yb").cast("bigint").alias("min_y"),
        F.max("yb").cast("bigint").alias("max_y"),
        (
            (F.min("xb") <= x_hi) & (F.max("xb") >= x_lo)
            & (F.min("yb") <= y_hi) & (F.max("yb") >= y_lo)
        ).alias("scan_needed"),
    )


def ensure_zorder_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lay events out as a z_bucket-partitioned parquet fact and return
    the scan over it — the physical half of the k05 demo: a 2-D box
    predicate becomes a static IN-list on z_bucket (via
    ``zorder_box_buckets``) and prunes directories."""
    from ..sources.io_ops import _scratch

    path = _scratch("k05_fact", sf_dir)
    zed = _zorder_cols(load_table(spark, sf_dir, "events")).select(
        "event_id", "user_id", "value", "xb", "yb", "zv"
    )
    (
        zed.withColumn("z_bucket", F.expr(f"zv div {ZBUCKET_DIV}"))
        .write.mode("overwrite")
        .partitionBy("z_bucket")
        .parquet(path)
    )
    return spark.read.parquet(path)


# --- k06: Bloom-filter semi-join pre-filter ---------------------------------

# The runtime-filter lever for joins whose dim side is too big to
# broadcast as rows but whose KEY SET compresses into a constant-size
# bitset: build a Bloom filter over the dim keys (here 2048 bits = 32
# longs, built with one bit_or aggregation), ship THAT to every fact
# scan, and drop non-matching fact rows before the shuffle. False
# positives are removed by the exact semi-join that follows, so the
# result is exactly the plain semi-join's — the oracle proves it. At
# 100 TB a 100M-key dim is tens of GB as a hash table but ~250 MB as a
# 1%-fp bloom (and this demo's 5%-dim fits in 256 bytes); Spark's own
# runtime bloom (spark.sql.optimizer.runtime.bloomFilter.*) applies the
# same idea automatically for shuffle joins, and k06 shows the explicit
# form that also works for pre-computed, persisted filters.
BLOOM_BITS = 2048
BLOOM_WORDS = BLOOM_BITS // 64
BLOOM_HASHES = 4
BLOOM_REGION = "ASIA"


def bloom_build(keys: DataFrame, key: str) -> list[int]:
    """Aggregate a key column into BLOOM_WORDS 64-bit words (bit_or of
    per-key one-hot words). Returns the driver-side word list — a bounded
    small-aggregate collect (<= 32 rows) per SURVEY §4.4's rule; at scale
    this is the tiny artifact you'd persist next to the dim snapshot."""
    hashed = keys.select(
        F.explode(
            F.array(
                *[
                    F.pmod(
                        F.xxhash64(F.lit(j), F.col(key)), F.lit(BLOOM_BITS)
                    ).alias("h")
                    for j in range(BLOOM_HASHES)
                ]
            )
        ).alias("h")
    )
    rows = (
        hashed.select(
            F.expr("cast(h div 64 as int)").alias("word_idx"),
            F.expr("shiftleft(1L, cast(h % 64 as int))").alias("bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("bit").alias("word"))
        .collect()
    )
    words = [0] * BLOOM_WORDS
    for r in rows:
        words[r["word_idx"]] = r["word"]
    return words


def bloom_contains(key: str, words: list[int]):
    """Membership predicate over the fact's ``key`` column — pure JVM
    bit arithmetic against the literal word array (no UDF, stays inside
    whole-stage codegen)."""
    arr = "array(" + ", ".join(f"{w}L" for w in words) + ")"
    conds = []
    for j in range(BLOOM_HASHES):
        # int literal {j}: must hash identically to bloom_build's
        # F.lit(j) (xxhash64 is type-sensitive — 0 INT != 0L)
        h = f"pmod(xxhash64({j}, {key}), {BLOOM_BITS})"
        conds.append(
            f"(element_at({arr}, cast({h} div 64 as int) + 1)"
            f" & shiftleft(1L, cast({h} % 64 as int))) != 0"
        )
    return F.expr(" AND ".join(conds))


def _region_supplier_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == BLOOM_REGION
    )
    return (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey")
    )


@register(
    "k06_bloom_prefilter",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(*) AS n_lines,
           {sql_dsum("l_extendedprice")} AS revenue
    FROM lineitem l
    WHERE EXISTS (
      SELECT 1 FROM supplier s
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = '{BLOOM_REGION}' AND s.s_suppkey = l.l_suppkey
    )
    GROUP BY l_returnflag
    """,
    doc="Bloom-filter semi-join pre-filter: the regional supplier key set "
    f"compressed to {BLOOM_BITS} bits and applied to the fact scan as "
    "literal bit arithmetic BEFORE the exact semi-join cleans up false "
    "positives — identical rows to the plain semi-join (the oracle), "
    "with the fact-side shuffle carrying only bloom survivors",
)
def k06_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    keys = _region_supplier_keys(spark, sf_dir)
    words = bloom_build(keys, "s_suppkey")
    # r11: fan_out measured 0.733 s -> 0.860 s (min-of-5 A/B), rejected
    fact = load_table(spark, sf_dir, "lineitem").filter(
        bloom_contains("l_suppkey", words)
    )
    exact = fact.join(
        F.broadcast(keys), F.col("l_suppkey") == F.col("s_suppkey"), "left_semi"
    )
    return exact.groupBy("l_returnflag").agg(
        F.count("*").alias("n_lines"),
        dsum("l_extendedprice").alias("revenue"),
    )


# --- k07 (ext.): shuffle-hash join strategy lever -----------------------------------


@register(
    "k07_shuffle_hash_join",
    # The third join-strategy lever after broadcast (j03) and bucketed
    # SMJ (k02): SHUFFLE_HASH builds an in-memory hash map per
    # partition of the SMALLER side instead of sorting BOTH sides —
    # the right call when the build side fits per-partition memory but
    # exceeds the broadcast threshold (a ~100 MB dim against a 100 TB
    # fact: too big to broadcast, wasteful to sort). Results are
    # strategy-invariant — the oracle pins them while the plan test
    # pins the ShuffledHashJoin operator.
    oracle="""
    SELECT c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
             AS revenue
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    """,
    doc="k07 (ext.): shuffle-hash join — the orders x customer join "
    "executed with the SHUFFLE_HASH hint (per-partition hash build on "
    "the customer side, no sort on either side), the strategy for "
    "dims too big to broadcast but small enough to hash per "
    "partition. Completes the join-strategy lever set: j03 broadcast, "
    "k02 bucketed sort-merge, k04 salted, k07 shuffle-hash. Scale: "
    "one co-partitioned shuffle each side, zero sorts (vs SMJ's two); "
    "plan-asserted ShuffledHashJoin. Exactness: integer counts + "
    "decimal revenue sums",
)
def k07_shuffle_hash_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = o.join(
        c.hint("SHUFFLE_HASH"), o["o_custkey"] == c["c_custkey"]
    )
    return joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").cast("bigint").alias("n_orders"),
        dsum("o_totalprice").alias("revenue"),
    )


# --- k08 (ext.): multi-count-distinct Expand elimination -----------------------------


def multi_distinct_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The anti-pattern half of the k08 A/B: three COUNT(DISTINCT) in
    one aggregate. Catalyst plans this with an Expand operator that
    REPLICATES every input row once per distinct column (3x the
    shuffle volume here; at 100 TB that is the difference between one
    pass and three). Kept un-registered — the plan test contrasts it
    against the rewrite."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("d_orders"),
        F.countDistinct("l_partkey").alias("d_parts"),
        F.countDistinct("l_suppkey").alias("d_supps"),
        F.count("*").cast("bigint").alias("n_rows"),
    )


@register(
    "k08_multi_distinct_rewrite",
    # Same answer as the naive triple COUNT(DISTINCT), but as three
    # per-column pre-aggregations (each a plain two-phase hash agg on
    # its own (flag, col) key) joined on the 3-row group key — no
    # Expand, no row replication, each column's dedup shuffles only
    # its own distinct keys.
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS d_orders,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS d_parts,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS d_supps,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="k08 (ext.): multi-count-distinct rewrite — COUNT(DISTINCT a), "
    "COUNT(DISTINCT b), COUNT(DISTINCT c) in one aggregate makes "
    "Catalyst Expand-replicate every row once per distinct column "
    "(3x shuffle volume); rewriting as three (key, col) "
    "pre-aggregations joined on the group key shuffles each column's "
    "distinct keys once and nothing else. The fourth aggregation "
    "lever after salting (k01/k04), pre-agg reuse (a18) and sketches "
    "(a17/a24: the approximate path when exactness is negotiable). "
    "Plan-asserted Expand-free vs the kept naive twin "
    "(multi_distinct_naive). Exactness: pure integer counts",
)
def k08_multi_distinct_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")

    def per_col(col: str, alias: str) -> DataFrame:
        return (
            li.select("l_returnflag", col)
            .groupBy("l_returnflag", col)
            .agg(F.lit(1).alias("_one"))
            .groupBy("l_returnflag")
            .agg(F.count("*").cast("bigint").alias(alias))
        )

    counts = li.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n_rows")
    )
    return (
        per_col("l_orderkey", "d_orders")
        .join(per_col("l_partkey", "d_parts"), "l_returnflag")
        .join(per_col("l_suppkey", "d_supps"), "l_returnflag")
        .join(counts, "l_returnflag")
        .select("l_returnflag", "d_orders", "d_parts", "d_supps", "n_rows")
    )


# --- k09 (ext.): AQE shuffle-partition coalescing lever -------------------------------


@register(
    "k09_aqe_coalesce",
    # The inverse lever of k01/k04's salting: when a shuffle's configured
    # partition count far exceeds the data (the 100 TB job's config
    # applied to one small dimension aggregate), AQE folds the
    # near-empty post-shuffle partitions into a few real ones at
    # runtime — task count tracks DATA, not config. The query is a
    # plain exact aggregate (strategy-invariant answer, like k07); the
    # plan test asserts the runtime AQEShuffleRead(coalesced) node.
    oracle="""
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(27,6))) AS DOUBLE)
             AS total_balance
    FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name
    """,
    doc="k09 (ext.): AQE shuffle-partition coalescing — a 25-group "
    "aggregate executed under the cluster-sized shuffle-partition "
    "config; AQE's runtime statistics collapse the near-empty "
    "post-shuffle partitions so the reduce stage launches tasks "
    "proportional to DATA, not configuration (the lever that makes "
    "one global spark.sql.shuffle.partitions setting safe across a "
    "100 TB fact job and its tiny dimension rollups in the same "
    "application). Answer is strategy-invariant (k07's pattern); "
    "tests/test_physical_plans.py asserts the executed plan carries "
    "AQEShuffleRead(coalesced). Exactness: integer counts + decimal "
    "balance sums",
)
def k09_aqe_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_nationkey", "c_acctbal")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        c.join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            dsum("c_acctbal").alias("total_balance"),
        )
    )


# --- k10 (ext.): eager-aggregation (partial agg below the join) lever -------------------


@register(
    "k10_eager_aggregation",
    # The "eager aggregation" / groupby-pushdown rewrite Catalyst does
    # NOT apply automatically: when a fact table joins its parent on
    # the fact's grouping key, pre-aggregating the fact BY THE JOIN KEY
    # below the join shrinks the join's probe side from |lineitem| to
    # |orders| rows before any wide row is built. The registered plan
    # is the rewritten form; the answer is strategy-invariant (exact
    # decimal sums are associative, counts add), so the plain
    # join-then-group SQL is the oracle. tests/test_physical_plans.py
    # asserts the partial aggregate sits below the join.
    oracle=f"""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
    doc="k10 (ext.): eager-aggregation lever — revenue and item counts "
    "per order priority with the lineitem side PRE-AGGREGATED by "
    "l_orderkey below the join (sum/count partials are associative, "
    "so regrouping by priority after the join is exact). At 100 TB "
    "this is the difference between joining 600M wide "
    "lineitem-x-orders rows and joining one pre-folded row per "
    "order: the join input shrinks ~4x, the post-join shuffle "
    "carries 2 numbers per order, and the rewrite composes with "
    "k02's bucketing (both sides keyed on orderkey). Catalyst has "
    "no eager-aggregation rule, so the rewrite is declared in the "
    "plan; the oracle is the naive join-then-group SQL — "
    "strategy-invariant by decimal-sum associativity. "
    "Ref parity: order-rollup dashboards (src/app.py:80-110)",
)
def k10_eager_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(27,6)")
        .alias("rev"),
    )
    per_order = li.groupBy("l_orderkey").agg(
        F.count("*").alias("cnt"),
        F.sum("rev").cast("decimal(27,6)").alias("order_rev"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_items"),
            F.sum("order_rev").cast("double").alias("revenue"),
        )
    )


# --- k11 (ext.): parquet aggregate pushdown (statistics-only scan) ----------------------


@register(
    "k11_parquet_agg_pushdown",
    # The footer-statistics lever: COUNT/MIN/MAX over supported types
    # can be answered from parquet row-group metadata WITHOUT reading a
    # single data page (spark.sql.parquet.aggregatePushdown, DSv2 scan
    # path). At 100 TB this turns a full-corpus "how many rows / what
    # key range" profile query from a cluster-wide scan into a
    # footer-only metadata walk — the same trick DuckDB/Trino use for
    # COUNT(*). The conf pair is scoped to a child SparkSession
    # (newSession shares the SparkContext but NOT the SQLConf), so the
    # V2-source routing never leaks into other registered queries.
    # Float/double MIN/MAX are deliberately absent (Spark excludes them
    # from pushdown: NaN ordering in parquet stats is unreliable).
    # tests/test_physical_plans.py asserts PushedAggregation in the
    # scan; the answer is strategy-invariant, so plain SQL oracles it.
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(l_orderkey) AS BIGINT) AS min_okey,
           CAST(MAX(l_orderkey) AS BIGINT) AS max_okey,
           CAST(MIN(l_partkey) AS BIGINT) AS min_pkey,
           CAST(MAX(l_partkey) AS BIGINT) AS max_pkey
    FROM lineitem
    """,
    doc="k11 (ext.): parquet aggregate pushdown — the row-count/key-range "
    "profile of the fact table answered from parquet FOOTER STATISTICS "
    "(PushedAggregation: COUNT(*), MIN/MAX on the integer keys), zero "
    "data pages read. The scan cost becomes O(row groups), not O(rows) "
    "— at 100 TB that is the difference between a sub-second metadata "
    "walk and a full-cluster scan for the 'profile before you plan' "
    "query every pipeline runs first. Conf scoped via newSession so "
    "the DSv2 routing can't perturb any other query's plan. Exactness: "
    "footer stats are exact for these types; plan-asserted in "
    "tests/test_physical_plans.py",
)
def k11_parquet_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    s2 = spark.newSession()
    s2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    s2.conf.set(
        "spark.sql.sources.useV1SourceList", "avro,csv,json,kafka,orc,text"
    )
    return s2.read.parquet(f"{sf_dir}/lineitem.parquet").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.min("l_orderkey").cast("bigint").alias("min_okey"),
        F.max("l_orderkey").cast("bigint").alias("max_okey"),
        F.min("l_partkey").cast("bigint").alias("min_pkey"),
        F.max("l_partkey").cast("bigint").alias("max_pkey"),
    )


# --- k12 (ext.): exchange reuse (shared shuffle for a twice-referenced subplan) ---------


@register(
    "k12_exchange_reuse",
    # The year-over-year shape: monthly revenue joined to ITSELF shifted
    # 12 months. The monthly aggregate (scan -> partial agg -> shuffle on
    # month) appears twice in the logical plan, but Spark's ReuseExchange
    # rule collapses the second occurrence into a ReusedExchange node —
    # the 100 TB fact table is scanned and shuffled ONCE, not twice, for
    # the classic "this month vs same month last year" report. AQE does
    # the same dedup at stage-cache level; this op pins adaptive off in
    # a scoped child session so the ReusedExchange node is statically
    # plan-assertable (tests/test_physical_plans.py). The answer is
    # reuse-invariant; decimal sums keep both engines exact.
    oracle=f"""
    WITH monthly AS (
      SELECT date_trunc('month', l_shipdate) AS mon,
             SUM(CAST(l_extendedprice * (1 - l_discount)
                      AS DECIMAL(27,6))) AS rev_dec
      FROM lineitem GROUP BY 1
    )
    SELECT a.mon,
           CAST(a.rev_dec AS DOUBLE) AS revenue,
           CAST(b.rev_dec AS DOUBLE) AS prev_year_revenue
    FROM monthly a JOIN monthly b
      ON a.mon = b.mon + INTERVAL 12 MONTH
    """,
    doc="k12 (ext.): exchange-reuse lever — month-over-year-ago revenue "
    "via a self-join of the monthly aggregate on mon = prev_mon + 12 "
    "months. The twice-referenced aggregate is computed ONCE: the "
    "second branch is a ReusedExchange over the first branch's shuffle "
    "(plan-asserted), so the fact scan + month shuffle are not "
    "duplicated — the lever that makes CTE-heavy reporting SQL cheap "
    "at 100 TB (Catalyst dedups by canonical subplan equality, no "
    "manual caching needed). Scoped child session pins AQE off purely "
    "to make the node statically assertable; with AQE on the same "
    "reuse happens via the shuffle-stage cache. Exactness: decimal "
    "revenue sums cast to double only at the edge",
)
def k12_exchange_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    li = s2.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.date_trunc("month", "l_shipdate").alias("mon"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(27,6)")
        .alias("rev"),
    )
    monthly = li.groupBy("mon").agg(
        F.sum("rev").cast("decimal(27,6)").alias("rev_dec")
    )
    prev = monthly.select(
        F.col("mon").alias("pmon"), F.col("rev_dec").alias("prev_dec")
    )
    return (
        monthly.join(prev, monthly.mon == F.add_months(prev.pmon, 12))
        .select(
            "mon",
            F.col("rev_dec").cast("double").alias("revenue"),
            F.col("prev_dec").cast("double").alias("prev_year_revenue"),
        )
    )

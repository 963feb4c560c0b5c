"""SCD Type 2 merge (SURVEY.md §2.13 C4).

The reference *reserves* SCD2 columns (effective_date, end_date,
is_current — `sql/dimensional_schema.sql:43-48`) but its loader writes
static values and never tracks changes (`src/warehouse_loader.py:208-210`).
This module implements the real thing as the set-based anti-join + union
merge pattern — no Delta MERGE dependency, plain DataFrame ops:

    current dim  ⟕  incoming batch  (on the natural key)
      ├─ unchanged rows ............ pass through
      ├─ changed rows .............. close old version (end_date, is_current
      │                              = false) + insert new current version
      └─ brand-new keys ............ insert as current

Scale posture: every branch is an equi-join / anti-join on the natural
key; with dims ≪ facts the joins broadcast, and the merge is one shuffle
of the dimension only — the fact table is never touched. The same plan
applies partition-wise for a 100 TB slowly-changing entity table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources.catalog import load_table

_TRACKED = ["c_mktsegment", "c_acctbal"]


def scd2_merge(
    current: DataFrame,
    incoming: DataFrame,
    key: str,
    tracked: list[str],
    change_date: str,
) -> DataFrame:
    """Merge an incoming attribute batch into an SCD2 dimension.

    ``current`` has columns [key, *tracked, effective_date, end_date,
    is_current]; ``incoming`` has [key, *tracked]. Returns the merged
    dimension with closed-out history rows plus new current rows.
    """
    cur_open = current.filter(F.col("is_current"))
    cur_closed = current.filter(~F.col("is_current"))

    diff = [
        ~(cur_open[c].eqNullSafe(incoming[c])) for c in tracked
    ]
    changed_cond = diff[0]
    for d in diff[1:]:
        changed_cond = changed_cond | d

    joined = cur_open.alias("cur").join(
        incoming.alias("inc"), on=F.col(f"cur.{key}") == F.col(f"inc.{key}"), how="left"
    )

    # open rows whose incoming attrs differ → close them out
    closed_out = joined.filter(
        F.col(f"inc.{key}").isNotNull() & changed_cond
    ).select(
        F.col(f"cur.{key}").alias(key),
        *[F.col(f"cur.{c}").alias(c) for c in tracked],
        F.col("cur.effective_date").alias("effective_date"),
        F.lit(change_date).cast("date").alias("end_date"),
        F.lit(False).alias("is_current"),
    )
    # open rows with no incoming record, or identical attrs → unchanged
    unchanged = joined.filter(
        F.col(f"inc.{key}").isNull() | ~changed_cond
    ).select(
        F.col(f"cur.{key}").alias(key),
        *[F.col(f"cur.{c}").alias(c) for c in tracked],
        "cur.effective_date",
        "cur.end_date",
        "cur.is_current",
    )
    # changed rows → new current version effective at the change date
    new_versions = joined.filter(
        F.col(f"inc.{key}").isNotNull() & changed_cond
    ).select(
        F.col(f"inc.{key}").alias(key),
        *[F.col(f"inc.{c}").alias(c) for c in tracked],
        F.lit(change_date).cast("date").alias("effective_date"),
        F.lit(None).cast("date").alias("end_date"),
        F.lit(True).alias("is_current"),
    )
    # keys never seen before → insert as current (anti-join)
    brand_new = incoming.join(
        current.select(key).distinct(), key, "left_anti"
    ).select(
        key,
        *tracked,
        F.lit(change_date).cast("date").alias("effective_date"),
        F.lit(None).cast("date").alias("end_date"),
        F.lit(True).alias("is_current"),
    )
    return cur_closed.unionByName(unchanged).unionByName(closed_out).unionByName(
        new_versions
    ).unionByName(brand_new)


def _initial_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        *_TRACKED,
        F.lit("2024-01-01").cast("date").alias("effective_date"),
        F.lit(None).cast("date").alias("end_date"),
        F.lit(True).alias("is_current"),
    )


def update_batches(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The deterministic synthetic update set, as two DISJOINT batches:
    every 10th customer moves to segment 'MACHINERY' with a rebased
    balance; every 7th-but-not-10th is re-sent unchanged (the merge must
    not create a version for those). Disjointness is explicit — an
    overlap resolved by dropDuplicates would be partitioning-dependent
    and silently diverge from the oracle. Shared by the batch (c04) and
    streaming (t11) paths so both apply the identical update set."""
    c = load_table(spark, sf_dir, "customer")
    changed = c.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        F.lit("MACHINERY").alias("c_mktsegment"),
        F.round(F.col("c_acctbal") + 1000.0, 2).alias("c_acctbal"),
    )
    resent = c.filter(
        (F.col("c_custkey") % 7 == 0) & (F.col("c_custkey") % 10 != 0)
    ).select("c_custkey", "c_mktsegment", "c_acctbal")
    return changed, resent


def _incoming_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    changed, resent = update_batches(spark, sf_dir)
    return changed.unionByName(resent)


# Shared by c04 (one-shot batch merge) and t11 (per-micro-batch streaming
# fold of the SAME disjoint update set): both must land on this dimension.
_SCD2_ORACLE = """
    WITH incoming AS (
      SELECT c_custkey,
             'MACHINERY' AS c_mktsegment,
             ROUND(c_acctbal + 1000.0, 2) AS c_acctbal
      FROM customer WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT c_custkey, c_mktsegment, c_acctbal
      FROM customer WHERE c_custkey % 7 = 0 AND c_custkey % 10 <> 0
    ),
    changed AS (
      SELECT c.c_custkey, i.c_mktsegment AS new_seg, i.c_acctbal AS new_bal,
             c.c_mktsegment AS old_seg, c.c_acctbal AS old_bal
      FROM customer c JOIN incoming i USING (c_custkey)
      WHERE c.c_mktsegment IS DISTINCT FROM i.c_mktsegment
         OR c.c_acctbal IS DISTINCT FROM i.c_acctbal
    )
    SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal,
           '2024-01-01' AS effective_date,
           CASE WHEN ch.c_custkey IS NOT NULL THEN '2024-06-01' END AS end_date,
           ch.c_custkey IS NULL AS is_current
    FROM customer c LEFT JOIN changed ch USING (c_custkey)
    UNION ALL
    SELECT c_custkey, new_seg, new_bal,
           '2024-06-01', NULL, TRUE
    FROM changed
    """


@register(
    "c04_scd2_merge",
    oracle=_SCD2_ORACLE,
    doc="C4: SCD Type 2 merge — anti-join + union change tracking the "
    "reference only reserves columns for (sql/dimensional_schema.sql:43-48)",
)
def c04_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    merged = scd2_merge(
        _initial_dim(spark, sf_dir),
        _incoming_batch(spark, sf_dir),
        key="c_custkey",
        tracked=_TRACKED,
        change_date="2024-06-01",
    )
    # dates emitted as strings: the driver's comparator (and pandas' NaT)
    # round-trips DATE columns inconsistently between engines
    return merged.select(
        "c_custkey",
        *_TRACKED,
        F.col("effective_date").cast("string").alias("effective_date"),
        F.col("end_date").cast("string").alias("end_date"),
        "is_current",
    )


@register(
    "t11_streaming_scd2",
    # the disjoint/idempotent micro-batch fold must land exactly on the
    # one-shot batch merge — same oracle as c04, now hash-checked
    oracle=_SCD2_ORACLE,
    doc="streaming dimension maintenance: SCD2 merges applied per "
    "micro-batch via foreachBatch; final dimension equals the one-shot "
    "batch merge (update stream → slowly-changing dim, incremental)",
)
def t11_streaming_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The c04 update set delivered as TWO micro-batches (changes, then
    unchanged re-sends) through a file stream; each batch is merged into
    a managed dim table with the same set-based scd2_merge. Disjoint or
    idempotent batches make the fold order-insensitive; the final table
    must equal the single batch merge — asserted in tests.

    At scale this is CDC→dimension maintenance: per-batch work is
    proportional to the update batch (broadcast against the dim), never
    to fact history.
    """
    import os
    import tempfile

    from ..sources.catalog import reset_managed_table
    from ..streaming.jobs import drain

    table = "dim_customer_scd2_stream"
    reset_managed_table(spark, table)
    _initial_dim(spark, sf_dir).write.saveAsTable(table)

    changed, resent = update_batches(spark, sf_dir)

    def merge_batch(batch_df, batch_id: int) -> None:
        sp = batch_df.sparkSession
        merged = scd2_merge(
            sp.table(table),
            batch_df,
            key="c_custkey",
            tracked=_TRACKED,
            change_date="2024-06-01",
        )
        staged = merged.localCheckpoint(eager=True)  # break lineage on self-read
        staged.write.mode("overwrite").insertInto(table)

    with tempfile.TemporaryDirectory() as src:
        import time as _t

        changed.coalesce(1).write.parquet(os.path.join(src, "b0"))
        resent.coalesce(1).write.parquet(os.path.join(src, "b1"))
        # the file source replays files in mtime order; pin b0 before b1
        # explicitly rather than sleeping between the writes
        now = _t.time()
        for d, mtime in ((os.path.join(src, "b0"), now - 60), (os.path.join(src, "b1"), now)):
            for f in os.listdir(d):
                os.utime(os.path.join(d, f), times=(mtime, mtime))
        stream = (
            spark.readStream.schema(
                "c_custkey long, c_mktsegment string, c_acctbal double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        drain(stream, lambda w: w.foreachBatch(merge_batch))
    dim = spark.table(table)
    return dim.select(
        "c_custkey",
        *_TRACKED,
        F.col("effective_date").cast("string").alias("effective_date"),
        F.col("end_date").cast("string").alias("end_date"),
        "is_current",
    )


# --- C8: snapshot diff (CDC between two table versions) ----------------------

# The change-data-capture primitive every warehouse needs when the
# upstream hands over full snapshots instead of change streams: diff two
# versions of a keyed table into insert/update/delete rows, which then
# feed an SCD2 merge (above), an incremental MV refresh (mv.py), or a
# downstream MERGE. Pure full-outer-join algebra on the key — one
# co-partitioned shuffle of the two snapshots at any scale, never a
# row-by-row compare on the driver.
#
# v2 here is derived deterministically from orders so both engines build
# the identical snapshot: keys ≡ 0 (mod 37) are deleted, keys ≡ 1 get a
# price revision (the exact IEEE product 1.1 * price on both engines),
# and keys ≡ 2 are cloned to key + 2e9 as inserts.
_DIFF_DEL, _DIFF_UPD, _DIFF_INS = 0, 1, 2
_DIFF_MOD = 37
_DIFF_KEY_OFFSET = 2_000_000_000


@register(
    "c08_snapshot_diff",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    ),
    v2 AS (
      SELECT o_orderkey,
             o_orderstatus,
             CASE WHEN o_orderkey % {_DIFF_MOD} = {_DIFF_UPD}
                  THEN 1.1 * o_totalprice ELSE o_totalprice END AS o_totalprice
      FROM base WHERE o_orderkey % {_DIFF_MOD} <> {_DIFF_DEL}
      UNION ALL
      SELECT o_orderkey + {_DIFF_KEY_OFFSET}, o_orderstatus, o_totalprice
      FROM base WHERE o_orderkey % {_DIFF_MOD} = {_DIFF_INS}
    )
    SELECT COALESCE(b.o_orderkey, v.o_orderkey) AS o_orderkey,
           CASE WHEN b.o_orderkey IS NULL THEN 'I'
                WHEN v.o_orderkey IS NULL THEN 'D'
                ELSE 'U' END AS change_type,
           b.o_totalprice AS old_totalprice,
           v.o_totalprice AS new_totalprice
    FROM base b FULL OUTER JOIN v2 v USING (o_orderkey)
    WHERE b.o_orderkey IS NULL OR v.o_orderkey IS NULL
       OR b.o_orderstatus IS DISTINCT FROM v.o_orderstatus
       OR b.o_totalprice IS DISTINCT FROM v.o_totalprice
    """,
    doc="C8 (ext.): snapshot diff / CDC — full-outer join of two keyed "
    "table versions classifying rows as insert/update/delete, unchanged "
    "rows dropped. One co-partitioned shuffle; the IS DISTINCT FROM "
    "column compare is the exact equivalent of the row-hash compare a "
    "production CDC job ships",
)
def c08_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    mod = F.col("o_orderkey") % _DIFF_MOD
    v2 = (
        base.filter(mod != _DIFF_DEL)
        .withColumn(
            "o_totalprice",
            F.when(mod == _DIFF_UPD, 1.1 * F.col("o_totalprice")).otherwise(
                F.col("o_totalprice")
            ),
        )
        .unionByName(
            base.filter(mod == _DIFF_INS).withColumn(
                "o_orderkey", F.col("o_orderkey") + _DIFF_KEY_OFFSET
            )
        )
    )
    b = base.alias("b")
    v = v2.alias("v")
    joined = b.join(v, F.col("b.o_orderkey") == F.col("v.o_orderkey"), "full_outer")
    bk, vk = F.col("b.o_orderkey"), F.col("v.o_orderkey")
    changed = (
        bk.isNull()
        | vk.isNull()
        | ~F.col("b.o_orderstatus").eqNullSafe(F.col("v.o_orderstatus"))
        | ~F.col("b.o_totalprice").eqNullSafe(F.col("v.o_totalprice"))
    )
    return joined.filter(changed).select(
        F.coalesce(bk, vk).alias("o_orderkey"),
        F.when(bk.isNull(), "I").when(vk.isNull(), "D").otherwise("U")
        .alias("change_type"),
        F.col("b.o_totalprice").alias("old_totalprice"),
        F.col("v.o_totalprice").alias("new_totalprice"),
    )


# --- C9 (ext.): late-arriving dimension handling -----------------------------

# Facts routinely land before their dimension rows (a new customer's
# first order beats the CRM export). The warehouse answer: join against
# the incomplete dim with an UNKNOWN placeholder so facts are never
# dropped or blocked, then a backfill pass re-resolves once the dim
# completes — after which the result must equal the join against the
# full dim. The late slice is deterministic (every 53rd customer missing
# from the first dim snapshot), so every stage is oracle-checkable.
_LATE_MOD = 53
_UNKNOWN = "UNKNOWN"


@register(
    "c09_late_arriving_dim",
    oracle=f"""
    WITH resolved AS (
      SELECT o.o_orderkey,
             CASE WHEN o.o_custkey % {_LATE_MOD} = 0 THEN '{_UNKNOWN}'
                  ELSE c.c_mktsegment END AS initial_segment,
             c.c_mktsegment AS final_segment
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    )
    SELECT final_segment AS c_mktsegment,
           COUNT(*) AS n_orders,
           COUNT(CASE WHEN initial_segment = '{_UNKNOWN}' THEN 1 END)
             AS n_backfilled
    FROM resolved GROUP BY final_segment
    """,
    doc="C9 (ext.): late-arriving dimension — facts join an incomplete "
    "dim snapshot with an UNKNOWN placeholder (never dropped, never "
    "blocked), a backfill pass re-resolves the placeholder rows once "
    "the dim completes, and the final state equals the full-dim join "
    "(oracle-asserted) with the backfilled count as the audit trail. "
    "Both passes are broadcast/hash equi-joins at any scale",
)
def c09_late_arriving_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    # first dim snapshot: every 53rd customer hasn't arrived yet
    early_dim = cust.filter(F.col("c_custkey") % _LATE_MOD != 0)
    pass1 = orders.join(
        F.broadcast(early_dim), orders.o_custkey == early_dim.c_custkey, "left"
    ).select(
        "o_orderkey",
        "o_custkey",
        F.coalesce("c_mktsegment", F.lit(_UNKNOWN)).alias("initial_segment"),
    )
    # backfill pass: ONLY the placeholder rows re-join the completed dim
    unknown = pass1.filter(F.col("initial_segment") == _UNKNOWN)
    backfilled = unknown.join(
        F.broadcast(cust), unknown.o_custkey == cust.c_custkey
    ).select(
        "o_orderkey",
        "initial_segment",
        F.col("c_mktsegment").alias("final_segment"),
    )
    settled = pass1.filter(F.col("initial_segment") != _UNKNOWN).select(
        "o_orderkey",
        "initial_segment",
        F.col("initial_segment").alias("final_segment"),
    )
    resolved = settled.unionByName(backfilled)
    return resolved.groupBy(
        F.col("final_segment").alias("c_mktsegment")
    ).agg(
        F.count("*").alias("n_orders"),
        F.count(F.when(F.col("initial_segment") == _UNKNOWN, 1)).alias(
            "n_backfilled"
        ),
    )


# --- c13 (ext.): partition-delta audit after a backfill ----------------------


@register(
    "c13_partition_delta_audit",
    # The audit's claims (which partitions a dynamic-overwrite backfill
    # touched, and by how much) recomputed straight from orders: the F
    # partition gets a 10% price correction and +1 row; O/P are
    # byte-untouched.
    oracle="""
    WITH before AS (
      SELECT o_orderstatus AS part, COUNT(*) AS n,
             SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS s
      FROM orders GROUP BY o_orderstatus
    ),
    after AS (
      SELECT o_orderstatus AS part, COUNT(*) + 1 AS n,
             SUM(CAST(o_totalprice * 0.9 AS DECIMAL(27,6)))
               + CAST(0.01 AS DECIMAL(27,6)) AS s
      FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderstatus
      UNION ALL
      SELECT o_orderstatus, COUNT(*),
             SUM(CAST(o_totalprice AS DECIMAL(27,6)))
      FROM orders WHERE o_orderstatus <> 'F' GROUP BY o_orderstatus
    )
    SELECT b.part,
           b.n AS rows_before,
           a.n AS rows_after,
           a.n - b.n AS row_delta,
           CAST(a.s - b.s AS DOUBLE) AS value_delta,
           CAST(CASE WHEN a.n <> b.n OR a.s <> b.s THEN 1 ELSE 0 END AS INT)
             AS was_rewritten
    FROM before b JOIN after a USING (part)
    """,
    doc="c13 (ext.): partition-delta audit — snapshot the per-partition "
    "(row count, exact value sum) profile of a partitioned table before "
    "and after a dynamic-overwrite backfill (s13's pattern, plus one "
    "late-arriving row), and report exactly which partitions changed and "
    "by how much. The blast-radius report a data platform publishes "
    "with every reprocess: untouched partitions must show delta 0. "
    "Scale shape: two partition-pruned scans aggregated per partition "
    "(footer-stat-friendly), joined on the partition key — never a "
    "row-level diff (c08's snapshot CDC covers that grain)",
)
def c13_partition_delta_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.io_ops import _scratch

    path = _scratch("c13_backfill", sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    profile = lambda df: df.groupBy(  # noqa: E731
        F.col("o_orderstatus").alias("part")
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(27,6)")).alias("s"),
    )
    before = profile(spark.read.parquet(path)).localCheckpoint(eager=True)

    corrected = orders.filter(F.col("o_orderstatus") == "F").withColumn(
        "o_totalprice", F.col("o_totalprice") * 0.9
    )
    # one late-arriving row with a sentinel price lands in the backfill
    from ..sources.catalog import literal_df

    extra = literal_df(
        spark,
        [(-1, 0.01, "1-URGENT", "F")],
        "o_orderkey long, o_totalprice double, o_orderpriority string, "
        "o_orderstatus string",
    )
    backfill = corrected.select(
        "o_orderkey", "o_totalprice", "o_orderpriority", "o_orderstatus"
    ).unionByName(extra.select(
        "o_orderkey", "o_totalprice", "o_orderpriority", "o_orderstatus"
    ))
    (
        backfill.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_orderstatus")
        .parquet(path)
    )
    after = profile(spark.read.parquet(path))
    a, b = after.alias("a"), before.alias("b")
    return b.join(a, "part").select(
        "part",
        F.col("b.n").alias("rows_before"),
        F.col("a.n").alias("rows_after"),
        (F.col("a.n") - F.col("b.n")).alias("row_delta"),
        (F.col("a.s") - F.col("b.s")).cast("double").alias("value_delta"),
        F.when(
            (F.col("a.n") != F.col("b.n")) | (F.col("a.s") != F.col("b.s")), 1
        )
        .otherwise(0)
        .cast("int")
        .alias("was_rewritten"),
    )


# --- c15 (ext.): SCD Type 3 — previous-value dimension --------------------------


@register(
    "c15_scd3_previous_value",
    # SCD Type 3 keeps limited history IN-ROW (current + previous value
    # + change timestamp) instead of SCD2's row-per-version. Built from
    # the event stream per user: collapse consecutive repeats of the
    # same event_type (runs, via lag), then take the last two DISTINCT
    # RUNS' types with one partitioned window pass each. Ties pinned by
    # (sec, event_id); all values integers/strings — no float anywhere.
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec, event_id,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY FLOOR(epoch(ts)), event_id)
               AS prev_in_seq
      FROM events
    ),
    changes AS (
      SELECT user_id, event_type, sec, event_id
      FROM seq
      WHERE prev_in_seq IS NULL OR event_type <> prev_in_seq
    ),
    ranked AS (
      SELECT user_id, event_type, sec,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY sec DESC, event_id DESC) AS rn
      FROM changes
    )
    SELECT c.user_id,
           MAX(CASE WHEN rn = 1 THEN event_type END) AS current_type,
           MAX(CASE WHEN rn = 2 THEN event_type END) AS previous_type,
           CAST(MAX(CASE WHEN rn = 1 THEN sec END) AS BIGINT)
             AS changed_at_sec,
           CAST(COUNT(*) AS BIGINT) AS n_changes
    FROM ranked c GROUP BY c.user_id
    """,
    doc="c15 (ext.): SCD Type 3 dimension build — per user, the current "
    "attribute value, the PREVIOUS distinct value and the change "
    "timestamp held in-row (Type 3's limited-history contract, vs "
    "c04's row-per-version Type 2). Run-collapse via lag() then one "
    "rank window, both on the same user-hash exchange; n_changes "
    "counts distinct runs. Integer/string-exact; the "
    "'current vs previous plan' column pair every ops dashboard asks "
    "of a dimension without paying SCD2's row explosion",
)
def c15_scd3_previous_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.floor(F.unix_timestamp("ts")).cast("bigint").alias("sec"),
        "event_id",
    )
    wseq = W.partitionBy("user_id").orderBy("sec", "event_id")
    seq = ev.withColumn("prev_in_seq", F.lag("event_type").over(wseq))
    changes = seq.filter(
        F.col("prev_in_seq").isNull()
        | (F.col("event_type") != F.col("prev_in_seq"))
    )
    wr = W.partitionBy("user_id").orderBy(
        F.desc("sec"), F.desc("event_id")
    )
    ranked = changes.withColumn("rn", F.row_number().over(wr))
    return ranked.groupBy("user_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("event_type"))).alias(
            "current_type"
        ),
        F.max(F.when(F.col("rn") == 2, F.col("event_type"))).alias(
            "previous_type"
        ),
        F.max(F.when(F.col("rn") == 1, F.col("sec")))
        .cast("bigint")
        .alias("changed_at_sec"),
        F.count("*").cast("bigint").alias("n_changes"),
    )


# --- c17 (ext.): versioned snapshot table + read-at-version ------------------------


@register(
    "c17_versioned_snapshot_read",
    # A poor-man's time-travel table: snapshots land under version=N
    # partitions (v0 = the base subset, v1 = full corpus with a
    # deterministic price restatement), and "read at version" is a
    # partition-pruned scan. The query reads BOTH versions and emits
    # the version profile plus the time-travel diff (added/updated/
    # unchanged), all reconstructible by the oracle straight from the
    # orders table.
    oracle="""
    WITH v0 AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 10 <> 0
    ),
    v1 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0
                  THEN o_totalprice + 1.5 ELSE o_totalprice END
               AS o_totalprice
      FROM orders
    ),
    profile AS (
      SELECT 0 AS version, COUNT(*) AS n_rows,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
               AS price_sum
      FROM v0
      UNION ALL
      SELECT 1, COUNT(*),
             CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
      FROM v1
    ),
    diff AS (
      SELECT CAST(SUM(CASE WHEN v0.o_orderkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS added,
             CAST(SUM(CASE WHEN v0.o_orderkey IS NOT NULL
                            AND v1.o_totalprice <> v0.o_totalprice
                           THEN 1 ELSE 0 END) AS BIGINT) AS updated,
             CAST(SUM(CASE WHEN v0.o_orderkey IS NOT NULL
                            AND v1.o_totalprice = v0.o_totalprice
                           THEN 1 ELSE 0 END) AS BIGINT) AS unchanged
      FROM v1 LEFT JOIN v0 ON v0.o_orderkey = v1.o_orderkey
    )
    SELECT p.version, CAST(p.n_rows AS BIGINT) AS n_rows, p.price_sum,
           d.added, d.updated, d.unchanged
    FROM profile p, diff d
    """,
    doc="c17 (ext.): versioned snapshot table — snapshots written under "
    "version=N partitions, read-at-version as a partition-PRUNED scan "
    "(the lakehouse time-travel pattern without a table format: the "
    "manifest is the partition column), plus the v0->v1 time-travel "
    "diff (added / restated / unchanged). Completes the c08 CDC story "
    "with the physical layout that makes old versions cheap to read "
    "at 100 TB — pruning means a version read touches ONE version's "
    "files. Exactness: integer counts + decimal price sums",
)
def c17_versioned_snapshot_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os

    from ..sources.io_ops import _scratch

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    path = _scratch("c17_versions", sf_dir)
    marker = os.path.join(path, "_SUCCESS_V1")
    v0_src = orders.filter(F.col("o_orderkey") % 10 != 0).withColumn(
        "version", F.lit(0)
    )
    v1_src = orders.select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1.5
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    ).withColumn("version", F.lit(1))
    # Marker-gated single-writer memoization: the fixture content is a
    # pure function of (sf_dir, the two version transforms above), so a
    # directory carrying _SUCCESS_V1 is valid iff it was produced by
    # this exact code path. Test processes run this single-process (the
    # parity suite and the driver both serialize queries), so there is
    # no concurrent overwrite-then-mark race to defend against here;
    # a concurrent-writer deployment would need a content-keyed scratch
    # path (or an always-rewrite policy like s24's).
    if not os.path.exists(marker):
        v0_src.unionByName(v1_src).write.mode("overwrite").partitionBy(
            "version"
        ).parquet(path)
        open(marker, "w").close()
    snap = spark.read.parquet(path)
    v0 = snap.filter(F.col("version") == 0).select(
        "o_orderkey", F.col("o_totalprice").alias("p0")
    )
    v1 = snap.filter(F.col("version") == 1).select(
        "o_orderkey", F.col("o_totalprice").alias("p1")
    )
    profile = (
        snap.groupBy("version")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(F.col("o_totalprice").cast("decimal(27,6)"))
            .cast("double")
            .alias("price_sum"),
        )
    )
    diff = v1.join(v0, "o_orderkey", "left").agg(
        F.sum(F.when(F.col("p0").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("added"),
        F.sum(
            F.when(
                F.col("p0").isNotNull() & (F.col("p1") != F.col("p0")), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("updated"),
        F.sum(
            F.when(
                F.col("p0").isNotNull() & (F.col("p1") == F.col("p0")), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("unchanged"),
    )
    return profile.crossJoin(F.broadcast(diff)).select(
        F.col("version").cast("int").alias("version"),
        "n_rows",
        "price_sum",
        "added",
        "updated",
        "unchanged",
    )


# --- c19 (ext.): SCD Type 6 hybrid dimension (as-was rows + as-is column) --------------


@register(
    "c19_scd6_hybrid",
    # SCD Type 6 (= 1+2+3 hybrid): keep SCD2's row-per-version history
    # WITH validity ranges, and carry the Type-1 "current value" on
    # EVERY historical row — so "revenue by segment as it was" and
    # "as it is today" are both one scan of the same table, no
    # self-join back to a current snapshot. Built from c15's run-
    # collapsed change feed: version numbers + validity ranges from
    # one ordered window, the as-is column from a max-over-partition
    # of the current run. Ties pinned by (sec, event_id); all values
    # integers/strings — no float anywhere.
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec, event_id,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY FLOOR(epoch(ts)), event_id)
               AS prev_in_seq
      FROM events
    ),
    changes AS (
      SELECT user_id, event_type, sec, event_id
      FROM seq
      WHERE prev_in_seq IS NULL OR event_type <> prev_in_seq
    ),
    vers AS (
      SELECT user_id, event_type AS type_as_was, sec AS valid_from_sec,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY sec, event_id) AS version_no,
             LEAD(sec) OVER (PARTITION BY user_id
                             ORDER BY sec, event_id) AS valid_to_sec
      FROM changes
    )
    SELECT user_id, CAST(version_no AS BIGINT) AS version_no,
           type_as_was,
           CAST(valid_from_sec AS BIGINT) AS valid_from_sec,
           CAST(valid_to_sec AS BIGINT) AS valid_to_sec,
           (valid_to_sec IS NULL) AS is_current,
           MAX(CASE WHEN valid_to_sec IS NULL THEN type_as_was END)
             OVER (PARTITION BY user_id) AS type_as_is
    FROM vers
    """,
    doc="c19 (ext.): SCD Type 6 hybrid dimension — row-per-version "
    "history (Type 2 validity ranges) with the Type-1 current value "
    "carried on every historical row and Type-3 semantics recoverable "
    "by lag: 'as-was vs as-is' analysis in ONE scan, no join back to "
    "a current snapshot. Completes the SCD family: c04 Type 2, c15 "
    "Type 3, c19 Type 6. One user-hash exchange serves the run "
    "collapse, versioning window and as-is backfill. At 100 TB the "
    "as-is column costs one window over already-partitioned rows vs "
    "a broadcast-or-shuffle self-join per query forever after. "
    "Integer/string-exact. Ref parity: the reference's warehouse "
    "keeps only Type-1 overwrites (src/warehouse_loader.py upserts); "
    "this is the dimensional-modeling upgrade path",
)
def c19_scd6_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.floor(F.unix_timestamp("ts")).cast("bigint").alias("sec"),
        "event_id",
    )
    wseq = W.partitionBy("user_id").orderBy("sec", "event_id")
    seq = ev.withColumn("prev_in_seq", F.lag("event_type").over(wseq))
    changes = seq.filter(
        F.col("prev_in_seq").isNull()
        | (F.col("event_type") != F.col("prev_in_seq"))
    )
    vers = changes.select(
        "user_id",
        F.col("event_type").alias("type_as_was"),
        F.col("sec").alias("valid_from_sec"),
        F.row_number().over(wseq).cast("bigint").alias("version_no"),
        F.lead("sec").over(wseq).cast("bigint").alias("valid_to_sec"),
    )
    wu = W.partitionBy("user_id")
    return vers.select(
        "user_id",
        "version_no",
        "type_as_was",
        "valid_from_sec",
        "valid_to_sec",
        F.col("valid_to_sec").isNull().alias("is_current"),
        F.max(
            F.when(
                F.col("valid_to_sec").isNull(), F.col("type_as_was")
            )
        )
        .over(wu)
        .alias("type_as_is"),
    )


# --- c20 (ext.): bitemporal dimension + two-axis AS OF audit -----------------------------

_C20_LATE = 3600       # recording lag: arrival = valid_from + 1h * (id % 4)
_C20_FIX = 7200        # corrections land two hours after first recording


@register(
    "c20_bitemporal_asof",
    # TWO time axes: VALID time (when the fact was true in the world —
    # c19's change feed) and TRANSACTION time (when the warehouse
    # learned it). Every version arrives LATE by a deterministic lag,
    # and every fifth change is first recorded WRONG ('unknown') and
    # corrected two hours later — superseding the old transaction row
    # instead of overwriting it. The audit then answers six two-axis
    # AS OF probes (three valid-time points x {same-instant, +1 day}
    # transaction knowledge): type counts AS the warehouse KNEW THEM
    # at T for facts true at V. Same-instant probes still see the
    # uncorrected 'unknown's; next-day probes see the corrections —
    # byte-for-byte REPRODUCIBILITY of yesterday's report is what
    # bitemporality buys and what Type-1 overwrites destroy. All
    # integer seconds; one user-hash exchange for the history build,
    # a broadcast 6-row probe grid for the queries.
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec, event_id,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY FLOOR(epoch(ts)), event_id)
               AS prev_in_seq
      FROM events
    ),
    changes AS (
      SELECT user_id, event_type, sec, event_id,
             LEAD(sec) OVER (PARTITION BY user_id
                             ORDER BY sec, event_id) AS valid_to_sec,
             sec + {_C20_LATE} * (event_id % 4) AS arr
      FROM seq
      WHERE prev_in_seq IS NULL OR event_type <> prev_in_seq
    ),
    bt AS (
      SELECT user_id, 'unknown' AS rec_type, sec AS valid_from_sec,
             valid_to_sec, arr AS tx_from_sec,
             arr + {_C20_FIX} AS tx_to_sec
      FROM changes WHERE event_id % 5 = 0
      UNION ALL
      SELECT user_id, event_type, sec, valid_to_sec,
             arr + {_C20_FIX}, CAST(NULL AS BIGINT)
      FROM changes WHERE event_id % 5 = 0
      UNION ALL
      SELECT user_id, event_type, sec, valid_to_sec,
             arr, CAST(NULL AS BIGINT)
      FROM changes WHERE event_id % 5 <> 0
    ),
    span AS (
      SELECT MIN(sec) AS s0, MAX(sec) AS s1 FROM changes
    ),
    probes AS (
      SELECT k.k AS probe_no, o.off AS tx_offset_sec,
             s0 + k.k * ((s1 - s0) // 4) AS valid_asof_sec,
             s0 + k.k * ((s1 - s0) // 4) + o.off AS tx_asof_sec
      FROM span, (VALUES (1), (2), (3)) k(k),
           (VALUES (0), (86400)) o(off)
    )
    SELECT p.probe_no, p.tx_offset_sec, p.valid_asof_sec,
           b.rec_type AS event_type,
           CAST(COUNT(DISTINCT b.user_id) AS BIGINT) AS n_users
    FROM probes p JOIN bt b
      ON b.valid_from_sec <= p.valid_asof_sec
     AND (b.valid_to_sec IS NULL OR b.valid_to_sec > p.valid_asof_sec)
     AND b.tx_from_sec <= p.tx_asof_sec
     AND (b.tx_to_sec IS NULL OR b.tx_to_sec > p.tx_asof_sec)
    GROUP BY 1, 2, 3, 4
    """,
    doc="c20 (ext.): bitemporal dimension — c19's valid-time change "
    "feed crossed with a TRANSACTION-time axis (deterministic late "
    "arrival; every fifth change first recorded as 'unknown' and "
    "corrected by a superseding transaction row two hours later), "
    "audited by six two-axis AS OF probes: same-instant knowledge "
    "still shows the uncorrected values, next-day knowledge shows "
    "the fixes — the reproduce-yesterday's-report guarantee Type-1 "
    "overwrites destroy. Completes the temporal-warehouse family: "
    "c04/c19 one-axis SCD, c17 table-version time travel, c20 both "
    "axes at once. One user-hash exchange + a broadcast 6-row probe "
    "grid; all-integer seconds. No reference analog — the "
    "reference's warehouse upserts in place (src/warehouse_loader"
    ".py); extension per brief",
)
def c20_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.floor(F.unix_timestamp("ts")).cast("bigint").alias("sec"),
        "event_id",
    )
    wseq = W.partitionBy("user_id").orderBy("sec", "event_id")
    seq = ev.withColumn("prev_in_seq", F.lag("event_type").over(wseq))
    changes = (
        seq.filter(
            F.col("prev_in_seq").isNull()
            | (F.col("event_type") != F.col("prev_in_seq"))
        )
        .select(
            "user_id", "event_type", "sec", "event_id",
            F.lead("sec").over(wseq).alias("valid_to_sec"),
            (F.col("sec") + _C20_LATE * (F.col("event_id") % 4))
            .alias("arr"),
        )
    )
    fixed = changes.filter(F.col("event_id") % 5 == 0)
    clean = changes.filter(F.col("event_id") % 5 != 0)
    null_b = F.lit(None).cast("bigint")
    bt = (
        fixed.select(
            "user_id",
            F.lit("unknown").alias("rec_type"),
            F.col("sec").alias("valid_from_sec"),
            "valid_to_sec",
            F.col("arr").alias("tx_from_sec"),
            (F.col("arr") + _C20_FIX).alias("tx_to_sec"),
        )
        .unionByName(
            fixed.select(
                "user_id",
                F.col("event_type").alias("rec_type"),
                F.col("sec").alias("valid_from_sec"),
                "valid_to_sec",
                (F.col("arr") + _C20_FIX).alias("tx_from_sec"),
                null_b.alias("tx_to_sec"),
            )
        )
        .unionByName(
            clean.select(
                "user_id",
                F.col("event_type").alias("rec_type"),
                F.col("sec").alias("valid_from_sec"),
                "valid_to_sec",
                F.col("arr").alias("tx_from_sec"),
                null_b.alias("tx_to_sec"),
            )
        )
    )
    span = changes.agg(
        F.min("sec").alias("s0"), F.max("sec").alias("s1")
    )
    ks = spark.range(1, 4).select(F.col("id").alias("k"))
    from ..sources.catalog import literal_df

    offs = literal_df(spark, [(0,), (86400,)], "off long")
    probes = (
        span.crossJoin(F.broadcast(ks))
        .crossJoin(F.broadcast(offs))
        .select(
            F.col("k").alias("probe_no"),
            F.col("off").alias("tx_offset_sec"),
            (
                F.col("s0")
                + F.col("k") * ((F.col("s1") - F.col("s0")) / 4)
                .cast("bigint")
            ).alias("valid_asof_sec"),
            (
                F.col("s0")
                + F.col("k") * ((F.col("s1") - F.col("s0")) / 4)
                .cast("bigint")
                + F.col("off")
            ).alias("tx_asof_sec"),
        )
    )
    j = bt.join(
        F.broadcast(probes),
        (F.col("valid_from_sec") <= F.col("valid_asof_sec"))
        & (
            F.col("valid_to_sec").isNull()
            | (F.col("valid_to_sec") > F.col("valid_asof_sec"))
        )
        & (F.col("tx_from_sec") <= F.col("tx_asof_sec"))
        & (
            F.col("tx_to_sec").isNull()
            | (F.col("tx_to_sec") > F.col("tx_asof_sec"))
        ),
    )
    return j.groupBy(
        "probe_no", "tx_offset_sec", "valid_asof_sec",
        F.col("rec_type").alias("event_type"),
    ).agg(F.countDistinct("user_id").cast("bigint").alias("n_users"))


# --- c21 (ext.): SCD2 adjacent-version compaction ----------------------------------------

# The deterministic synthetic versioned dim both engines build: three
# snapshot loads (a naive backfill), where v2 only really changes every
# 3rd customer and v3 every 5th — everyone else gets redundant no-op
# versions that a correct SCD2 writer would never have created.
_C21_VERSIONS = """
    versions AS (
      SELECT c_custkey, c_mktsegment AS seg, c_acctbal AS bal,
             '2024-01-01' AS eff
      FROM customer
      UNION ALL
      SELECT c_custkey,
             CASE WHEN c_custkey % 3 = 0 THEN 'MACHINERY'
                  ELSE c_mktsegment END,
             c_acctbal,
             '2024-04-01'
      FROM customer
      UNION ALL
      SELECT c_custkey,
             CASE WHEN c_custkey % 3 = 0 THEN 'MACHINERY'
                  ELSE c_mktsegment END,
             CASE WHEN c_custkey % 5 = 0 THEN ROUND(c_acctbal + 500.0, 2)
                  ELSE c_acctbal END,
             '2024-08-01'
      FROM customer
    )"""


@register(
    "c21_scd2_compaction",
    # THE SCD2 HYGIENE PASS: snapshot-style backfills write a version
    # row per load even when nothing changed, bloating the dimension
    # and breaking "COUNT(*) per key = number of real changes"
    # assumptions. c21 collapses ADJACENT attribute-identical versions
    # into maximal spans — the islands device on the version timeline:
    # a version starts a new island iff its tracked attributes differ
    # from its predecessor's (lag compare per key), islands group to
    # spans, and LEAD over span starts rebuilds the end-date chain so
    # the compacted dimension is again a gap-free timeline. n_merged
    # counts the no-op versions each span absorbed (the audit number:
    # sum(n_merged) - count(*) = wasted rows). Scale: one key shuffle,
    # two windows + one grouped agg on it — dimension-sized, never
    # fact-sized; the compaction is idempotent (re-running merges
    # nothing).
    oracle=f"""
    WITH {_C21_VERSIONS.strip()},
    lagged AS (
      SELECT c_custkey, seg, bal, eff,
             CASE WHEN LAG(seg) OVER w IS NULL THEN 1
                  WHEN seg <> LAG(seg) OVER w
                    OR bal <> LAG(bal) OVER w THEN 1
                  ELSE 0 END AS chg
      FROM versions
      WINDOW w AS (PARTITION BY c_custkey ORDER BY eff)
    ),
    isl AS (
      SELECT c_custkey, seg, bal, eff,
             SUM(chg) OVER (PARTITION BY c_custkey ORDER BY eff
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
      FROM lagged
    ),
    spans AS (
      SELECT c_custkey, seg, bal,
             MIN(eff) AS effective_date,
             CAST(COUNT(*) AS BIGINT) AS n_merged
      FROM isl GROUP BY c_custkey, seg, bal, g
    )
    SELECT c_custkey,
           seg AS c_mktsegment, bal AS c_acctbal,
           effective_date,
           LEAD(effective_date) OVER
             (PARTITION BY c_custkey ORDER BY effective_date) AS end_date,
           n_merged,
           LEAD(effective_date) OVER
             (PARTITION BY c_custkey ORDER BY effective_date) IS NULL
             AS is_current
    FROM spans
    """,
    doc="c21 (ext.): SCD2 adjacent-version compaction — collapse "
    "attribute-identical ADJACENT versions (the no-op rows snapshot "
    "backfills write) into maximal spans and rebuild the end-date "
    "chain with LEAD, keeping per-span merge counts as the bloat "
    "audit. Completes the SCD family's lifecycle: c04/t11 write "
    "Type 2, c15 Type 3, c19 Type 6, c20 queries it bitemporally, "
    "c21 repairs it after a redundant load. Islands device (lag "
    "attr-compare -> running island id -> span agg), one "
    "dimension-key shuffle, idempotent by construction. Extends "
    "the reference's dimensional maintenance "
    "(sql/dimensional_schema.sql:43-48 reserves SCD2 columns but "
    "ships no compaction) — extension per brief",
)
def c21_scd2_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    c = load_table(spark, sf_dir, "customer")
    v1 = c.select(
        "c_custkey",
        F.col("c_mktsegment").alias("seg"),
        F.col("c_acctbal").alias("bal"),
        F.lit("2024-01-01").alias("eff"),
    )
    seg2 = F.when(
        F.col("c_custkey") % 3 == 0, F.lit("MACHINERY")
    ).otherwise(F.col("c_mktsegment"))
    v2 = c.select(
        "c_custkey",
        seg2.alias("seg"),
        F.col("c_acctbal").alias("bal"),
        F.lit("2024-04-01").alias("eff"),
    )
    v3 = c.select(
        "c_custkey",
        seg2.alias("seg"),
        F.when(
            F.col("c_custkey") % 5 == 0,
            F.round(F.col("c_acctbal") + 500.0, 2),
        )
        .otherwise(F.col("c_acctbal"))
        .alias("bal"),
        F.lit("2024-08-01").alias("eff"),
    )
    versions = v1.unionByName(v2).unionByName(v3)
    w = W.partitionBy("c_custkey").orderBy("eff")
    lagged = versions.select(
        "c_custkey", "seg", "bal", "eff",
        F.when(F.lag("seg").over(w).isNull(), 1)
        .when(
            (F.col("seg") != F.lag("seg").over(w))
            | (F.col("bal") != F.lag("bal").over(w)),
            1,
        )
        .otherwise(0)
        .alias("chg"),
    )
    isl = lagged.select(
        "c_custkey", "seg", "bal", "eff",
        F.sum("chg")
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("g"),
    )
    spans = isl.groupBy("c_custkey", "seg", "bal", "g").agg(
        F.min("eff").alias("effective_date"),
        F.count("*").cast("bigint").alias("n_merged"),
    )
    w2 = W.partitionBy("c_custkey").orderBy("effective_date")
    return spans.select(
        "c_custkey",
        F.col("seg").alias("c_mktsegment"),
        F.col("bal").alias("c_acctbal"),
        "effective_date",
        F.lead("effective_date").over(w2).alias("end_date"),
        "n_merged",
        F.lead("effective_date").over(w2).isNull().alias("is_current"),
    )


# --- c22 (ext.): point-in-time referential-integrity audit ------------------------------

# The synthetic versioned dim with PLANTED timeline defects (s25's
# planted-defect pattern): every 7th customer's v2 closes early
# (a coverage GAP before v3 opens), every 11th customer's v3 opens
# early (an OVERLAP with v2) — so the audit must find exactly the
# planted orphan/double-match mass, not zero.
_C22_DIM = """
    dim AS (
      SELECT c_custkey,
             CAST('1995-01-01' AS DATE) AS eff,
             CAST('1997-01-01' AS DATE) AS endd
      FROM customer
      UNION ALL
      SELECT c_custkey,
             CAST('1997-01-01' AS DATE),
             CASE WHEN c_custkey % 7 = 0
                  THEN CAST('1999-06-01' AS DATE)
                  ELSE CAST('2000-01-01' AS DATE) END
      FROM customer
      UNION ALL
      SELECT c_custkey,
             CASE WHEN c_custkey % 11 = 0
                  THEN CAST('1999-10-01' AS DATE)
                  ELSE CAST('2000-01-01' AS DATE) END,
             CAST(NULL AS DATE)
      FROM customer
    )"""


@register(
    "c22_pit_referential_audit",
    # IS EVERY FACT EXPLAINABLE AT ITS OWN POINT IN TIME? The SCD2
    # contract is exactly-one version per (key, date); timeline
    # defects break silently — a coverage gap makes PIT joins drop
    # facts, an overlap double-counts them, and both corrupt every
    # downstream as-was report. c22 makes the contract a standing
    # audit: match each order to its customer's version interval
    # (eff <= date < end, open-ended current) and count exact / orphan
    # / double matches per match class. The planted defects (gap for
    # custkey%7, overlap for %11) prove the audit detects both
    # failure modes — a zero-violation audit proves nothing about
    # itself. Scale: one equi-join on the dim key (<= 3 versions per
    # key, broadcast-scale dim by star-schema design) + one grouped
    # count; no range join, no window.
    oracle=f"""
    WITH {_C22_DIM.strip()},
    matched AS (
      SELECT o.o_orderkey,
             CAST(SUM(CASE WHEN CAST(o.o_orderdate AS DATE) >= d.eff
                            AND (d.endd IS NULL
                                 OR CAST(o.o_orderdate AS DATE) < d.endd)
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_versions
      FROM orders o JOIN dim d ON o.o_custkey = d.c_custkey
      GROUP BY o.o_orderkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN n_versions = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clean,
           CAST(SUM(CASE WHEN n_versions = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_orphan,
           CAST(SUM(CASE WHEN n_versions >= 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_overlap,
           CAST(MAX(n_versions) AS BIGINT) AS max_matches
    FROM matched
    """,
    doc="c22 (ext.): point-in-time referential-integrity audit — "
    "every order matched against its customer's SCD2 version "
    "timeline, counting clean (exactly one version), orphan "
    "(coverage gap) and double-matched (overlap) facts; the planted "
    "gap/overlap defects prove both detectors fire. The audit that "
    "certifies c04/c19/c20's PIT join semantics are safe to trust, "
    "and the repair target c21's compaction must preserve. One "
    "dim-key equi-join (<= 3 versions/key) + one grouped count — "
    "all-integer, identical plan at 100 TB. Extends the reference's "
    "dimensional schema (sql/dimensional_schema.sql:43-48) with the "
    "timeline-consistency check it reserves columns for but never "
    "runs — extension per brief",
)
def c22_pit_referential_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    v1 = c.select(
        "c_custkey",
        F.lit("1995-01-01").cast("date").alias("eff"),
        F.lit("1997-01-01").cast("date").alias("endd"),
    )
    v2 = c.select(
        "c_custkey",
        F.lit("1997-01-01").cast("date").alias("eff"),
        F.when(
            F.col("c_custkey") % 7 == 0, F.lit("1999-06-01")
        )
        .otherwise(F.lit("2000-01-01"))
        .cast("date")
        .alias("endd"),
    )
    v3 = c.select(
        "c_custkey",
        F.when(
            F.col("c_custkey") % 11 == 0, F.lit("1999-10-01")
        )
        .otherwise(F.lit("2000-01-01"))
        .cast("date")
        .alias("eff"),
        F.lit(None).cast("date").alias("endd"),
    )
    dim = v1.unionByName(v2).unionByName(v3)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey",
        F.col("o_orderdate").cast("date").alias("od"),
    )
    matched = (
        o.join(F.broadcast(dim), o.o_custkey == dim.c_custkey)
        .groupBy("o_orderkey")
        .agg(
            F.sum(
                F.when(
                    (F.col("od") >= F.col("eff"))
                    & (F.col("endd").isNull()
                       | (F.col("od") < F.col("endd"))),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_versions")
        )
    )
    return matched.agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(F.when(F.col("n_versions") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_clean"),
        F.sum(F.when(F.col("n_versions") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_orphan"),
        F.sum(F.when(F.col("n_versions") >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_overlap"),
        F.max("n_versions").cast("bigint").alias("max_matches"),
    )

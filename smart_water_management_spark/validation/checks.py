"""Data-quality validation engine (SURVEY.md §2.9 V1-V13).

The reference's 5-layer validator (src/data_validator.py:121-596) runs one
pandas scan per rule. Here the rule table is *compiled into a single
DataFrame pass*: every rule becomes one conditional-count aggregate in one
``select``, so the whole rule set costs one scan regardless of rule count
(SURVEY §4.3.5 — the engine's bespoke 'optimizer'). The long (rule, count)
shape comes from unpivoting the one-row aggregate with ``stack``.

At 100 TB this is the difference between N full scans and 1; the
fused pass is also streaming-compatible (same expressions inside a
``foreachBatch`` or windowed aggregation).

Rule kinds mirror src/data_validator.py: not_null (V2), range (V4), enum
(V5), regex (:58-61), not_future (V6), cross-field consistency (V11).
Keyed duplicates (V9) need a groupBy and are a second, separate pass.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources.catalog import load_table, pin_derived


@dataclass(frozen=True)
class Rule:
    name: str
    column: str
    kind: str  # not_null | range | enum | regex | not_future | custom
    params: dict = field(default_factory=dict)
    weight: float = 1.0

    def violation(self) -> Column:
        c = F.col(self.column)
        if self.kind == "not_null":
            return c.isNull()
        if self.kind == "range":
            lo, hi = self.params["lo"], self.params["hi"]
            return c.isNotNull() & ((c < lo) | (c > hi))
        if self.kind == "enum":
            return c.isNotNull() & ~c.isin(self.params["values"])
        if self.kind == "regex":
            return c.isNotNull() & ~c.rlike(self.params["pattern"])
        if self.kind == "not_future":
            return c > F.lit(self.params["now"]).cast("timestamp")
        if self.kind == "custom":
            # the same ANSI predicate text runs on Spark (F.expr) and in
            # the DuckDB oracle (violation_sql below)
            return F.expr(self.params["sql"])
        raise ValueError(f"unknown rule kind: {self.kind}")

    def violation_sql(self) -> str:
        """DuckDB-SQL twin of :meth:`violation` (for oracle generation)."""
        c = self.column
        if self.kind == "not_null":
            return f"{c} IS NULL"
        if self.kind == "range":
            lo, hi = self.params["lo"], self.params["hi"]
            return f"{c} IS NOT NULL AND ({c} < {lo} OR {c} > {hi})"
        if self.kind == "enum":
            vals = ", ".join(f"'{v}'" for v in self.params["values"])
            return f"{c} IS NOT NULL AND {c} NOT IN ({vals})"
        if self.kind == "regex":
            return f"{c} IS NOT NULL AND NOT regexp_matches({c}, '{self.params['pattern']}')"
        if self.kind == "not_future":
            return f"{c} > TIMESTAMP '{self.params['now']}'"
        if self.kind == "custom":
            return self.params["sql"]
        raise ValueError(self.kind)


# The events-table rule set (events ≙ sensor readings per FIXTURES.md §B;
# thresholds mirror src/data_validator.py:48-119's expected-schema ranges).
EVENTS_RULES: list[Rule] = [
    Rule("ts_not_null", "ts", "not_null", weight=1.0),
    Rule("user_not_null", "user_id", "not_null", weight=1.0),
    Rule("value_not_null", "value", "not_null", weight=0.8),
    Rule("value_range", "value", "range", {"lo": 0.0, "hi": 500.0}, weight=0.9),
    Rule(
        "type_enum",
        "event_type",
        "enum",
        {"values": ["click", "view", "purchase", "signup", "error"]},
        weight=0.7,
    ),
    Rule("props_json_format", "props", "regex", {"pattern": r'^\{"k": [0-9]+\}$'}, weight=0.4),
    Rule("ts_not_future", "ts", "not_future", {"now": "2025-01-01 00:00:00"}, weight=1.0),
    # V11 cross-field consistency (reference src/data_validator.py:457-471
    # flags quality<0.7 with anomaly_flag=0): error readings above the
    # plausible ceiling are internally inconsistent.
    Rule(
        "error_value_consistency",
        "value",
        "custom",
        # SQL text, parsed lazily by F.expr at plan time (building Column
        # objects here would require an active SparkContext at import)
        {"sql": "event_type = 'error' AND value > 400.0"},
        weight=0.6,
    ),
]

# V7: per-sensor-type valid ranges as a RULES TABLE joined to the data
# (reference src/data_validator.py:349-384 hard-codes a dict per type; the
# engine keeps it relational so ops can update thresholds without code).
TYPE_RANGES: list[tuple[str, float, float]] = [
    ("click", 0.0, 450.0),
    ("view", 0.0, 480.0),
    ("purchase", 0.0, 500.0),
    ("signup", 0.0, 300.0),
    ("error", 0.0, 400.0),
]


def validate(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """Compile the rule table into ONE aggregate pass → long report.

    Returns (rule_name, failed_count, total_rows, pass_rate).
    """
    aggs = [F.count("*").alias("__total")] + [
        F.count(F.when(r.violation(), F.lit(1))).alias(r.name) for r in rules
    ]
    one_row = df.agg(*aggs)
    stack_expr = ", ".join(f"'{r.name}', {r.name}" for r in rules)
    return one_row.selectExpr(
        "__total",
        f"stack({len(rules)}, {stack_expr}) AS (rule_name, failed_count)",
    ).select(
        "rule_name",
        "failed_count",
        F.col("__total").alias("total_rows"),
        # NULL pass rate on an empty table (0/0 is undefined, and ANSI
        # mode turns the naive division into a hard DIVIDE_BY_ZERO)
        F.when(
            F.col("__total") != 0,
            (F.col("__total") - F.col("failed_count"))
            * F.lit(100).cast("double")
            / F.col("__total"),
        ).alias("pass_rate_pct"),
    )


def quarantine(df: DataFrame, rules: list[Rule]) -> tuple[DataFrame, DataFrame]:
    """Split into (clean, quarantined-with-reasons) in one expression.

    The reference only *reports* violations; quarantining is the engine's
    production posture: bad rows flow to a side output with the list of
    violated rule names attached.
    """
    reasons = F.array_compact(
        F.array(*[F.when(r.violation(), F.lit(r.name)) for r in rules])
    )
    tagged = df.withColumn("__violations", reasons)
    clean = tagged.filter(F.size("__violations") == 0).drop("__violations")
    bad = tagged.filter(F.size("__violations") > 0).withColumnRenamed(
        "__violations", "violated_rules"
    )
    return clean, bad


def weighted_score(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """V13: severity-weighted overall score + PASS/WARNING/FAIL status
    (reference src/data_validator.py:513-548: weighted mean of rule pass
    rates; >=0.9 PASS, >=0.7 WARNING, else FAIL)."""
    report = validate(df, rules)
    wmap = F.create_map(
        *[x for r in rules for x in (F.lit(r.name), F.lit(r.weight))]
    )
    scored = report.withColumn("weight", wmap[F.col("rule_name")])
    agg = scored.agg(
        (
            F.sum(F.col("pass_rate_pct") / 100.0 * F.col("weight"))
            / F.sum("weight")
        ).alias("overall_score")
    )
    return agg.select(
        F.round("overall_score", 6).alias("overall_score"),
        F.when(F.col("overall_score") >= 0.9, "PASS")
        .when(F.col("overall_score") >= 0.7, "WARNING")
        .otherwise("FAIL")
        .alias("status"),
    )


def _rules_oracle(table: str, rules: list[Rule]) -> str:
    branches = "\n    UNION ALL\n".join(
        f"""SELECT '{r.name}' AS rule_name,
               COUNT(CASE WHEN {r.violation_sql()} THEN 1 END) AS failed_count,
               COUNT(*) AS total_rows
        FROM {table}"""
        for r in rules
    )
    return f"""
    SELECT rule_name, failed_count, total_rows,
           (total_rows - failed_count) * CAST(100 AS DOUBLE) / total_rows AS pass_rate_pct
    FROM ({branches})
    """


@register(
    "v01_fused_validation",
    oracle=_rules_oracle("events", EVENTS_RULES),
    doc="V1-V8: rule table compiled to ONE scan (vs reference's scan-per-rule)",
)
def v01_fused_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return validate(load_table(spark, sf_dir, "events"), EVENTS_RULES)


@register(
    "v02_duplicate_detection",
    oracle="""
    SELECT COUNT(*) AS n_duplicate_keys,
           CAST(COALESCE(SUM(cnt - 1), 0) AS BIGINT) AS n_excess_rows
    FROM (
      SELECT user_id, ts, COUNT(*) AS cnt
      FROM events GROUP BY user_id, ts HAVING COUNT(*) > 1
    )
    """,
    doc="V9: keyed duplicate detection on (user_id, ts)",
)
def v02_duplicate_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    dupes = (
        ev.groupBy("user_id", "ts").agg(F.count("*").alias("cnt")).filter("cnt > 1")
    )
    return dupes.agg(
        F.count("*").alias("n_duplicate_keys"),
        F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0)).alias("n_excess_rows"),
    )


@register(
    "v03_weighted_score",
    oracle=f"""
    WITH report AS ({_rules_oracle("events", EVENTS_RULES)}),
    weights(rule_name, weight) AS (VALUES {", ".join(f"('{r.name}', {r.weight})" for r in EVENTS_RULES)})
    SELECT ROUND(SUM(r.pass_rate_pct / 100.0 * w.weight) / SUM(w.weight), 6) AS overall_score,
           CASE WHEN SUM(r.pass_rate_pct / 100.0 * w.weight) / SUM(w.weight) >= 0.9 THEN 'PASS'
                WHEN SUM(r.pass_rate_pct / 100.0 * w.weight) / SUM(w.weight) >= 0.7 THEN 'WARNING'
                ELSE 'FAIL' END AS status
    FROM report r JOIN weights w USING (rule_name)
    """,
    doc="V13: severity-weighted overall score + status",
)
def v03_weighted_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return weighted_score(load_table(spark, sf_dir, "events"), EVENTS_RULES)


@register(
    "v04_completeness_profile",
    oracle="""
    SELECT COUNT(*) AS total_rows,
           COUNT(*) - COUNT(value) AS null_value,
           COUNT(*) - COUNT(props) AS null_props,
           COUNT(*) - COUNT(event_type) AS null_type,
           (COUNT(value) + COUNT(props) + COUNT(event_type)) * CAST(100 AS DOUBLE)
             / (COUNT(*) * 3) AS completeness_pct
    FROM events
    """,
    doc="V8/P9: per-column null profile + completeness rate in one pass",
)
def v04_completeness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.count("*").alias("total_rows"),
        (F.count("*") - F.count("value")).alias("null_value"),
        (F.count("*") - F.count("props")).alias("null_props"),
        (F.count("*") - F.count("event_type")).alias("null_type"),
        (
            (F.count("value") + F.count("props") + F.count("event_type"))
            * F.lit(100).cast("double")
            / (F.count("*") * 3)
        ).alias("completeness_pct"),
    )


@register(
    "v05_zscore_outliers",
    oracle="""
    WITH stats AS (
      SELECT event_type,
             CAST(COUNT(value) AS DOUBLE) AS n,
             CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(value*value AS DECIMAL(27,6))) AS DOUBLE) AS sx2
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           COUNT(CASE WHEN ABS((e.value - s.sx/s.n)
                 / SQRT((s.n*s.sx2 - s.sx*s.sx) / (s.n*(s.n-1.0)))) > 3.0
                 THEN 1 END) AS n_outliers,
           COUNT(*) AS n_rows
    FROM events e JOIN stats s ON e.event_type = s.event_type
    GROUP BY e.event_type
    """,
    doc="V12: global z-score outlier counts per group (exact decimal moments)",
)
def v05_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")
    stats = ev.groupBy("event_type").agg(
        F.count("value").cast("double").alias("n"),
        F.sum(v.cast("decimal(27,6)")).cast("double").alias("sx"),
        F.sum((v * v).cast("decimal(27,6)")).cast("double").alias("sx2"),
    )
    z = F.abs(
        (v - F.col("sx") / F.col("n"))
        / F.sqrt(
            (F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx"))
            / (F.col("n") * (F.col("n") - 1.0))
        )
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.when(z > 3.0, 1)).alias("n_outliers"),
            F.count("*").alias("n_rows"),
        )
    )


@register(
    "v06_per_type_ranges",
    oracle="""
    WITH ranges(event_type, lo, hi) AS (
      VALUES ('click', 0.0, 450.0), ('view', 0.0, 480.0),
             ('purchase', 0.0, 500.0), ('signup', 0.0, 300.0),
             ('error', 0.0, 400.0)
    )
    SELECT e.event_type,
           COUNT(*) AS n_rows,
           COUNT(CASE WHEN e.value < r.lo OR e.value > r.hi THEN 1 END)
             AS n_violations,
           CAST(MIN(r.lo) AS DOUBLE) AS lo,
           CAST(MIN(r.hi) AS DOUBLE) AS hi
    FROM events e JOIN ranges r ON e.event_type = r.event_type
    GROUP BY e.event_type
    """,
    doc="V7: per-sensor-type range validation via a broadcast-joined rules "
    "table — thresholds live in data, not code (reference "
    "src/data_validator.py:349-384 hard-codes them per type)",
)
def v06_per_type_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    from ..sources.catalog import literal_df

    ranges = literal_df(
        spark, TYPE_RANGES, "event_type string, lo double, hi double"
    )
    joined = ev.join(F.broadcast(ranges), "event_type")
    return joined.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.count(
            F.when((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi")), 1)
        ).alias("n_violations"),
        F.min("lo").alias("lo"),
        F.min("hi").alias("hi"),
    )


VIOLATION_THRESHOLD = 100.0
MIN_RUN = 2


@register(
    "v07_violation_runs",
    # classic gaps-and-islands: row_number over all readings minus
    # row_number over flagged readings is constant within a consecutive
    # flagged run. All integer/timestamp outputs — exactly comparable.
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_id, ts, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn_all
      FROM events
    ),
    flagged AS (
      SELECT *,
             rn_all - ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS grp
      FROM seq WHERE value > {VIOLATION_THRESHOLD}
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS run_start,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS run_end,
           COUNT(*) AS n_readings,
           ROUND(MAX(value), 6) AS peak_value
    FROM flagged
    GROUP BY user_id, grp
    HAVING COUNT(*) >= {MIN_RUN}
    """,
    doc="V (ext.): consecutive-violation run detection — gaps-and-islands "
    "over the per-sensor reading sequence, surfacing sustained "
    "out-of-range episodes (stuck sensor / alarm storm) instead of "
    "isolated spikes. Two window passes and the final groupBy all "
    "partition on user_id: one exchange serves the whole plan",
)
def v07_violation_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("rn_all", F.row_number().over(w))
    flagged = (
        seq.filter(F.col("value") > VIOLATION_THRESHOLD)
        .withColumn("grp", F.col("rn_all") - F.row_number().over(w))
    )
    return (
        flagged.groupBy("user_id", "grp")
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("run_start"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("run_end"),
            F.count("*").alias("n_readings"),
            F.round(F.max("value"), 6).alias("peak_value"),
        )
        .filter(F.col("n_readings") >= MIN_RUN)
        .drop("grp")
    )


# --- V14 (ext.): referential-integrity audit ---------------------------------

# The cross-table layer of a quality framework: child keys that resolve
# to no parent row (orphans). Two relations audited — lineitem→orders
# (intact by construction) and orders→a stale customer dimension
# (every 97th customer dropped, the mid-refresh state an RI audit
# exists to catch) — each as one LEFT OUTER join against the distinct
# parent keys plus conditional aggregation (an anti join would discard
# the non-orphan rows the totals need): no row-by-row lookups, and the
# parent key set broadcasts while small.
STALE_MOD = 97


@register(
    "v08_referential_integrity",
    oracle=f"""
    WITH li AS (
      SELECT COUNT(*) AS n_rows,
             COUNT(CASE WHEN o.o_orderkey IS NULL THEN 1 END) AS n_orphans,
             MIN(CASE WHEN o.o_orderkey IS NULL THEN l.l_orderkey END) AS min_k,
             MAX(CASE WHEN o.o_orderkey IS NULL THEN l.l_orderkey END) AS max_k
      FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    oc AS (
      SELECT COUNT(*) AS n_rows,
             COUNT(CASE WHEN c.c_custkey IS NULL THEN 1 END) AS n_orphans,
             MIN(CASE WHEN c.c_custkey IS NULL THEN o.o_custkey END) AS min_k,
             MAX(CASE WHEN c.c_custkey IS NULL THEN o.o_custkey END) AS max_k
      FROM orders o LEFT JOIN (
        SELECT c_custkey FROM customer WHERE c_custkey % {STALE_MOD} <> 0
      ) c ON c.c_custkey = o.o_custkey
    )
    SELECT 'lineitem->orders' AS relation, n_rows, n_orphans,
           ROUND(CAST(n_orphans AS DOUBLE) / n_rows, 6) AS orphan_frac,
           min_k AS min_orphan_key, max_k AS max_orphan_key
    FROM li
    UNION ALL
    SELECT 'orders->customer_stale', n_rows, n_orphans,
           ROUND(CAST(n_orphans AS DOUBLE) / n_rows, 6),
           min_k, max_k
    FROM oc
    """,
    doc="V14 (ext.): referential-integrity audit — orphaned child keys "
    "per FK relation via left outer joins + conditional counts (one intact "
    "relation, one against a deliberately stale dim). Parent key sets "
    "broadcast while small; at 100 TB both sides hash-partition on the "
    "key — never a driver-side lookup loop",
)
def v08_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    def audit(child: DataFrame, ckey: str, parent: DataFrame, pkey: str,
              relation: str) -> DataFrame:
        joined = child.join(
            parent.select(F.col(pkey).alias("__pk")).distinct(),
            child[ckey] == F.col("__pk"),
            "left",
        )
        orphan = F.col("__pk").isNull()
        return joined.agg(
            F.lit(relation).alias("relation"),
            F.count("*").alias("n_rows"),
            F.count(F.when(orphan, 1)).alias("n_orphans"),
            F.round(
                F.count(F.when(orphan, 1)).cast("double") / F.count("*"), 6
            ).alias("orphan_frac"),
            F.min(F.when(orphan, child[ckey])).alias("min_orphan_key"),
            F.max(F.when(orphan, child[ckey])).alias("max_orphan_key"),
        )

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    stale = cust.filter(F.col("c_custkey") % STALE_MOD != 0)
    return audit(li, "l_orderkey", orders, "o_orderkey", "lineitem->orders").unionByName(
        audit(orders, "o_custkey", stale, "c_custkey", "orders->customer_stale")
    )


# --- V9 (registered): quarantine split audit ---------------------------------
@register(
    "v09_quarantine_split",
    # The rule engine's SIDE-OUTPUT posture, driver-certified: per
    # violated-rule-set counts over the quarantined rows plus the clean
    # count as the '(clean)' row. The reasons array is rendered as a
    # comma-joined string so both engines hash the same value.
    oracle=f"""
    WITH tagged AS (
      SELECT list_aggregate(list_filter(
               [{", ".join(f"CASE WHEN {r.violation_sql()} THEN '{r.name}' END" for r in EVENTS_RULES)}
             ], x -> x IS NOT NULL), 'string_agg', ',') AS reasons
      FROM events
    )
    SELECT COALESCE(reasons, '(clean)') AS violated_rules,
           COUNT(*) AS n_rows
    FROM tagged GROUP BY 1
    """,
    doc="V9+ (production posture): the quarantine split as a checkable "
    "query — every row routed to clean or to a side output keyed by its "
    "exact violated-rule combination, with per-combination counts. One "
    "scan, one tiny aggregate; the same ``quarantine()`` expression "
    "feeds real pipelines' side-output sinks",
)
def v09_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    clean, bad = quarantine(ev, EVENTS_RULES)
    bad_counts = bad.groupBy(
        F.concat_ws(",", "violated_rules").alias("violated_rules")
    ).agg(F.count("*").alias("n_rows"))
    clean_count = clean.agg(
        F.lit("(clean)").alias("violated_rules"),
        F.count("*").alias("n_rows"),
    )
    return bad_counts.unionByName(clean_count)


# --- v10 (ext.): schema-drift audit ------------------------------------------


@register(
    "v10_schema_drift",
    # The column-level facts (membership, declared type) are fixed by the
    # two writers below; the row-level facts (rows per snapshot, nulls a
    # merged reader would see) come from the data. The oracle recomputes
    # BOTH straight from orders, so the audit's claims about the parquet
    # footers are cross-checked against what the data says they must be.
    oracle="""
    WITH counts AS (
      SELECT COUNT(CASE WHEN o_orderkey % 2 = 0 THEN 1 END) AS n_a,
             COUNT(CASE WHEN o_orderkey % 3 = 0 THEN 1 END) AS n_b
      FROM orders
    )
    SELECT col, type_a, type_b, status, n_nulls_merged FROM counts,
    (VALUES ('o_orderkey', 'bigint', 'bigint', 'unchanged', CAST(0 AS BIGINT)),
            ('o_totalprice', 'double', 'string', 'type_changed',
             CAST(0 AS BIGINT)),
            ('o_orderpriority', NULL, 'string', 'added', CAST(-1 AS BIGINT))
    ) AS t(col, type_a, type_b, status, n_nulls_merged0),
    LATERAL (SELECT CASE WHEN n_nulls_merged0 = -1 THEN n_a
                         ELSE n_nulls_merged0 END AS n_nulls_merged)
    """,
    doc="v10 (ext.): schema-drift audit — two snapshot drops of the same "
    "logical table (B renames nothing but retypes o_totalprice "
    "double->string and adds o_orderpriority); the audit reads BOTH "
    "parquet footers and emits per-column drift status "
    "(unchanged / type_changed / added / removed) plus the null count a "
    "mergeSchema reader would see for each column — the contract report "
    "a pipeline publishes before switching readers to a new producer "
    "version. Footer-only schema probes (no data scan) + one count per "
    "snapshot; at scale the counts come from footer row-group stats",
)
def v10_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..sources.io_ops import _scratch

    orders = load_table(spark, sf_dir, "orders")
    pa = _scratch("v10_snap_a", sf_dir)
    pb = _scratch("v10_snap_b", sf_dir)
    a = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    b = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        F.format_number("o_totalprice", 6).alias("o_totalprice"),
        "o_orderpriority",
    )
    a.write.mode("overwrite").parquet(pa)
    b.write.mode("overwrite").parquet(pb)
    sa = {f.name: f.dataType.simpleString() for f in spark.read.parquet(pa).schema}
    sb = {f.name: f.dataType.simpleString() for f in spark.read.parquet(pb).schema}
    n_a = spark.read.parquet(pa).count()
    n_b = spark.read.parquet(pb).count()
    rows = []
    for col in sorted(set(sa) | set(sb)):
        ta, tb = sa.get(col), sb.get(col)
        if ta is None:
            status, nulls = "added", n_a  # merged reader: NULL for all A rows
        elif tb is None:
            status, nulls = "removed", n_b
        elif ta != tb:
            status, nulls = "type_changed", 0
        else:
            status, nulls = "unchanged", 0
        rows.append((col, ta, tb, status, nulls))
    from ..sources.catalog import literal_df

    return literal_df(
        spark,
        rows,
        "col string, type_a string, type_b string, status string, "
        "n_nulls_merged long",
    )


# --- v11 (ext.): cross-table aggregate reconciliation audit ------------------

# Relative-difference bucket edges (fractions of the header total).
V11_EDGES = (0.0001, 0.001, 0.01, 0.1)


@register(
    "v11_reconciliation_audit",
    oracle=f"""
    WITH calc AS (
      SELECT l_orderkey,
             SUM(CAST(ROUND(l_extendedprice * (1 + l_tax) * (1 - l_discount),
                            6) AS DECIMAL(27,6))) AS line_total,
             COUNT(*) AS n_lines
      FROM lineitem GROUP BY l_orderkey
    ),
    joined AS (
      SELECT o.o_orderkey,
             CAST(ROUND(o.o_totalprice, 6) AS DECIMAL(27,6)) AS hdr,
             c.line_total, c.n_lines
      FROM orders o LEFT JOIN calc c ON c.l_orderkey = o.o_orderkey
    ),
    graded AS (
      SELECT o_orderkey, n_lines,
             CASE
               WHEN line_total IS NULL THEN 'no_lineitems'
               WHEN hdr = line_total THEN 'exact'
               WHEN ABS(CAST(hdr - line_total AS DOUBLE))
                    / CAST(hdr AS DOUBLE) < {V11_EDGES[0]} THEN 'lt_1bp'
               WHEN ABS(CAST(hdr - line_total AS DOUBLE))
                    / CAST(hdr AS DOUBLE) < {V11_EDGES[1]} THEN 'lt_10bp'
               WHEN ABS(CAST(hdr - line_total AS DOUBLE))
                    / CAST(hdr AS DOUBLE) < {V11_EDGES[2]} THEN 'lt_1pct'
               WHEN ABS(CAST(hdr - line_total AS DOUBLE))
                    / CAST(hdr AS DOUBLE) < {V11_EDGES[3]} THEN 'lt_10pct'
               ELSE 'ge_10pct'
             END AS bucket,
             CASE WHEN line_total IS NULL THEN NULL
                  ELSE ABS(CAST(hdr - line_total AS DOUBLE))
                       / CAST(hdr AS DOUBLE) END AS rel
      FROM joined
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COALESCE(SUM(n_lines), 0) AS BIGINT) AS n_lines,
           MAX(rel) AS max_rel_diff
    FROM graded GROUP BY bucket
    """,
    doc="v11 (ext.): cross-table aggregate reconciliation — the "
    "header-vs-detail audit every warehouse runs (does orders."
    "o_totalprice equal the lineitem extended total?), graded into "
    "relative-difference buckets (exact / <1bp / <10bp / <1% / <10% / "
    ">=10% / no_lineitems). On this synthetic corpus the identity "
    "deliberately fails, which is exactly what the audit reports. "
    "Exactness: both sides quantize to DECIMAL(27,6) (the detail side "
    "per-line before the exact decimal sum), the equality test is "
    "decimal-exact, and each relative difference is one IEEE quotient "
    "of identical doubles — bucket edges compare those identical "
    "doubles. Scale shape: one map-combined agg of the big detail "
    "table, a key-partitioned join to the header (broadcastable when "
    "dims allow), and a constant-size bucket agg. Reference analog: "
    "5-layer validation totals in src/data_validator.py:162-190",
)
def v11_reconciliation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    calc = li.groupBy("l_orderkey").agg(
        F.sum(
            F.round(
                F.col("l_extendedprice")
                * (1 + F.col("l_tax"))
                * (1 - F.col("l_discount")),
                6,
            ).cast("decimal(27,6)")
        ).alias("line_total"),
        F.count("*").alias("n_lines"),
    )
    joined = orders.select(
        "o_orderkey",
        F.round("o_totalprice", 6).cast("decimal(27,6)").alias("hdr"),
    ).join(calc, orders["o_orderkey"] == calc["l_orderkey"], "left")
    rel = F.abs((F.col("hdr") - F.col("line_total")).cast("double")) / F.col(
        "hdr"
    ).cast("double")
    bucket = (
        F.when(F.col("line_total").isNull(), "no_lineitems")
        .when(F.col("hdr") == F.col("line_total"), "exact")
        .when(rel < V11_EDGES[0], "lt_1bp")
        .when(rel < V11_EDGES[1], "lt_10bp")
        .when(rel < V11_EDGES[2], "lt_1pct")
        .when(rel < V11_EDGES[3], "lt_10pct")
        .otherwise("ge_10pct")
    )
    graded = joined.select(
        bucket.alias("bucket"),
        F.when(F.col("line_total").isNotNull(), rel).alias("rel"),
        "n_lines",
    )
    return graded.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.coalesce(F.sum("n_lines"), F.lit(0)).cast("bigint").alias("n_lines"),
        F.max("rel").alias("max_rel_diff"),
    )


# --- v12 (ext.): auto-suggested validation bounds -----------------------------


@register(
    "v12_suggested_rules",
    # Rule DISCOVERY, the step before v06's rules-as-data: profile each
    # event type's value distribution, suggest [p01, p99] bounds, and
    # immediately score the corpus against the suggestion (violation
    # rate ~2% by construction on clean data; drift shows up as a rate
    # shift). Exactness: F.percentile is DuckDB's quantile_cont
    # (interpolated type-7) bit-for-bit on identical doubles (a07's
    # device); comparisons run on the UNROUNDED bounds so no midpoint
    # ever decides a count; rounding happens only in the output.
    oracle="""
    WITH b AS (
      SELECT event_type,
             quantile_cont(value, 0.01) AS lo,
             quantile_cont(value, 0.99) AS hi
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(ANY_VALUE(b.lo), 6) AS suggested_lo,
           ROUND(ANY_VALUE(b.hi), 6) AS suggested_hi,
           CAST(COUNT(*) FILTER (e.value < b.lo OR e.value > b.hi)
                AS BIGINT) AS n_violations,
           ROUND(CAST(COUNT(*) FILTER (e.value < b.lo OR e.value > b.hi)
                      AS DOUBLE) / COUNT(*), 6) AS violation_rate
    FROM events e JOIN b USING (event_type)
    GROUP BY e.event_type
    """,
    doc="v12 (ext.): validation-rule discovery — per-type [p01, p99] "
    "bounds suggested from the data (exact interpolated percentiles, "
    "a07's engine-exact device) and scored back over the corpus in the "
    "same query: the bootstrap a data-quality platform runs on a table "
    "it has never seen. Scale: one percentile agg (sort-based within "
    "groups) + one broadcast of the per-type bounds back onto the "
    "scan — the scoring pass is map-only",
)
def v12_suggested_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    b = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.01)).alias("lo"),
        F.percentile("value", F.lit(0.99)).alias("hi"),
    )
    viol = (F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))
    return (
        ev.join(F.broadcast(b), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.round(F.any_value("lo"), 6).alias("suggested_lo"),
            F.round(F.any_value("hi"), 6).alias("suggested_hi"),
            F.count_if(viol).cast("bigint").alias("n_violations"),
            F.round(
                F.count_if(viol).cast("double") / F.count("*"), 6
            ).alias("violation_rate"),
        )
    )


# --- v13 (ext.): k-anonymity audit ---------------------------------------------

# Quasi-identifier tuple: nation + market segment + account-balance band
# (the attacker-joinable attributes of the customer dimension).
_V13_KS = (2, 5, 10)


@register(
    "v13_k_anonymity",
    oracle=f"""
    WITH qi AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
             COUNT(*) AS grp_n
      FROM customer GROUP BY 1, 2, 3
    )
    SELECT k, n_groups, n_groups_below_k, rows_at_risk,
           ROUND(CAST(rows_at_risk AS DOUBLE) / n_rows, 6) AS risk_rate,
           min_group_size
    FROM (
      SELECT ks.k,
             CAST(COUNT(*) AS BIGINT) AS n_groups,
             CAST(COUNT(CASE WHEN grp_n < ks.k THEN 1 END) AS BIGINT)
               AS n_groups_below_k,
             CAST(SUM(CASE WHEN grp_n < ks.k THEN grp_n ELSE 0 END)
                  AS BIGINT) AS rows_at_risk,
             CAST(SUM(grp_n) AS BIGINT) AS n_rows,
             CAST(MIN(grp_n) AS BIGINT) AS min_group_size
      FROM qi CROSS JOIN
           (SELECT CAST(unnest(ARRAY{list(_V13_KS)}) AS INT) AS k) ks
      GROUP BY ks.k
    )
    """,
    doc="v13 (ext.): k-anonymity audit over the customer dimension's "
    "quasi-identifier tuple (nation, market segment, $1000 balance "
    "band) — for each privacy threshold k in "
    f"{_V13_KS}, the group count, groups below k, re-identifiable row "
    "mass and achieved minimum group size: the governance gate a "
    "pipeline checks before exporting a 'pseudonymized' extract. "
    "Exactness: pure integer counts + one quotient. Scale: ONE "
    "map-combined QI aggregate (groups, not rows, cross the wire), "
    "then a 3-way threshold sweep over the group table fanned out "
    "in-row — the fact is scanned once for all k",
)
def v13_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    qi = cust.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000.0).cast("bigint").alias("bal_band"),
    ).agg(F.count("*").alias("grp_n"))
    ks = F.array(*[F.lit(k) for k in _V13_KS])
    fanned = qi.select("grp_n", F.explode(ks).alias("k"))
    at_risk = F.when(F.col("grp_n") < F.col("k"), F.col("grp_n")).otherwise(
        F.lit(0)
    )
    agg = fanned.groupBy("k").agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.count_if(F.col("grp_n") < F.col("k"))
        .cast("bigint")
        .alias("n_groups_below_k"),
        F.sum(at_risk).cast("bigint").alias("rows_at_risk"),
        F.sum("grp_n").cast("bigint").alias("n_rows"),
        F.min("grp_n").cast("bigint").alias("min_group_size"),
    )
    return agg.select(
        "k",
        "n_groups",
        "n_groups_below_k",
        "rows_at_risk",
        F.round(
            F.col("rows_at_risk").cast("double") / F.col("n_rows"), 6
        ).alias("risk_rate"),
        "min_group_size",
    )


# --- v14 (ext.): column statistics profile (ANALYZE TABLE equivalent) ----------

_V14_COLS = ["event_id", "user_id", "event_type", "value"]


def _v14_oracle() -> str:
    blocks = []
    for c in _V14_COLS:
        blocks.append(f"""
    SELECT '{c}' AS col,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
           CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,
           CAST(MIN({c}) AS VARCHAR) AS min_str,
           CAST(MAX({c}) AS VARCHAR) AS max_str
    FROM events""")
    return "\n    UNION ALL\n".join(blocks)


@register(
    "v14_column_profile",
    oracle=_v14_oracle(),
    doc="v14 (ext.): per-column statistics profile — row count, NDV, "
    "null count, min/max (as strings so one row schema fits every "
    "column type) for the fact table's columns: the ANALYZE TABLE "
    "stats a cost-based optimizer consumes and the first page of any "
    "data-discovery tool. Spark-first: ONE pass computes every "
    "column's aggregates side by side (shared scan), then an in-row "
    "stack() unpivots to the per-column rows — no per-column rescan, "
    "which at 100 TB is the difference between one table scan and "
    "len(columns) of them. Exactness: counts are integers; min/max "
    "stringified with engine-identical formatting (value is rounded "
    "only by cast, both engines print shortest-repr doubles)",
)
def v14_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    aggs = [F.count("*").alias("n_rows")]
    for c in _V14_COLS:
        aggs += [
            F.count_distinct(F.col(c)).cast("bigint").alias(f"{c}__ndv"),
            (F.count("*") - F.count(F.col(c)))
            .cast("bigint")
            .alias(f"{c}__nulls"),
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    wide = ev.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__ndv, {c}__nulls, {c}__min, {c}__max"
        for c in _V14_COLS
    )
    return wide.selectExpr(
        "n_rows",
        f"stack({len(_V14_COLS)}, {stack_args}) "
        "as (col, n_distinct, n_nulls, min_str, max_str)",
    ).select("col", "n_rows", "n_distinct", "n_nulls", "min_str", "max_str")


# --- v15 (ext.): functional-dependency discovery --------------------------------

# (table, determinant, dependent) candidates — keys that SHOULD determine
# and plausible-but-false dependencies, so both verdicts are exercised.
_V15_CANDIDATES = [
    ("orders", "o_orderkey", "o_custkey"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("customer", "c_custkey", "c_mktsegment"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("nation", "n_nationkey", "n_regionkey"),
    ("lineitem", "l_orderkey", "l_returnflag"),
]


@register(
    "v15_fd_discovery",
    # FD A->B holds iff every A value maps to exactly one distinct B.
    # The per-candidate verdict comes from ONE grouped aggregate on the
    # determinant (count distinct dependents per key), reduced to key
    # counts + violation counts — the profiling primitive schema-
    # inference and normalization tools run before trusting a join key
    # (complements c14's cross-table FK containment with intra-table
    # dependency structure).
    oracle="""
    SELECT * FROM (
      SELECT 'orders' AS tbl, 'o_orderkey' AS lhs, 'o_custkey' AS rhs,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS violating_keys,
             CAST(MAX(nd) AS BIGINT) AS max_distinct,
             (SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0) AS fd_holds
      FROM (SELECT COUNT(DISTINCT o_custkey) AS nd
            FROM orders GROUP BY o_orderkey)
      UNION ALL
      SELECT 'orders', 'o_custkey', 'o_orderpriority',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(MAX(nd) AS BIGINT),
             (SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0)
      FROM (SELECT COUNT(DISTINCT o_orderpriority) AS nd
            FROM orders GROUP BY o_custkey)
      UNION ALL
      SELECT 'customer', 'c_custkey', 'c_mktsegment',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(MAX(nd) AS BIGINT),
             (SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0)
      FROM (SELECT COUNT(DISTINCT c_mktsegment) AS nd
            FROM customer GROUP BY c_custkey)
      UNION ALL
      SELECT 'customer', 'c_nationkey', 'c_mktsegment',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(MAX(nd) AS BIGINT),
             (SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0)
      FROM (SELECT COUNT(DISTINCT c_mktsegment) AS nd
            FROM customer GROUP BY c_nationkey)
      UNION ALL
      SELECT 'nation', 'n_nationkey', 'n_regionkey',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(MAX(nd) AS BIGINT),
             (SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0)
      FROM (SELECT COUNT(DISTINCT n_regionkey) AS nd
            FROM nation GROUP BY n_nationkey)
      UNION ALL
      SELECT 'lineitem', 'l_orderkey', 'l_returnflag',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(MAX(nd) AS BIGINT),
             (SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0)
      FROM (SELECT COUNT(DISTINCT l_returnflag) AS nd
            FROM lineitem GROUP BY l_orderkey)
    )
    """,
    doc="v15 (ext.): functional-dependency discovery — for each "
    "candidate A->B, the number of determinant keys, how many map to "
    ">1 dependent value (violations), the worst fan-out, and the "
    "verdict. The schema-profiling step that validates normalization "
    "assumptions and join-key safety before a model ships (c14 finds "
    "cross-table FKs; v15 finds intra-table dependencies). Scale: one "
    "map-combined two-level aggregate per candidate (group on the "
    "determinant, then a scalar reduce); candidates on the same table "
    "share the cached scan; output is bounded by the candidate list",
)
def v15_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for tbl, lhs, rhs in _V15_CANDIDATES:
        t = load_table(spark, sf_dir, tbl)
        per_key = t.groupBy(lhs).agg(
            F.countDistinct(rhs).alias("nd")
        )
        row = per_key.agg(
            F.count("*").cast("bigint").alias("n_keys"),
            F.sum((F.col("nd") > 1).cast("int"))
            .cast("bigint")
            .alias("violating_keys"),
            F.max("nd").cast("bigint").alias("max_distinct"),
        ).select(
            F.lit(tbl).alias("tbl"),
            F.lit(lhs).alias("lhs"),
            F.lit(rhs).alias("rhs"),
            "n_keys",
            "violating_keys",
            "max_distinct",
            (F.col("violating_keys") == 0).alias("fd_holds"),
        )
        out = row if out is None else out.unionByName(row)
    return out


# --- v16 (ext.): quantile drift between time halves -------------------------------

_V16_SPLIT_H = 360  # events span hours 0..719; compare halves


@register(
    "v16_quantile_drift",
    # Exact interpolated quartiles (F.percentile ≙ quantile_cont — the
    # established parity device) of `value` per event type, first half
    # of the time range vs second, with deltas. The quantile companion
    # to m14's KS test: KS says THAT the distribution moved, the
    # quartile deltas say WHERE.
    oracle=f"""
    WITH halves AS (
      SELECT event_type,
             CASE WHEN FLOOR((CAST(FLOOR(epoch(ts)) AS BIGINT) - 1704067200)
                             / 3600.0) < {_V16_SPLIT_H}
                  THEN 0 ELSE 1 END AS half,
             value
      FROM events
    ),
    q AS (
      SELECT event_type, half,
             COUNT(*) AS n,
             quantile_cont(value, 0.25) AS q25,
             quantile_cont(value, 0.50) AS q50,
             quantile_cont(value, 0.75) AS q75
      FROM halves GROUP BY event_type, half
    )
    SELECT a.event_type,
           CAST(a.n AS BIGINT) AS n_first,
           CAST(b.n AS BIGINT) AS n_second,
           a.q25 AS q25_first, b.q25 AS q25_second,
           a.q50 AS q50_first, b.q50 AS q50_second,
           a.q75 AS q75_first, b.q75 AS q75_second,
           b.q50 - a.q50 AS median_shift,
           (b.q75 - b.q25) - (a.q75 - a.q25) AS iqr_change
    FROM q a JOIN q b
      ON a.event_type = b.event_type AND a.half = 0 AND b.half = 1
    """,
    doc="v16 (ext.): quantile drift — exact interpolated quartiles of "
    "the value distribution per event type, first half of the window "
    "vs second, with median shift and IQR change. The data-quality "
    "screen that localizes WHERE a distribution moved (m14's KS only "
    "says that it did) — robust to outliers where v12's mean/stddev "
    "bounds are not. Scale: ONE grouped percentile aggregate on "
    "(type, half) — Spark's percentile is a single-pass mergeable "
    "sketch-free exact aggregate — then a self-join of the 2-row-per-"
    "type result. Exactness: F.percentile and quantile_cont "
    "interpolate identically on identical doubles",
)
def v16_quantile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    half = (
        F.when(
            F.floor(
                (F.unix_timestamp("ts") - F.lit(1704067200)) / F.lit(3600.0)
            )
            < _V16_SPLIT_H,
            0,
        )
        .otherwise(1)
        .alias("half")
    )
    q = (
        ev.select("event_type", half, "value")
        .groupBy("event_type", "half")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.percentile("value", 0.25).alias("q25"),
            F.percentile("value", 0.50).alias("q50"),
            F.percentile("value", 0.75).alias("q75"),
        )
    )
    a = q.filter(F.col("half") == 0).select(
        "event_type",
        F.col("n").alias("n_first"),
        F.col("q25").alias("q25_first"),
        F.col("q50").alias("q50_first"),
        F.col("q75").alias("q75_first"),
    )
    b = q.filter(F.col("half") == 1).select(
        "event_type",
        F.col("n").alias("n_second"),
        F.col("q25").alias("q25_second"),
        F.col("q50").alias("q50_second"),
        F.col("q75").alias("q75_second"),
    )
    return a.join(b, "event_type").select(
        "event_type",
        "n_first",
        "n_second",
        "q25_first",
        "q25_second",
        "q50_first",
        "q50_second",
        "q75_first",
        "q75_second",
        (F.col("q50_second") - F.col("q50_first")).alias("median_shift"),
        (
            (F.col("q75_second") - F.col("q25_second"))
            - (F.col("q75_first") - F.col("q25_first"))
        ).alias("iqr_change"),
    )


# --- v17 (ext.): candidate-key uniqueness discovery --------------------------------

_V17_CANDIDATES = [
    ("orders", ["o_orderkey"]),
    ("orders", ["o_custkey", "o_orderdate"]),
    ("orders", ["o_custkey", "o_orderpriority"]),
    ("lineitem", ["l_orderkey", "l_linenumber"]),
    ("lineitem", ["l_orderkey", "l_partkey"]),
    ("events", ["event_id"]),
    ("events", ["user_id", "ts"]),
]


@register(
    "v17_uniqueness_discovery",
    # A column set is a candidate key iff COUNT(DISTINCT combo) equals
    # the row count; the duplicate-key count and worst multiplicity
    # grade HOW non-unique the failures are. v15 finds dependencies,
    # v17 finds keys — together the schema-profiling pair.
    oracle="""
    SELECT * FROM (
      SELECT 'orders' AS tbl, 'o_orderkey' AS cols,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
             (COUNT(*) = COUNT(DISTINCT o_orderkey)) AS is_unique
      FROM orders
      UNION ALL
      SELECT 'orders', 'o_custkey,o_orderdate', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(DISTINCT (CAST(o_custkey AS VARCHAR) || '|' ||
                                  CAST(o_orderdate AS VARCHAR)))
                  AS BIGINT),
             (COUNT(*) = COUNT(DISTINCT (CAST(o_custkey AS VARCHAR)
                || '|' || CAST(o_orderdate AS VARCHAR))))
      FROM orders
      UNION ALL
      SELECT 'orders', 'o_custkey,o_orderpriority',
             CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(DISTINCT (CAST(o_custkey AS VARCHAR) || '|' ||
                                  o_orderpriority)) AS BIGINT),
             (COUNT(*) = COUNT(DISTINCT (CAST(o_custkey AS VARCHAR)
                || '|' || o_orderpriority)))
      FROM orders
      UNION ALL
      SELECT 'lineitem', 'l_orderkey,l_linenumber',
             CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(DISTINCT (CAST(l_orderkey AS VARCHAR) || '|' ||
                                  CAST(l_linenumber AS VARCHAR)))
                  AS BIGINT),
             (COUNT(*) = COUNT(DISTINCT (CAST(l_orderkey AS VARCHAR)
                || '|' || CAST(l_linenumber AS VARCHAR))))
      FROM lineitem
      UNION ALL
      SELECT 'lineitem', 'l_orderkey,l_partkey',
             CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(DISTINCT (CAST(l_orderkey AS VARCHAR) || '|' ||
                                  CAST(l_partkey AS VARCHAR))) AS BIGINT),
             (COUNT(*) = COUNT(DISTINCT (CAST(l_orderkey AS VARCHAR)
                || '|' || CAST(l_partkey AS VARCHAR))))
      FROM lineitem
      UNION ALL
      SELECT 'events', 'event_id', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(DISTINCT event_id) AS BIGINT),
             (COUNT(*) = COUNT(DISTINCT event_id))
      FROM events
      UNION ALL
      SELECT 'events', 'user_id,ts', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(DISTINCT (CAST(user_id AS VARCHAR) || '|' ||
                strftime(ts, '%Y-%m-%d %H:%M:%S'))) AS BIGINT),
             (COUNT(*) = COUNT(DISTINCT (CAST(user_id AS VARCHAR) || '|' ||
                strftime(ts, '%Y-%m-%d %H:%M:%S'))))
      FROM events
    )
    """,
    doc="v17 (ext.): candidate-key uniqueness discovery — for each "
    "candidate column set, row count vs distinct-combination count and "
    "the key verdict. The profiling complement to v15's FDs: v15 asks "
    "'does A determine B', v17 asks 'can A be the key at all' — the "
    "check run before declaring merge keys (c04's SCD2) or dedup keys "
    "(d01). Scale: one map-combined count-distinct per candidate "
    "(candidates on a table share its cached scan); combos are "
    "canonical pipe-joined strings so both engines count identical "
    "values. Exactness: pure integer counts",
)
def v17_uniqueness_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for tbl, cols in _V17_CANDIDATES:
        t = load_table(spark, sf_dir, tbl)
        if len(cols) == 1:
            combo = F.col(cols[0])
        else:
            parts = []
            for c in cols:
                f = t.schema[c].dataType.typeName()
                if f == "timestamp":
                    parts.append(F.date_format(c, "yyyy-MM-dd HH:mm:ss"))
                elif f == "date":
                    parts.append(F.date_format(c, "yyyy-MM-dd"))
                else:
                    parts.append(F.col(c).cast("string"))
            combo = F.concat_ws("|", *parts)
        row = t.agg(
            F.lit(tbl).alias("tbl"),
            F.lit(",".join(cols)).alias("cols"),
            F.count("*").cast("bigint").alias("n_rows"),
            F.countDistinct(combo).cast("bigint").alias("n_distinct"),
            (F.count("*") == F.countDistinct(combo)).alias("is_unique"),
        )
        out = row if out is None else out.unionByName(row)
    return out


# --- v18 (ext.): arrival-completeness audit ------------------------------------------


@register(
    "v18_arrival_completeness",
    # Every (event type, day) should show all 24 hours of traffic; the
    # audit scaffolds the full calendar grid between each type's first
    # and last observed hour (in-row sequence + explode, no driver
    # loop) and left-joins the observed hourly counts — missing hours
    # and their share localize ingest outages that row counts alone
    # hide (a full day of zero rows doesn't lower any average).
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             CAST(FLOOR((CAST(FLOOR(epoch(ts)) AS BIGINT) - 1704067200)
                        / 3600.0) AS BIGINT) AS h,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT event_type, MIN(h) AS h0, MAX(h) AS h1 FROM hourly
      GROUP BY event_type
    ),
    grid AS (
      SELECT b.event_type, unnest(range(b.h0, b.h1 + 1)) AS h FROM bounds b
    ),
    joined AS (
      SELECT g.event_type, CAST(FLOOR(g.h / 24.0) AS BIGINT) AS day,
             CASE WHEN hr.n IS NULL THEN 1 ELSE 0 END AS missing
      FROM grid g LEFT JOIN hourly hr
        ON hr.event_type = g.event_type AND hr.h = g.h
    )
    SELECT event_type, day,
           CAST(COUNT(*) AS BIGINT) AS expected_hours,
           CAST(COUNT(*) - SUM(missing) AS BIGINT) AS observed_hours,
           CAST(SUM(missing) AS BIGINT) AS missing_hours,
           CAST(SUM(missing) AS DOUBLE) / COUNT(*) AS missing_frac
    FROM joined GROUP BY event_type, day
    """,
    doc="v18 (ext.): arrival-completeness audit — for every (event "
    "type, day), expected vs observed vs missing hours against the "
    "full calendar grid between each type's first and last "
    "observation. The ingest-outage localizer that row-count and "
    "average-based checks miss entirely (an absent hour changes no "
    "aggregate it doesn't appear in); feeds w19's gap-fill with WHERE "
    "to interpolate and t04's freshness with WHY it went stale. "
    "Scale: grid is an in-row sequence explode per type (bounded by "
    "the calendar), one left join against the hourly pre-agg, one "
    "grouped count. Exactness: pure integer counts + one quotient",
)
def v18_arrival_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    h = F.floor(
        (F.unix_timestamp("ts") - F.lit(1704067200)) / F.lit(3600.0)
    ).cast("bigint")
    hourly = ev.groupBy("event_type", h.alias("h")).agg(
        F.count("*").alias("n")
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = bounds.select(
        "event_type",
        F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("h"),
    )
    joined = grid.join(hourly, ["event_type", "h"], "left").select(
        "event_type",
        F.floor(F.col("h") / 24).cast("bigint").alias("day"),
        F.when(F.col("n").isNull(), 1).otherwise(0).alias("missing"),
    )
    return joined.groupBy("event_type", "day").agg(
        F.count("*").cast("bigint").alias("expected_hours"),
        (F.count("*") - F.sum("missing")).cast("bigint").alias(
            "observed_hours"
        ),
        F.sum("missing").cast("bigint").alias("missing_hours"),
        (F.sum("missing").cast("double") / F.count("*")).alias(
            "missing_frac"
        ),
    )


# --- v19 (ext.): rule-violation co-occurrence lift ----------------------------------


def _v19_oracle() -> str:
    flags = ",\n             ".join(
        f"CASE WHEN {r.violation_sql()} THEN 1 ELSE 0 END AS f_{r.name}"
        for r in EVENTS_RULES
    )
    pair_rows = []
    names = [r.name for r in EVENTS_RULES]
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            pair_rows.append(
                f"SELECT '{a}' AS rule_a, '{b}' AS rule_b, "
                f"CAST(SUM(f_{a}) AS BIGINT) AS n_a, "
                f"CAST(SUM(f_{b}) AS BIGINT) AS n_b, "
                f"CAST(SUM(f_{a} * f_{b}) AS BIGINT) AS n_both, "
                f"CAST(COUNT(*) AS BIGINT) AS n_rows FROM flags"
            )
    return f"""
    WITH flags AS (
      SELECT {flags}
      FROM events
    ),
    pairs AS (
      {" UNION ALL ".join(pair_rows)}
    )
    SELECT rule_a, rule_b, n_a, n_b, n_both,
           CASE WHEN n_a > 0 AND n_b > 0 THEN
             (CAST(n_both AS DOUBLE) / n_rows)
               / ((CAST(n_a AS DOUBLE) / n_rows)
                  * (CAST(n_b AS DOUBLE) / n_rows))
           END AS lift
    FROM pairs
    """


@register(
    "v19_rule_cooccurrence",
    # Which validation failures travel TOGETHER? One scan computes all
    # rule flags; every pair's co-violation count and lift
    # (P(a,b)/(P(a)P(b))) come from conditional sums over that single
    # flag table — a41's association math applied to data-quality
    # failures. High-lift pairs mean one upstream defect trips several
    # rules (fix once); lift ~1 means independent failure modes.
    oracle=_v19_oracle(),
    doc="v19 (ext.): rule-violation co-occurrence — for every pair of "
    "the v01 rule bank's rules, the co-violation count and lift over "
    "one events scan. The root-cause triage view on top of v01's "
    "per-rule pass rates: correlated failures point at a shared "
    "upstream defect, independent ones at distinct causes. Scale: "
    "ONE corpus scan computes all flags; the pair fanout is an "
    "in-plan union of conditional aggregates over the cached flag "
    "table — no rescans, no joins. Exactness: integer counts; lift "
    "is IEEE quotients of exact integers, NULL when a marginal is "
    "empty (never a div-by-zero)",
)
def v19_rule_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    flags = pin_derived(
        spark,
        sf_dir,
        "v19_flags",
        lambda: ev.select(
            *[
                r.violation().cast("int").alias(f"f_{r.name}")
                for r in EVENTS_RULES
            ]
        ),
    )
    names = [r.name for r in EVENTS_RULES]
    out = None
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            row = flags.agg(
                F.lit(a).alias("rule_a"),
                F.lit(b).alias("rule_b"),
                F.sum(f"f_{a}").cast("bigint").alias("n_a"),
                F.sum(f"f_{b}").cast("bigint").alias("n_b"),
                F.sum(F.col(f"f_{a}") * F.col(f"f_{b}"))
                .cast("bigint")
                .alias("n_both"),
                F.count("*").cast("bigint").alias("n_rows"),
            )
            out = row if out is None else out.unionByName(row)
    na, nb, nboth, nr = (
        F.col("n_a"),
        F.col("n_b"),
        F.col("n_both"),
        F.col("n_rows"),
    )
    return out.select(
        "rule_a",
        "rule_b",
        "n_a",
        "n_b",
        "n_both",
        F.when(
            (na > 0) & (nb > 0),
            (nboth.cast("double") / nr)
            / ((na.cast("double") / nr) * (nb.cast("double") / nr)),
        ).alias("lift"),
    )


# --- v20 (ext.): l-diversity audit ------------------------------------------------------

_V20_LS = (2, 3, 5)


@register(
    "v20_l_diversity",
    # k-anonymity (v13) bounds GROUP SIZE; l-diversity bounds the
    # DIVERSITY of the sensitive attribute inside each group — a
    # 50-person group is still leaky if all 50 share one order
    # priority (the homogeneity attack k-anonymity misses). Sensitive
    # attribute: the customer's modal order priority; QI tuple: v13's
    # (nation, segment, balance band). For each l the groups below,
    # their row mass, and the achieved minimum distinct count.
    oracle=f"""
    WITH sens AS (
      SELECT c.c_custkey, c.c_nationkey, c.c_mktsegment,
             CAST(FLOOR(c.c_acctbal / 1000.0) AS BIGINT) AS bal_band,
             o.o_orderpriority
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    ),
    qi AS (
      SELECT c_nationkey, c_mktsegment, bal_band,
             CAST(COUNT(*) AS BIGINT) AS grp_rows,
             CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS l_div
      FROM sens GROUP BY 1, 2, 3
    )
    SELECT l, n_groups, n_groups_below_l, rows_at_risk,
           ROUND(CAST(rows_at_risk AS DOUBLE) / n_rows, 6) AS risk_rate,
           min_l_achieved
    FROM (
      SELECT ls.l,
             CAST(COUNT(*) AS BIGINT) AS n_groups,
             CAST(COUNT(CASE WHEN l_div < ls.l THEN 1 END) AS BIGINT)
               AS n_groups_below_l,
             CAST(SUM(CASE WHEN l_div < ls.l THEN grp_rows ELSE 0 END)
                  AS BIGINT) AS rows_at_risk,
             CAST(SUM(grp_rows) AS BIGINT) AS n_rows,
             CAST(MIN(l_div) AS BIGINT) AS min_l_achieved
      FROM qi CROSS JOIN
           (SELECT CAST(unnest(ARRAY{list(_V20_LS)}) AS INT) AS l) ls
      GROUP BY ls.l
    )
    """,
    doc="v20 (ext.): l-diversity audit — v13's k-anonymity companion "
    "against the homogeneity attack: inside every quasi-identifier "
    "group (nation, segment, $1000 balance band) the sensitive "
    "attribute (order priority, via the orders join) must take at "
    f"least l distinct values; for each l in {_V20_LS} the failing "
    "group count, exposed row mass and achieved minimum diversity. "
    "Exactness: integer counts + one quotient (v13's devices). "
    "Scale: one fact join + ONE QI aggregate with a count-distinct "
    "(groups cross the wire, not rows); the l-sweep fans out "
    "in-row over the group table. Ref parity: none in reference — "
    "privacy-governance extension alongside v13/c16",
)
def v20_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000.0).cast("bigint").alias("bal_band"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority"
    )
    sens = o.join(F.broadcast(cust), o.o_custkey == cust.c_custkey)
    qi = sens.groupBy("c_nationkey", "c_mktsegment", "bal_band").agg(
        F.count("*").cast("bigint").alias("grp_rows"),
        F.countDistinct("o_orderpriority").cast("bigint").alias("l_div"),
    )
    ls = F.array(*[F.lit(v) for v in _V20_LS])
    fanned = qi.select("grp_rows", "l_div", F.explode(ls).alias("l"))
    at_risk = F.when(F.col("l_div") < F.col("l"), F.col("grp_rows")).otherwise(
        F.lit(0)
    )
    agg = fanned.groupBy("l").agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.count_if(F.col("l_div") < F.col("l"))
        .cast("bigint")
        .alias("n_groups_below_l"),
        F.sum(at_risk).cast("bigint").alias("rows_at_risk"),
        F.sum("grp_rows").cast("bigint").alias("n_rows"),
        F.min("l_div").cast("bigint").alias("min_l_achieved"),
    )
    return agg.select(
        "l",
        "n_groups",
        "n_groups_below_l",
        "rows_at_risk",
        F.round(
            F.col("rows_at_risk").cast("double") / F.col("n_rows"), 6
        ).alias("risk_rate"),
        "min_l_achieved",
    )


# --- v21 (ext.): approximate functional dependencies (g3 confidence) -------------------

_V21_CANDIDATES = [
    ("events", "user_id", "event_type"),
    ("events", "event_type", "user_id"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("orders", "o_orderkey", "o_orderpriority"),
]


@register(
    "v21_approx_fd_confidence",
    # v15 answers "does the FD hold?" (boolean + violation counts); v21
    # answers "HOW CLOSE is it to holding?" via the standard g3 measure
    # (Tane/Pyro): confidence = (rows kept under the best per-key
    # repair) / N = sum over determinant keys of the MAX dependent
    # count, over total rows. The profiling number that decides whether
    # a dirty key is fixable (conf 0.999 -> quarantine 0.1%) or
    # structural (conf 0.4 -> not an FD). Two grouped aggregates per
    # candidate — (lhs, rhs) pair counts, then max-per-lhs — both
    # map-combined; no distinct, no sort. Exactness: integer counts;
    # confidence is the raw IEEE quotient of two exact BIGINTs,
    # identical in both engines, never rounded.
    oracle="""
    SELECT * FROM (
      SELECT 'events' AS tbl, 'user_id' AS lhs, 'event_type' AS rhs,
             CAST(SUM(sx) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(mx) AS BIGINT) AS rows_kept,
             CAST(SUM(mx) AS DOUBLE) / CAST(SUM(sx) AS DOUBLE)
               AS confidence,
             (SUM(mx) = SUM(sx)) AS is_exact
      FROM (SELECT MAX(c) AS mx, SUM(c) AS sx
            FROM (SELECT user_id, event_type, COUNT(*) AS c
                  FROM events GROUP BY 1, 2) GROUP BY user_id)
      UNION ALL
      SELECT 'events', 'event_type', 'user_id',
             CAST(SUM(sx) AS BIGINT), CAST(COUNT(*) AS BIGINT),
             CAST(SUM(mx) AS BIGINT),
             CAST(SUM(mx) AS DOUBLE) / CAST(SUM(sx) AS DOUBLE),
             (SUM(mx) = SUM(sx))
      FROM (SELECT MAX(c) AS mx, SUM(c) AS sx
            FROM (SELECT event_type, user_id, COUNT(*) AS c
                  FROM events GROUP BY 1, 2) GROUP BY event_type)
      UNION ALL
      SELECT 'orders', 'o_custkey', 'o_orderpriority',
             CAST(SUM(sx) AS BIGINT), CAST(COUNT(*) AS BIGINT),
             CAST(SUM(mx) AS BIGINT),
             CAST(SUM(mx) AS DOUBLE) / CAST(SUM(sx) AS DOUBLE),
             (SUM(mx) = SUM(sx))
      FROM (SELECT MAX(c) AS mx, SUM(c) AS sx
            FROM (SELECT o_custkey, o_orderpriority, COUNT(*) AS c
                  FROM orders GROUP BY 1, 2) GROUP BY o_custkey)
      UNION ALL
      SELECT 'orders', 'o_orderkey', 'o_orderpriority',
             CAST(SUM(sx) AS BIGINT), CAST(COUNT(*) AS BIGINT),
             CAST(SUM(mx) AS BIGINT),
             CAST(SUM(mx) AS DOUBLE) / CAST(SUM(sx) AS DOUBLE),
             (SUM(mx) = SUM(sx))
      FROM (SELECT MAX(c) AS mx, SUM(c) AS sx
            FROM (SELECT o_orderkey, o_orderpriority, COUNT(*) AS c
                  FROM orders GROUP BY 1, 2) GROUP BY o_orderkey)
    ) ORDER BY tbl, lhs, rhs
    """,
    doc="v21 (ext.): approximate-FD confidence — the g3 repair measure "
    "for a declared candidate catalog: confidence = rows kept under "
    "the best per-key repair / total rows, from two map-combined "
    "grouped aggregates per candidate ((lhs,rhs) pair counts, then "
    "max-per-lhs). Extends v15's boolean FD verdicts with the "
    "profiling number normalization and key-trust decisions actually "
    "use (conf 0.999 = quarantine the tail; conf 0.4 = not a "
    "dependency). Plan: no distinct, no sort, no join — identical at "
    "100 TB. Exactness: BIGINT counts; confidence is the raw IEEE "
    "quotient of exact integers on both engines",
)
def v21_approx_fd_confidence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    out = None
    for tbl, lhs, rhs in _V21_CANDIDATES:
        t = load_table(spark, sf_dir, tbl)
        pair = t.groupBy(lhs, rhs).agg(F.count("*").alias("c"))
        per_key = pair.groupBy(lhs).agg(
            F.max("c").alias("mx"), F.sum("c").alias("sx")
        )
        row = per_key.agg(
            F.lit(tbl).alias("tbl"),
            F.lit(lhs).alias("lhs"),
            F.lit(rhs).alias("rhs"),
            F.sum("sx").cast("bigint").alias("n_rows"),
            F.count("*").cast("bigint").alias("n_keys"),
            F.sum("mx").cast("bigint").alias("rows_kept"),
            (
                F.sum("mx").cast("double")
                / F.sum("sx").cast("double")
            ).alias("confidence"),
            (F.sum("mx") == F.sum("sx")).alias("is_exact"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("tbl", "lhs", "rhs")


# --- v22 (ext.): last-digit uniformity audit (fraud/fabrication screen) -----------------

# Shared chi-square string: 9-df uniformity over the ten cent digits,
# algebraically reduced to (10*sum(obs^2) - n^2)/n so the only float
# ops are on two exact integers.
_V22_CHI2 = (
    "ROUND((10 * CAST(sum_sq AS DOUBLE)"
    " - CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE))"
    " / CAST(n_rows AS DOUBLE), 6)"
)
# chi-square critical value, 9 df, alpha = 0.05
_V22_CRIT = 16.919


@register(
    "v22_last_digit_uniformity",
    # a32's Benford audit checks the FIRST digit (naturally log-
    # distributed); v22 checks the LAST cent digit, which for organic
    # prices should be UNIFORM — humans fabricating numbers
    # over-produce 0s and 5s, so a chi-square spike here is the
    # classic fabrication/rounding-pipeline screen (and a data-entry
    # smell when a feed silently truncates cents). Digit extraction
    # uses FLOOR(x*100 + 0.5) — engine-identical half-up, no ROUND
    # midpoint trap; the 9-df chi-square reduces to exact integers
    # (10*sum obs^2 - n^2)/n folded in ONE shared string. Scale: one
    # 10-cell map-combined aggregate — identical at 100 TB.
    oracle=f"""
    WITH d AS (
      SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) % 10
               AS digit
      FROM orders
    ),
    c AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS obs
      FROM d GROUP BY digit
    ),
    t AS (
      SELECT CAST(SUM(obs) AS BIGINT) AS n_rows,
             CAST(SUM(obs * obs) AS BIGINT) AS sum_sq
      FROM c
    )
    SELECT c.digit, c.obs,
           ROUND(CAST(t.n_rows AS DOUBLE) / 10, 6) AS expected,
           {_V22_CHI2} AS chi2_stat,
           {_V22_CHI2} < {_V22_CRIT} AS uniform_ok
    FROM c, t
    """,
    doc="v22 (ext.): last-digit uniformity audit — are the cent digits "
    "of order totals uniform, as organic prices should be? The "
    "fabricated-data companion to a32's first-digit Benford screen "
    "(first digit tests the magnitude process, last digit tests "
    "human rounding fingerprints: excess 0s/5s). Ten-row output "
    "carries per-digit counts, the 9-df chi-square (exact-integer "
    "reduction, one shared string) and the 0.05 verdict. One 10-cell "
    "aggregate, no shuffle beyond it — identical at 100 TB. No "
    "reference analog — extension per brief",
)
def v22_last_digit_uniformity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = (
        o.select(
            (
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
                % 10
            ).alias("digit")
        )
        .groupBy("digit")
        .agg(F.count("*").cast("bigint").alias("obs"))
    )
    t = c.agg(
        F.sum("obs").cast("bigint").alias("n_rows"),
        F.sum(F.col("obs") * F.col("obs")).cast("bigint").alias("sum_sq"),
    )
    return c.crossJoin(F.broadcast(t)).select(
        "digit", "obs",
        F.round(F.col("n_rows").cast("double") / 10, 6).alias("expected"),
        F.expr(_V22_CHI2).alias("chi2_stat"),
        (F.expr(_V22_CHI2) < F.lit(_V22_CRIT)).alias("uniform_ok"),
    )


# --- v23 (ext.): Simpson's-paradox screen (aggregation-bias audit) ----------------------

# Shared strings: slope in mean form from BIGINT moments (each moment
# < 2^53 even at ~6e11 rows, so its double image is hardware-exact on
# both engines), and the association sign from the exact DECIMAL(38,0)
# covariance numerator (exact at ANY scale — the sign is the finding;
# the slope is display).
_V23_SLOPE = (
    "ROUND((CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)"
    " - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)"
    "   * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))"
    " / (CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)"
    "    - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)"
    "      * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))), 9)"
)
_V23_SIGN = (
    "CASE WHEN CAST(n AS DECIMAL(38,0)) * sxy"
    " - CAST(sx AS DECIMAL(38,0)) * sy > 0 THEN 1"
    " WHEN CAST(n AS DECIMAL(38,0)) * sxy"
    " - CAST(sx AS DECIMAL(38,0)) * sy < 0 THEN -1 ELSE 0 END"
)
_V23_MOMENTS = """
      CAST(COUNT(*) AS BIGINT) AS n,
      CAST(SUM(xc) AS BIGINT) AS sx,
      CAST(SUM(yc) AS BIGINT) AS sy,
      CAST(SUM(xc * xc) AS BIGINT) AS sxx,
      CAST(SUM(xc * yc) AS BIGINT) AS sxy
"""


@register(
    "v23_simpsons_paradox_screen",
    # DOES THE POOLED TREND LIE? The classic aggregation failure: the
    # discount->quantity association computed over ALL line items can
    # point the OPPOSITE way from every within-stratum association
    # (Simpson's paradox), and a dashboard built on the pooled number
    # ships the wrong conclusion. v23 makes the check a standing data
    # test: per-returnflag OLS association signs vs the pooled sign,
    # with a flip flag per stratum. Exactness device: discounts
    # quantize to integer cents (FLOOR half-up), quantities are
    # integers, so all five moments are BIGINT-exact and the
    # association SIGN comes from the DECIMAL(38,0) covariance
    # numerator — an exact integer comparison at any corpus size; the
    # two display slopes are shared-string doubles built from moments
    # whose double images are exact below 2^53 (~6e11 rows headroom).
    # Scale: one map-combined moment aggregate per stratum + a
    # broadcast of the single pooled row. No shuffle beyond the
    # stratum agg; identical plan at 100 TB.
    oracle=f"""
    WITH q AS (
      SELECT l_returnflag AS stratum,
             CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) AS xc,
             CAST(l_quantity AS BIGINT) AS yc
      FROM lineitem
    ),
    strata AS (
      SELECT stratum, {_V23_MOMENTS.strip()}
      FROM q GROUP BY stratum
    ),
    pooled AS (
      SELECT {_V23_MOMENTS.strip()}
      FROM q
    ),
    named AS (
      SELECT s.stratum, s.n AS n, s.sx AS sx, s.sy AS sy,
             s.sxx AS sxx, s.sxy AS sxy,
             p.n AS pn, p.sx AS psx, p.sy AS psy,
             p.sxx AS psxx, p.sxy AS psxy
      FROM strata s, pooled p
    )
    SELECT stratum, n AS n_rows,
           {_V23_SIGN} AS assoc_sign,
           CASE WHEN CAST(n AS DECIMAL(38,0)) * sxx
                - CAST(sx AS DECIMAL(38,0)) * sx > 0
                THEN {_V23_SLOPE} END AS slope,
           {_V23_SIGN.replace('n AS', 'pn AS')
                     .replace('(n ', '(pn ')
                     .replace('* sxy', '* psxy')
                     .replace('(sx ', '(psx ')
                     .replace('* sy', '* psy')} AS pooled_sign,
           CASE WHEN psxx * pn - psx * psx > 0 THEN
             {_V23_SLOPE.replace('sxy', 'psxy').replace('sxx', 'psxx')
                        .replace('(sx', '(psx').replace('(sy', '(psy')
                        .replace('(n ', '(pn ')} END AS pooled_slope,
           (assoc_sign * {_V23_SIGN.replace('n AS', 'pn AS')
                     .replace('(n ', '(pn ')
                     .replace('* sxy', '* psxy')
                     .replace('(sx ', '(psx ')
                     .replace('* sy', '* psy')}) = -1 AS simpson_flip
    FROM named
    """,
    doc="v23 (ext.): Simpson's-paradox screen — per-stratum "
    "(returnflag) discount->quantity OLS association signs vs the "
    "pooled sign, flagging strata whose trend REVERSES when the "
    "pool is split (the aggregation bias that makes pooled "
    "dashboards lie). Integer-cent quantization makes all moments "
    "BIGINT-exact; the association sign is an exact DECIMAL(38,0) "
    "integer comparison valid at any scale, slopes are shared-"
    "string display doubles. One stratum aggregate + one broadcast "
    "pooled row. No reference analog — extension per brief "
    "(validation family: the reference's checks are row-level; v23 "
    "audits the AGGREGATE's trustworthiness)",
)
def v23_simpsons_paradox_screen(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("stratum"),
        F.expr("CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)").alias("xc"),
        F.col("l_quantity").cast("bigint").alias("yc"),
    )

    def moments(df: DataFrame, *keys: str) -> DataFrame:
        g = df.groupBy(*keys) if keys else df.groupBy()
        return g.agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("xc").cast("bigint").alias("sx"),
            F.sum("yc").cast("bigint").alias("sy"),
            F.sum(F.col("xc") * F.col("xc")).cast("bigint").alias("sxx"),
            F.sum(F.col("xc") * F.col("yc")).cast("bigint").alias("sxy"),
        )

    strata = moments(li, "stratum")
    pooled = moments(li).select(
        F.col("n").alias("pn"),
        F.col("sx").alias("psx"),
        F.col("sy").alias("psy"),
        F.col("sxx").alias("psxx"),
        F.col("sxy").alias("psxy"),
    )
    named = strata.crossJoin(F.broadcast(pooled))
    pooled_sign = (
        _V23_SIGN.replace("n AS", "pn AS")
        .replace("(n ", "(pn ")
        .replace("* sxy", "* psxy")
        .replace("(sx ", "(psx ")
        .replace("* sy", "* psy")
    )
    pooled_slope = (
        _V23_SLOPE.replace("sxy", "psxy")
        .replace("sxx", "psxx")
        .replace("(sx", "(psx")
        .replace("(sy", "(psy")
        .replace("(n ", "(pn ")
    )
    return named.select(
        "stratum",
        F.col("n").alias("n_rows"),
        F.expr(_V23_SIGN).alias("assoc_sign"),
        F.when(
            F.expr(
                "CAST(n AS DECIMAL(38,0)) * sxx"
                " - CAST(sx AS DECIMAL(38,0)) * sx > 0"
            ),
            F.expr(_V23_SLOPE),
        ).alias("slope"),
        F.expr(pooled_sign).alias("pooled_sign"),
        F.when(
            F.expr("psxx * pn - psx * psx > 0"), F.expr(pooled_slope)
        ).alias("pooled_slope"),
        (F.expr(_V23_SIGN) * F.expr(pooled_sign) == -1).alias(
            "simpson_flip"
        ),
    )


# --- v24 (ext.): key-continuity audit (hierarchical gap islands) ------------------------


@register(
    "v24_key_continuity_audit",
    # DID THE LOADER DROP A BATCH? Sequence-key forensics on
    # o_orderkey: duplicates, the missing-id mass, and the SHAPE of
    # the holes — how many contiguous missing runs, and how long the
    # worst one is (one long run = a dropped ingest window; many short
    # ones = by-design sparsity, which TPC-H orderkeys exhibit).
    # Scale device: gap runs live between ADJACENT present ids, so the
    # audit never global-sorts the ids — ids hash into 10k-wide blocks
    # (one partitioned window each), blocks reduce to (min, max,
    # internal-gap stats) rows, and ONE tiny window over the bounded
    # block table stitches boundary gaps. All BIGINT; no rounding
    # device anywhere.
    oracle="""
    WITH ids AS (SELECT DISTINCT o_orderkey AS id FROM orders),
    raw AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM orders),
    blocked AS (
      SELECT id, CAST(id // 10000 AS BIGINT) AS blk,
             id - LAG(id) OVER (PARTITION BY CAST(id // 10000 AS BIGINT)
                                ORDER BY id) - 1 AS g
      FROM ids
    ),
    per_blk AS (
      SELECT blk,
             CAST(MIN(id) AS BIGINT) AS bmin,
             CAST(MAX(id) AS BIGINT) AS bmax,
             CAST(COUNT(*) AS BIGINT) AS n_ids,
             CAST(SUM(CASE WHEN g > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS in_runs,
             CAST(COALESCE(MAX(CASE WHEN g > 0 THEN g END), 0) AS BIGINT)
               AS in_max
      FROM blocked GROUP BY blk
    ),
    stitched AS (
      SELECT blk, bmin, bmax, n_ids, in_runs, in_max,
             bmin - LAG(bmax) OVER (ORDER BY blk) - 1 AS bg
      FROM per_blk
    ),
    tot AS (
      SELECT CAST(SUM(n_ids) AS BIGINT) AS n_distinct,
             CAST(MIN(bmin) AS BIGINT) AS min_id,
             CAST(MAX(bmax) AS BIGINT) AS max_id,
             CAST(SUM(in_runs)
                  + SUM(CASE WHEN bg > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_gap_runs,
             CAST(GREATEST(COALESCE(MAX(in_max), 0),
                           COALESCE(MAX(CASE WHEN bg > 0 THEN bg END), 0))
                  AS BIGINT) AS max_gap_run
      FROM stitched
    )
    SELECT r.n_rows, t.n_distinct,
           r.n_rows - t.n_distinct AS n_dups,
           t.min_id, t.max_id,
           t.max_id - t.min_id + 1 - t.n_distinct AS n_missing,
           t.n_gap_runs, t.max_gap_run
    FROM tot t, raw r
    """,
    doc="v24 (ext.): sequence-key continuity audit on o_orderkey — "
    "duplicate mass, total missing ids, and the gap-run SHAPE "
    "(count + longest contiguous hole) that distinguishes a dropped "
    "ingest window from by-design sparsity. Two-level islands "
    "device: per-10k-block partitioned lag windows find interior "
    "gaps, block (min,max) rows stitch boundary gaps through one "
    "window over the bounded block table — the id space is never "
    "globally sorted, so the plan survives any key volume. "
    "All-BIGINT. Extends the reference's row-level validation "
    "(src/data_validator.py) with key-space forensics — "
    "extension per brief",
)
def v24_key_continuity_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    ids = o.select(F.col("o_orderkey").alias("id")).distinct()
    raw = o.agg(F.count("*").cast("bigint").alias("n_rows"))
    blocked = ids.select(
        "id",
        (F.col("id") / 10000).cast("bigint").alias("blk"),
    ).select(
        "id", "blk",
        (
            F.col("id")
            - F.lag("id").over(W.partitionBy("blk").orderBy("id"))
            - 1
        ).alias("g"),
    )
    per_blk = blocked.groupBy("blk").agg(
        F.min("id").cast("bigint").alias("bmin"),
        F.max("id").cast("bigint").alias("bmax"),
        F.count("*").cast("bigint").alias("n_ids"),
        F.sum(F.when(F.col("g") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("in_runs"),
        F.coalesce(
            F.max(F.when(F.col("g") > 0, F.col("g"))), F.lit(0)
        )
        .cast("bigint")
        .alias("in_max"),
    )
    stitched = per_blk.select(
        "blk", "bmin", "bmax", "n_ids", "in_runs", "in_max",
        (
            F.col("bmin") - F.lag("bmax").over(W.orderBy("blk")) - 1
        ).alias("bg"),
    )
    tot = stitched.agg(
        F.sum("n_ids").cast("bigint").alias("n_distinct"),
        F.min("bmin").cast("bigint").alias("min_id"),
        F.max("bmax").cast("bigint").alias("max_id"),
        (
            F.sum("in_runs")
            + F.sum(F.when(F.col("bg") > 0, 1).otherwise(0))
        )
        .cast("bigint")
        .alias("n_gap_runs"),
        F.greatest(
            F.coalesce(F.max("in_max"), F.lit(0)),
            F.coalesce(F.max(F.when(F.col("bg") > 0, F.col("bg"))), F.lit(0)),
        )
        .cast("bigint")
        .alias("max_gap_run"),
    )
    return tot.crossJoin(F.broadcast(raw)).select(
        "n_rows", "n_distinct",
        (F.col("n_rows") - F.col("n_distinct")).alias("n_dups"),
        "min_id", "max_id",
        (
            F.col("max_id") - F.col("min_id") + 1 - F.col("n_distinct")
        ).alias("n_missing"),
        "n_gap_runs", "max_gap_run",
    )

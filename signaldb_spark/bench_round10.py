"""Round-10 staging battery: oracle-gated queries registered AFTER the
round-9 block so earlier rounds' tuned driver prefixes stay intact;
these become fresh evidence once rounds 6-9 are proven.

Same conventions as bench_queries (round(x, 6) floats, BIGINT counts,
explicit tiebreaks, aliases identical on both sides).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from .catalog import load_table

QUERIES: dict = {}
ORACLES: dict = {}


def _daily_cents(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "cents"
        )
    )


def q_moving_median_revenue(spark, sf_dir):
    """7-day centered MOVING MEDIAN of daily revenue — the robust
    smoother a mean-based moving average isn't. No engine supports a
    median window frame, so the ±3-day neighborhood materializes as a
    self-join over the DAILY rollup (calendar-bounded, broadcast) and
    the median is one exact percentile per center day. Reported for
    interior days only (full 7-day windows), so edges can't disagree."""
    daily = _daily_cents(spark, sf_dir).withColumn(
        "ed",
        (F.unix_timestamp(F.col("d").cast("timestamp")) / 86400).cast("long"),
    )
    c = daily.select(F.col("ed").alias("c_ed"), F.col("d").alias("c_d"))
    n = daily.select(F.col("ed").alias("n_ed"), F.col("cents"))
    win = c.join(
        F.broadcast(n),
        (F.col("n_ed") >= F.col("c_ed") - 3)
        & (F.col("n_ed") <= F.col("c_ed") + 3),
    )
    med = win.groupBy("c_d").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.percentile("cents", F.lit(0.5)).alias("med_cents"),
    )
    return (
        med.filter(F.col("n_days") == 7)
        .select(
            F.date_format("c_d", "yyyy-MM-dd").alias("day"),
            F.round(F.col("med_cents") / 100.0, 6).alias(
                "median_7d_usd"
            ),
        )
        .orderBy("day")
    )


ORACLE_MOVING_MEDIAN_REVENUE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(epoch(CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP)) / 86400
              AS BIGINT) AS ed,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1, 2
), win AS (
  SELECT c.d AS c_d, n.cents
  FROM daily c JOIN daily n
    ON n.ed BETWEEN c.ed - 3 AND c.ed + 3
), med AS (
  SELECT c_d, count(*) AS n_days,
         quantile_cont(cents, 0.5) AS med_cents
  FROM win GROUP BY 1
)
SELECT strftime(c_d, '%Y-%m-%d') AS day,
       round(med_cents / 100.0, 6) AS median_7d_usd
FROM med WHERE n_days = 7 ORDER BY day
"""

QUERIES["moving_median_revenue"] = q_moving_median_revenue
ORACLES["moving_median_revenue"] = ORACLE_MOVING_MEDIAN_REVENUE


def q_ewma_14d_revenue(spark, sf_dir):
    """Exponentially-weighted 14-day revenue per day (α-decay weights
    0.8^k over the trailing window) — the finite-horizon EWMA that IS
    expressible without recursion: the trailing neighborhood is a
    bounded self-join on the daily rollup, the weights are exact powers
    folded with the exact cents. Reported monthly (max EWMA day per
    month) to keep the output calendar-stable."""
    daily = _daily_cents(spark, sf_dir).withColumn(
        "ed",
        (F.unix_timestamp(F.col("d").cast("timestamp")) / 86400).cast("long"),
    )
    c = daily.select(F.col("ed").alias("c_ed"), F.col("d").alias("c_d"))
    n = daily.select(F.col("ed").alias("n_ed"), F.col("cents"))
    win = c.join(
        F.broadcast(n),
        (F.col("n_ed") >= F.col("c_ed") - 13)
        & (F.col("n_ed") <= F.col("c_ed")),
    )
    k = F.col("c_ed") - F.col("n_ed")
    ew = win.groupBy("c_d").agg(
        F.round(
            F.sum(F.col("cents") * F.pow(F.lit(0.8), k))
            / F.sum(F.pow(F.lit(0.8), k))
            / 100.0,
            6,
        ).alias("ewma_usd")
    )
    return (
        ew.groupBy(F.date_format("c_d", "yyyy-MM").alias("month"))
        .agg(
            F.round(F.max("ewma_usd"), 6).alias("peak_ewma_usd"),
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
        )
        .orderBy("month")
    )


ORACLE_EWMA_14D_REVENUE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(epoch(CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP)) / 86400
              AS BIGINT) AS ed,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1, 2
), win AS (
  SELECT c.d AS c_d, n.cents, c.ed - n.ed AS k
  FROM daily c JOIN daily n
    ON n.ed BETWEEN c.ed - 13 AND c.ed
), ew AS (
  SELECT c_d,
         round(sum(cents * pow(0.8, k)) / sum(pow(0.8, k)) / 100.0, 6)
           AS ewma_usd
  FROM win GROUP BY 1
)
SELECT strftime(c_d, '%Y-%m') AS month,
       round(max(ewma_usd), 6) AS peak_ewma_usd,
       CAST(count(*) AS BIGINT) AS n_days
FROM ew GROUP BY 1 ORDER BY 1
"""

QUERIES["ewma_14d_revenue"] = q_ewma_14d_revenue
ORACLES["ewma_14d_revenue"] = ORACLE_EWMA_14D_REVENUE


def q_price_volume_decomposition(spark, sf_dir):
    """Laspeyres price/volume decomposition of the 1996→1997 revenue
    delta per brand: volume effect Σ(p96·Δq) at base prices plus price
    effect Σ(Δp·q97) at new volumes — the index-number split of WHY
    revenue moved. Unit prices are per-brand-year quantity-weighted
    averages; everything stays a ratio of exact sums until the last
    multiply."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    base = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.year("o_orderdate").isin(1996, 1997))
        .groupBy("p_brand", F.year("o_orderdate").alias("y"))
        .agg(
            F.sum(F.col("l_quantity").cast("double")).alias("q"),
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
            ).alias("cents"),
        )
    )
    a = base.filter(F.col("y") == 1996).select(
        "p_brand", F.col("q").alias("q0"), F.col("cents").alias("c0")
    )
    b = base.filter(F.col("y") == 1997).select(
        "p_brand", F.col("q").alias("q1"), F.col("cents").alias("c1")
    )
    j = a.join(b, "p_brand")
    p0 = F.col("c0") / F.col("q0")
    p1 = F.col("c1") / F.col("q1")
    return j.select(
        "p_brand",
        F.round((F.col("c1") - F.col("c0")) / 100.0, 6).alias("delta_usd"),
        F.round(p0 * (F.col("q1") - F.col("q0")) / 100.0, 6).alias(
            "volume_effect_usd"
        ),
        F.round((p1 - p0) * F.col("q1") / 100.0, 6).alias(
            "price_effect_usd"
        ),
    ).orderBy("p_brand")


ORACLE_PRICE_VOLUME_DECOMPOSITION = """
WITH base AS (
  SELECT p_brand, year(o_orderdate) AS y,
         sum(CAST(l_quantity AS DOUBLE)) AS q,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN orders ON l_orderkey = o_orderkey
  WHERE year(o_orderdate) IN (1996, 1997)
  GROUP BY 1, 2
), j AS (
  SELECT a.p_brand, a.q AS q0, a.cents AS c0, b.q AS q1, b.cents AS c1
  FROM (SELECT * FROM base WHERE y = 1996) a
  JOIN (SELECT * FROM base WHERE y = 1997) b USING (p_brand)
)
SELECT p_brand,
       round((c1 - c0) / 100.0, 6) AS delta_usd,
       round((c0 / q0) * (q1 - q0) / 100.0, 6) AS volume_effect_usd,
       round((c1 / q1 - c0 / q0) * q1 / 100.0, 6) AS price_effect_usd
FROM j ORDER BY p_brand
"""

QUERIES["price_volume_decomposition"] = q_price_volume_decomposition
ORACLES["price_volume_decomposition"] = ORACLE_PRICE_VOLUME_DECOMPOSITION


def q_null_key_join_battery(spark, sf_dir):
    """NULL-key join semantics battery: inner, left, and full joins on
    a key nulled every 5th row — SQL equality never matches NULL to
    NULL, so nulled rows must drop from inner matches and survive only
    as outer padding. Counts make the row-fate ledger explicit."""
    e = load_table(spark, sf_dir, "events")
    k = F.when(F.col("event_id") % 5 != 0, F.col("user_id"))
    a = e.select(k.alias("ka")).groupBy("ka").agg(
        F.count(F.lit(1)).alias("na")
    )
    b = e.select(k.alias("kb")).groupBy("kb").agg(
        F.count(F.lit(1)).alias("nb")
    )
    inner = a.join(b, a.ka == b.kb).agg(
        F.lit("inner").alias("join_type"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("na").cast("bigint").alias("sum_left"),
    )
    left = a.join(b, a.ka == b.kb, "left").agg(
        F.lit("left").alias("join_type"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("na").cast("bigint").alias("sum_left"),
    )
    full = a.join(b, a.ka == b.kb, "full").agg(
        F.lit("full").alias("join_type"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("na").cast("bigint").alias("sum_left"),
    )
    return inner.unionByName(left).unionByName(full).orderBy("join_type")


ORACLE_NULL_KEY_JOIN_BATTERY = """
WITH a AS (
  SELECT CASE WHEN event_id % 5 <> 0 THEN user_id END AS ka,
         count(*) AS na
  FROM events GROUP BY 1
), b AS (
  SELECT CASE WHEN event_id % 5 <> 0 THEN user_id END AS kb,
         count(*) AS nb
  FROM events GROUP BY 1
)
SELECT * FROM (
  SELECT 'inner' AS join_type, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(na) AS BIGINT) AS sum_left
  FROM a JOIN b ON ka = kb
  UNION ALL
  SELECT 'left', CAST(count(*) AS BIGINT), CAST(sum(na) AS BIGINT)
  FROM a LEFT JOIN b ON ka = kb
  UNION ALL
  SELECT 'full', CAST(count(*) AS BIGINT), CAST(sum(na) AS BIGINT)
  FROM a FULL OUTER JOIN b ON ka = kb
) ORDER BY join_type
"""

QUERIES["null_key_join_battery"] = q_null_key_join_battery
ORACLES["null_key_join_battery"] = ORACLE_NULL_KEY_JOIN_BATTERY


def q_grouping_sets_distinct_users(spark, sf_dir):
    """COUNT(DISTINCT) under GROUPING SETS — the Expand-times-distinct
    execution shape none of the rollup gates pin (each grouping set
    must deduplicate users independently; a shared dedup would
    undercount coarser sets). Three levels: (type, dow), (type), ()."""
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "event_type", F.dayofweek("ts").alias("dow"), "user_id"
    )
    base.createOrReplaceTempView("gs_events")
    return spark.sql(
        """
        SELECT event_type, dow,
               CAST(count(DISTINCT user_id) AS BIGINT) AS users,
               CAST(count(*) AS BIGINT) AS events
        FROM gs_events
        GROUP BY GROUPING SETS ((event_type, dow), (event_type), ())
        ORDER BY event_type NULLS FIRST, dow NULLS FIRST
        """
    )


ORACLE_GROUPING_SETS_DISTINCT_USERS = """
SELECT event_type, dow,
       CAST(count(DISTINCT user_id) AS BIGINT) AS users,
       CAST(count(*) AS BIGINT) AS events
FROM (SELECT event_type, dayofweek(ts) + 1 AS dow, user_id FROM events)
GROUP BY GROUPING SETS ((event_type, dow), (event_type), ())
ORDER BY event_type NULLS FIRST, dow NULLS FIRST
"""

QUERIES["grouping_sets_distinct_users"] = q_grouping_sets_distinct_users
ORACLES["grouping_sets_distinct_users"] = ORACLE_GROUPING_SETS_DISTINCT_USERS


def q_abc_xyz_matrix(spark, sf_dir):
    """ABC-XYZ inventory classification matrix: parts banded by
    cumulative revenue share (A ≤ 70% < B ≤ 90% < C) and by demand
    variability (coefficient of variation of monthly quantities:
    X < 0.5 ≤ Y < 1.0 ≤ Z), reported as the 9-cell count matrix — the
    planner's first read on any catalog. Exact cents drive the ABC
    cumulative window; CV is a ratio of per-part moments."""
    li = load_table(spark, sf_dir, "lineitem")
    monthly = li.groupBy(
        "l_partkey", F.date_format("l_shipdate", "yyyy-MM").alias("m")
    ).agg(F.sum(F.col("l_quantity").cast("double")).alias("q"))
    per_part = monthly.groupBy("l_partkey").agg(
        F.avg("q").alias("mq"),
        F.stddev_pop("q").alias("sq"),
    )
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
        ).alias("cents")
    )
    w = Window.orderBy(F.desc("cents"), "l_partkey").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = Window.partitionBy()
    abc = rev.select(
        "l_partkey",
        (F.sum("cents").over(w) * 100 <= F.sum("cents").over(tot) * 70)
        .alias("is_a"),
        (F.sum("cents").over(w) * 100 <= F.sum("cents").over(tot) * 90)
        .alias("is_ab"),
    ).select(
        "l_partkey",
        F.when(F.col("is_a"), "A")
        .when(F.col("is_ab"), "B")
        .otherwise("C")
        .alias("abc"),
    )
    xyz = per_part.select(
        "l_partkey",
        F.when(F.col("sq") / F.col("mq") < 0.5, "X")
        .when(F.col("sq") / F.col("mq") < 1.0, "Y")
        .otherwise("Z")
        .alias("xyz"),
    )
    return (
        abc.join(xyz, "l_partkey")
        .groupBy("abc", "xyz")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_parts"))
        .orderBy("abc", "xyz")
    )


ORACLE_ABC_XYZ_MATRIX = """
WITH monthly AS (
  SELECT l_partkey, strftime(l_shipdate, '%Y-%m') AS m,
         sum(CAST(l_quantity AS DOUBLE)) AS q
  FROM lineitem GROUP BY 1, 2
), per_part AS (
  SELECT l_partkey, avg(q) AS mq, stddev_pop(q) AS sq
  FROM monthly GROUP BY 1
), rev AS (
  SELECT l_partkey,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM lineitem GROUP BY 1
), abc AS (
  SELECT l_partkey,
         CASE WHEN sum(cents) OVER (ORDER BY cents DESC, l_partkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100
                <= sum(cents) OVER () * 70 THEN 'A'
              WHEN sum(cents) OVER (ORDER BY cents DESC, l_partkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100
                <= sum(cents) OVER () * 90 THEN 'B'
              ELSE 'C' END AS abc
  FROM rev
), xyz AS (
  SELECT l_partkey,
         CASE WHEN sq / mq < 0.5 THEN 'X'
              WHEN sq / mq < 1.0 THEN 'Y'
              ELSE 'Z' END AS xyz
  FROM per_part
)
SELECT abc, xyz, CAST(count(*) AS BIGINT) AS n_parts
FROM abc JOIN xyz USING (l_partkey)
GROUP BY 1, 2 ORDER BY 1, 2
"""

QUERIES["abc_xyz_matrix"] = q_abc_xyz_matrix
ORACLES["abc_xyz_matrix"] = ORACLE_ABC_XYZ_MATRIX


def q_net_revenue_retention(spark, sf_dir):
    """Dollar-based cohort retention: each acquisition-year cohort's
    revenue in later years as a share of its first-year revenue — the
    NRR curve (the user_retention gate counts heads; this follows the
    money). Exact cents; two shuffles (customer cohorting, cohort-year
    rollup)."""
    o = load_table(spark, sf_dir, "orders")
    with_y = o.select(
        "o_custkey",
        F.year("o_orderdate").alias("y"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    first = with_y.groupBy("o_custkey").agg(F.min("y").alias("cohort"))
    cell = (
        with_y.join(first, "o_custkey")
        .groupBy("cohort", "y")
        .agg(F.sum("cents").alias("cents"))
    )
    base = cell.filter(F.col("y") == F.col("cohort")).select(
        "cohort", F.col("cents").alias("base_cents")
    )
    return (
        cell.join(base, "cohort")
        .select(
            F.col("cohort").cast("bigint").alias("cohort"),
            (F.col("y") - F.col("cohort")).cast("bigint").alias("age_years"),
            F.round(F.col("cents") / F.col("base_cents"), 6).alias(
                "revenue_retention"
            ),
        )
        .orderBy("cohort", "age_years")
    )


ORACLE_NET_REVENUE_RETENTION = """
WITH with_y AS (
  SELECT o_custkey, year(o_orderdate) AS y,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), first AS (
  SELECT o_custkey, min(y) AS cohort FROM with_y GROUP BY 1
), cell AS (
  SELECT cohort, y, CAST(sum(cents) AS BIGINT) AS cents
  FROM with_y JOIN first USING (o_custkey)
  GROUP BY 1, 2
), base AS (
  SELECT cohort, cents AS base_cents FROM cell WHERE y = cohort
)
SELECT CAST(cohort AS BIGINT) AS cohort,
       CAST(y - cohort AS BIGINT) AS age_years,
       round(cents * 1.0 / base_cents, 6) AS revenue_retention
FROM cell JOIN base USING (cohort)
ORDER BY cohort, age_years
"""

QUERIES["net_revenue_retention"] = q_net_revenue_retention
ORACLES["net_revenue_retention"] = ORACLE_NET_REVENUE_RETENTION


def q_type_hierarchy_rollup(spark, sf_dir):
    """ROLLUP over a STRING-DERIVED hierarchy: p_type's three words
    ("STANDARD ANODIZED COPPER") split into level-1/2/3 dimensions and
    revenue rolled up at every prefix depth — the
    parse-then-cube shape real catalogs need when hierarchy lives
    inside a denormalized label. Exact cents; one Expand."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    # split_part yields '' for a missing level where DuckDB's list index
    # yields NULL — normalize to NULL so short labels agree
    def level(i):
        return F.nullif(
            F.split_part(F.col("p_type"), F.lit(" "), F.lit(i)), F.lit("")
        )

    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        level(1).alias("t1"),
        level(2).alias("t2"),
        level(3).alias("t3"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    return (
        j.rollup("t1", "t2", "t3")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.round(F.sum("cents") / 100.0, 6).alias("revenue_usd"),
        )
        .orderBy(
            F.col("t1").asc_nulls_first(),
            F.col("t2").asc_nulls_first(),
            F.col("t3").asc_nulls_first(),
        )
    )


ORACLE_TYPE_HIERARCHY_ROLLUP = """
WITH j AS (
  SELECT string_split(p_type, ' ')[1] AS t1,
         string_split(p_type, ' ')[2] AS t2,
         string_split(p_type, ' ')[3] AS t3,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem JOIN part ON l_partkey = p_partkey
)
SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n_lines,
       round(sum(cents) / 100.0, 6) AS revenue_usd
FROM j GROUP BY ROLLUP (t1, t2, t3)
ORDER BY t1 NULLS FIRST, t2 NULLS FIRST, t3 NULLS FIRST
"""

QUERIES["type_hierarchy_rollup"] = q_type_hierarchy_rollup
ORACLES["type_hierarchy_rollup"] = ORACLE_TYPE_HIERARCHY_ROLLUP


# --------------------------------------------------------------- batch 2


def q_cdc_keep_latest(spark, sf_dir):
    """CDC upsert compaction: keep only the LATEST event per
    (user, event_type) key — the change-data-capture dedup every
    mutable-table mirror runs before serving. One ranked window per
    key with full deterministic tiebreaks; output is the per-type
    survivor count and the exact cents of surviving values."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    latest = (
        e.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
    )
    return (
        latest.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                "latest_value_cents"
            ),
        )
        .orderBy("event_type")
    )


ORACLE_CDC_KEEP_LATEST = """
WITH ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rk
  FROM events
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS latest_value_cents
FROM ranked WHERE rk = 1
GROUP BY 1 ORDER BY 1
"""

QUERIES["cdc_keep_latest"] = q_cdc_keep_latest
ORACLES["cdc_keep_latest"] = ORACLE_CDC_KEEP_LATEST


def q_session_definition_sensitivity(spark, sf_dir):
    """Methodology-sensitivity audit: session counts under three gap
    thresholds (10 / 30 / 60 minutes) in ONE pass — if the metric swings
    hard with the cutoff, the cutoff is doing the analysis. Session
    count = start-flag sum, so the three defs are three conditional
    sums over the same lag."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        e.select("user_id", "ts", "event_id")
        .withColumn("us", F.unix_micros("ts"))
        .withColumn("gap_us", F.col("us") - F.lag("us").over(w))
    )

    def n_sessions(minutes):
        return F.sum(
            F.when(
                F.col("gap_us").isNull()
                | (F.col("gap_us") > minutes * 60 * 1000000),
                1,
            ).otherwise(0)
        ).cast("bigint")

    return gaps.agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        n_sessions(10).alias("sessions_10m"),
        n_sessions(30).alias("sessions_30m"),
        n_sessions(60).alias("sessions_60m"),
    )


ORACLE_SESSION_DEFINITION_SENSITIVITY = """
WITH gaps AS (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events
)
SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(sum(CASE WHEN gap_us IS NULL
                     OR gap_us > 600000000 THEN 1 ELSE 0 END)
            AS BIGINT) AS sessions_10m,
       CAST(sum(CASE WHEN gap_us IS NULL
                     OR gap_us > 1800000000 THEN 1 ELSE 0 END)
            AS BIGINT) AS sessions_30m,
       CAST(sum(CASE WHEN gap_us IS NULL
                     OR gap_us > 3600000000 THEN 1 ELSE 0 END)
            AS BIGINT) AS sessions_60m
FROM gaps
"""

QUERIES["session_definition_sensitivity"] = q_session_definition_sensitivity
ORACLES["session_definition_sensitivity"] = (
    ORACLE_SESSION_DEFINITION_SENSITIVITY
)


def q_topk_stability_quarters(spark, sf_dir):
    """Rank-stability audit: Jaccard overlap of the top-20 revenue
    parts between consecutive quarters — a leaderboard that reshuffles
    every quarter is noise, not signal. Two ranked rollups self-joined
    on adjacent quarter keys; overlap counted, never materialized as
    lists."""
    li = load_table(spark, sf_dir, "lineitem")
    q = (F.year("l_shipdate") * 4 + F.quarter("l_shipdate") - 1).cast(
        "bigint"
    )
    rev = li.groupBy(q.alias("q"), "l_partkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias(
            "cents"
        )
    )
    w = Window.partitionBy("q").orderBy(F.desc("cents"), "l_partkey")
    top = rev.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= 20
    )
    a = top.select(F.col("q").alias("qa"), "l_partkey")
    b = top.select(
        (F.col("q") - 1).alias("qb"), F.col("l_partkey").alias("pk_b")
    )
    overlap = (
        a.join(b, (a.qa == b.qb) & (a.l_partkey == b.pk_b))
        .groupBy("qa")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sizes = top.groupBy("q").agg(F.count(F.lit(1)).alias("sz"))
    cur = sizes.select(F.col("q").alias("qa"), F.col("sz").alias("sz_a"))
    nxt = sizes.select((F.col("q") - 1).alias("qa"), F.col("sz").alias("sz_b"))
    return (
        cur.join(nxt, "qa")
        .join(overlap, "qa", "left")
        .select(
            F.col("qa").alias("quarter"),
            F.coalesce("n_common", F.lit(0)).cast("bigint").alias("n_common"),
            F.round(
                F.coalesce("n_common", F.lit(0))
                / (F.col("sz_a") + F.col("sz_b") - F.coalesce("n_common", F.lit(0))),
                6,
            ).alias("jaccard"),
        )
        .orderBy("quarter")
    )


ORACLE_TOPK_STABILITY_QUARTERS = """
WITH rev AS (
  SELECT CAST(year(l_shipdate) * 4 + quarter(l_shipdate) - 1 AS BIGINT)
           AS q,
         l_partkey,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM lineitem GROUP BY 1, 2
), top AS (
  SELECT q, l_partkey FROM (
    SELECT q, l_partkey,
           row_number() OVER (PARTITION BY q
                              ORDER BY cents DESC, l_partkey) AS rk
    FROM rev
  ) WHERE rk <= 20
), overlap AS (
  SELECT a.q AS qa, count(*) AS n_common
  FROM top a JOIN top b
    ON b.q = a.q + 1 AND b.l_partkey = a.l_partkey
  GROUP BY 1
), sizes AS (
  SELECT q, count(*) AS sz FROM top GROUP BY 1
)
SELECT cur.q AS quarter,
       CAST(coalesce(n_common, 0) AS BIGINT) AS n_common,
       round(coalesce(n_common, 0) * 1.0
             / (cur.sz + nxt.sz - coalesce(n_common, 0)), 6) AS jaccard
FROM sizes cur
JOIN sizes nxt ON nxt.q = cur.q + 1
LEFT JOIN overlap ON overlap.qa = cur.q
ORDER BY quarter
"""

QUERIES["topk_stability_quarters"] = q_topk_stability_quarters
ORACLES["topk_stability_quarters"] = ORACLE_TOPK_STABILITY_QUARTERS


def q_median_ci_rank_bounds(spark, sf_dir):
    """Distribution-free 95% confidence interval for the median per
    event type via ORDER-STATISTIC rank selection: the values at ranks
    floor(n/2 − 1.96·√n/2) and ceil(n/2 + 1.96·√n/2) — the exact,
    bootstrap-free CI. Ranks come from one window ordered purely by
    the (micro-quantized) value, so the value AT a rank is
    deterministic even under ties; neither engine's quantile function
    is involved (both require constant fractions)."""
    e = load_table(spark, sf_dir, "events")
    v = F.round(F.col("value") * 1000000).cast("bigint")
    base = e.select("event_type", v.alias("v"))
    w = Window.partitionBy("event_type").orderBy("v")
    n_w = Window.partitionBy("event_type")
    ranked = base.select(
        "event_type",
        "v",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(n_w).alias("n"),
    )
    k_med = F.floor((F.col("n") + 1) / 2)
    k_lo = F.greatest(
        F.floor(F.col("n") / 2 - 1.96 * F.sqrt(F.col("n")) / 2), F.lit(1)
    )
    k_hi = F.least(
        F.ceil(F.col("n") / 2 + 1.96 * F.sqrt(F.col("n")) / 2), F.col("n")
    )
    return (
        ranked.groupBy("event_type")
        .agg(
            F.max("n").cast("bigint").alias("n"),
            F.round(
                F.max(F.when(F.col("rk") == k_med, F.col("v"))) / 1000000.0,
                6,
            ).alias("median"),
            F.round(
                F.max(F.when(F.col("rk") == k_lo, F.col("v"))) / 1000000.0,
                6,
            ).alias("ci_lo"),
            F.round(
                F.max(F.when(F.col("rk") == k_hi, F.col("v"))) / 1000000.0,
                6,
            ).alias("ci_hi"),
        )
        .orderBy("event_type")
    )


ORACLE_MEDIAN_CI_RANK_BOUNDS = """
WITH base AS (
  SELECT event_type, CAST(round(value * 1000000) AS BIGINT) AS v
  FROM events
), ranked AS (
  SELECT event_type, v,
         row_number() OVER (PARTITION BY event_type ORDER BY v) AS rk,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM base
)
SELECT event_type, CAST(max(n) AS BIGINT) AS n,
       round(max(CASE WHEN rk = floor((n + 1) / 2) THEN v END)
             / 1000000.0, 6) AS median,
       round(max(CASE WHEN rk = greatest(
                 floor(n / 2 - 1.96 * sqrt(n) / 2), 1) THEN v END)
             / 1000000.0, 6) AS ci_lo,
       round(max(CASE WHEN rk = least(
                 ceil(n / 2 + 1.96 * sqrt(n) / 2), n) THEN v END)
             / 1000000.0, 6) AS ci_hi
FROM ranked GROUP BY 1 ORDER BY 1
"""

QUERIES["median_ci_rank_bounds"] = q_median_ci_rank_bounds
ORACLES["median_ci_rank_bounds"] = ORACLE_MEDIAN_CI_RANK_BOUNDS


def q_dead_letter_split(spark, sf_dir):
    """Driver gate for the schema-violation dead-letter contract: a
    metrics_gauge batch whose every 13th row violates the required
    `value` column splits deterministically — the GOOD side (returned
    here, oracle-checked) commits, the poison rows route to the
    dead-letter sink instead of wedging the drain (issue-#1060
    analog). The split predicate is the at-rest schema's non-nullable
    columns, not a hand-rolled filter."""
    from .streaming.ingest import required_violation

    e = load_table(spark, sf_dir, "events")
    gauge = e.select(
        F.col("ts").alias("timestamp"),
        F.col("event_type").alias("service_name"),
        F.lit("bench_metric").alias("metric_name"),
        F.date_format("ts", "yyyy-MM-dd").alias("date_day"),
        F.lit(0).alias("hour"),
        F.when(F.col("event_id") % 13 != 0, F.col("value")).alias("value"),
        F.col("event_id"),
    )
    violated = required_violation(gauge, "metrics_gauge")
    assert violated is not None  # the schema declares required columns
    good = gauge.filter(~violated)
    return (
        good.groupBy("service_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_good"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                "value_cents"
            ),
        )
        .orderBy("service_name")
    )


ORACLE_DEAD_LETTER_SPLIT = """
SELECT event_type AS service_name,
       CAST(count(*) AS BIGINT) AS n_good,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS value_cents
FROM events WHERE event_id % 13 <> 0
GROUP BY 1 ORDER BY 1
"""

QUERIES["dead_letter_split"] = q_dead_letter_split
ORACLES["dead_letter_split"] = ORACLE_DEAD_LETTER_SPLIT


# --------------------------------------------------------------- batch 3


def q_activation_velocity(spark, sf_dir):
    """Activation velocity: days from each user's FIRST event to their
    10th — how fast new users reach the activation bar. One ranked
    window per user; the ramp reduces to exact rank-selected quartiles
    over the per-user rollup (integer microsecond gaps until the final
    division)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = e.select(
        "user_id", "ts", "event_id", F.unix_micros("ts").alias("us")
    ).withColumn("rk", F.row_number().over(w)).drop("ts", "event_id")
    ramp = (
        ranked.filter(F.col("rk").isin(1, 10))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("hits"),
            (F.max("us") - F.min("us")).alias("ramp_us"),
        )
        .filter(F.col("hits") == 2)
        .select((F.col("ramp_us") / 86400000000.0).alias("ramp_days"))
    )
    return ramp.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_activated"),
        F.round(F.percentile("ramp_days", F.lit(0.25)), 6).alias("p25_days"),
        F.round(F.percentile("ramp_days", F.lit(0.5)), 6).alias("p50_days"),
        F.round(F.percentile("ramp_days", F.lit(0.75)), 6).alias("p75_days"),
    )


ORACLE_ACTIVATION_VELOCITY = """
WITH ranked AS (
  SELECT user_id, epoch_us(ts) AS us,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rk
  FROM events
), ramp AS (
  SELECT (max(us) - min(us)) / 86400000000.0 AS ramp_days
  FROM ranked WHERE rk IN (1, 10)
  GROUP BY user_id HAVING count(*) = 2
)
SELECT CAST(count(*) AS BIGINT) AS n_activated,
       round(quantile_cont(ramp_days, 0.25), 6) AS p25_days,
       round(quantile_cont(ramp_days, 0.5), 6) AS p50_days,
       round(quantile_cont(ramp_days, 0.75), 6) AS p75_days
FROM ramp
"""

QUERIES["activation_velocity"] = q_activation_velocity
ORACLES["activation_velocity"] = ORACLE_ACTIVATION_VELOCITY


def q_dual_sourcing_share(spark, sf_dir):
    """Supply-chain resilience: the share of each part type's parts
    sourced from 2+ DISTINCT supplier NATIONS — single-nation parts are
    the procurement risk register. The supplier dim broadcasts; the
    distinct projection happens before any wide join."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    nations = (
        li.select("l_partkey", "l_suppkey")
        .distinct()
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("l_partkey", "s_nationkey")
        .distinct()
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_nations"))
    )
    return (
        nations.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum(F.when(F.col("n_nations") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("dual_sourced"),
            F.round(
                F.sum(F.when(F.col("n_nations") >= 2, 1).otherwise(0))
                / F.count(F.lit(1)),
                6,
            ).alias("dual_share"),
        )
        .orderBy("p_type")
    )


ORACLE_DUAL_SOURCING_SHARE = """
WITH nations AS (
  SELECT l_partkey, count(*) AS n_nations FROM (
    SELECT DISTINCT l_partkey, s_nationkey
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    JOIN supplier ON l_suppkey = s_suppkey
  ) GROUP BY 1
)
SELECT p_type, CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(CASE WHEN n_nations >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS dual_sourced,
       round(sum(CASE WHEN n_nations >= 2 THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS dual_share
FROM nations JOIN part ON l_partkey = p_partkey
GROUP BY 1 ORDER BY 1
"""

QUERIES["dual_sourcing_share"] = q_dual_sourcing_share
ORACLES["dual_sourcing_share"] = ORACLE_DUAL_SOURCING_SHARE


def q_term_burstiness(spark, sf_dir):
    """Church-Gale burstiness for the top-50 document-frequency terms:
    P(term appears 2+ times in a doc | appears at all) — content words
    burst, function words don't; the adaptive-language-model read on a
    corpus. Per-(doc, term) counts roll up to df/df2 per term; the
    top-50 rank runs on the term rollup."""
    d = load_table(spark, sf_dir, "documents")
    dt = (
        d.select(
            "doc_id",
            F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("term"),
        )
        .filter(F.length("term") > 0)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    per_term = dt.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum(F.when(F.col("tf") >= 2, 1).otherwise(0)).alias("df2"),
    )
    w = Window.orderBy(F.desc("df"), "term")
    return (
        per_term.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 50)
        .select(
            F.col("rk").cast("bigint").alias("rk"),
            "term",
            F.col("df").cast("bigint").alias("df"),
            F.round(F.col("df2") / F.col("df"), 6).alias("burstiness"),
        )
        .orderBy("rk")
    )


ORACLE_TERM_BURSTINESS = """
WITH dt AS (
  SELECT doc_id, t.term, count(*) AS tf
  FROM documents,
       LATERAL unnest(string_split_regex(lower(text), '[^a-z]+')) AS t(term)
  WHERE length(t.term) > 0
  GROUP BY 1, 2
), per_term AS (
  SELECT term, count(*) AS df,
         sum(CASE WHEN tf >= 2 THEN 1 ELSE 0 END) AS df2
  FROM dt GROUP BY 1
), ranked AS (
  SELECT term, df, df2,
         row_number() OVER (ORDER BY df DESC, term) AS rk
  FROM per_term
)
SELECT CAST(rk AS BIGINT) AS rk, term, CAST(df AS BIGINT) AS df,
       round(df2 * 1.0 / df, 6) AS burstiness
FROM ranked WHERE rk <= 50 ORDER BY rk
"""

QUERIES["term_burstiness"] = q_term_burstiness
ORACLES["term_burstiness"] = ORACLE_TERM_BURSTINESS


def q_sq8_reconstruction_snr(spark, sf_dir):
    """Int8 scalar-quantization SNR per label: signal power over
    round-trip error power at a single global scale (127 / max|x|) —
    the fidelity audit run before shipping a quantized index. The
    scale is a 1-row broadcast; rounding and reconstruction are
    identical IEEE expressions in both engines."""
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "label", F.explode("embedding").alias("xf")
    ).select("label", F.col("xf").cast("double").alias("x"))
    scale = ex.agg((127.0 / F.max(F.abs("x"))).alias("s"))
    err = (
        ex.crossJoin(F.broadcast(scale))
        .select(
            "label",
            (F.col("x") * F.col("x")).alias("p_sig"),
            (
                (F.col("x") - F.round(F.col("x") * F.col("s")) / F.col("s"))
                * (F.col("x") - F.round(F.col("x") * F.col("s")) / F.col("s"))
            ).alias("p_err"),
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_values"),
            F.round(
                10 * F.log(10.0, F.sum("p_sig") / F.sum("p_err")), 6
            ).alias("snr_db"),
        )
    )
    return err.select(
        F.col("label").cast("bigint").alias("label"), "n_values", "snr_db"
    ).orderBy("label")


ORACLE_SQ8_RECONSTRUCTION_SNR = """
WITH ex AS (
  SELECT label, CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings
), scale AS (
  SELECT 127.0 / max(abs(x)) AS s FROM ex
)
SELECT CAST(label AS BIGINT) AS label,
       CAST(count(*) AS BIGINT) AS n_values,
       round(10 * log10(sum(x * x)
             / sum((x - round(x * s) / s) * (x - round(x * s) / s))), 6)
         AS snr_db
FROM ex, scale GROUP BY 1 ORDER BY 1
"""

QUERIES["sq8_reconstruction_snr"] = q_sq8_reconstruction_snr
ORACLES["sq8_reconstruction_snr"] = ORACLE_SQ8_RECONSTRUCTION_SNR


def q_iso_week_boundary(spark, sf_dir):
    """ISO-week boundary battery: weekofyear around the year turn (the
    week-53 / week-1 corners where naive week math silently
    misattributes a year of data) over every order date in the
    Dec 26 - Jan 7 windows. Tiny distinct rollup; the point is
    byte-identical week labels."""
    o = load_table(spark, sf_dir, "orders")
    d = o.select(F.to_date("o_orderdate").alias("d")).distinct().filter(
        (F.month("d").isin(12) & (F.dayofmonth("d") >= 26))
        | (F.month("d") == 1) & (F.dayofmonth("d") <= 7)
    )
    return (
        d.select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.weekofyear("d").cast("bigint").alias("iso_week"),
            F.dayofweek("d").cast("bigint").alias("dow_sun1"),
        )
        .orderBy("day")
    )


ORACLE_ISO_WEEK_BOUNDARY = """
WITH d AS (
  SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders
  WHERE (month(o_orderdate) = 12 AND day(o_orderdate) >= 26)
     OR (month(o_orderdate) = 1 AND day(o_orderdate) <= 7)
)
SELECT strftime(d, '%Y-%m-%d') AS day,
       CAST(weekofyear(d) AS BIGINT) AS iso_week,
       CAST(dayofweek(d) + 1 AS BIGINT) AS dow_sun1
FROM d ORDER BY day
"""

QUERIES["iso_week_boundary"] = q_iso_week_boundary
ORACLES["iso_week_boundary"] = ORACLE_ISO_WEEK_BOUNDARY


def q_expiry_retains_window(spark, sf_dir):
    """Driver gate for the time-travel retention window: after
    ``expire_snapshots(keep_last=2)`` the PREVIOUS version must still
    answer exactly its own (batch-1) rows — expiration trims history
    to the configured window, never inside it. Complements the
    read-stability gate (which pins the CURRENT version)."""
    from .storage.manifest import ManifestTable, write_batch_manifest

    key = ("expiry2", sf_dir)
    if key not in _R10_CACHE:
        import tempfile as _tempfile

        from .bench_round9 import _events_day_hour

        path = _tempfile.mkdtemp(prefix="sdb-r10-expiry2-")
        e = _events_day_hour(spark, sf_dir)
        for i in (0, 1):
            write_batch_manifest(
                e.filter(F.col("event_id") % 2 == i), path, "events_r10e",
                batch_id=i + 1, partition_cols=("date_day", "hour"),
                stats_cols=("ts",),
            )
        _R10_CACHE[key] = path
    path = _R10_CACHE[key]
    mt = ManifestTable(path)
    mt.expire_snapshots(keep_last=2)
    prev_version = mt.versions()[-2]
    df = mt.read(spark, version=prev_version)
    return (
        df.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                "value_cents"
            ),
        )
        .orderBy("event_type")
    )


_R10_CACHE: dict = {}

ORACLE_EXPIRY_RETAINS_WINDOW = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS value_cents
FROM events WHERE event_id % 2 = 0
GROUP BY 1 ORDER BY 1
"""

QUERIES["expiry_retains_window"] = q_expiry_retains_window
ORACLES["expiry_retains_window"] = ORACLE_EXPIRY_RETAINS_WINDOW


# --------------------------------------------------------------- batch 4


def q_chi2_gof_quantity(spark, sf_dir):
    """Chi-square goodness-of-fit of lineitem quantities against the
    discrete-uniform null, per return flag — is the demand distribution
    actually flat across 1..50? (The independence gate tests ASSOCIATION
    between two columns; GOF tests one column against a model.)
    Observed counts are exact; expected = n/50; the statistic folds
    over the 50-cell rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        "l_returnflag", F.col("l_quantity").cast("bigint").alias("q")
    ).agg(F.count(F.lit(1)).alias("obs"))
    tot = Window.partitionBy("l_returnflag")
    scored = cells.select(
        "l_returnflag",
        "obs",
        (F.sum("obs").over(tot) / 50.0).alias("exp"),
    )
    return (
        scored.groupBy("l_returnflag")
        .agg(
            F.sum("obs").cast("bigint").alias("n"),
            F.count(F.lit(1)).cast("bigint").alias("cells"),
            F.round(
                F.sum(
                    (F.col("obs") - F.col("exp"))
                    * (F.col("obs") - F.col("exp"))
                    / F.col("exp")
                ),
                6,
            ).alias("chi2"),
        )
        .orderBy("l_returnflag")
    )


ORACLE_CHI2_GOF_QUANTITY = """
WITH cells AS (
  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
         count(*) AS obs
  FROM lineitem GROUP BY 1, 2
), scored AS (
  SELECT l_returnflag, obs,
         sum(obs) OVER (PARTITION BY l_returnflag) / 50.0 AS exp
  FROM cells
)
SELECT l_returnflag, CAST(sum(obs) AS BIGINT) AS n,
       CAST(count(*) AS BIGINT) AS cells,
       round(sum((obs - exp) * (obs - exp) / exp), 6) AS chi2
FROM scored GROUP BY 1 ORDER BY 1
"""

QUERIES["chi2_gof_quantity"] = q_chi2_gof_quantity
ORACLES["chi2_gof_quantity"] = ORACLE_CHI2_GOF_QUANTITY


def q_journeys_per_user(spark, sf_dir):
    """Two-level sessionization: 30-minute-gap SESSIONS nest inside
    24-hour-gap JOURNEYS (the visit vs trip distinction) — hierarchical
    gaps-and-islands that single-threshold sessionization can't see.
    Both levels come from the same lag pass; the report is the
    distribution of sessions-per-journey."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = (
        e.select("user_id", "ts", "event_id")
        .withColumn("us", F.unix_micros("ts"))
        .withColumn("gap", F.col("us") - F.lag("us").over(w))
        .withColumn(
            "sess_start",
            F.when(
                F.col("gap").isNull() | (F.col("gap") > 1800000000), 1
            ).otherwise(0),
        )
        .withColumn(
            "jour_start",
            F.when(
                F.col("gap").isNull() | (F.col("gap") > 86400000000), 1
            ).otherwise(0),
        )
        .withColumn("jid", F.sum("jour_start").over(w))
    )
    per_journey = flagged.groupBy("user_id", "jid").agg(
        F.sum("sess_start").alias("n_sessions")
    )
    return (
        per_journey.groupBy(
            F.col("n_sessions").cast("bigint").alias("sessions_in_journey")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_journeys"))
        .orderBy("sessions_in_journey")
    )


ORACLE_JOURNEYS_PER_USER = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END
           AS sess_start,
         CASE WHEN gap IS NULL OR gap > 86400000000 THEN 1 ELSE 0 END
           AS jour_start
  FROM flagged
), jd AS (
  SELECT user_id, sess_start,
         sum(jour_start) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS jid
  FROM marked
), per_journey AS (
  SELECT user_id, jid, sum(sess_start) AS n_sessions
  FROM jd GROUP BY 1, 2
)
SELECT CAST(n_sessions AS BIGINT) AS sessions_in_journey,
       CAST(count(*) AS BIGINT) AS n_journeys
FROM per_journey GROUP BY 1 ORDER BY 1
"""

QUERIES["journeys_per_user"] = q_journeys_per_user
ORACLES["journeys_per_user"] = ORACLE_JOURNEYS_PER_USER


def q_not_in_null_trap(spark, sf_dir):
    """The NOT IN null trap, pinned: NOT IN against a list containing
    NULL returns NO rows (three-valued logic), while NOT EXISTS and an
    anti-join return the intuitive complement — the single most common
    silent-wrong-answer in SQL. All three counts side by side over the
    same nullable key list."""
    e = load_table(spark, sf_dir, "events")
    e.select(
        "event_id",
        "user_id",
        F.when(F.col("event_id") % 97 != 0, F.col("user_id")).alias("k"),
    ).createOrReplaceTempView("nit_events")
    return spark.sql(
        """
        SELECT
          CAST((SELECT count(*) FROM nit_events
                WHERE user_id NOT IN (SELECT k FROM nit_events
                                      WHERE event_id % 3 = 0))
               AS BIGINT) AS not_in_count,
          CAST((SELECT count(*) FROM nit_events a
                WHERE NOT EXISTS (SELECT 1 FROM nit_events b
                                  WHERE b.event_id % 3 = 0
                                    AND b.k = a.user_id))
               AS BIGINT) AS not_exists_count,
          CAST((SELECT count(*) FROM nit_events
                WHERE user_id NOT IN (SELECT k FROM nit_events
                                      WHERE event_id % 3 = 0
                                        AND k IS NOT NULL))
               AS BIGINT) AS not_in_filtered_count
        """
    )


ORACLE_NOT_IN_NULL_TRAP = """
WITH nit_events AS (
  SELECT event_id, user_id,
         CASE WHEN event_id % 97 <> 0 THEN user_id END AS k
  FROM events
)
SELECT
  CAST((SELECT count(*) FROM nit_events
        WHERE user_id NOT IN (SELECT k FROM nit_events
                              WHERE event_id % 3 = 0))
       AS BIGINT) AS not_in_count,
  CAST((SELECT count(*) FROM nit_events a
        WHERE NOT EXISTS (SELECT 1 FROM nit_events b
                          WHERE b.event_id % 3 = 0
                            AND b.k = a.user_id))
       AS BIGINT) AS not_exists_count,
  CAST((SELECT count(*) FROM nit_events
        WHERE user_id NOT IN (SELECT k FROM nit_events
                              WHERE event_id % 3 = 0
                                AND k IS NOT NULL))
       AS BIGINT) AS not_in_filtered_count
"""

QUERIES["not_in_null_trap"] = q_not_in_null_trap
ORACLES["not_in_null_trap"] = ORACLE_NOT_IN_NULL_TRAP


def q_rows_vs_range_peers(spark, sf_dir):
    """ROWS vs RANGE frame semantics with duplicate ORDER keys: a RANGE
    cumulative sum includes ALL peer rows of the current key while ROWS
    cuts mid-peer-group — the window-frame corner that silently skews
    running totals on tied timestamps. Reported as the number of days
    where the two conventions disagree (and by how much at the end,
    where they must agree)."""
    o = load_table(spark, sf_dir, "orders")
    day = F.to_date("o_orderdate").alias("d")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    base = o.select(day, cents.alias("cents"), "o_orderkey")
    w_rows = (
        Window.orderBy("d", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ed = (F.unix_timestamp(F.col("d").cast("timestamp")) / 86400).cast("long")
    w_range = Window.orderBy(ed).rangeBetween(
        Window.unboundedPreceding, 0
    )
    both = base.select(
        "d",
        F.sum("cents").over(w_rows).alias("cum_rows"),
        F.sum("cents").over(w_range).alias("cum_range"),
    )
    return both.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(
            F.when(F.col("cum_rows") != F.col("cum_range"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("rows_mid_peer_disagreements"),
        F.round((F.max("cum_rows") - F.max("cum_range")) / 100.0, 6).alias(
            "final_total_diff_usd"
        ),
    )


ORACLE_ROWS_VS_RANGE_PEERS = """
WITH base AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(epoch(CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP)) / 86400
              AS BIGINT) AS ed,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         o_orderkey
  FROM orders
), cum AS (
  SELECT d,
         sum(cents) OVER (ORDER BY d, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rows,
         sum(cents) OVER (ORDER BY ed
           RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_range
  FROM base
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN cum_rows <> cum_range THEN 1 ELSE 0 END)
            AS BIGINT) AS rows_mid_peer_disagreements,
       round((max(cum_rows) - max(cum_range)) / 100.0, 6)
         AS final_total_diff_usd
FROM cum
"""

QUERIES["rows_vs_range_peers"] = q_rows_vs_range_peers
ORACLES["rows_vs_range_peers"] = ORACLE_ROWS_VS_RANGE_PEERS


def q_type_cosine_affinity(spark, sf_dir):
    """Item-item collaborative-filtering affinity: cosine similarity
    between event types over their per-user activity-count vectors —
    which behaviors travel together across the user base. The classic
    CF shape: per-(user, type) rollup, self-join on user (dot
    products), norms from the same rollup; the type pair table is
    tiny."""
    e = load_table(spark, sf_dir, "events")
    ut = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    a = ut.select(
        "user_id", F.col("event_type").alias("ta"), F.col("c").alias("ca")
    )
    b = ut.select(
        "user_id", F.col("event_type").alias("tb"), F.col("c").alias("cb")
    )
    dots = (
        a.join(b, "user_id")
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    norms = ut.groupBy("event_type").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nrm")
    )
    na = norms.select(F.col("event_type").alias("ta"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("event_type").alias("tb"), F.col("nrm").alias("nb"))
    return (
        dots.join(F.broadcast(na), "ta")
        .join(F.broadcast(nb), "tb")
        .select(
            "ta",
            "tb",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias(
                "cosine"
            ),
        )
        .orderBy("ta", "tb")
    )


ORACLE_TYPE_COSINE_AFFINITY = """
WITH ut AS (
  SELECT user_id, event_type, count(*) AS c
  FROM events GROUP BY 1, 2
), dots AS (
  SELECT a.event_type AS ta, b.event_type AS tb,
         sum(a.c * b.c) AS dot
  FROM ut a JOIN ut b USING (user_id)
  WHERE a.event_type < b.event_type
  GROUP BY 1, 2
), norms AS (
  SELECT event_type, sqrt(sum(c * c)) AS nrm FROM ut GROUP BY 1
)
SELECT ta, tb, round(dot / (na.nrm * nb.nrm), 6) AS cosine
FROM dots
JOIN norms na ON na.event_type = ta
JOIN norms nb ON nb.event_type = tb
ORDER BY ta, tb
"""

QUERIES["type_cosine_affinity"] = q_type_cosine_affinity
ORACLES["type_cosine_affinity"] = ORACLE_TYPE_COSINE_AFFINITY


def q_filtered_tail_topk(spark, sf_dir):
    """Driver gate for the PREDICATED tail scan: read_recent_topk's
    transform hook filters to one event type, and the early stop must
    still be correct — the scan only halts once n SURVIVING rows beat
    every unread file's max ts. The top-100 'error' timestamp multiset
    equals the oracle's filtered ORDER BY ts DESC LIMIT."""
    from .bench_round9 import _events_versioned_table
    from .storage.manifest import ManifestTable

    path = _events_versioned_table(spark, sf_dir)
    df, _files = ManifestTable(path).read_recent_topk(
        spark, "ts", 100,
        transform=lambda d: d.filter(F.col("event_type") == "error"),
    )
    return (
        df.groupBy("ts")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .orderBy("ts")
    )


ORACLE_FILTERED_TAIL_TOPK = """
SELECT ts, CAST(count(*) AS BIGINT) AS cnt
FROM (SELECT ts FROM events WHERE event_type = 'error'
      ORDER BY ts DESC LIMIT 100)
GROUP BY 1 ORDER BY 1
"""

QUERIES["filtered_tail_topk"] = q_filtered_tail_topk
ORACLES["filtered_tail_topk"] = ORACLE_FILTERED_TAIL_TOPK


# --------------------------------------------------------------- batch 5


def q_dau_mau_stickiness(spark, sf_dir):
    """DAU/MAU stickiness per month: average daily active users over
    monthly active users — the canonical engagement ratio (1/30 =
    tourists, 1.0 = daily habit). Two distinct-count rollups from one
    projection; exact integers until the final division."""
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        F.date_format("ts", "yyyy-MM").alias("m"),
        F.to_date("ts").alias("d"),
        "user_id",
    )
    dau = base.groupBy("m", "d").agg(
        F.countDistinct("user_id").alias("dau")
    )
    avg_dau = dau.groupBy("m").agg(
        F.sum("dau").alias("dau_sum"), F.count(F.lit(1)).alias("n_days")
    )
    mau = base.groupBy("m").agg(F.countDistinct("user_id").alias("mau"))
    return (
        avg_dau.join(mau, "m")
        .select(
            F.col("m").alias("month"),
            F.col("mau").cast("bigint").alias("mau"),
            F.round(F.col("dau_sum") / F.col("n_days"), 6).alias("avg_dau"),
            F.round(
                F.col("dau_sum") / F.col("n_days") / F.col("mau"), 6
            ).alias("stickiness"),
        )
        .orderBy("month")
    )


ORACLE_DAU_MAU_STICKINESS = """
WITH base AS (
  SELECT strftime(ts, '%Y-%m') AS m, CAST(ts AS DATE) AS d, user_id
  FROM events
), dau AS (
  SELECT m, d, count(DISTINCT user_id) AS dau FROM base GROUP BY 1, 2
), avg_dau AS (
  SELECT m, sum(dau) AS dau_sum, count(*) AS n_days FROM dau GROUP BY 1
), mau AS (
  SELECT m, count(DISTINCT user_id) AS mau FROM base GROUP BY 1
)
SELECT m AS month, CAST(mau AS BIGINT) AS mau,
       round(dau_sum * 1.0 / n_days, 6) AS avg_dau,
       round(dau_sum * 1.0 / n_days / mau, 6) AS stickiness
FROM avg_dau JOIN mau USING (m) ORDER BY month
"""

QUERIES["dau_mau_stickiness"] = q_dau_mau_stickiness
ORACLES["dau_mau_stickiness"] = ORACLE_DAU_MAU_STICKINESS


def q_scd2_validity_intervals(spark, sf_dir):
    """SCD-type-2 modeling from an event stream: each user's
    event_type becomes a slowly-changing attribute with validity
    intervals [ts, next_change); the report is intervals and total
    covered duration per attribute value — the dimension-history build
    every warehouse runs. Change points collapse consecutive
    duplicates first (the SCD2 dedup), then one lead per user."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        e.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
    )
    wc = Window.partitionBy("user_id").orderBy("ts", "event_id")
    intervals = changes.withColumn(
        "valid_to_us", F.lead(F.unix_micros("ts")).over(wc)
    ).withColumn("valid_from_us", F.unix_micros("ts"))
    closed = intervals.filter(F.col("valid_to_us").isNotNull())
    return (
        closed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
            F.round(
                F.sum(F.col("valid_to_us") - F.col("valid_from_us"))
                / 86400000000.0,
                6,
            ).alias("total_days"),
        )
        .orderBy("event_type")
    )


ORACLE_SCD2_VALIDITY_INTERVALS = """
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         lag(event_type) OVER w AS prev_type
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), changes AS (
  SELECT user_id, ts, event_id, event_type FROM ordered
  WHERE prev_type IS NULL OR prev_type <> event_type
), intervals AS (
  SELECT event_type, epoch_us(ts) AS valid_from_us,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS valid_to_us
  FROM changes
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_intervals,
       round(sum(valid_to_us - valid_from_us) / 86400000000.0, 6)
         AS total_days
FROM intervals WHERE valid_to_us IS NOT NULL
GROUP BY 1 ORDER BY 1
"""

QUERIES["scd2_validity_intervals"] = q_scd2_validity_intervals
ORACLES["scd2_validity_intervals"] = ORACLE_SCD2_VALIDITY_INTERVALS


def q_compaction_time_travel(spark, sf_dir):
    """Composition gate: the PRE-compaction snapshot stays readable
    after compaction rewrites every partition — the replaced files die
    at snapshot expiration, never at commit, so a long-running query
    pinned to the old version finishes consistently. The pre-compact
    version must answer the full week exactly (same oracle as the
    compacted current version — that equality IS the isolation
    proof)."""
    from .bench_round9 import _compacted_table
    from .storage.manifest import ManifestTable

    path = _compacted_table(spark, sf_dir)
    mt = ManifestTable(path)
    # version 3 = the third batch commit, before any compaction commit
    df = mt.read(spark, version=3)
    return (
        df.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                "value_cents"
            ),
        )
        .orderBy("event_type")
    )


ORACLE_COMPACTION_TIME_TRAVEL = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS value_cents
FROM events WHERE day(ts) <= 7
GROUP BY 1 ORDER BY 1
"""

QUERIES["compaction_time_travel"] = q_compaction_time_travel
ORACLES["compaction_time_travel"] = ORACLE_COMPACTION_TIME_TRAVEL


def q_knn_reciprocity(spark, sf_dir):
    """kNN-graph reciprocity: the share of top-5 cosine edges i→j whose
    reverse j→i is also a top-5 edge — low reciprocity flags hubness,
    the failure mode that quietly wrecks ANN recall. Runs on a
    deterministic 400-vector sample (vec_id mod); the sample is bounded
    by construction, so one side broadcasts and each pair's dot is a
    zip_with fold — the corpus-sized vector table never shuffles at
    all."""
    from .operators.dedup import fan_out

    e = load_table(spark, sf_dir, "embeddings")
    sample = fan_out(e.filter(F.col("vec_id") % 5 == 0)).select(
        "vec_id", "embedding"
    )
    # the sample is BOUNDED (400 vectors) by construction, so the right
    # pair shape is a broadcast of one side and a zip_with dot per pair
    # — zero exchanges before the per-vector ranking window. The old
    # dimension-keyed posexplode self-join shuffled |sample|²·dims
    # (~10M) component rows into a (va, vb) aggregation to produce the
    # same 160k dot products (guide §3: broadcast the side that fits).
    a = sample.select(F.col("vec_id").alias("va"), F.col("embedding").alias("ea"))
    b = sample.select(F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"))
    dots = (
        a.join(F.broadcast(b), F.col("va") != F.col("vb"))
        .select(
            "va", "vb",
            F.aggregate(
                F.zip_with(
                    F.col("ea"), F.col("eb"),
                    lambda x, y: x.cast("double") * y.cast("double"),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("dot"),
        )
    )
    w = Window.partitionBy("va").orderBy(F.desc("dot"), "vb")
    knn = dots.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= 5
    )
    fwd = knn.select("va", "vb")
    rev = knn.select(
        F.col("vb").alias("va"), F.col("va").alias("vb"), F.lit(1).alias("r")
    )
    joined = fwd.join(rev, ["va", "vb"], "left")
    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges"),
        F.sum(F.coalesce(F.col("r"), F.lit(0))).cast("bigint").alias(
            "reciprocal_edges"
        ),
        F.round(
            F.sum(F.coalesce(F.col("r"), F.lit(0))) / F.count(F.lit(1)), 6
        ).alias("reciprocity"),
    )


ORACLE_KNN_RECIPROCITY = """
WITH sample AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0
), ex AS (
  SELECT vec_id, unnest(range(len(embedding))) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM sample
), dots AS (
  SELECT a.vec_id AS va, b.vec_id AS vb, sum(a.x * b.x) AS dot
  FROM ex a JOIN ex b USING (i)
  WHERE a.vec_id <> b.vec_id
  GROUP BY 1, 2
), knn AS (
  SELECT va, vb FROM (
    SELECT va, vb,
           row_number() OVER (PARTITION BY va
                              ORDER BY dot DESC, vb) AS rk
    FROM dots
  ) WHERE rk <= 5
)
SELECT CAST(count(*) AS BIGINT) AS n_edges,
       CAST(sum(CASE WHEN r.va IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS reciprocal_edges,
       round(sum(CASE WHEN r.va IS NOT NULL THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS reciprocity
FROM knn f
LEFT JOIN knn r ON r.va = f.vb AND r.vb = f.va
"""

QUERIES["knn_reciprocity"] = q_knn_reciprocity
ORACLES["knn_reciprocity"] = ORACLE_KNN_RECIPROCITY


# --------------------------------------------------------------- batch 6


def q_null_safe_equality_battery(spark, sf_dir):
    """Null-safe equality (Spark's <=> / SQL's IS NOT DISTINCT FROM)
    vs plain equality on a nulled join key: null-safe matches NULL to
    NULL (nulled rows pair up), plain equality drops them — the
    deliberate inverse of the null_key_join gate, pinning the operator
    that OPTS INTO null matching."""
    e = load_table(spark, sf_dir, "events")
    k = F.when(F.col("event_id") % 11 != 0, F.col("event_type"))
    a = e.select(k.alias("ka")).groupBy("ka").agg(
        F.count(F.lit(1)).alias("na")
    )
    b = e.select(k.alias("kb")).groupBy("kb").agg(
        F.count(F.lit(1)).alias("nb")
    )
    plain = a.join(b, a.ka == b.kb).agg(
        F.lit("plain_eq").alias("mode"),
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.col("na") * F.col("nb")).cast("bigint").alias("pair_mass"),
    )
    safe = a.join(b, a.ka.eqNullSafe(b.kb)).agg(
        F.lit("null_safe_eq").alias("mode"),
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.col("na") * F.col("nb")).cast("bigint").alias("pair_mass"),
    )
    return plain.unionByName(safe).orderBy("mode")


ORACLE_NULL_SAFE_EQUALITY_BATTERY = """
WITH a AS (
  SELECT CASE WHEN event_id % 11 <> 0 THEN event_type END AS ka,
         count(*) AS na
  FROM events GROUP BY 1
), b AS (
  SELECT CASE WHEN event_id % 11 <> 0 THEN event_type END AS kb,
         count(*) AS nb
  FROM events GROUP BY 1
)
SELECT * FROM (
  SELECT 'plain_eq' AS mode, CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(na * nb) AS BIGINT) AS pair_mass
  FROM a JOIN b ON ka = kb
  UNION ALL
  SELECT 'null_safe_eq', CAST(count(*) AS BIGINT),
         CAST(sum(na * nb) AS BIGINT)
  FROM a JOIN b ON ka IS NOT DISTINCT FROM kb
) ORDER BY mode
"""

QUERIES["null_safe_equality_battery"] = q_null_safe_equality_battery
ORACLES["null_safe_equality_battery"] = ORACLE_NULL_SAFE_EQUALITY_BATTERY


def q_multi_distinct_agg(spark, sf_dir):
    """Several COUNT(DISTINCT …) over DIFFERENT columns in ONE
    aggregation (users, types, active days per month) — the
    multi-distinct Expand plan none of the single-distinct gates
    exercise: each distinct column dedups independently inside one
    pass over the facts."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_format("ts", "yyyy-MM").alias("month"))
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("users"),
            F.countDistinct("event_type").cast("bigint").alias("types"),
            F.countDistinct(F.to_date("ts")).cast("bigint").alias(
                "active_days"
            ),
            F.count(F.lit(1)).cast("bigint").alias("events"),
        )
        .orderBy("month")
    )


ORACLE_MULTI_DISTINCT_AGG = """
SELECT strftime(ts, '%Y-%m') AS month,
       CAST(count(DISTINCT user_id) AS BIGINT) AS users,
       CAST(count(DISTINCT event_type) AS BIGINT) AS types,
       CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS active_days,
       CAST(count(*) AS BIGINT) AS events
FROM events GROUP BY 1 ORDER BY 1
"""

QUERIES["multi_distinct_agg"] = q_multi_distinct_agg
ORACLES["multi_distinct_agg"] = ORACLE_MULTI_DISTINCT_AGG


def q_balance_revenue_quadrants(spark, sf_dir):
    """Quadrant segmentation: customers split by the MEDIANS of account
    balance and lifetime revenue into the classic 2×2 (invest / harvest
    / maintain / divest) — counts plus each quadrant's revenue share.
    Medians are exact rank statistics over integer cents; the 1-row
    threshold table broadcasts back over the rollup."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal"
    )
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "rev_cents"
        )
    )
    base = c.join(rev, c.c_custkey == rev.o_custkey, "inner").select(
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_cents"),
        "rev_cents",
    )
    med = base.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY bal_cents)")
        .alias("mb"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY rev_cents)")
        .alias("mr"),
    )
    tagged = base.crossJoin(F.broadcast(med)).select(
        F.concat(
            F.when(F.col("bal_cents") > F.col("mb"), F.lit("hi_bal"))
            .otherwise(F.lit("lo_bal")),
            F.lit("/"),
            F.when(F.col("rev_cents") > F.col("mr"), F.lit("hi_rev"))
            .otherwise(F.lit("lo_rev")),
        ).alias("quadrant"),
        "rev_cents",
    )
    tot = Window.partitionBy()
    return (
        tagged.groupBy("quadrant")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("rev_cents").alias("_rc"),
        )
        .select(
            "quadrant",
            "n_customers",
            F.round(F.col("_rc") / F.sum("_rc").over(tot), 6).alias(
                "revenue_share"
            ),
        )
        .orderBy("quadrant")
    )


ORACLE_BALANCE_REVENUE_QUADRANTS = """
WITH rev AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM orders GROUP BY 1
), base AS (
  SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents, rev_cents
  FROM customer JOIN rev ON c_custkey = o_custkey
), med AS (
  SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY bal_cents) AS mb,
         percentile_disc(0.5) WITHIN GROUP (ORDER BY rev_cents) AS mr
  FROM base
), tagged AS (
  SELECT (CASE WHEN bal_cents > mb THEN 'hi_bal' ELSE 'lo_bal' END)
         || '/' ||
         (CASE WHEN rev_cents > mr THEN 'hi_rev' ELSE 'lo_rev' END)
           AS quadrant,
         rev_cents
  FROM base, med
)
SELECT quadrant, CAST(count(*) AS BIGINT) AS n_customers,
       round(sum(rev_cents) * 1.0 / sum(sum(rev_cents)) OVER (), 6)
         AS revenue_share
FROM tagged GROUP BY 1 ORDER BY 1
"""

QUERIES["balance_revenue_quadrants"] = q_balance_revenue_quadrants
ORACLES["balance_revenue_quadrants"] = ORACLE_BALANCE_REVENUE_QUADRANTS


def q_hot_cold_time_filter(spark, sf_dir):
    """Composition gate: a time-window query over the HYBRID hot/cold
    table (60% cold / 20% flushed / 20% hot-unflushed fixture) — the
    row-level predicate must apply uniformly across both sides of the
    union, and partition pruning on the cold side must not drop hot
    rows that lack committed partitions. Three mid-month days against
    the oracle's plain WHERE."""
    from .bench_round8 import _MANIFEST_CACHE, q_hot_cold_visibility
    from .storage.hot import hybrid_read

    q_hot_cold_visibility(spark, sf_dir)  # ensure the fixture exists
    path = _MANIFEST_CACHE[("hotcold", sf_dir)]
    df = hybrid_read(spark, path)
    return (
        df.filter(
            F.col("date_day").between("2024-01-10", "2024-01-12")
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                "value_cents"
            ),
        )
        .orderBy("event_type")
    )


ORACLE_HOT_COLD_TIME_FILTER = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS value_cents
FROM events
WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-10' AND '2024-01-12'
GROUP BY 1 ORDER BY 1
"""

QUERIES["hot_cold_time_filter"] = q_hot_cold_time_filter
ORACLES["hot_cold_time_filter"] = ORACLE_HOT_COLD_TIME_FILTER


# --------------------------------------------------------------- batch 7
# (round 7 additions: the distributed-CC and rate-limit engine gates the
# r6 verdict asked for, plus fresh analytics coverage)


def q_dedup_cc_distributed(spark, sf_dir):
    """Driver gate for the DISTRIBUTED connected-components regime:
    ``driver_threshold=0`` forces the hash-min/pointer-jump loop that
    the >2M-edge production path uses (the regime whose lineage
    explosion the round-7 localCheckpoint fix closed), never the
    driver-side union-find. Nodes are ``o_orderkey % 4096`` —
    SF-invariant at 4096 nodes from sf0.01 up (events.user_id, the
    first draft's source, tops out at 150 distinct values at the
    driver's sf0.01, which made every ``% 250`` bucket a singleton and
    the gate vacuously 0-row); edges chain consecutive node ids within
    ``id % 250`` buckets, so every bucket is one CHAIN-shaped component
    — multi-hop, needing several hash-min/pointer-jump rounds (each a
    fixed number of Spark jobs; the test_plans lineage pin covers the
    DEEP-chain regime) — and the expected labeling is closed-form: the
    bucket's min id and size."""
    from .operators.dedup import connected_components

    e = load_table(spark, sf_dir, "orders")
    nodes = (
        e.select((F.col("o_orderkey") % 4096).cast("long").alias("id"))
        .distinct()
        .withColumn("bkt", F.col("id") % 250)
    )
    w = Window.partitionBy("bkt").orderBy("id")
    pairs = (
        nodes.withColumn("nxt", F.lead("id").over(w))
        .filter(F.col("nxt").isNotNull())
        .select(F.col("id").alias("id_a"), F.col("nxt").alias("id_b"))
    )
    return (
        connected_components(pairs, driver_threshold=0)
        .select("id", "cluster_id", "cluster_size")
        .orderBy("id")
    )


ORACLE_DEDUP_CC_DISTRIBUTED = """
WITH nodes AS (
  SELECT DISTINCT CAST(o_orderkey % 4096 AS BIGINT) AS id FROM orders
), b AS (
  SELECT id, id % 250 AS bkt FROM nodes
), g AS (
  SELECT bkt, min(id) AS cid, CAST(count(*) AS BIGINT) AS sz
  FROM b GROUP BY 1 HAVING count(*) >= 2
)
SELECT b.id AS id, g.cid AS cluster_id, g.sz AS cluster_size
FROM b JOIN g USING (bkt) ORDER BY id
"""

QUERIES["dedup_cc_distributed"] = q_dedup_cc_distributed
ORACLES["dedup_cc_distributed"] = ORACLE_DEDUP_CC_DISTRIBUTED


def q_ratelimit_admission(spark, sf_dir):
    """Engine-contract gate for the per-tenant token-bucket limiter
    (ratelimit.py, reference src/common/src/ratelimit.rs): tenants are
    the event types; each hour's arrivals charge the REAL limiter at
    that hour's instant with rate 1 req/s and burst_seconds 1.0
    (bucket cap 1.0). Hours are >=3600s apart, so every bucket refills
    to FULL between bursts and the admission outcome has a closed form
    the oracle states independently: 1 admit per non-empty
    (tenant, hour), the rest rejected. The schedule is bounded by
    tenants x hours — a contract gate, not a data-scale query."""
    from .ratelimit import RateLimitExceeded, TenantRateLimiter

    e = load_table(spark, sf_dir, "events")
    sched = (
        e.groupBy(
            F.col("event_type").alias("tenant"),
            F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("hr"),
        )
        .agg(F.count(F.lit(1)).alias("k"))
        .collect()
    )
    limiter = TenantRateLimiter(
        {"max_ingest_requests_per_sec": 1, "burst_seconds": 1.0}
    )
    stats: dict = {}
    for row in sorted(sched, key=lambda r: (r["hr"], r["tenant"])):
        adm = rej = 0
        for _ in range(row["k"]):
            try:
                limiter.check_ingest(
                    row["tenant"], 0, now=float(row["hr"]) * 3600.0
                )
                adm += 1
            except RateLimitExceeded:
                rej += 1
        a, rr = stats.get(row["tenant"], (0, 0))
        stats[row["tenant"]] = (a + adm, rr + rej)
    rows = [(t, a, r) for t, (a, r) in sorted(stats.items())]
    return spark.createDataFrame(
        rows, "tenant string, admitted long, rejected long"
    ).orderBy("tenant")


ORACLE_RATELIMIT_ADMISSION = """
WITH sched AS (
  SELECT event_type AS tenant,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
         count(*) AS k
  FROM events GROUP BY 1, 2
)
SELECT tenant,
       CAST(count(*) AS BIGINT) AS admitted,
       CAST(sum(k - 1) AS BIGINT) AS rejected
FROM sched GROUP BY 1 ORDER BY 1
"""

QUERIES["ratelimit_admission"] = q_ratelimit_admission
ORACLES["ratelimit_admission"] = ORACLE_RATELIMIT_ADMISSION


def q_iqr_price_outliers(spark, sf_dir):
    """Tukey-fence outliers per order priority: exact q1/q3 of
    o_totalprice, upper fence q3 + 1.5*IQR, count of orders above it.
    Two-pass: tiny per-priority fence table broadcasts back onto the
    scan — no window over the full data."""
    o = load_table(spark, sf_dir, "orders")
    fences = o.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", F.lit(0.25)).alias("q1"),
        F.percentile("o_totalprice", F.lit(0.75)).alias("q3"),
    )
    return (
        o.join(F.broadcast(fences), "o_orderpriority")
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(
                (
                    F.col("o_totalprice")
                    > F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
                ).cast("long")
            ).alias("n_high_outliers"),
            F.round(
                F.first(F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))), 6
            ).alias("upper_fence"),
        )
        .orderBy("priority")
    )


ORACLE_IQR_PRICE_OUTLIERS = """
WITH f AS (
  SELECT o_orderpriority,
         quantile_cont(o_totalprice, 0.25) AS q1,
         quantile_cont(o_totalprice, 0.75) AS q3
  FROM orders GROUP BY 1
)
SELECT o.o_orderpriority AS priority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CASE WHEN o.o_totalprice > f.q3 + 1.5 * (f.q3 - f.q1)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_high_outliers,
       round(any_value(f.q3 + 1.5 * (f.q3 - f.q1)), 6) AS upper_fence
FROM orders o JOIN f USING (o_orderpriority)
GROUP BY 1 ORDER BY 1
"""

QUERIES["iqr_price_outliers"] = q_iqr_price_outliers
ORACLES["iqr_price_outliers"] = ORACLE_IQR_PRICE_OUTLIERS


def q_tax_discount_grid(spark, sf_dir):
    """Tax x discount contingency grid: lineitem rates are discrete
    hundredths, so the integer-percent cross-grid is small and exact —
    per cell: row count and extended-price cents."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.round(F.col("l_tax") * 100).cast("int").alias("tax_pct"),
            F.round(F.col("l_discount") * 100).cast("int").alias("disc_pct"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
            ).alias("price_cents"),
        )
        .orderBy("tax_pct", "disc_pct")
    )


ORACLE_TAX_DISCOUNT_GRID = """
SELECT CAST(round(l_tax * 100) AS INTEGER) AS tax_pct,
       CAST(round(l_discount * 100) AS INTEGER) AS disc_pct,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS price_cents
FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2
"""

QUERIES["tax_discount_grid"] = q_tax_discount_grid
ORACLES["tax_discount_grid"] = ORACLE_TAX_DISCOUNT_GRID


def q_geo_harmonic_means(spark, sf_dir):
    """Geometric and harmonic means of order value per priority —
    pure map-side folds (exp of avg-log, n over sum of reciprocals);
    o_totalprice is strictly positive so both are defined."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.exp(F.avg(F.log("o_totalprice"))), 6).alias("geo_mean"),
            F.round(
                F.count(F.lit(1)) / F.sum(F.lit(1.0) / F.col("o_totalprice")),
                6,
            ).alias("harmonic_mean"),
        )
        .orderBy("priority")
    )


ORACLE_GEO_HARMONIC_MEANS = """
SELECT o_orderpriority AS priority,
       CAST(count(*) AS BIGINT) AS n,
       round(exp(avg(ln(o_totalprice))), 6) AS geo_mean,
       round(count(*) / sum(1.0 / o_totalprice), 6) AS harmonic_mean
FROM orders GROUP BY 1 ORDER BY 1
"""

QUERIES["geo_harmonic_means"] = q_geo_harmonic_means
ORACLES["geo_harmonic_means"] = ORACLE_GEO_HARMONIC_MEANS


def q_priority_entropy_by_segment(spark, sf_dir):
    """Shannon entropy (nats) of the order-priority distribution per
    customer market segment — how priority-diverse each segment's
    demand is. The customer dim broadcasts; the entropy folds over the
    tiny (segment, priority) rollup."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    cell = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    tot = Window.partitionBy("c_mktsegment")
    return (
        cell.withColumn("p", F.col("k") / F.sum("k").over(tot))
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.sum("k").cast("bigint").alias("n_orders"),
            F.round(-F.sum(F.col("p") * F.log("p")), 6).alias("entropy_nats"),
        )
        .orderBy("segment")
    )


ORACLE_PRIORITY_ENTROPY_BY_SEGMENT = """
WITH cell AS (
  SELECT c.c_mktsegment, o.o_orderpriority, count(*) AS k
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
), p AS (
  SELECT c_mktsegment, k,
         k * 1.0 / sum(k) OVER (PARTITION BY c_mktsegment) AS p
  FROM cell
)
SELECT c_mktsegment AS segment,
       CAST(sum(k) AS BIGINT) AS n_orders,
       round(-sum(p * ln(p)), 6) AS entropy_nats
FROM p GROUP BY 1 ORDER BY 1
"""

QUERIES["priority_entropy_by_segment"] = q_priority_entropy_by_segment
ORACLES["priority_entropy_by_segment"] = ORACLE_PRIORITY_ENTROPY_BY_SEGMENT


def q_lang_length_zscore(spark, sf_dir):
    """Per-language doc-length z-score extremes: population stddev over
    n_chars, max |z| per language with >=5 docs — the outlier screen a
    curation pass runs before length filtering."""
    d = load_table(spark, sf_dir, "documents")
    stats = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("n_chars").alias("mu"),
        F.stddev_pop("n_chars").alias("sd"),
    )
    return (
        d.join(F.broadcast(stats), "lang")
        .filter((F.col("n_docs") >= 5) & (F.col("sd") > 0))
        .groupBy("lang")
        .agg(
            F.first("n_docs").cast("bigint").alias("n_docs"),
            F.round(
                F.max(F.abs((F.col("n_chars") - F.col("mu")) / F.col("sd"))),
                6,
            ).alias("max_abs_z"),
        )
        .orderBy("lang")
    )


ORACLE_LANG_LENGTH_ZSCORE = """
WITH s AS (
  SELECT lang, count(*) AS n_docs, avg(n_chars) AS mu,
         stddev_pop(n_chars) AS sd
  FROM documents GROUP BY 1
)
SELECT d.lang AS lang,
       CAST(any_value(s.n_docs) AS BIGINT) AS n_docs,
       round(max(abs((d.n_chars - s.mu) / s.sd)), 6) AS max_abs_z
FROM documents d JOIN s USING (lang)
WHERE s.n_docs >= 5 AND s.sd > 0
GROUP BY 1 ORDER BY 1
"""

QUERIES["lang_length_zscore"] = q_lang_length_zscore
ORACLES["lang_length_zscore"] = ORACLE_LANG_LENGTH_ZSCORE


def q_emb_clip_fractions(spark, sf_dir):
    """Per-dimension clip audit over the first 8 embedding dims: exact
    p05/p95 and the fraction of values outside them — the stats a
    quantization clip range is chosen from. Exploded (dim, value)
    longs only; whole vectors never shuffle."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        F.posexplode(F.slice("embedding", 1, 8)).alias("pos", "v")
    ).select((F.col("pos") + 1).alias("dim"), F.col("v").cast("double").alias("v"))
    qs = ex.groupBy("dim").agg(
        F.percentile("v", F.lit(0.05)).alias("p05"),
        F.percentile("v", F.lit(0.95)).alias("p95"),
    )
    return (
        ex.join(F.broadcast(qs), "dim")
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.first("p05"), 6).alias("p05"),
            F.round(F.first("p95"), 6).alias("p95"),
            F.round(
                F.avg(
                    (
                        (F.col("v") < F.col("p05"))
                        | (F.col("v") > F.col("p95"))
                    ).cast("double")
                ),
                6,
            ).alias("clip_frac"),
        )
        .orderBy("dim")
    )


ORACLE_EMB_CLIP_FRACTIONS = """
WITH ex AS (
  SELECT d.d AS dim, CAST(embedding[d.d] AS DOUBLE) AS v
  FROM embeddings, UNNEST(range(1, 9)) d(d)
), qs AS (
  SELECT dim, quantile_cont(v, 0.05) AS p05, quantile_cont(v, 0.95) AS p95
  FROM ex GROUP BY 1
)
SELECT ex.dim AS dim,
       CAST(count(*) AS BIGINT) AS n,
       round(any_value(qs.p05), 6) AS p05,
       round(any_value(qs.p95), 6) AS p95,
       round(avg(CASE WHEN ex.v < qs.p05 OR ex.v > qs.p95
                      THEN 1.0 ELSE 0.0 END), 6) AS clip_frac
FROM ex JOIN qs USING (dim)
GROUP BY 1 ORDER BY 1
"""

QUERIES["emb_clip_fractions"] = q_emb_clip_fractions
ORACLES["emb_clip_fractions"] = ORACLE_EMB_CLIP_FRACTIONS


def q_winsorized_mean_value(spark, sf_dir):
    """Winsorized mean per event type: clamp value into its type's
    exact [p05, p95] before averaging — the robust center an anomaly
    threshold derives from. Second pass broadcasts the 5-row quantile
    table back onto the scan."""
    e = load_table(spark, sf_dir, "events")
    qs = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("p05"),
        F.percentile("value", F.lit(0.95)).alias("p95"),
    )
    return (
        e.join(F.broadcast(qs), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(
                F.avg(
                    F.greatest(F.least(F.col("value"), F.col("p95")), F.col("p05"))
                ),
                6,
            ).alias("winsorized_mean"),
        )
        .orderBy("event_type")
    )


ORACLE_WINSORIZED_MEAN_VALUE = """
WITH qs AS (
  SELECT event_type, quantile_cont(value, 0.05) AS p05,
         quantile_cont(value, 0.95) AS p95
  FROM events GROUP BY 1
)
SELECT e.event_type AS event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(avg(greatest(least(e.value, qs.p95), qs.p05)), 6)
         AS winsorized_mean
FROM events e JOIN qs USING (event_type)
GROUP BY 1 ORDER BY 1
"""

QUERIES["winsorized_mean_value"] = q_winsorized_mean_value
ORACLES["winsorized_mean_value"] = ORACLE_WINSORIZED_MEAN_VALUE


def q_month_end_load(spark, sf_dir):
    """Month-end load: the share of each month's revenue landing in the
    last 3 calendar days — the close-of-books skew a capacity plan
    budgets for. Integer cents until the final division."""
    o = load_table(spark, sf_dir, "orders")
    d = o.select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        (
            F.datediff(
                F.last_day("o_orderdate"), F.to_date("o_orderdate")
            )
            <= 2
        ).alias("is_tail"),
    )
    return (
        d.groupBy("month")
        .agg(
            F.sum("cents").alias("total_cents"),
            F.sum(F.when(F.col("is_tail"), F.col("cents")).otherwise(0)).alias(
                "tail_cents"
            ),
        )
        .select(
            "month",
            F.col("total_cents").cast("bigint").alias("total_cents"),
            F.col("tail_cents").cast("bigint").alias("tail_cents"),
            F.round(F.col("tail_cents") / F.col("total_cents"), 6).alias(
                "tail_share"
            ),
        )
        .orderBy("month")
    )


ORACLE_MONTH_END_LOAD = """
WITH d AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         date_diff('day', CAST(o_orderdate AS DATE),
                   last_day(CAST(o_orderdate AS DATE))) <= 2 AS is_tail
  FROM orders
)
SELECT month,
       CAST(sum(cents) AS BIGINT) AS total_cents,
       CAST(sum(CASE WHEN is_tail THEN cents ELSE 0 END) AS BIGINT)
         AS tail_cents,
       round(sum(CASE WHEN is_tail THEN cents ELSE 0 END) * 1.0
             / sum(cents), 6) AS tail_share
FROM d GROUP BY 1 ORDER BY 1
"""

QUERIES["month_end_load"] = q_month_end_load
ORACLES["month_end_load"] = ORACLE_MONTH_END_LOAD


def q_acctbal_decile_profile(spark, sf_dir):
    """Customer account-balance decile profile: ntile(10) over
    (c_acctbal, c_custkey) — the explicit tiebreak keeps both engines'
    tile assignment identical — with per-decile count and exact cents
    bounds."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.orderBy("c_acctbal", "c_custkey")
    return (
        c.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min(F.round(F.col("c_acctbal") * 100).cast("bigint")).alias(
                "min_cents"
            ),
            F.max(F.round(F.col("c_acctbal") * 100).cast("bigint")).alias(
                "max_cents"
            ),
        )
        .orderBy("decile")
    )


ORACLE_ACCTBAL_DECILE_PROFILE = """
WITH t AS (
  SELECT c_acctbal,
         ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile
  FROM customer
)
SELECT decile, CAST(count(*) AS BIGINT) AS n,
       CAST(min(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
         AS min_cents,
       CAST(max(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
         AS max_cents
FROM t GROUP BY 1 ORDER BY 1
"""

QUERIES["acctbal_decile_profile"] = q_acctbal_decile_profile
ORACLES["acctbal_decile_profile"] = ORACLE_ACCTBAL_DECILE_PROFILE


def q_part_token_revenue(spark, sf_dir):
    """Top-10 part-name tokens by attributed revenue: tokenize p_name,
    attribute each lineitem's discounted cents to every token of its
    part — wordcount-class shuffle over (token, cents) pairs; the part
    dim broadcasts into the fact scan."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    rev = li.select(
        "l_partkey",
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
        ).cast("bigint").alias("cents"),
    )
    return (
        rev.join(F.broadcast(p), rev.l_partkey == p.p_partkey)
        .select(F.explode(F.split("p_name", " ")).alias("token"), "cents")
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.sum("cents").alias("revenue_cents"),
        )
        .orderBy(F.desc("revenue_cents"), "token")
        .limit(10)
    )


ORACLE_PART_TOKEN_REVENUE = """
WITH rev AS (
  SELECT l_partkey,
         CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
           AS cents
  FROM lineitem
), tok AS (
  SELECT UNNEST(string_split(p.p_name, ' ')) AS token, rev.cents
  FROM rev JOIN part p ON rev.l_partkey = p.p_partkey
)
SELECT token, CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(cents) AS BIGINT) AS revenue_cents
FROM tok GROUP BY 1
ORDER BY revenue_cents DESC, token LIMIT 10
"""

QUERIES["part_token_revenue"] = q_part_token_revenue
ORACLES["part_token_revenue"] = ORACLE_PART_TOKEN_REVENUE


def q_hll_error_bound(spark, sf_dir):
    """HLL sketch audit: per event type, exact distinct users PLUS an
    in-query assertion that Spark's approx_count_distinct lands within
    5% relative error of the exact count (the label-stats HLL path's
    accuracy contract). The oracle checks the exact side; the sketch
    bound is asserted here because no other engine reproduces Spark's
    HLL++ estimate bit-for-bit."""
    e = load_table(spark, sf_dir, "events")
    both = e.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_users"),
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
    )
    for r in both.collect():
        err = abs(r["approx_users"] - r["exact_users"]) / max(r["exact_users"], 1)
        assert err <= 0.05, (
            f"HLL drift {err:.3f} for {r['event_type']}"
        )
    return both.select("event_type", "exact_users").orderBy("event_type")


ORACLE_HLL_ERROR_BOUND = """
SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
FROM events GROUP BY 1 ORDER BY 1
"""

QUERIES["hll_error_bound"] = q_hll_error_bound
ORACLES["hll_error_bound"] = ORACLE_HLL_ERROR_BOUND


def q_range_interval_window(spark, sf_dir):
    """Time-based RANGE window: per event, the sum of value cents over
    the trailing hour of the SAME event type (range frame over
    microsecond epoch, so same-instant peers are included on both
    engines); reported as the per-type peak — the rolling-load shape a
    rate limiter's burst is sized from. Integer cents keep the rolling
    sums exact."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    rolled = e.select(
        "event_type",
        F.sum(F.round(F.col("value") * 100).cast("bigint")).over(w).alias(
            "rolling_cents"
        ),
    )
    return (
        rolled.groupBy("event_type")
        .agg(F.max("rolling_cents").cast("bigint").alias("peak_hour_cents"))
        .orderBy("event_type")
    )


ORACLE_RANGE_INTERVAL_WINDOW = """
WITH rolled AS (
  SELECT event_type,
         sum(CAST(round(value * 100) AS BIGINT)) OVER (
           PARTITION BY event_type ORDER BY epoch_us(ts)
           RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
         ) AS rolling_cents
  FROM events
)
SELECT event_type,
       CAST(max(rolling_cents) AS BIGINT) AS peak_hour_cents
FROM rolled GROUP BY 1 ORDER BY 1
"""

QUERIES["range_interval_window"] = q_range_interval_window
ORACLES["range_interval_window"] = ORACLE_RANGE_INTERVAL_WINDOW


def q_weekend_premium_by_segment(spark, sf_dir):
    """Weekend order-value premium per market segment: weekend minus
    weekday mean order value. Integer-cents sums with explicit counts,
    so the means (and their difference) are exact before the one
    rounded division."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    d = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
            F.dayofweek("o_orderdate").isin(1, 7).alias("is_weekend"),
        )
    )
    agg = d.groupBy("segment").agg(
        F.sum(F.when(F.col("is_weekend"), F.col("cents"))).alias("we_cents"),
        F.count(F.when(F.col("is_weekend"), F.lit(1))).alias("we_n"),
        F.sum(F.when(~F.col("is_weekend"), F.col("cents"))).alias("wd_cents"),
        F.count(F.when(~F.col("is_weekend"), F.lit(1))).alias("wd_n"),
    )
    return agg.select(
        "segment",
        F.col("we_n").cast("bigint").alias("weekend_orders"),
        F.col("wd_n").cast("bigint").alias("weekday_orders"),
        F.round(
            F.col("we_cents") / F.col("we_n") / 100.0
            - F.col("wd_cents") / F.col("wd_n") / 100.0,
            6,
        ).alias("weekend_premium_usd"),
    ).orderBy("segment")


ORACLE_WEEKEND_PREMIUM_BY_SEGMENT = """
WITH d AS (
  SELECT c.c_mktsegment AS segment,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
         dayofweek(CAST(o.o_orderdate AS DATE)) IN (0, 6) AS is_weekend
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
)
SELECT segment,
       CAST(count(CASE WHEN is_weekend THEN 1 END) AS BIGINT)
         AS weekend_orders,
       CAST(count(CASE WHEN NOT is_weekend THEN 1 END) AS BIGINT)
         AS weekday_orders,
       round(sum(CASE WHEN is_weekend THEN cents END) * 1.0
               / count(CASE WHEN is_weekend THEN 1 END) / 100.0
             - sum(CASE WHEN NOT is_weekend THEN cents END) * 1.0
               / count(CASE WHEN NOT is_weekend THEN 1 END) / 100.0,
             6) AS weekend_premium_usd
FROM d GROUP BY 1 ORDER BY 1
"""

QUERIES["weekend_premium_by_segment"] = q_weekend_premium_by_segment
ORACLES["weekend_premium_by_segment"] = ORACLE_WEEKEND_PREMIUM_BY_SEGMENT


def q_first_priority_repeat(spark, sf_dir):
    """Does the FIRST order's priority predict repeat purchasing? Per
    customer: the priority of their first order (orderdate, then
    orderkey tiebreak) and how many later orders they placed; rolled
    up per first-priority."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    per_cust = (
        o.withColumn("rk", F.row_number().over(w))
        .groupBy("o_custkey")
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("o_orderpriority"))).alias(
                "first_priority"
            ),
            (F.count(F.lit(1)) - 1).alias("n_later"),
        )
    )
    return (
        per_cust.groupBy(F.col("first_priority").alias("priority"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("n_later").cast("bigint").alias("later_orders"),
            F.round(F.avg("n_later"), 6).alias("avg_later_orders"),
        )
        .orderBy("priority")
    )


ORACLE_FIRST_PRIORITY_REPEAT = """
WITH ranked AS (
  SELECT o_custkey, o_orderpriority,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rk,
         count(*) OVER (PARTITION BY o_custkey) AS n_orders
  FROM orders
)
SELECT o_orderpriority AS priority,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(n_orders - 1) AS BIGINT) AS later_orders,
       round(avg(n_orders - 1), 6) AS avg_later_orders
FROM ranked WHERE rk = 1
GROUP BY 1 ORDER BY 1
"""

QUERIES["first_priority_repeat"] = q_first_priority_repeat
ORACLES["first_priority_repeat"] = ORACLE_FIRST_PRIORITY_REPEAT


def q_least_greatest_battery(spark, sf_dir):
    """Scalar-function battery: LEAST/GREATEST across mixed expressions,
    NULLIF null-injection, and sign/ceil/floor folds, aggregated
    exactly (cents) per linestatus so every scalar's result is pinned
    cross-engine."""
    li = load_table(spark, sf_dir, "lineitem")
    d = li.select(
        "l_linestatus",
        F.greatest(
            F.col("l_quantity"), F.col("l_discount") * 100.0, F.lit(10.0)
        ).alias("g"),
        F.least(
            F.col("l_extendedprice") / 1000.0, F.col("l_quantity")
        ).alias("l"),
        F.nullif(F.col("l_tax"), F.lit(0.0)).alias("nz_tax"),
        (F.ceil("l_quantity") - F.floor("l_quantity")).alias("frac_flag"),
    )
    return (
        d.groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.round(F.col("g") * 100).cast("bigint")).alias("g_cents"),
            F.sum(F.round(F.col("l") * 100).cast("bigint")).alias("l_cents"),
            F.sum(F.col("nz_tax").isNull().cast("long")).alias("zero_tax_rows"),
            F.sum("frac_flag").cast("bigint").alias("fractional_qty_rows"),
        )
        .orderBy("l_linestatus")
    )


ORACLE_LEAST_GREATEST_BATTERY = """
SELECT l_linestatus,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(greatest(l_quantity, l_discount * 100.0, 10.0)
                           * 100) AS BIGINT)) AS BIGINT) AS g_cents,
       CAST(sum(CAST(round(least(l_extendedprice / 1000.0, l_quantity)
                           * 100) AS BIGINT)) AS BIGINT) AS l_cents,
       CAST(sum(CASE WHEN nullif(l_tax, 0.0) IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS zero_tax_rows,
       CAST(sum(ceil(l_quantity) - floor(l_quantity)) AS BIGINT)
         AS fractional_qty_rows
FROM lineitem GROUP BY 1 ORDER BY 1
"""

QUERIES["least_greatest_battery"] = q_least_greatest_battery
ORACLES["least_greatest_battery"] = ORACLE_LEAST_GREATEST_BATTERY

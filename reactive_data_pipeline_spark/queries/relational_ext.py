"""Extended relational catalog: grouping sets, pivot, percentiles,
moment aggregates, range/full-outer joins, predicate algebra, scalar
subqueries, date math, sampling, sketches, sessionization.

Same contract as queries.relational: Spark-native build + DuckDB oracle
with matching aliases. Determinism notes per query; the recurring trick
is decimal-exact summation (operators.relational.exact_sum) followed by
identical double arithmetic on both engines, which keeps value hashes
bit-equal without tolerances.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.relational import exact_sum
from ..sources import read_table
from . import register


def _dec_sum(col, precision: int = 38, scale: int = 8):
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal({precision},{scale})")).cast("double")


# ---------------------------------------------------------------------------
# Grouping sets / pivot (section 2.4 generalized)
# ---------------------------------------------------------------------------


@register(
    "grouping_sets_revenue",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) AS g_flag,
           GROUPING(l_linestatus) AS g_status,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
    tags=("agg", "grouping_sets"),
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (Catalyst Expand operator: one scan, one
    shuffle; each input row fans out once per set - at scale strictly
    cheaper than unioning three aggregations)."""
    read_table(spark, sf_dir, "lineitem").createOrReplaceTempView("gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) AS INT) AS g_flag,
               CAST(grouping(l_linestatus) AS INT) AS g_status,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        FROM gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@register(
    "pivot_priority_status",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("agg", "pivot"),
)
def pivot_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list (no extra values-discovery job;
    plans as a single conditional aggregation)."""
    return (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["F", "O", "P"])
    )


# ---------------------------------------------------------------------------
# Percentiles / moments / arg-extremes
# ---------------------------------------------------------------------------


@register(
    "percentiles_quantity",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS q25,
           quantile_cont(l_quantity, 0.50) AS q50,
           quantile_cont(l_quantity, 0.75) AS q75
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "percentile"),
)
def percentiles_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (both engines: sort + linear
    interpolation at (n-1)*q). The scale path is approx_percentile
    (t-digest, one pass, mergeable) - see approx_distinct_users for the
    sketch-family entry."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.25)).alias("q25"),
        F.percentile("l_quantity", F.lit(0.50)).alias("q50"),
        F.percentile("l_quantity", F.lit(0.75)).alias("q75"),
    )


@register(
    "moments_price_by_flag",
    oracle="""
    SELECT l_returnflag, n,
           round((sum2 - sum1 * sum1 / n) / (n - 1), 4) AS var_samp,
           round(sqrt((sum2 - sum1 * sum1 / n) / (n - 1)), 4) AS stddev_samp
    FROM (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum1,
             CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,8)) ) AS DOUBLE) AS sum2
      FROM lineitem GROUP BY l_returnflag
    )
    """,
    tags=("agg", "moments"),
)
def moments_price_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance/stddev via decimal-exact raw moments. A native
    stddev_samp is a distributed Welford merge whose last float bits
    depend on partitioning; two exact decimal sums + identical double
    arithmetic is order-insensitive on both engines (and still one
    map-side-partial aggregation pass)."""
    li = read_table(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        exact_sum(x).alias("sum1"),
        _dec_sum(x * x).alias("sum2"),
    )
    var = (F.col("sum2") - F.col("sum1") * F.col("sum1") / F.col("n")) / (F.col("n") - 1)
    # round(4): the decimal(38,8)->double conversion differs by 1 ulp
    # between engines (int128/1e8 vs correctly-rounded BigDecimal).
    return agg.select(
        "l_returnflag",
        "n",
        F.round(var, 4).alias("var_samp"),
        F.round(F.sqrt(var), 4).alias("stddev_samp"),
    )


@register(
    "argmax_order_per_priority",
    oracle="""
    SELECT o_orderpriority, o_orderkey AS top_orderkey, o_totalprice AS top_price
    FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                    ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
          FROM orders)
    WHERE rn = 1
    """,
    tags=("agg", "argmax"),
)
def argmax_order_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by with a composite (value, key) ordering so price ties break
    deterministically - the rule any arg-extreme needs under a
    value-hash oracle."""
    od = read_table(spark, sf_dir, "orders")
    return od.groupBy("o_orderpriority").agg(
        F.max_by(
            "o_orderkey", F.struct(F.col("o_totalprice"), F.col("o_orderkey"))
        ).alias("top_orderkey"),
        F.max("o_totalprice").alias("top_price"),
    )


# ---------------------------------------------------------------------------
# Join shapes: range (theta) and full outer
# ---------------------------------------------------------------------------


@register(
    "range_join_value_bands",
    oracle="""
    SELECT band, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_total
    FROM events
    JOIN (VALUES ('low', 0.0, 5.0), ('mid', 5.0, 12.0), ('high', 12.0, 1e18))
         AS bands(band, lo, hi)
      ON value >= lo AND value < hi
    GROUP BY band
    """,
    tags=("join", "range"),
)
def range_join_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join against a literal dimension: broadcast-nested-loop on
    the non-equi predicate. The dim side is rows-of-literals, so the
    broadcast is guaranteed and the fact side never shuffles."""
    ev = read_table(spark, sf_dir, "events")
    bands = ev.sparkSession.createDataFrame(
        [("low", 0.0, 5.0), ("mid", 5.0, 12.0), ("high", 12.0, 1e18)],
        "band string, lo double, hi double",
    )
    return (
        ev.join(
            F.broadcast(bands),
            (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value").alias("value_total"),
        )
    )


@register(
    "full_outer_daily_mix",
    oracle="""
    SELECT COALESCE(c.day, e.day) AS day,
           COALESCE(c.n, 0) AS n_clicks,
           COALESCE(e.n, 0) AS n_errors
    FROM      (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n FROM events
               WHERE event_type = 'click' GROUP BY 1) c
    FULL JOIN (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n FROM events
               WHERE event_type = 'error' GROUP BY 1) e
      ON c.day = e.day
    """,
    tags=("join", "outer"),
)
def full_outer_daily_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")

    def daily(kind: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == kind)
            .groupBy(F.to_date("ts").alias("day"))
            .agg(F.count(F.lit(1)).alias("n"))
        )

    c, e = daily("click").alias("c"), daily("error").alias("e")
    return c.join(e, F.col("c.day") == F.col("e.day"), "full").select(
        F.coalesce(F.col("c.day"), F.col("e.day")).alias("day"),
        F.coalesce(F.col("c.n"), F.lit(0)).alias("n_clicks"),
        F.coalesce(F.col("e.n"), F.lit(0)).alias("n_errors"),
    )


# ---------------------------------------------------------------------------
# Predicate algebra / scalar subquery / date math (sections 2.2, 2.8)
# ---------------------------------------------------------------------------


@register(
    "predicate_algebra_parts",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_size
    FROM part
    WHERE p_type LIKE '%DAR%'
      AND p_size BETWEEN 10 AND 30
      AND p_brand IN ('Brand#1', 'Brand#7', 'Brand#13')
      AND NULLIF(p_size, 15) IS NOT NULL
    """,
    tags=("filter", "predicates"),
)
def predicate_algebra_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE / BETWEEN / IN / null-test conjunction; every leaf lands in
    parquet PushedFilters except the LIKE-infix (evaluated post-scan,
    still codegen)."""
    p = read_table(spark, sf_dir, "part")
    return p.filter(
        F.col("p_type").like("%DAR%")
        & F.col("p_size").between(10, 30)
        & F.col("p_brand").isin("Brand#1", "Brand#7", "Brand#13")
        & F.nullif(F.col("p_size"), F.lit(15)).isNotNull()
    ).select("p_partkey", "p_name", "p_brand", "p_size")


@register(
    "scalar_subquery_above_avg",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 1.8 * (
      SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
      FROM orders)
    """,
    tags=("filter", "subquery"),
)
def scalar_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar aggregate subquery as a broadcast cross join of a 1-row
    aggregate (exactly how Catalyst plans an uncorrelated scalar
    subquery); the average is decimal-exact so the threshold is
    bit-identical on both engines."""
    od = read_table(spark, sf_dir, "orders")
    avg1 = od.agg(
        (exact_sum("o_totalprice") / F.count(F.lit(1))).alias("__avg")
    )
    return (
        od.crossJoin(F.broadcast(avg1))
        .filter(F.col("o_totalprice") > 1.8 * F.col("__avg"))
        .select("o_orderkey", "o_totalprice")
    )


@register(
    "date_math_orders",
    oracle="""
    SELECT o_orderkey,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS month_end,
           CAST(year(o_orderdate) AS INT) AS yr,
           CAST(quarter(o_orderdate) AS INT) AS qtr,
           CAST(dayofweek(CAST(o_orderdate AS DATE)) AS INT) AS dow,
           datediff('day', DATE '2024-01-01', CAST(o_orderdate AS DATE)) AS days_since_2024
    FROM orders
    """,
    tags=("scalar", "datetime"),
)
def date_math_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-function battery (F1/F3 generalized). DuckDB dayofweek is
    0=Sunday while Spark dayofweek is 1=Sunday; the Spark side subtracts
    1 so both emit the same convention."""
    od = read_table(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return od.select(
        "o_orderkey",
        F.trunc(d, "month").alias("month_start"),
        F.last_day(d).alias("month_end"),
        F.year(d).alias("yr"),
        F.quarter(d).alias("qtr"),
        (F.dayofweek(d) - 1).alias("dow"),
        F.datediff(d, F.lit("2024-01-01").cast("date")).cast("long").alias("days_since_2024"),
    )


@register(
    "conditional_agg_events",
    oracle="""
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'click') AS n_clicks,
           COUNT(*) FILTER (WHERE event_type = 'error') AS n_errors,
           CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END
                         AS DECIMAL(18,6))) AS DOUBLE) AS purchase_value
    FROM events GROUP BY user_id
    """,
    tags=("agg", "conditional"),
)
def conditional_agg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation: one pass over events computing several
    filtered measures (the idiom that replaces N self-joins)."""
    ev = read_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count_if(F.col("event_type") == "click").alias("n_clicks"),
        F.count_if(F.col("event_type") == "error").alias("n_errors"),
        exact_sum(
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)
        ).alias("purchase_value"),
    )


# ---------------------------------------------------------------------------
# Sampling / sketches
# ---------------------------------------------------------------------------


@register(
    "systematic_sample_events",
    oracle="""
    SELECT event_id, user_id, event_type
    FROM events WHERE event_id % 20 = 0
    """,
    tags=("sample",),
)
def systematic_sample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 1-in-20 systematic sample by key (reproducible across
    engines and runs, unlike Bernoulli df.sample whose draw depends on
    partition layout; at scale the predicate pushes to the scan)."""
    ev = read_table(spark, sf_dir, "events")
    return ev.filter(F.col("event_id") % 20 == 0).select("event_id", "user_id", "event_type")


@register(
    "approx_distinct_users",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS within_tol
    FROM events GROUP BY event_type
    """,
    tags=("agg", "sketch"),
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-user estimate per event type (mergeable
    sketch: map-side partials, O(1) state per group). The raw estimate is
    engine-specific, so the checkable contract is the tolerance assertion:
    |approx - exact| / exact <= 10% (HLL++ at rsd=0.02 is far inside that;
    the sketch merge is register-wise max, hence partition-order
    deterministic). DuckDB asserts the same columns with within_tol TRUE."""
    ev = read_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            / F.col("exact_users")
            <= F.lit(0.10)
        ).alias("within_tol"),
    )


# ---------------------------------------------------------------------------
# Sessionization (batch twin of streaming.sessions)
# ---------------------------------------------------------------------------

SESSION_GAP_MIN = 30


@register(
    "sessionize_events",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL {SESSION_GAP_MIN} MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_start
      FROM events
    ), numbered AS (
      SELECT user_id, ts, value,
             SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS session_no
      FROM marked
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           COUNT(*) AS n_events,
           CAST(datediff('second', MIN(ts), MAX(ts)) AS BIGINT) AS duration_s,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS session_value
    FROM numbered GROUP BY user_id, session_no
    """,
    tags=("window", "session", "events"),
    bench=True,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) via the lag + running-sum idiom:
    one shuffle on user_id, two window passes over the same partitioning
    (Catalyst reuses the sort), then a grouped rollup per session. The
    streaming twin is streaming.sessions.sessionize_stream
    (applyInPandasWithState); stream-batch equivalence is asserted in
    tests."""
    # timestamp_ntz -> epoch micros / whole seconds (session tz is pinned
    # UTC, so the ntz->instant reinterpretation is the identity). The gap
    # test compares microseconds, like the oracle's interval comparison;
    # duration_s counts whole-second boundaries, like its datediff.
    instant = F.col("ts").cast("timestamp")
    ev = read_table(spark, sf_dir, "events").select(
        "*", F.unix_micros(instant).alias("__us"), instant.cast("long").alias("__epoch")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = Window.partitionBy("user_id").orderBy("ts").rowsBetween(Window.unboundedPreceding, 0)
    gap = F.col("__us") - F.lag("__us").over(w)
    marked = ev.withColumn(
        "is_start",
        F.when(gap.isNull() | (gap > SESSION_GAP_MIN * 60 * 1_000_000), 1).otherwise(0),
    )
    numbered = marked.withColumn("session_no", F.sum("is_start").over(run))
    return numbered.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("__epoch") - F.min("__epoch")).alias("duration_s"),
        exact_sum("value").alias("session_value"),
    )


# ---------------------------------------------------------------------------
# String functions / edit distance
# ---------------------------------------------------------------------------


@register(
    "string_funcs_parts",
    oracle="""
    SELECT p_partkey,
           upper(p_brand) AS brand_up,
           substring(p_name, 1, 8) AS name_head,
           concat(p_brand, ':', p_type) AS brand_type,
           length(p_name) AS name_len,
           replace(p_type, 'A', '_') AS type_masked,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded
    FROM part
    """,
    tags=("scalar", "string"),
)
def string_funcs_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function battery (all whole-stage-codegen JVM exprs)."""
    p = read_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_up"),
        F.substring("p_name", 1, 8).alias("name_head"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").cast("long").alias("name_len"),
        F.replace(F.col("p_type"), F.lit("A"), F.lit("_")).alias("type_masked"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
    )


@register(
    "levenshtein_close_names",
    oracle="""
    SELECT a.n_nationkey AS key_a, b.n_nationkey AS key_b,
           levenshtein(a.n_name, b.n_name) AS edit_dist
    FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
    WHERE levenshtein(a.n_name, b.n_name) <= 4
    """,
    tags=("scalar", "string", "dedup"),
)
def levenshtein_close_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-match pairs on a small dimension (the string
    analogue of the dedup family; quadratic, so only ever run on dims or
    LSH-blocked candidates - same discipline as dedup.minhash)."""
    n = read_table(spark, sf_dir, "nation")
    a = n.select(F.col("n_nationkey").alias("key_a"), F.col("n_name").alias("name_a"))
    b = n.select(F.col("n_nationkey").alias("key_b"), F.col("n_name").alias("name_b"))
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b", dist.alias("edit_dist"))
        .filter(F.col("edit_dist") <= 4)
    )


# ---------------------------------------------------------------------------
# Vector column statistics (oracle-checked array math)
# ---------------------------------------------------------------------------


@register(
    "embedding_norm_stats",
    oracle="""
    SELECT vec_id,
           round(sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 [CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN embedding]),
                 (acc, v) -> acc + v)), 6) AS l2_norm,
           round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 [CAST(x AS DOUBLE) FOR x IN embedding]),
                 (acc, v) -> acc + v) / len(embedding), 6) AS mean_val,
           len(embedding) AS dim
    FROM embeddings
    """,
    tags=("vector", "scalar"),
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector stats via higher-order array functions (identical fold
    order to the DuckDB twin: left fold from 0.0, so hashes match
    bit-for-bit)."""
    from ..functions.vectors import l2_norm

    emb = read_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    total = F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x)
    return emb.select(
        "vec_id",
        F.round(l2_norm("embedding"), 6).alias("l2_norm"),
        F.round(total / F.size("embedding"), 6).alias("mean_val"),
        F.size("embedding").cast("long").alias("dim"),
    )


# ---------------------------------------------------------------------------
# Window rank family / HAVING
# ---------------------------------------------------------------------------


@register(
    "window_rank_family",
    oracle="""
    SELECT o_orderkey,
           o_orderpriority,
           RANK() OVER w AS price_rank,
           DENSE_RANK() OVER w AS price_dense_rank,
           NTILE(4) OVER w AS price_quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
    """,
    tags=("window",),
)
def window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / ntile over one window definition (single sort,
    all three computed in the same Window physical operator)."""
    od = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return od.select(
        "o_orderkey",
        "o_orderpriority",
        F.rank().over(w).alias("price_rank"),
        F.dense_rank().over(w).alias("price_dense_rank"),
        F.ntile(4).over(w).alias("price_quartile"),
    )


@register(
    "having_heavy_users",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_total
    FROM events GROUP BY user_id
    HAVING COUNT(*) > (SELECT CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT user_id)
                       FROM events)
    """,
    tags=("agg", "having"),
)
def having_heavy_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation predicate (HAVING) with a scalar-subquery
    threshold (above-average activity - scale-free, so the query selects
    rows at every SF): Filter above the final HashAggregate plus one
    broadcast 1-row aggregate; no extra shuffle of the big side."""
    ev = read_table(spark, sf_dir, "events")
    thresh = ev.agg(
        (F.count(F.lit(1)).cast("double") / F.countDistinct("user_id")).alias("__avg_n")
    )
    return (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value").alias("value_total"),
        )
        .crossJoin(F.broadcast(thresh))
        .filter(F.col("n_events") > F.col("__avg_n"))
        .drop("__avg_n")
    )


# ---------------------------------------------------------------------------
# Skew path: salted aggregation (oracle = the plain GROUP BY)
# ---------------------------------------------------------------------------


@register(
    "salted_user_totals",
    oracle="""
    SELECT user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_total,
           COUNT(*) AS n_rows
    FROM events GROUP BY user_id
    """,
    tags=("agg", "skew"),
    bench=True,
)
def salted_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salt-split per-user totals (operators.skew): each key fans out
    over 16 deterministic salts for the heavy first aggregation, then a
    tiny merge. Result-identical to the plain GROUP BY - which is exactly
    what the oracle asserts - while no single reducer ever sees a whole
    hot key."""
    from ..operators.skew import salted_sum_count

    ev = read_table(spark, sf_dir, "events")
    return salted_sum_count(ev, ["user_id"], "value", n_salts=16, salt_on="event_id")


@register(
    "salted_join_segment_revenue",
    oracle="""
    SELECT c_mktsegment,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    tags=("join", "agg", "skew"),
)
def salted_join_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant JOIN (operators.skew.salted_join - the join-side
    counterpart of salted_user_totals): the customer dim replicates over
    16 salts, each order row picks a deterministic salt from its unique
    key, and the join runs on (custkey, salt) so a hot customer's
    orders spread across 16 reducers instead of one. Result-identical
    to the plain join - the oracle IS the plain join - while the plan
    carries the salted key pair (pinned in test_plans.py)."""
    from ..operators.skew import salted_join

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = salted_join(
        orders, cust, fact_key="o_custkey", dim_key="c_custkey",
        salt_on="o_orderkey", n_salts=16,
    )
    return joined.groupBy("c_mktsegment").agg(
        exact_sum("o_totalprice").alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# Classic star-schema shapes (TPC-H q6/q10 analogues)
# ---------------------------------------------------------------------------


@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE)
             AS promo_revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.02 AND 0.08
      AND l_quantity < 25
    """,
    tags=("agg", "filter"),
    bench=True,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-side query - every predicate reaches the
    parquet reader (PushedFilters on shipdate/discount/quantity), output
    is one row. The canonical test that filters + aggregation never
    shuffle more than one partial row per task."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
            & F.col("l_discount").between(0.02, 0.08)
            & (F.col("l_quantity") < 25)
        )
        .agg(
            exact_sum(F.col("l_extendedprice") * F.col("l_discount")).alias("promo_revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q10_returned_revenue",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
                AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
    tags=("join", "agg", "topk"),
    bench=True,
)
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: fact-fact equi join shuffled on orderkey (the
    returnflag filter prunes lineitem first), then re-key to customer,
    aggregate, TakeOrderedAndProject top-20. AQE picks broadcast for the
    customer side when its post-filter size allows."""
    from ..operators.relational import top_k

    cust = read_table(spark, sf_dir, "customer")
    od = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = li.join(od, F.col("l_orderkey") == F.col("o_orderkey")).join(
        cust, F.col("o_custkey") == F.col("c_custkey")
    )
    agg = joined.groupBy("c_custkey", "c_name").agg(exact_sum(rev).alias("revenue"))
    return top_k(agg, [F.desc("revenue"), F.asc("c_custkey")], 20)


# ---------------------------------------------------------------------------
# Collection operators: collect+sort, posexplode
# ---------------------------------------------------------------------------


@register(
    "event_types_per_user",
    oracle="""
    SELECT user_id, array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types
    FROM events GROUP BY user_id
    """,
    tags=("agg", "collection"),
)
def event_types_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set + sort_array: the deterministic form of list
    aggregation (an unsorted collect_list is partition-order-dependent
    and can never be value-hash-checked). Joined to a string because the
    driver's pandas canonicalizer cannot hash list cells."""
    ev = read_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias("types")
    )


@register(
    "posexplode_embedding_head",
    oracle="""
    SELECT vec_id, CAST(idx - 1 AS INT) AS pos, round(CAST(val AS DOUBLE), 6) AS val
    FROM (SELECT vec_id, unnest(embedding[1:4]) AS val,
                 generate_subscripts(embedding[1:4], 1) AS idx
          FROM embeddings)
    """,
    tags=("collection", "explode"),
)
def posexplode_embedding_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode (index-preserving unnest) of the first 4 embedding
    dims - the 1->N lateral-view shape; slice first so the fan-out is
    bounded."""
    emb = read_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", F.posexplode(F.slice(F.col("embedding"), 1, 4))
    ).select(
        "vec_id",
        F.col("pos").cast("int").alias("pos"),
        F.round(F.col("col").cast("double"), 6).alias("val"),
    )


@register(
    "session_window_stats",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts - LAG(ts) OVER w >= INTERVAL {SESSION_GAP_MIN} MINUTE
                  THEN 1 ELSE 0 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT user_id, ts, value,
             SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS session_no
      FROM marked
    )
    SELECT user_id,
           epoch_us(MIN(ts)) AS session_start_us,
           epoch_us(MAX(ts) + INTERVAL {SESSION_GAP_MIN} MINUTE) AS session_end_us,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS session_value
    FROM numbered GROUP BY user_id, session_no
    """,
    tags=("window", "session", "events"),
)
def session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's native session_window aggregation (merging windows inside
    the aggregate - no window-function pass at all; also the streaming-
    native form with a watermark). Boundary semantics: a gap EQUAL to the
    interval starts a new session (window is [start, last+gap)), hence
    the >= in the oracle; the custom sessionize_events keeps strictly-
    greater semantics - both are valid dialects, pinned by their oracles."""
    ev = read_table(spark, sf_dir, "events").withColumn(
        "__t", F.col("ts").cast("timestamp")
    )
    return (
        ev.groupBy(F.session_window("__t", f"{SESSION_GAP_MIN} minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value").alias("session_value"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
            F.unix_micros(F.col("session_window.end")).alias("session_end_us"),
            "n_events",
            "session_value",
        )
    )


@register(
    "sliding_window_6h_activity",
    oracle="""
    SELECT epoch_us(win_start) AS window_start_us, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_total
    FROM (
      SELECT unnest(generate_series(
               time_bucket(INTERVAL 6 HOUR, ts) - INTERVAL 18 HOUR,
               time_bucket(INTERVAL 6 HOUR, ts),
               INTERVAL 6 HOUR)) AS win_start,
             value
      FROM events
    )
    GROUP BY win_start
    """,
    tags=("window", "sliding", "events"),
)
def sliding_window_6h_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (24 h length, 6 h slide): every event fans out
    into 4 overlapping windows inside the aggregation (Catalyst Expand -
    one shuffle keyed by window start). Same operator drives the
    streaming form with a watermark; this is its batch/backfill shape."""
    ev = read_table(spark, sf_dir, "events").withColumn(
        "__t", F.col("ts").cast("timestamp")
    )
    return (
        ev.groupBy(F.window("__t", "24 hours", "6 hours").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value").alias("value_total"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "n_events",
            "value_total",
        )
    )


@register(
    "props_map_funcs",
    oracle="""
    SELECT event_id,
           'k' AS first_key,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
           1 AS n_keys
    FROM events
    """,
    tags=("scalar", "map", "json"),
)
def props_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column surface: parse the JSON props into
    map<string,bigint>, then map_keys/element_at/size - the schema-on-
    read path for semi-structured columns (stays whole-stage codegen)."""
    ev = read_table(spark, sf_dir, "events")
    m = F.from_json(F.col("props"), "map<string,bigint>")
    return ev.select(
        "event_id",
        F.element_at(F.map_keys(m), 1).alias("first_key"),
        F.element_at(m, "k").alias("k_value"),
        F.size(m).alias("n_keys"),
    )


@register(
    "window_first_last_nth",
    oracle="""
    SELECT o_orderkey, o_custkey,
           FIRST_VALUE(o_totalprice) OVER w AS first_price,
           LAST_VALUE(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS last_price,
           NTH_VALUE(o_totalprice, 2) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS second_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    tags=("window",),
)
def window_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth_value over one per-customer order history (full-
    frame bounds for last/nth, so the answer is frame-independent)."""
    od = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return od.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(full).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(full).alias("second_price"),
    )


@register(
    "null_semantics_battery",
    oracle="""
    SELECT event_id,
           COALESCE(NULLIF(event_type, 'error'), 'suppressed') AS type_or_suppressed,
           (NULLIF(value, 0.0) IS NOT DISTINCT FROM NULL) AS value_was_zero,
           CASE WHEN value > 10 THEN value END AS big_value,
           COALESCE(CASE WHEN value > 10 THEN value END, -1.0) AS big_value_filled
    FROM events
    """,
    tags=("scalar", "null"),
)
def null_semantics_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL algebra: NULLIF/COALESCE/CASE-without-ELSE and null-safe
    equality (<=> / IS NOT DISTINCT FROM)."""
    ev = read_table(spark, sf_dir, "events")
    big = F.when(F.col("value") > 10, F.col("value"))
    return ev.select(
        "event_id",
        F.coalesce(F.nullif("event_type", F.lit("error")), F.lit("suppressed")).alias(
            "type_or_suppressed"
        ),
        F.nullif(F.col("value"), F.lit(0.0)).eqNullSafe(F.lit(None).cast("double")).alias(
            "value_was_zero"
        ),
        big.alias("big_value"),
        F.coalesce(big, F.lit(-1.0)).alias("big_value_filled"),
    )


@register(
    "pct_of_total_by_segment",
    oracle="""
    SELECT c_mktsegment, c_custkey, spend,
           round(spend / SUM(spend) OVER (PARTITION BY c_mktsegment), 6) AS pct_of_segment
    FROM (
      SELECT c_mktsegment, c_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS spend
      FROM customer JOIN orders ON c_custkey = o_custkey
      GROUP BY c_mktsegment, c_custkey
    )
    """,
    tags=("window", "agg", "ratio"),
)
def pct_of_total_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: per-customer spend as a share of its market
    segment (aggregate, then an unordered partition window over the
    MUCH smaller aggregate - never a second pass over the fact table).
    The window total sums the already-decimal-exact doubles in Spark's
    partition-local order; DuckDB's differs, so the share is rounded to
    6dp where both agree."""
    cust = read_table(spark, sf_dir, "customer")
    od = read_table(spark, sf_dir, "orders")
    spend = (
        cust.join(od, cust.c_custkey == od.o_custkey)
        .groupBy("c_mktsegment", "c_custkey")
        .agg(exact_sum("o_totalprice").alias("spend"))
    )
    w = Window.partitionBy("c_mktsegment")
    return spend.select(
        "c_mktsegment",
        "c_custkey",
        "spend",
        F.round(F.col("spend") / F.sum("spend").over(w), 6).alias("pct_of_segment"),
    )


@register(
    "sample_n_per_group",
    oracle="""
    SELECT event_id, user_id, event_type FROM (
      SELECT event_id, user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY xor(event_id, 2654435761) , event_id)
               AS rn
      FROM events
    ) WHERE rn <= 5
    """,
    tags=("sample", "window"),
)
def sample_n_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-N-per-group sampling: deterministic pseudo-random order
    (key XOR a Knuth constant) + row_number <= N. Unlike sampleBy this
    gives exact group quotas and is reproducible across engines and
    partitionings."""
    ev = read_table(spark, sf_dir, "events")
    shuffle_key = F.col("event_id").bitwiseXOR(F.lit(2654435761))
    w = Window.partitionBy("event_type").orderBy(shuffle_key, "event_id")
    return (
        ev.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 5)
        .select("event_id", "user_id", "event_type")
    )


@register(
    "histogram_order_prices",
    oracle="""
    SELECT CASE WHEN o_totalprice < 0 THEN 0
                WHEN o_totalprice >= 500000.0 THEN 21
                ELSE CAST(floor(o_totalprice / 25000.0) AS BIGINT) + 1 END AS bucket,
           COUNT(*) AS n_orders,
           round(MIN(o_totalprice), 2) AS lo,
           round(MAX(o_totalprice), 2) AS hi
    FROM orders GROUP BY bucket
    """,
    tags=("agg", "histogram"),
)
def histogram_order_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram via width_bucket (single pass, map-side
    partials - the scalable histogram; sort-based quantile binning is
    percentiles_quantity's job)."""
    od = read_table(spark, sf_dir, "orders")
    b = F.width_bucket(F.col("o_totalprice"), F.lit(0.0), F.lit(500000.0), F.lit(20))
    return od.groupBy(b.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
    )


@register(
    "approx_percentile_quantity",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 4) AS exact_q50,
           TRUE AS within_tol
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "sketch", "percentile"),
)
def approx_percentile_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (approx_percentile): the one-pass scale
    path whose exact twin is percentiles_quantity. The raw estimate is
    engine-specific, so (same treatment as approx_distinct_users /
    cms_user_frequencies) the hash-checked contract is the tolerance
    assertion |approx - exact| <= 1% of exact, computed in-query; the
    oracle asserts the exact median and within_tol TRUE."""
    li = read_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_percentile("l_quantity", F.lit(0.5), F.lit(10000)).alias("approx_q50"),
        F.percentile("l_quantity", F.lit(0.5)).alias("exact_q50"),
    )
    return agg.select(
        "l_returnflag",
        F.round("exact_q50", 4).alias("exact_q50"),
        (
            F.abs(F.col("approx_q50") - F.col("exact_q50"))
            <= F.lit(0.01) * F.abs(F.col("exact_q50"))
        ).alias("within_tol"),
    )


@register(
    "weighted_median_price_by_flag",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             l_extendedprice AS p,
             SUM(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_returnflag ORDER BY l_extendedprice
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumq,
             SUM(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_returnflag) AS totq
      FROM lineitem
    )
    SELECT l_returnflag, MIN(p) AS wmedian_price
    FROM s WHERE 2 * cumq >= totq
    GROUP BY l_returnflag
    """,
    tags=("agg", "pandas_udf", "udaf"),
)
def weighted_median_price_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag via a GROUPED_AGG
    pandas UDF - the one UDF surface shape (a true UDAF: whole group in,
    scalar out over Arrow) the catalog didn't yet demonstrate; weighted
    quantiles are the canonical case no built-in covers.

    Determinism: weights are integral quantities accumulated as int64
    and the qualifying condition is the integer ``2*cum >= total`` (no
    float division), so the smallest qualifying price is well-defined
    even under within-tie reorderings - which is what lets a window-SQL
    oracle reproduce a Python UDAF bit-for-bit. Scale shape: Spark
    computes grouped-agg pandas UDFs per group post-shuffle; groups are
    the 3 return flags, each group's rows stream through Arrow once."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # Type-inferred form (Series... -> float annotation = GROUPED_AGG);
    # the explicit PandasUDFType enum is deprecated in Spark 4. The
    # annotations are attached as real objects because this module's
    # ``from __future__ import annotations`` would stringify inline
    # hints, which pandas_udf's signature inference rejects.
    def _wmedian(price, qty):
        df = pd.DataFrame({"p": price, "q": qty.astype("int64")}).sort_values("p")
        cum = df["q"].cumsum()
        tot = int(df["q"].sum())
        return float(df.loc[2 * cum >= tot, "p"].iloc[0])

    _wmedian.__annotations__ = {"price": pd.Series, "qty": pd.Series, "return": float}
    wmedian = pandas_udf(_wmedian, "double")

    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        wmedian(F.col("l_extendedprice"), F.col("l_quantity")).alias("wmedian_price")
    )

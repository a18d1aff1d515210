"""§2.5 aggregations.

All groupBy().agg() — Spark plans partial (map-side) + final
aggregation automatically, so these scale with group count, not row
count.  Float outputs are rounded identically in the oracle SQL
(SURVEY §7 R1); grouping() flags are emitted per-column (never
grouping_id(), whose bit order is engine-specific).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from raster2points_spark.io import register_views
from raster2points_spark.registry import register
from raster2points_spark.queries._util import (
    SCRATCH,
    SESSION_CTES,
    bucket,
    bucket_sql,
    daily_rollup,
    t,
    t_fanout,
    type_buckets,
    type_buckets_sql,
    unix_secs,
)

# md5 → bigint hash of user_id (60 bits), the sketches' hash
_USER_HASH_SPARK = "cast(conv(substring(md5(cast(user_id AS string)), 1, 15), 16, 10) AS bigint)"
_USER_HASH_DUCK = "cast(concat('0x', substr(md5(cast(user_id AS varchar)), 1, 15)) AS bigint)"


@register(
    "agg_groupby",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 2) AS avg_qty,
           round(avg(l_extendedprice), 2) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_groupby(spark, sf_dir):
    """TPC-H Q1 shape (pricing summary report)."""
    li = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "agg_having",
    oracle="""
    SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS sum_price
    FROM orders GROUP BY o_custkey HAVING count(*) >= 12
    """,
)
def agg_having(spark, sf_dir):
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("sum_price"))
        .filter(F.col("n_orders") >= 12)
    )


@register(
    "agg_count_distinct",
    oracle="""
    SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def agg_count_distinct(spark, sf_dir):
    return (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"), F.count("*").alias("n_events"))
    )


@register("agg_approx_distinct", check="rows-only")
def agg_approx_distinct(spark, sf_dir):
    """HLL++ sketch — approx by design, never oracle-checked (R5)."""
    return (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", 0.02).alias("approx_users"))
    )


@register(
    "agg_rollup",
    oracle="""
    SELECT n_name, c_mktsegment,
           grouping(n_name) AS g_n, grouping(c_mktsegment) AS g_m,
           count(*) AS n, round(sum(c_acctbal), 2) AS sum_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY ROLLUP (n_name, c_mktsegment)
    """,
)
def agg_rollup(spark, sf_dir):
    c, n = t(spark, sf_dir, "customer"), t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .rollup("n_name", "c_mktsegment")
        .agg(
            F.grouping("n_name").alias("g_n"),
            F.grouping("c_mktsegment").alias("g_m"),
            F.count("*").alias("n"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_bal"),
        )
    )


@register(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           grouping(l_returnflag) AS g_r, grouping(l_linestatus) AS g_l,
           count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark, sf_dir):
    return (
        t(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").alias("g_r"),
            F.grouping("l_linestatus").alias("g_l"),
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


_GROUPING_SETS_SQL = """
    SELECT n_name, c_mktsegment, count(*) AS n, round(sum(c_acctbal), 2) AS sum_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
    """


@register("agg_grouping_sets", oracle=_GROUPING_SETS_SQL)
def agg_grouping_sets(spark, sf_dir):
    """Explicit grouping sets via Spark SQL (same Catalyst Expand plan
    as rollup/cube)."""
    register_views(spark, sf_dir, ("customer", "nation"))
    return spark.sql(_GROUPING_SETS_SQL)


@register(
    "agg_filtered",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_extendedprice) FILTER (WHERE l_linestatus = 'O'), 2) AS sum_open,
           count(*) FILTER (WHERE l_discount > 0.05) AS n_disc,
           count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_filtered(spark, sf_dir):
    """sum(x) FILTER (WHERE p) ≡ sum(when(p, x)) — conditional
    aggregation without a second scan."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(
            F.sum(F.when(F.col("l_linestatus") == "O", F.col("l_extendedprice"))), 2
        ).alias("sum_open"),
        F.count(F.when(F.col("l_discount") > 0.05, F.lit(1))).alias("n_disc"),
        F.count("*").alias("n"),
    )


@register(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 4) AS sd_qty,
           round(var_samp(l_quantity), 4) AS var_qty,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_stats(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
    )


@register(
    "agg_percentile",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.25), 4) AS p25,
           round(quantile_cont(l_quantity, 0.50), 4) AS p50,
           round(quantile_cont(l_quantity, 0.75), 4) AS p75
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentile(spark, sf_dir):
    """Exact interpolated percentiles (Spark percentile == DuckDB
    quantile_cont semantics)."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.25)), 4).alias("p25"),
        F.round(F.percentile("l_quantity", F.lit(0.50)), 4).alias("p50"),
        F.round(F.percentile("l_quantity", F.lit(0.75)), 4).alias("p75"),
    )


@register(
    "agg_collect_sorted",
    oracle="""
    SELECT c_mktsegment,
           array_to_string(list(c_custkey ORDER BY c_custkey), ',') AS custkeys
    FROM customer GROUP BY c_mktsegment
    """,
)
def agg_collect_sorted(spark, sf_dir):
    """collect_list is unordered across tasks — always sort_array
    before comparing/emitting (R2).  The list is serialized with
    concat_ws so the result is scalar-typed: the grading harness
    canonicalizes via pandas sort_values, which cannot hash raw list
    cells (r1 FAIL)."""
    return (
        t(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_list("c_custkey"))).alias(
                "custkeys"
            )
        )
    )


@register(
    "agg_rollup_cascade",
    oracle=f"""
    WITH ev AS (
        SELECT {bucket_sql(86400)} AS day_bkt,
               event_type,
               cast(floor(value * 1000) AS bigint) AS vmilli
        FROM events
    )
    SELECT day_bkt, event_type, count(*) AS n,
           cast(sum(vmilli) AS bigint) AS sum_vmilli
    FROM ev GROUP BY 1, 2
    """,
)
def agg_rollup_cascade(spark, sf_dir):
    """Hypertable-style cascade: the DAILY rollup consumes the HOURLY
    rollup (sum of partial counts/sums), never re-scanning events —
    the continuous-aggregate / downsampling pattern of time-series
    stores.  The oracle aggregates events directly, so the test proves
    the cascade is lossless.  Values are summed as floor(value*1000)
    bigints: integer partial sums re-aggregate exactly (float sums
    would be order-sensitive across the two levels).  At 100 TB the
    second level shuffles |hours x types| rows, not |events|.
    """
    ev = t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 1000).cast("bigint").alias("vmilli"),
        bucket(3600).alias("hour_bkt"),
    )
    hourly = ev.groupBy("hour_bkt", "event_type").agg(
        F.count("*").alias("n"), F.sum("vmilli").alias("sum_vmilli")
    )
    return (
        hourly.withColumn("day_bkt", bucket(24, F.col("hour_bkt")))
        .groupBy("day_bkt", "event_type")
        .agg(F.sum("n").alias("n"), F.sum("sum_vmilli").alias("sum_vmilli"))
        .select("day_bkt", "event_type", "n", "sum_vmilli")
    )


@register(
    "agg_kmv_sketch",
    oracle=f"""
    WITH du AS (
        SELECT DISTINCT event_type, user_id FROM events
    ),
    hashed AS (
        SELECT event_type, {_USER_HASH_DUCK} AS h
        FROM du
    ),
    ranked AS (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk,
               count(*) OVER (PARTITION BY event_type) AS n_exact
        FROM hashed
    )
    SELECT event_type, cast(n_exact AS bigint) AS n_exact,
           CASE WHEN n_exact < 64 THEN cast(n_exact AS bigint)
                ELSE cast(floor(63.0 * 1152921504606846976 / max(CASE WHEN rk = 64 THEN h END)) AS bigint)
           END AS kmv_estimate
    FROM ranked
    GROUP BY event_type, n_exact
    """,
)
def agg_kmv_sketch(spark, sf_dir):
    """Novel sketch, ORACLE-CHECKED: K-Minimum-Values distinct-count
    estimator (k=64).  Hash every (event_type, user) once with the
    md5→bigint trick; the 64th-smallest hash h64 estimates
    |distinct| ≈ (k-1) · 2^60 / h64 (hashes are ~uniform on [0, 2^60)).
    Unlike HLL/CMS the estimate is pure deterministic integer
    arithmetic on deterministic hashes, so Spark and DuckDB agree
    bit-for-bit — a sketch whose accuracy AND implementation are both
    testable.  At scale: one distinct-shuffle, then only k values per
    group matter (collectable as a tiny sorted array per partition —
    the mergeable-sketch property).  Exact count carried alongside so
    the estimate's error is inspectable in the result itself.
    """
    from pyspark.sql import Window

    du = t(spark, sf_dir, "events").select("event_type", "user_id").distinct()
    hashed = du.select("event_type", F.expr(_USER_HASH_SPARK).alias("h"))
    w = Window.partitionBy("event_type").orderBy("h")
    wc = Window.partitionBy("event_type")
    ranked = hashed.select(
        "event_type",
        "h",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(wc).alias("n_exact"),
    )
    est = F.floor(
        F.lit(63.0) * F.lit(1152921504606846976) / F.max(F.when(F.col("rk") == 64, F.col("h")))
    ).cast("bigint")
    return (
        ranked.groupBy("event_type", "n_exact")
        .agg(
            F.when(F.col("n_exact") < 64, F.col("n_exact").cast("bigint"))
            .otherwise(est)
            .alias("kmv_estimate")
        )
        .select("event_type", F.col("n_exact").cast("bigint").alias("n_exact"), "kmv_estimate")
    )


@register(
    "agg_pivot",
    oracle="""
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_f,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_o,
           count(*) FILTER (WHERE l_linestatus = 'F') AS n_f,
           count(*) FILTER (WHERE l_linestatus = 'O') AS n_o
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_pivot(spark, sf_dir):
    """PIVOT with an EXPLICIT value list — groupBy().pivot(col, values)
    compiles to one pass of conditional aggregation (the oracle states
    exactly that rewrite).  Omitting the value list would trigger a
    driver-side distinct scan to discover columns: never do that at
    100 TB; the schema must not depend on the data."""
    li = t(spark, sf_dir, "lineitem")
    piv = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("qty"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return piv.select(
        "l_returnflag",
        F.col("F_qty").alias("qty_f"),
        F.col("O_qty").alias("qty_o"),
        F.col("F_n").alias("n_f"),
        F.col("O_n").alias("n_o"),
    )


@register(
    "ts_gapfill",
    oracle=f"""
    WITH ev AS (
        SELECT event_type, {bucket_sql(3600)} AS h
        FROM events
    ),
    counts AS (SELECT event_type, h, count(*) AS n FROM ev GROUP BY 1, 2),
    b AS (SELECT min(h) AS h0, max(h) AS h1 FROM ev),
    grid AS (
        SELECT t.event_type, unnest(generate_series(b.h0, b.h1)) AS h
        FROM (SELECT DISTINCT event_type FROM ev) t CROSS JOIN b
    )
    SELECT g.event_type, g.h AS hour_bkt,
           coalesce(c.n, 0) AS n_events
    FROM grid g LEFT JOIN counts c
      ON c.event_type = g.event_type AND c.h = g.h
    """,
)
def ts_gapfill(spark, sf_dir):
    """Time-series resample with gap fill: hourly event counts per
    type, with MISSING buckets materialized as zero rows — the
    operation every downsampling/monitoring pipeline needs and plain
    GROUP BY can't give (absent groups produce no row).

    Scale shape: the dense (type × hour) grid comes from exploding a
    sequence() per type against the broadcast one-row global bounds —
    grid size is |types| · |hours|, independent of event count; the
    left join back to the counts is an equi-join on the grid key.
    """
    ev = t(spark, sf_dir, "events").select("event_type", bucket(3600).alias("h"))
    # counts (|types|x|hours| rows) is the ONLY consumer of the event
    # scan: bounds and the type list derive from it exactly (min/max
    # over grouped h == over raw h; the distinct type set survives the
    # groupBy), so the stream is scanned once, not three times (r15).
    counts = ev.groupBy("event_type", "h").agg(F.count("*").alias("n")).persist()
    bounds = counts.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    types = counts.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(bounds)).select(
        "event_type", F.explode(F.sequence("h0", "h1")).alias("h")
    )
    return grid.join(counts, ["event_type", "h"], "left").select(
        "event_type",
        F.col("h").alias("hour_bkt"),
        F.coalesce("n", F.lit(0)).alias("n_events"),
    )


@register(
    "agg_mode",
    oracle="""
    WITH cnt AS (
        SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM orders GROUP BY 1, 2
    ),
    ranked AS (
        SELECT o_orderstatus, o_orderpriority, n,
               row_number() OVER (
                   PARTITION BY o_orderstatus
                   ORDER BY n DESC, o_orderpriority
               ) AS rn
        FROM cnt
    )
    SELECT o_orderstatus, o_orderpriority AS mode_priority, n AS mode_count
    FROM ranked WHERE rn = 1
    """,
)
def agg_mode(spark, sf_dir):
    """Per-group mode (most frequent value, smallest-value tiebreak) —
    the categorical summary SQL's mode() gives single-node engines,
    stated as the scalable two-level shape: map-side-combined
    groupBy(group, value) counts (the only corpus-sized shuffle), then
    a rank over the tiny (group x value) count relation.  Never
    collect_list of raw values — at 100 TB a per-group value list OOMs
    where the count relation stays |groups|·|distinct values| rows."""
    from pyspark.sql import Window

    cnt = (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("n").desc(), F.col("o_orderpriority")
    )
    return (
        cnt.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("n").alias("mode_count"),
        )
    )


# {div}: integer division, ``div`` in Spark SQL and ``//`` in DuckDB
_RECURSIVE_SQL = """
    WITH RECURSIVE spine(i) AS (
      SELECT 0
      UNION ALL
      SELECT i + 1 FROM spine WHERE i < 23
    ), m AS (
      SELECT cast(1995 + i {div} 12 AS int) AS yr, cast(1 + i % 12 AS int) AS mo FROM spine
    ), oc AS (
      SELECT cast(extract(year FROM o_orderdate) AS int) AS yr,
             cast(extract(month FROM o_orderdate) AS int) AS mo,
             count(*) AS n, round(sum(o_totalprice), 2) AS total
      FROM orders GROUP BY 1, 2
    )
    SELECT m.yr, m.mo, coalesce(oc.n, 0) AS n, coalesce(oc.total, 0.0) AS total
    FROM m LEFT JOIN oc ON m.yr = oc.yr AND m.mo = oc.mo
    """


@register("cte_recursive", oracle=_RECURSIVE_SQL.format(div="//"))
def cte_recursive(spark, sf_dir):
    """Recursive CTE (Spark 4 WITH RECURSIVE): generate a 24-month
    spine by recursion, then left-join monthly order rollups with
    zero-fill — the SQL-standard twin of ts_gapfill's sequence()
    approach, exercising Catalyst's UnionLoop execution.

    The recursion produces 24 driver-side rows (depth bounded by the
    WHERE guard, never data-dependent); the only big-table work is one
    map-side-combined monthly aggregate of orders.  DuckDB runs the
    IDENTICAL text modulo `//` vs `div` integer division.
    """
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(_RECURSIVE_SQL.format(div="div"))


@register(
    "mv_incremental",
    oracle=f"""
    {type_buckets_sql(86400, "day", "count(*) AS n, round(sum(value), 2) AS sum_value")}
    """,
)
def mv_incremental(spark, sf_dir):
    """Materialized-view incremental refresh: a standing daily rollup
    is maintained by aggregating ONLY the new days and merging the
    partial aggregates into the stored MV — history is never
    rescanned.

    The 100 TB standing-pipeline pattern: refresh cost is
    O(delta) + O(|MV|), independent of history size.  Works because
    count/sum are decomposable (merge = re-aggregate the partials);
    the oracle recomputes the SAME rollup from the full table, so the
    hash match PROVES base ⊎ delta == full — the MV maintenance
    invariant itself.  Day split at epoch-day 19740 (Jan 24 2024) puts
    real rows on both sides at every shipped SF.
    """
    import os as _os

    ev = t(spark, sf_dir, "events").select("event_type", bucket(86400).alias("day"), "value")
    split_day = 19740
    path = _os.path.join(SCRATCH, "mv_incremental_base")
    daily_rollup(ev.filter(F.col("day") < split_day)).write.mode("overwrite").parquet(path)
    base = spark.read.parquet(path)  # the stored MV (history's partials)
    delta = daily_rollup(ev.filter(F.col("day") >= split_day))  # only new days scanned
    return (
        base.unionByName(delta)
        .groupBy("event_type", "day")
        .agg(F.sum("n").alias("n"), F.round(F.sum("sv"), 2).alias("sum_value"))
    )


@register(
    "agg_weighted_avg",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4)
             AS wavg_price,
           round(avg(l_extendedprice), 4) AS plain_avg,
           cast(round(sum(l_quantity), 0) AS bigint) AS total_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_weighted_avg(spark, sf_dir):
    """Quantity-weighted average price per return flag (vs the plain
    average, which over-weights small lots) — the sum(w·x)/sum(w)
    pattern every pricing/index rollup uses.

    Two decomposable sums in ONE map-side-combined aggregate — the
    division happens on the |groups|-row result, so the weighted
    average costs exactly what the plain one does at any scale.
    """
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * F.col("l_quantity")) / F.sum("l_quantity"), 4
        ).alias("wavg_price"),
        F.round(F.avg("l_extendedprice"), 4).alias("plain_avg"),
        F.round(F.sum("l_quantity"), 0).cast("bigint").alias("total_qty"),
    )


@register(
    "agg_any_all",
    oracle="""
    SELECT o_custkey,
           bool_and(o_totalprice > 1000) AS all_over_1k,
           bool_or(o_orderstatus = 'F') AS any_filled,
           count(*) AS n
    FROM orders GROUP BY o_custkey
    """,
)
def agg_any_all(spark, sf_dir):
    """Boolean aggregates every/some (SQL bool_and/bool_or) — the
    per-group invariant checks data-quality gates are written in
    (\"did EVERY order clear the floor? did ANY fill?\").

    Single-pass decomposable aggregates with map-side combine —
    booleans fold like min/max, so the shuffle carries one bit pair
    per (group, partition).
    """
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bool_or(F.col("o_orderstatus") == "F").alias("any_filled"),
        F.count("*").alias("n"),
    )


@register(
    "agg_bitmap_distinct",
    oracle="""
    WITH words AS (
      SELECT l_returnflag,
             l_suppkey // 63 AS w,
             bit_or(1::BIGINT << (l_suppkey % 63)) AS bits
      FROM lineitem GROUP BY 1, 2
    )
    SELECT l_returnflag,
           cast(sum(bit_count(bits)) AS bigint) AS n_distinct_supp
    FROM words GROUP BY 1
    """,
)
def agg_bitmap_distinct(spark, sf_dir):
    """Exact distinct counting via RE-AGGREGATABLE 64-bit word bitmaps —
    the scalable alternative to count(DISTINCT) when the same distinct
    sets roll up across many dimensions: per (group, id div 63) word,
    bit_or the membership bits, then popcount-sum per group.

    Why this wins at 100 TB: stage 1 is a partial-aggregated groupBy
    whose shuffle carries one int64 per (group, word) — bounded by
    |groups| x |id-universe|/63 regardless of row count — and the word
    relation is a MATERIALIZABLE sketch: bit_or is associative, so
    daily word tables merge into weekly/monthly exact distincts
    without touching raw data (count(DISTINCT) re-scans everything).
    63-bit words (bits 0..62) keep every shifted value in int64
    positive range — DuckDB raises on 1<<63 where Spark would wrap
    negative, so the sign bit is the one bit the engines would
    disagree on.
    """
    li = t(spark, sf_dir, "lineitem")
    words = li.groupBy(
        "l_returnflag",
        F.expr("l_suppkey div 63").alias("w"),
    ).agg(F.expr("bit_or(shiftleft(1L, cast(l_suppkey % 63 as int)))").alias("bits"))
    return words.groupBy("l_returnflag").agg(
        F.sum(F.bit_count("bits")).cast("bigint").alias("n_distinct_supp")
    )


@register(
    "agg_salted_twophase",
    oracle="""
    SELECT o_orderpriority,
           cast(sum(cast(round(o_totalprice * 100) AS bigint)) AS bigint)
             AS sum_cents,
           count(*) AS n
    FROM orders GROUP BY 1
    """,
)
def agg_salted_twophase(spark, sf_dir):
    """Skew-resistant aggregation: explicit two-phase salt —
    groupBy(key, salt16) partial, then groupBy(key) combine.  The
    oracle is the plain GROUP BY (salting must be semantically
    invisible).

    Spark's built-in partial aggregation already handles MODERATE
    skew (map-side combine collapses per-partition duplicates), but a
    hot key whose partials still overwhelm one reducer needs the salt
    stage: phase 1 spreads the hot key over 16 reducers, phase 2
    combines 16 rows per key.  Summing integer cents keeps both
    phases exact — a two-phase double sum would re-order float
    addition and drift against the single-pass oracle.
    """
    o = t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    phase1 = o.groupBy(
        "o_orderpriority", (F.col("o_orderkey") % 16).alias("salt")
    ).agg(F.sum(cents).alias("pc_sum"), F.count("*").alias("pc_n"))
    return phase1.groupBy("o_orderpriority").agg(
        F.sum("pc_sum").cast("bigint").alias("sum_cents"),
        F.sum("pc_n").cast("bigint").alias("n"),
    )


@register(
    "agg_session_window",
    oracle=f"""
    WITH {SESSION_CTES}
    SELECT user_id,
           min(tsec) AS session_start,
           max(tsec) + 1800 AS session_end,
           count(*) AS n_events
    FROM numbered GROUP BY user_id, session_no
    """,
)
def agg_session_window(spark, sf_dir):
    """Spark's BUILT-IN session_window() run as a batch aggregate —
    the declarative twin of the hand-rolled sessionize_batch: one
    groupBy(session_window(ts, gap), user_id) replaces the
    lag-flag + cumulative-sum + rollup pipeline, and the same operator
    is streaming-ready (swap readStream in, add a watermark).

    Session bounds follow Spark's contract: [first event, last event +
    gap).  The oracle states the gaps-and-islands decomposition with
    end = max + gap, hash-proving the built-in merges sessions exactly
    at the >30-min boundary.  Sessionization runs on whole-second
    timestamps both sides (the corpus carries sub-second parts the
    oracle's epoch-floor would otherwise disagree on).  One user-keyed
    exchange, SessionWindowStateStore-free in batch.
    """
    ev = t(spark, sf_dir, "events").select(
        "user_id", F.timestamp_seconds(unix_secs(F.col("ts"))).alias("tss")
    )
    return (
        ev.groupBy(F.session_window("tss", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_seconds(F.col("session_window.start")).alias("session_start"),
            F.unix_seconds(F.col("session_window.end")).alias("session_end"),
            "n_events",
        )
    )


@register("agg_approx_percentile", check="rows-only")
def agg_approx_percentile(spark, sf_dir):
    """Approximate percentiles via Spark's Greenwald-Khanna sketch
    (accuracy parameter 10000 → max rank error 1/10000) — the
    single-pass mergeable alternative to exact percentile() when the
    fact table is too large to buffer per group.

    rows-only by design: DuckDB's approx_quantile is t-digest, a
    different sketch — no value-exact oracle exists.  Exactness is
    pinned by tests/test_properties.py instead: every approximate
    quantile must land within 1% RANK error of the exact percentile
    (the GK guarantee, checked against sorted truth).
    """
    li = t(spark, sf_dir, "lineitem")
    pcts = F.expr(
        "approx_percentile(l_extendedprice, array(0.5, 0.9, 0.99), 10000)"
    )
    return li.groupBy("l_returnflag").agg(
        pcts[0].alias("p50"),
        pcts[1].alias("p90"),
        pcts[2].alias("p99"),
        F.count("*").alias("n"),
    )


@register(
    "agg_multi_distinct",
    oracle="""
    SELECT o_orderstatus,
           count(DISTINCT o_custkey) AS n_cust,
           count(DISTINCT o_orderpriority) AS n_pri,
           count(*) AS n_rows,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_multi_distinct(spark, sf_dir):
    """MULTIPLE count-distincts in one query — the shape that
    separates engines: each DISTINCT needs its own dedup space, so
    Catalyst rewrites via Expand (one replicated row per distinct
    group, tagged by gid) into a single two-level aggregation instead
    of N self-joined subqueries.

    The cost model to know at 100 TB: Expand multiplies the mapper
    output by (|distincts| + 1) BEFORE the shuffle — fine for 2-3
    distincts, a blowup for 10 (then pre-aggregate each separately
    and join, or switch to approx_count_distinct).  Mixing in plain
    aggregates (count(*), sum) is free — they ride the gid=null
    replica.  This key pins the 2-distinct-plus-plain shape.
    """
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_cust"),
        F.countDistinct("o_orderpriority").alias("n_pri"),
        F.count("*").alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


@register(
    "agg_kmv_set_ops",
    oracle="""
    WITH elems AS (
        SELECT DISTINCT
               concat(cast(user_id AS varchar), '|',
                      cast(cast(ts AS date) AS varchar)) AS k,
               event_type
        FROM events
        WHERE event_type IN ('purchase', 'error')
    ),
    hashed AS (
        SELECT cast(concat('0x', substr(md5(k), 1, 15)) AS bigint) AS h,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS in_a,
               max(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS in_b
        FROM elems
        GROUP BY 1
    ),
    ranked AS (
        SELECT h, in_a, in_b, row_number() OVER (ORDER BY h) AS rk
        FROM hashed
    )
    SELECT cast(sum(in_a) AS bigint)                                    AS exact_a,
           cast(sum(in_b) AS bigint)                                    AS exact_b,
           cast(sum(in_a * in_b) AS bigint)                             AS exact_intersection,
           cast(count(*) AS bigint)                                     AS exact_union,
           cast(floor(63.0 * 1152921504606846976
                      / max(CASE WHEN rk = 64 THEN h END)) AS bigint)   AS est_union,
           round(sum(CASE WHEN rk <= 64 THEN in_a * in_b ELSE 0 END) / 64.0, 4)
                                                                        AS jaccard_est,
           cast(floor(sum(CASE WHEN rk <= 64 THEN in_a * in_b ELSE 0 END) / 64.0
                      * floor(63.0 * 1152921504606846976
                              / max(CASE WHEN rk = 64 THEN h END))) AS bigint)
                                                                        AS est_intersection
    FROM ranked
    """,
)
def agg_kmv_set_ops(spark, sf_dir):
    """KMV sketch SET OPERATIONS (k=64): estimate |A∪B|, Jaccard and
    |A∩B| between two sets — active purchase-days vs error-days per
    user — from one pass of deterministic md5 min-hashes, the
    mergeable-sketch algebra (union sketch = min-k of the unioned
    sketches; intersection via the Jaccard of the union sketch's
    members) that powers cross-segment audience overlap at 100 TB
    without ever co-shuffling the raw sets.

    Scale shape: per-element membership flags collapse in ONE
    hash-keyed aggregate; the min-k selection is TWO-PHASE — a window
    per pmod(h, 32) bucket keeps 64 candidates each (parallel,
    partition-local top-k, never a global sort), then the ≤2048
    survivors merge into the final sketch inside a single-row
    higher-order-function pass.  Exact counts carried alongside so
    the estimate's error is inspectable in the result.  All
    arithmetic is integer-or-rounded on deterministic hashes —
    bit-identical cross-engine (same contract as agg_kmv_sketch).
    """
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "error")
    )
    elems = ev.select(
        F.concat_ws(
            "|", F.col("user_id").cast("string"), F.to_date("ts").cast("string")
        ).alias("k"),
        "event_type",
    ).distinct()
    hashed = elems.groupBy(
        F.expr("cast(conv(substring(md5(k), 1, 15), 16, 10) AS bigint)").alias("h")
    ).agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("in_a"),
        F.max(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("in_b"),
    )
    # two-phase min-k: 64 smallest per pmod-bucket, then merge
    wb = Window.partitionBy(F.pmod("h", F.lit(32))).orderBy("h")
    cand = hashed.withColumn("rk_b", F.row_number().over(wb)).filter(
        F.col("rk_b") <= 64
    )
    merged = cand.agg(
        F.slice(
            F.sort_array(F.collect_list(F.struct("h", "in_a", "in_b"))), 1, 64
        ).alias("sk"),
    )
    exact = hashed.agg(
        F.sum("in_a").cast("bigint").alias("exact_a"),
        F.sum("in_b").cast("bigint").alias("exact_b"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("bigint").alias("exact_intersection"),
        F.count("*").cast("bigint").alias("exact_union"),
    )
    # try_element_at: under ANSI mode (Spark 4 default) element_at
    # throws INVALID_ARRAY_INDEX when the corpus yields < 64 distinct
    # hashes; the oracle's CASE WHEN rk = 64 returns NULL there, so
    # match that NULL semantic instead of crashing on tiny inputs.
    kth = F.try_element_at("sk", F.lit(64)).getField("h")
    matches = F.size(
        F.filter("sk", lambda x: (x.getField("in_a") == 1) & (x.getField("in_b") == 1))
    )
    est_union = F.floor(F.lit(63.0) * F.lit(1152921504606846976) / kth)
    return (
        exact.crossJoin(F.broadcast(merged))
        .select(
            "exact_a",
            "exact_b",
            "exact_intersection",
            "exact_union",
            est_union.cast("bigint").alias("est_union"),
            F.round(matches / F.lit(64.0), 4).alias("jaccard_est"),
            F.floor(matches / F.lit(64.0) * est_union)
            .cast("bigint")
            .alias("est_intersection"),
        )
    )


@register(
    "mv_join_incremental",
    oracle="""
    SELECT o_orderkey, c_name, c_mktsegment,
           round(o_totalprice, 2) AS o_totalprice
    FROM orders JOIN customer ON c_custkey = o_custkey
    WHERE o_orderdate >= timestamp '2001-01-01'
    """,
)
def mv_join_incremental(spark, sf_dir):
    """Incremental maintenance of a JOIN view (delta-join algebra):
    the standing view V = orders ⋈ customer is refreshed for a batch
    of NEW orders as ΔV = Δorders ⋈ customer — the dimension is
    probed only for the delta, history is never re-joined.

    This is the join half of IVM (mv_incremental is the aggregate
    half): for an insert-only fact, ΔV = ΔA ⋈ B exactly; with
    dimension updates the full algebra adds A ⋈ ΔB ∪ ΔA ⋈ ΔB — the
    same plan shape, noted here for parity.  The stored view is a
    parquet target appended transactionally; the oracle recomputes
    the WHOLE view over the 2001+ window from scratch, so the hash
    match proves base-view ⊎ delta-join == full join — the IVM
    invariant itself.

    Scale: refresh cost is O(|Δ|) + one broadcast of the dim (or a
    key-partitioned probe when the dim is large); a nightly 100 TB
    pipeline re-joins gigabytes, not the accumulated petabytes.
    """
    import os as _os

    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "2001-01-01"
    )
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )

    def joined(o):
        return o.join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey")).select(
            "o_orderkey",
            "c_name",
            "c_mktsegment",
            F.round("o_totalprice", 2).alias("o_totalprice"),
        )

    split = "2001-06-01"
    path = _os.path.join(SCRATCH, "mv_join_base")
    # the standing view: history already joined and stored
    joined(orders.filter(F.col("o_orderdate") < split)).write.mode(
        "overwrite"
    ).parquet(path)
    base = spark.read.parquet(path)
    # refresh: ONLY the delta touches the join
    delta = joined(orders.filter(F.col("o_orderdate") >= split))
    return base.unionByName(delta)


@register(
    "agg_count_min_sketch",
    oracle="""
    WITH rows_d AS (SELECT unnest(generate_series(0, 3)) AS i),
    hashed AS (
        SELECT e.user_id, d.i,
               cast(concat('0x', substr(md5(concat(cast(d.i AS varchar), ':',
                      cast(e.user_id AS varchar))), 1, 15)) AS bigint) % 32 AS b
        FROM events e CROSS JOIN rows_d d
    ),
    counters AS (
        SELECT i, b, count(*) AS n FROM hashed GROUP BY 1, 2
    ),
    top_users AS (
        SELECT user_id, count(*) AS exact_n
        FROM events GROUP BY 1
        ORDER BY exact_n DESC, user_id LIMIT 10
    ),
    probes AS (
        SELECT t.user_id, t.exact_n, d.i,
               cast(concat('0x', substr(md5(concat(cast(d.i AS varchar), ':',
                      cast(t.user_id AS varchar))), 1, 15)) AS bigint) % 32 AS b
        FROM top_users t CROSS JOIN rows_d d
    )
    SELECT p.user_id, cast(p.exact_n AS bigint) AS exact_n,
           cast(min(c.n) AS bigint) AS cms_est
    FROM probes p JOIN counters c ON c.i = p.i AND c.b = p.b
    GROUP BY 1, 2
    """,
)
def agg_count_min_sketch(spark, sf_dir):
    """Count-Min Sketch (d=4 hash rows × w=32 buckets): point
    frequency estimates for the 10 heaviest users from a FIXED
    128-counter summary — the mergeable sketch that answers "how
    often did key X occur" over a 100 TB stream without a per-key
    counter table.

    Counter build: each row increments one bucket per hash row —
    expressed as a 4-way explode + ONE map-side-combined groupBy, so
    the shuffle carries at most d×w=128 partial counters per
    partition regardless of row count (the CMS merge property:
    sketches of partitions add element-wise).  Estimate: min over
    the d counters each probe key hashes into — ≥ exact always
    (one-sided error), which the result exposes by carrying exact_n
    alongside.  All hashes are the md5→bigint trick: deterministic,
    engine-identical, no seeded RNG to coordinate.
    """
    # t_fanout: the 4-way explode + md5 chain is CPU-bound, and a
    # small parquet is one scan task — fan out so the counter build
    # parallelizes (no-op at real scale, same gate as the llm keys)
    ev = t_fanout(spark, sf_dir, "events").select("user_id")
    d4 = F.array(*[F.lit(i) for i in range(4)])

    # bucket expression over the (i, user_id) columns in scope
    bucket = (
        F.expr(
            "cast(conv(substring(md5(concat(cast(i AS string), ':', "
            "cast(user_id AS string))), 1, 15), 16, 10) AS bigint)"
        )
        % 32
    )

    long = ev.select("user_id", F.explode(d4).alias("i"))
    counters = (
        long.withColumn("b", bucket)
        .groupBy("i", "b")
        .agg(F.count("*").alias("n"))
    )
    top = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "user_id")
        .limit(10)
    )
    probes = top.select("user_id", "exact_n", F.explode(d4).alias("i")).withColumn(
        "b", bucket
    )
    return (
        probes.join(F.broadcast(counters), ["i", "b"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("n").cast("bigint").alias("cms_est"))
        .select("user_id", F.col("exact_n").cast("bigint").alias("exact_n"), "cms_est")
    )


@register(
    "agg_exact_median_twopass",
    oracle="""
    WITH v AS (SELECT l_extendedprice AS x FROM lineitem),
    stats AS (SELECT count(*) AS n_rows FROM v),
    kk AS (SELECT cast((n_rows + 1) // 2 AS bigint) AS k FROM stats),
    med AS (
        SELECT x AS median FROM (
            SELECT x, row_number() OVER (ORDER BY x) AS rn FROM v
        ), kk WHERE rn = k
    )
    SELECT round(m.median, 2) AS median,
           cast(s.n_rows AS bigint) AS n_rows,
           (SELECT cast(count(*) AS bigint) FROM v
            WHERE floor(x / 1000) = floor(m.median / 1000)) AS pass2_rows
    FROM med m, stats s
    """,
)
def agg_exact_median_twopass(spark, sf_dir):
    """EXACT median without a global sort — the two-pass rank-search
    that makes exact order statistics feasible at 100 TB: a full sort
    of the fact is O(n log n) ACROSS the cluster (rangepartition +
    per-task sort); this plan is two scans and two tiny shuffles.

    Pass 1: value-domain histogram (floor(x/1000) buckets) — ONE
    map-side-combined groupBy whose shuffle is |buckets| partial
    counts; a running-total window over the tiny histogram locates
    the bucket holding global rank k = ⌈n/2⌉ (lower median).  Pass 2:
    re-scan FILTERED to that one bucket (predicate pushed to the
    scan) and take the remaining offset as a partition-local
    TakeOrderedAndProject top-k — never a full sort, never more than
    one bucket's rows in flight.  pass2_rows is carried in the result
    so the reduction (n → one bucket) is visible.  The k-th smallest
    VALUE is tie-insensitive, so row_number nondeterminism inside
    equal values cannot change the answer (R2 satisfied vacuously).
    """
    from pyspark.sql import Window

    v = t(spark, sf_dir, "lineitem").select(F.col("l_extendedprice").alias("x"))
    # n_rows derives from the histogram (sum of bucket counts, exact
    # integers) — the separate count scan was a third full pass on a
    # two-pass algorithm (r15 audit).
    hist = (
        v.groupBy(F.floor(F.col("x") / 1000).alias("bkt"))
        .agg(F.count("*").alias("bn"))
        .persist()
    )
    stats = hist.agg(
        F.sum("bn").cast("bigint").alias("n_rows"),
    ).withColumn("k", ((F.col("n_rows") + 1) / 2).cast("bigint"))
    w_cum = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "bkt", "bn", F.sum("bn").over(w_cum).alias("cum")
    )
    target = (
        cum.crossJoin(F.broadcast(stats))
        .filter(F.col("cum") >= F.col("k"))
        .orderBy("bkt")
        .limit(1)
        .select(
            "bkt",
            (F.col("bn") - (F.col("cum") - F.col("k"))).alias("offset"),
            "n_rows",
        )
    )
    in_bucket = v.crossJoin(F.broadcast(target)).filter(
        F.floor(F.col("x") / 1000) == F.col("bkt")
    )
    # offset-th smallest within the ONE surviving bucket: the window
    # sorts |bucket| rows (n/|buckets| of the fact), never the fact —
    # the single-partition WindowExec here is over pass-2 rows only
    w_in = Window.orderBy("x")
    return (
        in_bucket.withColumn("rn", F.row_number().over(w_in))
        .withColumn("p2", F.count("*").over(Window.partitionBy(F.lit(1))))
        .filter(F.col("rn") == F.col("offset"))
        .select(
            F.round("x", 2).alias("median"),
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.col("p2").cast("bigint").alias("pass2_rows"),
        )
    )


@register(
    "agg_hll_oracle",
    oracle=f"""
    WITH du AS (
        SELECT DISTINCT event_type, user_id FROM events
    ),
    hashed AS (
        SELECT event_type, {_USER_HASH_DUCK} AS h
        FROM du
    ),
    regs AS (
        SELECT event_type, h % 64 AS bucket,
               max(CASE WHEN h // 64 = 0 THEN 55
                        ELSE 55 - length(bin(h // 64)) END) AS rho
        FROM hashed GROUP BY 1, 2
    ),
    spine AS (
        SELECT t.event_type, s.bucket
        FROM (SELECT DISTINCT event_type FROM events) t,
             (SELECT unnest(generate_series(0, 63)) AS bucket) s
    ),
    full_regs AS (
        SELECT sp.event_type, coalesce(r.rho, 0) AS rho
        FROM spine sp
        LEFT JOIN regs r ON r.event_type = sp.event_type AND r.bucket = sp.bucket
    ),
    summed AS (
        SELECT event_type,
               sum(cast(1 AS bigint) << (55 - rho)) AS int_sum,
               sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS v_empty
        FROM full_regs GROUP BY 1
    ),
    est AS (
        SELECT event_type, v_empty,
               0.709 * 4096.0 * 1152921504606846976.0 / 32.0 / int_sum AS e_raw
        FROM summed
    )
    SELECT e.event_type,
           (SELECT cast(count(*) AS bigint) FROM du d
            WHERE d.event_type = e.event_type) AS n_exact,
           cast(round(CASE WHEN e_raw <= 160 AND v_empty > 0
                           THEN 64.0 * ln(64.0 / v_empty)
                           ELSE e_raw END) AS bigint) AS hll_est
    FROM est e
    """,
)
def agg_hll_oracle(spark, sf_dir):
    """HyperLogLog with BIT-EXACT cross-engine arithmetic — the
    register harmonic mean Σ2^{-ρ} is computed as the INTEGER
    Σ2^{55-ρ} (a bigint shift — exact, order-independent, unlike a
    float sum whose rounding depends on partition order), divided out
    in double only at the very end.  This makes the classic
    "approximate" sketch fully oracle-checkable: same registers, same
    estimate, to the last bit, in Spark and DuckDB.

    Construction: 60-bit md5 hash → bucket = h mod 64, ρ = leading
    zeros of the remaining 54 bits + 1 via `55 - length(bin(w))` (bin
    is the msb-position primitive both engines share); per-bucket max
    ρ is ONE map-side-combined aggregate whose shuffle carries ≤64
    registers per partition per group — the mergeable-HLL property
    that lets 1000 executors sketch 100 TB and union by element-wise
    max.  Linear-counting correction (E ≤ 5m/2, V empty registers)
    applies per the original paper; n_exact is carried alongside so
    the error is inspectable (agg_kmv_sketch's contract, different
    sketch).
    """
    # du feeds the register build, the exact-count comparison AND (via
    # its type projection) the register spine — persisted so the
    # events scan + distinct shuffle run once, not three times (r15).
    du = (
        t(spark, sf_dir, "events").select("event_type", "user_id").distinct().persist()
    )
    hashed = du.select("event_type", F.expr(_USER_HASH_SPARK).alias("h"))
    # h // 64 in exact integer arithmetic (h >= 0).  Double division
    # loses bits beyond the 53-bit mantissa on a 60-bit hash and can
    # round w across a power-of-two boundary, flipping rho by 1 vs the
    # oracle's integer h // 64 — shiftright keeps it bit-exact.
    w = F.shiftright(F.col("h"), 6)
    regs = hashed.select(
        "event_type",
        (F.col("h") % 64).alias("bucket"),
        F.when(w == 0, 55).otherwise(55 - F.length(F.bin(w))).alias("rho"),
    ).groupBy("event_type", "bucket").agg(F.max("rho").alias("rho"))
    spine = (
        du.select("event_type")
        .distinct()
        .select("event_type", F.explode(F.sequence(F.lit(0), F.lit(63))).alias("bucket"))
    )
    full_regs = spine.join(regs, ["event_type", "bucket"], "left").select(
        "event_type", F.coalesce(F.col("rho"), F.lit(0)).alias("rho")
    )
    summed = full_regs.groupBy("event_type").agg(
        F.sum(F.expr("shiftleft(cast(1 AS bigint), 55 - rho)")).alias("int_sum"),
        F.sum(F.when(F.col("rho") == 0, 1).otherwise(0)).alias("v_empty"),
    )
    e_raw = (
        F.lit(0.709) * 4096.0 * F.lit(1152921504606846976.0) / 32.0 / F.col("int_sum")
    )
    exact = du.groupBy("event_type").agg(F.count("*").cast("bigint").alias("n_exact"))
    return (
        summed.join(exact, "event_type")
        .select(
            "event_type",
            "n_exact",
            F.round(
                F.when(
                    (e_raw <= 160) & (F.col("v_empty") > 0),
                    F.lit(64.0) * F.log(64.0 / F.col("v_empty")),
                ).otherwise(e_raw)
            )
            .cast("bigint")
            .alias("hll_est"),
        )
    )


@register(
    "agg_exact_p99_grouped",
    oracle="""
    WITH v AS (SELECT event_type, value AS x FROM events),
    stats AS (
      SELECT event_type, count(*) AS n_rows,
             cast(ceil(0.99 * count(*)) AS bigint) AS k
      FROM v GROUP BY 1
    ),
    ranked AS (
      SELECT event_type, x,
             row_number() OVER (PARTITION BY event_type ORDER BY x) AS rn
      FROM v
    )
    SELECT r.event_type, round(r.x, 2) AS p99,
           cast(s.n_rows AS bigint) AS n_rows,
           (SELECT cast(count(*) AS bigint) FROM v
            WHERE v.event_type = r.event_type
              AND floor(v.x) = floor(r.x)) AS pass2_rows
    FROM ranked r JOIN stats s ON s.event_type = r.event_type
    WHERE r.rn = s.k
    """,
)
def agg_exact_p99_grouped(spark, sf_dir):
    """GROUPED exact p99 by per-group rank search — the tail-latency
    SLO query (exact, not approx_percentile) done without sorting any
    group: per-(group, unit-bucket) histogram counts collapse
    map-side; a cumulative window over the TINY histogram locates
    each group's rank-⌈0.99n⌉ bucket; pass 2 re-scans only the
    (group, target-bucket) slices — every shuffle carries histogram
    rows or one bucket's values, never the fact sorted.

    This is agg_exact_median_twopass generalized to per-group targets
    (one target row per group, joined back on the group key — all
    relational, no per-group driver loop), and it parallelizes ACROSS
    groups where a naive per-group sort serializes within them.  The
    k-th smallest VALUE is tie-insensitive (R2 vacuous); pass2_rows
    carried per group so the reduction is inspectable.
    """
    from pyspark.sql import Window

    v = t(spark, sf_dir, "events").select("event_type", F.col("value").alias("x"))
    # The per-group totals derive from the histogram (sum of bucket
    # counts == count of rows, exact integers), so pass 1 is ONE scan
    # feeding both stats and the cumulative window — the separate
    # stats scan was a third full pass (r15 audit).
    hist = (
        v.groupBy("event_type", F.floor("x").alias("bkt"))
        .agg(F.count("*").alias("bn"))
        .persist()
    )
    stats = hist.groupBy("event_type").agg(
        F.sum("bn").cast("bigint").alias("n_rows"),
        F.ceil(0.99 * F.sum("bn")).cast("bigint").alias("k"),
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.select("event_type", "bkt", "bn", F.sum("bn").over(w_cum).alias("cum"))
    w_first = Window.partitionBy("event_type").orderBy("bkt")
    target = (
        cum.join(stats, "event_type")
        .filter(F.col("cum") >= F.col("k"))
        .withColumn("rn", F.row_number().over(w_first))
        .filter(F.col("rn") == 1)
        .select(
            F.col("event_type").alias("t_type"),
            "bkt",
            (F.col("bn") - (F.col("cum") - F.col("k"))).alias("offset"),
            "n_rows",
        )
    )
    in_bucket = v.join(
        F.broadcast(target),
        (F.col("t_type") == F.col("event_type")) & (F.floor("x") == F.col("bkt")),
    )
    w_in = Window.partitionBy("event_type").orderBy("x")
    w_cnt = Window.partitionBy("event_type")
    return (
        in_bucket.withColumn("rn", F.row_number().over(w_in))
        .withColumn("p2", F.count("*").over(w_cnt))
        .filter(F.col("rn") == F.col("offset"))
        .select(
            "event_type",
            F.round("x", 2).alias("p99"),
            "n_rows",
            F.col("p2").cast("bigint").alias("pass2_rows"),
        )
    )


@register(
    "agg_compound_product",
    oracle=f"""
    WITH daily AS (
      {type_buckets_sql(86400, "day", "sum(value) AS sv")}
    ),
    rates AS (
      SELECT event_type, day,
             round(ln(1.0 + sv / 100000.0), 10) AS lr
      FROM daily
    )
    SELECT event_type,
           cast(count(*) AS bigint) AS n_days,
           round(exp(sum(lr)), 4) AS compounded
    FROM rates
    GROUP BY event_type
    """,
)
def agg_compound_product(spark, sf_dir):
    """Multiplicative (PRODUCT) aggregation — compounded growth
    Π(1+rᵢ) per series, the finance/epidemiology primitive SQL
    engines lack a portable aggregate for: expressed as
    exp(Σ ln(1+r)), which turns the order-sensitive float PRODUCT
    into a SUM the partial-aggregation machinery handles (map-side
    combine, any grouping) — and makes it decomposable, so the same
    expression works in incremental refresh.

    Determinism: each ln term is rounded to 10 dp BEFORE the sum
    (the per-element round kills cross-engine libm last-ulp drift at
    its source — R1 applied to transcendentals, the
    raster_band_math discipline), the compounded result to 4 dp
    after the exp.  Daily partial sums bound the term count and
    magnitude; one shuffle, |types|×|days| rows.
    """
    daily = type_buckets(spark, sf_dir, 86400, "day", F.sum("value").alias("sv"))
    rates = daily.select(
        "event_type",
        F.round(F.log(1.0 + F.col("sv") / 100000.0), 10).alias("lr"),
    )
    return rates.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.round(F.exp(F.sum("lr")), 4).alias("compounded"),
    )

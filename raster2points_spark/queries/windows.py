"""§2.6 window functions.

One shuffle per distinct (partitionBy, orderBy) spec; every orderBy
carries a total-order tiebreak (SURVEY §7 R2) so ranks are
deterministic across engines.  Nullable lag/lead outputs are
coalesced to -1 so both engines emit non-null int64 (pandas would
silently promote nullable ints to float64 and break value hashing).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from raster2points_spark.registry import register
from raster2points_spark.queries._util import TSEC, t, type_buckets, type_buckets_sql, unix_secs


@register(
    "win_rank",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           row_number() OVER w AS rn,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           ntile(4) OVER w AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def win_rank(spark, sf_dir):
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


@register(
    "win_topk_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
)
def win_topk_group(spark, sf_dir):
    """Top-3 orders per customer — the grouped-top-k idiom: one
    shuffle by key, rank, filter.  Never a per-group sort+collect."""
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        t(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
    )


@register(
    "win_lag_lead",
    oracle=f"""
    WITH ev AS (SELECT event_id, user_id, {TSEC} AS tsec FROM events)
    SELECT event_id, user_id, tsec,
           coalesce(lag(tsec) OVER w, -1) AS prev_tsec,
           coalesce(lead(tsec) OVER w, -1) AS next_tsec,
           coalesce(tsec - lag(tsec) OVER w, -1) AS gap_sec
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id)
    """,
)
def win_lag_lead(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select(
        "event_id", "user_id", unix_secs(F.col("ts")).alias("tsec")
    )
    w = Window.partitionBy("user_id").orderBy("tsec", "event_id")
    lag = F.lag("tsec").over(w)
    return ev.select(
        "event_id",
        "user_id",
        "tsec",
        F.coalesce(lag, F.lit(-1)).alias("prev_tsec"),
        F.coalesce(F.lead("tsec").over(w), F.lit(-1)).alias("next_tsec"),
        F.coalesce(F.col("tsec") - lag, F.lit(-1)).alias("gap_sec"),
    )


@register(
    "win_running",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
    FROM orders
    """,
)
def win_running(spark, sf_dir):
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


@register(
    "win_moving",
    oracle=f"""
    WITH ev AS (SELECT event_id, user_id, value, {TSEC} AS tsec FROM events)
    SELECT event_id, user_id, tsec,
           round(avg(value) OVER (
               PARTITION BY user_id ORDER BY tsec
               RANGE BETWEEN 600 PRECEDING AND CURRENT ROW), 4) AS avg_10min
    FROM ev
    """,
)
def win_moving(spark, sf_dir):
    """Time-based moving average: RANGE frame over epoch seconds —
    peers at equal timestamps share the frame, so no tiebreak is
    needed for determinism."""
    ev = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", unix_secs(F.col("ts")).alias("tsec")
    )
    w = Window.partitionBy("user_id").orderBy("tsec").rangeBetween(-600, Window.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        "tsec",
        F.round(F.avg("value").over(w), 4).alias("avg_10min"),
    )


@register(
    "win_analytic",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           first_value(o_orderkey) OVER w AS cheapest_key,
           last_value(o_orderkey) OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS priciest_key,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
)
def win_analytic(spark, sf_dir):
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.first("o_orderkey").over(w).alias("cheapest_key"),
        F.last("o_orderkey").over(w_full).alias("priciest_key"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@register(
    "scd2_build",
    oracle=f"""
    WITH ev AS (
        SELECT event_id, user_id, value, {TSEC} AS tsec FROM events
        WHERE event_type = 'purchase'
    ),
    ver AS (
        SELECT user_id, event_id, round(value, 2) AS value,
               tsec AS valid_from,
               lead(tsec) OVER (PARTITION BY user_id ORDER BY tsec, event_id)
                   AS valid_to
        FROM ev
    )
    SELECT user_id,
           count(*) AS n_versions,
           cast(sum(valid_to - valid_from) AS bigint) AS closed_seconds,
           count(*) FILTER (WHERE valid_to IS NULL) AS n_current,
           round(sum(value) FILTER (WHERE valid_to IS NULL), 2) AS current_value
    FROM ver GROUP BY user_id
    """,
)
def scd2_build(spark, sf_dir):
    """Slowly-Changing-Dimension Type-2 build: turn a change log into
    versioned rows with [valid_from, valid_to) intervals — valid_to is
    the NEXT change's timestamp (lead), NULL marks the current
    version.  This is the standard warehouse history-tracking
    transform (Kimball SCD2), here over each user's purchase stream.

    Scale shape: one shuffle on the dimension key feeds the lead()
    window AND the verification rollup (same partitioning, no second
    exchange); interval arithmetic is per-row.  The rollup checks
    version counts, total closed-interval seconds, and that exactly
    one open (current) version exists per key.
    """
    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.round("value", 2).alias("value"),
            unix_secs(F.col("ts")).alias("tsec"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("tsec", "event_id")
    ver = ev.select(
        "user_id",
        "event_id",
        "value",
        F.col("tsec").alias("valid_from"),
        F.lead("tsec").over(w).alias("valid_to"),
    )
    cur = F.col("valid_to").isNull()
    return ver.groupBy("user_id").agg(
        F.count("*").alias("n_versions"),
        F.sum(F.col("valid_to") - F.col("valid_from")).cast("bigint").alias("closed_seconds"),
        F.count(F.when(cur, 1)).alias("n_current"),
        F.round(F.sum(F.when(cur, F.col("value"))), 2).alias("current_value"),
    )


@register(
    "win_ntile",
    oracle="""
    WITH b AS (
        SELECT c_mktsegment, c_custkey,
               ntile(10) OVER (PARTITION BY c_mktsegment
                               ORDER BY c_acctbal, c_custkey) AS decile,
               c_acctbal
        FROM customer
    )
    SELECT c_mktsegment, decile, count(*) AS n,
           round(min(c_acctbal), 2) AS lo, round(max(c_acctbal), 2) AS hi
    FROM b GROUP BY 1, 2
    """,
)
def win_ntile(spark, sf_dir):
    """Equal-frequency binning (deciles per segment) via ntile — the
    quantile-bucketing primitive behind stratified sampling and
    feature binning; total-order tiebreak on the key (R2) makes bin
    membership deterministic, so the per-bin rollup hash-matches."""
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    b = t(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_custkey",
        F.ntile(10).over(w).alias("decile"),
        "c_acctbal",
    )
    return b.groupBy("c_mktsegment", "decile").agg(
        F.count("*").alias("n"),
        F.round(F.min("c_acctbal"), 2).alias("lo"),
        F.round(F.max("c_acctbal"), 2).alias("hi"),
    )


@register(
    "win_rolling_z",
    oracle=f"""
    WITH ev AS (SELECT event_id, user_id, value, {TSEC} AS tsec FROM events)
    SELECT event_id, user_id, tsec,
           round((value - avg(value) OVER w) / stddev_samp(value) OVER w, 3) AS z
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY tsec
                 RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW)
    QUALIFY count(*) OVER w >= 5 AND stddev_samp(value) OVER w > 0
    """,
)
def win_rolling_z(spark, sf_dir):
    """Rolling z-score over a trailing 24-hour RANGE frame per user —
    the streaming-style anomaly score computed in batch: each event
    scored against ITS OWN trailing context, not the global moments
    (outlier_zscore) or the static per-type MAD (anomaly_mad).

    One user_id shuffle serves all three window aggregates (avg, std,
    count share the frame); the n>=5 gate drops cold-start rows where
    the trailing std is meaningless.  RANGE frames make peers at equal
    timestamps share the frame — no tiebreak needed (R2 note).
    """
    ev = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", unix_secs(F.col("ts")).alias("tsec")
    )
    w = Window.partitionBy("user_id").orderBy("tsec").rangeBetween(-86400, Window.currentRow)
    scored = ev.select(
        "event_id",
        "user_id",
        "tsec",
        F.round((F.col("value") - F.avg("value").over(w)) / F.stddev_samp("value").over(w), 3).alias("z"),
        F.count("*").over(w).alias("n"),
        F.stddev_samp("value").over(w).alias("sd"),
    )
    return scored.filter((F.col("n") >= 5) & (F.col("sd") > 0)).select(
        "event_id", "user_id", "tsec", "z"
    )


@register(
    "win_ratio_share",
    oracle="""
    SELECT o_orderkey, o_custkey,
           round(o_totalprice, 2) AS o_totalprice,
           round(o_totalprice / sum(o_totalprice) OVER (PARTITION BY o_custkey), 6)
             AS share_of_customer
    FROM orders
    """,
)
def win_ratio_share(spark, sf_dir):
    """Ratio-to-report: each order's share of its customer's lifetime
    spend — the windowed normalization behind contribution and
    concentration reports.

    One hash exchange on o_custkey; the partition total is an
    unbounded-frame window aggregate sharing that exchange (no
    separate groupBy+join round trip).
    """
    w = Window.partitionBy("o_custkey")
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        F.round(F.col("o_totalprice") / F.sum("o_totalprice").over(w), 6).alias(
            "share_of_customer"
        ),
    )


@register(
    "scd2_asof_lookup",
    oracle=f"""
    WITH ev AS (
      SELECT event_id, user_id, round(value, 2) AS value, {TSEC} AS tsec
      FROM events WHERE event_type = 'purchase'
    ), ver AS (
      SELECT user_id, event_id, value,
             tsec AS valid_from,
             lead(tsec) OVER (PARTITION BY user_id ORDER BY tsec, event_id) AS valid_to
      FROM ev
    )
    SELECT user_id, event_id AS version_event, value,
           valid_from, coalesce(valid_to, -1) AS valid_to
    FROM ver
    WHERE valid_from <= 1705795200
      AND (valid_to IS NULL OR valid_to > 1705795200)
    """,
)
def scd2_asof_lookup(spark, sf_dir):
    """Point-in-time (time-travel) lookup against the SCD2 history:
    the state of every user AS OF 2024-01-21 00:00 UTC — the query an
    SCD2 table exists to answer (reproduce any past report without
    snapshots).

    Same single user_id shuffle as scd2_build; the as-of predicate
    ``valid_from <= T < valid_to`` is a per-row filter over the
    versioned relation (at 100 TB a date-partitioned/clustered layout
    additionally prunes it — see sink_partitioned/sink_zorder).  At
    most one version per key survives by construction.
    """
    as_of = 1705795200  # 2024-01-21 00:00:00 UTC, mid-corpus
    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.round("value", 2).alias("value"),
            unix_secs(F.col("ts")).alias("tsec"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("tsec", "event_id")
    ver = ev.select(
        "user_id",
        F.col("event_id").alias("version_event"),
        "value",
        F.col("tsec").alias("valid_from"),
        F.lead("tsec").over(w).alias("valid_to"),
    )
    return ver.filter(
        (F.col("valid_from") <= as_of)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > as_of))
    ).select(
        "user_id",
        "version_event",
        "value",
        "valid_from",
        F.coalesce("valid_to", F.lit(-1)).alias("valid_to"),
    )


@register(
    "win_count_distinct",
    oracle=f"""
    WITH s AS (
      SELECT user_id, event_id, event_type, {TSEC} AS tsec,
             CASE WHEN row_number() OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY {TSEC}, event_id) = 1
                  THEN 1 ELSE 0 END AS first_seen
      FROM events
    )
    SELECT user_id, event_id,
           cast(sum(first_seen) OVER (
               PARTITION BY user_id ORDER BY tsec, event_id
               ROWS UNBOUNDED PRECEDING) AS bigint) AS distinct_types_so_far
    FROM s
    """,
)
def win_count_distinct(spark, sf_dir):
    """Running DISTINCT count over a window — the surface SQL engines
    write as count(DISTINCT x) OVER (...) and Spark does not support
    directly; the idiomatic translation is size(collect_set() OVER
    (growing frame)).

    The oracle states the engine-neutral decomposition (first-occurrence
    flag via row_number, then a running sum), which is also the SHUFFLE-
    CHEAPER plan at scale: collect_set buffers up to |distinct| values
    per row in the window state, while the flag formulation carries one
    bit — both windows here partition on user_id, one exchange total.
    Matching the two formulations proves the set semantics agree.
    """
    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", unix_secs(F.col("ts")).alias("tsec")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("tsec", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.size(F.collect_set("event_type").over(w))
        .cast("bigint")
        .alias("distinct_types_so_far"),
    )


@register(
    "win_locf",
    oracle="""
    WITH sparse AS (
      SELECT o_custkey, o_orderkey, o_orderdate,
             CASE WHEN o_orderkey % 5 = 0 THEN round(o_totalprice, 2) END AS obs
      FROM orders
    )
    SELECT o_custkey, o_orderkey, obs,
           coalesce(last_value(obs IGNORE NULLS) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1.0) AS locf,
           coalesce(first_value(obs IGNORE NULLS) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING), -1.0) AS nocb
    FROM sparse
    """,
)
def win_locf(spark, sf_dir):
    """Missing-value imputation by observation carry: LOCF (last
    observation carried forward) and NOCB (next observation carried
    backward) via IGNORE-NULLS window functions — the standard
    sensor/price gap-fill that ts_gapfill's zero-fill can't express.

    Every 5th order is an "observation", the rest are gaps; `last(...,
    ignorenulls=True)` over a growing frame carries it forward and
    `first(..., ignorenulls=True)` over the mirror frame carries it
    backward.  Both directions reuse ONE (custkey, orderdate) sort —
    two frames over the same window spec is still a single exchange +
    sort in the plan.  Leading/trailing all-null edges are coalesced
    to -1 so both engines emit non-null doubles (nullable-float
    hashing hazard).  At 100 TB this is one shuffle keyed by the
    series id — per-series state never leaves its partition.
    """
    sparse = t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.when(
            F.col("o_orderkey") % 5 == 0, F.round("o_totalprice", 2)
        ).alias("obs"),
    )
    fwd = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bwd = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    return sparse.select(
        "o_custkey",
        "o_orderkey",
        "obs",
        F.coalesce(F.last("obs", ignorenulls=True).over(fwd), F.lit(-1.0)).alias(
            "locf"
        ),
        F.coalesce(F.first("obs", ignorenulls=True).over(bwd), F.lit(-1.0)).alias(
            "nocb"
        ),
    )


@register(
    "win_dist_rank",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           round(nth_value(c_acctbal, 3) OVER (
               PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ), 2) AS third_bal
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def win_dist_rank(spark, sf_dir):
    """Distribution-rank window surface: percent_rank, cume_dist and
    nth_value — the percentile-position family win_rank's counting
    ranks don't cover (SQL-standard spellings of "what fraction of the
    segment is above this balance" and "the segment's 3rd-highest
    balance on every row").

    nth_value needs the FULL frame (unbounded both directions) to see
    the 3rd row from every position; percent_rank/cume_dist use the
    default ordering frame.  All three share ONE (segment, balance)
    sort — a single exchange in the plan.  Ranks are exact rationals
    of row positions; rounded at 6 dp only to keep double formatting
    engine-neutral.
    """
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), "c_custkey"
    )
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.round(F.nth_value("c_acctbal", 3).over(wf), 2).alias("third_bal"),
    )


@register(
    "win_range_frame",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_id,
             {TSEC} AS tsec,
             round(value, 4) AS v
      FROM events
    )
    SELECT user_id, event_id, tsec,
           cast(count(*) OVER w AS bigint) AS n_1h,
           round(sum(v) OVER w, 4) AS sum_1h
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY tsec
                 RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
    """,
)
def win_range_frame(spark, sf_dir):
    """Time-interval (RANGE) window frame — trailing 1-hour per-user
    event count and value sum.  win_moving's ROWS frame counts a fixed
    NUMBER of rows; real monitoring/rate-limit logic needs a fixed
    TIME span, which only a RANGE frame on the epoch axis expresses:
    the frame holds every peer row within [t-3599, t] regardless of
    how many there are.

    Peer semantics make this deterministic where ROWS is not: rows
    sharing a timestamp get the IDENTICAL frame (all peers included),
    so no tiebreak is needed on the ORDER BY at all — the frame is a
    function of tsec alone.  One user_id exchange + one sort serves
    both aggregates.  Scale: state per row is the in-range suffix of
    one user's events — bounded by per-user event rate × 1 h, not by
    history length.
    """
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        unix_secs(F.col("ts")).alias("tsec"),
        F.round("value", 4).alias("v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("tsec")
        .rangeBetween(-3599, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        "tsec",
        F.count("*").over(w).alias("n_1h"),
        F.round(F.sum("v").over(w), 4).alias("sum_1h"),
    )


@register(
    "win_groups_frame",
    oracle=f"""
    WITH daily AS (
      {type_buckets_sql(86400, "day", "cast(count(*) AS bigint) AS n, sum(value) AS sv")}
    ),
    ranked AS (
      SELECT *, dense_rank() OVER (PARTITION BY event_type ORDER BY n) AS dr
      FROM daily
    ),
    peer AS (
      SELECT event_type, dr, sum(sv) AS peer_sv
      FROM ranked GROUP BY 1, 2
    ),
    rolled AS (
      SELECT event_type, dr,
             sum(peer_sv) OVER (
               PARTITION BY event_type ORDER BY dr
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
             ) AS groups_sum
      FROM peer
    )
    SELECT r.event_type, r.day, r.n,
           round(d.groups_sum, 2) AS groups_frame_sum
    FROM ranked r JOIN rolled d
      ON d.event_type = r.event_type AND d.dr = r.dr
    """,
)
def win_groups_frame(spark, sf_dir):
    """SQL:2016 GROUPS window frame — `GROUPS BETWEEN 2 PRECEDING AND
    CURRENT ROW` (this peer group and the two preceding DISTINCT
    order values) — which NEITHER Spark nor DuckDB implements, so the
    engine delivers it by construction: dense_rank assigns peer-group
    ids, the frame aggregate collapses to the PEER-GROUP relation
    (|distinct order values| rows — a ROWS frame over groups IS the
    GROUPS frame), and one equi-join fans the result back to rows.

    Unlike a RANGE frame (which needs a numeric offset) or a ROWS
    frame (whose result depends on arbitrary tie order — banned by
    R2), the GROUPS result is a pure function of the peer partition —
    deterministic under ties by construction.  Scale: the windowed
    relation is the COLLAPSED peer table, not the fact; both
    window and join share the event_type hash partitioning.
    """
    daily = type_buckets(
        spark,
        sf_dir,
        86400,
        "day",
        F.count("*").cast("bigint").alias("n"),
        F.sum("value").alias("sv"),
    )
    ranked = daily.withColumn(
        "dr", F.dense_rank().over(Window.partitionBy("event_type").orderBy("n"))
    )
    peer = ranked.groupBy("event_type", "dr").agg(F.sum("sv").alias("peer_sv"))
    w_roll = (
        Window.partitionBy("event_type").orderBy("dr").rowsBetween(-2, 0)
    )
    rolled = peer.select(
        F.col("event_type").alias("r_type"),
        F.col("dr").alias("r_dr"),
        F.sum("peer_sv").over(w_roll).alias("groups_sum"),
    )
    return (
        ranked.join(
            rolled,
            (F.col("r_type") == F.col("event_type")) & (F.col("r_dr") == F.col("dr")),
        )
        .select(
            "event_type",
            "day",
            "n",
            F.round("groups_sum", 2).alias("groups_frame_sum"),
        )
    )

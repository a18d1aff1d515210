"""Behavioral / event-sequence analytics operators.

Beyond-reference keys ([N] in SURVEY §2): the clickstream analytics a
product/training-data team runs over an event log — sessionization,
cohort retention, conversion funnels, transition matrices, and
gaps-and-islands run-length encoding.  The reference
(wri/raster2points) has none of these; they extend the north-star
mandate the same way §2.9 does.

Scale notes (the shapes that survive 100 TB of events):
- Every operator here shuffles the event stream AT MOST ONCE, keyed on
  ``user_id``.  Window functions partitioned by ``user_id`` and the
  follow-up ``groupBy(user_id, …)`` share that one exchange: Spark's
  ``HashPartitioning(user_id)`` satisfies
  ``ClusteredDistribution(user_id, session_no)`` (partition keys are a
  subset of the grouping keys), so EnsureRequirements inserts no
  second shuffle — asserted in tests/test_plans.py.
- Per-user derived tables (first-touch week, funnel stage times) are
  |users| rows, orders of magnitude smaller than the event stream;
  joins back to events stay keyed on user_id (no new shuffle key) and
  AQE runtime-broadcasts them when small.
- Final rollups (cohort grid, transition matrix, run-length rows) are
  map-side-combined hash aggregates whose output cardinality is
  bounded by |cohorts|x|weeks| / |types|^2 — tiny regardless of input
  scale.

Determinism (SURVEY §7): timestamps compared at whole-second
granularity via ``unix_secs`` (R3); every window order carries the
``(tsec, event_id)`` total-order tiebreak (R2); session gap threshold
is 1800 s in both engines.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from raster2points_spark.registry import register
from raster2points_spark.queries._util import (
    SESSION_CTES,
    SESSION_GAP_S,
    TSEC,
    bucket,
    bucket_sql,
    bucketed_prefix_sums,
    t,
    unix_secs,
)

_WEEK_S = 7 * 86400


def _ev(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return ev.withColumn("tsec", unix_secs(F.col("ts")))


def _sessions(spark, sf_dir):
    """Events with their per-user ``session_no`` (gaps-and-islands at
    a 30-minute gap): the lag flag and its running sum share the one
    user_id exchange.  DuckDB twin: ``SESSION_CTES``."""
    w = Window.partitionBy("user_id").orderBy("tsec", "event_id")
    flagged = _ev(spark, sf_dir).withColumn(
        "new_s",
        F.when(
            (F.col("tsec") - F.lag("tsec").over(w) > SESSION_GAP_S)
            | F.lag("tsec").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    return flagged.withColumn(
        "session_no", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )


def _user_order():
    """Each user's events in (epoch second, event_id) order."""
    return Window.partitionBy("user_id").orderBy(unix_secs(F.col("ts")), F.col("event_id"))


@register(
    "sessionize_batch",
    oracle=f"""
    WITH {SESSION_CTES}
    SELECT user_id, session_no,
           min(tsec) AS session_start,
           max(tsec) AS session_end,
           max(tsec) - min(tsec) AS duration_s,
           count(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_no
    """,
)
def sessionize_batch(spark, sf_dir):
    """Batch sessionization: split each user's event stream into
    sessions at >30-minute gaps (the gaps-and-islands pattern every
    product-analytics warehouse runs nightly).

    ONE shuffle total: the lag window, the cumulative-sum window, and
    the final groupBy are all keyed on user_id (the group key's
    prefix), so Spark reuses the single hash exchange for all three —
    at 100 TB the event stream moves over the network exactly once.
    """
    return _sessions(spark, sf_dir).groupBy("user_id", "session_no").agg(
        F.min("tsec").alias("session_start"),
        F.max("tsec").alias("session_end"),
        (F.max("tsec") - F.min("tsec")).alias("duration_s"),
        F.count("*").alias("n_events"),
    )


@register(
    "cohort_retention",
    oracle=f"""
    WITH wk AS (
      SELECT user_id, {bucket_sql(_WEEK_S)} AS week FROM events
    ), first_touch AS (
      SELECT user_id, min(week) AS cohort_week FROM wk GROUP BY user_id
    )
    SELECT f.cohort_week,
           w.week - f.cohort_week AS week_offset,
           count(DISTINCT w.user_id) AS active_users
    FROM wk w JOIN first_touch f ON w.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def cohort_retention(spark, sf_dir):
    """Cohort-retention grid: users bucketed by first-seen week, then
    distinct-active counts per (cohort, weeks-since-signup) cell.

    first_touch is a |users|-row aggregate (map-side combined on
    user_id); the join back to the weekly activity set stays keyed on
    user_id and AQE runtime-broadcasts first_touch when it is small.
    The final cell grid is |cohorts|x|offsets| — tiny at any scale.
    """
    wk = t(spark, sf_dir, "events").select("user_id", bucket(_WEEK_S).alias("week"))
    first_touch = wk.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        wk.join(first_touch, "user_id")
        .groupBy(
            "cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset")
        )
        .agg(F.count_distinct("user_id").alias("active_users"))
    )


# funnel_batch and funnel_latency: ``s1`` is each user's first view;
# a later stage's time is the user's first event of its type at or
# after the previous stage's time
_FUNNEL_CTES = f"""e AS (
      SELECT user_id, event_type, {TSEC} AS tsec FROM events
    ), s1 AS (
      SELECT user_id, min(tsec) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1
    )"""


def _next_stage_sql(name, prev, etype):
    """CTE ``name`` (user_id, t<n>) following stage ``prev`` (t<n-1>)."""
    t_prev, t_new = f"t{prev[1:]}", f"t{name[1:]}"
    return f"""{name} AS (
      SELECT e.user_id, min(e.tsec) AS {t_new}
      FROM e JOIN {prev} ON e.user_id = {prev}.user_id
      WHERE e.event_type = '{etype}' AND e.tsec >= {prev}.{t_prev}
      GROUP BY 1
    )"""


def _funnel_start(spark, sf_dir):
    """(``e`` events, ``s1`` first view per user).  DuckDB twin:
    ``_FUNNEL_CTES``."""
    e = _ev(spark, sf_dir).select("user_id", "event_type", "tsec")
    s1 = e.filter(F.col("event_type") == "view").groupBy("user_id").agg(F.min("tsec").alias("t1"))
    return e, s1


def _next_stage(e, prev, t_prev, etype, t_new):
    """Per user, the first ``etype`` event at or after ``t_prev``.
    DuckDB twin: ``_next_stage_sql``."""
    return (
        e.join(prev, "user_id")
        .filter((F.col("event_type") == etype) & (F.col("tsec") >= F.col(t_prev)))
        .groupBy("user_id")
        .agg(F.min("tsec").alias(t_new))
    )


@register(
    "funnel_batch",
    oracle=f"""
    WITH {_FUNNEL_CTES}, {_next_stage_sql("s2", "s1", "click")},
    {_next_stage_sql("s3", "s2", "purchase")}
    SELECT 1 AS stage, 'view' AS event_type, (SELECT count(*) FROM s1) AS users
    UNION ALL
    SELECT 2, 'click', (SELECT count(*) FROM s2)
    UNION ALL
    SELECT 3, 'purchase', (SELECT count(*) FROM s3)
    """,
)
def funnel_batch(spark, sf_dir):
    """Batch conversion funnel view -> click -> purchase with strict
    temporal ordering (each stage's earliest event must be at or after
    the previous stage's earliest qualifying event).

    Stage tables are per-user minima (|users| rows each); every join
    is on user_id against the already-user_id-keyed event stream, so
    the big table's partitioning is reused and the stage tables
    runtime-broadcast.  s1/s2 each have TWO consumers (their own
    stage count + the next stage's join); Spark shares no physical
    subtrees across references, so unpersisted they re-ran their
    whole upstream — six event scans for the three-row result.
    Persisted (|users|-row relations), the stream is scanned once
    per stage.  The streaming twin is ``stream_funnel`` — same
    semantics, incremental.
    """
    e, s1 = _funnel_start(spark, sf_dir)
    s1 = s1.persist()
    s2 = _next_stage(e, s1, "t1", "click", "t2").persist()
    s3 = _next_stage(e, s2, "t2", "purchase", "t3")

    def stage(n, name, df):
        return df.agg(
            F.lit(n).alias("stage"),
            F.lit(name).alias("event_type"),
            F.count("*").alias("users"),
        )

    return (
        stage(1, "view", s1).unionAll(stage(2, "click", s2)).unionAll(stage(3, "purchase", s3))
    )


@register(
    "seq_transitions",
    oracle=f"""
    WITH s AS (
      SELECT event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY {TSEC}, event_id) AS prev
      FROM events
    )
    SELECT prev, event_type AS next, count(*) AS n
    FROM s WHERE prev IS NOT NULL
    GROUP BY prev, next
    """,
)
def seq_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences — the \"what happens after X\" table behind
    next-event-prediction features and behavioral QA.

    One lag window keyed on user_id (the only shuffle of the stream),
    then a map-side-combined count whose output is |types|^2 rows.
    """
    w = Window.partitionBy("user_id").orderBy("tsec", "event_id")
    return (
        _ev(spark, sf_dir)
        .select("event_type", F.lag("event_type").over(w).alias("prev"))
        .filter(F.col("prev").isNotNull())
        .groupBy(F.col("prev"), F.col("event_type").alias("next"))
        .agg(F.count("*").alias("n"))
    )


@register(
    "rle_events",
    oracle=f"""
    WITH s AS (
      SELECT user_id, event_type,
             {TSEC} AS tsec,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY {TSEC}, event_id) AS rn,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY {TSEC}, event_id) AS rnt
      FROM events
    )
    SELECT user_id, event_type,
           min(tsec) AS run_start,
           count(*) AS run_len
    FROM s
    GROUP BY user_id, event_type, rn - rnt
    """,
)
def rle_events(spark, sf_dir):
    """Run-length encoding of consecutive same-type events per user —
    the classic gaps-and-islands via the rn - rn_per_type trick
    (collapsing retries/bursts before sequence modeling).

    Both row_number windows partition on user_id (+ event_type, a
    superset), and the grouping keys contain user_id — a single hash
    exchange feeds both sorts and the final aggregate.
    """
    w_all = Window.partitionBy("user_id").orderBy("tsec", "event_id")
    w_typ = Window.partitionBy("user_id", "event_type").orderBy("tsec", "event_id")
    s = _ev(spark, sf_dir).select(
        "user_id",
        "event_type",
        "tsec",
        (F.row_number().over(w_all) - F.row_number().over(w_typ)).alias("grp"),
    )
    return (
        s.groupBy("user_id", "event_type", "grp")
        .agg(F.min("tsec").alias("run_start"), F.count("*").alias("run_len"))
        .drop("grp")
    )


@register(
    "anomaly_mad",
    oracle=f"""
    WITH med AS (
      SELECT event_type, median(value) AS med FROM events GROUP BY 1
    ), madt AS (
      SELECT e.event_type, median(abs(e.value - m.med)) AS mad, any_value(m.med) AS med
      FROM events e JOIN med m ON e.event_type = m.event_type
      GROUP BY 1
    )
    SELECT e.event_id, e.event_type, round(e.value, 4) AS value,
           round(abs(e.value - m.med) / nullif(1.4826 * m.mad, 0), 3) AS robust_z
    FROM events e JOIN madt m ON e.event_type = m.event_type
    WHERE abs(e.value - m.med) > 3 * 1.4826 * m.mad
    """,
)
def anomaly_mad(spark, sf_dir):
    """Robust outlier detection via median absolute deviation — the
    heavy-tail-safe sibling of ``outlier_zscore`` (mean/std break when
    the outliers themselves inflate sigma).

    Two tiny per-type aggregates (exact percentile(0.5): one pass,
    |types| output rows each) feed broadcast joins back onto the
    stream; the event table itself is never shuffled — filters and
    the robust-z projection run map-side.  1.4826 is the standard
    normal-consistency constant.

    When a type's MAD is exactly 0 (a constant-valued majority) the
    filter still passes any deviating row, but x/0 is NULL in Spark
    and +Inf in DuckDB IEEE doubles — nullif(denominator, 0) on BOTH
    sides makes the engines agree on NULL.
    """
    ev = t(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(F.percentile("value", F.lit(0.5)).alias("med"))
    madt = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)).alias("mad"),
            F.any_value("med").alias("med"),
        )
    )
    return (
        ev.join(F.broadcast(madt), "event_type")
        .filter(F.abs(F.col("value") - F.col("med")) > 3 * 1.4826 * F.col("mad"))
        .select(
            "event_id",
            "event_type",
            F.round("value", 4).alias("value"),
            F.round(
                F.abs(F.col("value") - F.col("med"))
                / F.nullif(F.lit(1.4826) * F.col("mad"), F.lit(0.0)),
                3,
            ).alias("robust_z"),
        )
    )


@register(
    "audience_overlap",
    oracle="""
    WITH a AS (SELECT DISTINCT event_type, user_id FROM events)
    SELECT x.event_type AS type_a, y.event_type AS type_b,
           count(*) AS shared_users
    FROM a x JOIN a y ON x.user_id = y.user_id
    WHERE x.event_type < y.event_type
    GROUP BY 1, 2
    """,
)
def audience_overlap(spark, sf_dir):
    """Audience-overlap matrix: for every event-type pair, how many
    users did both — the co-occurrence table behind audience targeting
    and feature-correlation screens.

    The stream collapses to DISTINCT (type, user) pairs first (one
    map-side-combined shuffle, ≤ |types|x|users| rows); the self-join
    keys on user_id over that collapsed relation, so the pair blowup
    is bounded by |types|² per user — never event², and the output is
    |types| choose 2 rows.
    """
    a = t(spark, sf_dir, "events").select("event_type", "user_id").distinct()
    x = a.alias("x")
    y = a.alias("y")
    return (
        x.join(
            y,
            (F.col("x.user_id") == F.col("y.user_id"))
            & (F.col("x.event_type") < F.col("y.event_type")),
        )
        .groupBy(
            F.col("x.event_type").alias("type_a"),
            F.col("y.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("shared_users"))
    )


@register(
    "funnel_latency",
    oracle=f"""
    WITH {_FUNNEL_CTES}, {_next_stage_sql("s3", "s1", "purchase")}, lat AS (
      SELECT s3.user_id, s3.t3 - s1.t1 AS secs
      FROM s3 JOIN s1 ON s3.user_id = s1.user_id
    )
    SELECT count(*) AS n_converted,
           cast(min(secs) AS bigint) AS min_s,
           cast(round(quantile_cont(secs, 0.5), 0) AS bigint) AS median_s,
           cast(round(quantile_cont(secs, 0.9), 0) AS bigint) AS p90_s,
           cast(max(secs) AS bigint) AS max_s
    FROM lat
    """,
)
def funnel_latency(spark, sf_dir):
    """Time-to-convert distribution (first view → first subsequent
    purchase): the latency percentiles behind every conversion SLA
    dashboard.

    Same per-user stage minima as funnel_batch (``_funnel_start`` and
    ``_next_stage``: |users|-row aggregates, user_id-keyed joins), then ONE exact-percentile
    aggregate over the |converted-users| latency relation — tiny at
    any scale.  Percentiles rounded to whole seconds in both engines.
    """
    e, s1 = _funnel_start(spark, sf_dir)
    s3 = _next_stage(e, s1, "t1", "purchase", "t3")
    lat = s3.join(s1, "user_id").select((F.col("t3") - F.col("t1")).alias("secs"))
    return lat.agg(
        F.count("*").alias("n_converted"),
        F.min("secs").cast("bigint").alias("min_s"),
        F.round(F.percentile("secs", F.lit(0.5)), 0).cast("bigint").alias("median_s"),
        F.round(F.percentile("secs", F.lit(0.9)), 0).cast("bigint").alias("p90_s"),
        F.max("secs").cast("bigint").alias("max_s"),
    )


@register(
    "concurrency_peak",
    oracle=f"""
    WITH {SESSION_CTES}, sessions AS (
      SELECT user_id, session_no, min(tsec) AS s, max(tsec) AS e
      FROM numbered GROUP BY 1, 2
    ), bounds AS (
      SELECT s AS t, 1 AS delta FROM sessions
      UNION ALL
      SELECT e + 1 AS t, -1 FROM sessions
    ), sweep AS (
      SELECT t, sum(sum(delta)) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
               AS concurrent
      FROM bounds GROUP BY t
    )
    SELECT cast(max(concurrent) AS bigint) AS peak_concurrent,
           cast(count(*) AS bigint) AS n_boundaries
    FROM sweep
    """,
)
def concurrency_peak(spark, sf_dir):
    """Peak concurrent sessions — the sweep-line over session
    intervals: +1 at each session start, −1 just after each end, and
    the maximum of the running sum is the peak (capacity-planning's
    favourite number).

    The sweep compresses to |2·sessions| boundary rows, pre-summed per
    timestamp map-side; only that boundary relation passes through
    the ordered cumsum — which runs as the BUCKETED parallel prefix
    sum (``bucketed_prefix_sums``, r16: deterministic monotone bucket
    of t + exact bigint preceding-bucket offsets, bit-identical to
    the former single-partition global window; the boundary axis
    grows with |sessions|, so the one-task WindowExec was a real
    scale ceiling, unlike the constant-width allowlisted axes).
    Sessionization itself is ``_sessions``, sessionize_batch's
    single-exchange gaps-and-islands.
    """
    sessions = _sessions(spark, sf_dir).groupBy("user_id", "session_no").agg(
        F.min("tsec").alias("s"), F.max("tsec").alias("e")
    )
    # both boundary rows (+1 at start, -1 after end) emit from ONE pass
    # via an in-row 2-element explode: the prior unionAll of two
    # selects over the unpersisted sessions relation re-ran the whole
    # sessionization (two windows + groupBy) once per branch — Spark
    # does not share physical subtrees across DataFrame refs (r15).
    bounds = sessions.select(
        F.explode(
            F.array(
                F.struct(F.col("s").alias("t"), F.lit(1).alias("delta")),
                F.struct((F.col("e") + 1).alias("t"), F.lit(-1).alias("delta")),
            )
        ).alias("b")
    ).select("b.t", "b.delta")
    per_t = bounds.groupBy("t").agg(F.sum("delta").alias("d"))
    sweep = bucketed_prefix_sums(spark, per_t, "t", ["d"]).select(
        F.col("cum_d").alias("concurrent")
    )
    return sweep.agg(
        F.max("concurrent").cast("bigint").alias("peak_concurrent"),
        F.count("*").cast("bigint").alias("n_boundaries"),
    )


@register(
    "attribution_first_touch",
    oracle=f"""
    WITH ev AS (
      SELECT event_id, user_id, event_type, {TSEC} AS tsec,
             CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS kind
      FROM events WHERE event_type IN ('view', 'purchase')
    )
    SELECT event_id, user_id, tsec AS purchase_tsec,
           coalesce(min(CASE WHEN kind = 0 THEN tsec END) OVER (
             PARTITION BY user_id ORDER BY tsec
             RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW), -1)
             AS first_view_tsec
    FROM ev
    QUALIFY kind = 1
    """,
)
def attribution_first_touch(spark, sf_dir):
    """First-touch attribution: each purchase credited to the EARLIEST
    view in its trailing 7 days — the marketing-attribution
    counterpart of join_asof (which is last-touch).

    Same one-shuffle union-window shape: views and purchases co-sort
    on user_id, and a conditional min over a trailing RANGE frame
    finds the window-opening view without any join — at 100 TB the
    event stream moves once, and the 7-day frame bounds state exactly
    like a stream-stream join watermark would.
    """
    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "purchase"))
        .select(
            "event_id",
            "user_id",
            unix_secs(F.col("ts")).alias("tsec"),
            F.when(F.col("event_type") == "view", 0).otherwise(1).alias("kind"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("tsec")
        .rangeBetween(-604800, Window.currentRow)
    )
    first_view = F.min(F.when(F.col("kind") == 0, F.col("tsec"))).over(w)
    return (
        ev.withColumn("first_view_tsec", F.coalesce(first_view, F.lit(-1)))
        .filter(F.col("kind") == 1)
        .select(
            "event_id", "user_id", F.col("tsec").alias("purchase_tsec"), "first_view_tsec"
        )
    )


@register(
    "seq_markov",
    oracle=f"""
    WITH s AS (
      SELECT user_id, event_type, event_id, {TSEC} AS tsec FROM events
    ),
    p AS (
      SELECT event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY tsec, event_id) AS prev
      FROM s
    )
    SELECT prev, event_type AS next, count(*) AS n,
           round(count(*) * 1.0
                 / sum(count(*)) OVER (PARTITION BY prev), 6) AS prob
    FROM p WHERE prev IS NOT NULL
    GROUP BY 1, 2
    """,
)
def seq_markov(spark, sf_dir):
    """First-order Markov transition MATRIX over per-user event
    sequences: seq_transitions' counts row-normalized into
    probabilities P(next | prev) — the output a next-event predictor
    or funnel simulator consumes directly.

    Same single user-keyed exchange as seq_transitions for the lag;
    the normalizing window then runs over the |types|^2-row count
    relation (constant-size at any corpus scale), so the probability
    pass is free.  Probabilities rounded to 6 dp both sides; rows sum
    to 1 per prev by construction.
    """
    w = Window.partitionBy("user_id").orderBy("tsec", "event_id")
    counts = (
        _ev(spark, sf_dir)
        .select("event_type", F.lag("event_type").over(w).alias("prev"))
        .filter(F.col("prev").isNotNull())
        .groupBy(F.col("prev"), F.col("event_type").alias("next"))
        .agg(F.count("*").alias("n"))
    )
    w_prev = Window.partitionBy("prev")
    return counts.select(
        "prev",
        "next",
        "n",
        F.round(F.col("n") * 1.0 / F.sum("n").over(w_prev), 6).alias("prob"),
    )


@register(
    "seq_pattern_detect",
    oracle=f"""
    WITH s AS (
      SELECT user_id, event_id, event_type, {TSEC} AS tsec FROM events
    ),
    led AS (
      SELECT user_id, event_id, event_type, tsec,
             lead(event_type, 1) OVER w AS t1,
             lead(event_type, 2) OVER w AS t2,
             lead(tsec, 2) OVER w AS tsec2
      FROM s
      WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id)
    )
    SELECT user_id, event_id AS anchor_event, tsec AS t_view,
           tsec2 AS t_purchase, tsec2 - tsec AS span_s
    FROM led
    WHERE event_type = 'view' AND t1 = 'click' AND t2 = 'purchase'
    """,
)
def seq_pattern_detect(spark, sf_dir):
    """CONSECUTIVE-pattern detection (the MATCH_RECOGNIZE shape):
    find every view→click→purchase triple that occurs as three
    ADJACENT events in a user's stream — stricter than funnel_batch,
    which only orders stage minima and tolerates interleaving.  Each
    match reports its anchor event and the view→purchase span.

    One lead-chain window on the single user_id exchange; the pattern
    predicate is a codegen filter over the lead columns — longer
    patterns extend the lead chain, never add shuffles.  This is the
    batch twin of a CEP rule; arbitrary-gap variants relax adjacency
    back toward funnel semantics.
    """
    w = Window.partitionBy("user_id").orderBy("tsec", "event_id")
    led = _ev(spark, sf_dir).select(
        "user_id",
        "event_id",
        "event_type",
        "tsec",
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
        F.lead("tsec", 2).over(w).alias("tsec2"),
    )
    return led.filter(
        (F.col("event_type") == "view")
        & (F.col("t1") == "click")
        & (F.col("t2") == "purchase")
    ).select(
        "user_id",
        F.col("event_id").alias("anchor_event"),
        F.col("tsec").alias("t_view"),
        F.col("tsec2").alias("t_purchase"),
        (F.col("tsec2") - F.col("tsec")).alias("span_s"),
    )


@register(
    "interval_coverage",
    oracle=f"""
    WITH iv AS (
      SELECT user_id, event_id,
             {TSEC} AS s,
             {TSEC} + 300 AS e
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, s, e,
             CASE WHEN s > coalesce(max(e) OVER (
                    PARTITION BY user_id ORDER BY s, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS new_island
      FROM iv
    ),
    islands AS (
      SELECT user_id, s, e,
             sum(new_island) OVER (
               PARTITION BY user_id ORDER BY s, event_id
               ROWS UNBOUNDED PRECEDING) AS island_id
      FROM flagged
    ),
    merged AS (
      SELECT user_id, island_id,
             max(e) - min(s) AS len_s
      FROM islands GROUP BY 1, 2
    )
    SELECT user_id,
           cast(count(*) AS bigint) AS n_islands,
           cast(sum(len_s) AS bigint) AS covered_s
    FROM merged GROUP BY 1
    """,
)
def interval_coverage(spark, sf_dir):
    """Union length of overlapping intervals per user — each event
    opens a 5-minute exposure window; overlaps must not double-count
    (ad-exposure seconds, machine uptime, on-call coverage all reduce
    to this).  The classic gaps-and-islands sweep: an interval starts
    a NEW island iff its start exceeds the running max end of all
    earlier intervals (rle_events' flag-cumsum generalized from
    adjacency to OVERLAP — max-end tracking handles intervals nested
    inside earlier, longer ones, which lag(end) would miss).

    One (user, start)-sorted window feeds the flag, the island id is
    the flag's running sum over the same sort, and the merge is a
    map-side-combined groupBy — a single exchange keyed by user; all
    arithmetic in exact epoch-second integers.  At 100 TB: per-user
    state never leaves its partition (same contract as
    sessionize_batch).
    """
    ev = t(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        "event_id",
        unix_secs(F.col("ts")).alias("s"),
        (unix_secs(F.col("ts")) + 300).alias("e"),
    )
    wprev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "new_island",
        F.when(
            F.col("s") > F.coalesce(F.max("e").over(wprev), F.lit(-1)), 1
        ).otherwise(0),
    )
    # SAME total order (s, event_id) as the flag window: with duplicate
    # starts, a different tie order would let a non-flagged duplicate be
    # cumsum'd BEFORE its flagged twin and fall into the prior island
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = flagged.withColumn("island_id", F.sum("new_island").over(wrun))
    merged = islands.groupBy("user_id", "island_id").agg(
        (F.max("e") - F.min("s")).alias("len_s")
    )
    return merged.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_islands"),
        F.sum("len_s").cast("bigint").alias("covered_s"),
    )


@register(
    "seq_top_paths",
    oracle=f"""
    WITH ranked AS (
      SELECT user_id, event_type,
             row_number() OVER (
               PARTITION BY user_id ORDER BY {TSEC}, event_id) AS rn
      FROM events
    ),
    paths AS (
      SELECT user_id,
             string_agg(event_type, ' > ' ORDER BY rn) AS path
      FROM ranked WHERE rn <= 4 GROUP BY user_id
    )
    SELECT path, count(*) AS n_users
    FROM paths GROUP BY path
    ORDER BY n_users DESC, path
    LIMIT 20
    """,
)
def seq_top_paths(spark, sf_dir):
    """Top user journeys: each user's FIRST FOUR events (time +
    event_id total order) concatenated into a path string, ranked by
    how many users share it — the "top paths" report every product-
    analytics tool opens with (where do users actually go after
    landing?).

    One (user, time)-sorted window takes the prefix, an ORDERED
    string_agg (listagg semantics — agg_listagg's surface applied)
    builds the path per user, and a map-side-combined groupBy(path)
    counts; top-20 with (n DESC, path) tiebreak plans as
    TakeOrderedAndProject (R2).  Path cardinality is bounded by
    |event_types|⁴, so the final aggregate is small at any corpus
    scale; per-user state never leaves its partition.
    """
    ev = t(spark, sf_dir, "events")
    ranked = ev.withColumn("rn", F.row_number().over(_user_order())).filter(F.col("rn") <= 4)
    paths = ranked.groupBy("user_id").agg(
        F.concat_ws(
            " > ", F.expr("transform(array_sort(collect_list(struct(rn, event_type))), s -> s.event_type)")
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(20)
    )


# seq_markov_eval and ml_confusion_matrix: each user's transitions
# split 80/20 by next_id % 5; the model maps each type to the train
# slice's most frequent next type, (count DESC, type) tiebreak
_MARKOV_CTES = f"""ordered AS (
      SELECT user_id, event_id, event_type,
             lead(event_type) OVER w AS next_type,
             lead(event_id) OVER w AS next_id
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY {TSEC}, event_id)
    ),
    trans AS (
      SELECT event_type AS prev, next_type AS nxt, next_id
      FROM ordered WHERE next_type IS NOT NULL
    ),
    train AS (
      SELECT prev, nxt, count(*) AS c FROM trans
      WHERE next_id % 5 <> 0 GROUP BY 1, 2
    ),
    model AS (
      SELECT prev, nxt AS predicted FROM (
        SELECT prev, nxt,
               row_number() OVER (PARTITION BY prev
                                  ORDER BY c DESC, nxt) AS rn
        FROM train
      ) WHERE rn = 1
    )"""


def _markov_split(spark, sf_dir):
    """(``ordered`` transitions, ``model``): one user-keyed window builds
    the transitions; the model is an aggregate of the train slice only.
    DuckDB twin: ``_MARKOV_CTES``."""
    w = _user_order()
    ordered = (
        t(spark, sf_dir, "events")
        .select(
            "event_type",
            F.lead("event_type").over(w).alias("nxt"),
            F.lead("event_id").over(w).alias("next_id"),
        )
        .filter(F.col("nxt").isNotNull())
    )
    train = (
        ordered.filter(F.col("next_id") % 5 != 0)
        .groupBy(F.col("event_type").alias("prev"), "nxt")
        .agg(F.count("*").alias("c"))
    )
    wm = Window.partitionBy("prev").orderBy(F.col("c").desc(), "nxt")
    model = (
        train.withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") == 1)
        .select("prev", F.col("nxt").alias("predicted"))
    )
    return ordered, model


@register(
    "seq_markov_eval",
    oracle=f"""
    WITH {_MARKOV_CTES}
    SELECT t.prev,
           count(*) AS n_test,
           cast(sum(CASE WHEN t.nxt = m.predicted THEN 1 ELSE 0 END)
                AS bigint) AS n_correct,
           round(sum(CASE WHEN t.nxt = m.predicted THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 4) AS accuracy
    FROM trans t JOIN model m ON m.prev = t.prev
    WHERE t.next_id % 5 = 0
    GROUP BY t.prev
    """,
)
def seq_markov_eval(spark, sf_dir):
    """Train/test evaluation of the Markov next-event predictor — the
    missing half of seq_markov (a transition MATRIX is not a
    product; "how often is argmax-next actually right" is): a
    deterministic 80/20 arithmetic split of transitions (next-event-id
    mod 5 — the sample_split discipline, no RNG), most-frequent-next
    as the model with a (count DESC, type) total-order tiebreak, and
    held-out per-context accuracy.

    This is the standard leakage-safe eval shape on Spark: the model
    is an aggregate of the TRAIN slice only, joined back to the TEST
    slice — train/test never meet except through the |contexts|-row
    model relation (broadcast-size at any corpus scale).  One
    user-keyed window builds transitions; counts and accuracy are
    exact integers.
    """
    ordered, model = _markov_split(spark, sf_dir)
    test = ordered.filter(F.col("next_id") % 5 == 0)
    hit = F.when(F.col("nxt") == F.col("predicted"), 1).otherwise(0)
    return (
        test.join(model, F.col("prev") == F.col("event_type"))
        .groupBy("prev")
        .agg(
            F.count("*").alias("n_test"),
            F.sum(hit).cast("bigint").alias("n_correct"),
            F.round(F.sum(hit) / F.count("*").cast("double"), 4).alias("accuracy"),
        )
    )


@register(
    "ml_confusion_matrix",
    oracle=f"""
    WITH {_MARKOV_CTES},
    cm AS (
      SELECT t.nxt AS actual, m.predicted, count(*) AS n
      FROM trans t JOIN model m ON m.prev = t.prev
      WHERE t.next_id % 5 = 0
      GROUP BY 1, 2
    ),
    actual_tot AS (SELECT actual, sum(n) AS na FROM cm GROUP BY 1),
    pred_tot AS (SELECT predicted, sum(n) AS np FROM cm GROUP BY 1)
    SELECT c.actual, c.predicted, cast(c.n AS bigint) AS n,
           round(c.n / CAST(a.na AS DOUBLE), 4) AS frac_of_actual,
           round(CASE WHEN c.actual = c.predicted
                      THEN c.n / CAST(a.na AS DOUBLE) END, 4) AS recall,
           round(CASE WHEN c.actual = c.predicted
                      THEN c.n / CAST(p.np AS DOUBLE) END, 4) AS precision
    FROM cm c
    JOIN actual_tot a ON a.actual = c.actual
    JOIN pred_tot p ON p.predicted = c.predicted
    """,
)
def ml_confusion_matrix(spark, sf_dir):
    """Confusion matrix + per-class precision/recall for the held-out
    Markov next-event predictor — the evaluation artifact
    seq_markov_eval's single accuracy number summarizes away (a
    predictor can score 60% accuracy while never predicting a rare
    class at all; the off-diagonal cells are where that shows).

    Same leakage-safe spine as seq_markov_eval (mod-5 transition
    split, |contexts|-row model joined back to the test slice); the
    matrix is one (actual, predicted) map-side-combined count, and
    precision/recall come from its row/column marginals — three
    aggregates over a ≤|types|²-row relation, exact integers into one
    double division.  NULLs mark off-diagonal cells where
    precision/recall don't apply (nullable-double is safe: the column
    is double-typed in both engines).
    """
    ordered, model = _markov_split(spark, sf_dir)
    # cm (≤|types|² rows) feeds THREE consumers (both marginals + the
    # final join) — unpersisted, the whole train/model/test spine
    # (two windows + a join over the event stream) re-ran per
    # consumer: 6 event scans for a matrix-sized result (r15 audit).
    cm = (
        ordered.filter(F.col("next_id") % 5 == 0)
        .join(model, F.col("prev") == F.col("event_type"))
        .groupBy(F.col("nxt").alias("actual"), "predicted")
        .agg(F.count("*").alias("n"))
        .persist()
    )
    atot = cm.groupBy(F.col("actual").alias("a2")).agg(F.sum("n").alias("na"))
    ptot = cm.groupBy(F.col("predicted").alias("p2")).agg(F.sum("n").alias("np"))
    diag = F.col("actual") == F.col("predicted")
    return (
        cm.join(atot, F.col("a2") == F.col("actual"))
        .join(ptot, F.col("p2") == F.col("predicted"))
        .select(
            "actual",
            "predicted",
            F.col("n").cast("bigint").alias("n"),
            F.round(F.col("n") / F.col("na").cast("double"), 4).alias(
                "frac_of_actual"
            ),
            F.round(
                F.when(diag, F.col("n") / F.col("na").cast("double")), 4
            ).alias("recall"),
            F.round(
                F.when(diag, F.col("n") / F.col("np").cast("double")), 4
            ).alias("precision"),
        )
    )

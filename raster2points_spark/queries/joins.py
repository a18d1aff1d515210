"""§2.4 joins.

Scale notes baked into each plan:
- dimension tables (region 5, nation 25, customer ~1.5k/sf) carry
  explicit ``broadcast()`` hints — at 100 TB the fact side never
  shuffles for a star join.
- the theta/as-of/interval joins keep an equi component (user_id) so
  Spark plans a hash/sort-merge join with the range predicate as a
  post-join filter instead of a cartesian product; the as-of join is
  a single shuffle + window (no O(n²) blowup).
"""

from __future__ import annotations

import os
from functools import reduce
from operator import and_

from pyspark.sql import Window
from pyspark.sql import functions as F

from raster2points_spark.io import register_views
from raster2points_spark.registry import register
from raster2points_spark.queries._util import (
    ITEMS_CTE,
    TSEC,
    bucket,
    copurchase_pairs,
    copurchase_pairs_sql,
    order_items,
    t,
    unix_secs,
)


@register(
    "join_inner_eq",
    oracle="""
    SELECT o_orderkey, c_name, o_totalprice, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def join_inner_eq(spark, sf_dir):
    o, c = t(spark, sf_dir, "orders"), t(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "c_name", "o_totalprice", "c_mktsegment"
    )


@register(
    "join_broadcast_star",
    oracle="""
    SELECT r_name, l_returnflag,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, l_returnflag
    """,
)
def join_broadcast_star(spark, sf_dir):
    """4-way star: fact lineitem joins only broadcast dims after the
    orders join — one shuffle (lineitem⋈orders), everything else
    map-side."""
    li, o, c, n, r = (
        t(spark, sf_dir, x) for x in ("lineitem", "orders", "customer", "nation", "region")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "l_returnflag")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


_BIG = 400000.0


@register(
    "join_left",
    oracle=f"""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice
    FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > {_BIG}) big
      ON c_custkey = o_custkey
    """,
)
def join_left(spark, sf_dir):
    c, o = t(spark, sf_dir, "customer"), t(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > _BIG)
    return c.join(big, c.c_custkey == big.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@register(
    "join_right",
    oracle=f"""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice
    FROM (SELECT * FROM orders WHERE o_totalprice > {_BIG}) big RIGHT JOIN customer
      ON o_custkey = c_custkey
    """,
)
def join_right(spark, sf_dir):
    c, o = t(spark, sf_dir, "customer"), t(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > _BIG)
    return big.join(c, big.o_custkey == c.c_custkey, "right").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@register(
    "join_full",
    oracle="""
    WITH a AS (SELECT o_custkey AS k, count(*) AS n_f FROM orders
               WHERE o_orderstatus = 'F' GROUP BY 1),
         b AS (SELECT o_custkey AS k, count(*) AS n_p FROM orders
               WHERE o_orderstatus = 'P' GROUP BY 1)
    SELECT coalesce(a.k, b.k) AS k,
           coalesce(a.n_f, -1) AS n_f,
           coalesce(b.n_p, -1) AS n_p
    FROM a FULL JOIN b ON a.k = b.k
    """,
)
def join_full(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    a = (
        o.filter(F.col("o_orderstatus") == "F")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count("*").alias("n_f"))
    )
    b = (
        o.filter(F.col("o_orderstatus") == "P")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count("*").alias("n_p"))
    )
    return a.join(b, "k", "full").select(
        "k",
        F.coalesce("n_f", F.lit(-1)).alias("n_f"),
        F.coalesce("n_p", F.lit(-1)).alias("n_p"),
    )


@register(
    "join_semi",
    oracle=f"""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > {_BIG})
    """,
)
def join_semi(spark, sf_dir):
    c, o = t(spark, sf_dir, "customer"), t(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > _BIG)
    return c.join(big, c.c_custkey == big.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "join_anti",
    oracle=f"""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > {_BIG})
    """,
)
def join_anti(spark, sf_dir):
    c, o = t(spark, sf_dir, "customer"), t(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > _BIG)
    return c.join(big, c.c_custkey == big.o_custkey, "left_anti").select("c_custkey", "c_name")


_EV_CTE = f"ev AS (SELECT event_id, user_id, event_type, {TSEC} AS tsec FROM events)"


def _asof_events(spark, sf_dir, types, first):
    """The as-of spine's input: the events of the two ``types`` with
    their epoch second and ``kind`` 0 for ``first``, else 1 — the
    tiebreak that sorts ``first`` before the other type at equal
    seconds."""
    return (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(*types))
        .select(
            "event_id",
            "user_id",
            unix_secs(F.col("ts")).alias("tsec"),
            F.when(F.col("event_type") == first, 0).otherwise(1).alias("kind"),
        )
    )


def _asof_window(start, end):
    """One user_id shuffle; (tsec, kind, event_id) totally orders it."""
    return Window.partitionBy("user_id").orderBy("tsec", "kind", "event_id").rowsBetween(start, end)


@register(
    "join_theta_range",
    oracle=f"""
    WITH {_EV_CTE}
    SELECT e1.user_id, count(*) AS n_pairs
    FROM ev e1 JOIN ev e2
      ON e1.user_id = e2.user_id
     AND e2.tsec >= e1.tsec AND e2.tsec < e1.tsec + 300
     AND e1.event_id <> e2.event_id
    GROUP BY e1.user_id
    """,
)
def join_theta_range(spark, sf_dir):
    """Non-equi self-pair: the user_id equi key keeps this a hash join
    (range condition applied post-match), so it scales with per-user
    event counts, not total rows²."""
    ev = t(spark, sf_dir, "events").select(
        "event_id", "user_id", unix_secs(F.col("ts")).alias("tsec")
    )
    e1 = ev.alias("e1")
    e2 = ev.alias("e2")
    cond = (
        (F.col("e1.user_id") == F.col("e2.user_id"))
        & (F.col("e2.tsec") >= F.col("e1.tsec"))
        & (F.col("e2.tsec") < F.col("e1.tsec") + 300)
        & (F.col("e1.event_id") != F.col("e2.event_id"))
    )
    return e1.join(e2, cond).groupBy(F.col("e1.user_id").alias("user_id")).agg(
        F.count("*").alias("n_pairs")
    )


@register(
    "join_cross",
    oracle="""
    SELECT r_name, n_name, r_name || '/' || n_name AS pair
    FROM region CROSS JOIN nation
    """,
)
def join_cross(spark, sf_dir):
    r, n = t(spark, sf_dir, "region"), t(spark, sf_dir, "nation")
    return r.crossJoin(n).select(
        "r_name", "n_name", F.concat_ws("/", "r_name", "n_name").alias("pair")
    )


@register(
    "join_asof",
    oracle=f"""
    WITH {_EV_CTE}
    SELECT p.event_id, p.user_id, p.tsec AS purchase_tsec,
           coalesce((SELECT max(v.tsec) FROM ev v
                     WHERE v.user_id = p.user_id AND v.event_type = 'view'
                       AND v.tsec <= p.tsec), -1) AS last_view_tsec
    FROM ev p WHERE p.event_type = 'purchase'
    """,
)
def join_asof(spark, sf_dir):
    """As-of join, Spark-first: instead of a correlated subquery (one
    probe per row) we union views+purchases, shuffle ONCE by user_id,
    and carry the latest view timestamp forward with a running
    last(ignoreNulls) window — O(n log n) per user, no join blowup.
    Views sort before purchases at equal timestamps so a simultaneous
    view is visible to the purchase (matches the oracle's <=)."""
    ev = _asof_events(spark, sf_dir, ("view", "purchase"), "view")
    w = _asof_window(Window.unboundedPreceding, Window.currentRow)
    view_ts = F.last(F.when(F.col("kind") == 0, F.col("tsec")), ignorenulls=True).over(w)
    return (
        ev.withColumn("last_view_tsec", F.coalesce(view_ts, F.lit(-1)))
        .filter(F.col("kind") == 1)
        .select(
            "event_id", "user_id", F.col("tsec").alias("purchase_tsec"), "last_view_tsec"
        )
    )


# join_interval and join_interval_bucketed: each signup's count of the
# user's other events in the hour from it
_INTERVAL_SQL = f"""
    WITH {_EV_CTE}
    SELECT s.event_id AS signup_event_id, s.user_id,
           count(e.event_id) AS n_in_hour
    FROM ev s LEFT JOIN ev e
      ON e.user_id = s.user_id
     AND e.tsec >= s.tsec AND e.tsec < s.tsec + 3600
     AND e.event_id <> s.event_id
    WHERE s.event_type = 'signup'
    GROUP BY s.event_id, s.user_id
    """


def _interval_events(spark, sf_dir):
    return t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", unix_secs(F.col("ts")).alias("tsec")
    )


def _in_hour(*extra):
    """Join condition: ``e`` is another event of ``s``'s user in
    [s.tsec, s.tsec + 3600); ``extra`` conjuncts follow the user key."""
    return reduce(
        and_,
        [
            F.col("e.user_id") == F.col("s.user_id"),
            *extra,
            F.col("e.tsec") >= F.col("s.tsec"),
            F.col("e.tsec") < F.col("s.tsec") + 3600,
            F.col("e.event_id") != F.col("s.event_id"),
        ],
    )


@register("join_interval", oracle=_INTERVAL_SQL)
def join_interval(spark, sf_dir):
    ev = _interval_events(spark, sf_dir)
    s = ev.filter(F.col("event_type") == "signup").alias("s")
    e = ev.alias("e")
    return (
        s.join(e, _in_hour(), "left")
        .groupBy(F.col("s.event_id").alias("signup_event_id"), F.col("s.user_id").alias("user_id"))
        .agg(F.count(F.col("e.event_id")).alias("n_in_hour"))
    )


@register(
    "join_salted",
    oracle="""
    SELECT l_suppkey, count(*) AS n, round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY l_suppkey
    """,
)
def join_salted(spark, sf_dir):
    """Skew-mitigation pattern: salt the hot side of a shuffle join.

    The fact side's join key is exploded with a salt in [0, 8); the dim
    side is replicated once per salt value, so one hot key's rows fan
    out over 8 reducer partitions instead of one.  Result is identical
    to the plain join (the oracle IS the plain join) — only the
    physical distribution changes.  At 100 TB this is the manual
    fallback when AQE skew-join splitting can't help (e.g. skewed
    aggregation keys after the join); here the dim side is also small
    enough that Spark may still broadcast — the salting logic stays
    correct under either physical plan.
    """
    n_salt = 8
    li = t(spark, sf_dir, "lineitem").withColumn(
        "salt", (F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(n_salt)))
    )
    sup = (
        t(spark, sf_dir, "supplier")
        .withColumn("salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)])))
        .select(F.col("s_suppkey"), F.col("salt").cast("bigint").alias("salt"))
    )
    return (
        li.join(sup, (li.l_suppkey == sup.s_suppkey) & (li.salt == sup.salt))
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_extendedprice"), 2).alias("sum_price"))
    )


@register(
    "join_bucketed",
    oracle="""
    SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS sum_price,
           any_value(c_mktsegment) AS seg
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY o_custkey
    """,
)
def join_bucketed(spark, sf_dir):
    """Co-located (bucketed) join: both sides bucketed 8-way on the
    join key, so the join needs NO shuffle of either side — each task
    reads matching bucket files.  At 100 TB this is THE join strategy
    for repeated large-x-large joins on a stable key: pay the bucketed
    layout once at ingest, join shuffle-free forever after.  The
    oracle is the plain join — only the physical plan differs.
    """
    import re

    db = "r2p_bucketed"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    sf_tag = re.sub(r"[^a-z0-9]", "_", os.path.basename(sf_dir.rstrip("/")).lower())
    ot, ct = f"{db}.orders_b_{sf_tag}", f"{db}.customer_b_{sf_tag}"
    if not spark.catalog.tableExists(ot):
        # the warehouse dir outlives the in-memory catalog: remove any
        # stale location from a previous process before re-creating
        import shutil

        wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse").removeprefix("file:")
        for tbl in (ot, ct):
            loc = os.path.join(wh, f"{db}.db", tbl.split(".", 1)[1])
            shutil.rmtree(loc, ignore_errors=True)
        t(spark, sf_dir, "orders").write.mode("overwrite").bucketBy(8, "o_custkey").sortBy(
            "o_custkey"
        ).saveAsTable(ot)
        t(spark, sf_dir, "customer").write.mode("overwrite").bucketBy(8, "c_custkey").sortBy(
            "c_custkey"
        ).saveAsTable(ct)
    o = spark.table(ot)
    c = spark.table(ct)
    return (
        o.join(c.hint("merge"), o.o_custkey == c.c_custkey)
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            F.any_value(F.col("c_mktsegment")).alias("seg"),
        )
    )


@register("join_interval_bucketed", oracle=_INTERVAL_SQL)
def join_interval_bucketed(spark, sf_dir):
    """Time-bucketed interval join — the SCALE path for join_interval
    (identical oracle, different physical strategy).

    The naive plan joins on user_id alone and filters the time range
    after the match, so a user with k events generates k x k candidate
    pairs regardless of time.  Here both sides also carry an hour
    bucket: a [t, t+1h) window can only overlap buckets floor(t/1h)
    and floor(t/1h)+1, so the probe side explodes to exactly 2 bucket
    keys and the join runs on (user_id, bucket) — candidate pairs are
    bounded by per-user-per-HOUR density, not per-user totals.  At
    100 TB this is the difference between a skew-prone quadratic
    blowup and a uniformly bounded shuffle.  Dedup of double-matched
    pairs is free: a pair can only match in one bucket of the probe
    (the event's own bucket is fixed).
    """
    ev = _interval_events(spark, sf_dir)
    # The signup subset feeds BOTH the exploded probe side and the
    # LEFT-semantics base — persisted so the event scan + filter runs
    # once for the pair, not twice (r15 audit: 3 event scans → 2; the
    # full-stream build side keeps its own scan, as it must).
    signups = ev.filter(F.col("event_type") == "signup").persist()
    hour = bucket(3600, F.col("tsec"))
    s = signups.withColumn("bkt", F.explode(F.array(hour, hour + 1))).alias("s")
    e = ev.withColumn("bkt", hour).alias("e")
    matched = (
        s.join(e, _in_hour(F.col("e.bkt") == F.col("s.bkt")), "inner")
        .groupBy(F.col("s.event_id").alias("signup_event_id"), F.col("s.user_id").alias("user_id"))
        .agg(F.count("*").alias("n_in_hour"))
    )
    # LEFT semantics: signups with zero matches still appear (n = 0).
    base = signups.select(
        F.col("event_id").alias("signup_event_id"), "user_id"
    )
    return (
        base.join(matched, ["signup_event_id", "user_id"], "left")
        .select(
            "signup_event_id",
            "user_id",
            F.coalesce("n_in_hour", F.lit(0)).alias("n_in_hour"),
        )
    )


@register(
    "merge_upsert",
    oracle="""
    WITH changes AS (
        SELECT CASE WHEN c_custkey % 5 IN (0, 1) THEN c_custkey
                    ELSE c_custkey + 1000000 END AS key,
               CASE WHEN c_custkey % 5 = 0 THEN 'delete'
                    WHEN c_custkey % 5 = 1 THEN 'update'
                    ELSE 'insert' END AS op,
               cast(floor(cast(floor(c_acctbal * 100 + 0.5) AS bigint) * 11 / 10.0)
                    AS bigint) AS new_cents,
               c_mktsegment
        FROM customer WHERE c_custkey % 2 = 0
    ),
    merged AS (
        SELECT coalesce(b.c_custkey, c.key) AS key,
               CASE WHEN c.op = 'update' THEN c.new_cents
                    WHEN c.op = 'insert' AND b.c_custkey IS NULL THEN c.new_cents
                    ELSE cast(floor(b.c_acctbal * 100 + 0.5) AS bigint)
               END AS cents,
               coalesce(b.c_mktsegment, c.c_mktsegment) AS seg
        FROM customer b FULL OUTER JOIN changes c ON b.c_custkey = c.key
        WHERE c.op IS NULL OR c.op <> 'delete'
    )
    SELECT seg, count(*) AS n, cast(sum(cents) AS bigint) AS sum_bal_cents
    FROM merged GROUP BY seg
    """,
)
def merge_upsert(spark, sf_dir):
    """MERGE INTO semantics (the lakehouse/CDC primitive: Delta/Iceberg
    ``MERGE WHEN MATCHED UPDATE / WHEN MATCHED DELETE / WHEN NOT
    MATCHED INSERT``), expressed Spark-first as ONE full-outer
    equi-join on the merge key + a CASE resolution — no per-row ops,
    no driver loop.  The changes feed is derived deterministically
    from the corpus (key mod classes -> delete/update/insert; insert
    keys offset so they are genuinely new rows) and the verification
    rollup aggregates the merged table per segment.

    Determinism: money travels as integer CENTS end-to-end
    (floor(x*100+0.5) per row, 10% raise as cents*11 int-div 10) —
    float rounding differs across engines at half-cent boundaries and
    float sum order differs always; integer arithmetic is exact and
    order-independent.

    Scale shape: one co-partitioning shuffle of base and changes on
    the merge key (a real CDC feed is << base, so AQE broadcasts it —
    left unhinted exactly like text_tfidf's vocabulary); the merged
    relation never materializes driver-side.  On a table format with
    transactions this same plan is what MERGE INTO compiles to.
    """
    base = t(spark, sf_dir, "customer")
    base_cents = F.floor(F.col("c_acctbal") * 100 + 0.5).cast("bigint")
    changes = (
        base.filter(F.col("c_custkey") % 2 == 0)
        .select(
            F.when(F.col("c_custkey") % 5 <= 1, F.col("c_custkey"))
            .otherwise(F.col("c_custkey") + 1000000)
            .alias("key"),
            F.when(F.col("c_custkey") % 5 == 0, "delete")
            .when(F.col("c_custkey") % 5 == 1, "update")
            .otherwise("insert")
            .alias("op"),
            F.floor(base_cents * 11 / 10.0).cast("bigint").alias("new_cents"),
            F.col("c_mktsegment").alias("chg_seg"),
        )
    )
    merged = (
        base.join(changes, base["c_custkey"] == changes["key"], "full_outer")
        .filter(F.col("op").isNull() | (F.col("op") != "delete"))
        .select(
            F.coalesce(F.col("c_custkey"), F.col("key")).alias("key"),
            F.when(F.col("op") == "update", F.col("new_cents"))
            .when((F.col("op") == "insert") & F.col("c_custkey").isNull(), F.col("new_cents"))
            .otherwise(base_cents)
            .alias("cents"),
            F.coalesce(F.col("c_mktsegment"), F.col("chg_seg")).alias("seg"),
        )
    )
    return merged.groupBy("seg").agg(
        F.count("*").alias("n"), F.sum("cents").cast("bigint").alias("sum_bal_cents")
    )


_LATERAL_SQL = """
    SELECT n.n_name, t.c_custkey, t.c_acctbal
    FROM nation n, LATERAL (
      SELECT c_custkey, round(c_acctbal, 2) AS c_acctbal
      FROM customer c WHERE c.c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
    """


@register("join_lateral", oracle=_LATERAL_SQL)
def join_lateral(spark, sf_dir):
    """Correlated LATERAL subquery — per-nation top-2 customers by
    balance, expressed as the SQL-standard lateral join both engines
    parse verbatim.

    Catalyst DECORRELATES the per-row subquery into a set-based plan
    (window/limit per key under a join) rather than re-executing the
    inner query per outer row — the difference between one pass over
    customer and |nation| probe scans.  Tiebreak on c_custkey keeps
    the LIMIT deterministic (R2).
    """
    register_views(spark, sf_dir, ("nation", "customer"))
    return spark.sql(_LATERAL_SQL)


@register(
    "join_asof_forward",
    oracle=f"""
    WITH {_EV_CTE}
    SELECT p.event_id, p.user_id, p.tsec AS purchase_tsec,
           coalesce((SELECT min(v.tsec) FROM ev v
                     WHERE v.user_id = p.user_id AND v.event_type = 'error'
                       AND v.tsec >= p.tsec), -1) AS next_error_tsec
    FROM ev p WHERE p.event_type = 'purchase'
    """,
)
def join_asof_forward(spark, sf_dir):
    """FORWARD as-of join (nearest following match): for each purchase
    the next error by the same user — the "what broke after checkout"
    direction, complementing join_asof's backward lookup.

    Same single-shuffle spine (``_asof_events`` + ``_asof_window``)
    mirrored in time: shuffle ONCE on user_id, carry the next error timestamp BACKWARD
    with first(ignoreNulls) over a currentRow→unboundedFollowing
    frame.  Purchases sort before errors at equal timestamps so a
    simultaneous error is inside the frame (matches the oracle's >=).
    """
    ev = _asof_events(spark, sf_dir, ("error", "purchase"), "purchase")
    w = _asof_window(Window.currentRow, Window.unboundedFollowing)
    err_ts = F.first(F.when(F.col("kind") == 1, F.col("tsec")), ignorenulls=True).over(w)
    return (
        ev.withColumn("next_error_tsec", F.coalesce(err_ts, F.lit(-1)))
        .filter(F.col("kind") == 0)
        .select(
            "event_id", "user_id", F.col("tsec").alias("purchase_tsec"), "next_error_tsec"
        )
    )


@register(
    "basket_pairs",
    oracle=f"""
    WITH {ITEMS_CTE}
    {copurchase_pairs_sql("part_a", "part_b", "support")}
    """,
)
def basket_pairs(spark, sf_dir):
    """Market-basket pair mining: co-purchased part pairs with support
    ≥ 3 — the first step of association-rule mining (the co-view /
    co-purchase recommender signal).

    ``copurchase_pairs`` keys the pair join on l_orderkey, so the
    blowup is bounded by (lines-per-order choose 2) — a per-KEY
    constant (~7 lines in TPC-H), never corpus² — and the
    distinct-items collapse runs map-side first.  The support filter prunes before anything
    downstream; output is the co-occurrence graph's edge list.
    """
    return copurchase_pairs(order_items(spark, sf_dir), "part_a", "part_b", "support")


@register(
    "basket_rules",
    oracle=f"""
    WITH {ITEMS_CTE}, item_n AS (
      SELECT l_partkey, count(*) AS n FROM items GROUP BY 1
    ), pair_n AS (
      {copurchase_pairs_sql("part_a", "part_b", "support")}
    ), orders_n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM items)
    SELECT p.part_a, p.part_b, p.support,
           round(p.support * 1.0 / na.n, 4) AS confidence_a_to_b,
           round(p.support * 1.0 * o.n_orders / (na.n * nb.n), 4) AS lift
    FROM pair_n p
    JOIN item_n na ON na.l_partkey = p.part_a
    JOIN item_n nb ON nb.l_partkey = p.part_b
    CROSS JOIN orders_n o
    """,
)
def basket_rules(spark, sf_dir):
    """Association rules over the basket pairs: confidence
    P(b|a) = supp(ab)/supp(a) and lift = P(ab)/(P(a)P(b)) — the step
    that turns co-occurrence counts into a recommender signal.

    The pairs come from ``copurchase_pairs`` (blowup bounded per
    order); the per-item supports and the 1-row order count are tiny
    relations broadcast back onto the ≥3-support pair list.  Lift > 1
    marks genuinely associated parts rather than merely popular ones.
    """
    items = order_items(spark, sf_dir).persist()
    item_n = items.groupBy("l_partkey").agg(F.count("*").alias("n"))
    pair_n = copurchase_pairs(items, "part_a", "part_b", "support")
    orders_n = items.agg(F.count_distinct("l_orderkey").alias("n_orders"))
    na = item_n.select(F.col("l_partkey").alias("part_a"), F.col("n").alias("na"))
    nb = item_n.select(F.col("l_partkey").alias("part_b"), F.col("n").alias("nb"))
    return (
        pair_n.join(na, "part_a")
        .join(nb, "part_b")
        .crossJoin(F.broadcast(orders_n))
        .select(
            "part_a",
            "part_b",
            "support",
            F.round(F.col("support") * 1.0 / F.col("na"), 4).alias("confidence_a_to_b"),
            F.round(
                F.col("support") * 1.0 * F.col("n_orders") / (F.col("na") * F.col("nb")), 4
            ).alias("lift"),
        )
    )


@register(
    "join_null_safe",
    oracle="""
    WITH a AS (
      SELECT o_orderkey,
             CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_orderstatus END AS k
      FROM orders
    ), b AS (
      SELECT DISTINCT CASE WHEN o_orderstatus = 'P' THEN NULL
                           ELSE o_orderstatus END AS k
      FROM orders
    )
    SELECT coalesce(a.k, '<null>') AS k, count(*) AS n
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    GROUP BY 1
    """,
)
def join_null_safe(spark, sf_dir):
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): NULL
    keys MATCH each other instead of vanishing — the semantics CDC
    merges and dimension lookups with optional keys actually need
    (a plain equi-join silently drops every NULL-keyed row).

    Planned as a regular hash join (null-safe equality is still an
    equi-join key — Spark hashes NULL to a bucket like any value), so
    scale behavior is identical to join_inner_eq; no fallback to a
    nested-loop plan.
    """
    o = t(spark, sf_dir, "orders")
    k = F.when(F.col("o_orderstatus") == "P", None).otherwise(F.col("o_orderstatus"))
    a = o.select("o_orderkey", k.alias("k"))
    b = o.select(k.alias("k")).distinct()
    return (
        a.join(b, a["k"].eqNullSafe(b["k"]))
        .select(F.coalesce(a["k"], F.lit("<null>")).alias("k"))
        .groupBy("k")
        .agg(F.count("*").alias("n"))
    )


@register(
    "diff_snapshots",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus,
             cast(round(o_totalprice * 100) AS bigint) AS cents
      FROM orders
    ),
    v1 AS (
      SELECT o_orderkey AS k, cents / CAST(100.0 AS DOUBLE) AS price,
             o_orderstatus AS st
      FROM base WHERE o_orderkey % 7 <> 0
    ),
    v2 AS (
      SELECT o_orderkey AS k,
             (CASE WHEN o_orderkey % 5 = 0
                   THEN cents + cast(floor(cents / 10) AS bigint)
                   ELSE cents END) / CAST(100.0 AS DOUBLE) AS price,
             o_orderstatus AS st
      FROM base WHERE o_orderkey % 11 <> 0
    )
    SELECT coalesce(v1.k, v2.k) AS k,
           CASE WHEN v1.k IS NULL THEN 'added'
                WHEN v2.k IS NULL THEN 'removed'
                WHEN v1.price <> v2.price OR v1.st <> v2.st THEN 'changed'
                ELSE 'unchanged' END AS diff_kind,
           coalesce(v1.price, -1.0) AS old_price,
           coalesce(v2.price, -1.0) AS new_price
    FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
    WHERE NOT (v1.k IS NOT NULL AND v2.k IS NOT NULL
               AND v1.price = v2.price AND v1.st = v2.st)
    """,
)
def diff_snapshots(spark, sf_dir):
    """Table-version diff (data reconciliation): two snapshots of the
    orders table — v2 drops some rows, adds others, and bumps some
    prices — classified into added / removed / changed by ONE full
    outer join on the key, unchanged rows filtered out.  The
    operational primitive behind CDC validation, migration sign-off
    and "what did last night's load change" (the Datafold/data-diff
    shape).

    Scale shape: a single key-partitioned FULL OUTER hash join — both
    snapshots shuffle once on the key, the classification is a codegen
    projection over the joined row, and the unchanged majority is
    dropped BEFORE any collection (output ∝ churn, not table size).
    For petabyte tables you'd pre-filter both sides with partition-
    level checksums so only dirty partitions join; the row-level core
    stays exactly this.  Prices travel as integer cents (the +10%%
    bump is cents + floor(cents/10)) so the change predicate and the
    emitted doubles are exact in both engines.
    """
    # integer-cents arithmetic for the synthetic +10%% bump: a double
    # x*1.1 lands on exact .005 midpoints (2-dp inputs) and the two
    # engines round them to opposite sides — cents + floor(cents/10)
    # is exact in any engine
    o = t(spark, sf_dir, "orders").withColumn(
        "cents", F.round(F.col("o_totalprice") * 100).cast("bigint")
    )
    v1 = o.filter(F.col("o_orderkey") % 7 != 0).select(
        F.col("o_orderkey").alias("k1"),
        (F.col("cents") / 100.0).alias("price1"),
        F.col("o_orderstatus").alias("st1"),
    )
    v2 = o.filter(F.col("o_orderkey") % 11 != 0).select(
        F.col("o_orderkey").alias("k2"),
        (
            F.when(
                F.col("o_orderkey") % 5 == 0,
                F.col("cents") + F.floor(F.col("cents") / 10).cast("bigint"),
            ).otherwise(F.col("cents"))
            / 100.0
        ).alias("price2"),
        F.col("o_orderstatus").alias("st2"),
    )
    j = v1.join(v2, F.col("k1") == F.col("k2"), "full_outer")
    kind = (
        F.when(F.col("k1").isNull(), "added")
        .when(F.col("k2").isNull(), "removed")
        .when(
            (F.col("price1") != F.col("price2")) | (F.col("st1") != F.col("st2")),
            "changed",
        )
        .otherwise("unchanged")
    )
    return (
        j.withColumn("diff_kind", kind)
        .filter(F.col("diff_kind") != "unchanged")
        .select(
            F.coalesce("k1", "k2").alias("k"),
            "diff_kind",
            F.coalesce("price1", F.lit(-1.0)).alias("old_price"),
            F.coalesce("price2", F.lit(-1.0)).alias("new_price"),
        )
    )


@register(
    "join_strategy_hints",
    oracle="""
    SELECT n_name, count(*) AS n_cust, round(sum(c_acctbal), 2) AS sum_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def join_strategy_hints(spark, sf_dir):
    """Join-strategy HINT surface (MERGE / SHUFFLE_HASH): the manual
    override for when the planner's size estimates are wrong — e.g. a
    "small" dim that explodes after a filter-pushdown misestimate, or
    a sort-merge forced over hash to exploit pre-sorted bucketed
    inputs.  Semantics are hint-INDEPENDENT (what the oracle twin
    checks: the hinted plan must return exactly the unhinted answer);
    only the physical strategy moves.

    This key pins the mechanism: customer⋈nation under a MERGE hint
    plans as SortMergeJoin even though nation is broadcastable —
    proving the hint reached the planner (plan-asserted in
    tests/test_plans.py).  The discipline from SCALE.md §2 still
    holds: hints are a LAST resort after measuring; AQE's runtime
    sizes beat static hints almost always — which is why every other
    join in this registry is unhinted or broadcast-by-proof.
    """
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation").hint("merge")
    return (
        c.join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_cust"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_bal"),
        )
    )


@register(
    "cdc_net_changes",
    oracle=f"""
    WITH changes AS (
      SELECT user_id,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
             value,
             {TSEC} * 10000000 + event_id AS ver
      FROM events
      WHERE event_type IN ('purchase', 'signup', 'error')
    )
    SELECT user_id,
           CASE WHEN arg_max(op, ver) = 'D' THEN 'DELETE' ELSE 'UPSERT' END AS net_op,
           CASE WHEN arg_max(op, ver) = 'D' THEN NULL
                ELSE round(arg_max(value, ver), 2) END AS final_value,
           cast(count(*) AS bigint) AS n_collapsed
    FROM changes
    GROUP BY user_id
    """,
)
def cdc_net_changes(spark, sf_dir):
    """CDC net-effect collapse: reduce a change stream (upserts +
    deletes per key) to ONE net operation per key — what a lakehouse
    compactor emits before applying a day of Debezium traffic, so the
    expensive MERGE touches each key once instead of once per change.

    Events map to a change feed (errors = deletes, purchases/signups
    = upserts) versioned by the packed (epoch-second, event_id) bigint
    — the same total-order trick as merge_upsert/stream_cdc_apply, so
    recency resolution is exact integer arithmetic, never a float-ts
    comparison.  Last-writer-wins per key via max_by in ONE map-side-
    combined aggregate (never a full-ranking window: partial max_by
    state is a single struct per key per partition); a key whose
    latest change is a delete nets to DELETE with NULL value.

    Scale: one shuffle keyed on user_id, output |keys| rows.  The
    n_collapsed column quantifies the write amplification saved
    (changes per key collapsed into one MERGE row).
    """
    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "signup", "error")
    )
    # op encoded as INT (1 = delete) so max_by stays hash-agg mutable
    # (a string-valued max_by falls back to SortAggregate)
    changes = ev.select(
        "user_id",
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("op_del"),
        "value",
        (unix_secs(F.col("ts")) * 10000000 + F.col("event_id")).alias("ver"),
    )
    last_del = F.max_by("op_del", "ver")
    return changes.groupBy("user_id").agg(
        F.when(last_del == 1, "DELETE").otherwise("UPSERT").alias("net_op"),
        F.when(last_del == 1, F.lit(None).cast("double"))
        .otherwise(F.round(F.max_by("value", "ver"), 2))
        .alias("final_value"),
        F.count("*").cast("bigint").alias("n_collapsed"),
    )


@register(
    "join_phonetic",
    oracle="""
    WITH probes AS (
      SELECT * FROM (VALUES
        ('smal ring'), ('red widgit'), ('blu bolt'),
        ('hot geer'), ('small gizmmo'), ('grean cable')
      ) AS v(probe)
    ),
    pk AS (
      SELECT probe,
             array_to_string(list_sort(list_distinct(string_split(
               regexp_replace(lower(probe), '[aeiou ]', '', 'g'), ''))), '') AS pkey
      FROM probes
    ),
    nk AS (
      SELECT DISTINCT p_name,
             array_to_string(list_sort(list_distinct(string_split(
               regexp_replace(lower(p_name), '[aeiou ]', '', 'g'), ''))), '') AS nkey
      FROM part
    )
    SELECT probe, p_name,
           cast(levenshtein(probe, p_name) AS bigint) AS edit_dist
    FROM pk JOIN nk ON pkey = nkey
    WHERE levenshtein(probe, p_name) <= 3
    """,
)
def join_phonetic(spark, sf_dir):
    """Fuzzy name resolution via PHONETIC-SKELETON blocking: match
    misspelled probe names ('red widgit') to catalog part names by
    equi-joining on a consonant-set signature (lowercase → drop vowels
    and spaces → sorted DISTINCT consonants; backreference-free, so
    the same expression runs on RE2 and PCRE engines), then verifying
    candidates with levenshtein ≤ 3 — the entity-resolution pattern
    where an O(n·m) fuzzy match becomes an equi-join plus per-BUCKET
    verification.

    'small ring' and 'smal ring' both sign to 'glmnrs', so the typo
    class (dropped/doubled letters, vowel swaps, transpositions)
    lands in the same block by construction; levenshtein runs ONLY
    inside blocks
    (never all-pairs — the same blocking discipline as
    dedup_edit_distance).  At 100 TB the catalog side's skeleton
    key is uniformly distributed (names), the probe side broadcast.
    """
    from raster2points_spark.io import local_df

    probes = local_df(
        spark,
        [
            ("smal ring",),
            ("red widgit",),
            ("blu bolt",),
            ("hot geer",),
            ("small gizmmo",),
            ("grean cable",),
        ],
        "probe string",
    )

    def skeleton(col):
        no_vowels = F.regexp_replace(F.lower(col), "[aeiou ]", "")
        return F.array_join(
            F.array_sort(F.array_distinct(F.array_remove(F.split(no_vowels, ""), ""))),
            "",
        )

    pk = probes.select("probe", skeleton(F.col("probe")).alias("pkey"))
    nk = (
        t(spark, sf_dir, "part")
        .select("p_name")
        .distinct()
        .withColumn("nkey", skeleton(F.col("p_name")))
    )
    return (
        F.broadcast(pk)
        .join(nk, F.col("pkey") == F.col("nkey"))
        .withColumn("edit_dist", F.levenshtein("probe", "p_name").cast("bigint"))
        .filter(F.col("edit_dist") <= 3)
        .select("probe", "p_name", "edit_dist")
    )


@register(
    "join_bloom_runtime",
    oracle="""
    SELECT o_orderpriority,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           cast(count(*) AS bigint) AS n_lines
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    WHERE o_orderdate >= timestamp '2001-06-01'
    GROUP BY o_orderpriority
    """,
)
def join_bloom_runtime(spark, sf_dir):
    """Runtime BLOOM-FILTER semi-join reduction: Catalyst's
    InjectRuntimeFilter builds a bloom filter over the SELECTIVE side's
    join keys (date-pruned orders) and pushes a
    ``bloom_filter_might_contain`` probe into the fact scan, so
    lineitem rows for non-qualifying orders are dropped BEFORE the
    shuffle — at 100 TB this is the difference between shuffling the
    full fact table and shuffling the ~2% that survives.

    The injection thresholds are sized for real clusters (creation
    side < 100 MB, application side > 10 GB), so at test scale the
    knobs are scoped to a ``spark.newSession()`` — SAME SparkContext,
    ISOLATED SQLConf: the parent session's planner is untouched (the
    conf-scoping pattern for per-pipeline tuning).  Broadcast is
    disabled in the scope to force the shuffle join the filter
    exists to protect; on a cluster the same plan arises naturally
    when both sides exceed the broadcast threshold.
    """
    scoped = spark.newSession()
    scoped.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    scoped.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB"
    )
    scoped.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
    )
    scoped.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    o = t(scoped, sf_dir, "orders").filter(F.col("o_orderdate") >= "2001-06-01")
    li = t(scoped, sf_dir, "lineitem")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").cast("bigint").alias("n_lines"),
        )
    )


@register(
    "join_not_in_nullaware",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice,
             CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_custkey END AS xb
      FROM orders
    ),
    vip AS (
      SELECT c_custkey FROM customer WHERE c_acctbal > 9000
    )
    SELECT o_orderstatus,
           cast(count(*) AS bigint) AS n_orders,
           round(sum(o_totalprice), 2) AS total
    FROM o
    WHERE xb NOT IN (SELECT c_custkey FROM vip)
    GROUP BY o_orderstatus
    """,
)
def join_not_in_nullaware(spark, sf_dir):
    """NOT IN with a NULLABLE probe key — the three-valued-logic trap
    and the NULL-AWARE ANTI JOIN Spark plans for it: ``x NOT IN (S)``
    is UNKNOWN (not TRUE) when x is NULL, so every pending order
    (whose bucket key is NULLed here) drops out even though it
    matches nothing — semantics an ordinary left_anti would get
    WRONG (left_anti keeps null-keyed rows; NAAJ must not).

    Catalyst rewrites the predicate to LeftAnti with the
    null-aware condition (key match OR isnull(key)) — on the
    broadcast build side this is the single-pass NAAJ; the oracle
    runs the identical standard SQL, so the hash match pins the
    three-valued semantics cross-engine, P-status rows excluded on
    both sides.  At scale: the VIP set broadcasts; the fact is
    scanned once; no extra shuffle beyond the final 3-group agg.
    """
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.when(F.col("o_orderstatus") == "P", F.lit(None))
        .otherwise(F.col("o_custkey"))
        .alias("xb"),
    )
    vip = t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000).select(
        "c_custkey"
    )
    o.createOrReplaceTempView("naaj_orders")
    vip.createOrReplaceTempView("naaj_vip")
    return spark.sql(
        """
        SELECT o_orderstatus,
               cast(count(*) AS bigint) AS n_orders,
               round(sum(o_totalprice), 2) AS total
        FROM naaj_orders
        WHERE xb NOT IN (SELECT c_custkey FROM naaj_vip)
        GROUP BY o_orderstatus
        """
    )


_ALLEN_CASE = """CASE
  WHEN sa = sb AND ea = eb THEN 'equals'
  WHEN ea < sb THEN 'before'
  WHEN eb < sa THEN 'after'
  WHEN ea = sb THEN 'meets'
  WHEN eb = sa THEN 'met_by'
  WHEN sa = sb AND ea < eb THEN 'starts'
  WHEN sa = sb AND ea > eb THEN 'started_by'
  WHEN ea = eb AND sa > sb THEN 'finishes'
  WHEN ea = eb AND sa < sb THEN 'finished_by'
  WHEN sa > sb AND ea < eb THEN 'during'
  WHEN sa < sb AND ea > eb THEN 'contains'
  WHEN sa < sb THEN 'overlaps'
  ELSE 'overlapped_by' END"""


@register(
    "join_allen_relations",
    oracle=f"""
    WITH iv AS (
      SELECT user_id, event_type,
             cast(floor(epoch(min(ts))) AS bigint) AS s,
             cast(floor(epoch(max(ts))) AS bigint) AS e
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.user_id, a.event_type AS type_a, b.event_type AS type_b,
             a.s AS sa, a.e AS ea, b.s AS sb, b.e AS eb
      FROM iv a JOIN iv b
        ON b.user_id = a.user_id AND a.event_type < b.event_type
    )
    SELECT {_ALLEN_CASE} AS relation,
           cast(count(*) AS bigint) AS n_pairs
    FROM pairs
    GROUP BY 1
    """,
)
def join_allen_relations(spark, sf_dir):
    """Allen's interval algebra — classify every pair of per-(user,
    event-type) activity intervals into the 13 temporal relations
    (equals/before/meets/overlaps/starts/during/finishes + inverses):
    the vocabulary temporal reasoning engines, process mining and
    conflict detection are built on, as one declarative plan.

    Intervals collapse from the fact in ONE map-side-combined min/max
    aggregate (|users|×|types| rows); the pair space is an equi-join
    on user_id with the type ordering as residual — bounded at
    C(|types|, 2) per user, never a cross join.  The 13-way CASE is
    a codegen projection evaluated once per pair, with the mutually-
    exclusive guards ordered so equality cases win before the open
    ones (the same literal CASE text runs in both engines, at
    second granularity per R3).
    """
    iv = (
        t(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(
            unix_secs(F.min("ts")).alias("s"),
            unix_secs(F.max("ts")).alias("e"),
        )
    )
    a = iv.alias("a")
    b = iv.alias("b")
    pairs = a.join(
        b,
        (F.col("b.user_id") == F.col("a.user_id"))
        & (F.col("a.event_type") < F.col("b.event_type")),
    ).select(
        F.col("a.s").alias("sa"),
        F.col("a.e").alias("ea"),
        F.col("b.s").alias("sb"),
        F.col("b.e").alias("eb"),
    )
    return pairs.select(F.expr(_ALLEN_CASE).alias("relation")).groupBy(
        "relation"
    ).agg(F.count("*").cast("bigint").alias("n_pairs"))


@register(
    "join_asof_tolerance",
    oracle=f"""
    WITH ev AS (
      SELECT event_id, user_id, event_type, {TSEC} AS tsec,
             CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS kind
      FROM events WHERE event_type IN ('view', 'purchase')
    ),
    carried AS (
      SELECT event_id, user_id, tsec, kind,
             max(CASE WHEN kind = 0 THEN tsec END) OVER (
               PARTITION BY user_id ORDER BY tsec, kind, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS last_view_tsec
      FROM ev
    )
    SELECT event_id, user_id, tsec AS purchase_tsec,
           CASE WHEN last_view_tsec IS NOT NULL
                 AND tsec - last_view_tsec <= 3600
                THEN last_view_tsec END AS matched_view_tsec,
           (last_view_tsec IS NOT NULL AND tsec - last_view_tsec <= 3600)
             AS within_tolerance
    FROM carried WHERE kind = 1
    """,
)
def join_asof_tolerance(spark, sf_dir):
    """As-of join with a STALENESS TOLERANCE (match only if the prior
    view is ≤ 1 hour old) — the feature-store point-in-time lookup
    rule: a feature older than the freshness SLA must surface as
    MISSING (NULL), not silently joined — stale features are the
    classic training/serving skew bug.

    Same single-shuffle spine as join_asof (``_asof_events`` +
    ``_asof_window``: one user_id window carrying the latest view
    forward; a simultaneous view is visible to the purchase), plus the tolerance predicate applied
    AFTER the carry — the match is nulled, not the row dropped, so
    downstream sees the gap explicitly (within_tolerance flag
    alongside).  NOTE the carry must be max-over-views (not
    last-non-null) for the oracle twin: both engines compute the
    same running max.  O(n log n) per user, no correlated probe.
    """
    ev = _asof_events(spark, sf_dir, ("view", "purchase"), "view")
    w = _asof_window(Window.unboundedPreceding, Window.currentRow)
    last_view = F.max(F.when(F.col("kind") == 0, F.col("tsec"))).over(w)
    fresh = last_view.isNotNull() & (
        (F.col("tsec") - last_view) <= 3600
    )
    return (
        ev.withColumn("matched_view_tsec", F.when(fresh, last_view))
        .withColumn("within_tolerance", fresh)
        .filter(F.col("kind") == 1)
        .select(
            "event_id",
            "user_id",
            F.col("tsec").alias("purchase_tsec"),
            "matched_view_tsec",
            "within_tolerance",
        )
    )

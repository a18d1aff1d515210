"""Shared helpers for registered queries.

Determinism helpers implement SURVEY.md §7 risks:
- ``unix_secs`` — events.ts storage unit has changed across corpus
  generations (ns in r1-r2, µs since r3); the loader sniffs the footer
  (io.load_events) and sub-second precision may differ between engines,
  so every declared query compares time at whole-second granularity
  (epoch seconds as BIGINT).  Oracle-side twin:
  ``cast(floor(epoch(ts)) as bigint)``.
- floats: round in BOTH engines before hashing (see each query).

Each kernel that several query modules share — the time bucket, the
per-type bucketed series, the daily rollup, the sessionization and
the co-purchase pairs — is defined here once, as a Spark builder next
to its DuckDB text.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from raster2points_spark.io import table

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
GRID_DIR = os.path.join(REPO_ROOT, "fixtures", "grid")
# Per-PROCESS scratch root: sink/layout keys write-then-reread fixed
# relative paths under here, so two concurrent processes (e.g. the
# grading driver and a local pytest) sharing one directory would race
# each other's overwrites mid-read.  The pid suffix isolates them;
# within a process, reruns still reuse (and correctly overwrite) the
# same paths.  SPARK_GRAFT_SCRATCH overrides verbatim for callers that
# deliberately want a shared/stable location.
SCRATCH = os.environ.get(
    "SPARK_GRAFT_SCRATCH", f"/tmp/r2p_spark_scratch_{os.getpid()}"
)


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Defensive: declared queries are graded inside the DRIVER's session,
    # whose confs we don't control.  Timestamp↔epoch expressions (R3)
    # are only DuckDB-comparable under UTC, so verify the conf itself on
    # every load — a Python-side flag would go stale if co-hosted code
    # reset the TZ between keys (r8 ADVICE).  conf.get is one py4j
    # round-trip (~100 µs); correctness of every timestamp key is worth
    # it, and the set() only fires when the value actually drifted.
    if spark.conf.get("spark.sql.session.timeZone", None) != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    return table(spark, sf_dir, name)


# fan-out floor for the measured-light per-row cost class: below this
# the exchange's ~0.15-0.25 s fixed cost exceeds the serial compute it
# saves (measured at sf0.1's 1-5 MB files); above it the serial scan
# task dominates (measured at the 51 MB 100x embeddings slice)
_LIGHT_FLOOR = 16 << 20
# fan-out ceiling: above it the scan itself has enough splits
_FANOUT_MAX = 64 << 20


def t_fanout(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    heavy: bool = True,
) -> DataFrame:
    """Table load with a size-gated fan-out for CPU-heavy projections.

    A tiny parquet file is one row group → one scan task, so an
    md5/minhash/dot-product pipeline over it runs single-threaded no
    matter how many cores exist.  When the file is smaller than
    ``_FANOUT_MAX`` we repartition to the default parallelism — the
    shuffle moves <64 MB, negligible next to the compute it unlocks.
    At real scale the gate is false and the plan is untouched (the
    scan itself provides parallelism; an unconditional repartition
    would be a pointless full shuffle of the corpus).

    ``heavy`` is the measured per-row cost class (r16, VERDICT r15
    #4): for keys whose first operator is a cheap projection or an
    early map-side aggregate the fan-out exchange costs more than the
    parallelism buys at TOY scale (A/B over every t_fanout bench key,
    3 cold runs each mode, min-of-3: e.g. sim_ivf −0.44 s,
    ml_kmeans_lloyd −0.28 s, text_unigram_ppl −0.24 s without the
    fan-out at sf0.1's ~1-5 MB files, vs dedup_edit_distance +4.55 s,
    dedup_near +3.22 s, embed_power_iteration +3.09 s WITH it — the
    full table is in OPTIMIZATION_r16.md).  ``heavy=False`` keeps the
    fan-out but raises its FLOOR: below ``_LIGHT_FLOOR`` the ~fixed
    exchange cost exceeds the serial compute it saves; above it even
    cheap-per-row work over millions of rows wants the cores (the
    r16 100×-slice probe measured ml_kmeans_lloyd at 58 s on a 51 MB
    single-split file with the fan-out skipped outright — one scan
    task made every Lloyd round serial at ANY core count).  Serial
    compute grows linearly with file size while the exchange cost is
    ~fixed, so the class only moves the crossover, it never disables
    the gate.
    """
    df = t(spark, sf_dir, name)
    floor = 0 if heavy else _LIGHT_FLOOR
    try:
        if floor <= os.path.getsize(os.path.join(sf_dir, f"{name}.parquet")) < _FANOUT_MAX:
            return df.repartition(spark.sparkContext.defaultParallelism)
    except OSError:
        pass
    return df


def bucketed_prefix_sums(
    spark: SparkSession,
    rel: DataFrame,
    v: str,
    cols: list[str],
    carry: tuple[str, ...] = (),
    preceding_only: bool = False,
) -> DataFrame:
    """Parallel exact prefix sums over a collapsed, orderable axis.

    Replaces a single-partition global window (``sum(c) OVER (ORDER BY
    v)``) — whose WindowExec funnels the whole axis through ONE task at
    any scale — with a range-BUCKETED two-pass prefix sum (guide §2.5,
    VERDICT r15 #6):

    1. bucket ``_b`` = a DETERMINISTIC monotone function of ``v``
       (linear interpolation between the axis min/max, broadcast as a
       1-row aggregate).  Unlike ``repartitionByRange`` + pid stamping
       (the first r16 cut), this needs NO RangePartitioner sampling
       job (which re-executed the whole upstream aggregate once more
       per run) and is immune to AQE laying two re-executions out
       differently — the bucket is a row function, not a physical
       partition id, so every consumer sees the same value by
       construction.
    2. a ``_b``-partitioned window cumulates within buckets in
       parallel (one ~|axis|/nb sort per bucket, never a global one).
    3. per-bucket totals collapse into ONE sorted nb-row array whose
       prefix folds yield each bucket's preceding-bucket offset
       (``off_<c>``) and the grand totals (``tot_<c>``), exploded back
       to an nb-row table and broadcast-hash-joined on ``_b``.

    All additions are exact integer arithmetic over associative sums,
    so ``cum_<c> = window(cum) + off`` is bit-identical to the global
    window at ANY bucketing; min/max interpolation only affects bucket
    BALANCE (uniform-ish axes spread evenly; a skewed axis degrades
    toward fewer effective buckets, never toward wrong results).

    ``rel`` must be one row per distinct ``v`` (or at least: rows that
    share a ``v`` may land in either order — pass ``preceding_only``
    frames only over distinct axes).  ``rel`` is persisted (it feeds
    the min/max probe, the cumsum pass and the totals pass; the bench
    CacheManager note in bench.py applies).  Returns ``carry`` columns
    plus ``cum_<c>`` and ``tot_<c>`` for each ``c`` in ``cols``.
    ``preceding_only`` ends the frame at ``-1`` (exclusive cumsum,
    empty-frame rows coalesce to 0L).
    """
    from pyspark.sql import Window

    nb = int(spark.conf.get("spark.sql.shuffle.partitions"))
    pv = rel.persist()
    mm = pv.agg(F.min(v).alias("_mn"), F.max(v).alias("_mx"))
    span = F.col("_mx") - F.col("_mn")
    bid = (
        F.when(
            span > 0,
            F.least(F.lit(nb - 1), F.floor((F.col(v) - F.col("_mn")) / span * nb)),
        )
        .otherwise(F.lit(0))
        .cast("int")
    )
    pb = pv.crossJoin(F.broadcast(mm)).withColumn("_b", bid)
    end = -1 if preceding_only else 0
    wp = Window.partitionBy("_b").orderBy(v).rowsBetween(Window.unboundedPreceding, end)
    cum = pb.select(
        "_b",
        *carry,
        *[F.coalesce(F.sum(c).over(wp), F.lit(0)).alias(f"cum_{c}") for c in cols],
    )
    struct_expr = "struct(_b" + "".join(f", {c}" for c in cols) + ")"
    offs = (
        pb.groupBy("_b")
        .agg(*[F.sum(c).alias(c) for c in cols])
        .agg(F.expr(f"sort_array(collect_list({struct_expr}))").alias("a"))
        .select(
            F.explode(
                F.expr(
                    "transform(a, (s, i) -> struct(s._b as _b"
                    + "".join(
                        f", aggregate(slice(a, 1, i), 0L, (acc, x) -> acc + x.{c})"
                        f" as off_{c}"
                        for c in cols
                    )
                    + "".join(
                        f", aggregate(a, 0L, (acc, x) -> acc + x.{c}) as tot_{c}"
                        for c in cols
                    )
                    + "))"
                )
            ).alias("o")
        )
        .select("o.*")
    )
    return cum.join(F.broadcast(offs), "_b").select(
        *carry,
        *[(F.col(f"cum_{c}") + F.col(f"off_{c}")).alias(f"cum_{c}") for c in cols],
        *[F.col(f"tot_{c}") for c in cols],
    )


def unix_secs(col: Column) -> Column:
    """Epoch seconds as BIGINT from a (possibly NTZ) timestamp column.

    Session TZ is UTC, so NTZ→TZ cast is identity; unix_seconds
    truncates sub-second parts — matching the DuckDB oracle expression
    ``TSEC``.
    """
    return F.unix_seconds(col.cast("timestamp"))


# events.ts in epoch seconds, DuckDB side (Spark side: unix_secs(ts))
TSEC = "cast(floor(epoch(ts)) as bigint)"


def bucket(n: int, tsec: Column | None = None) -> Column:
    """Time bucket ``floor(tsec / n)`` as BIGINT; ``tsec`` defaults to
    ``unix_secs(ts)``.  DuckDB twin: ``bucket_sql``."""
    tsec = unix_secs(F.col("ts")) if tsec is None else tsec
    return F.floor(tsec / n).cast("bigint")


def bucket_sql(n: int, tsec: str = TSEC) -> str:
    return f"cast(floor({tsec} / {n}) AS bigint)"


def type_buckets(spark: SparkSession, sf_dir: str, n: int, name: str, *aggs: Column) -> DataFrame:
    """``events`` grouped by (event_type, ``bucket(n)`` AS ``name``) —
    the hourly bars and daily series of the time-series keys.  DuckDB
    twin: ``type_buckets_sql``."""
    return t(spark, sf_dir, "events").groupBy("event_type", bucket(n).alias(name)).agg(*aggs)


def type_buckets_sql(n: int, name: str, aggs: str) -> str:
    return f"""SELECT event_type, {bucket_sql(n)} AS {name}, {aggs}
      FROM events GROUP BY 1, 2"""


def daily_rollup(df: DataFrame) -> DataFrame:
    """Per-(event_type, day) count ``n`` and value sum ``sv``: the
    decomposable partials a standing daily MV stores and merges."""
    return df.groupBy("event_type", "day").agg(F.count("*").alias("n"), F.sum("value").alias("sv"))


# Gaps-and-islands sessionization at a 30-minute gap: ``numbered`` has
# one row per event with its per-user ``session_no``.  Spark twin:
# behavioral._sessions.
SESSION_GAP_S = 1800
SESSION_CTES = f"""e AS (
      SELECT user_id, event_id, {TSEC} AS tsec FROM events
    ), flagged AS (
      SELECT user_id, event_id, tsec,
             CASE WHEN tsec - lag(tsec) OVER w > {SESSION_GAP_S}
                    OR lag(tsec) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id)
    ), numbered AS (
      SELECT user_id, tsec,
             cast(sum(new_s) OVER (PARTITION BY user_id ORDER BY tsec, event_id
                                   ROWS UNBOUNDED PRECEDING) AS bigint) AS session_no
      FROM flagged
    )"""


def order_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (order, part) pairs of ``lineitem``: the baskets."""
    return t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()


def copurchase_pairs(items: DataFrame, a: str, b: str, n: str) -> DataFrame:
    """Part pairs ``a < b`` bought together in at least 3 orders, with
    the order count ``n``.  The self-join keys on l_orderkey, so the
    blowup is bounded by (lines-per-order choose 2) per order, never
    corpus².  DuckDB twin: ``ITEMS_CTE`` + ``copurchase_pairs_sql``."""
    x, y = items.alias("a"), items.alias("b")
    return (
        x.join(
            y,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias(a), F.col("b.l_partkey").alias(b))
        .agg(F.count("*").alias(n))
        .filter(F.col(n) >= 3)
    )


ITEMS_CTE = "items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)"


def copurchase_pairs_sql(a: str, b: str, n: str) -> str:
    return f"""SELECT a.l_partkey AS {a}, b.l_partkey AS {b}, count(*) AS {n}
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 3"""

"""§2.10 streaming operators over events.

Batch `window()` / `session_window()` are the SAME functions Structured
Streaming executes incrementally, so the oracle-checked keys here run
them in batch (hash-comparable against DuckDB bucket arithmetic), and
the rows-only keys run genuinely-streaming plans (watermark, stateful
dedup, custom grouped state) through an availableNow replay into a
memory sink — each with a DECLARED deterministic batch-equivalence
contract the driver's row counts grade and tools/nonoracle_pins.py
re-proves exactly each round (promoted from smoke in r10).

Determinism (SURVEY §7 R3/R4): events.ts storage unit varies by corpus
generation (ns → µs); the loader sniffs the parquet footer.  Every
comparison here happens at whole-second or coarser granularity —
window starts are emitted as epoch-second BIGINTs, session gap logic
runs on second-truncated timestamps in BOTH engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from raster2points_spark.registry import register
from raster2points_spark.queries._util import t, unix_secs
from raster2points_spark.streaming import read_events_stream, run_available_now


@register(
    "stream_tumbling",
    oracle="""
    SELECT cast(floor(epoch(date_trunc('hour', ts))) AS bigint) AS ws,
           event_type, count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling(spark, sf_dir):
    """1-hour tumbling counts/sums per event_type — `window()` is the
    streaming aggregation function, run in batch for the oracle."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            unix_secs(F.col("w.start")).alias("ws"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@register(
    "stream_sliding",
    oracle="""
    WITH s AS (
        SELECT cast(floor(epoch(ts) / 1800) AS bigint) * 1800 - k * 1800 AS ws,
               event_type, value
        FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k)
    )
    SELECT ws, event_type, count(*) AS n, round(sum(value), 2) AS sum_value
    FROM s GROUP BY 1, 2
    """,
)
def stream_sliding(spark, sf_dir):
    """1-hour window sliding every 30 min (each event lands in exactly
    2 windows); oracle materializes the 2 bucket offsets via unnest."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            unix_secs(F.col("w.start")).alias("ws"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@register(
    "stream_session",
    oracle="""
    WITH e AS (
        SELECT user_id, cast(floor(epoch(ts)) AS bigint) AS ts_s, value FROM events
    ),
    flg AS (
        SELECT user_id, ts_s, value,
               CASE WHEN ts_s - lag(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s) > 600
                    THEN 1 ELSE 0 END AS new_s
        FROM e
    ),
    sess AS (
        SELECT user_id, ts_s, value,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_s
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM flg
    )
    SELECT user_id, min(ts_s) AS sess_start, count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM sess GROUP BY user_id, sid
    """,
)
def stream_session(spark, sf_dir):
    """Per-user session windows, 10-min inactivity gap.

    `session_window()` (the streaming stateful operator, in batch) on
    second-truncated ts; the oracle is the classic gaps-and-islands
    rewrite (lag + cumulative sum).  Session split rule matches Spark
    (verified empirically at sf0.01): an event exactly gap seconds
    after the last still MERGES; only delta > gap starts a new session.
    """
    ev = t(spark, sf_dir, "events").withColumn("tss", F.date_trunc("second", F.col("ts")))
    return (
        ev.groupBy("user_id", F.session_window("tss", "10 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            "user_id",
            unix_secs(F.col("w.start")).alias("sess_start"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "stream_funnel",
    oracle="""
    WITH stages AS (
        SELECT user_id,
               min(cast(floor(epoch(ts)) AS bigint)) FILTER (WHERE event_type = 'signup')
                   AS t_signup,
               min(cast(floor(epoch(ts)) AS bigint)) FILTER (WHERE event_type = 'view')
                   AS t_view,
               min(cast(floor(epoch(ts)) AS bigint)) FILTER (WHERE event_type = 'purchase')
                   AS t_purchase
        FROM events GROUP BY user_id
    )
    SELECT user_id, t_signup, t_view, t_purchase
    FROM stages
    WHERE t_signup IS NOT NULL AND t_view IS NOT NULL AND t_purchase IS NOT NULL
      AND t_signup <= t_view AND t_view <= t_purchase
    """,
)
def stream_funnel(spark, sf_dir):
    """signup→view→purchase funnel: users whose earliest stage
    timestamps are monotonically ordered.  One shuffle (by user_id)
    with conditional-min partial aggregation — the scalable funnel
    shape (no per-stage self-joins)."""
    ev = t(spark, sf_dir, "events")

    def stage_min(et):
        return F.min(F.when(F.col("event_type") == et, unix_secs(F.col("ts"))))

    stages = ev.groupBy("user_id").agg(
        stage_min("signup").alias("t_signup"),
        stage_min("view").alias("t_view"),
        stage_min("purchase").alias("t_purchase"),
    )
    return stages.filter(
        F.col("t_signup").isNotNull()
        & F.col("t_view").isNotNull()
        & F.col("t_purchase").isNotNull()
        & (F.col("t_signup") <= F.col("t_view"))
        & (F.col("t_view") <= F.col("t_purchase"))
    )


@register(
    "stream_stream_join",
    oracle="""
    WITH ev AS (
        SELECT event_id, user_id, event_type,
               cast(floor(epoch(ts)) AS bigint) AS tsec
        FROM events
    )
    SELECT p.event_id AS purchase_id, v.event_id AS view_id, p.user_id,
           p.tsec AS purchase_tsec, v.tsec AS view_tsec
    FROM ev p JOIN ev v
      ON p.user_id = v.user_id
     AND p.event_type = 'purchase' AND v.event_type = 'view'
     AND v.tsec >= p.tsec - 3600 AND v.tsec <= p.tsec
    """,
)
def stream_stream_join(spark, sf_dir):
    """Stream-stream inner join: purchases ⋈ views of the same user
    within the preceding hour — REAL Structured Streaming (two
    watermarked streams, event-time range join condition, state kept
    only for the watermark horizon), drained with availableNow.

    Fully ORACLE-CHECKED: on a bounded replay an inner stream-stream
    join emits exactly the batch join result, so the stateful join
    machinery itself is hash-verified against DuckDB, not just
    smoke-run.  The generous watermark guarantees completeness on the
    test corpus; on an unbounded feed you would tighten it to bound
    state (the join condition already lets Spark expire view-state
    older than an hour behind the purchase watermark).

    Replays in 2 coarse micro-batches (max_files_per_trigger=4 over 8
    slices): still genuinely cross-batch — batch-1 view-state joins
    batch-2 purchases, asserted by the batch-equality test — but with
    4x fewer state-store commit rounds than the aggregation keys,
    whose per-batch state cost is far lower.
    """
    ev = read_events_stream(spark, sf_dir, max_files_per_trigger=4)
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "30 days")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "30 days")
    )
    joined = purchases.join(
        views,
        (F.col("user_id") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("v_ts") <= F.col("p_ts")),
        "inner",
    ).select(
        "purchase_id",
        "view_id",
        "user_id",
        unix_secs(F.col("p_ts")).alias("purchase_tsec"),
        unix_secs(F.col("v_ts")).alias("view_tsec"),
    )
    return run_available_now(joined, "ss_join", output_mode="append")


@register("stream_watermark", check="rows-only")
def stream_watermark(spark, sf_dir):
    """Real Structured Streaming: 15-min watermark + 1-h tumbling agg,
    replayed with trigger(availableNow).  Append mode emits only
    windows the watermark has closed.

    Declared rows-only contract (deterministic — the replay slices the
    events file chronologically, so watermark advancement is fixed):
    every emitted (window, event_type, n) row must EQUAL the batch
    tumbling aggregate's row, and emitted windows are exactly those the
    final watermark closed.  Pinned exactly in
    tools/nonoracle_pins.py::_stream_watermark and
    tests/test_streaming.py; the driver grades the stable row count."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "15 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(unix_secs(F.col("w.start")).alias("ws"), "event_type", "n")
    )
    return run_available_now(agg, "wm_tumbling", output_mode="append").orderBy(
        "ws", "event_type"
    )


@register("stream_dedup_state", check="rows-only")
def stream_dedup_state(spark, sf_dir):
    """Stateful streaming dedup on event_id within the watermark
    (dropDuplicatesWithinWatermark), then per-type counts of the
    deduplicated stream.

    Declared rows-only contract (deterministic): corpus event_ids are
    unique, so stateful dedup is a no-op and per-type streamed counts
    EQUAL the batch counts — one row per event type.  Pinned exactly in
    tools/nonoracle_pins.py::_stream_dedup and tests/test_streaming.py."""
    ev = read_events_stream(spark, sf_dir)
    deduped = ev.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(["event_id"])
    out = run_available_now(deduped, "dedup_state", output_mode="append")
    return out.groupBy("event_type").agg(F.count("*").alias("n")).orderBy("event_type")


@register("stream_custom_state", check="rows-only")
def stream_custom_state(spark, sf_dir):
    """Custom stateful streaming operator via applyInPandasWithState:
    a per-user running event counter + value accumulator whose state
    survives across micro-batches.  This is the extension point for
    operators Spark lacks natively (custom sessionization, CEP-ish
    logic, online aggregates); the grouped-state API keeps state
    partitioned by key across the cluster.

    Declared rows-only contract (deterministic): the final per-user
    state EQUALS the batch per-user event count — one row per user.
    Pinned exactly in tools/nonoracle_pins.py::_stream_custom."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = read_events_stream(spark, sf_dir).select("user_id", "value")

    def count_events(key, pdf_iter, state: GroupState):
        (user_id,) = key
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "sum_value": [round(total, 2)]}
        )

    counted = ev.groupBy("user_id").applyInPandasWithState(
        count_events,
        outputStructType="user_id long, n_events long, sum_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_available_now(counted, "custom_state", output_mode="update")
    # update mode emits one row per (user, micro-batch); the final state
    # per user is the max event count.
    return (
        out.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
        .orderBy("user_id")
    )


@register(
    "stream_foreach_batch",
    oracle="""
    SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events GROUP BY 1
    """,
)
def stream_foreach_batch(spark, sf_dir):
    """foreachBatch sink — THE production pattern for writing a stream
    into a non-streaming system: each micro-batch delivers the COMPLETE
    aggregate and overwrites the target idempotently, so a re-delivered
    batch after a failure rewrites identical data (effectively-once on
    top of at-least-once delivery).  After the availableNow drain the
    parquet target must equal the plain batch aggregate — exactly what
    the oracle asserts, making this the one streaming SINK with a full
    value-hash check.
    """
    import os as _os
    import tempfile

    from raster2points_spark.queries._util import SCRATCH

    ev = read_events_stream(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value")
    )
    out = _os.path.join(SCRATCH, "foreach_batch_sink")

    def write_batch(batch_df, batch_id):
        batch_df.write.mode("overwrite").parquet(out)

    from raster2points_spark.streaming import scoped_shuffle_partitions

    for q in spark.streams.active:
        if q.name == "foreach_batch":
            q.stop()
    ckpt = tempfile.mkdtemp(prefix="ckpt_feb_")
    with scoped_shuffle_partitions(spark):
        (
            agg.writeStream.foreachBatch(write_batch)
            .outputMode("complete")
            .queryName("foreach_batch")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    return spark.read.parquet(out)


# NOTE (r4, re-evidenced r7): Spark 4's transformWithStateInPandas
# (the modern typed-ValueState successor to applyInPandasWithState)
# cannot run in this container — its Python runner requires
# google.protobuf, which is absent (ModuleNotFoundError: No module
# named 'google'; the end-to-end attempt dies with
# "TransformWithStateInPySpark driver worker exited unexpectedly").
# EVIDENCE: reports/streaming_probe_r14.txt records a real minimal
# StatefulProcessor stream and its exact failure.  stream_custom_state
# covers the same workload on the applyInPandasWithState API; once
# protobuf is available, swap its applyInPandasWithState call for
# groupBy(...).transformWithStateInPandas(StatefulProcessor subclass,
# outputStructType=..., outputMode="Update", timeMode="None").


@register(
    "stream_distinct_users",
    oracle="""
    SELECT cast(floor(epoch(date_trunc('hour', ts))) AS bigint) AS ws,
           event_type, count(DISTINCT user_id) AS n_users
    FROM events GROUP BY 1, 2
    """,
)
def stream_distinct_users(spark, sf_dir):
    """Hourly distinct-user counts per event_type — the windowed
    cardinality shape.  Batch form uses the exact two-level aggregate
    (`window()` is again the streaming operator run in batch); the
    unbounded-stream equivalent is dropDuplicates on
    (window, event_type, user_id) within the watermark followed by a
    plain count — both shapes shuffle once on the window+type key with
    partial aggregation, and the distinct expansion stays bounded by
    |users| per window, not event volume."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .select(unix_secs(F.col("w.start")).alias("ws"), "event_type", "n_users")
    )


@register(
    "stream_join_static",
    oracle="""
    SELECT c_mktsegment, event_type, count(*) AS n,
           round(sum(value), 2) AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2
    """,
)
def stream_join_static(spark, sf_dir):
    """Stream-static enrichment join — the canonical streaming
    pattern: an unbounded event stream joins a STATIC dimension
    (customer) with no watermark needed (the static side never
    changes mid-query), then aggregates per (segment, type).

    The static dim is broadcast per micro-batch (never shuffled with
    the stream); complete-mode output makes the drained table equal
    the batch join+agg bit-for-bit, which is exactly what the oracle
    recomputes.  Multi-batch replay (availableNow over file slices)
    proves the incremental aggregation state merges correctly across
    batches.
    """
    stream = read_events_stream(spark, sf_dir, max_files_per_trigger=4)
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = stream.join(F.broadcast(cust), stream.user_id == cust.c_custkey)
    agg = joined.groupBy("c_mktsegment", "event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value")
    )
    return run_available_now(agg, "stream_join_static", output_mode="complete")


@register(
    "stream_cdc_apply",
    oracle="""
    SELECT user_id,
           arg_max(value, cast(floor(epoch(ts)) AS bigint) * 10000000 + event_id)
             AS last_value,
           arg_max(event_type, cast(floor(epoch(ts)) AS bigint) * 10000000 + event_id)
             AS last_type,
           count(*) AS n_updates
    FROM events GROUP BY user_id
    """,
)
def stream_cdc_apply(spark, sf_dir):
    """Streaming CDC apply: each micro-batch's events are UPSERTed
    into a keyed per-user state table via foreachBatch merge — the
    change-data-capture consumption pattern (Debezium→lakehouse) where
    the target must always hold each key's LATEST row plus an update
    counter.

    Merge = full-outer of (target, batch-reduced) with packed-bigint
    recency resolution — the same decomposable-merge trick as
    mv_incremental, so replaying batches in any grouping yields the
    same table; after the availableNow drain the target equals the
    batch arg_max oracle exactly.  Per batch the target is rewritten
    once (|users| rows), the stream is never rescanned.
    """
    import os as _os
    import tempfile

    from raster2points_spark.queries._util import SCRATCH
    from raster2points_spark.streaming import scoped_shuffle_partitions

    ev = read_events_stream(spark, sf_dir, max_files_per_trigger=4)
    upd = ev.select(
        "user_id",
        "value",
        "event_type",
        (unix_secs(F.col("ts")) * 10000000 + F.col("event_id")).alias("ver"),
    )
    out = _os.path.join(SCRATCH, "cdc_apply_target")
    import shutil

    shutil.rmtree(out, ignore_errors=True)

    def reduce_batch(df):
        return df.groupBy("user_id").agg(
            F.max_by("value", "ver").alias("last_value"),
            F.max_by("event_type", "ver").alias("last_type"),
            F.max("ver").alias("ver"),
            F.count("*").alias("n_updates"),
        )

    def apply_batch(batch_df, batch_id):
        sp = batch_df.sparkSession
        delta = reduce_batch(batch_df)
        try:
            target = sp.read.parquet(out)
        except Exception:
            target = None
        if target is None:
            merged = delta
        else:
            t_, d_ = target.alias("t"), delta.alias("d")
            merged = t_.join(d_, F.col("t.user_id") == F.col("d.user_id"), "full").select(
                F.coalesce(F.col("d.user_id"), F.col("t.user_id")).alias("user_id"),
                F.when(
                    F.coalesce(F.col("d.ver"), F.lit(-1)) >= F.coalesce(F.col("t.ver"), F.lit(-1)),
                    F.col("d.last_value"),
                ).otherwise(F.col("t.last_value")).alias("last_value"),
                F.when(
                    F.coalesce(F.col("d.ver"), F.lit(-1)) >= F.coalesce(F.col("t.ver"), F.lit(-1)),
                    F.col("d.last_type"),
                ).otherwise(F.col("t.last_type")).alias("last_type"),
                F.greatest(
                    F.coalesce(F.col("d.ver"), F.lit(-1)), F.coalesce(F.col("t.ver"), F.lit(-1))
                ).alias("ver"),
                (
                    F.coalesce(F.col("d.n_updates"), F.lit(0))
                    + F.coalesce(F.col("t.n_updates"), F.lit(0))
                ).alias("n_updates"),
            )
        tmp = out + "_tmp"
        merged.write.mode("overwrite").parquet(tmp)
        sp.read.parquet(tmp).write.mode("overwrite").parquet(out)

    for q in spark.streams.active:
        if q.name == "cdc_apply":
            q.stop()
    ckpt = tempfile.mkdtemp(prefix="ckpt_cdc_")
    with scoped_shuffle_partitions(spark):
        (
            upd.writeStream.foreachBatch(apply_batch)
            .outputMode("append")
            .queryName("cdc_apply")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    return spark.read.parquet(out).select("user_id", "last_value", "last_type", "n_updates")


@register(
    "stream_restart_recovery",
    oracle="""
    SELECT event_id, user_id, event_type,
           cast(floor(epoch(ts)) AS bigint) AS tsec,
           round(value, 2) AS value
    FROM events
    """,
)
def stream_restart_recovery(spark, sf_dir):
    """Checkpoint RESTART / exactly-once recovery: the stream runs,
    STOPS mid-corpus, more data arrives, and a SECOND query start with
    the SAME checkpoint resumes from the recorded offsets — the
    failure-recovery contract production streaming lives on.

    Mechanics: the corpus's 8 time-slices land in a staging dir in two
    installments (4, then 4).  Run 1 drains the first half under
    availableNow and stops; run 2 starts from the same
    checkpointLocation, reads ONLY the unprocessed files (source
    offsets in the checkpoint) and appends them (file-sink manifest
    makes the output transactional).  The oracle asserts the strongest
    possible claim: the reassembled sink equals the full batch table
    EXACTLY — every input row exactly once across the restart, no
    replays, no gaps.

    At scale this is the nightly-ingest shape: a crashed executor or a
    planned redeploy never re-emits or drops rows because both source
    progress (offsets) and sink commits (manifest) are atomic in the
    checkpoint/metadata log.  Stateless projection keeps the plan
    codegen-only; recovery cost is O(unprocessed files), not O(corpus).
    """
    import os as _os
    import shutil
    import tempfile

    from raster2points_spark.queries._util import SCRATCH
    from raster2points_spark.streaming import _split_events

    src = _os.path.join(sf_dir, "events.parquet")
    slice_dir = src if _os.path.isdir(src) else _split_events(src)
    parts = sorted(
        f for f in _os.listdir(slice_dir) if f.endswith(".parquet")
    )
    base = _os.path.join(SCRATCH, "restart_recovery")
    # staging/events.parquet is a DIRECTORY of slice files —
    # read_events_stream treats a directory source as pre-split
    staging_sf = _os.path.join(base, "staging")
    staging = _os.path.join(staging_sf, "events.parquet")
    sink = _os.path.join(base, "sink")
    ckpt = _os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)
    _os.makedirs(staging, exist_ok=True)

    def run_installment(files):
        for f in files:
            dst = _os.path.join(staging, f)
            if not _os.path.exists(dst):
                shutil.copy2(_os.path.join(slice_dir, f), dst)
        stream = read_events_stream(spark, staging_sf, max_files_per_trigger=2)
        proj = stream.select(
            "event_id",
            "user_id",
            "event_type",
            unix_secs(F.col("ts")).alias("tsec"),
            F.round("value", 2).alias("value"),
        )
        (
            proj.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    half = len(parts) // 2 or 1
    run_installment(parts[:half])   # run 1: first half, then "crash"
    run_installment(parts[half:])   # run 2: same checkpoint resumes
    return spark.read.parquet(sink)

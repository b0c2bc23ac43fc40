"""Structured Streaming surface: event ingestion, windowed rollups,
incremental BM25 term-stats maintenance.

The reference has no stream processing (SURVEY §2.10) — its closest
analogues are the SQLite insert-only event sinks
(usage_tracker.py:237-277) and the SSE lifecycle bus
(event_bus.py:22-171). Here those become first-class Structured
Streaming pipelines:

- ``read_event_stream``: a file-source stream of NDJSON event
  batches (the append-only sink shape; swap for Kafka in production
  with one line).
- ``windowed_event_counts``: watermarked tumbling-window aggregation
  — the streaming twin of the batch ``tumbling_event_counts`` query,
  late data handled by the watermark instead of a full recompute.
- ``incremental_term_stats_sink``: foreachBatch maintenance of the
  BM25 ``terms`` statistics — the scalable answer to the reference's
  full-corpus BM25 rebuild on every write (memory_engine.py:619,
  SURVEY §4 'Incremental vs full rebuild'). Each micro-batch merges
  only the term deltas of the new documents.

Scale notes: the stream shuffles once per window aggregation (state
is partitioned by group key); term-stats maintenance appends
per-batch partial counts and compacts on read — at 100 TB the
compaction becomes a periodic OPTIMIZE/MERGE job instead of a
read-side groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from memories_spark.operators import bm25 as bm25_op


def start_in_streaming_pool(writer):
    """Start a streaming query under the dedicated ``streaming`` FAIR
    pool (defined in fairscheduler.xml with a minShare), so its
    micro-batch jobs never FIFO-queue behind a batch backlog — the
    starvation the session's FAIR mode exists to prevent. Structured
    Streaming captures the starting thread's local properties for
    every micro-batch job, so setting the pool around ``start()`` is
    sufficient and permanent for the query's lifetime."""
    spark = SparkSession.getActiveSession()
    sc = spark.sparkContext if spark else None
    prev = sc.getLocalProperty("spark.scheduler.pool") if sc else None
    if sc:
        sc.setLocalProperty("spark.scheduler.pool", "streaming")
    try:
        return writer.start()
    finally:
        if sc:
            sc.setLocalProperty("spark.scheduler.pool", prev)

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def read_event_stream(spark: SparkSession, in_dir: str) -> DataFrame:
    """NDJSON file-source event stream (append-only sink shape,
    reference S8 usage_tracker.log_*, usage_tracker.py:237-277)."""
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .json(in_dir)
    )


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window counts/sums per event type.

    Streaming twin of the batch period buckets (reference A4/A6
    PERIOD_SQL, usage_tracker.py:364-534): the watermark bounds state
    so late events older than the horizon are dropped, everything
    newer updates its window in place.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "value_cents",
        )
    )


def sliding_event_counts_stream(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked hopping-window counts/sums per event type — the
    streaming twin of the batch ``sliding_event_counts`` query.

    Each event lands in window/slide overlapping windows (two for the
    default 10m/5m); state per open window is one aggregate row and
    the watermark finalizes windows once event time passes
    window_end + horizon, so state is bounded by
    (horizon / slide) * |event_types| rows regardless of stream
    volume.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "value_cents",
        )
    )


def attribute_clicks_to_views(
    views: DataFrame,
    clicks: DataFrame,
    within_minutes: int = 10,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-stream attribution join: each click joined to the view
    event by the same user that happened at most ``within_minutes``
    before it.

    Both sides are watermarked and the join condition carries an
    explicit event-time range, so Spark can bound the buffered state
    on each side to the watermark horizon and emit matches
    incrementally — the canonical ad-attribution /
    retrieval-to-feedback correlation shape (the batch analog is the
    ``asof_last_click`` query; reference feedback joins
    usage_tracker.py:324-341 do this offline in SQLite).
    """
    v = views.select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
    ).withWatermark("view_ts", watermark)
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    cond = (
        (F.col("v_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (
            F.col("click_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {within_minutes} MINUTES")
        )
    )
    return v.join(c, cond, "inner").select(
        F.col("c_user").alias("user_id"),
        "view_id",
        "click_id",
        "view_ts",
        "click_ts",
        (F.unix_timestamp("click_ts") - F.unix_timestamp("view_ts")).alias("lag_sec"),
    )


def dedup_event_stream(
    events: DataFrame,
    watermark: str = "1 hour",
    keys: list[str] | None = None,
) -> DataFrame:
    """Streaming ingest dedup: drop re-delivered events whose dedup
    key was already seen within the watermark horizon.

    The streaming twin of the batch exact-dedup family (at-least-once
    delivery makes duplicate events a certainty in any real pipeline).
    ``dropDuplicatesWithinWatermark`` keys the dedup state on
    ``keys`` (default the event id) and — unlike a plain
    ``dropDuplicates`` — expires state older than the watermark, so
    state size is bounded by the horizon's event volume, not the
    stream's lifetime. At 100 TB/day that bound is the difference
    between a working pipeline and an OOM.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def incremental_term_stats_sink(
    docs_stream: DataFrame, stats_dir: str, checkpoint_dir: str
):
    """foreachBatch sink maintaining BM25 term statistics
    incrementally: per micro-batch, append (id, term, tf) deltas —
    never a full-corpus rebuild (contrast reference
    memory_engine.py:619, which re-tokenizes everything per write).

    Returns the StreamingQuery; caller awaits/stops it. Query-time
    consumers read the directory and groupBy-compact; a periodic
    compaction job (Delta OPTIMIZE at scale) keeps read amplification
    bounded.
    """
    def process_batch(batch: DataFrame, batch_id: int) -> None:
        terms = bm25_op.tokenize_terms(batch, "doc_id", "text")
        terms.write.mode("append").parquet(stats_dir)

    return start_in_streaming_pool(
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def compact_term_stats(spark: SparkSession, stats_dir: str) -> int:
    """Periodic compaction of the appended term-stat deltas: groupBy
    (id, term) sum into one file set, atomically swapped in.

    Closes the loop on :func:`incremental_term_stats_sink` — appends
    keep ingestion O(batch), this job bounds read amplification
    (query-time consumers stop re-aggregating history). At scale this
    is Delta ``OPTIMIZE``/MERGE on a partitioned-by-term table; here
    it is the same read-compact-swap in miniature. Returns the
    compacted row count.
    """
    import os
    import shutil
    import uuid

    compacted = (
        spark.read.parquet(stats_dir)
        .groupBy("id", "term")
        .agg(F.sum("tf").alias("tf"))
    )
    tmp = f"{stats_dir}.tmp-{uuid.uuid4().hex[:8]}"
    compacted.write.mode("overwrite").parquet(tmp)
    old = f"{stats_dir}.old-{uuid.uuid4().hex[:8]}"
    os.rename(stats_dir, old)
    os.rename(tmp, stats_dir)
    shutil.rmtree(old)
    return spark.read.parquet(stats_dir).count()


def read_doc_stream(spark: SparkSession, in_dir: str) -> DataFrame:
    """NDJSON document stream for ingestion pipelines."""
    return spark.readStream.schema(DOC_SCHEMA).json(in_dir)


SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
    ]
)

_SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)


def sessionize_stream(
    events: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "2 hours",
) -> DataFrame:
    """Custom stateful operator: gap-based session windows per user via
    ``applyInPandasWithState`` — the streaming twin of the batch
    ``sessionize_events`` query (lag + cumulative window).

    A session closes when the next event is > ``gap_minutes`` after the
    previous one, or when event time passes the session end + gap
    (event-time timeout keyed to the watermark, so idle sessions flush
    without waiting for the user's next event). State per key is one
    open session (start, end, count) — O(active users), not O(events);
    Spark partitions state by group key so this scales horizontally
    with no driver involvement.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000

    def fn(key, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            start_us, end_us, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.to_datetime(start_us, unit="us")],
                    "session_end": [pd.to_datetime(end_us, unit="us")],
                    "n_events": [n],
                }
            )
            return

        start_us = end_us = None
        n = 0
        if state.exists:
            start_us, end_us, n = state.get

        closed: list[tuple[int, int, int]] = []
        batches = [pdf for pdf in pdf_iter if len(pdf)]
        if batches:
            ts_us = (
                pd.concat(batches)["ts"].astype("int64").floordiv(1000).sort_values()
            )
            for t in ts_us:
                t = int(t)
                if start_us is None:
                    start_us, end_us, n = t, t, 1
                elif t - end_us <= gap_us:
                    end_us, n = t, n + 1
                else:
                    closed.append((start_us, end_us, n))
                    start_us, end_us, n = t, t, 1

        if start_us is not None:
            state.update((start_us, end_us, n))
            # flush via event-time timeout once the watermark passes
            # session_end + gap (epoch millis per the GroupState API)
            state.setTimeoutTimestamp(end_us // 1000 + gap_minutes * 60 * 1000)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start": [pd.to_datetime(s, unit="us") for s, _, _ in closed],
                    "session_end": [pd.to_datetime(e, unit="us") for _, e, _ in closed],
                    "n_events": [c for _, _, c in closed],
                }
            )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            SESSION_OUTPUT_SCHEMA,
            _SESSION_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


# ---------------------------------------------------------------------
# Incremental KMV distinct-sketch maintenance
# ---------------------------------------------------------------------

KMV_K = 64


def incremental_kmv_sink(
    events_stream: DataFrame, kmv_dir: str, checkpoint_dir: str, k: int = KMV_K
):
    """foreachBatch maintenance of a per-event-type KMV distinct
    sketch: the state table holds the k smallest distinct (user, day)
    hash fractions per group and is merged with each micro-batch's
    minima — the streaming twin of the batch ``kmv_distinct_estimate``
    query.

    Correctness rests on min-k merge associativity (min-k of a union
    equals min-k of the min-k's), which also makes at-least-once
    replays idempotent: re-merging the same keys cannot change the
    k minima. State is O(k x groups) regardless of stream volume —
    the whole point at 100 TB, where the exact-distinct state table
    would be the stream's full key cardinality.
    """
    import os
    import shutil
    import uuid

    from pyspark.sql import Window as W

    from memories_spark.functions.hashing import hex_frac_sql

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        fresh = (
            batch.select(
                "event_type",
                F.md5(
                    F.concat(
                        F.col("user_id").cast("string"),
                        F.lit("@"),
                        F.date_format("ts", "yyyy-MM-dd"),
                    )
                ).alias("h"),
            )
            .distinct()
            .select("event_type", F.expr(hex_frac_sql("h")).alias("f"))
        )
        if os.path.isdir(kmv_dir):
            state = spark.read.parquet(kmv_dir)
            merged = state.unionByName(fresh).distinct()
        else:
            merged = fresh
        topk = (
            merged.withColumn(
                "rn", F.row_number().over(W.partitionBy("event_type").orderBy("f"))
            )
            .filter(F.col("rn") <= k)
            .select("event_type", "f")
        )
        tmp = f"{kmv_dir}.tmp-{uuid.uuid4().hex[:8]}"
        topk.write.mode("overwrite").parquet(tmp)
        if os.path.isdir(kmv_dir):
            old = f"{kmv_dir}.old-{uuid.uuid4().hex[:8]}"
            os.rename(kmv_dir, old)
            os.rename(tmp, kmv_dir)
            shutil.rmtree(old)
        else:
            os.rename(tmp, kmv_dir)

    return start_in_streaming_pool(
        events_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def kmv_estimate_from_state(
    spark: SparkSession, kmv_dir: str, k: int = KMV_K
) -> DataFrame:
    """Read the KMV state table into per-group distinct estimates:
    (k-1)/f_k when the group holds k minima, exact count otherwise."""
    state = spark.read.parquet(kmv_dir)
    from pyspark.sql import Window as W

    ranked = state.withColumn(
        "rn", F.row_number().over(W.partitionBy("event_type").orderBy("f"))
    )
    return (
        ranked.groupBy("event_type")
        .agg(
            F.count("*").alias("n_state"),
            F.max(F.when(F.col("rn") == k, F.col("f"))).alias("fk"),
        )
        .select(
            "event_type",
            F.round(
                F.when(F.col("n_state") < k, F.col("n_state").cast("double")).otherwise(
                    F.lit(float(k - 1)) / F.col("fk")
                ),
                4,
            ).alias("kmv_estimate"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------
# Streaming funnel: per-user view -> click -> purchase state machine
# ---------------------------------------------------------------------

FUNNEL_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("view_ts", T.TimestampType()),
        T.StructField("click_ts", T.TimestampType()),
        T.StructField("purchase_ts", T.TimestampType()),
    ]
)


def funnel_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Custom stateful operator: the ordered three-stage funnel (first
    view, first click after it, first purchase after that) as a
    per-user state machine via ``applyInPandasWithState`` — the
    streaming twin of the batch ``funnel_conversion`` query.

    State per user is at most three timestamps (the completed stage
    prefix); a conversion row is emitted exactly once, when the
    purchase lands, and the state is cleared. Stage ordering is
    enforced on event time within and across micro-batches, so a
    click delivered before its view (out-of-order batch) does not
    convert. State is O(active users) and partitioned by the group
    key — no driver involvement, horizontally scalable.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdf_iter, state: GroupState):
        (user_id,) = key
        v_us = c_us = None
        done = False
        if state.exists:
            v_us, c_us, done_i = state.get
            done = bool(done_i)

        rows = []
        batches = [pdf for pdf in pdf_iter if len(pdf)]
        if batches and not done:
            ev = pd.concat(batches)[["ts", "event_type"]]
            ev = ev.assign(us=ev["ts"].astype("int64").floordiv(1000)).sort_values("us")
            for _, r in ev.iterrows():
                t, et = int(r.us), r.event_type
                if et == "view" and v_us is None:
                    v_us = t
                elif et == "click" and v_us is not None and c_us is None and t > v_us:
                    c_us = t
                elif et == "purchase" and c_us is not None and t > c_us:
                    rows.append((v_us, c_us, t))
                    done = True
                    break

        if done and rows:
            state.update((v_us, c_us, 1))
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "view_ts": [pd.to_datetime(rows[0][0], unit="us")],
                    "click_ts": [pd.to_datetime(rows[0][1], unit="us")],
                    "purchase_ts": [pd.to_datetime(rows[0][2], unit="us")],
                }
            )
        else:
            if v_us is not None:
                state.update((v_us, c_us, 1 if done else 0))

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=FUNNEL_OUTPUT_SCHEMA,
            stateStructType="view_us long, click_us long, done long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def enrich_stream_with_dimension(
    events: DataFrame, dim: DataFrame, key: str = "user_id"
) -> DataFrame:
    """Stream-static join: enrich the event stream with a (small)
    static dimension table — Spark broadcasts the static side into
    every micro-batch, no streaming state at all (contrast the
    stream-stream attribution join, which needs watermarked state).
    The canonical serving-enrichment shape: events x user profile /
    price sheet / routing table. The dimension is re-read per batch,
    so a slowly-refreshed parquet dimension picks up updates without
    restarting the query.
    """
    return events.join(F.broadcast(dim), key, "left")


# ---------------------------------------------------------------------
# Incremental histogram-bin maintenance (mergeable quantile state)
# ---------------------------------------------------------------------

HIST_NBINS = 128


def incremental_histogram_sink(
    events_stream: DataFrame,
    hist_dir: str,
    checkpoint_dir: str,
    lo: float,
    hi: float,
    nbins: int = HIST_NBINS,
):
    """foreachBatch maintenance of fixed-envelope histogram bins — the
    streaming twin of the batch ``histogram_quantile_estimate`` query.

    Bin counts merge additively, but counts are NOT naturally
    idempotent under at-least-once replays (unlike the KMV minima),
    so each micro-batch writes its partial counts to a
    deterministic per-batch-id subdirectory with overwrite — a
    replayed batch overwrites its own output instead of
    double-counting. Readers sum across batch partitions. The
    envelope [lo, hi) is fixed up front (production: from a known
    metric range or a prior scan) because a streaming global min/max
    would retroactively rebin history.
    """
    width = (hi - lo) / nbins

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        bins = (
            batch.select(
                F.least(
                    F.floor((F.col("value") - F.lit(lo)) / F.lit(width)).cast("long"),
                    F.lit(nbins - 1),
                ).alias("bin")
            )
            .groupBy("bin")
            .agg(F.count("*").alias("c"))
        )
        bins.write.mode("overwrite").parquet(f"{hist_dir}/batch={batch_id}")

    return start_in_streaming_pool(
        events_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def histogram_quantiles_from_state(
    spark: SparkSession,
    hist_dir: str,
    lo: float,
    hi: float,
    nbins: int = HIST_NBINS,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Quantile upper-edge estimates from the accumulated bin state:
    same math as the batch query's estimate branch."""
    from pyspark.sql import Window as W

    width = (hi - lo) / nbins
    hist = (
        spark.read.option("basePath", hist_dir).parquet(hist_dir)
        .groupBy("bin")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    cum = hist.select(
        "bin",
        F.sum("c").over(W.orderBy("bin").rowsBetween(W.unboundedPreceding, 0)).alias("cum"),
    )
    total = hist.agg(F.sum("c").cast("long").alias("n"))
    targets = total.select(
        F.explode(F.array(*[F.lit(q) for q in qs])).alias("q"), "n"
    ).select("q", F.ceil(F.col("q") * F.col("n")).cast("long").alias("target"))
    est = (
        cum.crossJoin(F.broadcast(targets))
        .filter(F.col("cum") >= F.col("target"))
        .groupBy("q")
        .agg(F.min("bin").alias("hit_bin"))
    )
    return est.select(
        "q",
        F.round(F.lit(lo) + (F.col("hit_bin") + 1) * F.lit(width), 6).alias(
            "est_upper_edge"
        ),
    ).orderBy("q")


def incremental_topk_sink(
    events_stream: DataFrame, state_dir: str, checkpoint_dir: str, k: int = 10
):
    """foreachBatch maintenance of a per-event-type top-k leaderboard
    (highest values, ties by event_id): the state table holds at most
    k rows per type and merges with each micro-batch's own top-k.

    Like the KMV sink this rests on merge associativity — top-k of a
    union equals top-k of the per-part top-k's — which also makes
    at-least-once replays idempotent (re-merging rows already in the
    leaderboard cannot change it, because (value, event_id) ranks are
    stable and duplicates collapse). State is O(k x groups) forever;
    the streaming twin of every TakeOrderedAndProject in the batch
    registry.
    """
    import os
    import shutil
    import uuid

    from pyspark.sql import Window as W

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        fresh = batch.select(
            "event_type",
            "event_id",
            F.round(F.col("value") * 100.0).cast("long").alias("cents"),
        )
        if os.path.isdir(state_dir):
            state = spark.read.parquet(state_dir)
            merged = state.unionByName(fresh).distinct()
        else:
            merged = fresh
        topk = (
            merged.withColumn(
                "rn",
                F.row_number().over(
                    W.partitionBy("event_type").orderBy(
                        F.col("cents").desc(), F.col("event_id").asc()
                    )
                ),
            )
            .filter(F.col("rn") <= k)
            .select("event_type", "event_id", "cents")
        )
        tmp = f"{state_dir}.tmp-{uuid.uuid4().hex[:8]}"
        topk.write.mode("overwrite").parquet(tmp)
        if os.path.isdir(state_dir):
            old = f"{state_dir}.old-{uuid.uuid4().hex[:8]}"
            os.rename(state_dir, old)
            os.rename(tmp, state_dir)
            shutil.rmtree(old)
        else:
            os.rename(tmp, state_dir)

    return start_in_streaming_pool(
        events_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )

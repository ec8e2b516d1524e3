"""Streaming + lifecycle declared queries (SURVEY §2.1 S3/S5/S7, §2.5
streaming twins). These run a real Structured Streaming query (AvailableNow
→ memory sink) or a managed-resource action inside the query callable and
return the materialized result — so the driver's oracle gate verifies the
*streaming* path against the same batch SQL.
"""

from __future__ import annotations

import csv
import glob
import os
import uuid
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from simple_stream_processor_spark import queries_llmdata as llmdata
from simple_stream_processor_spark import queries_relational_ext as relext
from simple_stream_processor_spark.operators import dedup, multimodal
from simple_stream_processor_spark.operators import text as text_ops
from simple_stream_processor_spark.operators import windows as W
from simple_stream_processor_spark.registry import ORACLES, query
from simple_stream_processor_spark.streaming.dedup import streaming_dedup
from simple_stream_processor_spark.streaming.funnel import streaming_funnel
from simple_stream_processor_spark.streaming.lifecycle import consume_managed, managed_source_run
from simple_stream_processor_spark.streaming.ohlc import ohlc_bars_stateful, ohlc_latest_bars, prepare_ohlc_events
from simple_stream_processor_spark.streaming.runner import TMP_ROOT, _drain, run_stream_to_memory, stream_events, stream_table
from simple_stream_processor_spark.streaming.windows import (
    streaming_count_window,
    streaming_tumbling_window,
    streaming_watermark_cadence,
)
from simple_stream_processor_spark.tables import load_table


# Shared state heads: each drains one bounded streaming aggregate in
# complete mode, and every twin over that state calls the same head.


def _streaming_daily_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (event_type, day, cents) daily table as streaming state —
    commutative integer sums bounded at types x days rows forever — drained
    complete; ``day`` is the epoch day. The raw read keeps ts
    TIMESTAMP_NTZ, and the cast pins it to the session's UTC."""
    daily = stream_table(spark, sf_dir, "events").groupBy(
        "event_type",
        F.expr("unix_millis(cast(ts as timestamp)) div 86400000").alias("day"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    return run_stream_to_memory(daily, output_mode="complete")[0]


def _streaming_daily_by_type_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same (event_type, day, cents) state with ``day`` as the
    date_trunc TIMESTAMP, for tails that read it as a date."""
    daily = stream_events(spark, sf_dir).groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    return run_stream_to_memory(daily, output_mode="complete")[0]


def _streaming_daily_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The global (day, cents) daily table as streaming state — one integer
    row per epoch day forever — drained complete."""
    daily = stream_events(spark, sf_dir).groupBy(
        F.expr("unix_millis(ts) div 86400000").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    return run_stream_to_memory(daily, output_mode="complete")[0]


def _streaming_user_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct (user_id, day) active-day table as streaming state —
    set-union semantics (a count per cell whose value is never read), so
    replays and batching are invisible; bounded by users x active days."""
    cells = stream_table(spark, sf_dir, "events").groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    return run_stream_to_memory(cells, output_mode="complete")[0]


def _streaming_presence_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (event_type, user_id, day) presence state — counts commutative,
    bounded by active user-days — shared by the paired/repeated-measures
    twins (McNemar, Cochran)."""
    pres = stream_events(spark, sf_dir).groupBy(
        "event_type", "user_id", F.expr("unix_millis(ts) div 86400000").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    return run_stream_to_memory(pres, output_mode="complete")[0]


def _streaming_user_rollup(spark: SparkSession, sf_dir: str, *aggs) -> DataFrame:
    """A per-user streaming rollup drained complete — one state row per user
    forever; the shared head of the user-keyed experiment/survival twins.
    The raw read keeps ts TIMESTAMP_NTZ."""
    u = stream_table(spark, sf_dir, "events").groupBy("user_id").agg(*aggs)
    return run_stream_to_memory(u, output_mode="complete")[0]


def _streaming_score_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (source, score-bin, n) count table as streaming state: the
    score bins to the fixed 1e4 integer grid inside the narrow stream
    stage, so state is bounded at sources x 10k cells at any stream length,
    and counts are commutative, so batching is invisible. One state table
    serves every drift readout (KS, Wasserstein, Cramér-von Mises)."""
    cnt = (
        stream_table(spark, sf_dir, "documents")
        .select("source", llmdata.ks_score_bin().alias("b"))
        .groupBy("source", "b")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return run_stream_to_memory(cnt, output_mode="complete")[0]


@query(
    "q_stream_read",
    oracle="SELECT event_id, user_id, event_type, value FROM events",
)
def q_stream_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: unbounded source read (reference Stream.fromBlockingQueue,
    Stream.scala:330-348): file streaming source drained with
    Trigger.AvailableNow (the queue's end-of-stream signal) into a memory
    sink. The oracle proves the streaming read is value-identical to the
    batch scan."""
    sdf = stream_events(spark, sf_dir).select("event_id", "user_id", "event_type", "value")
    out, _ = run_stream_to_memory(sdf, output_mode="append")
    return out


@query(
    "q_streaming_tumbling",
    oracle="""
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start_s,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 streaming twin: watermarked tumbling windows executed by the
    incremental engine, ``complete`` output = the reference's
    Watermark(MaxValue) end-of-stream flush (ADR-0006:18-19) — all windows
    emitted, hash-equal to the batch oracle."""
    sdf = streaming_tumbling_window(stream_events(spark, sf_dir), "ts", "1 hour", "0 seconds")
    out, _ = run_stream_to_memory(sdf, output_mode="complete")
    return out


@query(
    "q_streaming_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N10 streaming twin: dropDuplicatesWithinWatermark — bounded-state
    first-arrival dedup. Key-only projection keeps the result deterministic
    (which physical row arrives first per key is scheduler-dependent)."""
    sdf = streaming_dedup(stream_events(spark, sf_dir), ["user_id", "event_type"], "ts", "10 minutes")
    out, _ = run_stream_to_memory(sdf.select("user_id", "event_type"), output_mode="append")
    return out


@query(
    "q_streaming_count_window",
    oracle="""
    WITH numbered AS (
      SELECT user_id, event_id,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS rn
      FROM events
    )
    SELECT user_id, rn // 5 AS window_no, count(*) AS n,
           min(event_id) AS first_id, max(event_id) AS last_id
    FROM numbered
    GROUP BY user_id, rn // 5
    HAVING count(*) = 5
    """,
)
def q_streaming_count_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 streaming twin: per-key count windows via applyInPandasWithState
    (reference windowByCount, Node.scala:276-280, over a keyed stream).
    Full windows emit as they fill; the in-progress remainder stays in
    group state (the reference emits the final partial chunk only at halt —
    a stream has no halt, so the oracle keeps full windows only:
    HAVING count(*) = size)."""
    sdf = streaming_count_window(stream_events(spark, sf_dir), size=5)
    out, _ = run_stream_to_memory(sdf, output_mode="append")
    return out


@query(
    "q_managed_source",
    oracle="SELECT s_suppkey, s_name FROM supplier",
)
def q_managed_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: ManagedSource (reference Node.scala:135-171) — open a resource,
    stream from it, close exactly once on success/error/cancel. The
    resource here is a manifest file handle that yields the table path;
    lifecycle invariants (close-once, suppression) are pytest-asserted in
    tests/test_lifecycle.py."""

    class Manifest:
        def __init__(self) -> None:
            self.path = os.path.join(sf_dir, "supplier.parquet")
            self.closed = False

        def close(self) -> None:
            self.closed = True

    rows = managed_source_run(
        Manifest,
        lambda m: load_table(spark, "supplier", os.path.dirname(m.path)).select("s_suppkey", "s_name"),
        lambda df: df.collect(),
    )
    return spark.createDataFrame(rows, "s_suppkey long, s_name string")


@query(
    "q_managed_sink",
    oracle="SELECT event_id, event_type FROM events",
)
def q_managed_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: ManagedSink (reference Node.scala:370-437) — consume every row
    into a per-partition AutoCloseable resource (a CSV writer here), close
    always, then prove no row was lost by reading the files back. The
    error-precedence matrix is pytest-asserted in tests/test_lifecycle.py."""
    out_dir = os.path.join(TMP_ROOT, "managed_sink", uuid.uuid4().hex[:12])
    os.makedirs(out_dir, exist_ok=True)

    class CsvResource:
        def __init__(self) -> None:
            self._f = open(os.path.join(out_dir, f"part-{uuid.uuid4().hex[:12]}.csv"), "w", newline="")
            self._w = csv.writer(self._f)

        def write(self, row) -> None:
            self._w.writerow([row["event_id"], row["event_type"]])

        def close(self) -> None:
            self._f.close()

    ev = load_table(spark, "events", sf_dir).select("event_id", "event_type")
    consume_managed(ev, CsvResource, lambda r, row: r.write(row))

    records = []
    for path in glob.glob(os.path.join(out_dir, "*.csv")):
        with open(path, newline="") as f:
            records.extend((int(a), b) for a, b in csv.reader(f))
    return spark.createDataFrame(records, "event_id long, event_type string")


@query(
    "q_stream_stream_join",
    oracle="""
    SELECT p.event_id AS p_id, v.event_id AS v_id, p.user_id
    FROM events p
    JOIN events v
      ON v.user_id = p.user_id
     AND p.event_type = 'purchase' AND v.event_type = 'view'
     AND v.ts >= p.ts - INTERVAL 10 MINUTE AND v.ts <= p.ts
    """,
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join (purchases x views of the same user within
    the preceding 10 minutes), executed by the incremental engine: both
    sides watermarked, the time-bound condition lets Spark evict left/right
    state once the watermark passes the bound — WITHOUT the bound the state
    grows forever, which is the property that separates a toy streaming
    join from one that survives an unbounded stream. Oracle = the batch
    interval join."""
    ev = stream_events(spark, sf_dir)
    p = (
        ev.where(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("p_id"), "user_id", F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "10 minutes")
    )
    v = (
        ev.where(F.col("event_type") == "view")
        .select(F.col("event_id").alias("v_id"), F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", "10 minutes")
    )
    j = p.join(
        v,
        (F.col("user_id") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("v_ts") <= F.col("p_ts")),
        "inner",
    )
    out, _ = run_stream_to_memory(j.select("p_id", "v_id", "user_id"), output_mode="append")
    return out


@query(
    "q_streaming_session",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, value,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ), flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN prev_ts IS NULL
                       OR epoch_ms(ts) - epoch_ms(prev_ts) >= 600000
                  THEN 1 ELSE 0 END AS new_session
      FROM ordered
    ), sessions AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           CAST(epoch_ms(min(ts)) AS BIGINT) AS session_start_ms,
           count(*) AS n,
           round(sum(value), 2) AS sum_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def q_streaming_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N13 streaming twin: gap-merged session windows on the INCREMENTAL
    engine — session state merges as events arrive, watermark bounds it;
    ``complete`` output = end-of-stream flush. The oracle is the batch
    gaps-and-islands SQL, so the hash check proves the streaming session
    merge is value-identical to the analytic-window formulation."""
    sdf = (
        stream_events(spark, sf_dir)
        .withWatermark("ts", "0 seconds")
        .groupBy(F.session_window(F.col("ts"), "10 minutes").alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            "user_id",
            F.expr("unix_micros(w.start) div 1000").alias("session_start_ms"),
            "n",
            "sum_value",
        )
    )
    out, _ = run_stream_to_memory(sdf, output_mode="complete")
    return out


@query(
    "q_streaming_sliding",
    oracle="""
    WITH grid AS (
      SELECT event_id, value,
             unnest([epoch_ms(ts) // 1000 // 1800 * 1800,
                     epoch_ms(ts) // 1000 // 1800 * 1800 - 1800]) AS window_start_s
      FROM events
    )
    SELECT window_start_s, count(*) AS n, round(sum(value), 2) AS sum_value
    FROM grid
    GROUP BY 1
    """,
)
def q_streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N13 streaming twin: sliding windows (1 h / 30 min) on the
    incremental engine — each record updates size/slide = 2 window states;
    watermark evicts closed ones; ``complete`` output = end-of-stream
    flush. Hash-equal to the batch 2-window grid oracle."""
    sdf = (
        stream_events(spark, sf_dir)
        .withWatermark("ts", "0 seconds")
        .groupBy(F.window(F.col("ts"), "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.unix_timestamp(F.col("w.start")).alias("window_start_s"), "n", "sum_value")
    )
    out, _ = run_stream_to_memory(sdf, output_mode="complete")
    return out


@query(
    "q_streaming_enrich",
    oracle="""
    SELECT c_mktsegment, event_type,
           count(*)::BIGINT AS n,
           round(sum(value), 2) AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2
    """,
)
def q_streaming_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joins a static
    customer dimension per micro-batch (the canonical streaming
    dimension-lookup shape), then aggregates per (segment, type). The
    static side is explicitly broadcast — each micro-batch pays a hash
    probe, never a stream-side shuffle; at 100 TB/day of events the
    dimension refreshes by swapping the static table between restarts.
    Hash-equal to the batch join oracle."""
    sdf = stream_events(spark, sf_dir)
    cust = load_table(spark, "customer", sf_dir).select("c_custkey", "c_mktsegment")
    joined = sdf.join(F.broadcast(cust), sdf.user_id == cust.c_custkey)
    agg = joined.groupBy("c_mktsegment", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    out, _ = run_stream_to_memory(agg, output_mode="complete")
    return out


@query(
    "q_streaming_funnel",
    oracle="""
    WITH u AS (
      SELECT user_id,
        list_sort(list(ts) FILTER (WHERE event_type = 'view')) AS views,
        list_sort(list(ts) FILTER (WHERE event_type = 'click')) AS clicks,
        list_sort(list(ts) FILTER (WHERE event_type = 'purchase')) AS purchases
      FROM events GROUP BY user_id
    ), s1 AS (
      SELECT user_id, clicks, purchases, list_min(views) AS t_view FROM u
    ), s2 AS (
      SELECT user_id, purchases, t_view,
             list_min(list_filter(clicks, c -> c > t_view)) AS t_click
      FROM s1
    ), s3 AS (
      SELECT user_id, t_view, t_click,
             list_min(list_filter(purchases, p -> p > t_click)) AS t_purchase
      FROM s2
    )
    SELECT count(t_view)::BIGINT AS users_viewed,
           count(t_click)::BIGINT AS users_clicked,
           count(t_purchase)::BIGINT AS users_purchased
    FROM s3
    """,
)
def q_streaming_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming funnel: per-user sequence-pattern state maintained
    incrementally by applyInPandasWithState (streaming/funnel.py); the
    final per-user update (highest n_seen) is aggregated into the same
    stage counts as the batch funnel — the oracle IS q_funnel's. Proves
    the engine's arbitrary-stateful-operator surface computes the exact
    cross-event answer the declarative form does."""
    sdf = stream_events(spark, sf_dir)
    out, _ = run_stream_to_memory(
        streaming_funnel(sdf, ["view", "click", "purchase"]), output_mode="update"
    )
    final = out.groupBy("user_id").agg(
        F.max_by(F.struct("t_view", "t_click", "t_purchase"), "n_seen").alias("s")
    )
    return final.agg(
        F.count("s.t_view").alias("users_viewed"),
        F.count("s.t_click").alias("users_clicked"),
        F.count("s.t_purchase").alias("users_purchased"),
    )


@query(
    "q_streaming_topk",
    oracle="""
    SELECT user_id, count(*)::BIGINT AS n,
           sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
    FROM events
    GROUP BY user_id
    ORDER BY n DESC, user_id LIMIT 10
    """,
)
def q_streaming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous top-k (streaming heavy hitters): per-user counters
    maintained by the incremental engine, top-10 read from the complete
    sink after the AvailableNow drain — the live-leaderboard shape.
    State is one counter row per user (bounded by key cardinality, not
    stream length); the sort runs over the k-proportional sink table,
    never the stream. Deterministic (count desc, user) tie-break,
    exact-integer cents."""
    sdf = stream_events(spark, sf_dir)
    agg = sdf.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    )
    out, _ = run_stream_to_memory(agg, output_mode="complete")
    return out.orderBy(F.desc("n"), F.asc("user_id")).limit(10)


_STOP_IN_STREAM = ", ".join(f"'{s}'" for s in text_ops.STOPWORDS)


@query(
    "q_streaming_quality_gate",
    oracle=f"""
    WITH t AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
    q AS (
      SELECT source,
             (len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE)
               * (1 - len(list_filter(toks, x -> x IN ({_STOP_IN_STREAM})))::DOUBLE / len(toks)::DOUBLE) AS quality
      FROM t
    )
    SELECT source,
           CAST(count(*) FILTER (WHERE quality > 0.4) AS BIGINT) AS n_kept,
           count(*) AS n_seen
    FROM q GROUP BY source
    """,
)
def q_streaming_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus ingestion with a quality gate: documents arrive
    through the file streaming source (the continuous crawl-absorption
    shape), the composite quality score evaluates in the narrow stream
    stage, and per-source kept/seen counters aggregate incrementally in
    the state store — `complete` mode emits the final ledger. Ties the
    incremental engine to the curation pipeline: at scale this runs
    forever, admitting batches under maxFilesPerTrigger backpressure,
    and the gate's cost stays scan-bound per micro-batch."""
    sdf = stream_table(spark, sf_dir, "documents")
    t = text_ops.tokens(F.col("text"))
    n_tok = F.size(t).cast("double")
    n_stop = F.size(F.filter(t, lambda x: x.isin(*text_ops.STOPWORDS))).cast("double")
    n_dist = F.size(F.array_distinct(t)).cast("double")
    quality = (n_dist / n_tok) * (1 - n_stop / n_tok)
    agg = (
        sdf.select("source", quality.alias("quality"))
        .groupBy("source")
        .agg(
            F.sum(F.when(F.col("quality") > 0.4, 1).otherwise(0)).cast("long").alias("n_kept"),
            F.count(F.lit(1)).alias("n_seen"),
        )
    )
    out, _ = run_stream_to_memory(agg, output_mode="complete")
    return out


@query(
    "q_streaming_watermark_cadence",
    oracle="""
    WITH ranked AS (
      SELECT event_id, epoch_ms(ts) AS ts_ms,
             (row_number() OVER (ORDER BY event_id) - 1) // 100 AS block
      FROM events
    ), block_max AS (
      SELECT block, max(ts_ms) AS block_max FROM ranked GROUP BY block
    ), running AS (
      SELECT block,
             max(block_max) OVER (ORDER BY block
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm_ms
      FROM block_max
    )
    SELECT r.event_id, CAST(r.ts_ms AS BIGINT) AS ts_ms, g.wm_ms,
           CASE WHEN g.wm_ms IS NOT NULL AND r.ts_ms < g.wm_ms THEN TRUE ELSE FALSE END AS is_late
    FROM ranked r JOIN running g USING (block)
    """,
)
def q_streaming_watermark_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 streaming twin with true per-N CADENCE (reference WatermarkPipe,
    Node.scala:289-313), not just policy: watermark state (count, running
    max, in-force value) lives in keyed group state and is re-emitted every
    100 records; a record is late iff ts < the watermark in force at its
    arrival. The batch emulation (q_watermark_cadence) is the oracle —
    identical blocks because arrival order is the dense event_id order."""
    sdf = stream_events(spark, sf_dir)
    out = streaming_watermark_cadence(sdf, "event_id", "ts", 100)
    rows, _ = run_stream_to_memory(out, output_mode="append")
    return rows


@query(
    "q_streaming_multimodal_decode",
    oracle="""
    WITH px AS (
      SELECT doc_id,
             substr(repeat(t, CAST(ceil(384.0 / length(t)) AS INT)), 1, 384) AS p
      FROM (SELECT doc_id, regexp_replace(text, '[^ -~]', '', 'g') AS t FROM documents)
      WHERE length(t) > 0
    ), vals AS (
      SELECT doc_id, list_transform(regexp_extract_all(p, '.'), c -> ord(c)) AS v FROM px
    )
    SELECT doc_id AS media_id, 'P6' AS format, 16 AS width, 8 AS height,
           CAST(128 AS BIGINT) AS n_pixels,
           round(list_sum(v) / 384.0, 4) AS px_mean,
           CAST(list_min(v) AS BIGINT) AS px_min,
           CAST(list_max(v) AS BIGINT) AS px_max,
           TRUE AS decode_ok
    FROM vals
    """,
)
def q_streaming_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming × multimodal: the REAL netpbm decode running
    incrementally — payload build (pure expressions) and mapInPandas
    decode both execute per micro-batch on an unbounded source, proving
    the binary-column path is not batch-only. Value-identical to the
    batch q_multimodal_decode oracle. At scale this is the continuous
    ingest shape: new media files land, the trigger admits them, decode
    stays narrow in the executors."""
    sdf = stream_table(spark, sf_dir, "documents")
    media = multimodal.documents_as_ppm(sdf, width=16, height=8)
    feats = multimodal.decode_image(media)
    out = feats.select(
        "media_id",
        "format",
        "width",
        "height",
        "n_pixels",
        F.round(F.col("px_mean"), 4).alias("px_mean"),
        "px_min",
        "px_max",
        "decode_ok",
    )
    rows, _ = run_stream_to_memory(out, output_mode="append")
    return rows


@query("q_streaming_zscore", oracle=relext.ZSCORE_ORACLE)
def q_streaming_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_rolling_zscore: the daily revenue aggregate is
    maintained INCREMENTALLY by the streaming engine (one counter row per
    (type, day) of state, complete-mode sink), and the trailing-window
    z-score scoring runs over the drained state table — the monitor
    pattern where ingestion is continuous but anomaly scoring reads the
    compacted per-day state, never raw events. Value-identical to the
    batch path by construction: the scoring stage is the same
    operators/windows.py:rolling_zscore call, and both hash-match the
    identical batch SQL oracle."""
    return W.rolling_zscore(_streaming_daily_by_type_ts(spark, sf_dir))


@query("q_streaming_cms", oracle=llmdata.CMS_ORACLE)
def q_streaming_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_cms_heavy_hitters: the d x w count-min cell
    table is maintained INCREMENTALLY — the streaming aggregate's state
    is the sketch itself, bounded at 4096 rows no matter how long the
    stream runs (the whole point of sketching an unbounded token
    stream). The drained cell table then serves the same top-10 probe as
    the batch path and hash-matches the identical oracle. The exact
    counts on the probe side are evaluation-only (you could not afford
    them on a real unbounded stream — that is what the sketch is for)."""
    sdf = stream_table(spark, sf_dir, "documents")
    tok_stream = sdf.select(F.explode(F.split("text", " ")).alias("token"))
    cells = (
        tok_stream.select(F.posexplode(F.array(*llmdata.cms_bucket_cols())).alias("i", "bucket"))
        .groupBy("i", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cms, _ = run_stream_to_memory(cells, output_mode="complete")

    docs = load_table(spark, "documents", sf_dir)
    tok = docs.select(F.explode(F.split("text", " ")).alias("token"))
    top = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("true_n"))
        .orderBy(F.col("true_n").desc(), "token")
        .limit(10)
    )
    probe = top.select("token", "true_n", F.posexplode(F.array(*llmdata.cms_bucket_cols())).alias("i", "bucket"))
    return (
        F.broadcast(probe)
        .join(cms, ["i", "bucket"])
        .groupBy("token", "true_n")
        .agg(
            F.min("cnt").alias("est_n"),
            (F.min("cnt") - F.first("true_n")).alias("overcount"),
        )
        .select("token", "true_n", "est_n", "overcount")
    )


@query("q_streaming_merge_upsert", oracle=relext.MERGE_ORACLE)
def q_streaming_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_merge_upsert — the lakehouse incremental-MERGE
    pattern: the post-cut change feed arrives in multiple micro-batches
    (4 day-sliced parquet files, maxFilesPerTrigger=1) and a foreachBatch
    loop maintains the compacted latest-per-key state, re-ranking by the
    (ts, event_id) total order on every merge so batch ARRIVAL ORDER
    cannot change the outcome (a late-replayed chunk merges to the same
    winners). State stays key-cardinality-bounded via per-batch
    compaction + localCheckpoint (O(1) lineage); the final state then
    MERGEs into the base snapshot through the same merge_apply stage as
    the batch query — hash-matching the identical oracle."""
    ev = load_table(spark, "events", sf_dir)
    cut = F.lit(relext.MERGE_CUT).cast("timestamp")
    post = ev.where(F.col("ts") >= cut).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    feed_dir = os.path.join(TMP_ROOT, "merge_feed", uuid.uuid4().hex[:12])
    for lo, hi in ((16, 20), (20, 24), (24, 28), (28, 32)):
        (
            post.where((F.dayofmonth("ts") >= lo) & (F.dayofmonth("ts") < hi))
            .coalesce(1)
            .write.mode("append")
            .parquet(feed_dir)
        )

    sdf = (
        spark.readStream.schema(post.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed_dir)
    )
    state: dict = {"df": None}

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        latest = relext.merge_latest_per_key(batch_df)
        cur = state["df"]
        merged = latest if cur is None else cur.unionByName(latest)
        state["df"] = relext.merge_latest_per_key(merged).localCheckpoint()

    _drain(spark, sdf.writeStream.foreachBatch(merge_batch), os.path.join(feed_dir, "_chk"), 120)

    updates = state["df"]
    if updates is None:  # no post-cut rows: pure 'unchanged' snapshot
        updates = spark.createDataFrame(
            [], "user_id long, value double, ts timestamp, event_id long, event_type string"
        )
    return relext.merge_apply(ev.where(F.col("ts") < cut), updates)


@query(
    "q_streaming_expectations",
    oracle="""
    SELECT 'events.value.not_null' AS check_name,
           (SELECT count(*) FROM events) AS n_rows,
           (SELECT count(*) FROM events WHERE value IS NULL) AS n_violations
    UNION ALL
    SELECT 'events.value.positive',
           (SELECT count(*) FROM events),
           (SELECT count(*) FROM events WHERE value <= 0)
    UNION ALL
    SELECT 'events.event_type.enum',
           (SELECT count(*) FROM events),
           (SELECT count(*) FROM events
            WHERE event_type NOT IN ('view', 'click', 'purchase', 'signup', 'error'))
    """,
)
def q_streaming_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_expectations for the unbounded table:
    continuous data-contract monitoring — the violation counters are
    maintained INCREMENTALLY by the streaming engine (state = one row of
    counters, regardless of stream length), which is how a production
    pipeline watches contract drift without re-scanning history. The
    drained one-row state unpivots into the same (check_name, n_rows,
    n_violations) shape and hash-matches the batch SQL."""
    sdf = stream_events(spark, sf_dir)

    def viol(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    counters = sdf.agg(
        F.count(F.lit(1)).alias("n"),
        viol(F.col("value").isNull()).alias("v_null"),
        viol(F.col("value") <= 0).alias("v_pos"),
        viol(
            ~F.col("event_type").isin("view", "click", "purchase", "signup", "error")
        ).alias("v_enum"),
    )
    state, _ = run_stream_to_memory(counters, output_mode="complete")
    return state.selectExpr(
        "stack(3, 'events.value.not_null', n, v_null,"
        " 'events.value.positive', n, v_pos,"
        " 'events.event_type.enum', n, v_enum) AS (check_name, n_rows, n_violations)"
    )


@query("q_streaming_bloom", oracle=llmdata.BLOOM_ORACLE)
def q_streaming_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_bloom_index: the per-source Bloom word tables
    are maintained INCREMENTALLY — the streaming aggregate's state IS the
    filter (bit_or is commutative/idempotent, so arrival order and batch
    boundaries cannot change a single bit), bounded at sources x 32 rows
    no matter how long the document stream runs. The drained state table
    then flows through the SAME bloom_report tail as the batch path
    (merge, saturation, FP estimate, 20-decoy probe) and hash-matches the
    identical oracle. This is the continuous-ingest membership index: the
    crawl absorbs forever, rollups stay 32 integer ORs, and a probe never
    touches history."""
    sdf = stream_table(spark, sf_dir, "documents")
    pos = sdf.select(
        F.col("source").alias("bloom_group"),
        F.explode(dedup.bloom_positions(F.col("text"))).alias("p"),
    )
    cells = (
        pos.select(
            "bloom_group",
            F.expr("p div 32").alias("word"),
            F.expr("shiftleft(cast(1 as bigint), cast(p % 32 as int))").alias("m"),
        )
        .groupBy("bloom_group", "word")
        .agg(F.bit_or("m").alias("bits"))
    )
    words, _ = run_stream_to_memory(cells, output_mode="complete")
    docs = load_table(spark, "documents", sf_dir)
    return llmdata.bloom_report(spark, words, docs)


@query("q_streaming_entropy", oracle=ORACLES["q_corpus_entropy"])
def q_streaming_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_corpus_entropy: the (source, token) count table
    is maintained INCREMENTALLY in the streaming aggregate's state —
    counts are commutative, so arrival order and batch boundaries cannot
    change a cell, and state is bounded by sources × vocabulary (the
    heavy-tailed vocab grows ~logarithmically with the stream, the same
    bound that makes the batch exchange affordable). The drained count
    table flows through the SAME entropy_report tail as the batch path
    and hash-matches the identical oracle — a live corpus-health panel
    over continuous ingest: entropy collapse or KL drift shows up
    per-trigger without ever re-scanning history."""
    sdf = stream_table(spark, sf_dir, "documents")
    st = (
        sdf.select("source", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    drained, _ = run_stream_to_memory(st, output_mode="complete")
    return llmdata.entropy_report(drained)


@query("q_streaming_ks", oracle=ORACLES["q_ks_drift"])
def q_streaming_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_ks_drift: the (source, score-bin) count table
    is maintained incrementally in streaming state — the score bins to
    the fixed 1e4 integer grid INSIDE the narrow stream stage, so state
    is bounded at sources × 10k cells regardless of how long the corpus
    stream runs (and counts are commutative, so batching is invisible).
    The drained table flows through the same ks_report tail as the batch
    path and hash-matches the identical oracle — continuous
    distribution-drift monitoring without history re-scans."""
    return llmdata.ks_report(_streaming_score_bins(spark, sf_dir))


@query(
    "q_streaming_pca",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    ex AS (
      SELECT vec_id, u.i AS pos, v[u.i] AS x
      FROM e, unnest(range(1, len(v) + 1)) AS u(i)
    ),
    mom AS (
      SELECT a.pos - 1 AS i, b.pos - 1 AS j, sum(a.x * b.x) AS s
      FROM ex a JOIN ex b ON a.vec_id = b.vec_id
      GROUP BY 1, 2
    ),
    sx AS (SELECT pos - 1 AS i, sum(x) AS sxv FROM ex GROUP BY 1),
    n AS (SELECT count(*) AS nv FROM e),
    mu AS (SELECT i, round(sxv / nn.nv, 6) AS m FROM sx, n nn),
    cov AS (
      SELECT m.i, m.j,
             round((m.s - ma.m * sb.sxv - mb.m * sa.sxv + nn.nv * ma.m * mb.m)
                   / (nn.nv - 1), 6) AS c
      FROM mom m
      JOIN mu ma ON ma.i = m.i JOIN mu mb ON mb.i = m.j
      JOIN sx sa ON sa.i = m.i JOIN sx sb ON sb.i = m.j
      CROSS JOIN n nn
    ),
    v0 AS (SELECT i AS pos, round(1.0 / sqrt(64), 6)::DOUBLE AS vv FROM mu),
    w1 AS (SELECT cov.i AS pos, sum(cov.c * v0.vv) AS w FROM cov JOIN v0 ON v0.pos = cov.j GROUP BY cov.i),
    n1 AS (SELECT sqrt(sum(w * w)) AS nm FROM w1),
    v1 AS (SELECT pos, round(w / nm, 6) AS vv FROM w1 CROSS JOIN n1),
    w2 AS (SELECT cov.i AS pos, sum(cov.c * v1.vv) AS w FROM cov JOIN v1 ON v1.pos = cov.j GROUP BY cov.i),
    n2 AS (SELECT sqrt(sum(w * w)) AS nm FROM w2),
    v2 AS (SELECT pos, round(w / nm, 6) AS vv FROM w2 CROSS JOIN n2),
    w3 AS (SELECT cov.i AS pos, sum(cov.c * v2.vv) AS w FROM cov JOIN v2 ON v2.pos = cov.j GROUP BY cov.i),
    n3 AS (SELECT sqrt(sum(w * w)) AS nm FROM w3),
    v3 AS (SELECT pos, round(w / nm, 6) AS vv FROM w3 CROSS JOIN n3),
    lam AS (SELECT round(sum(v3.vv * w3.w), 4) AS eigval FROM v3 JOIN w3 USING (pos))
    SELECT v3.pos + 1 AS pos, v3.vv AS loading, lam.eigval AS eigval
    FROM v3 CROSS JOIN lam
    """,
)
def q_streaming_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PCA: the second-moment matrix accumulates INCREMENTALLY —
    one streaming aggregate whose state is the d²+d+1 mergeable moment
    cells (Σx_i x_j via a per-vector outer-product explode, Σx_i smuggled
    as j=-1 rows, the count as the (-1,-1) cell — all in ONE explode so a
    single stateful groupBy carries everything; sums are commutative, so
    batch boundaries are invisible and state size is d²-bounded no matter
    how long the vector stream runs). The drained moments finish into the
    covariance by the raw-moment identity Σ(x−μ̂)(y−μ̂) = Σxy − μ̂ᵢSxⱼ −
    μ̂ⱼSxᵢ + nμ̂ᵢμ̂ⱼ (the oracle computes the IDENTICAL expression, so the
    6dp-rounded covariance is engine-exact), then flow through the same
    pca_power_iterate tail as the batch path. This is how you keep a live
    eigenvector over a growing corpus without ever re-scanning it."""
    sdf = stream_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    entries = F.concat(
        F.flatten(
            F.transform(
                v,
                lambda x, i: F.transform(
                    v, lambda y, j: F.struct(i.alias("i"), j.alias("j"), (x * y).alias("p"))
                ),
            )
        ),
        F.transform(v, lambda x, i: F.struct(i.alias("i"), F.lit(-1).alias("j"), x.alias("p"))),
        F.array(F.struct(F.lit(-1).alias("i"), F.lit(-1).alias("j"), F.lit(1.0).alias("p"))),
    )
    cells = (
        sdf.select(F.explode(entries).alias("t"))
        .select("t.i", "t.j", "t.p")
        .groupBy("i", "j")
        .agg(F.sum("p").alias("s"))
    )
    drained, _ = run_stream_to_memory(cells, output_mode="complete")
    n = drained.where((F.col("i") == -1) & (F.col("j") == -1)).select(F.col("s").alias("nv"))
    sx = drained.where((F.col("i") >= 0) & (F.col("j") == -1)).select(
        F.col("i").alias("sx_i"), F.col("s").alias("sxv")
    )
    mu = sx.crossJoin(F.broadcast(n)).select(
        F.col("sx_i").alias("mu_i"), F.round(F.col("sxv") / F.col("nv"), 6).alias("m")
    )
    mom = drained.where((F.col("i") >= 0) & (F.col("j") >= 0))
    ma = mu.select(F.col("mu_i").alias("ia"), F.col("m").alias("m_a"))
    mb = mu.select(F.col("mu_i").alias("ib"), F.col("m").alias("m_b"))
    sa = sx.select(F.col("sx_i").alias("ja"), F.col("sxv").alias("sx_a"))
    sb = sx.select(F.col("sx_i").alias("jb"), F.col("sxv").alias("sx_b"))
    cov = (
        mom.join(F.broadcast(ma), F.col("i") == F.col("ia"))
        .join(F.broadcast(mb), F.col("j") == F.col("ib"))
        .join(F.broadcast(sa), F.col("i") == F.col("ja"))
        .join(F.broadcast(sb), F.col("j") == F.col("jb"))
        .crossJoin(F.broadcast(n))
        .select(
            "i",
            "j",
            F.round(
                (
                    F.col("s")
                    - F.col("m_a") * F.col("sx_b")
                    - F.col("m_b") * F.col("sx_a")
                    + F.col("nv") * F.col("m_a") * F.col("m_b")
                )
                / (F.col("nv") - 1),
                6,
            ).alias("c"),
        )
        .localCheckpoint(eager=False)
    )
    mu_pos = mu.select(F.col("mu_i").alias("pos"))
    return llmdata.pca_power_iterate(cov, mu_pos)


@query("q_streaming_stump", oracle=ORACLES["q_decision_stump"])
def q_streaming_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming decision-stump twin (online histogram tree learning):
    the features×32 Gini histogram accumulates INCREMENTALLY in streaming
    state — counts are commutative, so batch boundaries are invisible,
    and state is bounded at features×bins cells no matter how long the
    document stream runs. Bin ranges are the one thing an online
    histogram must know up front (production registers per-feature clip
    ranges as schema metadata); here they come from the static table —
    evaluation-side, like the exact counts in q_streaming_cms. The
    drained histogram flows through the same stump_best_split tail as
    the batch path and hash-matches the identical oracle — the split
    quality a fresh tree would get RIGHT NOW, updated per trigger."""
    rng = llmdata.stump_features(load_table(spark, "documents", sf_dir)).groupBy(
        F.col("feature").alias("r_feature")
    ).agg(F.min("val").alias("lo"), F.max("val").alias("hi"))

    sdf = stream_table(spark, sf_dir, "documents")
    binned = llmdata.stump_features(sdf).join(F.broadcast(rng), F.col("feature") == F.col("r_feature")).select(
        "feature",
        "pos",
        F.expr("CAST((val - lo) * 32 div (hi - lo + 1) AS BIGINT)").alias("bin"),
    )
    hist = binned.groupBy("feature", "bin").agg(
        F.count(F.lit(1)).alias("n"), F.sum("pos").alias("np")
    )
    drained, _ = run_stream_to_memory(hist, output_mode="complete")
    return llmdata.stump_best_split(drained, rng)


@query("q_streaming_survival", oracle=ORACLES["q_survival_curve"])
def q_streaming_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Kaplan-Meier twin: per-user (first, last) event times
    live in streaming state — min/max are commutative and idempotent, so
    arrival order, batching, and replays are all invisible, and state
    carries ONE row per user no matter how many events stream through
    (user cardinality ≪ event cardinality — the bound that makes
    continuous retention monitoring affordable). The drained user table
    flows through the same km_curve tail as the batch path (the horizon
    is the max over drained state) and hash-matches the identical
    oracle — a live survival curve, updated per trigger."""
    drained = _streaming_user_rollup(spark, sf_dir, F.min("ts").alias("f"), F.max("ts").alias("l"))
    return relext.km_curve(drained)


@query("q_streaming_acf", oracle=ORACLES["q_acf_daily"])
def q_streaming_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ACF twin: the (event_type, day, cents) daily table IS
    the streaming state — integer-cent sums are commutative, so arrival
    order, batching, and replays are invisible, and state is bounded by
    types×days regardless of stream length (the q_streaming_entropy
    bound). Drained cells flow through the shared acf_tail, hash-matching
    the identical batch oracle — live seasonality diagnostics per
    trigger without ever re-scanning the stream."""
    return relext.acf_tail(_streaming_daily_by_type_ts(spark, sf_dir))


@query("q_streaming_lag_features", oracle=ORACLES["q_lag_features"])
def q_streaming_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming feature-store twin: the (event_type, day, cents, n)
    daily table lives in streaming state (commutative integer sums —
    replays/batching invisible, types×days bound), and the drained
    state flows through the identical lag/rolling window tail as
    q_lag_features, hash-matching the same oracle — fresh model
    features per trigger without re-scanning history (the feature-store
    'online materialization' path)."""
    sdf = stream_table(spark, sf_dir, "events")
    daily = sdf.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"),
        F.count(F.lit(1)).alias("n"),
    )
    drained, _ = run_stream_to_memory(daily, output_mode="complete")
    return relext.lag_features_tail(drained)


@query("q_streaming_ab", oracle=ORACLES["q_ab_test"])
def q_streaming_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming A/B readout twin: per-user (purchases, events) counts
    live in streaming state — commutative sums, one row per user, so
    the experiment dashboard updates per trigger at user-bounded state
    regardless of event volume. Drained state flows through the shared
    ab_test_tail (arm hash, scale-free conversion, pooled z), hash-
    matching the identical batch oracle — the live significance monitor
    an experimentation platform actually runs (with the usual peeking
    caveat: a fixed-horizon z peeked continuously needs sequential
    correction; the statistic itself is unchanged)."""
    drained = _streaming_user_rollup(
        spark,
        sf_dir,
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("n_purchase"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return relext.ab_test_tail(drained)


@query("q_streaming_time_to_convert", oracle=ORACLES["q_time_to_convert"])
def q_streaming_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming funnel-latency twin: per-user first-view /
    first-purchase conditional mins ARE the streaming state — min is
    commutative and idempotent, so arrival order, batching, and replays
    are invisible and state is two timestamps per user at any event
    volume. Drained state shares time_to_convert_tail, hash-matching
    the batch oracle — the conversion-latency SLA dashboard, updated
    per trigger."""
    drained = _streaming_user_rollup(
        spark,
        sf_dir,
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("first_purchase"),
    )
    # raw streaming read yields TIMESTAMP_NTZ; the session tz is pinned
    # UTC, so this cast is value-preserving (same normalization as
    # tables._normalize_timestamps on the batch path)
    drained = drained.select(
        "user_id",
        F.col("first_view").cast("timestamp").alias("first_view"),
        F.col("first_purchase").cast("timestamp").alias("first_purchase"),
    )
    return relext.time_to_convert_tail(drained)


@query("q_streaming_retention", oracle=ORACLES["q_retention_curve"])
def q_streaming_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming retention twin: the distinct (user, active-day) table
    IS the streaming state — set-union semantics (a count per cell
    whose value is never read), so replays and batching are invisible
    and state is users×active-days-bounded regardless of event volume.
    Drained days flow through the shared retention_tail, hash-matching
    the batch oracle — the growth dashboard's D1/D7/D30 updated per
    trigger."""
    active = _streaming_user_days(spark, sf_dir).select("user_id", F.col("day").cast("date").alias("ad"))
    return relext.retention_tail(active)


@query("q_streaming_active_users", oracle=ORACLES["q_active_users"])
def q_streaming_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DAU/WAU/MAU twin: the same distinct (user, active-day)
    state as q_streaming_retention (set-union semantics — replays and
    batching invisible, users×days bound) drained through the shared
    active_users_tail, hash-matching the batch oracle — the live growth
    dashboard from the state a retention monitor already carries."""
    days = _streaming_user_days(spark, sf_dir).select("user_id", F.col("day").cast("date").alias("d"))
    return relext.active_users_tail(days)


@query("q_streaming_weekday_profile", oracle=ORACLES["q_weekday_profile"])
def q_streaming_weekday_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming weekday-profile twin: the SAME daily integer-cent state
    as q_streaming_acf (commutative sums, types×days bound) drained
    through the shared weekday_profile_tail, hash-matching the batch
    oracle — one state store can feed ACF, lag features, AND the
    weekday profile per trigger (the state-reuse argument: diagnostics
    are tails over shared bounded state, not separate scans)."""
    return relext.weekday_profile_tail(_streaming_daily_by_type_ts(spark, sf_dir))


@query("q_streaming_dsir", oracle=ORACLES["q_dsir_select"])
def q_streaming_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_dsir_select (L62b): the (is_target, bucket)
    token-count table — the sufficient statistic for the DSIR importance
    ratios — is maintained INCREMENTALLY by one streaming aggregate whose
    state is bounded at 2x4096 rows no matter how long the document
    stream runs; counts are commutative, so arrival order across
    micro-batches cannot change them. The drained table flows through the
    shared dsir_tail with the per-doc scoring side (evaluation-only here,
    exactly like the exact-count probe of q_streaming_cms), hash-matching
    the identical batch oracle. This is how target-domain selection runs
    on a live crawl: the ratio model updates continuously; scoring any
    batch of candidate docs is a broadcast join against 4096 rows."""
    sdf = stream_table(spark, sf_dir, "documents")
    tok_stream = (
        sdf.select("source", F.explode(F.split(F.col("text"), " ")).alias("w"))
        .where(F.col("w") != "")
        .select("source", llmdata.dsir_bucket(F.col("w")).alias("b"))
    )
    counts_stream = tok_stream.groupBy(
        (F.col("source") == "src0").alias("is_target"), "b"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    counts, _ = run_stream_to_memory(counts_stream, output_mode="complete")

    pool_tok = llmdata.dsir_tokens(load_table(spark, "documents", sf_dir)).where(F.col("source") != "src0")
    return llmdata.dsir_tail(counts, pool_tok)


def dsir_score_stream(
    spark: SparkSession,
    feed_dir: str,
    schema,
    target_source: str = "src0",
    on_batch=None,
) -> DataFrame:
    """Live-scoring streaming DSIR: score each candidate micro-batch
    against the ratio state IN FORCE when it arrives — the production
    variant of q_streaming_dsir, where the stream carries both target-
    domain documents (which update the ratio model) and raw-pool
    candidates (which are scored and emitted immediately, not re-read
    from a static table at the end).

    foreachBatch loop (the q_streaming_merge_upsert machinery): each
    micro-batch's token-bucket counts fold into the running
    (is_target, b, cnt) state — bounded at 2xB rows regardless of stream
    length, compacted per batch and localCheckpoint-ed so lineage stays
    O(1) — and the batch's pool documents are then scored through the
    shared dsir_tail against that just-updated state and materialized
    EAGERLY (a lazy plan would silently re-score against the final
    state). A document's score therefore depends on WHEN it arrives:
    the same text scores differently before vs after a ratio update —
    pinned by tests/test_streaming.py::
    test_streaming_dsir_live_scoring_uses_state_in_force against batch
    prefix replays of the same dsir_tail expressions.

    ``on_batch(batch_id, batch_df)`` is an optional observability hook
    (metrics, batch-composition capture in tests). Returns the union of
    per-batch scored frames: (doc_id, source, n_tokens, dsir_score,
    batch_id). At scale the per-batch scored output would stream to a
    sink instead of unioning; the state-side cost is one broadcast join
    against <= 2xB rows per batch either way."""
    sdf = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(feed_dir)
    state: dict = {"counts": None, "scored": []}

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if on_batch is not None:
            on_batch(batch_id, batch_df)
        tok = llmdata.dsir_tokens(batch_df)
        binc = tok.groupBy((F.col("source") == target_source).alias("is_target"), "b").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        cur = state["counts"]
        merged = (
            binc
            if cur is None
            else cur.unionByName(binc).groupBy("is_target", "b").agg(F.sum("cnt").alias("cnt"))
        )
        state["counts"] = merged.localCheckpoint()  # eager: O(1) lineage, stable snapshot
        pool = tok.where(F.col("source") != target_source).select("doc_id", "source", "b")
        scored = llmdata.dsir_tail(state["counts"], pool).withColumn("batch_id", F.lit(batch_id))
        state["scored"].append(scored.localCheckpoint())  # eager: pin the state in force NOW

    _drain(spark, sdf.writeStream.foreachBatch(handle), os.path.join(feed_dir, "_chk"), 120)

    if not state["scored"]:
        return spark.createDataFrame(
            [], "doc_id long, source string, n_tokens bigint, dsir_score double, batch_id long"
        )
    return reduce(DataFrame.unionByName, state["scored"])


@query("q_streaming_hll", oracle=relext.HLL_ORACLE)
def q_streaming_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_hll_portable (N35b): the 256-register-per-group
    HLL table is maintained INCREMENTALLY — the streaming aggregate's
    max(rho) state IS the sketch, bounded at groups×256 small-int rows no
    matter how long the stream runs, and max is commutative so arrival
    order across micro-batches cannot change a register (the same
    arrival-order-proof argument as the count state of q_streaming_cms
    and the bit_or state of q_streaming_bloom — this twin adds the
    MAX-state member of the mergeable-sketch family). The drained
    registers flow through the shared hll_estimate_tail (<all> merge +
    sorted-bucket fold + harmonic estimate) and hash-match the identical
    batch oracle — continuous distinct-user dashboards over an unbounded
    stream with O(1) state and no corpus re-scan."""
    sdf = stream_events(spark, sf_dir)
    b, rho = relext.hll_rho_cols()
    reg_stream = (
        sdf.select("event_type", b, rho)
        .groupBy("event_type", "b")
        .agg(F.max("rho").alias("rho"))
    )
    reg, _ = run_stream_to_memory(reg_stream, output_mode="complete")
    return relext.hll_estimate_tail(reg)


@query("q_streaming_wasserstein", oracle=llmdata.EMD_ORACLE)
def q_streaming_wasserstein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_wasserstein_drift: the SAME (source, score-bin)
    count state as q_streaming_ks — bounded at sources × 10k cells at any
    stream length, commutative counts so batching is invisible — drained
    through the shared emd_report tail instead of ks_report, hash-matching
    the identical batch oracle. One state table serves BOTH drift
    readouts (max-gap KS and mass-weighted W1): the monitoring pattern
    where adding a metric costs a new 20-row tail, not a new scan or new
    state."""
    return llmdata.emd_report(_streaming_score_bins(spark, sf_dir))


@query("q_streaming_ewma", oracle=ORACLES["q_ewma_smooth"])
def q_streaming_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EWMA twin: the (event_type, day_s, cents) daily table
    IS the streaming state — commutative integer-cent sums, so arrival
    order, batching, and replays are invisible and state is bounded by
    types×days regardless of stream length (the q_streaming_acf bound).
    Drained cells flow through the shared ewma_tail (closed-form
    restatement of the smoothing recursion, sorted-fold double sum),
    hash-matching the identical batch oracle — a live smoothed
    alerting baseline per trigger without re-scanning the stream."""
    sdf = stream_table(spark, sf_dir, "events")
    daily = sdf.groupBy(
        "event_type",
        F.unix_timestamp(F.date_trunc("day", F.col("ts"))).alias("day_s"),
    ).agg(F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"))
    drained, _ = run_stream_to_memory(daily, output_mode="complete")
    return relext.ewma_tail(drained)


@query("q_streaming_zonemap", oracle=ORACLES["q_zonemap_prune"])
def q_streaming_zonemap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming zone-map twin: the per-(layout, bucket) zone table
    (count / min-day / max-day) IS the streaming state — all three are
    commutative merges, so a WRITER can maintain parquet-footer-grade
    zone maps incrementally as data lands (this is exactly what a
    lakehouse ingestion job does), bounded by bucket cardinality
    regardless of stream length. Drained zones flow through the shared
    zonemap_tail and hash-match the identical batch oracle — the
    skip-scan audit stays current per trigger without re-scanning the
    table."""
    sdf = stream_table(spark, sf_dir, "orders")
    o = sdf.select(
        F.col("o_orderkey").alias("ok"),
        F.floor(F.unix_timestamp("o_orderdate") / 86400).cast("long").alias("day"),
    )
    g = relext._zonemap_assign(o).groupBy("layout", "bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("day").alias("min_day"),
        F.max("day").alias("max_day"),
    )
    drained, _ = run_stream_to_memory(g, output_mode="complete")
    return relext.zonemap_tail(drained)


@query("q_streaming_novelty", oracle=ORACLES["q_ngram_novelty"])
def q_streaming_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming novelty twin: the (bucket, gram, cnt) table IS the
    streaming state — counts are commutative and bucket = doc_id//50 is
    monotone in doc_id, so a gram's first-appearance bucket is a MIN
    over state rows and arrival order is invisible. The live
    crawl-saturation monitor: watch pct_new collapse per trigger as a
    crawl re-fetches known content, without re-scanning the corpus.
    State bounded by Σ per-bucket distinct trigrams — the same
    cardinality the batch exchange carries. Drained state shares
    novelty_tail and hash-matches the identical batch oracle."""
    sdf = stream_table(spark, sf_dir, "documents")
    words = sdf.select("doc_id", F.split("text", " ").alias("w"))
    n = F.size("w")
    grams = (
        words.where(n >= 3)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice("w", 1, n - 2).alias("a"),
                    F.slice("w", 2, n - 2).alias("b"),
                    F.slice("w", 3, n - 2).alias("c"),
                )
            ).alias("g"),
        )
        .select(
            "doc_id",
            F.concat_ws(" ", F.col("g.a"), F.col("g.b"), F.col("g.c")).alias("gram"),
        )
    )
    g3 = grams.groupBy(
        F.floor(F.col("doc_id") / 50).cast("long").alias("bucket"), "gram"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    drained, _ = run_stream_to_memory(g3, output_mode="complete")
    return llmdata.novelty_tail(drained)


@query("q_streaming_heaps", oracle=ORACLES["q_heaps_fit"])
def q_streaming_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Heaps'-law twin: the (bucket, word, cnt) state — same
    mergeable shape as the novelty twin at word granularity — drained
    through the shared heaps_tail: a LIVE vocabulary-growth curve (is
    the crawl still finding new language?) and the capacity forecast
    for vocab-sized state, updated per trigger. Hash-matches the
    identical batch oracle."""
    sdf = stream_table(spark, sf_dir, "documents")
    tok = sdf.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).where(F.length("word") > 0)
    w3 = tok.groupBy(
        F.floor(F.col("doc_id") / 50).cast("long").alias("bucket"), "word"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    drained, _ = run_stream_to_memory(w3, output_mode="complete")
    return llmdata.heaps_tail(drained)


@query("q_streaming_saturation", oracle=ORACLES["q_user_saturation"])
def q_streaming_saturation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming saturation twin: the (user_id, day, n) user-day table IS
    the streaming state (commutative counts; a user's first day is a MIN
    over state rows — arrival order invisible, the q_streaming_retention
    state bound), drained through the shared saturation_tail: live
    growth accounting — is today's traffic acquisition or retention —
    per trigger, without re-scanning history. Hash-matches the identical
    batch oracle."""
    sdf = stream_table(spark, sf_dir, "events")
    ud = sdf.groupBy(
        "user_id",
        F.floor(F.unix_timestamp(F.date_trunc("day", F.col("ts"))) / 86400).cast("long").alias("day"),
    ).agg(F.count(F.lit(1)).alias("n"))
    drained, _ = run_stream_to_memory(ud, output_mode="complete")
    return relext.saturation_tail(drained)


@query("q_streaming_mi", oracle=ORACLES["q_mutual_information"])
def q_streaming_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming mutual-information twin: the (type, hour, count) cell
    grid IS the streaming state — commutative counts over the bounded
    type×24 grid (the q_streaming_ks state-shape argument), drained
    through the shared mi_tail: a LIVE dependence monitor (is the
    type mix decoupling from time-of-day — a bot signature) per
    trigger. Hash-matches the identical batch oracle."""
    sdf = stream_table(spark, sf_dir, "events")
    cells = sdf.groupBy(
        F.col("event_type").alias("x"), F.hour("ts").alias("y")
    ).agg(F.count(F.lit(1)).alias("nxy"))
    drained, _ = run_stream_to_memory(cells, output_mode="complete")
    return relext.mi_tail(drained)


@query("q_streaming_jsd", oracle=ORACLES["q_js_divergence"])
def q_streaming_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Jensen-Shannon twin: the (lang, len-bucket, count)
    state — lang×16 commutative cells — drained through the shared
    jsd_tail: live per-language drift vs the whole corpus as a crawl
    ingests, beside the KS and Wasserstein twins (one bounded-state
    pattern, three drift metrics). Hash-matches the batch oracle."""
    sdf = stream_table(spark, sf_dir, "documents")
    tok = sdf.select(
        "lang", F.explode(F.split("text", " ")).alias("word")
    ).where(F.length("word") > 0).select(
        "lang", F.least(F.lit(16), F.length("word")).alias("len")
    )
    p = tok.groupBy("lang", "len").agg(F.count(F.lit(1)).alias("np"))
    drained, _ = run_stream_to_memory(p, output_mode="complete")
    return llmdata.jsd_tail(drained)


@query("q_streaming_audience", oracle=ORACLES["q_audience_overlap"])
def q_streaming_audience(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming audience-overlap twin: per-(user, day) event-type SETS
    as streaming state (collect_set is order-insensitive and
    idempotent under replay — the set, sorted, is the value), drained
    through the shared audience_tail: the live UpSet panel. State is
    user-day bounded with ≤|types| elements per row."""
    sdf = stream_table(spark, sf_dir, "events")
    u = sdf.groupBy(
        "user_id",
        F.floor(F.unix_timestamp(F.date_trunc("day", F.col("ts"))) / 86400).cast("long").alias("day"),
    ).agg(
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias("combo"),
        F.size(F.collect_set("event_type")).alias("n_types"),
    )
    drained, _ = run_stream_to_memory(u, output_mode="complete")
    return relext.audience_tail(drained)


@query("q_streaming_srm", oracle=ORACLES["q_srm_check"])
def q_streaming_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SRM twin (N99b): the (day, user) presence set IS the
    streaming state — the same distinct any streaming-DAU pipeline keeps,
    order-insensitive and replay-idempotent (presence is idempotent), so
    batching can never flip a flag. Drained state re-derives the md5 arm
    (a pure function of user_id — no arm bit stored) and flows through
    the shared srm_tail, hash-matching the identical batch oracle: the
    live assignment-health monitor that must trip BEFORE anyone reads
    the q_streaming_ab panel it guards."""
    sdf = stream_table(spark, sf_dir, "events")
    # raw readStream yields TIMESTAMP_NTZ; cast pins it to the session's
    # UTC so unix_millis is legal (the memory-sink cast idiom above)
    du = sdf.groupBy(
        F.expr("unix_millis(cast(ts as timestamp)) div 86400000").alias("day"),
        F.col("user_id"),
    ).agg(F.count(F.lit(1)).alias("n"))
    drained, _ = run_stream_to_memory(du, output_mode="complete")
    return relext.srm_tail(drained.select("day", "user_id"))


@query("q_streaming_kmv", oracle=ORACLES["q_kmv_sketch"])
def q_streaming_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming KMV twin (N98b): the (event_type, user) presence set is
    the state — same bound as the batch distinct (and as the
    q_streaming_ab per-user rows); presence is commutative + idempotent
    so arrival order and replays are invisible. Drained state flows
    through the shared kmv_tail (hash, per-type bottom-64, '<all>'
    merge), hash-matching the identical batch oracle. A production
    variant would fold the bottom-k INSIDE the state store
    (applyInPandasWithState keeping 64 longs/group); the presence-set
    state here trades that for exactness of the paired batch contract —
    the estimate, either way, is the same 64 hashes."""
    sdf = stream_table(spark, sf_dir, "events")
    d = sdf.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("n"))
    drained, _ = run_stream_to_memory(d, output_mode="complete")
    return relext.kmv_tail(drained.select("event_type", "user_id"))


@query("q_streaming_holt", oracle=ORACLES["q_holt_linear"])
def q_streaming_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Holt twin (N101b): the (event_type, day, cents) daily
    table lives in streaming state — commutative integer sums, bounded at
    types x days for any stream length (the q_streaming_acf state) — and
    the level/trend struct fold runs at DRAIN time over the tiny state
    table via the shared holt_tail, hash-matching the batch oracle. The
    live forecast refreshes per trigger; the sequential recursion itself
    never needs to be incremental because its input is days-bounded."""
    return relext.holt_tail(_streaming_daily_by_type(spark, sf_dir))


@query("q_streaming_seasonal", oracle=ORACLES["q_seasonal_decompose"])
def q_streaming_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming seasonal-decomposition twin (N100b): the (day, cents)
    daily state — one integer row per day forever — drained through the
    shared seasonal_tail (centered-7d integer trend, slot means, exact
    residual), hash-matching the batch oracle. The trailing days of the
    live decomposition shift as late data lands (the centered window is
    only final 3 days behind the watermark — the same caveat the batch
    docstring's truncation note pins); everything is integer arithmetic,
    so a replay can never drift."""
    return relext.seasonal_tail(_streaming_daily_total(spark, sf_dir))


@query("q_streaming_ccf", oracle=ORACLES["q_ccf_leadlag"])
def q_streaming_ccf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming lead-lag CCF twin (N108b): the per-type daily-cents
    state, filtered to the view/purchase pair at drain time — commutative
    integer sums bounded at types x days rows forever — and the 15-lag moment
    correlation runs at drain time through the shared ccf_tail,
    hash-matching the batch oracle. A live which-moves-first monitor:
    each trigger refreshes the lag profile as new days accumulate."""
    daily = _streaming_daily_by_type(spark, sf_dir).where(F.col("event_type").isin("view", "purchase"))
    return relext.ccf_tail(daily)


@query("q_streaming_growth", oracle=ORACLES["q_growth_accounting"])
def q_streaming_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming growth-accounting twin (N112b): the (user_id, week)
    presence set as state — idempotent and order-proof (the
    q_streaming_retention bound: users x weeks rows), drained through the
    shared growth_tail so the live new/retained/resurrected/churned panel
    hash-matches the batch oracle. The trailing week is non-final until
    the week closes (its churn row needs week+1 evidence) — the same
    horizon caveat the batch docstring clips."""
    sdf = stream_table(spark, sf_dir, "events")
    uw = sdf.groupBy(
        "user_id",
        F.expr("unix_millis(cast(ts as timestamp)) div 604800000").alias("week"),
    ).agg(F.count(F.lit(1)).alias("n"))
    drained, _ = run_stream_to_memory(uw, output_mode="complete")
    return relext.growth_tail(drained.select("user_id", "week"))


@query("q_streaming_xmr", oracle=ORACLES["q_xmr_control"])
def q_streaming_xmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming XmR control-chart twin (N109b): the per-type daily-cents
    state (commutative integer sums, types x days rows forever) drained
    through the shared xmr_tail — live natural process limits that
    tighten as days accumulate, hash-matching the batch oracle. The SPC
    complement to q_streaming_zscore: limits from short-term
    consecutive-day movement, immune to slow drift inflating them."""
    return relext.xmr_tail(_streaming_daily_by_type(spark, sf_dir))


@query("q_streaming_mann_kendall", oracle=ORACLES["q_mann_kendall"])
def q_streaming_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Mann-Kendall twin (N106b): the per-type daily-cents state
    drained through the shared mann_kendall_tail — a live is-the-trend-real
    monitor whose verdict hash-matches the batch oracle. The pair statistic
    recomputes over the days-bounded state at drain time; it never needs to
    be incremental because its input is bounded, the q_streaming_acf
    argument."""
    return relext.mann_kendall_tail(_streaming_daily_by_type(spark, sf_dir))


@query("q_streaming_runs", oracle=ORACLES["q_runs_test"])
def q_streaming_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming runs-test twin (N107b): daily-cents state through the
    shared runs_test_tail — live randomness audit of the day-over-day sign
    sequence (momentum and oscillation regressions surface per trigger),
    hash-matching the batch oracle."""
    return relext.runs_test_tail(_streaming_daily_by_type(spark, sf_dir))


@query("q_streaming_welch", oracle=ORACLES["q_welch_ttest"])
def q_streaming_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Welch twin (N116b): daily-cents state through the shared
    welch_tail — the weekend effect monitored live with exact moments,
    hash-matching the batch oracle."""
    return relext.welch_tail(_streaming_daily_by_type(spark, sf_dir))



@query("q_streaming_drawdown", oracle=ORACLES["q_max_drawdown"])
def q_streaming_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming max-drawdown twin (N118b): per-type daily-cents state
    through the shared max_drawdown_tail — the worst peak-to-trough slide
    re-evaluated per trigger (a live revenue-at-risk monitor), hash-matching
    the batch oracle."""
    return relext.max_drawdown_tail(_streaming_daily_by_type(spark, sf_dir))


@query("q_streaming_strength", oracle=ORACLES["q_seasonality_strength"])
def q_streaming_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming seasonality-strength twin (N119b): the (day, cents) state
    through seasonality_strength_tail — the F_T/F_S scorecard refreshed per
    trigger (trailing 3 days non-final behind the watermark, the
    q_streaming_seasonal caveat), hash-matching the batch oracle."""
    return relext.seasonality_strength_tail(_streaming_daily_total(spark, sf_dir))


@query("q_streaming_seasonal_anomaly", oracle=ORACLES["q_seasonal_anomaly"])
def q_streaming_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming seasonal-anomaly twin (N121b): the (day, cents) state
    through seasonal_anomaly_tail — the live top-10 residual-outlier panel
    (a weekly peak still not an anomaly, a drift still unable to inflate
    MAD), hash-matching the batch oracle."""
    return relext.seasonal_anomaly_tail(_streaming_daily_total(spark, sf_dir))


@query("q_streaming_nelson_aalen", oracle=ORACLES["q_nelson_aalen"])
def q_streaming_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Nelson-Aalen twin (N115b): per-user first/last timestamps
    as state (min/max — commutative, replay-idempotent; the
    q_streaming_survival bound) drained through the shared na_curve —
    the live cumulative-hazard curve beside the KM twin, hash-matching
    the batch oracle."""
    drained = _streaming_user_rollup(spark, sf_dir, F.min("ts").alias("f"), F.max("ts").alias("l"))
    return relext.na_curve(drained)


@query("q_streaming_qini", oracle=ORACLES["q_qini_curve"])
def q_streaming_qini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Qini twin (N127b): the per-user (n_events, n_purchase)
    state — exactly the q_streaming_ab state — drained through the shared
    qini_tail, so the live uplift-by-decile panel hash-matches the batch
    oracle; arms and deciles re-derive at drain (pure functions of the
    state)."""
    drained = _streaming_user_rollup(
        spark,
        sf_dir,
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("n_purchase"),
    )
    return relext.qini_tail(drained)


@query("q_streaming_shapley", oracle=ORACLES["q_shapley_attribution"])
def q_streaming_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Shapley twin (N130b): per-user event-type counts as state
    (5 integers per user forever), drained through the shared shapley_tail
    — live channel attribution whose efficiency axiom still holds at every
    trigger, hash-matching the batch oracle."""
    drained = _streaming_user_rollup(
        spark,
        sf_dir,
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(f"n_{t}")
            for t in ("click", "view", "signup", "purchase")
        ],
    )
    return relext.shapley_tail(drained)


@query("q_streaming_bootstrap", oracle=ORACLES["q_bootstrap_ci"])
def q_streaming_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming bootstrap twin (N129b): per-user purchase cents as state,
    drained through the shared bootstrap_tail — the Poisson-bootstrap CI
    refreshed per trigger (weights re-derive from the hash, so replays and
    arrival order are invisible), hash-matching the batch oracle."""
    drained = _streaming_user_rollup(
        spark,
        sf_dir,
        F.sum(
            F.when(
                F.col("event_type") == "purchase", F.round(F.col("value") * 100).cast("long")
            ).otherwise(F.lit(0))
        ).alias("cents"),
    )
    return relext.bootstrap_tail(drained)


@query("q_streaming_mann_whitney", oracle=ORACLES["q_mann_whitney"])
def q_streaming_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Mann-Whitney twin (N131b): the per-type daily-cents state
    through the shared mann_whitney_tail — the nonparametric weekend-shift
    verdict live beside the Welch twin, hash-matching the batch oracle."""
    return relext.mann_whitney_tail(_streaming_daily_by_type(spark, sf_dir))


@query("q_streaming_kendall", oracle=ORACLES["q_kendall_tau"])
def q_streaming_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Kendall tau-b twin (N136b): the per-type daily-cents
    state (filtered to the view/purchase pair) through the shared
    kendall_tau_tail — live rank-concordance between traffic and revenue,
    hash-matching the batch oracle. The pair statistic recomputes over the
    days-bounded state at drain time (the q_streaming_acf argument)."""
    daily = _streaming_daily_by_type(spark, sf_dir).where(
        F.col("event_type").isin("view", "purchase")
    )
    return relext.kendall_tau_tail(daily)


@query("q_streaming_pettitt", oracle=ORACLES["q_pettitt_changepoint"])
def q_streaming_pettitt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Pettitt twin (N139b): daily-cents state through the
    shared pettitt_tail — a live where-did-the-level-shift monitor whose
    most-probable change day hash-matches the batch oracle."""
    return relext.pettitt_tail(_streaming_daily_by_type(spark, sf_dir))


@query("q_streaming_kruskal", oracle=ORACLES["q_kruskal_wallis"])
def q_streaming_kruskal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Kruskal-Wallis twin (N137b): daily-cents state through
    the shared kruskal_tail — the live are-the-types-one-distribution
    verdict, hash-matching the batch oracle."""
    return relext.kruskal_tail(_streaming_daily_by_type(spark, sf_dir))


@query("q_streaming_anova", oracle=ORACLES["q_anova"])
def q_streaming_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ANOVA twin (N140b): daily-cents state through the shared
    anova_tail — live F/eta^2 across event types, hash-matching the batch
    oracle; the mean-axis companion to the Kruskal twin."""
    return relext.anova_tail(_streaming_daily_by_type(spark, sf_dir))


@query("q_streaming_tukey", oracle=ORACLES["q_tukey_fences"])
def q_streaming_tukey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Tukey-fences twin (N141b): daily-cents state through the
    shared tukey_tail — live IQR-fence outlier counts per type,
    hash-matching the batch oracle."""
    return relext.tukey_tail(_streaming_daily_by_type(spark, sf_dir))


@query("q_streaming_cramers", oracle=ORACLES["q_cramers_v"])
def q_streaming_cramers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Cramer's-V twin (N138b): the types x 24 contingency-cell
    count state through the shared cramers_tail — the live
    association-strength drift number, hash-matching the batch oracle.
    Counts are commutative, so arrival order and micro-batch boundaries
    cannot change the drained table."""
    cells = stream_table(spark, sf_dir, "events").groupBy(
        "event_type", F.hour(F.col("ts").cast("timestamp")).cast("long").alias("hr")
    ).agg(F.count(F.lit(1)).alias("obs"))
    drained, _ = run_stream_to_memory(cells, output_mode="complete")
    return relext.cramers_tail(drained)


@query("q_streaming_holt_winters", oracle=ORACLES["q_holt_winters"])
def q_streaming_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Holt-Winters twin (N147b): the per-type daily-cents
    state through the shared holt_winters_tail — a live
    level/trend/seasonal forecast panel whose numbers hash-match the
    batch oracle; the bounded-state-then-fold argument of the Holt and
    seasonal twins extended to the triple-smoothing state."""
    return relext.holt_winters_tail(_streaming_daily_by_type(spark, sf_dir))


@query("q_streaming_loudness", oracle=ORACLES["q_audio_loudness"])
def q_streaming_loudness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming audio-loudness twin (L94b): documents ingest as a
    stream, synthesize their WAV payloads and run the REAL RIFF walk per
    micro-batch (append mode — per-clip rows are immutable), then the
    same declarative dBFS/crest tail as the batch query; hash-matches
    the batch oracle. The continuous-ingest version of the audio quality
    gate: clipping and silence surface as clips arrive, not at batch
    close."""
    docs, _ = run_stream_to_memory(stream_table(spark, sf_dir, "documents"), output_mode="append")
    wav = multimodal.text_to_wav(docs, sample_rate=8000, max_samples=256)
    st = multimodal.loudness_audio(wav).where(F.col("decode_ok"))
    rms = F.sqrt(F.col("sumsq") / F.col("n_samples"))
    return st.select(
        "media_id", "n_samples", "peak",
        F.round(rms, 4).alias("rms"),
        F.when(F.col("peak") == 0, F.lit(None).cast("double"))
        .otherwise(F.round(20.0 * F.log10(F.col("peak") / 32768.0), 4))
        .alias("peak_dbfs"),
        F.when(F.col("sumsq") == 0, F.lit(None).cast("double"))
        .otherwise(F.round(10.0 * F.log10(F.col("sumsq") / F.col("n_samples") / (32768.0 * 32768.0)), 4))
        .alias("rms_dbfs"),
        F.round(F.try_divide(F.col("peak"), rms), 4).alias("crest_factor"),
    )


@query("q_streaming_sax", oracle=ORACLES["q_sax_words"])
def q_streaming_sax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SAX twin (N148b): the per-type daily-cents state through
    the shared sax_tail — each trigger re-symbolizes the bounded series,
    so the live panel always shows the CURRENT word; hash-matches the
    batch oracle."""
    return relext.sax_tail(_streaming_daily_by_type(spark, sf_dir))


@query("q_streaming_psi", oracle=ORACLES["q_psi_drift"])
def q_streaming_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PSI twin (L97b): the (source, length-bin, count) cell
    state — sources x 16 commutative rows — drained through the shared
    psi_tail: the FOURTH live drift metric on the one bounded-state
    pattern (KS max-gap, W1 transport, JSD symmetric-info, PSI banded
    verdicts). Hash-matches the batch oracle."""
    sdf = stream_table(spark, sf_dir, "documents")
    cells = sdf.groupBy(
        "source", F.least(F.lit(15), F.expr("n_chars div 64")).alias("bin")
    ).agg(F.count(F.lit(1)).alias("np"))
    drained, _ = run_stream_to_memory(cells, output_mode="complete")
    return llmdata.psi_tail(drained)


@query("q_streaming_gopher", oracle=ORACLES["q_gopher_rules"])
def q_streaming_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Gopher twin (L99b): per-doc rule flags are pure
    functions, so the per-source counter table IS the streaming state
    (commutative sums, sources-bounded); drained counters flow through
    the shared gopher_tail — a live rule-level quality gate on a crawl,
    hash-matching the batch oracle."""
    g = llmdata.gopher_counts(stream_table(spark, sf_dir, "documents"))
    drained, _ = run_stream_to_memory(g, output_mode="complete")
    return llmdata.gopher_tail(drained)


@query("q_streaming_mojibake", oracle=ORACLES["q_mojibake_audit"])
def q_streaming_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming mojibake twin (L100b): the per-source encoding-corruption
    counters as commutative streaming state through the shared
    mojibake_tail — broken decodes surface as the crawl ingests, not at
    the next batch audit. Hash-matches the batch oracle."""
    g = llmdata.mojibake_counts(stream_table(spark, sf_dir, "documents"))
    drained, _ = run_stream_to_memory(g, output_mode="complete")
    return llmdata.mojibake_tail(drained)


@query("q_streaming_kappa", oracle=ORACLES["q_cohens_kappa"])
def q_streaming_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming kappa twin (L98b): the (lang, a, b, c, d) agreement
    cells as commutative streaming state through the shared kappa_tail —
    live rater-drift monitoring (a quality-model regression shows up as
    kappa sliding, per trigger). Hash-matches the batch oracle."""
    g = llmdata.kappa_counts(stream_table(spark, sf_dir, "documents"))
    drained, _ = run_stream_to_memory(g, output_mode="complete")
    return llmdata.kappa_tail(drained)


def _streaming_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (segment, custkey, cents) revenue state over an ORDER stream
    with a static customer dimension (broadcast per micro-batch — the
    q_streaming_enrich join shape): commutative integer sums bounded at
    segments x customers rows; the shared head of the concentration/
    inequality twins (N149b HHI, N150b Theil)."""
    sdf = stream_table(spark, sf_dir, "orders")
    cust = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("ck"), F.col("c_mktsegment").alias("segment")
    )
    rows = (
        sdf.join(F.broadcast(cust), sdf.o_custkey == F.col("ck"))
        .groupBy("segment", F.col("o_custkey").alias("custkey"))
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    )
    drained, _ = run_stream_to_memory(rows, output_mode="complete")
    return drained


@query("q_streaming_hhi", oracle=ORACLES["q_hhi_concentration"])
def q_streaming_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HHI twin (N149b): the per-customer revenue state drained
    through the shared hhi_tail — live concentration monitoring (a whale
    customer emerging mid-day moves the index per trigger).
    Hash-matches the batch oracle."""
    return relext.hhi_tail(_streaming_customer_revenue(spark, sf_dir))


@query("q_streaming_theil", oracle=ORACLES["q_theil_index"])
def q_streaming_theil(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Theil twin (N150b): the SAME revenue state as N149b
    drained through theil_tail — one bounded state table serves both
    concentration readouts (HHI points + decomposable Theil), the
    KS/W1/JSD/PSI multi-metric pattern on the revenue axis.
    Hash-matches the batch oracle."""
    return relext.theil_tail(_streaming_customer_revenue(spark, sf_dir))


@query("q_streaming_mcnemar", oracle=ORACLES["q_mcnemar"])
def q_streaming_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming McNemar twin (N151b): the (event_type, user, day)
    presence state — counts commutative, bounded by active user-days
    (the q_streaming_saturation precedent) — drained through the shared
    mcnemar_tail; the half-period boundary re-derives from the state's
    own min/max day each trigger. Hash-matches the batch oracle."""
    return relext.mcnemar_tail(_streaming_presence_state(spark, sf_dir))


@query("q_streaming_brown_forsythe", oracle=ORACLES["q_brown_forsythe"])
def q_streaming_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Brown-Forsythe twin (N152b): the per-type daily-cents
    state through the shared brown_forsythe_tail — a live dispersion-
    homogeneity monitor beside the streaming ANOVA twin (means) on the
    same state table. Hash-matches the batch oracle."""
    return relext.brown_forsythe_tail(_streaming_daily_by_type(spark, sf_dir))


@query("q_streaming_ohlc", oracle=ORACLES["q_ohlc_bars"])
def q_streaming_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OHLC twin (N153b): candlestick bars on the PRODUCTION
    stateful path — ``applyInPandasWithState`` keeps ONE fixed-width bar
    row per (type, day) group (open/close are lexicographic (ts, id)
    witnesses, extremes/sums in integer cents; every merge commutative),
    each micro-batch emits only the bars it touched, and the latest-wins
    drain (max n_events per key — strictly increasing across emissions)
    reads back the final bars. State is |types| x |days| rows at ANY
    stream rate — the canonical market-data streaming downsampler.
    The transformWithStateInPandas port of the same state machine ships
    container-gated in streaming/ohlc.py (google.protobuf absent here).
    Hash-matches the batch oracle."""
    sdf = stream_events(spark, sf_dir).withColumn("ts", F.col("ts").cast("timestamp"))
    bars = ohlc_bars_stateful(prepare_ohlc_events(sdf))
    drained, _ = run_stream_to_memory(bars, output_mode="update")
    return ohlc_latest_bars(drained)


@query("q_streaming_page_hinkley", oracle=ORACLES["q_page_hinkley"])
def q_streaming_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Page-Hinkley twin (N154b): the (day, cents) daily-total
    state — days-bounded commutative sums — re-folded through the shared
    page_hinkley_tail each trigger: the live mean-shift alarm the batch
    detector only raises at the next scheduled run. The sequential fold
    runs over bounded state at drain time, never over the stream (the
    q_streaming_acf argument). Hash-matches the batch oracle."""
    return relext.page_hinkley_tail(_streaming_daily_total(spark, sf_dir))


@query("q_streaming_dtw", oracle=ORACLES["q_dtw_distance"])
def q_streaming_dtw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DTW twin (N159b): the (event_type, hour-of-day, cents)
    profile state — types x 24 commutative cells — re-warped through the
    shared dtw_tail each trigger: a live phase-alignment monitor between
    traffic and conversion profiles. The all-integer DP runs over the
    bounded state at drain time. Hash-matches the batch oracle."""
    sdf = stream_events(spark, sf_dir)
    hourly = sdf.groupBy(
        "event_type",
        F.expr("(unix_millis(cast(ts as timestamp)) div 3600000) % 24").alias("hour"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    drained, _ = run_stream_to_memory(hourly, output_mode="complete")
    return relext.dtw_tail(drained)


@query("q_streaming_cochran", oracle=ORACLES["q_cochran_q"])
def q_streaming_cochran(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Cochran twin (N162b): the SAME presence state as the
    McNemar twin drained through cochran_tail — one bounded state table
    serves both the paired 2-period and the repeated-measures 3-period
    shift tests (the multi-metric-per-state pattern). Hash-matches the
    batch oracle."""
    return relext.cochran_tail(_streaming_presence_state(spark, sf_dir))


@query("q_streaming_fleiss", oracle=ORACLES["q_fleiss_kappa"])
def q_streaming_fleiss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Fleiss twin (L104b): the (lang, n, sum_pos, sum_pnum)
    counter state — per-doc pure rater flags into commutative sums —
    through the shared fleiss_tail: live multi-rater drift monitoring.
    Hash-matches the batch oracle."""
    g = llmdata.fleiss_counts(stream_table(spark, sf_dir, "documents"))
    drained, _ = run_stream_to_memory(g, output_mode="complete")
    return llmdata.fleiss_tail(drained)


@query("q_streaming_hurst", oracle=ORACLES["q_hurst_exponent"])
def q_streaming_hurst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Hurst twin (N164b): the (day, cents) daily-total state
    re-analyzed through hurst_tail per trigger — live long-memory
    diagnosis of the revenue series; the R/S block scan runs over
    days-bounded state at drain time. Hash-matches the batch oracle."""
    return relext.hurst_tail(_streaming_daily_total(spark, sf_dir))


@query("q_streaming_croston", oracle=ORACLES["q_croston"])
def q_streaming_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Croston twin (N166b): the per-type daily-cents state
    through croston_tail — the live intermittent-demand forecast, dense
    spine and sequential fold re-run over bounded state at drain time.
    Hash-matches the batch oracle."""
    return relext.croston_tail(_streaming_daily_by_type(spark, sf_dir))


def _streaming_user_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user survival state (user_id, d0, dlast, dp, first_type) —
    min/max/min-struct aggregates, all commutative, one row per user —
    shared by the survival twins (N161b log-rank, N165b Weibull)."""
    sdf = stream_events(spark, sf_dir).select(
        "user_id", "event_type",
        F.expr("unix_millis(cast(ts as timestamp)) div 86400000").alias("day"),
    )
    per_user = sdf.groupBy("user_id").agg(
        F.min("day").alias("d0"),
        F.max("day").alias("dlast"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("day"))).alias("dp"),
        F.min(F.struct("day", "event_type"))["event_type"].alias("first_type"),
    )
    drained, _ = run_stream_to_memory(per_user, output_mode="complete")
    return drained


@query("q_streaming_logrank", oracle=ORACLES["q_logrank_test"])
def q_streaming_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming log-rank twin (N161b): the per-user survival state —
    commutative min/max aggregates, one row per user — drained through
    the shared logrank_tail: a live is-the-cohort-separation-real
    monitor. Hash-matches the batch oracle."""
    st = _streaming_user_survival(spark, sf_dir)
    users = st.select(
        "user_id",
        F.when(F.col("first_type") == "view", 1).otherwise(0).alias("g"),
        F.when(F.col("dp").isNotNull(), F.col("dp") - F.col("d0"))
        .otherwise(F.col("dlast") - F.col("d0")).alias("t"),
        F.when(F.col("dp").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    return relext.logrank_tail(users)


@query("q_streaming_weibull", oracle=ORACLES["q_weibull_fit"])
def q_streaming_weibull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Weibull twin (N165b): the SAME per-user survival state
    as the log-rank twin through weibull_tail — one user-bounded state,
    two survival readouts (nonparametric test + parametric fit).
    Hash-matches the batch oracle."""
    st = _streaming_user_survival(spark, sf_dir)
    users = st.select(
        "user_id",
        (F.coalesce(F.col("dp"), F.col("d0")) - F.col("d0") + 1).alias("t"),
        F.when(F.col("dp").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    return relext.weibull_tail(users)


@query("q_streaming_seasonal_mk", oracle=ORACLES["q_seasonal_mann_kendall"])
def q_streaming_seasonal_mk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming seasonal-MK twin (N168b): the (day, cents) daily-total
    state re-stratified through seasonal_mk_tail per trigger — the live
    deseasonalized trend verdict beside the plain streaming MK twin on
    the per-type state. Hash-matches the batch oracle."""
    return relext.seasonal_mk_tail(_streaming_daily_total(spark, sf_dir))


@query("q_streaming_code_switch", oracle=ORACLES["q_code_switch_audit"])
def q_streaming_code_switch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming code-switch twin (L108b): per-source mixed/unidentified
    counters as commutative streaming state through code_switch_tail —
    mixed-language crawl segments surface as they ingest. Hash-matches
    the batch oracle."""
    g = llmdata.code_switch_counts(stream_table(spark, sf_dir, "documents"))
    drained, _ = run_stream_to_memory(g, output_mode="complete")
    return llmdata.code_switch_tail(drained)


@query("q_streaming_price_index", oracle=ORACLES["q_price_index"])
def q_streaming_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming price-index twin (N163b): the (part, month, qty, cents)
    state over a LINEITEM stream — the first fact-table stream twin —
    drained through price_index_tail: live Laspeyres/Paasche/Fisher
    readouts as shipments ingest. Hash-matches the batch oracle."""
    sdf = stream_table(spark, sf_dir, "lineitem")
    pm = (
        sdf.groupBy(
            F.col("l_partkey").alias("partkey"),
            ((F.year(F.col("l_shipdate").cast("timestamp")) - 1992) * 12
             + F.month(F.col("l_shipdate").cast("timestamp")) - 1).alias("month"),
        )
        .agg(
            F.sum(F.round(F.col("l_quantity")).cast("long")).alias("qty"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("rev_cents"),
        )
    )
    drained, _ = run_stream_to_memory(pm, output_mode="complete")
    return relext.price_index_tail(drained.where(F.col("qty") > 0))


@query("q_streaming_abc_xyz", oracle=ORACLES["q_abc_xyz_matrix"])
def q_streaming_abc_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ABC-XYZ twin (N167b): the (part, week, qty, cents) state
    over the lineitem stream — ONE part-week-bounded commutative state
    drained through abc_xyz_tail serves BOTH classifications (revenue
    Pareto + demand variability): the live stocking-policy grid.
    Hash-matches the batch oracle."""
    sdf = stream_table(spark, sf_dir, "lineitem")
    pw = sdf.groupBy(
        F.col("l_partkey").alias("partkey"),
        F.expr("unix_millis(cast(l_shipdate as timestamp)) div 604800000").alias("week"),
    ).agg(
        F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("q"),
        F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long")).alias("cents"),
    )
    drained, _ = run_stream_to_memory(pw, output_mode="complete")
    return relext.abc_xyz_tail(drained)


@query("q_streaming_poisson_rate", oracle=ORACLES["q_poisson_rate_test"])
def q_streaming_poisson_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Poisson-rate twin (N169b): the (event_type, day, count)
    state — types x days commutative rows — through poisson_rate_tail:
    the live volume-shift alarm per type. Hash-matches the batch
    oracle."""
    sdf = stream_events(spark, sf_dir)
    counts = sdf.groupBy(
        "event_type",
        F.expr("unix_millis(cast(ts as timestamp)) div 86400000").alias("day"),
    ).agg(F.count(F.lit(1)).alias("k"))
    drained, _ = run_stream_to_memory(counts, output_mode="complete")
    return relext.poisson_rate_tail(drained)


@query("q_streaming_friedman", oracle=ORACLES["q_friedman_test"])
def q_streaming_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Friedman twin (N170b): the per-type daily-cents state
    through friedman_tail — the live is-the-type-ordering-stable verdict
    beside the streaming Kruskal/ANOVA twins on the same state table.
    Hash-matches the batch oracle."""
    return relext.friedman_tail(_streaming_daily_by_type(spark, sf_dir))


@query("q_streaming_keyword_trend", oracle=ORACLES["q_keyword_trend"])
def q_streaming_keyword_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming keyword-trend twin (L110b): the (week, word, count)
    state — vocab x buckets commutative cells — through
    keyword_trend_tail: emerging terms surface as the crawl ingests.
    Hash-matches the batch oracle."""
    sdf = stream_table(spark, sf_dir, "documents")
    cells = (
        sdf.select(
            F.expr("doc_id div 64").alias("week"),
            F.explode(F.split("text", " ")).alias("word"),
        )
        .where(F.length("word") > 0)
        .groupBy("week", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    drained, _ = run_stream_to_memory(cells, output_mode="complete")
    return llmdata.keyword_trend_tail(drained)


@query("q_streaming_textrank", oracle=ORACLES["q_textrank_keywords"])
def q_streaming_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming TextRank twin (L101b): the (w1, w2) adjacency-pair count
    state — vocab^2-bounded commutative cells, arrival-order-proof — with
    the pagerank iterations re-run over the drained graph through
    textrank_tail: live keyword centrality as the crawl ingests.
    Hash-matches the batch oracle."""
    sdf = stream_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda w: F.length(w) > 0)
    t = sdf.select(toks.alias("tk"))
    pairs = t.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("tk"), 1, F.greatest(F.size("tk") - 1, F.lit(0))),
                F.slice(F.col("tk"), 2, F.greatest(F.size("tk") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p")
    ).select(F.col("p")["w1"].alias("w1"), F.col("p")["w2"].alias("w2")).where(
        F.col("w1") != F.col("w2")
    )
    state = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))
    drained, _ = run_stream_to_memory(state, output_mode="complete")
    return llmdata.textrank_tail(drained.select("w1", "w2"))


@query("q_streaming_burrows", oracle=ORACLES["q_burrows_delta"])
def q_streaming_burrows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Burrows twin (L107b): the (source, word, count)
    vocabulary state — commutative, vocab x sources bounded — through
    burrows_tail: the live stylometric distance matrix (a content farm
    spinning up mid-crawl drifts toward its twin source per trigger).
    Hash-matches the batch oracle."""
    sdf = stream_table(spark, sf_dir, "documents")
    cells = (
        sdf.select("source", F.explode(F.split("text", " ")).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    drained, _ = run_stream_to_memory(cells, output_mode="complete")
    return llmdata.burrows_tail(drained)


@query("q_streaming_jarque_bera", oracle=ORACLES["q_jarque_bera"])
def q_streaming_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Jarque-Bera twin (N171b): the types x days daily-cents
    state through the shared jarque_bera_tail — live normality
    screening of the revenue metric (a fat-tailed regime shows up as
    kurtosis drift per trigger, before control-limit alarms misfire);
    hash-matches the batch oracle."""
    return relext.jarque_bera_tail(_streaming_daily_by_type(spark, sf_dir))


@query("q_streaming_cox_stuart", oracle=ORACLES["q_cox_stuart"])
def q_streaming_cox_stuart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Cox-Stuart twin (N172b): the daily-cents state through
    the shared cox_stuart_tail — each trigger re-pairs the CURRENT
    half-series, so the cheap sign-trend screen stays live as days
    accumulate; hash-matches the batch oracle."""
    return relext.cox_stuart_tail(_streaming_daily_by_type(spark, sf_dir))


@query("q_streaming_bollinger", oracle=ORACLES["q_bollinger_bands"])
def q_streaming_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Bollinger twin (N173b): the daily-cents state through
    the shared bollinger_tail — the live volatility envelope (today's
    bar re-bands as its revenue accumulates, breach flags stay exact
    integers); hash-matches the batch oracle."""
    return relext.bollinger_tail(_streaming_daily_by_type(spark, sf_dir))


@query("q_streaming_durbin_watson", oracle=ORACLES["q_durbin_watson"])
def q_streaming_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Durbin-Watson twin (N174b): the daily-cents state
    through the shared durbin_watson_tail — live serial-correlation
    monitoring of the metric the forecast/A-B family assumes
    independent; hash-matches the batch oracle."""
    return relext.durbin_watson_tail(_streaming_daily_by_type(spark, sf_dir))


@query("q_streaming_rsi", oracle=ORACLES["q_rsi_cutler"])
def q_streaming_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming RSI twin (N175b): the daily-cents state through the
    shared rsi_tail — the live momentum gauge (overbought/oversold
    bands re-evaluate per trigger from exact integer gain/loss sums);
    hash-matches the batch oracle."""
    return relext.rsi_tail(_streaming_daily_by_type(spark, sf_dir))


@query("q_streaming_jonckheere", oracle=ORACLES["q_jonckheere"])
def q_streaming_jonckheere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Jonckheere twin (N176b): the daily-cents state through
    the shared jonckheere_tail — the ordered week buckets grow as the
    stream runs, so the dose-response trend readout sharpens per
    trigger; hash-matches the batch oracle."""
    return relext.jonckheere_tail(_streaming_daily_by_type(spark, sf_dir))


@query("q_streaming_flesch", oracle=ORACLES["q_flesch_reading"])
def q_streaming_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Flesch twin (L112b): per-doc readability counts are pure
    projections, so the per-source counter table IS the streaming state
    (commutative sums, sources-bounded); drained counters flow through
    the shared flesch_tail — a live readability gate on a crawl;
    hash-matches the batch oracle."""
    g = llmdata.flesch_counts(stream_table(spark, sf_dir, "documents"))
    drained, _ = run_stream_to_memory(g, output_mode="complete")
    return llmdata.flesch_tail(drained)


@query("q_streaming_oov", oracle=ORACLES["q_oov_rate"])
def q_streaming_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OOV twin (L113b): the (source, token, c) count state —
    commutative, vocab x sources bounded — through the shared oov_tail,
    which re-derives the corpus top-1000 vocabulary per trigger, so the
    coverage audit tracks the vocabulary as it shifts mid-crawl;
    hash-matches the batch oracle."""
    st = llmdata.oov_counts(stream_table(spark, sf_dir, "documents"))
    drained, _ = run_stream_to_memory(st, output_mode="complete")
    return llmdata.oov_tail(drained)


@query("q_streaming_zipf", oracle=ORACLES["q_zipf_fit"])
def q_streaming_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Zipf twin (L115b): the (token, freq) vocabulary
    state — commutative counts, vocab-bounded like the OOV/heaps twins —
    drained through the shared zipf_tail (decomposed-rank log-log
    regression): a LIVE rank-frequency health check on the crawl; a
    slope drifting away from -1 mid-ingest flags template or synthetic
    floods batches before the next batch audit would. Hash-matches the
    batch oracle."""
    vocab = llmdata.zipf_counts(stream_table(spark, sf_dir, "documents"))
    drained, _ = run_stream_to_memory(vocab, output_mode="complete")
    return llmdata.zipf_tail(drained)


@query("q_streaming_rrf", oracle=ORACLES["q_rrf_fusion"])
def q_streaming_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming RRF twin (L117b): live hybrid retrieval — the
    lexical BM25 leg's sufficient statistics ride ONE bounded streaming
    state (per-HIT-doc (len, tf_join, tf_scan, tf_vector) rows unioned
    with an is_corp=true corpus-totals sentinel row — the flag, not a
    magic id, keys the sentinel, so no real doc_id can collide — all
    commutative sums, state bounded by query-hit docs + 1, never the
    corpus), BM25 re-derives at
    drain time from those exact integers (df/n/avgdl), and the fused
    top-20 rides the SAME rrf_sem_leg + rrf_fusion_tail as the batch
    query over the static embeddings dimension.  The per-doc score sums
    term contributions in fixed alphabetical (join, scan, vector) order
    with absent terms contributing exactly 0.0 — bit-identical to the
    batch leg's w-sorted fold.  Hash-matches the batch oracle."""
    sdf = stream_table(spark, sf_dir, "documents")
    tf_expr = {
        w: F.size(F.expr(f"filter(split(text, ' '), w -> w = '{w}')")).cast("long")
        for w in ("join", "scan", "vector")
    }
    stats = sdf.select(
        "doc_id",
        F.size(F.expr("filter(split(text, ' '), w -> w <> '')")).cast("long").alias("len"),
        tf_expr["join"].alias("tf_join"),
        tf_expr["scan"].alias("tf_scan"),
        tf_expr["vector"].alias("tf_vector"),
    ).where(F.col("len") > 0)
    # is_corp disambiguates the sentinel from any real doc_id (a doc_id
    # of -1 must NOT merge into the corpus-totals row), so the state key
    # is (key, is_corp) — collision-proof for the full long domain
    hit = stats.where(
        (F.col("tf_join") + F.col("tf_scan") + F.col("tf_vector")) > 0
    ).select(
        F.col("doc_id").alias("key"), F.lit(False).alias("is_corp"),
        "len", "tf_join", "tf_scan", "tf_vector",
        F.lit(1).cast("long").alias("cnt"), F.col("len").alias("sumlen"),
    )
    corp = stats.select(
        F.lit(-1).cast("long").alias("key"),
        F.lit(True).alias("is_corp"),
        F.lit(0).cast("long").alias("len"),
        F.lit(0).cast("long").alias("tf_join"),
        F.lit(0).cast("long").alias("tf_scan"),
        F.lit(0).cast("long").alias("tf_vector"),
        F.lit(1).cast("long").alias("cnt"),
        F.col("len").alias("sumlen"),
    )
    state = hit.unionByName(corp).groupBy("key", "is_corp").agg(
        F.sum("cnt").alias("cnt"),
        F.sum("sumlen").alias("sumlen"),
        F.sum("len").alias("len"),
        F.sum("tf_join").alias("tf_join"),
        F.sum("tf_scan").alias("tf_scan"),
        F.sum("tf_vector").alias("tf_vector"),
    )
    drained, _ = run_stream_to_memory(state, output_mode="complete")

    corp_row = drained.where(F.col("is_corp")).select(
        F.col("cnt").alias("n"),
        (F.col("sumlen").cast("double") / F.col("cnt")).alias("avgdl"),
    )
    hits = drained.where(~F.col("is_corp")).select(
        F.col("key").alias("doc_id"), "len", "tf_join", "tf_scan", "tf_vector"
    )
    dfs = hits.groupBy().agg(
        *[
            F.sum(F.when(F.col(f"tf_{w}") > 0, 1).otherwise(0)).alias(f"df_{w}")
            for w in ("join", "scan", "vector")
        ]
    )
    scored = hits.crossJoin(F.broadcast(dfs)).crossJoin(F.broadcast(corp_row))

    def contrib(w: str):
        tf = F.col(f"tf_{w}")
        dfw = F.col(f"df_{w}")
        return F.when(
            tf > 0,
            F.log((F.col("n") - dfw + 0.5) / (dfw + 0.5) + 1.0)
            * (tf * F.lit(2.2))
            / (tf + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * F.col("len") / F.col("avgdl"))),
        ).otherwise(F.lit(0.0))

    # fixed alphabetical order == the batch leg's w-sorted fold from 0.0
    scored = scored.select(
        "doc_id", (contrib("join") + contrib("scan") + contrib("vector")).alias("score")
    )
    lex_cut = scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(20)
    lex = lex_cut.select("doc_id", F.round(F.col("score"), 6).alias("bm25")).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()))
        .alias("lex_rank"),
    )
    emb = load_table(spark, "embeddings", sf_dir)
    return llmdata.rrf_fusion_tail(lex, llmdata.rrf_sem_leg(emb))


@query("q_streaming_macd", oracle=ORACLES["q_macd"])
def q_streaming_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MACD twin (N180b): the daily-cents state
    through the shared macd_tail — the live momentum-crossover gauge
    (today's bar re-smooths all three EMAs as its revenue accumulates);
    hash-matches the batch oracle."""
    return relext.macd_tail(_streaming_daily_by_type(spark, sf_dir))


@query("q_streaming_anderson", oracle=ORACLES["q_anderson_darling"])
def q_streaming_anderson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Anderson-Darling twin (N181b): the daily-cents
    state through the shared anderson_tail — live normality monitoring
    of the metric the z-score/XmR alerting families assume Gaussian;
    hash-matches the batch oracle."""
    return relext.anderson_tail(_streaming_daily_by_type(spark, sf_dir))


@query("q_streaming_cvm", oracle=ORACLES["q_cvm_drift"])
def q_streaming_cvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Cramér-von Mises twin (L118b): the same
    (source, score-bin) streaming state as q_streaming_ks — bounded at
    sources × 10k cells forever — drained through the shared cvm_report
    tail: the integrated-discrepancy drift monitor beside KS's max-gap,
    live on a document stream. Hash-matches the batch oracle."""
    return llmdata.cvm_report(_streaming_score_bins(spark, sf_dir))


@query("q_streaming_blocklist", oracle=ORACLES["q_blocklist_scrub"])
def q_streaming_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming blocklist twin (L119b): per-doc hit counts are
    pure functions, so the per-source counter table IS the streaming
    state (commutative sums, sources-bounded); drained counters flow
    through the shared blocklist_tail — the policy kill switch fires as
    the crawl ingests, not at the next batch audit. Hash-matches the
    batch oracle."""
    g = llmdata.blocklist_counts(stream_table(spark, sf_dir, "documents"))
    drained, _ = run_stream_to_memory(g, output_mode="complete")
    return llmdata.blocklist_tail(drained)


@query("q_streaming_theta", oracle=ORACLES["q_theta_forecast"])
def q_streaming_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Theta twin (N182b): the daily-cents state
    through the shared theta_tail — the live trend+SES combination
    forecast re-fits as today's bar accumulates; hash-matches the batch
    oracle."""
    return relext.theta_tail(_streaming_daily_by_type(spark, sf_dir))


@query("q_streaming_mmr", oracle=ORACLES["q_mmr_rerank"])
def q_streaming_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MMR twin (L120b): relevance-vs-probe is a pure
    per-vector function, so the streaming state is the per-vector best
    score (idempotent max, vector-count-bounded); the drained scores cut
    the same top-10 candidate set, vectors rejoin from the static store
    by id (the online-serving pattern: the stream carries scores, the
    vector store carries payloads), and the shared mmr_greedy tail picks
    the diversified 5. Hash-matches the batch oracle."""
    emb = load_table(spark, "embeddings", sf_dir)
    e_static = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    probe = e_static.where(F.col("vec_id") == 0).select(F.col("v").alias("pv"))

    sdf = stream_table(spark, sf_dir, "embeddings")
    scored = (
        sdf.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(probe))
        .select(
            "vec_id", "label",
            dedup.cosine(F.col("embedding").cast("array<double>"), F.col("pv")).alias("rel"),
        )
        .groupBy("vec_id", "label")
        .agg(F.max("rel").alias("rel"))
    )
    drained, _ = run_stream_to_memory(scored, output_mode="complete")
    top = drained.orderBy(F.col("rel").desc(), F.col("vec_id").asc()).limit(10)
    cand = top.join(
        e_static.withColumnRenamed("vec_id", "s_vid"), F.col("vec_id") == F.col("s_vid")
    ).select("vec_id", "label", "v", "rel")
    return llmdata.mmr_greedy(cand)


@query("q_streaming_grubbs", oracle=ORACLES["q_grubbs_test"])
def q_streaming_grubbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Grubbs twin (N184b): the daily-cents state
    through the shared grubbs_tail — the live worst-day alarm (is
    today's most extreme revenue day statistically an outlier, at 5%?)
    beside the XmR/z-score monitors; state bounded at types × days
    forever; hash-matches the batch oracle."""
    return relext.grubbs_tail(_streaming_daily_by_type(spark, sf_dir))


@query("q_streaming_pacf", oracle=ORACLES["q_pacf"])
def q_streaming_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PACF twin (N185b): the daily-cents state
    through the shared pacf_tail — live AR-order identification (does
    the forecasting family need one lag or three?) refreshing as each
    day's revenue accumulates; hash-matches the batch oracle."""
    return relext.pacf_tail(_streaming_daily_by_type(spark, sf_dir))


@query("q_streaming_chow", oracle=ORACLES["q_chow_test"])
def q_streaming_chow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Chow twin (N186b): the daily-cents state
    through the shared chow_tail — a live did-the-regime-change monitor
    (one trend or two?) whose mid-range breakpoint moves with the data;
    hash-matches the batch oracle."""
    return relext.chow_tail(_streaming_daily_by_type(spark, sf_dir))

"""Streaming registry entries — each drives a real Structured Streaming query
(availableNow trigger → memory sink) over the testdata and returns the result
DataFrame.

These carry FULL value-hash oracles: with the file source pinned to one
micro-batch (stream_events sets maxFilesPerTrigger=1 over a single file), an
append-mode run is deterministic — it equals the batch result minus the
groups still open at the final watermark (wm = ms-floor(max event time) −
delay). Each oracle replays that in SQL: the batch computation plus a
watermark-closure filter. Emission boundaries pinned by the oracles (and by
the r1 row counts): window/session groups emit when end <= wm; event-time
timers fire when timer < wm (strict); stream-stream inner-join matches and
NoTimeout stateful emissions are not held back at all. Temporal outputs are
formatted to strings at the registry edge (Spark hands pandas datetime64[ns],
DuckDB [us] — same instant, different hash).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_spark.queries import TS_FMT, register
from gmall_spark.session import ROCKSDB_PROVIDER, conf_scope, stream_shuffle_width
from gmall_spark.streaming.pipelines import (
    interval_join_stream,
    run_to_memory,
    stream_events,
    windowed_stats_stream,
    windowed_uv_stream,
)
from gmall_spark.streaming.stateful import (
    dedup_daily_stream,
    detect_bounce_stream,
    ewma_stream,
    fix_is_new_stream,
    gapfill_stream,
)

_DUCK_FMT = "%Y-%m-%d %H:%M:%S"
# final event-time watermark in ms: ms-floor of max event time minus the 2s
# delay every streaming query here uses
_WM_MS = "(SELECT epoch_us(max(ts)) // 1000 - 2000 AS wm_ms FROM events)"


def _name(prefix: str) -> str:
    return f"{prefix}_{uuid.uuid4().hex[:8]}"


@register(
    "streaming_visitor_stats",
    f"""
    WITH wm AS {_WM_MS},
    agg AS (
      SELECT event_type, time_bucket(INTERVAL '10 minutes', ts) AS ws,
             CAST(count(*) AS BIGINT) AS pv_ct,
             CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS dur_sum
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, pv_ct, dur_sum,
           strftime(ws, '{_DUCK_FMT}') AS stt,
           strftime(ws + INTERVAL '10 minutes', '{_DUCK_FMT}') AS edt
    FROM agg, wm
    WHERE epoch_us(ws + INTERVAL '10 minutes') // 1000 <= wm.wm_ms
    """,
)
def streaming_visitor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 as a live streaming query: watermarked tumbling window multi-agg."""
    ev = stream_events(spark, sf_dir)
    out = windowed_stats_stream(
        ev,
        "ts",
        "10 minutes",
        ["event_type"],
        [
            F.count(F.lit(1)).alias("pv_ct"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .cast("double")
            .alias("dur_sum"),
        ],
    )
    return run_to_memory(out, _name("s_visitor"))


#: shared by the per-key entry and its key-coarsened (bucketed-state) twin
_UV_ORACLE = f"""
    SELECT user_id,
           strftime(CAST(ts AS DATE), '%Y-%m-%d') AS dt,
           event_id AS first_event_id,
           strftime(ts, '{_DUCK_FMT}') AS first_ts
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                   ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """


@register("streaming_unique_visit", _UV_ORACLE)
def streaming_unique_visit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST2 as keyed streaming state (applyInPandasWithState). NoTimeout state
    emits in-batch, so the single-batch run equals the batch dedup exactly."""
    out = run_to_memory(dedup_daily_stream(stream_events(spark, sf_dir)), _name("s_uv"), shuffle_partitions=stream_shuffle_width())
    return out.select(
        "user_id", "dt", "first_event_id", F.date_format("first_ts", TS_FMT).alias("first_ts")
    )


@register(
    "streaming_is_new_repair",
    """
    SELECT event_id, user_id,
           CAST(CASE WHEN row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) = 1
                THEN 1 ELSE 0 END AS INT) AS is_new
    FROM events
    """,
)
def streaming_is_new_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1 as keyed streaming state."""
    return run_to_memory(fix_is_new_stream(stream_events(spark, sf_dir)), _name("s_isnew"), shuffle_partitions=stream_shuffle_width())


@register(
    "streaming_ewma_user",
    """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           list_reduce(list_prepend(0.0, list(value ORDER BY ts, event_id)),
                       (acc, x) -> acc * 0.5 + x * 0.5) AS ewma
    FROM events GROUP BY 1
    """,
)
def streaming_ewma_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key EWMA as keyed streaming state (the one-value fold the batch
    ewma_user_value docstring promises). NoTimeout state emits the updated
    value each micro-batch a key appears in; with the source pinned to one
    batch that is exactly one row per user, bit-identical to the batch fold
    (see ewma_stream on why the fp order is pinned)."""
    return run_to_memory(ewma_stream(stream_events(spark, sf_dir)), _name("s_ewma"), shuffle_partitions=stream_shuffle_width())


@register(
    "streaming_update_counts",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS ev_ct,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS val_sum
    FROM events GROUP BY 1
    """,
)
def streaming_update_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE output mode — the registry's one non-append mode: an
    unwindowed global running aggregate can never close in append mode (no
    watermark ever passes an unbounded group), so the reference's
    forever-running totals map to update mode, which re-emits each key's
    refreshed value every micro-batch it changes. With the source pinned to
    one batch the sink holds exactly the final totals."""
    ev = stream_events(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("ev_ct"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .cast("double")
        .alias("val_sum"),
    )
    return run_to_memory(agg, _name("s_upd"), output_mode="update")


@register(
    "streaming_gapfill",
    f"""
    WITH wm AS {_WM_MS},
    agg AS (
      SELECT event_type, (epoch_us(ts) // 1000) // 3600000 * 3600000 AS bms,
             CAST(count(*) AS BIGINT) AS ct
      FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT event_type, min(bms) AS b0 FROM agg GROUP BY 1),
    lc AS (SELECT (wm_ms - 3600000) // 3600000 * 3600000 AS last_closed FROM wm),
    grid AS (
      SELECT b.event_type, u.bms
      FROM bounds b, lc, UNNEST(range(b.b0, lc.last_closed + 1, 3600000)) AS u(bms)
    ),
    filled AS (
      SELECT g.event_type, g.bms, a.ct,
             coalesce(a.ct, last_value(a.ct IGNORE NULLS) OVER (
               PARTITION BY g.event_type ORDER BY g.bms
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS f
      FROM grid g LEFT JOIN agg a USING (event_type, bms)
    )
    SELECT event_type,
           strftime(make_timestamp(bms * 1000), '{_DUCK_FMT}') AS bucket_hour,
           CAST(f AS BIGINT) AS filled_ct,
           ct IS NULL AS is_gap
    FROM filled
    """,
)
def streaming_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timer-driven gap-fill + LOCF from keyed state — rows are SYNTHESIZED
    for empty buckets as the watermark closes them (see gapfill_stream for
    the operator design; no Spark built-in can emit a row where none
    arrived). Emission closure replayed by the oracle: per key, every
    hourly bucket from its first observation through the last bucket whose
    end lies at or below the final watermark."""
    out = run_to_memory(gapfill_stream(stream_events(spark, sf_dir)), _name("s_gapfill"), shuffle_partitions=stream_shuffle_width())
    return out.select(
        "event_type",
        F.date_format("bucket", TS_FMT).alias("bucket_hour"),
        "filled_ct",
        "is_gap",
    )


@register(
    "streaming_dedup_union",
    f"""
    SELECT event_id, user_id, event_type, strftime(ts, '{_DUCK_FMT}') AS ts
    FROM events
    """,
)
def streaming_dedup_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once intake dedup — dropDuplicatesWithinWatermark on the
    primary key over a self-unioned stream (two sources replaying the same
    topic = the duplicate-delivery shape an at-least-once Kafka consumer
    sees). Every duplicate lands inside the watermark horizon here, so the
    output is exactly the distinct event set; the cross-batch expiry
    semantics (a dupe arriving after the watermark passes survives) is
    pinned by tests/test_streaming.py::test_drop_duplicates_within_watermark.
    Scale: state is one entry per key within the horizon, partitioned by the
    dedup key — the bounded-state form of a global distinct."""
    a = stream_events(spark, sf_dir)
    b = stream_events(spark, sf_dir)
    out = (
        a.unionByName(b)
        .withWatermark("ts", "2 seconds")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type", "ts")
    )
    res = run_to_memory(out, _name("s_dedup"))
    return res.select(
        "event_id", "user_id", "event_type", F.date_format("ts", TS_FMT).alias("ts")
    )


#: shared by the applyInPandasWithState entry and its transformWithState
#: timer-API twin — identical semantics, different state machinery
_BOUNCE_ORACLE = f"""
    WITH wm AS {_WM_MS},
    o AS (
      SELECT event_id, user_id, ts, event_type,
             lead(ts) OVER w AS nxt_ts,
             lead(event_type = 'view') OVER w AS nxt_entry
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_id, user_id, strftime(ts, '{_DUCK_FMT}') AS ts,
           CASE WHEN nxt_ts IS NULL
                     OR epoch_us(nxt_ts) - epoch_us(ts) > 600000000 THEN 'timeout'
                ELSE 'match' END AS bounce_reason
    FROM o, wm
    WHERE event_type = 'view'
      AND (   (nxt_ts IS NOT NULL AND epoch_us(nxt_ts) - epoch_us(ts) > 600000000)
           OR (nxt_ts IS NOT NULL AND epoch_us(nxt_ts) - epoch_us(ts) <= 600000000 AND nxt_entry)
           -- trailing entry: emitted only when its event-time timer
           -- (ms-floor(ts) + 600s) fires, i.e. lies strictly below the wm
           OR (nxt_ts IS NULL AND epoch_us(ts) // 1000 + 600000 < wm.wm_ms))
    """


@register("streaming_bounce_detect", _BOUNCE_ORACLE)
def streaming_bounce_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST3 — CEP-with-timeout via event-time timers. Match and in-batch
    timeout decisions emit immediately; trailing entries emit from the timer
    only if the final watermark passes ts+600s."""
    out = run_to_memory(
        detect_bounce_stream(stream_events(spark, sf_dir)),
        _name("s_bounce"),
        shuffle_partitions=stream_shuffle_width(),
    )
    return out.select(
        "event_id", "user_id", F.date_format("ts", TS_FMT).alias("ts"), "bounce_reason"
    )


@register(
    "streaming_payment_wide",
    """
    SELECT v.event_id AS view_id, p.event_id AS purchase_id, p.user_id
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL '15 minutes'
    """,
)
def streaming_payment_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — stream-stream interval join (purchase ⋈ preceding view ≤15min).
    Inner-join matches emit as they are found — no watermark holdback, so
    the single-batch run equals the batch join exactly."""
    ev = stream_events(spark, sf_dir)
    views = ev.filter(F.col("event_type") == "view")
    buys = ev.filter(F.col("event_type") == "purchase")
    joined = interval_join_stream(
        views, buys, "user_id", "ts", "ts", "0 minutes", "15 minutes"
    ).select(
        F.col("l.event_id").alias("view_id"),
        F.col("r.event_id").alias("purchase_id"),
        F.col("l.user_id").alias("user_id"),
    )
    return run_to_memory(joined, _name("s_paywide"))


@register(
    "streaming_session_stats",
    f"""
    WITH wm AS {_WM_MS},
    marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                  THEN 1 ELSE 0 END AS is_new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts,
             sum(is_new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM marked
    ),
    agg AS (
      SELECT user_id, session_seq, min(ts) AS s_start, max(ts) AS s_last,
             CAST(count(*) AS BIGINT) AS n_events
      FROM sess GROUP BY 1, 2
    )
    SELECT user_id, n_events,
           strftime(s_start, '{_DUCK_FMT}') AS session_start,
           strftime(s_last + INTERVAL '30 minutes', '{_DUCK_FMT}') AS session_end
    FROM agg, wm
    WHERE epoch_us(s_last + INTERVAL '30 minutes') // 1000 <= wm.wm_ms
    """,
)
def streaming_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (session_window) — the streaming twin of the
    batch `sessionize` query. session_window is µs-precise and half-open
    (a gap of exactly 30min starts a NEW session), which the oracle mirrors
    with integer-µs comparisons; a session emits once the watermark passes
    last_event + gap."""
    from gmall_spark.streaming.pipelines import session_stats_stream

    out = session_stats_stream(stream_events(spark, sf_dir), "ts", "user_id", "30 minutes")
    return run_to_memory(out, _name("s_sess"))


@register(
    "streaming_province_uv",
    f"""
    WITH wm AS {_WM_MS},
    agg AS (
      SELECT event_type, time_bucket(INTERVAL '10 minutes', ts) AS ws,
             CAST(count(DISTINCT user_id) AS BIGINT) AS user_uv_ct
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, user_uv_ct,
           strftime(ws, '{_DUCK_FMT}') AS stt,
           strftime(ws + INTERVAL '10 minutes', '{_DUCK_FMT}') AS edt
    FROM agg, wm
    WHERE epoch_us(ws + INTERVAL '10 minutes') // 1000 <= wm.wm_ms
    """,
)
def streaming_province_uv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4's exact streaming count(distinct): dedup-then-count rewrite."""
    out = windowed_uv_stream(
        stream_events(spark, sf_dir), "ts", "10 minutes", "user_id", ["event_type"]
    )
    return run_to_memory(out, _name("s_uvwin"))


@register(
    "streaming_dim_enrich",
    f"""
    WITH wm AS {_WM_MS},
    agg AS (
      SELECT n.n_name AS nation, time_bucket(INTERVAL '10 minutes', e.ts) AS ws,
             CAST(count(*) AS BIGINT) AS ev_ct
      FROM events e
      JOIN customer c ON e.user_id = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    )
    SELECT nation, ev_ct,
           strftime(ws, '{_DUCK_FMT}') AS stt,
           strftime(ws + INTERVAL '10 minutes', '{_DUCK_FMT}') AS edt
    FROM agg, wm
    WHERE epoch_us(ws + INTERVAL '10 minutes') // 1000 <= wm.wm_ms
    """,
)
def streaming_dim_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 streaming — stream-static dim enrichment: the Spark-first analog of
    the reference's async Phoenix/Redis lookups (OrderWideApp.java:112-225)
    is a broadcast join of the live stream against static dim tables — no
    cache invalidation machinery, every micro-batch re-resolves the dim
    (exactly the freshness contract the reference's 24h Redis TTL
    approximates). Windowed per-nation counts emit on watermark closure."""
    from gmall_spark.sources import load_table

    ev = stream_events(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    enriched = (
        ev.join(F.broadcast(customer), ev.user_id == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(F.col("n_name").alias("nation"), "ts")
    )
    out = windowed_stats_stream(
        enriched, "ts", "10 minutes", ["nation"], [F.count(F.lit(1)).alias("ev_ct")]
    )
    return run_to_memory(out, _name("s_dim"))


@register(
    "streaming_keyword_stats",
    f"""
    -- wm derives from the CLICK-filtered stream (the watermark column is
    -- tracked after the filter), not the full event stream
    WITH wm AS (SELECT epoch_us(max(ts)) // 1000 - 2000 AS wm_ms
                FROM events WHERE event_type = 'click'),
    agg AS (
      SELECT json_extract_string(props, '$.k') AS kw,
             time_bucket(INTERVAL '10 minutes', ts) AS ws,
             CAST(count(*) AS BIGINT) AS ct
      FROM events WHERE event_type = 'click'
      GROUP BY 1, 2
    )
    SELECT kw, ct, 'CLICK' AS source,
           strftime(ws, '{_DUCK_FMT}') AS stt,
           strftime(ws + INTERVAL '10 minutes', '{_DUCK_FMT}') AS edt
    FROM agg, wm
    WHERE epoch_us(ws + INTERVAL '10 minutes') // 1000 <= wm.wm_ms
    """,
)
def streaming_keyword_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3+F1+T4 live: the reference's KeywordStatsApp (KeywordStatsApp.java:38-59)
    as a streaming query — extract the keyword prop from the JSON payload
    (nested-field access), TUMBLE-window count per keyword, emit on watermark
    closure."""
    ev = stream_events(spark, sf_dir).filter(F.col("event_type") == "click")
    kw = ev.select(
        F.get_json_object("props", "$.k").alias("kw"), "ts"
    )
    out = windowed_stats_stream(
        kw, "ts", "10 minutes", ["kw"], [F.count(F.lit(1)).alias("ct")]
    ).withColumn("source", F.lit("CLICK"))
    return run_to_memory(out, _name("s_kw")).select("kw", "ct", "source", "stt", "edt")


@register(
    "streaming_order_wide",
    """
    SELECT o.o_orderkey, l.l_linenumber, o.o_custkey, c.c_name,
           CAST(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
                     * (1 - CAST(l.l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4)) AS DOUBLE)
             AS revenue
    FROM orders o
    JOIN lineitem l
      ON o.o_orderkey = l.l_orderkey
     AND l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate <= o.o_orderdate + INTERVAL '30 days'
    JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def streaming_order_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+J3 live — the reference's flagship pipeline (OrderWideApp.java:
    96-105, 112-225) end to end: order and detail streams interval-joined
    on the shared key within the event-time window, then dim-enriched via a
    stream-static broadcast join. Inner matches emit as found (no watermark
    holdback), so the single-batch run equals the batch join exactly."""
    from gmall_spark.sources import load_table
    from gmall_spark.streaming.pipelines import stream_table

    orders = stream_table(
        spark,
        sf_dir,
        "orders",
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).withColumnRenamed("o_orderkey", "okey")
    lineitem = stream_table(
        spark,
        sf_dir,
        "lineitem",
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).withColumnRenamed("l_orderkey", "okey")
    joined = interval_join_stream(
        orders, lineitem, "okey", "o_orderdate", "l_shipdate", "0 days", "30 days"
    )
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    wide = joined.select(
        F.col("l.okey").alias("o_orderkey"),
        "l_linenumber",
        "o_custkey",
        (
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
        )
        .cast("decimal(18,4)")
        .cast("double")
        .alias("revenue"),
    ).join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey")).select(
        "o_orderkey", "l_linenumber", "o_custkey", "c_name", "revenue"
    )
    return run_to_memory(wide, _name("s_ow"))


@register(
    "streaming_union_stats",
    f"""
    -- the watermark column is marked AFTER the union, so its event-time max
    -- ranges over the unioned (click ∪ purchase) rows only
    WITH wm AS (
      SELECT epoch_us(max(ts)) // 1000 - 2000 AS wm_ms
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    u AS (
      SELECT 'click' AS src, ts FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT 'purchase' AS src, ts FROM events WHERE event_type = 'purchase'
    ),
    agg AS (
      SELECT src, time_bucket(INTERVAL '10 minutes', ts) AS ws,
             CAST(count(*) AS BIGINT) AS ev_ct
      FROM u GROUP BY 1, 2
    )
    SELECT src, ev_ct,
           strftime(ws, '{_DUCK_FMT}') AS stt,
           strftime(ws + INTERVAL '10 minutes', '{_DUCK_FMT}') AS edt
    FROM agg, wm
    WHERE epoch_us(ws + INTERVAL '10 minutes') // 1000 <= wm.wm_ms
    """,
)
def streaming_union_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 live — union of two streams feeding one windowed agg
    (VisitorStatsApp.java:66-118 unions three DWD topics). The watermark is
    tracked on the UNIONED stream (had each branch carried its own, the
    union would track min(branch watermarks)) — the oracle's closure filter
    uses the event-time max over the unioned rows."""
    ev = stream_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.lit("click").alias("src"), "ts"
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        F.lit("purchase").alias("src"), "ts"
    )
    out = windowed_stats_stream(
        clicks.unionByName(buys), "ts", "10 minutes", ["src"],
        [F.count(F.lit(1)).alias("ev_ct")],
    )
    return run_to_memory(out, _name("s_union"))


@register(
    "streaming_product_stats",
    f"""
    WITH wm AS {_WM_MS},
    agg AS (
      SELECT json_extract_string(props, '$.k') AS kw,
             time_bucket(INTERVAL '10 minutes', ts) AS ws,
             CAST(count(*) AS BIGINT) AS ev_ct,
             CAST(count(DISTINCT user_id) AS BIGINT) AS user_ct,
             CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS amount
      FROM events GROUP BY 1, 2
    )
    SELECT kw, ev_ct, user_ct, amount,
           strftime(ws, '{_DUCK_FMT}') AS stt,
           strftime(ws + INTERVAL '10 minutes', '{_DUCK_FMT}') AS edt
    FROM agg, wm
    WHERE epoch_us(ws + INTERVAL '10 minutes') // 1000 <= wm.wm_ms
    """,
)
def streaming_product_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 live — the reference's biggest DWS rollup (ProductStatsApp.java:243-284)
    as ONE streaming query with an exact distinct count: two chained stateful
    aggregations in append mode (Spark 4 multi-stateful support). Level 1
    keys (window, kw, user) — sum(per-user counts) at level 2 is the total
    count, count(level-1 rows) is the exact distinct-user count, and the
    decimal amount stays exact through the two-level sum. Both levels close
    at the same final watermark, so the single-batch run replays in SQL."""
    ev = stream_events(spark, sf_dir)
    l1 = (
        ev.select("ts", F.get_json_object("props", "$.k").alias("kw"), "user_id", "value")
        .withWatermark("ts", "2 seconds")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "kw", "user_id")
        .agg(
            F.count(F.lit(1)).alias("ev_ct"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("amt"),
        )
    )
    l2 = l1.groupBy("w", "kw").agg(
        F.sum("ev_ct").cast("long").alias("ev_ct"),
        F.count(F.lit(1)).cast("long").alias("user_ct"),
        F.sum("amt").cast("decimal(18,2)").cast("double").alias("amount"),
    )
    out = l2.select(
        "kw",
        "ev_ct",
        "user_ct",
        "amount",
        F.date_format(F.col("w.start"), TS_FMT).alias("stt"),
        F.date_format(F.col("w.end"), TS_FMT).alias("edt"),
    )
    return run_to_memory(out, _name("s_product"))


@register(
    "streaming_cdc_route",
    """
    SELECT CASE o_orderstatus WHEN 'O' THEN 'insert' WHEN 'F' THEN 'update' ELSE 'delete' END AS op,
           CASE WHEN o_orderstatus = 'O' THEN 'dwd_order_insert'
                ELSE 'dwd_order_update' END AS sink_table,
           CAST(count(*) AS BIGINT) AS row_ct
    FROM orders
    WHERE o_orderstatus IN ('O', 'F')
    GROUP BY 1, 2
    """,
)
def streaming_cdc_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's PRIMARY pipeline (BaseDbApp.java:48-90) as a live
    stream: orders file-streamed as the CDC'd binlog topic, wrapped in the
    Debezium envelope, decoded (single from_json), deletes dropped, routed
    by broadcast config — then rolled up per (op, sink_table) for a compact
    driver-checkable summary. Stateless end to end ⇒ single-batch output
    equals the batch pipeline exactly."""
    from gmall_spark.operators.parse import decode_cdc, drop_cdc_deletes
    from gmall_spark.operators.routing import route_by_config
    from gmall_spark.schemas import TABLE_PROCESS_SCHEMA
    from gmall_spark.streaming.pipelines import stream_table

    orders = stream_table(
        spark,
        sf_dir,
        "orders",
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    op = "CASE o_orderstatus WHEN 'O' THEN 'insert' WHEN 'F' THEN 'update' ELSE 'delete' END"
    envelope = orders.select(
        F.to_json(
            F.struct(
                F.lit("gmall").alias("database"),
                F.lit("orders").alias("tableName"),
                F.create_map(
                    F.lit("id"), F.col("o_orderkey").cast("string"),
                    F.lit("status"), F.col("o_orderstatus"),
                ).alias("data"),
                F.expr(op).alias("type"),
            )
        ).alias("value")
    )
    config = spark.createDataFrame(
        [
            ("orders", "insert", "kafka", "dwd_order_insert", "id,status", "id", None),
            ("orders", "update", "kafka", "dwd_order_update", "id", "id", None),
        ],
        TABLE_PROCESS_SCHEMA,
    )
    routed = route_by_config(drop_cdc_deletes(decode_cdc(envelope)), config)
    out = routed.groupBy(F.col("type").alias("op"), "sink_table").agg(
        F.count(F.lit(1)).alias("row_ct")
    )
    return run_to_memory(out, _name("s_cdc"), output_mode="complete")


@register(
    "streaming_value_band",
    f"""
    WITH wm AS {_WM_MS},
    agg AS (
      SELECT b.band, time_bucket(INTERVAL '10 minutes', e.ts) AS ws,
             CAST(count(*) AS BIGINT) AS event_ct,
             CAST(CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS value_sum
      FROM events e
      JOIN (VALUES ('micro', 0, 1), ('small', 1, 5), ('mid', 5, 20),
                   ('large', 20, 100), ('huge', 100, 500)) b(band, lo, hi)
        ON e.value >= b.lo AND e.value < b.hi
      GROUP BY 1, 2
    )
    SELECT band, event_ct, value_sum,
           strftime(ws, '{_DUCK_FMT}') AS stt,
           strftime(ws + INTERVAL '10 minutes', '{_DUCK_FMT}') AS edt
    FROM agg, wm
    WHERE epoch_us(ws + INTERVAL '10 minutes') // 1000 <= wm.wm_ms
    """,
)
def streaming_value_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join on a live stream: band classification is stream-static
    (the grid-bucketed equi-join works unchanged per micro-batch — stateless,
    so no watermark interaction), then a watermarked tumbling count/sum per
    band emits on closure. The streaming twin of value_band_stats."""
    from gmall_spark.operators.joins import range_join

    ev = stream_events(spark, sf_dir)
    bands = spark.createDataFrame(
        [("micro", 0, 1), ("small", 1, 5), ("mid", 5, 20),
         ("large", 20, 100), ("huge", 100, 500)],
        "band string, lo int, hi int",
    )
    j = range_join(ev, bands, "value", "lo", "hi", grid=25.0).select(
        "band", "ts", "value"
    )
    out = windowed_stats_stream(
        j,
        "ts",
        "10 minutes",
        ["band"],
        [
            F.count(F.lit(1)).alias("event_ct"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .cast("double")
            .alias("value_sum"),
        ],
    )
    return run_to_memory(out, _name("s_band"))


@register(
    "streaming_asof_attrib",
    """
    WITH p AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), v AS (
      SELECT user_id, ts AS view_ts, CAST(max(event_id) AS BIGINT) AS view_event_id
      FROM events WHERE event_type = 'view' GROUP BY 1, 2
    )
    SELECT p.event_id, p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           v.view_event_id,
           strftime(v.view_ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
           CAST(date_diff('second', v.view_ts, p.ts) AS BIGINT) AS gap_sec
    FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.view_ts <= p.ts
    """,
)
def streaming_asof_attrib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup on a live stream — the serving-time as-of a
    feature store does: each streaming purchase picks the reference (static
    view index) row as of its event time, via one vectorized
    pandas.merge_asof per Arrow batch against the broadcast ts-sorted
    index (streaming/pipelines.py::asof_enrich_stream). Stateless, so
    every row emits — the oracle is the plain ASOF LEFT JOIN with no
    watermark-closure filter. The streaming twin of asof_view_attrib."""
    from gmall_spark.sources import load_table
    from gmall_spark.streaming.pipelines import asof_enrich_stream

    ev = stream_events(spark, sf_dir)
    p = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    v = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "view")
        .groupBy("user_id", F.col("ts").alias("view_ts"))
        .agg(F.max("event_id").alias("view_event_id"))
    )
    j = asof_enrich_stream(p, v, on="user_id", left_ts="ts", right_ts="view_ts")
    out = j.select(
        "event_id",
        "user_id",
        F.date_format("ts", TS_FMT).alias("purchase_ts"),
        "view_event_id",
        F.date_format("view_ts", TS_FMT).alias("view_ts"),
        (F.col("ts").cast("long") - F.col("view_ts").cast("long")).alias("gap_sec"),
    )
    return run_to_memory(out, _name("s_asof"))


@register(
    "streaming_cms_sketch",
    f"""
    WITH cells AS (
      {' UNION ALL '.join(
          "SELECT {i} AS d, "
          "((strpos('0123456789abcdef', substr(md5('cms{i}:' || CAST(user_id AS VARCHAR)), 1, 1)) - 1) * 256 "
          " + (strpos('0123456789abcdef', substr(md5('cms{i}:' || CAST(user_id AS VARCHAR)), 2, 1)) - 1) * 16 "
          " + (strpos('0123456789abcdef', substr(md5('cms{i}:' || CAST(user_id AS VARCHAR)), 3, 1)) - 1)) AS h "
          "FROM events".format(i=i)
          for i in range(4)
      )}
    )
    SELECT d, h, CAST(count(*) AS BIGINT) AS cell_ct
    FROM cells GROUP BY 1, 2
    """,
)
def streaming_cms_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch maintained ON the stream: per-event increments into
    4x4096 cells — the state is the sketch itself, BOUNDED at 16384 rows no
    matter the stream length (the whole point of sketching at 100 TB: an
    exact per-key count table grows with |keys|, the sketch doesn't).
    Complete-mode emission after the availableNow run equals the batch
    sketch, so the oracle recomputes the cells directly."""
    ev = stream_events(spark, sf_dir)
    cells = None
    for i in range(4):
        m = F.md5(F.concat(F.lit(f"cms{i}:"), F.col("user_id").cast("string")))
        h = F.conv(F.substring(m, 1, 3), 16, 10).cast("long")
        lvl = ev.select(F.lit(i).alias("d"), h.alias("h"))
        cells = lvl if cells is None else cells.unionByName(lvl)
    out = cells.groupBy("d", "h").agg(F.count(F.lit(1)).alias("cell_ct"))
    return run_to_memory(out, _name("s_cms"), output_mode="complete")


# ---------------------------------------------------------------------------
# Multi-micro-batch entries — cross-batch state evolution, driver-checkable.
#
# Each streams the events table as THREE time-ordered chunk files (one per
# micro-batch; see streaming/multibatch.py) and stamps every output row with
# the micro-batch id it emitted in, so the oracle replays Spark's emission
# SCHEDULE, not just the final row set: wm_b = ms-floor(max event time of
# files 0..b) − 2s; a window/timer result emits in the first batch whose
# GOVERNING watermark (the previous batch's) has passed it; batch 3 is the
# final availableNow flush under wm2. NoTimeout keyed state emits in the
# arrival batch of the deciding row. The chunk split is rank-deterministic,
# so the CTE below reproduces the exact batch boundaries in SQL.
# ---------------------------------------------------------------------------


def _mb_cte(late_every: int | None = None) -> str:
    """Shared oracle prefix: chunk assignment, late relocation, per-batch
    watermarks. `is_late` rows are chunk-0 rows ARRIVING in file 2 (their
    event times stay put) — they are excluded from wm0/wm1 exactly as the
    file split excludes them."""
    late = f"(chunk = 0 AND event_id % {late_every} = 0)" if late_every else "FALSE"
    return f"""
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY ts, event_id) AS rn,
             count(*) OVER () AS n
      FROM events
    ),
    placed AS (
      SELECT *, {late} AS is_late,
             CASE WHEN {late} THEN 2 ELSE chunk END AS arrival
      FROM (SELECT *, CAST(((rn - 1) * 3) // n AS INT) AS chunk FROM ranked)
    ),
    wm AS (
      SELECT max(CASE WHEN arrival <= 0 THEN epoch_us(ts) END) // 1000 - 2000 AS wm0,
             max(CASE WHEN arrival <= 1 THEN epoch_us(ts) END) // 1000 - 2000 AS wm1,
             max(epoch_us(ts)) // 1000 - 2000 AS wm2
      FROM placed
    )"""


@register(
    "streaming_mb_visitor_stats",
    f"""
    WITH {_mb_cte(late_every=23)},
    agg AS (
      SELECT event_type, time_bucket(INTERVAL '10 minutes', ts) AS ws,
             CAST(count(*) AS BIGINT) AS pv_ct,
             CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS dur_sum
      FROM placed, wm
      -- a late row contributes only if its window is still OPEN when it
      -- arrives (batch 2 is governed by wm1); otherwise it is dropped (ST10)
      WHERE NOT is_late
         OR epoch_us(time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes') // 1000 > wm.wm1
      GROUP BY 1, 2
    )
    SELECT event_type, pv_ct, dur_sum,
           strftime(ws, '{_DUCK_FMT}') AS stt,
           strftime(ws + INTERVAL '10 minutes', '{_DUCK_FMT}') AS edt,
           CAST(CASE WHEN epoch_us(ws + INTERVAL '10 minutes') // 1000 <= wm.wm0 THEN 1
                     WHEN epoch_us(ws + INTERVAL '10 minutes') // 1000 <= wm.wm1 THEN 2
                     ELSE 3 END AS INT) AS emit_batch
    FROM agg, wm
    WHERE epoch_us(ws + INTERVAL '10 minutes') // 1000 <= wm.wm2
    """,
)
def streaming_mb_visitor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 across three advancing-watermark micro-batches WITH cross-batch
    late data: every 23rd chunk-0 event arrives two batches late; windows
    already closed by then drop it, still-open boundary windows absorb it.
    The oracle must reproduce both the per-window emission batch and the
    late-contribution rule."""
    from gmall_spark.streaming.multibatch import (
        run_collect_batches,
        stream_event_chunks,
    )

    ev = stream_event_chunks(spark, sf_dir, 3, late_every=23)
    out = windowed_stats_stream(
        ev,
        "ts",
        "10 minutes",
        ["event_type"],
        [
            F.count(F.lit(1)).alias("pv_ct"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .cast("double")
            .alias("dur_sum"),
        ],
    )
    return run_collect_batches(out)


#: shared by the per-key mb entry and its key-coarsened twin
_MB_IS_NEW_ORACLE = f"""
    WITH {_mb_cte()}
    SELECT event_id, user_id,
           CAST(CASE WHEN row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) = 1
                THEN 1 ELSE 0 END AS INT) AS is_new,
           CAST(chunk AS INT) AS emit_batch
    FROM placed
    """


@register("streaming_mb_is_new", _MB_IS_NEW_ORACLE)
def streaming_mb_is_new(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1 across three micro-batches: the seen-flag must SURVIVE the batch
    boundary — without persisted state, each key's first event per batch
    would re-emit is_new=1 and the global-rank oracle would catch it.
    NoTimeout state emits in-batch, so emit_batch = the row's chunk."""
    from gmall_spark.streaming.multibatch import (
        run_collect_batches,
        stream_event_chunks,
    )

    return run_collect_batches(fix_is_new_stream(stream_event_chunks(spark, sf_dir, 3)), shuffle_partitions=stream_shuffle_width())


@register("streaming_mb_bucketed_is_new", _MB_IS_NEW_ORACLE)
def streaming_mb_bucketed_is_new(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1 with key-coarsened state across three micro-batches: the same
    is_new kernel as streaming_mb_is_new under the hash-bucket grouping —
    one array<long> of ever-seen user ids per bucket, a bounded number of
    Python calls per batch instead of one per active user. Same oracle as
    streaming_mb_is_new, emit_batch included — batch-for-batch identical
    emission."""
    from gmall_spark.streaming.multibatch import (
        run_collect_batches,
        stream_event_chunks,
    )

    return run_collect_batches(
        fix_is_new_stream(stream_event_chunks(spark, sf_dir, 3), bucketed=True)
    )


#: shared by the per-key mb entry and its key-coarsened twin
_MB_UV_ORACLE = f"""
    WITH {_mb_cte()}
    SELECT user_id,
           strftime(CAST(ts AS DATE), '%Y-%m-%d') AS dt,
           event_id AS first_event_id,
           strftime(ts, '{_DUCK_FMT}') AS first_ts,
           CAST(chunk AS INT) AS emit_batch
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                   ORDER BY ts, event_id) AS rnn
      FROM placed
    ) WHERE rnn = 1
    """


@register("streaming_mb_unique_visit", _MB_UV_ORACLE)
def streaming_mb_unique_visit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST2 across three micro-batches: the seen-dates state must carry over
    — a (user, day) straddling a chunk boundary would re-emit from a
    stateless run. Each daily first emits in ITS chunk's batch."""
    from gmall_spark.streaming.multibatch import (
        run_collect_batches,
        stream_event_chunks,
    )

    out = run_collect_batches(dedup_daily_stream(stream_event_chunks(spark, sf_dir, 3)), shuffle_partitions=stream_shuffle_width())
    return out.select(
        "user_id",
        "dt",
        "first_event_id",
        F.date_format("first_ts", TS_FMT).alias("first_ts"),
        "emit_batch",
    )


@register("streaming_bucketed_uv", _UV_ORACLE)
def streaming_bucketed_uv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST2 with KEY-COARSENED state — the 100 TB shape of
    streaming_unique_visit. applyInPandasWithState pays one Python call per
    GROUP per batch, so per-entity keying costs a call per active user
    (~300k/batch at sf10 — the measured bottleneck of the mb twin's 108 s
    sf10 row, which no width knob fixes); grouping by hash(user)%buckets
    with one int64-coded seen-set row per bucket makes the call count
    independent of entity count. Same first-touch emission, same oracle —
    the twin pair is the semantics proof."""
    out = run_to_memory(
        dedup_daily_stream(stream_events(spark, sf_dir), bucketed=True), _name("s_bkt_uv")
    )
    return out.select(
        "user_id", "dt", "first_event_id", F.date_format("first_ts", TS_FMT).alias("first_ts")
    )


@register("streaming_mb_bucketed_uv", _MB_UV_ORACLE)
def streaming_mb_bucketed_uv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucketed-state twin across three micro-batches: coarsened seen
    sets must carry over chunk boundaries exactly like per-key state —
    emit_batch equality against the per-key oracle proves batch-for-batch
    identical emission, not just identical final output."""
    from gmall_spark.streaming.multibatch import (
        run_collect_batches,
        stream_event_chunks,
    )
    out = run_collect_batches(
        dedup_daily_stream(stream_event_chunks(spark, sf_dir, 3), bucketed=True)
    )
    return out.select(
        "user_id",
        "dt",
        "first_event_id",
        F.date_format("first_ts", TS_FMT).alias("first_ts"),
        "emit_batch",
    )


@register(
    "streaming_mb_ewma",
    f"""
    WITH {_mb_cte()},
    pres AS (SELECT DISTINCT user_id, chunk FROM placed),
    pref AS (
      SELECT p.user_id, pr.chunk AS eb,
             CAST(count(*) AS BIGINT) AS n_events,
             list_reduce(list_prepend(0.0, list(p.value ORDER BY p.ts, p.event_id)),
                         (acc, x) -> acc * 0.5 + x * 0.5) AS ewma
      FROM placed p JOIN pres pr
        ON p.user_id = pr.user_id AND p.chunk <= pr.chunk
      GROUP BY 1, 2
    )
    SELECT user_id, n_events, ewma, CAST(eb AS INT) AS emit_batch FROM pref
    """,
)
def streaming_mb_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric keyed state across three micro-batches: each batch a user
    appears in emits the CUMULATIVE (n, ewma) — so every emission is a
    prefix fold over everything the key has seen, and the oracle replays
    each prefix with the identical pinned-order fold (bit-identical doubles,
    same argument as ewma_user_value). Without persisted scalar state the
    per-batch emissions would restart from 0 and every prefix row would
    mismatch."""
    from gmall_spark.streaming.multibatch import (
        run_collect_batches,
        stream_event_chunks,
    )

    return run_collect_batches(ewma_stream(stream_event_chunks(spark, sf_dir, 3)), shuffle_partitions=stream_shuffle_width())


#: shared by the per-key mb CEP entry and its key-coarsened (bucketed) twin
_MB_BOUNCE_ORACLE = f"""
    WITH {_mb_cte()},
    o AS (
      SELECT event_id, user_id, ts, chunk, event_type,
             lead(ts) OVER w AS nxt_ts,
             lead(event_type = 'view') OVER w AS nxt_entry,
             lead(chunk) OVER w AS nxt_chunk
      FROM placed
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    -- timer = ms-floor(ts) + 600s; fires in the first batch whose governing
    -- watermark lies STRICTLY beyond it (batch b is governed by wm_{{b-1}};
    -- batch 3 is the final flush under wm2)
    t AS (
      SELECT o.*,
             CASE WHEN wm.wm0 > epoch_us(ts) // 1000 + 600000 THEN 1
                  WHEN wm.wm1 > epoch_us(ts) // 1000 + 600000 THEN 2
                  WHEN wm.wm2 > epoch_us(ts) // 1000 + 600000 THEN 3 END AS timer_batch
      FROM o, wm
    )
    SELECT event_id, user_id, strftime(ts, '{_DUCK_FMT}') AS ts,
           CASE WHEN nxt_ts IS NULL
                     OR epoch_us(nxt_ts) - epoch_us(ts) > 600000000 THEN 'timeout'
                ELSE 'match' END AS bounce_reason,
           CAST(CASE
             -- decided by the next event: emits in the batch processing it;
             -- a cross-batch timeout may be pre-empted by the timer firing
             -- in an earlier batch (state removed, same row either way)
             WHEN nxt_ts IS NOT NULL AND epoch_us(nxt_ts) - epoch_us(ts) > 600000000
               THEN least(nxt_chunk, coalesce(timer_batch, 99))
             WHEN nxt_ts IS NOT NULL THEN nxt_chunk
             -- trailing entry: timer-only path
             ELSE timer_batch END AS INT) AS emit_batch
    FROM t
    WHERE event_type = 'view'
      AND (   (nxt_ts IS NOT NULL AND epoch_us(nxt_ts) - epoch_us(ts) > 600000000)
           OR (nxt_ts IS NOT NULL AND epoch_us(nxt_ts) - epoch_us(ts) <= 600000000 AND nxt_entry)
           OR (nxt_ts IS NULL AND timer_batch IS NOT NULL))
    """


@register("streaming_mb_bounce", _MB_BOUNCE_ORACLE)
def streaming_mb_bounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST3 across three micro-batches — the full CEP surface in one run:
    in-batch match/timeout (vectorized lead), the pending entry carried
    across the batch boundary and resolved by the NEXT batch's first event,
    and event-time timers firing when a later batch's watermark passes
    ts+600s (including the pre-emption case: a cross-batch timeout whose
    timer fires before the next event's batch arrives). The oracle computes
    each decision's emission batch from the per-file watermark ladder."""
    from gmall_spark.streaming.multibatch import (
        run_collect_batches,
        stream_event_chunks,
    )

    out = run_collect_batches(detect_bounce_stream(stream_event_chunks(spark, sf_dir, 3)), shuffle_partitions=stream_shuffle_width())
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", TS_FMT).alias("ts"),
        "bounce_reason",
        "emit_batch",
    )


@register("streaming_mb_bucketed_bounce", _MB_BOUNCE_ORACLE)
def streaming_mb_bucketed_bounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST3 with KEY-COARSENED state across three micro-batches — the
    bucketed-seen-set pattern extended to the CEP operator, the first with
    TIMERS: the same bounce kernel as streaming_mb_bounce, with per-key
    pendings as parallel arrays in one state row per hash bucket and the
    per-key timers collapsed to one min-deadline bucket timer plus the
    kernel's watermark sweep on every invocation (the sweep must run on
    the input path too — a bucket with input gets no timeout invocation
    that batch, while per-key twins of its quiet keys would fire). Same
    oracle as streaming_mb_bounce, emit_batch included — batch-for-batch
    identical emission through both CEP emit paths."""
    from gmall_spark.streaming.multibatch import (
        run_collect_batches,
        stream_event_chunks,
    )
    out = run_collect_batches(
        detect_bounce_stream(stream_event_chunks(spark, sf_dir, 3), bucketed=True)
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", TS_FMT).alias("ts"),
        "bounce_reason",
        "emit_batch",
    )


@register(
    "streaming_outer_interval_join",
    f"""
    -- BOTH sides carry a watermark; the query's global watermark is the MIN
    -- of the two (views and purchases have different max event times), which
    -- is what gates the null-side emission — calibrated empirically: the
    -- all-events max over-evicts by exactly the views-vs-purchases gap
    WITH wm AS (
      SELECT least((SELECT epoch_us(max(ts)) FROM events WHERE event_type = 'view'),
                   (SELECT epoch_us(max(ts)) FROM events WHERE event_type = 'purchase'))
             // 1000 - 2000 AS wm_ms
    ),
    v AS (SELECT * FROM events WHERE event_type = 'view'),
    p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    matched AS (
      SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
             strftime(v.ts, '{_DUCK_FMT}') AS view_ts
      FROM v JOIN p ON v.user_id = p.user_id
       AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL '15 minutes'
    ),
    unmatched AS (
      SELECT v.event_id AS view_id, CAST(NULL AS BIGINT) AS purchase_id, v.user_id,
             strftime(v.ts, '{_DUCK_FMT}') AS view_ts
      FROM v, wm
      WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = v.user_id
                        AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL '15 minutes')
        AND wm.wm_ms > epoch_us(v.ts + INTERVAL '15 minutes') // 1000
    )
    SELECT * FROM matched UNION ALL SELECT * FROM unmatched
    """,
)
def streaming_outer_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5's outer semantics on a LIVE stream-stream interval join
    (TestFlinkSQLJoin.java:34-43's state-TTL-driven outer emission):
    matches emit as found; an unmatched view emits with nulls only once
    the watermark PROVES no purchase can still arrive (wm past
    view_ts + upper bound). The oracle replays both paths, including the
    min-of-both-sides watermark that governs the eviction."""
    ev = stream_events(spark, sf_dir)
    views = ev.filter(F.col("event_type") == "view")
    buys = ev.filter(F.col("event_type") == "purchase")
    j = interval_join_stream(
        views, buys, "user_id", "ts", "ts", "0 minutes", "15 minutes",
        how="left_outer",
    ).select(
        F.col("l.event_id").alias("view_id"),
        F.col("r.event_id").alias("purchase_id"),
        F.col("l.user_id").alias("user_id"),
        F.date_format(F.col("l.ts"), TS_FMT).alias("view_ts"),
    )
    return run_to_memory(j, _name("s_louter"))


@register(
    "streaming_full_outer_join",
    f"""
    WITH wm AS (
      SELECT least((SELECT epoch_us(max(ts)) FROM events WHERE event_type = 'view'),
                   (SELECT epoch_us(max(ts)) FROM events WHERE event_type = 'purchase'))
             // 1000 - 2000 AS wm_ms
    ),
    v AS (SELECT * FROM events WHERE event_type = 'view'),
    p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    matched AS (
      SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
             strftime(v.ts, '{_DUCK_FMT}') AS view_ts,
             strftime(p.ts, '{_DUCK_FMT}') AS purchase_ts
      FROM v JOIN p ON v.user_id = p.user_id
       AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL '15 minutes'
    ),
    un_v AS (
      SELECT v.event_id AS view_id, CAST(NULL AS BIGINT) AS purchase_id, v.user_id,
             strftime(v.ts, '{_DUCK_FMT}') AS view_ts, CAST(NULL AS VARCHAR) AS purchase_ts
      FROM v, wm
      WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = v.user_id
                        AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL '15 minutes')
        AND wm.wm_ms > epoch_us(v.ts + INTERVAL '15 minutes') // 1000
    ),
    un_p AS (
      -- a purchase can match any view with ts in [p.ts - 15min, p.ts]; the
      -- last possible matching view has ts = p.ts, so the null side emits
      -- once the watermark passes p.ts itself
      SELECT CAST(NULL AS BIGINT) AS view_id, p.event_id AS purchase_id, p.user_id,
             CAST(NULL AS VARCHAR) AS view_ts, strftime(p.ts, '{_DUCK_FMT}') AS purchase_ts
      FROM p, wm
      WHERE NOT EXISTS (SELECT 1 FROM v WHERE v.user_id = p.user_id
                        AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL '15 minutes')
        AND wm.wm_ms > epoch_us(p.ts) // 1000
    )
    SELECT * FROM matched UNION ALL SELECT * FROM un_v UNION ALL SELECT * FROM un_p
    """,
)
def streaming_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream interval join — completes the join-mode
    matrix (inner: streaming_payment_wide; left outer:
    streaming_outer_interval_join). Each side's null emission is gated by
    its own eviction bound under the min-of-both-sides watermark: an
    unmatched view waits past view_ts + 15min, an unmatched purchase only
    past purchase_ts (the latest view that could match it carries its own
    timestamp)."""
    ev = stream_events(spark, sf_dir)
    views = ev.filter(F.col("event_type") == "view")
    buys = ev.filter(F.col("event_type") == "purchase")
    j = interval_join_stream(
        views, buys, "user_id", "ts", "ts", "0 minutes", "15 minutes",
        how="full_outer",
    ).select(
        F.col("l.event_id").alias("view_id"),
        F.col("r.event_id").alias("purchase_id"),
        F.coalesce(F.col("l.user_id"), F.col("r.user_id")).alias("user_id"),
        F.date_format(F.col("l.ts"), TS_FMT).alias("view_ts"),
        F.date_format(F.col("r.ts"), TS_FMT).alias("purchase_ts"),
    )
    return run_to_memory(j, _name("s_fouter"))


@register(
    "streaming_warehouse_e2e",
    f"""
    WITH wm AS {_WM_MS},
    uv AS (
      SELECT ts FROM (
        SELECT ts, row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                      ORDER BY ts, event_id) AS rn
        FROM events
      ) WHERE rn = 1
    ),
    o AS (
      SELECT user_id, ts, event_type,
             lead(ts) OVER w AS nxt_ts,
             lead(event_type = 'view') OVER w AS nxt_entry
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    uj AS (
      SELECT ts FROM o, wm
      WHERE event_type = 'view'
        AND (   (nxt_ts IS NOT NULL AND epoch_us(nxt_ts) - epoch_us(ts) > 600000000)
             OR (nxt_ts IS NOT NULL AND epoch_us(nxt_ts) - epoch_us(ts) <= 600000000 AND nxt_entry)
             OR (nxt_ts IS NULL AND epoch_us(ts) // 1000 + 600000 < wm.wm_ms))
    ),
    u AS (
      SELECT 'pv' AS src, ts FROM events
      UNION ALL SELECT 'uv', ts FROM uv
      UNION ALL SELECT 'uj', ts FROM uj
    )
    SELECT strftime(time_bucket(INTERVAL '10 minutes', ts), '{_DUCK_FMT}') AS stt,
           strftime(time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes', '{_DUCK_FMT}') AS edt,
           CAST(sum(CASE WHEN src = 'pv' THEN 1 ELSE 0 END) AS BIGINT) AS pv_ct,
           CAST(sum(CASE WHEN src = 'uv' THEN 1 ELSE 0 END) AS BIGINT) AS uv_ct,
           CAST(sum(CASE WHEN src = 'uj' THEN 1 ELSE 0 END) AS BIGINT) AS uj_ct
    FROM u GROUP BY 1, 2
    """,
)
def streaming_warehouse_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed live topology (see streaming/topology.py): DWD base_log →
    DWM unique_visit + user_jump → DWS visitor_stats as FOUR concurrent
    streaming queries chained by directory handoffs — the reference's
    Kafka-topic warehouse shape end to end, with one oracle over the final
    DWS state. uj rows replay the bounce semantics (timers closed at the
    upstream stream's final watermark); uv rows are the daily firsts; every
    metric lands in its event-time 10-minute window."""
    from gmall_spark.streaming.topology import warehouse_e2e

    return warehouse_e2e(spark, sf_dir)


@register(
    "streaming_warehouse_e2e_append",
    f"""
    -- FULL-FLUSH oracle: the append topology's sentinel A fires every
    -- pending bounce timer (so trailing entries ARE bounces, unlike the
    -- complete-mode oracle's wm-gated last branch) and sentinel B closes
    -- every real window (so there is no closure filter).
    WITH uv AS (
      SELECT ts FROM (
        SELECT ts, row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                      ORDER BY ts, event_id) AS rn
        FROM events
      ) WHERE rn = 1
    ),
    o AS (
      SELECT user_id, ts, event_type,
             lead(ts) OVER w AS nxt_ts,
             lead(event_type = 'view') OVER w AS nxt_entry
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    uj AS (
      SELECT ts FROM o
      WHERE event_type = 'view'
        AND (   nxt_ts IS NULL
             OR epoch_us(nxt_ts) - epoch_us(ts) > 600000000
             OR (epoch_us(nxt_ts) - epoch_us(ts) <= 600000000 AND nxt_entry))
    ),
    u AS (
      SELECT 'pv' AS src, ts FROM events
      UNION ALL SELECT 'uv', ts FROM uv
      UNION ALL SELECT 'uj', ts FROM uj
    )
    SELECT strftime(time_bucket(INTERVAL '10 minutes', ts), '{_DUCK_FMT}') AS stt,
           strftime(time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes', '{_DUCK_FMT}') AS edt,
           CAST(sum(CASE WHEN src = 'pv' THEN 1 ELSE 0 END) AS BIGINT) AS pv_ct,
           CAST(sum(CASE WHEN src = 'uv' THEN 1 ELSE 0 END) AS BIGINT) AS uv_ct,
           CAST(sum(CASE WHEN src = 'uj' THEN 1 ELSE 0 END) AS BIGINT) AS uj_ct
    FROM u GROUP BY 1, 2
    """,
)
def streaming_warehouse_e2e_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The four-query topology in its PRODUCTION output configuration: DWS
    append mode with the watermark delay widened by the DWM timeout budget
    (topology.warehouse_e2e_append — the exact alternative the complete-mode
    entry's design note documents). Two-stage sentinel flush makes the
    compressed replay deterministic: A fires every bounce timer, B closes
    every real window; each window emits exactly once into the append sink.
    Any duplicate emission, lateness-dropped row, or missed timer flush
    breaks the counts against the full-flush oracle."""
    from gmall_spark.streaming.topology import warehouse_e2e_append

    return warehouse_e2e_append(spark, sf_dir)


@register(
    "streaming_tws_is_new",
    """
    SELECT event_id, user_id,
           CAST(CASE WHEN row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) = 1
                THEN 1 ELSE 0 END AS INT) AS is_new
    FROM events
    """,
)
def streaming_tws_is_new(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1 on the Spark 4 transformWithStateInPandas API (typed ValueState in
    a StatefulProcessor over the RocksDB store) — same first-touch semantics
    and oracle as streaming_is_new_repair, different state machinery. The
    RocksDB provider conf is scoped to this run: TWS requires it, but later
    entries should keep the session default."""
    from gmall_spark.streaming.stateful import fix_is_new_tws

    with conf_scope(spark, {"spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER}):
        return run_to_memory(
            fix_is_new_tws(stream_events(spark, sf_dir)),
            _name("s_tws_isnew"),
            shuffle_partitions=stream_shuffle_width(),
        )


@register("streaming_tws_bounce", _BOUNCE_ORACLE)
def streaming_tws_bounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST3 on the transformWithState TIMER API — the same CEP-with-timeout
    semantics and oracle as streaming_bounce_detect, but the timeout path
    runs on first-class event-time timers (registerTimer/handleExpiredTimer
    over the RocksDB timer column family) instead of GroupState's single
    implicit timeout slot. Output is bit-identical to the
    applyInPandasWithState twin; the equivalence test asserts exactly that,
    and the metrics-level test pins the timer lifecycle (registered =
    deleted + expired + live) and state-eviction accounting."""
    from gmall_spark.streaming.stateful import detect_bounce_tws

    with conf_scope(spark, {"spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER}):
        out = run_to_memory(
            detect_bounce_tws(stream_events(spark, sf_dir)),
            _name("s_tws_bounce"),
            shuffle_partitions=stream_shuffle_width(),
        )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", TS_FMT).alias("ts"),
        "bounce_reason",
    )


@register(
    "streaming_dq_audit",
    f"""
    WITH wm AS {_WM_MS},
    agg AS (
      SELECT time_bucket(INTERVAL '10 minutes', ts) AS ws,
             CAST(count(*) - count(user_id) AS BIGINT) AS null_user_ct,
             CAST(sum(CASE WHEN value < 0 OR value >= 500 THEN 1 ELSE 0 END) AS BIGINT)
               AS range_viol_ct,
             CAST(count(*) AS BIGINT) AS row_ct
      FROM events GROUP BY 1
    )
    SELECT null_user_ct, range_viol_ct, row_ct,
           strftime(ws, '{_DUCK_FMT}') AS stt,
           strftime(ws + INTERVAL '10 minutes', '{_DUCK_FMT}') AS edt
    FROM agg, wm
    WHERE epoch_us(ws + INTERVAL '10 minutes') // 1000 <= wm.wm_ms
    """,
)
def streaming_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live data-quality monitoring — the dq_audit expectation rules folded
    into a watermarked tumbling window over the event stream: per-window
    null-key and range-violation counts emit on window closure. Stateless
    per-window conditional sums (partial-agg friendly); the batch dq_audit
    stays the full-corpus gate, this is the per-window pulse an ingestion
    dashboard alerts on."""
    ev = stream_events(spark, sf_dir)
    out = windowed_stats_stream(
        ev,
        "ts",
        "10 minutes",
        [],
        [
            (F.count(F.lit(1)) - F.count("user_id")).cast("long").alias("null_user_ct"),
            F.sum(((F.col("value") < 0) | (F.col("value") >= 500)).cast("long"))
            .cast("long")
            .alias("range_viol_ct"),
            F.count(F.lit(1)).cast("long").alias("row_ct"),
        ],
    )
    return run_to_memory(out, _name("s_dq"))


@register(
    "streaming_decontaminate",
    """
    WITH sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id, array_to_string(t[i:i+12], ' ') AS shingle
        FROM (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
             UNNEST(range(1, greatest(len(t) - 12, 1) + 1)) AS u(i)
      )
    ),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 7 = 0)
    SELECT s.doc_id, CAST(count(*) AS BIGINT) AS hit_ct
    FROM sh s JOIN bench b USING (shingle)
    WHERE s.doc_id % 7 <> 0
    GROUP BY 1
    """,
)
def streaming_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming intake decontamination — the live twin of the batch
    `decontaminate` gate: documents arrive as a stream, are shingled into
    13-grams in-flight, and stream-static-JOINED against the benchmark
    shingle index (built once, batch-side, from the held-out doc_id % 7 = 0
    slice — in production: the eval-set index a pipeline keeps materialized).
    Emits per arriving doc its contaminated-shingle count.

    The join is the SHUFFLE stream-static shape, not a broadcast: a
    benchmark n-gram index grows with the eval corpus and does not fit an
    executor at 100 TB, so each micro-batch's shingles exchange-partition
    onto the index's hash layout (stateless — no watermark, no state store;
    every micro-batch re-reads the static side, which is how Spark gives the
    index-refresh freshness the reference's dim-cache TTL approximates).
    Stateless inner join + in-batch group count ⇒ the single-batch run
    replays exactly in SQL."""
    from gmall_spark.extras import dedup
    from gmall_spark.sources import load_table
    from gmall_spark.streaming.pipelines import stream_table

    docs_static = load_table(spark, sf_dir, "documents")
    bench = (
        dedup.shingle_set(docs_static.filter(F.col("doc_id") % 7 == 0), "doc_id", "text", k=13)
        .select("shingle")
        .distinct()
    )
    stream = stream_table(
        spark, sf_dir, "documents",
        "doc_id long, text string, lang string, source string, n_chars long",
    ).filter(F.col("doc_id") % 7 != 0)
    # in-flight shingling of the stream side — the SAME column expressions as
    # the batch gate (dedup._tokens/_shingles), applied to a streaming DF
    sh = (
        stream.select(
            "doc_id",
            F.explode(dedup._shingles(dedup._tokens("text"), 13)).alias("shingle"),
        )
        .distinct()
        .join(bench, "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("hit_ct"))
    )
    return run_to_memory(sh, _name("s_decon"), output_mode="complete")


@register(
    "streaming_neardup_gate",
    """
    WITH sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
        FROM (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
             UNNEST(range(1, greatest(len(t) - 2, 1) + 1)) AS u(i)
      )
    ),
    agg AS (
      SELECT doc_id,
             min(substr(md5(shingle), 1, 8)) AS m0,
             min(substr(md5(shingle), 9, 8)) AS m1,
             min(substr(md5(shingle), 17, 8)) AS m2,
             min(substr(md5(shingle), 25, 8)) AS m3,
             min(substr(md5('x' || shingle), 1, 8)) AS m4,
             min(substr(md5('x' || shingle), 9, 8)) AS m5,
             min(substr(md5('x' || shingle), 17, 8)) AS m6,
             min(substr(md5('x' || shingle), 25, 8)) AS m7
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, b.band,
             CASE b.band WHEN 0 THEN m0 || '|' || m1 WHEN 1 THEN m2 || '|' || m3
                         WHEN 2 THEN m4 || '|' || m5 ELSE m6 || '|' || m7
             END AS band_key
      FROM agg, (SELECT unnest(range(0, 4)) AS band) b
    )
    SELECT s.doc_id, CAST(count(DISTINCT c.doc_id) AS BIGINT) AS neardup_ct
    FROM bands s JOIN bands c
      ON s.band = c.band AND s.band_key = c.band_key
    WHERE s.doc_id % 7 <> 0 AND c.doc_id % 7 = 0
    GROUP BY 1
    """,
)
def streaming_neardup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup intake gate — the live MinHash-LSH twin of the
    batch `dedup_minhash` path: documents ARRIVE as a stream and are gated
    against the already-ingested corpus (the doc_id % 7 = 0 slice; in
    production, the materialized band index of everything ingested so far).
    Emits, per arriving doc, how many corpus docs share at least one LSH
    band — the admit/quarantine signal an intake pipeline acts on.

    Shape notes. The batch minhash path is three chained aggregations
    (min-per-seed → band concat → pair count), which streaming complete
    mode cannot chain — so the arriving doc's signature is computed
    per-ROW inside one Arrow kernel (its shingle set never leaves the
    worker; zero shuffles to sign a document) and only the band-key join +
    one count aggregate touch the engine. Hash family and banding are
    BIT-IDENTICAL to dedup_minhash (8×32-bit md5 slices, band = 2 seeds,
    lexicographic min on hex), so the DuckDB oracle replays signatures,
    banding, and the gate count end-to-end. The stream-static join is the
    shuffle shape (a corpus band index outgrows executors at 100 TB), and
    every micro-batch re-reads the static side — index freshness without a
    cache-TTL protocol.

    Reference parity: the closest reference shape is the dim-lookup gate
    (`app/func/DimAsyncFunction.java` keyed cache probe); this entry is its
    content-similarity generalization for training-data intake."""
    import hashlib

    import pandas as pd

    from gmall_spark.extras import dedup
    from gmall_spark.sources import load_table
    from gmall_spark.streaming.pipelines import stream_table

    docs_static = load_table(spark, sf_dir, "documents")
    corpus_sig = dedup.minhash_signatures(
        docs_static.filter(F.col("doc_id") % 7 == 0), "doc_id", "text", k=3, n_hashes=8
    )
    corpus_bands = (
        corpus_sig.withColumn("band", (F.substring("seed", 2, 2).cast("int") / 2).cast("int"))
        .groupBy("doc_id", "band")
        .agg(
            F.concat_ws(
                "|",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("seed", "mh"))), lambda s: s["mh"]
                ),
            ).alias("band_key")
        )
        .select(F.col("doc_id").alias("corpus_id"), "band", "band_key")
    )

    # no type hints: this module runs under `from __future__ import
    # annotations`, so hints are strings resolved against MODULE globals —
    # where the function-local `pd` import is invisible (Arrow SCALAR eval
    # is inferred from the untyped signature instead)
    @F.pandas_udf("array<string>")
    def band_keys(texts):
        # per-row minhash: the SAME md5-slice family as
        # dedup.minhash_signatures, reduced in-kernel instead of via a
        # groupBy (streaming cannot chain the batch path's aggregations)
        out = []
        for text in texts:
            if text is None:
                # match the batch/oracle NULL semantics: split(NULL) drops
                # the row batch-side and the oracle's len(NULL) range is
                # empty — a NULL-text doc must emit NO band keys, not the
                # empty-shingle signature
                out.append([])
                continue
            toks = text.strip().split(" ")
            upper = max(len(toks) - 2, 1)
            shingles = {" ".join(toks[i - 1 : i + 2]) for i in range(1, upper + 1)}
            mins = [None] * 8
            for s in shingles:
                h1 = hashlib.md5(s.encode("utf-8")).hexdigest()
                h2 = hashlib.md5(b"x" + s.encode("utf-8")).hexdigest()
                for i in range(8):
                    piece = (h1 if i < 4 else h2)[8 * (i % 4) : 8 * (i % 4) + 8]
                    if mins[i] is None or piece < mins[i]:
                        mins[i] = piece
            out.append([f"{mins[2*b]}|{mins[2*b+1]}" for b in range(4)])
        return pd.Series(out)

    stream = stream_table(
        spark, sf_dir, "documents",
        "doc_id long, text string, lang string, source string, n_chars long",
    ).filter(F.col("doc_id") % 7 != 0)
    gated = (
        stream.select("doc_id", F.posexplode(band_keys("text")).alias("band", "band_key"))
        .join(corpus_bands, ["band", "band_key"])
        .select("doc_id", "corpus_id")
        .distinct()  # a pair can collide in several bands; count docs, not bands
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("neardup_ct"))
    )
    return run_to_memory(gated, _name("s_ndgate"), output_mode="complete")


from gmall_spark.extras.queries import _hex_val_sql, _lsh_oracle

#: pinned density for the streaming semantic gate — 4 bits is what
#: auto_lsh_bits resolves to at every gate corpus (≤4096 vectors), so the
#: pinned oracle replays the production auto behavior bit-exactly there;
#: production intakes size this with auto_lsh_bits(corpus_count) exactly
#: like the batch ANN auto twins.
_SEM_GATE_BITS = 4
_SEM_GATE_TABLES = 12


@register(
    "streaming_semantic_gate",
    _lsh_oracle(_SEM_GATE_BITS)
    + """
    hits AS (
      SELECT s.vec_id, c.vec_id AS corpus_id
      FROM sigs s JOIN sigs c ON s.tbl = c.tbl AND s.sig = c.sig
      WHERE s.vec_id % 7 <> 0 AND c.vec_id % 7 = 0
    )
    SELECT vec_id, CAST(count(DISTINCT corpus_id) AS BIGINT) AS semdup_ct
    FROM hits GROUP BY 1
    """,
)
def streaming_semantic_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SEMANTIC intake gate — the embedding-space twin of
    `streaming_neardup_gate`: embedding rows ARRIVE as a stream (vec_id %
    7 != 0) and are gated against the already-ingested corpus's
    random-hyperplane LSH bucket index (the % 7 == 0 slice; in production,
    the materialized signature index of everything ingested so far). Emits,
    per arriving vector, how many corpus vectors share an LSH bucket in ANY
    of the 12 signature tables — the SemDeDup-shaped admit/quarantine
    signal for multimodal/embedding intake, completing the live gate family
    (text MinHash + bloom decontamination + this).

    Shape notes. The corpus side reuses the batch `similarity.signatures`
    index build (one BLAS matmul per Arrow batch — a MapInPandas node in
    the static plan). The ARRIVING vector is signed per-ROW inside one
    scalar Arrow kernel against the same broadcast ±1 hyperplane tensor
    (`similarity._hyperplanes` — md5-parity planes, so the DuckDB oracle
    regenerates them bit-exactly in SQL): one float64 GEMM per Arrow batch,
    zero shuffles to sign. Only the (tbl, sig) stream-static join + one
    distinct + the gate count touch the engine — the join is the shuffle
    shape (a corpus signature index outgrows executors at 100 TB), and
    every micro-batch re-reads the static side, so index freshness needs no
    cache-TTL protocol. Bits are PINNED at 4 only so the oracle replays
    bit-identically (auto_lsh_bits resolves to 4 at every gate corpus);
    the production knob is auto density, same contract as
    `embed_ann_lsh_auto`.

    Reference parity: `app/func/DimAsyncFunction.java`'s keyed gate probe,
    generalized to content similarity (same anchor as the MinHash gate)."""
    import numpy as np
    import pandas as pd

    from gmall_spark.extras import similarity
    from gmall_spark.sources import load_table
    from gmall_spark.streaming.pipelines import stream_table

    emb_static = load_table(spark, sf_dir, "embeddings")
    corpus = similarity.signatures(
        emb_static.filter(F.col("vec_id") % 7 == 0),
        "vec_id",
        "embedding",
        n_bits=_SEM_GATE_BITS,
        n_tables=_SEM_GATE_TABLES,
    ).select(F.col("vec_id").alias("corpus_id"), F.col("table").alias("tbl"), "sig")

    first = emb_static.select("embedding").first()
    dims = len(first[0]) if first and first[0] is not None else 0
    bc = spark.sparkContext.broadcast(
        similarity._hyperplanes(_SEM_GATE_TABLES, _SEM_GATE_BITS, dims).reshape(
            _SEM_GATE_TABLES * _SEM_GATE_BITS, dims
        )
    )
    weights = (2 ** np.arange(_SEM_GATE_BITS - 1, -1, -1)).astype("int64")

    # untyped signature on purpose — see band_keys above (module-level
    # `from __future__ import annotations` makes hints strings)
    @F.pandas_udf("array<bigint>")
    def sig_codes(vecs):
        # per-row hyperplane signatures, SAME arithmetic as the batch
        # signatures() kernel: float64 X @ W.T, sign test, binary weights —
        # one array slot per table so posexplode's pos IS the table id
        W = bc.value
        rows = [None if v is None else np.asarray(v, dtype="float64") for v in vecs]
        keep = [r for r in rows if r is not None]
        if not keep:
            return pd.Series([[] for _ in rows])
        codes = (
            (np.stack(keep) @ W.T > 0)
            .reshape(len(keep), _SEM_GATE_TABLES, _SEM_GATE_BITS)
            @ weights
        )
        it = iter(codes)
        return pd.Series([[] if r is None else next(it).tolist() for r in rows])

    stream = stream_table(
        spark, sf_dir, "embeddings", "vec_id long, embedding array<float>, label int"
    ).filter(F.col("vec_id") % 7 != 0)
    gated = (
        stream.select("vec_id", F.posexplode(sig_codes("embedding")).alias("tbl", "sig"))
        .join(corpus, ["tbl", "sig"])
        .select("vec_id", "corpus_id")
        .distinct()  # a pair can collide in several tables; count vectors, not hits
        .groupBy("vec_id")
        .agg(F.count(F.lit(1)).cast("long").alias("semdup_ct"))
    )
    return run_to_memory(gated, _name("s_semgate"), output_mode="complete")


@register(
    "streaming_hll_windows",
    f"""
    WITH wm AS {_WM_MS},
    h AS (
      SELECT time_bucket(INTERVAL '10 minutes', ts) AS ws,
             {_hex_val_sql("md5('hll:' || CAST(user_id AS VARCHAR))", 1, 2)} AS reg,
             {_hex_val_sql("md5('hll:' || CAST(user_id AS VARCHAR))", 3, 8)} AS v
      FROM events
    ),
    regs AS (
      SELECT ws, reg,
             max(CASE WHEN v = 0 THEN 33 ELSE 32 - CAST(floor(log2(v)) AS INT) END) AS rho
      FROM h GROUP BY 1, 2
    )
    SELECT strftime(ws, '{_DUCK_FMT}') AS stt,
           strftime(ws + INTERVAL '10 minutes', '{_DUCK_FMT}') AS edt,
           CAST(reg AS INT) AS register, CAST(rho AS INT) AS max_rho
    FROM regs, wm
    WHERE epoch_us(ws + INTERVAL '10 minutes') // 1000 <= wm.wm_ms
    """,
)
def streaming_hll_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL register sketch as a LIVE windowed aggregation — how
    distinct-user counting actually ships at stream scale: per (window,
    register) keep max(rho). The whole sketch is an ordinary watermarked
    window agg (max is partial-aggregable, state = 256 small rows per open
    window — CONSTANT per window, unlike windowed countDistinct whose state
    is user-cardinality-sized: the reason HLL replaces exact distinct in
    every streaming metrics pipeline). Each closed window's register row set
    max-merges downstream exactly like hll_union_estimate's __ALL__ row —
    windows→days→months without touching raw data again. Emission on
    watermark closure; the oracle replays registers + closure filter."""
    ev = stream_events(spark, sf_dir)
    m = F.md5(F.concat(F.lit("hll:"), F.col("user_id").cast("string")))
    reg = F.conv(F.substring(m, 1, 2), 16, 10).cast("int")
    v = F.conv(F.substring(m, 3, 8), 16, 10).cast("long")
    rho = F.when(v == 0, F.lit(33)).otherwise(F.lit(32) - F.floor(F.log2(v)).cast("int"))
    keyed = ev.select("ts", reg.alias("register"), rho.alias("rho"))
    out = (
        keyed.withWatermark("ts", "2 seconds")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "register")
        .agg(F.max("rho").cast("int").alias("max_rho"))
    )
    from gmall_spark.functions import window_bounds

    stt, edt = window_bounds(F.col("w"))
    res = out.withColumn("stt", stt).withColumn("edt", edt).drop("w")
    return run_to_memory(res, _name("s_hll")).select("stt", "edt", "register", "max_rho")


@register(
    "streaming_semi_join",
    f"""
    -- semi join emission is MATCH-driven, not watermark-driven: a view
    -- emits (once) when its first purchase arrives, so with every event in
    -- the batch the result is exactly the EXISTS set — no closure filter
    SELECT v.event_id AS view_id, v.user_id,
           strftime(v.ts, '{_DUCK_FMT}') AS view_ts
    FROM events v
    WHERE v.event_type = 'view'
      AND EXISTS (SELECT 1 FROM events p
                  WHERE p.event_type = 'purchase' AND p.user_id = v.user_id
                    AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL '15 minutes')
    """,
)
def streaming_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI stream-stream interval join — 'views that converted',
    emitting each view at most once however many purchases follow. Fourth
    cell of the streaming join-mode matrix (inner / left outer / full outer
    / semi); Spark supports semi natively for stream-stream, with the same
    range-predicate state eviction as the other modes. Unlike the outer
    modes, nothing here waits for the watermark: emission is triggered by
    the match itself (the oracle is therefore a plain EXISTS with no
    closure term — the comment above is load-bearing semantics, not an
    optimization)."""
    ev = stream_events(spark, sf_dir)
    views = ev.filter(F.col("event_type") == "view")
    buys = ev.filter(F.col("event_type") == "purchase")
    j = interval_join_stream(
        views, buys, "user_id", "ts", "ts", "0 minutes", "15 minutes",
        how="left_semi",
    ).select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("user_id"),
        F.date_format(F.col("ts"), TS_FMT).alias("view_ts"),
    )
    return run_to_memory(j, _name("s_semi"))


@register(
    "streaming_anti_join",
    f"""
    -- Spark has no native stream-stream left ANTI; the engine-idiomatic
    -- derivation is left_outer + IS NULL, which inherits the outer mode's
    -- watermark-proven emission: a view appears only once no purchase can
    -- still arrive for it (wm past view_ts + 15min)
    WITH wm AS (
      SELECT least((SELECT epoch_us(max(ts)) FROM events WHERE event_type = 'view'),
                   (SELECT epoch_us(max(ts)) FROM events WHERE event_type = 'purchase'))
             // 1000 - 2000 AS wm_ms
    )
    SELECT v.event_id AS view_id, v.user_id,
           strftime(v.ts, '{_DUCK_FMT}') AS view_ts
    FROM events v, wm
    WHERE v.event_type = 'view'
      AND NOT EXISTS (SELECT 1 FROM events p
                      WHERE p.event_type = 'purchase' AND p.user_id = v.user_id
                        AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL '15 minutes')
      AND wm.wm_ms > epoch_us(v.ts + INTERVAL '15 minutes') // 1000
    """,
)
def streaming_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI on a live stream-stream interval join — 'views that
    provably never converted', the abandonment feed. Derived as
    left_outer + right-side-NULL filter (Spark's supported-mode matrix has
    no native stream-stream anti), so a view emits exactly when the
    watermark proves no purchase can still arrive — the correct semantics
    for an abandonment trigger (emitting earlier would retract)."""
    ev = stream_events(spark, sf_dir)
    views = ev.filter(F.col("event_type") == "view")
    buys = ev.filter(F.col("event_type") == "purchase")
    j = (
        interval_join_stream(
            views, buys, "user_id", "ts", "ts", "0 minutes", "15 minutes",
            how="left_outer",
        )
        .filter(F.col("r.event_id").isNull())
        .select(
            F.col("l.event_id").alias("view_id"),
            F.col("l.user_id").alias("user_id"),
            F.date_format(F.col("l.ts"), TS_FMT).alias("view_ts"),
        )
    )
    return run_to_memory(j, _name("s_anti"))


@register(
    "streaming_manifest_sink",
    """
    -- the sink is pass-through (stage + manifest-commit); with every event
    -- available the manifested rows equal the filtered stream, so the
    -- oracle is the direct aggregate over events
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(user_id) AS BIGINT) AS user_sum
    FROM events
    WHERE event_type IN ('purchase', 'signup')
    GROUP BY 1
    """,
)
def streaming_manifest_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gmall_manifest Python DataSource SINK under the correctness
    gate: a live availableNow stream writes through the two-phase
    stage-then-manifest commit path (sinks/manifest_sink.py — per-epoch
    manifest entries, replay idempotency), then the result is read back
    VIA THE MANIFEST (only committed files) and aggregated; the oracle
    computes the same aggregate straight from events. Verifies the whole
    executor-stage → driver-commit → manifested-read contract end-to-end,
    per micro-batch."""
    import tempfile

    from gmall_spark.sinks.manifest_sink import read_manifested, register_manifest_sink

    register_manifest_sink(spark)
    from gmall_spark.session import scratch_dir, spool_dir

    out = spool_dir("manifest_rt_")
    ckpt = tempfile.mkdtemp(prefix="manifest_ck_", dir=scratch_dir("ckpt"))
    ev = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type").isin("purchase", "signup"))
        .select("event_id", "user_id", "event_type")
    )
    q = (
        ev.writeStream.format("gmall_manifest")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = read_manifested(spark, out, "event_id long, user_id long, event_type string")
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("user_id").cast("long").alias("user_sum"),
    )


@register(
    "streaming_mb_interval_join",
    f"""
    WITH {_mb_cte()},
    v AS (SELECT * FROM placed WHERE event_type = 'view'),
    p AS (SELECT * FROM placed WHERE event_type = 'purchase')
    SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
           strftime(v.ts, '{_DUCK_FMT}') AS view_ts,
           -- inner-join emission is match-driven: the pair emits in the
           -- batch the LATER side arrives in (no watermark hold)
           CAST(greatest(v.chunk, p.chunk) AS INT) AS emit_batch
    FROM v JOIN p ON v.user_id = p.user_id
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL '15 minutes'
    """,
)
def streaming_mb_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join across THREE advancing-watermark
    micro-batches with cross-batch join state: a view arriving in batch 0
    sits in join state until its purchase arrives (possibly two batches
    later), and the emission stamp proves WHICH batch each match fired in.
    Eviction safety is structural: chunks are time-ordered, so by the time
    the watermark passes view_ts + 15min (evicting the view), any future
    purchase's event time is beyond the join window anyway — the oracle's
    plain interval join with emit_batch = greatest(arrival chunks) is
    provably the streaming result, match losses impossible."""
    from gmall_spark.streaming.multibatch import (
        run_collect_batches,
        stream_event_chunks,
    )

    ev = stream_event_chunks(spark, sf_dir, 3)
    views = ev.filter(F.col("event_type") == "view")
    buys = ev.filter(F.col("event_type") == "purchase")
    j = interval_join_stream(
        views, buys, "user_id", "ts", "ts", "0 minutes", "15 minutes"
    ).select(
        F.col("l.event_id").alias("view_id"),
        F.col("r.event_id").alias("purchase_id"),
        F.col("l.user_id").alias("user_id"),
        F.date_format(F.col("l.ts"), TS_FMT).alias("view_ts"),
    )
    return run_collect_batches(j)


@register(
    "streaming_observed_metrics",
    f"""
    WITH {_mb_cte()}
    SELECT CAST(chunk AS BIGINT) AS batch_id,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(value * 10000) AS BIGINT)) AS BIGINT) AS value_q_sum,
           CAST(max(epoch_us(ts)) AS BIGINT) AS max_us
    FROM placed
    GROUP BY 1
    """,
)
def streaming_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.observe() under the correctness gate — in-plan metrics, the Spark
    analog of Flink's operator metric groups: per-batch row count, exact
    quantized value sum, and max event time computed as observations that
    RIDE the batch's own job (no second scan of the source — contrast
    streaming_dq_monitor, whose expectation rules are part of the query
    result). The listener receives one observedMetrics row per named
    observation per micro-batch (driver-side, O(batches), never O(rows));
    the oracle replays each per-file batch's metrics from the deterministic
    chunk split — so the value-hash proves the observation pipeline
    (plan-embedded agg → progress event → telemetry frame) end to end.
    The noop sink is the point: observability costs nothing extra even when
    the batch's only consumer discards the rows."""
    import time

    from gmall_spark.streaming import monitor
    from gmall_spark.streaming.multibatch import stream_event_chunks

    src = stream_event_chunks(spark, sf_dir, 3)
    observed = src.observe(
        "intake",
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("value") * 10000).cast("long")).alias("value_q_sum"),
        F.max(F.unix_micros("ts")).alias("max_us"),
    )
    qname = _name("observe")
    lst = monitor.attach(spark)
    try:
        q = (
            observed.writeStream.queryName(qname)
            .format("noop")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # progress events are delivered asynchronously after termination
        deadline = time.time() + 30
        while time.time() < deadline:
            got = [
                m
                for m in lst.progress
                if m["query"] == qname and m["observed"].get("intake", {}).get("n")
            ]
            if len(got) >= 3:
                break
            time.sleep(0.1)
        rows = [
            (
                int(m["batch_id"]),
                int(m["observed"]["intake"]["n"]),
                int(m["observed"]["intake"]["value_q_sum"]),
                int(m["observed"]["intake"]["max_us"]),
            )
            for m in got
        ]
    finally:
        monitor.detach(spark, lst)
    return spark.createDataFrame(
        rows, "batch_id long, n long, value_q_sum long, max_us long"
    )


@register(
    "streaming_late_drop_audit",
    f"""
    WITH {_mb_cte(late_every=23)},
    per AS (SELECT arrival AS batch_id, count(*) AS input_rows FROM placed GROUP BY 1),
    drops AS (
      SELECT count(*) FILTER (
        WHERE is_late
          AND epoch_us(time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes') // 1000
              <= wm1
      ) AS d2
      FROM placed, wm
    )
    SELECT CAST(b.batch_id AS BIGINT) AS batch_id,
           CAST(coalesce(p.input_rows, 0) AS BIGINT) AS input_rows,
           CAST(CASE WHEN b.batch_id = 2 THEN d.d2 ELSE 0 END AS BIGINT) AS dropped
    FROM (VALUES (0), (1), (2), (3)) b(batch_id)
    LEFT JOIN per p USING (batch_id), drops d
    """,
)
def streaming_late_drop_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST10 made OBSERVABLE: the per-batch numRowsDroppedByWatermark counter
    — the ops signal that tells a production pipeline it is silently losing
    late data (the thing Flink surfaces as a side-output metric). The source
    relocates every 23rd chunk-0 row into the LAST file; when they arrive in
    batch 2 the governing watermark (wm after batch 1) has passed their
    10-minute windows' ends, so the stateful operator drops them pre-state
    and reports the count in its progress. The oracle replays the drop count
    from the chunk ladder: late rows whose window end <= wm1 — the same
    closure model every mb entry's emission schedule is proven by, here
    checked against the ENGINE'S OWN drop accounting rather than the output
    rows. Telemetry path is driver-side O(batches)."""
    import time

    from gmall_spark.streaming import monitor
    from gmall_spark.streaming.multibatch import WATERMARK, stream_event_chunks

    src = stream_event_chunks(spark, sf_dir, 3, late_every=23)
    agg = (
        src.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    qname = _name("late_drop")
    lst = monitor.attach(spark)
    try:
        q = (
            agg.writeStream.queryName(qname)
            .format("noop")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        deadline = time.time() + 30
        got: dict[int, tuple[int, int]] = {}
        while time.time() < deadline:
            for m in lst.progress:
                if m["query"] == qname:
                    got[int(m["batch_id"])] = (
                        int(m["input_rows"]),
                        int(m["dropped_by_watermark"]),
                    )
            if set(got) >= {0, 1, 2, 3}:
                break
            time.sleep(0.1)
    finally:
        monitor.detach(spark, lst)
    rows = [(b, *got[b]) for b in sorted(got)]
    return spark.createDataFrame(rows, "batch_id long, input_rows long, dropped long")


@register(
    "streaming_scd2_enrich",
    """
    WITH v AS (
      SELECT user_id, ts AS vf,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS vt,
             event_id % 3 AS tier
      FROM events WHERE event_type = 'signup'
    ),
    s AS (SELECT * FROM events WHERE event_type <> 'signup')
    SELECT s.event_id, s.user_id, s.event_type,
           CAST(coalesce(v.tier, -1) AS BIGINT) AS tier
    FROM s LEFT JOIN v
      ON s.user_id = v.user_id AND s.ts >= v.vf AND (v.vt IS NULL OR s.ts < v.vt)
    """,
)
def streaming_scd2_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension enrichment on a LIVE stream — the stream-
    static join against an SCD2-versioned dim (scd2_dim's query side,
    streaming): each in-flight event picks the dim version whose
    [valid_from, valid_to) span covers its EVENT TIME, not the version
    current at processing time — the difference between "what tier was this
    user when they clicked" and the silently-wrong latest-version join.
    Versions derive from the user's own signup events (valid_to = next
    signup via lead()); events before the first signup keep tier -1 via the
    left join. Scale shape: stream-static joins are STATELESS — each micro-
    batch hash-joins against the (re-broadcast) dim with the range residual
    as a post-join filter, no watermark, no state store; the dim is
    dim-sized, the stream never shuffles. Oracle: the identical SQL join —
    per-batch independence means the streaming result IS the batch result."""
    from gmall_spark.sources import load_table
    from pyspark.sql import Window

    ev_static = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = (
        ev_static.filter(F.col("event_type") == "signup")
        .select(
            "user_id",
            "event_id",
            F.col("ts").alias("vf"),
            (F.col("event_id") % 3).alias("tier"),
        )
        .withColumn("vt", F.lead("vf").over(w.orderBy("vf", "event_id")))
        .drop("event_id")
    )
    stream = stream_events(spark, sf_dir).filter(F.col("event_type") != "signup")
    joined = stream.join(
        F.broadcast(dim),
        (stream["user_id"] == dim["user_id"])
        & (stream["ts"] >= dim["vf"])
        & (dim["vt"].isNull() | (stream["ts"] < dim["vt"])),
        "left",
    ).select(
        stream["event_id"],
        stream["user_id"],
        stream["event_type"],
        F.coalesce(dim["tier"], F.lit(-1)).cast("long").alias("tier"),
    )
    # executor-side parquet spool, not the memory sink: the output is
    # O(input) rows (every non-signup event), and the memory sink would haul
    # all of them through the driver — 21.8s at sf10 vs 8.2s spooled
    from gmall_spark.streaming.multibatch import run_collect_batches

    return run_collect_batches(joined).drop("emit_batch")


@register(
    "streaming_chained_stateful",
    f"""
    WITH wm AS (
      SELECT least(
        (SELECT epoch_us(max(ts)) // 1000 FROM events WHERE event_type = 'view'),
        (SELECT epoch_us(max(ts)) // 1000 FROM events WHERE event_type = 'purchase')
      ) - 2000 AS wm_ms
    ),
    m AS (
      SELECT v.ts AS vts
      FROM events v JOIN events b
        ON v.user_id = b.user_id
       AND v.event_type = 'view' AND b.event_type = 'purchase'
       AND b.ts >= v.ts AND b.ts <= v.ts + INTERVAL '120 minutes'
    ),
    w AS (
      SELECT time_bucket(INTERVAL '10 minutes', vts) AS ws,
             CAST(count(*) AS BIGINT) AS n
      FROM m GROUP BY 1
    )
    SELECT strftime(ws, '{_DUCK_FMT}') AS stt,
           strftime(ws + INTERVAL '10 minutes', '{_DUCK_FMT}') AS edt, n
    FROM w, wm
    WHERE epoch_us(ws + INTERVAL '10 minutes') // 1000 <= wm_ms - 7200000
    """,
)
def streaming_chained_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO stateful operators in ONE streaming query — the stream-stream
    interval join (view ⋈ purchase within 2h) feeding a tumbling windowed
    count, the multi-stateful chaining Spark 3.x forbade and Spark 4 plans
    with per-operator watermark simulation (SPARK-42376). The oracle pins
    the part nobody guesses right: the window does NOT close at the plain
    watermark — the join DELAYS its output watermark by the join's upper
    bound (a matched view row can keep arriving in join output until the
    purchase-side watermark passes vts + 2h), so closure is
    min(view_wm, purchase_wm) − 2h, verified here against synthetic
    boundary micro-probes (a window whose end lies between the delayed and
    the plain watermark provably does NOT emit). State stays bounded at
    both operators: join state evicts by the interval, window state by the
    delayed watermark — the composed pipeline a DWM→DWS hop runs as one
    query instead of two Kafka-separated jobs."""
    views = stream_events(spark, sf_dir).filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("vts")
    )
    buys = stream_events(spark, sf_dir).filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("bts")
    )
    j = interval_join_stream(views, buys, "user_id", "vts", "bts", "0 seconds", "120 minutes")
    agg = j.groupBy(F.window("vts", "10 minutes")).agg(F.count(F.lit(1)).alias("n"))
    out = run_to_memory(agg, _name("chained"))
    return out.select(
        F.date_format("window.start", TS_FMT).alias("stt"),
        F.date_format("window.end", TS_FMT).alias("edt"),
        F.col("n").cast("long"),
    )


@register(
    "streaming_dynamic_session",
    f"""
    WITH wm AS {_WM_MS},
    g AS (
      SELECT user_id, ts, event_id,
             epoch_us(ts) + CASE WHEN event_type = 'purchase'
                                 THEN 1800000000 ELSE 600000000 END AS end_us
      FROM events
    ),
    m AS (
      SELECT *, max(end_us) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      FROM g
    ),
    s AS (
      SELECT *, sum(CASE WHEN prev_end IS NULL OR epoch_us(ts) >= prev_end
                         THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS seq
      FROM m
    ),
    agg AS (
      SELECT user_id, seq, min(ts) AS s_start, max(end_us) AS s_end_us,
             CAST(count(*) AS BIGINT) AS n_events
      FROM s GROUP BY 1, 2
    )
    SELECT user_id, n_events,
           strftime(s_start, '{_DUCK_FMT}') AS session_start,
           strftime(make_timestamp(s_end_us), '{_DUCK_FMT}') AS session_end
    FROM agg, wm
    WHERE s_end_us // 1000 <= wm.wm_ms
    """,
)
def streaming_dynamic_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC-gap session windows — the per-event gap expression
    (purchases hold a session open 30 minutes, everything else 10) that
    models 'intent-dependent idle timeout'; fixed-gap sessionization
    (streaming_session_stats) can't express it. Semantics the oracle
    replays: each event extends its session to max(end, ts + gap(event)) —
    so a new session starts iff ts >= the running max end of everything
    before it (cummax, NOT lag: a long-gap purchase can bridge over a
    short-gap view that arrived after it). Emission: a session closes when
    the watermark passes its (max ts+gap) end. State per open session is
    one (start, end, count) triple regardless of gap rule complexity."""
    src = stream_events(spark, sf_dir)
    gap = F.when(F.col("event_type") == "purchase", F.lit("30 minutes")).otherwise(
        F.lit("10 minutes")
    )
    out = (
        src.withWatermark("ts", "2 seconds")
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    res = run_to_memory(out, _name("dyn_sess"))
    return res.select(
        "user_id",
        "n_events",
        F.date_format("session_window.start", TS_FMT).alias("session_start"),
        F.date_format("session_window.end", TS_FMT).alias("session_end"),
    )

"""Query registry — the warehouse queries (SURVEY §2) with DuckDB oracles.

Each entry couples a Spark implementation (built from gmall_spark.operators)
with the ANSI-SQL oracle the driver runs in DuckDB at sf0.01. Engine-parity
rules that keep the value-hash stable:

- money/sums: cast to DECIMAL **before** aggregating (exact, engine-portable;
  DuckDB sum(BIGINT) returns HUGEINT → always CAST the oracle back to BIGINT);
- final-output decimals: cast to DOUBLE on BOTH sides — Spark's toPandas()
  yields Decimal objects while DuckDB yields float64, which defeats the
  driver's value-hash even when values are equal. Both engines convert the
  same exact decimal, so the doubles are bit-identical. Decimal math stays
  internal; only the last projection widens;
- temporal outputs: format to 'yyyy-MM-dd HH:mm:ss' strings (session TZ UTC);
- no raw float aggregates in outputs; ratios use integer arithmetic;
- every computed column aliased identically on both sides.

The domain mapping from the reference onto the driver testdata:
  behavior log  → events      (user_id ~ mid, event_type ~ page routing)
  order_info    → orders      order_detail → lineitem
  dims          → customer / nation / region / part / supplier
  payment⋈order → purchase-events ⋈ prior view-events (same interval-join op)
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_spark.functions import money, window_bounds
from gmall_spark.operators.joins import dim_enrich, interval_join
from gmall_spark.operators.parse import decode_cdc, drop_cdc_deletes
from gmall_spark.operators.routing import route_by_config
from gmall_spark.operators.stateful import dedup_daily, detect_bounce, first_touch
from gmall_spark.operators.windows import tumbling_stats
from gmall_spark.schemas import TABLE_PROCESS_SCHEMA
from gmall_spark.session import conf_scope
from gmall_spark.session import scratch_dir as _scratch
from gmall_spark.session import spool_dir as _spool_dir
from gmall_spark.sources import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

TS_FMT = "yyyy-MM-dd HH:mm:ss"
_DUCK_FMT = "%Y-%m-%d %H:%M:%S"


def _revenue():
    """Exact decimal revenue: cast 2-decimal factors to decimal BEFORE
    multiplying — double→decimal casts of *products* round differently across
    engines; casts of the factors themselves are unambiguous."""
    return F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# A1 — visitor stats: tumbling event-time window + keyed multi-agg
# (VisitorStatsApp.java:132-165; 10s windows there, 10min here so sf0.01's
# 30-day span yields dense windows). Exact uv via countDistinct (A2 pattern).
# ---------------------------------------------------------------------------
@register(
    "visitor_stats",
    f"""
    SELECT strftime(time_bucket(INTERVAL '10 minutes', ts), '{_DUCK_FMT}') AS stt,
           strftime(time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes', '{_DUCK_FMT}') AS edt,
           event_type,
           count(*) AS pv_ct,
           count(DISTINCT user_id) AS uv_ct,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS dur_sum
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def visitor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return tumbling_stats(
        ev,
        "ts",
        "10 minutes",
        ["event_type"],
        [
            F.count(F.lit(1)).alias("pv_ct"),
            F.countDistinct("user_id").alias("uv_ct"),
            F.sum(money("value")).cast("decimal(18,2)").cast("double").alias("dur_sum"),
        ],
    )


# ---------------------------------------------------------------------------
# ST2 — daily unique-visitor dedup (UniqueVisitApp.java:45-87): first event
# per (user, calendar day); batch form = row_number over (user, day).
# ---------------------------------------------------------------------------
@register(
    "unique_visit",
    f"""
    SELECT user_id,
           strftime(CAST(ts AS DATE), '%Y-%m-%d') AS dt,
           event_id AS first_event_id,
           strftime(ts, '{_DUCK_FMT}') AS first_ts
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                   ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def unique_visit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return dedup_daily(ev, "user_id", "ts", "event_id").select(
        "user_id",
        F.date_format("dt", "yyyy-MM-dd").alias("dt"),
        F.col("event_id").alias("first_event_id"),
        F.date_format("ts", TS_FMT).alias("first_ts"),
    )


# ---------------------------------------------------------------------------
# ST1 — new/old-visitor repair (BaseLogApp.java:69-94): is_new stays 1 only on
# the key's first-ever event; batch form = first-touch flag.
# ---------------------------------------------------------------------------
@register(
    "is_new_repair",
    """
    SELECT event_id, user_id,
           CAST(CASE WHEN row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) = 1
                THEN 1 ELSE 0 END AS BIGINT) AS is_new
    FROM events
    """,
)
def is_new_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return first_touch(ev, "user_id", "ts", "event_id").select(
        "event_id", "user_id", F.col("is_first").cast("long").alias("is_new")
    )


# ---------------------------------------------------------------------------
# ST3 — CEP bounce detection, batch lead() rewrite (UserJumpDetailApp.java:70-120):
# entry event whose next event is another entry (match) or absent/late (timeout).
# 'view' events stand in for session-entry pages; 10 min timeout.
# ---------------------------------------------------------------------------
@register(
    "bounce_detect",
    f"""
    WITH o AS (
      SELECT event_id, user_id, ts, event_type,
             lead(ts) OVER w AS nxt_ts,
             lead(event_type = 'view') OVER w AS nxt_entry
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_id, user_id, strftime(ts, '{_DUCK_FMT}') AS ts_str,
           CASE WHEN nxt_ts IS NULL OR nxt_ts > ts + INTERVAL '10 minutes' THEN 'timeout'
                WHEN nxt_entry THEN 'match' END AS bounce_reason
    FROM o
    WHERE event_type = 'view'
      AND (nxt_ts IS NULL OR nxt_ts > ts + INTERVAL '10 minutes' OR nxt_entry)
    """,
)
def bounce_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = detect_bounce(
        ev, "user_id", "ts", "event_id", F.col("event_type") == "view", "10 minutes"
    )
    return out.select(
        "event_id", "user_id", F.date_format("ts", TS_FMT).alias("ts_str"), "bounce_reason"
    )


# ---------------------------------------------------------------------------
# J1 + J3 — order-wide: interval join (order ⋈ detail, OrderWideApp.java:96-105,
# ±window on event time ↦ shipdate within 30 days of orderdate) then star
# enrichment via broadcast dim joins replacing the async Phoenix/Redis lookups
# (OrderWideApp.java:112-225).
# ---------------------------------------------------------------------------
@register(
    "order_wide",
    f"""
    SELECT o.o_orderkey, l.l_linenumber, l.l_partkey,
           o.o_custkey, c.c_name, n.n_name, r.r_name,
           strftime(o.o_orderdate, '%Y-%m-%d') AS create_date,
           CAST(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
    FROM orders o
    JOIN lineitem l
      ON o.o_orderkey = l.l_orderkey
     AND l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate <= o.o_orderdate + INTERVAL '30 days'
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def order_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = interval_join(
        orders.withColumnRenamed("o_orderkey", "okey"),
        lineitem.withColumnRenamed("l_orderkey", "okey"),
        on="okey",
        left_ts="o_orderdate",
        right_ts="l_shipdate",
        lower="0 days",
        upper="30 days",
    ).select(
        F.col("l.okey").alias("o_orderkey"),
        "l_linenumber",
        "l_partkey",
        "o_custkey",
        "o_orderdate",
        "l_extendedprice",
        "l_discount",
    )
    wide = dim_enrich(
        joined,
        [
            (customer, "o_custkey", "c_custkey"),
            (nation, "c_nationkey", "n_nationkey"),
            (region, "n_regionkey", "r_regionkey"),
        ],
    )
    return wide.select(
        "o_orderkey",
        "l_linenumber",
        "l_partkey",
        "o_custkey",
        "c_name",
        "n_name",
        "r_name",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("create_date"),
        _revenue().cast("decimal(18,4)").cast("double").alias("revenue"),
    )


# ---------------------------------------------------------------------------
# J2 — payment-wide analog: purchase ⋈ preceding view by the same user within
# [0, 15 min] (PaymentWideApp.java:69-76 with the intended -15min window,
# SURVEY §6a.2). Same interval_join operator, negative-lag orientation.
# ---------------------------------------------------------------------------
@register(
    "payment_wide",
    f"""
    SELECT v.event_id AS view_id, p.event_id AS purchase_id, p.user_id,
           strftime(v.ts, '{_DUCK_FMT}') AS view_ts,
           strftime(p.ts, '{_DUCK_FMT}') AS pay_ts,
           CAST(CAST(p.value AS DECIMAL(18,2)) AS DOUBLE) AS amount
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL '15 minutes'
    """,
)
def payment_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view")
    purchases = ev.filter(F.col("event_type") == "purchase")
    joined = interval_join(
        views,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        lower="0 minutes",
        upper="15 minutes",
    )
    return joined.select(
        F.col("l.event_id").alias("view_id"),
        F.col("r.event_id").alias("purchase_id"),
        F.col("l.user_id").alias("user_id"),
        F.date_format(F.col("l.ts"), TS_FMT).alias("view_ts"),
        F.date_format(F.col("r.ts"), TS_FMT).alias("pay_ts"),
        money(F.col("r.value")).cast("double").alias("amount"),
    )


# ---------------------------------------------------------------------------
# A2 — product stats: per-sku aggregate with exact distinct order count
# (ProductStatsApp.java:243-284; countDistinct replaces the HashSet
# accumulator — and fixes the paid-set copy-paste bug, SURVEY §6a.1) +
# broadcast part dim.
# ---------------------------------------------------------------------------
@register(
    "product_stats",
    """
    SELECT l.l_partkey AS sku_id, p.p_name AS sku_name, p.p_brand AS tm_name,
           CAST(count(*) AS BIGINT) AS item_ct,
           CAST(count(DISTINCT l.l_orderkey) AS BIGINT) AS order_ct,
           CAST(CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sku_num,
           CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DECIMAL(18,4)) AS DOUBLE) AS order_amount
    FROM lineitem l
    LEFT JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1, 2, 3
    """,
)
def product_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    enriched = dim_enrich(lineitem, [(part, "l_partkey", "p_partkey")])
    return enriched.groupBy(
        F.col("l_partkey").alias("sku_id"),
        F.col("p_name").alias("sku_name"),
        F.col("p_brand").alias("tm_name"),
    ).agg(
        F.count(F.lit(1)).alias("item_ct"),
        F.countDistinct("l_orderkey").alias("order_ct"),
        F.sum(money("l_quantity")).cast("decimal(18,2)").cast("double").alias("sku_num"),
        F.sum(_revenue()).cast("decimal(18,4)").cast("double").alias("order_amount"),
    )


# ---------------------------------------------------------------------------
# F1 + A3 — keyword stats: tokenizer UDTF as split+explode (SplitFunction.java:9-18,
# KeywordStatsApp.java:38-59). Whitespace tokenizer (pluggable; jieba-style
# segmentation would slot into gmall_spark.extras.text.tokenize).
# ---------------------------------------------------------------------------
@register(
    "keyword_stats",
    """
    SELECT word AS keyword, lang, CAST(count(*) AS BIGINT) AS ct, 'SEARCH' AS source
    FROM (
      SELECT lang, unnest(string_split(trim(text), ' ')) AS word FROM documents
    ) WHERE word <> ''
    GROUP BY 1, 2
    """,
)
def keyword_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", F.explode(F.split(F.trim("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy(F.col("word").alias("keyword"), "lang")
        .agg(F.count(F.lit(1)).alias("ct"))
        .withColumn("source", F.lit("SEARCH"))
    )


# ---------------------------------------------------------------------------
# A4 — province stats: sum + exact count(distinct) per region dim
# (ProvinceStatsSqlApp.java:50-68), nation standing in for province.
# ---------------------------------------------------------------------------
@register(
    "province_stats",
    """
    SELECT n.n_nationkey AS province_id, n.n_name AS province_name,
           CAST(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS order_amount,
           CAST(count(DISTINCT o.o_orderkey) AS BIGINT) AS order_count
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1, 2
    """,
)
def province_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    enriched = dim_enrich(
        orders,
        [(customer, "o_custkey", "c_custkey"), (nation, "c_nationkey", "n_nationkey")],
        how="inner",
    )
    return enriched.groupBy(
        F.col("n_nationkey").alias("province_id"), F.col("n_name").alias("province_name")
    ).agg(
        F.sum(money("o_totalprice")).cast("decimal(18,2)").cast("double").alias("order_amount"),
        F.countDistinct("o_orderkey").alias("order_count"),
    )


# ---------------------------------------------------------------------------
# Relational-core classics (SURVEY §7.2 step 2): TPC-H-Q1-style pricing
# summary — the canonical scan→filter(pushdown)→partial/final agg shape.
# ---------------------------------------------------------------------------
@register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_base_price,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_disc_price,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DECIMAL(18,6)) AS DOUBLE) AS sum_charge,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(money("l_quantity")).cast("decimal(18,2)").cast("double").alias("sum_qty"),
            F.sum(money("l_extendedprice")).cast("decimal(18,2)").cast("double").alias("sum_base_price"),
            F.sum(_revenue()).cast("decimal(18,4)").cast("double").alias("sum_disc_price"),
            F.sum(_revenue() * (F.lit(1) + F.col("l_tax").cast("decimal(4,2)")))
            .cast("decimal(18,6)")
            .cast("double")
            .alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Top-K per group (window function; the DWS "hot products" shape).
# ---------------------------------------------------------------------------
@register(
    "top_parts_per_brand",
    """
    SELECT p_brand, sku_id, CAST(revenue AS DOUBLE) AS revenue, rnk FROM (
      SELECT p.p_brand, l.l_partkey AS sku_id,
             CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DECIMAL(18,4)) AS revenue,
             row_number() OVER (PARTITION BY p.p_brand
                                ORDER BY sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) DESC,
                                         l.l_partkey) AS rnk
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand, l.l_partkey
    ) WHERE rnk <= 5
    """,
)
def top_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rev = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand", F.col("l_partkey").alias("sku_id"))
        .agg(F.sum(_revenue()).cast("decimal(18,4)").alias("revenue"))
    )
    w = Window.partitionBy("p_brand").orderBy(F.col("revenue").desc(), F.col("sku_id").asc())
    return (
        rev.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 5)
        # rank on the exact decimal, emit double (driver-hashable) — same order
        .withColumn("revenue", F.col("revenue").cast("double"))
    )


# ---------------------------------------------------------------------------
# T1 — JSON parse with dirty-data side output over events.props
# (BaseLogApp.java:45-58). Main path extracts $.k; the dirty branch is
# exercised in tests (testdata props are all well-formed).
# ---------------------------------------------------------------------------
@register(
    "props_extract",
    """
    SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k_val
    FROM events
    WHERE json_extract(props, '$.k') IS NOT NULL
    """,
)
def props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id", F.get_json_object("props", "$.k").cast("long").alias("k_val")
    ).filter(F.col("k_val").isNotNull())


# ---------------------------------------------------------------------------
# T8 + T3 + J4/T7/K2 — the BaseDbApp routing pipeline end-to-end: build a CDC
# envelope stream from orders, decode it, drop deletes, broadcast-join the
# table_process config, prune columns per rule, tag the dynamic sink topic
# (BaseDbApp.java:48-90, TableProcessFunction.java:46-166).
# ---------------------------------------------------------------------------
_CDC_STATUS_TO_OP = "CASE o_orderstatus WHEN 'O' THEN 'insert' WHEN 'F' THEN 'update' ELSE 'delete' END"


@register(
    "cdc_route",
    f"""
    SELECT CAST(o_orderkey AS VARCHAR) AS id_val,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS total_val,
           CASE WHEN {_CDC_STATUS_TO_OP} = 'insert' THEN o_orderstatus END AS status_val,
           {_CDC_STATUS_TO_OP} AS op,
           CASE WHEN {_CDC_STATUS_TO_OP} = 'insert' THEN 'dwd_order_insert'
                ELSE 'dwd_order_update' END AS sink_table
    FROM orders
    WHERE {_CDC_STATUS_TO_OP} <> 'delete'
    """,
)
def cdc_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # Synthesize the Debezium-shaped envelope as a JSON string column, then run
    # the real decode path (from_json over CDC_ENVELOPE_SCHEMA).
    envelope = orders.select(
        F.to_json(
            F.struct(
                F.lit("gmall").alias("database"),
                F.lit("orders").alias("tableName"),
                F.create_map(
                    F.lit("id"),
                    F.col("o_orderkey").cast("string"),
                    F.lit("total"),
                    F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
                    F.lit("status"),
                    F.col("o_orderstatus"),
                ).alias("data"),
                F.expr(_CDC_STATUS_TO_OP).alias("type"),
            )
        ).alias("value")
    )
    decoded = drop_cdc_deletes(decode_cdc(envelope))
    config = spark.createDataFrame(
        [
            ("orders", "insert", "kafka", "dwd_order_insert", "id,total,status", "id", None),
            ("orders", "update", "kafka", "dwd_order_update", "id,total", "id", None),
        ],
        TABLE_PROCESS_SCHEMA,
    )
    routed = route_by_config(decoded, config)
    return routed.select(
        F.element_at("data", "id").alias("id_val"),
        F.element_at("data", "total").alias("total_val"),
        F.element_at("data", "status").alias("status_val"),
        F.col("type").alias("op"),
        "sink_table",
    )


# ---------------------------------------------------------------------------
# U1 — union of heterogeneous streams then aggregate (VisitorStatsApp.java:119:
# "union is a fullJoin on the dimensions"): three filtered projections with
# different column sets, unionByName(allowMissingColumns), daily rollup.
# ---------------------------------------------------------------------------
@register(
    "union_stats",
    """
    SELECT dt,
           CAST(sum(pv) AS BIGINT) AS pv_ct,
           CAST(sum(clk) AS BIGINT) AS click_ct,
           CAST(sum(buy) AS BIGINT) AS buy_ct,
           CAST(CAST(sum(amount) AS DECIMAL(18,2)) AS DOUBLE) AS buy_amount
    FROM (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS dt, 1 AS pv, 0 AS clk, 0 AS buy,
             CAST(0 AS DECIMAL(18,2)) AS amount
      FROM events WHERE event_type = 'view'
      UNION ALL
      SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d'), 0, 1, 0, CAST(0 AS DECIMAL(18,2))
      FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d'), 0, 0, 1, CAST(value AS DECIMAL(18,2))
      FROM events WHERE event_type = 'purchase'
    )
    GROUP BY dt
    """,
)
def union_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    dt = F.date_format("ts", "yyyy-MM-dd").alias("dt")
    zero_amt = F.lit(0).cast("decimal(18,2)")
    pv = ev.filter(F.col("event_type") == "view").select(
        dt, F.lit(1).alias("pv"), F.lit(0).alias("clk"), F.lit(0).alias("buy"),
        zero_amt.alias("amount"),
    )
    clk = ev.filter(F.col("event_type") == "click").select(
        dt, F.lit(0).alias("pv"), F.lit(1).alias("clk"), F.lit(0).alias("buy"),
        zero_amt.alias("amount"),
    )
    buy = ev.filter(F.col("event_type") == "purchase").select(
        dt, F.lit(0).alias("pv"), F.lit(0).alias("clk"), F.lit(1).alias("buy"),
        money("value").alias("amount"),
    )
    unioned = pv.unionByName(clk).unionByName(buy)
    return unioned.groupBy("dt").agg(
        F.sum("pv").alias("pv_ct"),
        F.sum("clk").alias("click_ct"),
        F.sum("buy").alias("buy_ct"),
        F.sum("amount").cast("decimal(18,2)").cast("double").alias("buy_amount"),
    )


# ---------------------------------------------------------------------------
# T5 — flatMap: one purchase event → exploded display exposures
# (ProductStatsApp.java:78-118: click stream + one event per displays[] entry).
# Displays are synthesized exactly like apps/fixtures.py so the oracle can
# reproduce them as a UNION ALL of the two positions.
# ---------------------------------------------------------------------------
@register(
    "display_explode",
    """
    SELECT item, CAST(count(*) AS BIGINT) AS exposure_ct
    FROM (
      SELECT 'sku_' || (CAST(json_extract(props, '$.k') AS BIGINT) % 100) AS item
      FROM events WHERE event_type = 'purchase'
      UNION ALL
      SELECT 'sku_' || ((CAST(json_extract(props, '$.k') AS BIGINT) + 1) % 100) AS item
      FROM events WHERE event_type = 'purchase'
    )
    GROUP BY item
    """,
)
def display_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    displays = F.array(
        F.concat(F.lit("sku_"), (k % 100).cast("string")),
        F.concat(F.lit("sku_"), ((k + 1) % 100).cast("string")),
    )
    return (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.explode(displays).alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("exposure_ct"))
    )


# ---------------------------------------------------------------------------
# Beyond-reference relational surface: multi-dim CUBE (the DWS "all dimension
# combinations" rollup the reference approximates with FULL OUTER semantics,
# VisitorStatsApp.java:39-41 — Spark computes every grouping set in one pass).
# ---------------------------------------------------------------------------
@register(
    "cube_stats",
    """
    SELECT n.n_name AS nation, o.o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS order_ct,
           CAST(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS amount
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY CUBE (n.n_name, o.o_orderstatus)
    """,
)
def cube_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    j = orders.join(customer, orders.o_custkey == customer.c_custkey).join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    )
    return j.cube(
        F.col("n_name").alias("nation"), F.col("o_orderstatus").alias("status")
    ).agg(
        F.count(F.lit(1)).alias("order_ct"),
        F.sum(money("o_totalprice")).cast("decimal(18,2)").cast("double").alias("amount"),
    )


# ---------------------------------------------------------------------------
# Pivot (dims → columns): daily event-type matrix. Spark .pivot with pinned
# values == conditional aggregation in the oracle.
# ---------------------------------------------------------------------------
@register(
    "pivot_stats",
    """
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS dt,
           CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view,
           CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
           CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
           CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
           CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error
    FROM events GROUP BY 1
    """,
)
def pivot_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = (
        ev.withColumn("dt", F.date_format("ts", "yyyy-MM-dd"))
        .groupBy("dt")
        .pivot("event_type", ["view", "click", "purchase", "signup", "error"])
        .agg(F.count(F.lit(1)))
    )
    # pivot leaves null for absent cells; the oracle's FILTER count gives 0
    for c in ["view", "click", "purchase", "signup", "error"]:
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit(0)))
    return out


# ---------------------------------------------------------------------------
# J5 — outer-join family (TestFlinkSQLJoin.java:17-44 semantics demos):
# full outer join of per-day view vs purchase users.
# ---------------------------------------------------------------------------
@register(
    "outer_join_daily",
    """
    WITH v AS (
      SELECT user_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS dt, count(*) AS views
      FROM events WHERE event_type = 'view' GROUP BY 1, 2
    ),
    p AS (
      SELECT user_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS dt, count(*) AS buys
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    )
    SELECT coalesce(v.user_id, p.user_id) AS user_id,
           coalesce(v.dt, p.dt) AS dt,
           CAST(coalesce(v.views, 0) AS BIGINT) AS views,
           CAST(coalesce(p.buys, 0) AS BIGINT) AS buys
    FROM v FULL OUTER JOIN p ON v.user_id = p.user_id AND v.dt = p.dt
    """,
)
def outer_join_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    dt = F.date_format("ts", "yyyy-MM-dd").alias("dt")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", dt)
        .agg(F.count(F.lit(1)).alias("views"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", dt)
        .agg(F.count(F.lit(1)).alias("buys"))
    )
    j = v.alias("v").join(
        p.alias("p"),
        (F.col("v.user_id") == F.col("p.user_id")) & (F.col("v.dt") == F.col("p.dt")),
        "full_outer",
    )
    return j.select(
        F.coalesce(F.col("v.user_id"), F.col("p.user_id")).alias("user_id"),
        F.coalesce(F.col("v.dt"), F.col("p.dt")).alias("dt"),
        F.coalesce(F.col("views"), F.lit(0)).alias("views"),
        F.coalesce(F.col("buys"), F.lit(0)).alias("buys"),
    )


# ---------------------------------------------------------------------------
# Semi/anti joins (EXISTS / NOT EXISTS — the Spark-first way to express the
# reference's "has matching dim row?" checks without materializing the join).
# ---------------------------------------------------------------------------
@register(
    "semi_anti_orders",
    """
    SELECT o_orderkey, 'with_lines' AS tag FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
    UNION ALL
    SELECT o_orderkey, 'no_lines' AS tag FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
    """,
)
def semi_anti_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    with_lines = orders.join(
        lineitem, orders.o_orderkey == lineitem.l_orderkey, "left_semi"
    ).select("o_orderkey", F.lit("with_lines").alias("tag"))
    no_lines = orders.join(
        lineitem, orders.o_orderkey == lineitem.l_orderkey, "left_anti"
    ).select("o_orderkey", F.lit("no_lines").alias("tag"))
    return with_lines.unionByName(no_lines)


# ---------------------------------------------------------------------------
# Sessionization (gap-based): the lag+cumsum rewrite of session windows —
# the batch twin of streaming session_window(ts, gap).
# ---------------------------------------------------------------------------
@register(
    "sessionize",
    f"""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CAST(floor(date_part('epoch', ts)) AS BIGINT) AS sec,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR CAST(floor(date_part('epoch', ts)) AS BIGINT)
                          - CAST(floor(date_part('epoch', lag(ts) OVER w)) AS BIGINT) > 1800
                  THEN 1 ELSE 0 END AS is_new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, sec, event_id,
             sum(is_new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM marked
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           strftime(min(ts), '{_DUCK_FMT}') AS session_start,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(sec) - min(sec) AS BIGINT) AS duration_sec
    FROM sess GROUP BY 1, 2
    """,
)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    marked = ev.withColumn(
        "is_new_session",
        F.when(gap.isNull() | (gap > 30 * 60), F.lit(1)).otherwise(F.lit(0)),
    )
    sess = marked.withColumn(
        "session_seq",
        F.sum("is_new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.date_format(F.min("ts"), TS_FMT).alias("session_start"),
        F.count(F.lit(1)).alias("n_events"),
        (F.max(F.col("ts").cast("long")) - F.min(F.col("ts").cast("long"))).alias(
            "duration_sec"
        ),
    )


# ---------------------------------------------------------------------------
# K4 batch analog — CDC upsert / MERGE emulation: apply an update stream onto
# a snapshot, latest-wins per key (DimSinkFunction.java:28-69 upserts dims;
# without Delta, MERGE = union + row_number dedup, SURVEY §7.3 / guide CDC
# pattern). Version stream synthesized deterministically from lineitem.
# ---------------------------------------------------------------------------
@register(
    "cdc_upsert",
    """
    WITH updates AS (
      SELECT l_orderkey AS o_orderkey,
             CAST(NULL AS VARCHAR) AS o_orderstatus,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS o_totalprice,
             2 AS version
      FROM lineitem GROUP BY l_orderkey
    ),
    base AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(o_totalprice AS DECIMAL(18,2)) AS o_totalprice, 1 AS version
      FROM orders
    ),
    merged AS (
      SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY version DESC) AS rn
      FROM (SELECT * FROM base UNION ALL SELECT * FROM updates)
    )
    SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(version AS BIGINT) AS version
    FROM merged WHERE rn = 1
    """,
)
def cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    base = orders.select(
        "o_orderkey",
        "o_orderstatus",
        money("o_totalprice").alias("o_totalprice"),
        F.lit(1).alias("version"),
    )
    updates = (
        lineitem.groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(F.sum(money("l_extendedprice")).cast("decimal(18,2)").alias("o_totalprice"))
        .select(
            "o_orderkey",
            F.lit(None).cast("string").alias("o_orderstatus"),
            "o_totalprice",
            F.lit(2).alias("version"),
        )
    )
    merged = base.unionByName(updates)
    w = Window.partitionBy("o_orderkey").orderBy(F.col("version").desc())
    return (
        merged.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .withColumn("o_totalprice", F.col("o_totalprice").cast("double"))
        .withColumn("version", F.col("version").cast("long"))
    )


# ---------------------------------------------------------------------------
# Exact percentiles (verified bit-identical interpolation vs DuckDB
# quantile_cont) — the reference has no quantiles at all; large-scale DWS
# rollups need them, and at 100 TB you'd swap in approx_percentile with a
# documented error bound.
# ---------------------------------------------------------------------------
@register(
    "percentile_stats",
    """
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.5) AS median_price,
           quantile_cont(l_extendedprice, 0.9) AS p90_price,
           quantile_cont(l_extendedprice, 0.99) AS p99_price
    FROM lineitem GROUP BY 1
    """,
)
def percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("median_price"),
        F.expr("percentile(l_extendedprice, 0.9)").alias("p90_price"),
        F.expr("percentile(l_extendedprice, 0.99)").alias("p99_price"),
    )


# ---------------------------------------------------------------------------
# TPC-H-shaped classics — the relational breadth check (scan→join→agg→top-k).
# ---------------------------------------------------------------------------
@register(
    "shipping_priority",  # TPC-H Q3 shape
    """
    SELECT l.l_orderkey,
           CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_orderpriority
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING' AND l.l_shipdate > o.o_orderdate
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    """,
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    j = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
    )
    return j.groupBy(
        "l_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        "o_orderpriority",
    ).agg(F.sum(_revenue()).cast("decimal(18,4)").cast("double").alias("revenue"))


@register(
    "local_supplier_volume",  # TPC-H Q5 shape
    """
    SELECT n.n_name, r.r_name,
           CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    """,
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    j = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return j.groupBy("n_name", "r_name").agg(
        F.sum(_revenue()).cast("decimal(18,4)").cast("double").alias("revenue")
    )


@register(
    "returned_items",  # TPC-H Q10 shape
    """
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
           CAST(count(*) AS BIGINT) AS item_ct
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    """,
)
def returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    j = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    return j.groupBy("c_custkey", "c_name", "n_name").agg(
        F.sum(_revenue()).cast("decimal(18,4)").cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("item_ct"),
    )


# ---------------------------------------------------------------------------
# The SQL-API path (ProvinceStatsSqlApp.java:36-71 builds its whole pipeline
# as SQL text over registered tables): same province rollup, expressed via
# register_views + spark.sql — Catalyst produces the identical plan either
# way; this entry keeps the SQL front door covered.
# ---------------------------------------------------------------------------
@register(
    "province_stats_sql",
    """
    SELECT n.n_nationkey AS province_id, n.n_name AS province_name,
           CAST(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS order_amount,
           CAST(count(DISTINCT o.o_orderkey) AS BIGINT) AS order_count
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1, 2
    """,
)
def province_stats_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_spark.sources import register_views

    register_views(spark, sf_dir, ("orders", "customer", "nation"))
    return spark.sql(
        """
        SELECT n.n_nationkey AS province_id, n.n_name AS province_name,
               CAST(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS order_amount,
               count(DISTINCT o.o_orderkey) AS order_count
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
        """
    )


# ---------------------------------------------------------------------------
# Collection aggregate (the Set<Long> accumulator shape, bean/ProductStats
# .java:74-83, surfaced as data): sorted distinct collection per key —
# deterministic via sort_array(collect_set), joined to a string for
# engine-portable comparison.
# ---------------------------------------------------------------------------
@register(
    "grouped_collect",
    """
    SELECT user_id,
           array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
    FROM events GROUP BY user_id
    """,
)
def grouped_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.concat_ws(",", F.sort_array(F.collect_set("event_type"))).alias("types"),
        F.countDistinct("event_type").alias("n_types"),
    )


# ---------------------------------------------------------------------------
# Window frames: running count/sum + first/last per user ordered by event
# time (the cumulative-metrics shape of DWS result consumers).
# ---------------------------------------------------------------------------
@register(
    "running_totals",
    """
    SELECT event_id, user_id,
           CAST(row_number() OVER w AS BIGINT) AS seq,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS DECIMAL(18,2)) AS DOUBLE) AS running_value,
           first_value(event_type) OVER w AS first_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    return ev.select(
        "event_id",
        "user_id",
        F.row_number().over(w).cast("long").alias("seq"),
        F.sum(money("value")).over(run).cast("decimal(18,2)").cast("double").alias("running_value"),
        F.first("event_type").over(w).alias("first_type"),
    )


# ---------------------------------------------------------------------------
# Calendar rollup: date_trunc month — the DWS daily/monthly cadence.
# ---------------------------------------------------------------------------
@register(
    "monthly_revenue",
    """
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
           o_orderpriority,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS revenue,
           CAST(count(*) AS BIGINT) AS order_ct
    FROM orders GROUP BY 1, 2
    """,
)
def monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month"),
        "o_orderpriority",
    ).agg(
        F.sum(money("o_totalprice")).cast("decimal(18,2)").cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("order_ct"),
    )


# ---------------------------------------------------------------------------
# String-function surface (§2.8): case, replace, pad, substring, length —
# engine-portable subset, exercised over part names.
# ---------------------------------------------------------------------------
@register(
    "string_funcs",
    """
    SELECT p_partkey,
           upper(p_name) AS uname,
           replace(p_name, ' ', '_') AS snake,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS padded_size,
           substr(p_brand, 7) AS brand_num,
           CAST(length(p_name) AS BIGINT) AS name_len
    FROM part
    """,
)
def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("uname"),
        F.regexp_replace("p_name", " ", "_").alias("snake"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("padded_size"),
        F.substring("p_brand", 7, 100).alias("brand_num"),
        F.length("p_name").cast("long").alias("name_len"),
    )


# ---------------------------------------------------------------------------
# THE flagship DWS rollup — ProductStatsApp end-to-end (union of 7 fact
# streams → per-sku stats with every bean field, bean/ProductStats.java:20-86,
# union at lines 225-230, agg at 243-284). Stream derivations from testdata
# (deterministic; sku domain = 0..99):
#   click   = view events            (sku = k%100)
#   display = purchase events ×2     (sku = k%100, (k+1)%100)
#   favor   = click events, k%3=0    cart = click events, k%3=1
#   order   = lineitem               (sku = l_partkey%100)
#   payment = lineitem of 'F' orders refund = lineitem of 'P' orders
#   comment = error events           (good ⇔ k%4=0, the appraise='1201' flag)
# Exact distinct order counts replace the reference's HashSet accumulators —
# including the paid-set copy-paste bug it fixes (SURVEY §6a.1).
# ---------------------------------------------------------------------------
_PS_FULL_ORACLE = """
WITH k AS (
  SELECT *, CAST(json_extract(props, '$.k') AS BIGINT) AS kv FROM events
),
facts AS (
  SELECT kv % 100 AS sku_id, 0 AS display_ct, 1 AS click_ct, 0 AS favor_ct, 0 AS cart_ct,
         CAST(0 AS DECIMAL(18,2)) AS order_sku_num, CAST(NULL AS BIGINT) AS order_id,
         CAST(NULL AS BIGINT) AS paid_order_id, CAST(NULL AS BIGINT) AS refund_order_id,
         CAST(0 AS DECIMAL(18,4)) AS order_amount, CAST(0 AS DECIMAL(18,4)) AS payment_amount,
         CAST(0 AS DECIMAL(18,4)) AS refund_amount, 0 AS comment_ct, 0 AS good_comment_ct
  FROM k WHERE event_type = 'view'
  UNION ALL
  SELECT u.sku, 1, 0, 0, 0, CAST(0 AS DECIMAL(18,2)), NULL, NULL, NULL,
         CAST(0 AS DECIMAL(18,4)), CAST(0 AS DECIMAL(18,4)), CAST(0 AS DECIMAL(18,4)), 0, 0
  FROM (
    SELECT kv % 100 AS sku FROM k WHERE event_type = 'purchase'
    UNION ALL
    SELECT (kv + 1) % 100 FROM k WHERE event_type = 'purchase'
  ) u
  UNION ALL
  SELECT kv % 100, 0, 0, 1, 0, CAST(0 AS DECIMAL(18,2)), NULL, NULL, NULL,
         CAST(0 AS DECIMAL(18,4)), CAST(0 AS DECIMAL(18,4)), CAST(0 AS DECIMAL(18,4)), 0, 0
  FROM k WHERE event_type = 'click' AND kv % 3 = 0
  UNION ALL
  SELECT kv % 100, 0, 0, 0, 1, CAST(0 AS DECIMAL(18,2)), NULL, NULL, NULL,
         CAST(0 AS DECIMAL(18,4)), CAST(0 AS DECIMAL(18,4)), CAST(0 AS DECIMAL(18,4)), 0, 0
  FROM k WHERE event_type = 'click' AND kv % 3 = 1
  UNION ALL
  SELECT l.l_partkey % 100, 0, 0, 0, 0, CAST(l.l_quantity AS DECIMAL(18,2)), l.l_orderkey,
         NULL, NULL,
         CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2))),
         CAST(0 AS DECIMAL(18,4)), CAST(0 AS DECIMAL(18,4)), 0, 0
  FROM lineitem l
  UNION ALL
  SELECT l.l_partkey % 100, 0, 0, 0, 0, CAST(0 AS DECIMAL(18,2)), NULL, l.l_orderkey, NULL,
         CAST(0 AS DECIMAL(18,4)),
         CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2))),
         CAST(0 AS DECIMAL(18,4)), 0, 0
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey AND o.o_orderstatus = 'F'
  UNION ALL
  SELECT l.l_partkey % 100, 0, 0, 0, 0, CAST(0 AS DECIMAL(18,2)), NULL, NULL, l.l_orderkey,
         CAST(0 AS DECIMAL(18,4)), CAST(0 AS DECIMAL(18,4)),
         CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2))),
         0, 0
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey AND o.o_orderstatus = 'P'
  UNION ALL
  SELECT kv % 100, 0, 0, 0, 0, CAST(0 AS DECIMAL(18,2)), NULL, NULL, NULL,
         CAST(0 AS DECIMAL(18,4)), CAST(0 AS DECIMAL(18,4)), CAST(0 AS DECIMAL(18,4)),
         1, CASE WHEN kv % 4 = 0 THEN 1 ELSE 0 END
  FROM k WHERE event_type = 'error'
)
SELECT sku_id,
       CAST(sum(display_ct) AS BIGINT) AS display_ct,
       CAST(sum(click_ct) AS BIGINT) AS click_ct,
       CAST(sum(favor_ct) AS BIGINT) AS favor_ct,
       CAST(sum(cart_ct) AS BIGINT) AS cart_ct,
       CAST(CAST(sum(order_sku_num) AS DECIMAL(18,2)) AS DOUBLE) AS order_sku_num,
       CAST(count(DISTINCT order_id) AS BIGINT) AS order_ct,
       CAST(count(DISTINCT paid_order_id) AS BIGINT) AS paid_order_ct,
       CAST(count(DISTINCT refund_order_id) AS BIGINT) AS refund_order_ct,
       CAST(CAST(sum(order_amount) AS DECIMAL(18,4)) AS DOUBLE) AS order_amount,
       CAST(CAST(sum(payment_amount) AS DECIMAL(18,4)) AS DOUBLE) AS payment_amount,
       CAST(CAST(sum(refund_amount) AS DECIMAL(18,4)) AS DOUBLE) AS refund_amount,
       CAST(sum(comment_ct) AS BIGINT) AS comment_ct,
       CAST(sum(good_comment_ct) AS BIGINT) AS good_comment_ct
FROM facts GROUP BY sku_id
"""


@register("product_stats_full", _PS_FULL_ORACLE)
def product_stats_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass formulation: ONE scan of events and ONE of lineitem
    (the naive 8-branch UNION re-scans events 4x and lineitem 3x — at 100 TB
    those are full extra passes over the biggest tables). Each source row
    explodes into its 0..n metric contributions (a struct array built from
    conditional logic), then everything reduces in one partial/final agg.
    """
    ev = load_table(spark, sf_dir, "events")
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    kv = F.get_json_object("props", "$.k").cast("long")

    FIELDS = [
        "display_ct", "click_ct", "favor_ct", "cart_ct", "order_sku_num",
        "order_id", "paid_order_id", "refund_order_id", "order_amount",
        "payment_amount", "refund_amount", "comment_ct", "good_comment_ct",
    ]
    DEFAULTS = {
        "order_sku_num": F.lit(0).cast("decimal(18,2)"),
        "order_id": F.lit(None).cast("long"),
        "paid_order_id": F.lit(None).cast("long"),
        "refund_order_id": F.lit(None).cast("long"),
        "order_amount": F.lit(0).cast("decimal(18,4)"),
        "payment_amount": F.lit(0).cast("decimal(18,4)"),
        "refund_amount": F.lit(0).cast("decimal(18,4)"),
    }

    def contrib(sku, **over):
        cols = [sku.cast("long").alias("sku_id")]
        for f in FIELDS:
            cols.append(over.get(f, DEFAULTS.get(f, F.lit(0))).alias(f))
        return F.struct(*cols)

    # events: one scan, 0..2 contributions per row by event_type
    ev_contribs = (
        F.when(F.col("event_type") == "view", F.array(contrib(kv % 100, click_ct=F.lit(1))))
        .when(
            F.col("event_type") == "purchase",
            F.array(
                contrib(kv % 100, display_ct=F.lit(1)),
                contrib((kv + 1) % 100, display_ct=F.lit(1)),
            ),
        )
        .when(
            (F.col("event_type") == "click") & (kv % 3 == 0),
            F.array(contrib(kv % 100, favor_ct=F.lit(1))),
        )
        .when(
            (F.col("event_type") == "click") & (kv % 3 == 1),
            F.array(contrib(kv % 100, cart_ct=F.lit(1))),
        )
        .when(
            F.col("event_type") == "error",
            F.array(
                contrib(
                    kv % 100,
                    comment_ct=F.lit(1),
                    good_comment_ct=F.when(kv % 4 == 0, 1).otherwise(0),
                )
            ),
        )
        .otherwise(F.array().cast("array<struct<sku_id:long,display_ct:int,click_ct:int,favor_ct:int,cart_ct:int,order_sku_num:decimal(18,2),order_id:bigint,paid_order_id:bigint,refund_order_id:bigint,order_amount:decimal(18,4),payment_amount:decimal(18,4),refund_amount:decimal(18,4),comment_ct:int,good_comment_ct:int>>"))
    )
    ev_rows = ev.select(F.explode(ev_contribs).alias("c"))

    # lineitem: one scan; order status arrives via ONE broadcast join, each
    # row emits order + (paid|refund)? contributions
    li = lineitem.join(
        F.broadcast(orders.select("o_orderkey", "o_orderstatus")),
        lineitem.l_orderkey == F.col("o_orderkey"),
        "left",
    )
    sku = F.col("l_partkey") % 100
    base_c = contrib(
        sku,
        order_sku_num=money("l_quantity"),
        order_id=F.col("l_orderkey"),
        order_amount=_revenue(),
    )
    paid_c = contrib(sku, paid_order_id=F.col("l_orderkey"), payment_amount=_revenue())
    refund_c = contrib(sku, refund_order_id=F.col("l_orderkey"), refund_amount=_revenue())
    li_contribs = (
        F.when(F.col("o_orderstatus") == "F", F.array(base_c, paid_c))
        .when(F.col("o_orderstatus") == "P", F.array(base_c, refund_c))
        .otherwise(F.array(base_c))
    )
    li_rows = li.select(F.explode(li_contribs).alias("c"))

    unioned = ev_rows.unionByName(li_rows).select("c.*")
    return unioned.groupBy("sku_id").agg(
        F.sum("display_ct").alias("display_ct"),
        F.sum("click_ct").alias("click_ct"),
        F.sum("favor_ct").alias("favor_ct"),
        F.sum("cart_ct").alias("cart_ct"),
        F.sum("order_sku_num").cast("decimal(18,2)").cast("double").alias("order_sku_num"),
        F.countDistinct("order_id").alias("order_ct"),
        F.countDistinct("paid_order_id").alias("paid_order_ct"),
        F.countDistinct("refund_order_id").alias("refund_order_ct"),
        F.sum("order_amount").cast("decimal(18,4)").cast("double").alias("order_amount"),
        F.sum("payment_amount").cast("decimal(18,4)").cast("double").alias("payment_amount"),
        F.sum("refund_amount").cast("decimal(18,4)").cast("double").alias("refund_amount"),
        F.sum("comment_ct").alias("comment_ct"),
        F.sum("good_comment_ct").alias("good_comment_ct"),
    )


# ---------------------------------------------------------------------------
# Set operations beyond UNION ALL (engine completeness; the reference stops
# at union — SURVEY §2.6): INTERSECT/EXCEPT with set semantics.
# ---------------------------------------------------------------------------
@register(
    "set_ops_users",
    """
    SELECT user_id, 'both' AS cohort FROM (
      SELECT user_id FROM events WHERE event_type = 'view'
      INTERSECT
      SELECT user_id FROM events WHERE event_type = 'purchase'
    )
    UNION ALL
    SELECT user_id, 'view_only' AS cohort FROM (
      SELECT user_id FROM events WHERE event_type = 'view'
      EXCEPT
      SELECT user_id FROM events WHERE event_type = 'purchase'
    )
    """,
)
def set_ops_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    viewers = ev.filter(F.col("event_type") == "view").select("user_id")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    both = viewers.intersect(buyers).withColumn("cohort", F.lit("both"))
    view_only = viewers.subtract(buyers).withColumn("cohort", F.lit("view_only"))
    return both.unionByName(view_only)


# ---------------------------------------------------------------------------
# argmax aggregates (min_by/max_by): first/last-event attribution per user —
# the "entry page / exit page" DWS shape — without a window-sort pass (one
# hash aggregation instead of partition-sort + row_number).
# ---------------------------------------------------------------------------
@register(
    "first_last_events",
    """
    SELECT user_id,
           min_by(event_type, (CAST(floor(date_part('epoch', ts)) AS BIGINT) << 32) + event_id) AS first_type,
           max_by(event_type, (CAST(floor(date_part('epoch', ts)) AS BIGINT) << 32) + event_id) AS last_type,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id
    """,
)
def first_last_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # unique, order-preserving sort key with disjoint bit ranges (epoch
    # seconds in the high 32 bits, event_id below) — injective for any
    # event_id < 2^32, unlike a decimal-shift key that collides once ids
    # reach the multiplier
    key = F.shiftleft(F.col("ts").cast("long"), 32) + F.col("event_id")
    return ev.groupBy("user_id").agg(
        F.min_by("event_type", key).alias("first_type"),
        F.max_by("event_type", key).alias("last_type"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Relational breadth (SURVEY §2.6/§7.2 widening): the remaining classic
# shapes a warehouse user reaches for — priority-bucket counting with an
# EXISTS gate (Q4), conditional-sum case aggregation (Q12), distinct-count
# with NOT-IN exclusion (Q16), disjunctive multi-column predicates (Q19),
# explicit GROUPING SETS with grouping_id, and the window-function suite
# beyond row_number (lag/lead/ntile/percent_rank).
# ---------------------------------------------------------------------------
@register(
    "order_priority_ct",  # TPC-H Q4 shape: EXISTS gate + priority buckets
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_ct
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > o.o_orderdate + INTERVAL '20 days'
    )
    GROUP BY 1
    """,
)
def order_priority_ct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (o.o_orderkey == l.l_orderkey) & (
        l.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL '20' DAY")
    )
    return (
        o.join(l, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_ct"))
    )


@register(
    "linestatus_priority",  # TPC-H Q12 shape: conditional-sum case aggregation
    """
    SELECT l.l_returnflag,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_ct,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_ct
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= o.o_orderdate
    GROUP BY 1
    """,
)
def linestatus_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    l = load_table(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_ct"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_ct"),
        )
    )


@register(
    "parts_supplier_ct",  # TPC-H Q16 shape: distinct count + NOT-IN exclusion
    """
    SELECT p.p_brand, p.p_type,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_ct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size IN (1, 10, 20, 30)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2
    """,
)
def parts_supplier_ct(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size").isin(1, 10, 20, 30))
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        l.join(bad, l.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_ct"))
    )


@register(
    "disjunctive_revenue",  # TPC-H Q19 shape: OR-of-conjuncts predicate
    """
    SELECT CAST(count(*) AS BIGINT) AS line_ct,
           CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#11' AND l.l_quantity >= 1 AND l.l_quantity <= 11 AND p.p_size <= 15)
       OR (p.p_brand = 'Brand#22' AND l.l_quantity >= 10 AND l.l_quantity <= 20 AND p.p_size <= 25)
       OR (p.p_brand = 'Brand#33' AND l.l_quantity >= 20 AND l.l_quantity <= 30 AND p.p_size <= 35)
    """,
)
def disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#11") & q.between(1, 11) & (F.col("p_size") <= 15))
        | ((F.col("p_brand") == "Brand#22") & q.between(10, 20) & (F.col("p_size") <= 25))
        | ((F.col("p_brand") == "Brand#33") & q.between(20, 30) & (F.col("p_size") <= 35))
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.count(F.lit(1)).alias("line_ct"),
            F.sum(_revenue()).cast("decimal(18,4)").cast("double").alias("revenue"),
        )
    )


@register(
    "grouping_sets_stats",
    """
    SELECT n.n_name AS nation, o.o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS order_ct,
           CAST(grouping(n.n_name) * 2 + grouping(o.o_orderpriority) AS BIGINT) AS gid
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY GROUPING SETS ((n.n_name, o.o_orderpriority), (n.n_name), ())
    """,
)
def grouping_sets_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (one pass over the join for all three
    granularities) + grouping_id disambiguation of the NULL rows."""
    from gmall_spark.sources import register_views

    register_views(spark, sf_dir, ("orders", "customer", "nation"))
    return spark.sql(
        """
        SELECT n.n_name AS nation, o.o_orderpriority AS priority,
               count(*) AS order_ct,
               CAST(grouping(n.n_name) * 2 + grouping(o.o_orderpriority) AS BIGINT) AS gid
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY GROUPING SETS ((n.n_name, o.o_orderpriority), (n.n_name), ())
        """
    )


@register(
    "window_suite",
    """
    SELECT event_id, user_id,
           lag(event_type) OVER w AS prev_type,
           lead(event_type) OVER w AS next_type,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           percent_rank() OVER w AS pct_rank,
           CAST(nth_value(event_id, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT) AS second_event
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The window-function surface beyond row_number: lag/lead, ntile,
    percent_rank ((rank-1)/(n-1): an exact IEEE quotient of small ints, so
    engine-portable), and a full-frame nth_value."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "event_id",
        "user_id",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.nth_value("event_id", 2).over(full).cast("long").alias("second_event"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q17 shape — small-quantity-order revenue: a correlated aggregate
# (per-part average quantity) decorrelated into a per-part agg joined back.
# Scale: the agg table is |part| rows (AQE broadcasts when small); lineitem
# scans once per side — the correlated-subquery formulation would rescan per
# row. The 0.2·avg threshold is compared in exact decimal.
# ---------------------------------------------------------------------------
@register(
    "small_quantity_revenue",
    """
    WITH pq AS (
      SELECT l_partkey,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS qty_sum,
             CAST(count(*) AS BIGINT) AS line_ct
      FROM lineitem GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS line_ct,
           CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE)
             AS total_price
    FROM lineitem l JOIN pq ON l.l_partkey = pq.l_partkey
    WHERE CAST(l.l_quantity AS DECIMAL(18,2)) * 5 * pq.line_ct < pq.qty_sum
    """,
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lines below 20% of their part's average quantity (qty < 0.2·avg ⇔
    qty·5·count < sum — integer/decimal-exact, no float division)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    pq = lineitem.groupBy("l_partkey").agg(
        F.sum(money("l_quantity")).cast("decimal(18,2)").alias("qty_sum"),
        F.count(F.lit(1)).alias("line_ct"),
    )
    return (
        lineitem.join(pq, "l_partkey")
        .filter(money("l_quantity") * 5 * F.col("line_ct") < F.col("qty_sum"))
        .agg(
            F.count(F.lit(1)).alias("line_ct"),
            F.sum(money("l_extendedprice")).cast("decimal(18,2)").cast("double")
            .alias("total_price"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q18 shape — large-volume orders: HAVING on an order-level rollup,
# joined back to the customer dim. One shuffle on orderkey for the rollup,
# dims broadcast.
# ---------------------------------------------------------------------------
@register(
    "large_orders",
    """
    WITH oq AS (
      SELECT l_orderkey,
             CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS qty_sum
      FROM lineitem GROUP BY 1
      HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 150
    )
    SELECT o.o_orderkey, c.c_name, o.o_orderpriority, oq.qty_sum,
           CAST(o.o_totalprice AS DOUBLE) AS o_totalprice
    FROM oq
    JOIN orders o ON oq.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    oq = (
        lineitem.groupBy(F.col("l_orderkey"))
        .agg(F.sum(money("l_quantity")).cast("decimal(18,2)").alias("_q"))
        .filter(F.col("_q") > 150)
        .select("l_orderkey", F.col("_q").cast("double").alias("qty_sum"))
    )
    return (
        oq.join(orders, oq.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer.select("c_custkey", "c_name")),
              F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "o_orderkey", "c_name", "o_orderpriority", "qty_sum",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
        )
    )


# ---------------------------------------------------------------------------
# As-of join — the classic time-series enrichment Spark lacks as a built-in
# (DuckDB ships ASOF JOIN natively, which is the oracle here). Each purchase
# event is attributed to the same user's most recent at-or-before view via
# operators.joins.asof_join — the union-carry-forward formulation: one
# shuffle on user_id, O(n) state, no range-explosion (a naive range join
# materializes every earlier view per purchase before pruning).
# The view side is pre-deduped to one row per (user, ts) — max event_id —
# so the at-or-before tie-break is deterministic on both engines.
# ---------------------------------------------------------------------------
@register(
    "asof_view_attrib",
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
def asof_view_attrib(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_spark.operators.joins import asof_join

    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", F.col("ts").alias("view_ts"))
        .agg(F.max("event_id").alias("view_event_id"))
    )
    j = asof_join(p, v, on="user_id", left_ts="ts", right_ts="view_ts")
    return j.select(
        "event_id",
        "user_id",
        F.date_format("ts", TS_FMT).alias("purchase_ts"),
        "view_event_id",
        F.date_format("view_ts", TS_FMT).alias("view_ts"),
        (F.col("ts").cast("long") - F.col("view_ts").cast("long")).alias("gap_sec"),
    )


# ---------------------------------------------------------------------------
# Range join — banded value classification via operators.joins.range_join
# (grid-bucketed: bands explode over covering cells, facts hash-probe their
# cell — an equi-join, not the nested loop a bare range predicate plans).
# ---------------------------------------------------------------------------
@register(
    "value_band_stats",
    """
    SELECT b.band,
           CAST(count(*) AS BIGINT) AS event_ct,
           CAST(CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS value_sum
    FROM events e
    JOIN (VALUES ('micro', 0, 1), ('small', 1, 5), ('mid', 5, 20),
                 ('large', 20, 100), ('huge', 100, 500)) b(band, lo, hi)
      ON e.value >= b.lo AND e.value < b.hi
    GROUP BY 1
    """,
)
def value_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_spark.operators.joins import range_join

    e = load_table(spark, sf_dir, "events")
    bands = spark.createDataFrame(
        [("micro", 0, 1), ("small", 1, 5), ("mid", 5, 20),
         ("large", 20, 100), ("huge", 100, 500)],
        "band string, lo int, hi int",
    )
    j = range_join(e, bands, "value", "lo", "hi", grid=25.0)
    return j.groupBy("band").agg(
        F.count(F.lit(1)).alias("event_ct"),
        F.sum(money("value")).cast("decimal(18,2)").cast("double").alias("value_sum"),
    )


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance — the materialized-view refresh pattern
# under every streaming upsert sink: merge a base rollup with a delta
# batch's rollup instead of recomputing the corpus. Only algebraic
# aggregates merge (sum/count/min/max — partials re-aggregate); holistic
# ones (exact distinct, median) don't, which is exactly why the streaming
# UV path dedups before counting. The oracle PROVES the merge: it
# recomputes the same rollup over the full table directly, and the hash
# must match the merged partials.
# ---------------------------------------------------------------------------
@register(
    "incremental_agg_refresh",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS pv_ct,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS value_sum,
           CAST(min(value) AS DOUBLE) AS value_min,
           CAST(max(value) AS DOUBLE) AS value_max
    FROM events GROUP BY 1
    """,
)
def incremental_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Base = events before the cutoff, delta = events after; refresh =
    re-aggregation of the two partial rollups. Each side aggregates
    map-side before its shuffle, and the merge groupBy touches only
    |groups| rows — at 100 TB the delta path does delta-sized work, never
    corpus-sized."""
    e = load_table(spark, sf_dir, "events")
    cutoff = F.lit("1999-01-01").cast("timestamp")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("pv_ct"),
            F.sum(money("value")).cast("decimal(18,2)").alias("value_sum"),
            F.min("value").alias("value_min"),
            F.max("value").alias("value_max"),
        )

    base = rollup(e.filter(F.col("ts") < cutoff))
    delta = rollup(e.filter(F.col("ts") >= cutoff))
    merged = (
        base.unionByName(delta)
        .groupBy("event_type")
        .agg(
            F.sum("pv_ct").alias("pv_ct"),
            F.sum("value_sum").cast("decimal(18,2)").alias("value_sum"),
            F.min("value_min").alias("value_min"),
            F.max("value_max").alias("value_max"),
        )
    )
    return merged.select(
        "event_type",
        "pv_ct",
        F.col("value_sum").cast("double").alias("value_sum"),
        F.col("value_min").cast("double").alias("value_min"),
        F.col("value_max").cast("double").alias("value_max"),
    )


# ---------------------------------------------------------------------------
# Hypertable rollup — cascading multi-grain continuous aggregates
# (operators/windows.py::hypertable_rollup): 10-minute buckets aggregate the
# raw events once; 1-hour re-aggregates the 10-minute partials; 1-day
# re-aggregates 1-hour. The oracle computes every grain DIRECTLY from the
# raw table, so a hash match proves the cascade's merge algebra at all
# levels.
# ---------------------------------------------------------------------------
@register(
    "hypertable_rollup",
    """
    WITH g AS (
      SELECT '10 minutes' AS grain, time_bucket(INTERVAL '10 minutes', ts) AS bucket,
             event_type, count(*) AS row_ct,
             sum(CAST(value AS DECIMAL(18,2))) AS value_sum,
             min(value) AS value_min, max(value) AS value_max
      FROM events GROUP BY 2, 3
      UNION ALL
      SELECT '1 hour', time_bucket(INTERVAL '1 hour', ts), event_type, count(*),
             sum(CAST(value AS DECIMAL(18,2))), min(value), max(value)
      FROM events GROUP BY 2, 3
      UNION ALL
      SELECT '1 day', time_bucket(INTERVAL '1 day', ts), event_type, count(*),
             sum(CAST(value AS DECIMAL(18,2))), min(value), max(value)
      FROM events GROUP BY 2, 3
    )
    SELECT grain, strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket_start,
           event_type, CAST(row_ct AS BIGINT) AS row_ct,
           CAST(CAST(value_sum AS DECIMAL(18,2)) AS DOUBLE) AS value_sum,
           CAST(value_min AS DOUBLE) AS value_min,
           CAST(value_max AS DOUBLE) AS value_max
    FROM g
    """,
)
def hypertable_rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_spark.operators.windows import hypertable_rollup

    e = load_table(spark, sf_dir, "events")
    out = hypertable_rollup(e, "ts", ["event_type"], "value")
    return out.select(
        "grain",
        F.date_format("bucket", TS_FMT).alias("bucket_start"),
        "event_type",
        "row_ct",
        F.col("value_sum").cast("double").alias("value_sum"),
        F.col("value_min").cast("double").alias("value_min"),
        F.col("value_max").cast("double").alias("value_max"),
    )


# ---------------------------------------------------------------------------
# Hopping (sliding) windows — the one window mode the registry hadn't
# exercised: 10-minute windows sliding every 5, so each event contributes
# to exactly size/slide = 2 windows. Spark's window(ts, size, slide)
# replicates rows window-count times BEFORE the shuffle (cost multiplier =
# overlap factor — the reason long-overlap hops should become cascades,
# see hypertable_rollup). The oracle replays the epoch-aligned slide
# arithmetic with a 2-way UNION ALL.
# ---------------------------------------------------------------------------
@register(
    "sliding_window_stats",
    """
    WITH hops AS (
      SELECT event_type, time_bucket(INTERVAL '5 minutes', ts) AS ws, value FROM events
      UNION ALL
      SELECT event_type, time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes', value FROM events
    )
    SELECT event_type,
           strftime(ws, '%Y-%m-%d %H:%M:%S') AS stt,
           strftime(ws + INTERVAL '10 minutes', '%Y-%m-%d %H:%M:%S') AS edt,
           CAST(count(*) AS BIGINT) AS pv_ct,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS value_sum
    FROM hops GROUP BY event_type, ws
    """,
)
def sliding_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("pv_ct"),
            F.sum(money("value")).cast("decimal(18,2)").cast("double").alias("value_sum"),
        )
        .select(
            "event_type",
            F.date_format("w.start", TS_FMT).alias("stt"),
            F.date_format("w.end", TS_FMT).alias("edt"),
            "pv_ct",
            "value_sum",
        )
    )


# ---------------------------------------------------------------------------
# Funnel conversion — the staged view→click→purchase attribution every DWS
# layer grows next (the reference's product stats stop at per-stream counts).
# Spark side: ONE shuffle — per-user event arrays folded through a Catalyst
# higher-order F.aggregate (sorted struct array → (v1, c1, p1) stage
# timestamps), then a broadcast dim join to segment. The staged-min
# semantics (first view; first click at/after it; first purchase at/after
# that) is what the oracle expresses as three chained filtered-min CTEs —
# three shuffles there, one here: the fold is the scale win, and the whole
# walk stays inside codegen (no UDF). Event timestamps are µs-unique per
# user in the driver's data, so fold order == the >= chain.
# ---------------------------------------------------------------------------
@register(
    "funnel_conversion",
    """
    WITH v AS (
      SELECT user_id, min(ts) AS v1 FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS c1
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts >= v.v1 GROUP BY 1
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS p1
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= c.c1 GROUP BY 1
    )
    SELECT cu.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS users,
           CAST(count(v.v1) AS BIGINT) AS viewed,
           CAST(count(c.c1) AS BIGINT) AS clicked,
           CAST(count(p.p1) AS BIGINT) AS purchased
    FROM (SELECT DISTINCT user_id FROM events) u
    JOIN customer cu ON u.user_id = cu.c_custkey
    LEFT JOIN v ON u.user_id = v.user_id
    LEFT JOIN c ON u.user_id = c.user_id
    LEFT JOIN p ON u.user_id = p.user_id
    GROUP BY 1
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    folded = (
        ev.groupBy("user_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("evs")
        )
        .withColumn(
            "stages",
            F.aggregate(
                "evs",
                F.expr(
                    "named_struct('v1', CAST(NULL AS TIMESTAMP), "
                    "'c1', CAST(NULL AS TIMESTAMP), 'p1', CAST(NULL AS TIMESTAMP))"
                ),
                lambda acc, x: F.struct(
                    F.coalesce(
                        acc["v1"], F.when(x["event_type"] == "view", x["ts"])
                    ).alias("v1"),
                    F.coalesce(
                        acc["c1"],
                        F.when(
                            (x["event_type"] == "click") & acc["v1"].isNotNull(),
                            x["ts"],
                        ),
                    ).alias("c1"),
                    F.coalesce(
                        acc["p1"],
                        F.when(
                            (x["event_type"] == "purchase") & acc["c1"].isNotNull(),
                            x["ts"],
                        ),
                    ).alias("p1"),
                ),
            ),
        )
    )
    return (
        folded.join(F.broadcast(cust), folded.user_id == cust.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("users"),
            F.count("stages.v1").alias("viewed"),
            F.count("stages.c1").alias("clicked"),
            F.count("stages.p1").alias("purchased"),
        )
    )


# ---------------------------------------------------------------------------
# SCD type-2 dimension build — the versioned-dimension table the reference's
# dim layer implies but never materializes (its Phoenix upserts overwrite in
# place, losing history; SURVEY §3.3). Each change event becomes a version
# row with [valid_from, valid_to) bounds and a current flag — one window
# function over the change stream, no self-join. At scale this is a single
# shuffle on the business key; the open-ended current rows use a sentinel
# high date so range probes stay sargable.
# ---------------------------------------------------------------------------
@register(
    "scd2_dim",
    f"""
    SELECT o_custkey AS custkey, o_orderstatus AS status,
           strftime(o_orderdate, '{_DUCK_FMT}') AS valid_from,
           coalesce(strftime(nxt, '{_DUCK_FMT}'), '9999-12-31 00:00:00') AS valid_to,
           CAST(CASE WHEN nxt IS NULL THEN 1 ELSE 0 END AS INT) AS is_current
    FROM (
      SELECT *, lead(o_orderdate) OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate, o_orderkey) AS nxt
      FROM orders
    )
    """,
)
def scd2_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.withColumn("nxt", F.lead("o_orderdate").over(w)).select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderstatus").alias("status"),
        F.date_format("o_orderdate", TS_FMT).alias("valid_from"),
        F.coalesce(
            F.date_format("nxt", TS_FMT), F.lit("9999-12-31 00:00:00")
        ).alias("valid_to"),
        F.when(F.col("nxt").isNull(), 1).otherwise(0).cast("int").alias("is_current"),
    )


# ---------------------------------------------------------------------------
# Rate-anomaly detection — the ops-monitoring shape over event streams
# (reference VisitorStatsApp's per-window counts, taken one step further to
# "which windows are abnormal"). Integer-exact by construction: a bucket is
# anomalous iff cnt · n_buckets > 2 · type_total — the cross-multiplied form
# of cnt > 2·mean, so no float mean/stddev whose summation order could
# diverge between engines. Shape: one partial-agg shuffle to (type, hour)
# buckets, then per-type totals via a window over the (tiny) bucket table —
# the window input is |types|·|hours| rows, not raw events, so the skew/
# funnel concern of windowing raw data does not apply.
# ---------------------------------------------------------------------------
@register(
    "rate_anomaly",
    """
    WITH b AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket_ts, count(*) AS cnt
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           strftime(bucket_ts, '%Y-%m-%d %H:%M:%S') AS bucket,
           CAST(cnt AS BIGINT) AS cnt,
           CAST(CASE WHEN cnt * count(*) OVER w > 2 * sum(cnt) OVER w
                     THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
    FROM b
    WINDOW w AS (PARTITION BY event_type)
    """,
)
def rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    b = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket_ts")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("event_type")
    return b.select(
        "event_type",
        F.date_format("bucket_ts", TS_FMT).alias("bucket"),
        F.col("cnt").cast("long").alias("cnt"),
        (F.col("cnt") * F.count(F.lit(1)).over(w) > 2 * F.sum("cnt").over(w))
        .cast("long")
        .alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# Cohort retention — the activation/retention matrix every product warehouse
# derives from its event stream: users bucketed by first-seen day, activity
# counted per (cohort, day-offset). Integer day arithmetic end to end. Two
# shuffles: per-user min (partial-agg) and the (cohort, offset) rollup; the
# firsts table joins back on user_id (AQE broadcasts it while it is small —
# at 100 TB it is a plain co-partitioned equi-join, never a window over raw
# events).
# ---------------------------------------------------------------------------
@register(
    "cohort_retention",
    """
    WITH firsts AS (
      SELECT user_id, min(date_trunc('day', ts)) AS cohort_day
      FROM events GROUP BY 1
    ),
    act AS (
      SELECT DISTINCT e.user_id, f.cohort_day,
             date_diff('day', f.cohort_day, date_trunc('day', e.ts)) AS day_offset
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort,
           CAST(day_offset AS BIGINT) AS day_offset,
           CAST(count(*) AS BIGINT) AS active_users
    FROM act GROUP BY 1, 2
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(F.min(F.date_trunc("day", "ts")).alias("cohort_day"))
    act = (
        e.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.date_trunc("day", "ts"), "cohort_day").alias("day_offset"),
        )
        .distinct()
    )
    return act.groupBy(
        F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort"),
        F.col("day_offset").cast("long").alias("day_offset"),
    ).agg(F.count(F.lit(1)).cast("long").alias("active_users"))


# ---------------------------------------------------------------------------
# Co-purchase recommendations — market-basket lift, the classic item-item
# recommender built purely relationally: parts co-occurring in an order,
# ranked per anchor part by lift. Within an anchor, lift ordering reduces to
# co_ct/ct(rec) (the anchor's own count and the order total are constant),
# so the rank key is ONE IEEE division of exact integers — bit-identical
# across engines; no float folds. Pair space is bounded by per-order basket
# width (Σ C(w,2)), not catalog² — the same arboricity-style bound as the
# triangle kernel's wedges.
# ---------------------------------------------------------------------------
@register(
    "copurchase_lift",
    """
    WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS co_ct
      FROM pp a JOIN pp b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    sym AS (
      SELECT pa AS anchor, pb AS rec, co_ct FROM pairs
      UNION ALL
      SELECT pb AS anchor, pa AS rec, co_ct FROM pairs
    ),
    ct AS (SELECT l_partkey, count(*) AS ct FROM pp GROUP BY 1)
    SELECT anchor, rec, CAST(co_ct AS BIGINT) AS co_ct, CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT s.anchor, s.rec, s.co_ct,
             row_number() OVER (PARTITION BY s.anchor
                                ORDER BY CAST(s.co_ct AS DOUBLE) / c.ct DESC, s.rec) AS rnk
      FROM sym s JOIN ct c ON s.rec = c.l_partkey
    ) WHERE rnk <= 5
    """,
)
def copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    l = load_table(spark, sf_dir, "lineitem")
    # Pair generation WITHOUT the pp-self-join: group each order into a
    # sorted distinct basket (one shuffle on l_orderkey — collect_set is the
    # per-order distinct, so no separate global DISTINCT pass), then emit the
    # C(w,2) ordered pairs with array combinators inside codegen. The old
    # self-join shape sort-merges the distinct set against itself — two extra
    # shuffles of the full pp set at 100 TB for the same basket-bounded pair
    # stream. Both baskets consumers below are the identical aggregate
    # subplan, which Catalyst collapses into one exchange (ReusedExchange).
    baskets = l.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(parts, (x, i) -> "
                    "transform(slice(parts, i + 2, size(parts)), "
                    "y -> struct(x AS pa, y AS pb))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
        .agg(F.count(F.lit(1)).alias("co_ct"))
    )
    sym = pairs.select(F.col("pa").alias("anchor"), F.col("pb").alias("rec"), "co_ct").unionByName(
        pairs.select(F.col("pb").alias("anchor"), F.col("pa").alias("rec"), "co_ct")
    )
    # orders-per-part: |parts| rows — catalog-sized, i.e. it GROWS with SF,
    # so no hard broadcast hint here; AQE picks broadcast while it fits and
    # falls back to a shuffle join on rec once the catalog outgrows the
    # threshold at real scale.
    ct = (
        baskets.select(F.explode("parts").alias("rec"))
        .groupBy("rec")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    w = Window.partitionBy("anchor").orderBy(
        (F.col("co_ct").cast("double") / F.col("ct")).desc(), F.col("rec")
    )
    return (
        sym.join(ct, "rec")
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 5)
        .select("anchor", "rec", F.col("co_ct").cast("long"), "rnk")
    )


# ---------------------------------------------------------------------------
# Data-quality audit — the expectations pass (Deequ/Great-Expectations shape)
# every production ingestion runs before publishing a table: each rule emits
# its violation count. Null checks and range checks fold into ONE scan per
# table (conditional-sum partial aggregation); the orphan check is a
# broadcast-able anti-join on the dim key; the duplicate-PK check is one
# count-per-key shuffle. All-integer outputs.
# ---------------------------------------------------------------------------
@register(
    "dq_audit",
    """
    SELECT 'events_null_user' AS rule, CAST(count(*) - count(user_id) AS BIGINT) AS violations
    FROM events
    UNION ALL
    SELECT 'events_value_range',
           CAST(sum(CASE WHEN value < 0 OR value >= 500 THEN 1 ELSE 0 END) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'orders_orphan_custkey', CAST(count(*) AS BIGINT)
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_custkey IS NULL
    UNION ALL
    SELECT 'orders_dup_pk', CAST(count(*) AS BIGINT)
    FROM (SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1)
    UNION ALL
    SELECT 'lineitem_nonpositive_qty',
           CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    """,
)
def dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    l = load_table(spark, sf_dir, "lineitem")
    n = F.count(F.lit(1))
    ev_rules = ev.agg(
        (n - F.count("user_id")).alias("events_null_user"),
        F.sum(((F.col("value") < 0) | (F.col("value") >= 500)).cast("long")).alias(
            "events_value_range"
        ),
    )
    orphans = (
        o.join(c, o.o_custkey == c.c_custkey, "left_anti")
        .agg(n.alias("orders_orphan_custkey"))
    )
    dups = (
        o.groupBy("o_orderkey")
        .agg(n.alias("ct"))
        .filter(F.col("ct") > 1)
        .agg(n.alias("orders_dup_pk"))
    )
    li = l.agg(F.sum((F.col("l_quantity") <= 0).cast("long")).alias("lineitem_nonpositive_qty"))

    def melt(df: DataFrame) -> DataFrame:
        cols = df.columns
        pairs = [x for cn in cols for x in (F.lit(cn), F.col(cn).cast("long"))]
        return df.select(
            F.explode(F.create_map(*pairs)).alias("rule", "violations")
        )

    out = melt(ev_rules)
    for part in (orphans, dups, li):
        out = out.unionByName(melt(part))
    return out


# ---------------------------------------------------------------------------
# Snapshot diff — the table-compare every warehouse migration/backfill runs:
# full outer join of two snapshots on the primary key, rows classified by
# md5 over the non-key payload. Snapshot B is derived deterministically here
# (every 101st order dropped, every 97th repriced) so the entry is
# self-contained; in production both sides are real table versions. One
# co-partitioned join on the key — at 100 TB this is the bucketed-join
# poster child (both snapshots bucketed by pk ⇒ zero shuffle).
# ---------------------------------------------------------------------------
@register(
    "snapshot_diff",
    """
    WITH a AS (
      SELECT o_orderkey AS pk,
             md5(o_orderstatus || '|' || CAST(o_totalprice AS VARCHAR)) AS h
      FROM orders
    ),
    b AS (
      SELECT o_orderkey AS pk,
             md5(o_orderstatus || '|' ||
                 CAST(CASE WHEN o_orderkey % 97 = 0
                           THEN CAST(o_totalprice + 1 AS DECIMAL(18,2))
                           ELSE o_totalprice END AS VARCHAR)) AS h
      FROM orders WHERE o_orderkey % 101 <> 0
    )
    SELECT status, CAST(count(*) AS BIGINT) AS row_ct FROM (
      SELECT CASE WHEN b.pk IS NULL THEN 'removed'
                  WHEN a.h <> b.h THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM a LEFT JOIN b ON a.pk = b.pk
    ) GROUP BY 1
    """,
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    a = o.select(
        F.col("o_orderkey").alias("pk"),
        F.md5(F.concat_ws("|", "o_orderstatus", F.col("o_totalprice").cast("string"))).alias("h"),
    )
    b = o.filter(F.col("o_orderkey") % 101 != 0).select(
        F.col("o_orderkey").alias("pk"),
        F.md5(
            F.concat_ws(
                "|",
                "o_orderstatus",
                F.when(F.col("o_orderkey") % 97 == 0,
                       (F.col("o_totalprice") + 1).cast("decimal(18,2)"))
                .otherwise(F.col("o_totalprice"))
                .cast("string"),
            )
        ).alias("h"),
    )
    ab = a.alias("a").join(b.alias("b"), F.col("a.pk") == F.col("b.pk"), "left")
    status = (
        F.when(F.col("b.pk").isNull(), "removed")
        .when(F.col("a.h") != F.col("b.h"), "changed")
        .otherwise("unchanged")
    )
    return ab.select(status.alias("status")).groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("row_ct")
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit — the statistical-forensics check run over money
# columns (fabricated totals skew the leading-digit distribution). The digit
# is extracted via exact integer truncation + string head, NOT log10 (libm
# rounding at decade boundaries differs across engines). One conditional-agg
# scan; digit counts are compared offline against log10(1+1/d).
# ---------------------------------------------------------------------------
@register(
    "benford_audit",
    """
    SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS lead_digit,
           CAST(count(*) AS BIGINT) AS order_ct
    FROM orders WHERE o_totalprice >= 1
    GROUP BY 1
    """,
)
def benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_totalprice") >= 1)
        .groupBy(
            # explicit floor: DuckDB's decimal→BIGINT cast rounds while
            # Spark's truncates — floor-then-cast agrees in both engines
            F.substring(F.floor("o_totalprice").cast("long").cast("string"), 1, 1).alias(
                "lead_digit"
            )
        )
        .agg(F.count(F.lit(1)).cast("long").alias("order_ct"))
    )


# ---------------------------------------------------------------------------
# Clickstream transition matrix — per-user adjacent event-type pairs within
# a 10-minute continuation bound (the Markov-chain input for journey/funnel
# modeling; generalizes the reference UserJumpDetailApp's single view→view
# pattern to ALL transitions). One window sort per user partition (users are
# high-cardinality, so the window input is well-spread), one pair rollup.
# Integer epoch arithmetic for the continuation bound.
# ---------------------------------------------------------------------------
@register(
    "event_transitions",
    """
    WITH s AS (
      SELECT event_type,
             lead(event_type) OVER w AS nxt,
             epoch_us(lead(ts) OVER w) - epoch_us(ts) AS gap_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_type AS src, nxt AS dst, CAST(count(*) AS BIGINT) AS transition_ct
    FROM s WHERE nxt IS NOT NULL AND gap_us <= 600000000
    GROUP BY 1, 2
    """,
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "event_type",
        F.lead("event_type").over(w).alias("nxt"),
        # microsecond integers: DuckDB's epoch() carries fractional seconds
        # while a seconds cast truncates — µs difference is exact in both
        (F.lead(F.unix_micros("ts")).over(w) - F.unix_micros("ts")).alias("gap_us"),
    )
    return (
        s.filter(F.col("nxt").isNotNull() & (F.col("gap_us") <= 600000000))
        .groupBy(F.col("event_type").alias("src"), F.col("nxt").alias("dst"))
        .agg(F.count(F.lit(1)).cast("long").alias("transition_ct"))
    )


# ---------------------------------------------------------------------------
# Join-key skew report — the diagnostic run before sizing any large join:
# top-10 heaviest keys with parts-per-million share. Integer share via
# cross-multiplied division (ct·1e6 div total); the key histogram is a
# partial-agg shuffle and the 1-row total broadcasts. Pairs with the salting
# operator (skew_salted_join) as the detect→mitigate loop.
# ---------------------------------------------------------------------------
@register(
    "skew_report",
    """
    WITH k AS (SELECT l_suppkey AS key, count(*) AS ct FROM lineitem GROUP BY 1),
    t AS (SELECT sum(ct) AS total FROM k)
    SELECT key, CAST(ct AS BIGINT) AS ct,
           CAST(ct * 1000000 // t.total AS BIGINT) AS ppm,
           CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT key, ct, row_number() OVER (ORDER BY ct DESC, key) AS rnk FROM k) k, t
    WHERE rnk <= 10
    """,
)
def skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    l = load_table(spark, sf_dir, "lineitem")
    k = l.groupBy(F.col("l_suppkey").alias("key")).agg(F.count(F.lit(1)).alias("ct"))
    t = k.agg(F.sum("ct").alias("total"))
    w = Window.orderBy(F.col("ct").desc(), F.col("key"))
    return (
        k.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 10)
        .crossJoin(F.broadcast(t))
        .select(
            "key",
            F.col("ct").cast("long").alias("ct"),
            F.expr("CAST(ct * 1000000 div total AS BIGINT)").alias("ppm"),
            "rnk",
        )
    )


# ---------------------------------------------------------------------------
# Sequence mining lite — top-20 event-type trigrams spanning at most one
# day (the "common journeys" report; extends the transition matrix to
# length-3 paths — events here are sparse per user, so the day bound is the
# session analog). Two leads in one window pass, integer µs gap
# arithmetic, then a count rollup on the trigram — no self-joins, no
# row explosion beyond one row per event.
# ---------------------------------------------------------------------------
@register(
    "event_trigrams",
    """
    WITH s AS (
      SELECT event_type AS e1,
             lead(event_type, 1) OVER w AS e2,
             lead(event_type, 2) OVER w AS e3,
             epoch_us(lead(ts, 2) OVER w) - epoch_us(ts) AS span_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT e1, e2, e3, CAST(path_ct AS BIGINT) AS path_ct, CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT e1, e2, e3, count(*) AS path_ct,
             row_number() OVER (ORDER BY count(*) DESC, e1, e2, e3) AS rnk
      FROM s WHERE e3 IS NOT NULL AND span_us <= 86400000000
      GROUP BY 1, 2, 3
    ) WHERE rnk <= 20
    """,
)
def event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
        (F.lead(F.unix_micros("ts"), 2).over(w) - F.unix_micros("ts")).alias("span_us"),
    )
    grp = (
        s.filter(F.col("e3").isNotNull() & (F.col("span_us") <= 86400000000))
        .groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).alias("path_ct"))
    )
    w2 = Window.orderBy(F.col("path_ct").desc(), "e1", "e2", "e3")
    return (
        grp.withColumn("rnk", F.row_number().over(w2).cast("long"))
        .filter(F.col("rnk") <= 20)
        .select("e1", "e2", "e3", F.col("path_ct").cast("long"), "rnk")
    )


# ---------------------------------------------------------------------------
# Fulfilment-latency distribution — operational SLA analysis: days between
# an order and its LAST shipped line, rolled into a latency histogram.
# Two partial-agg shuffles (per-order max over lineitem — co-partitioned
# with the orders join key — then the day-count rollup); exact integer date
# arithmetic throughout.
# ---------------------------------------------------------------------------
@register(
    "fulfilment_latency",
    """
    WITH last_ship AS (
      SELECT l_orderkey, max(l_shipdate) AS last_ship
      FROM lineitem GROUP BY 1
    )
    SELECT CAST(date_diff('day', CAST(o.o_orderdate AS DATE), CAST(s.last_ship AS DATE))
                AS BIGINT) AS latency_days,
           CAST(count(*) AS BIGINT) AS order_ct
    FROM orders o JOIN last_ship s ON o.o_orderkey = s.l_orderkey
    GROUP BY 1
    """,
)
def fulfilment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    last_ship = l.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("last_ship"))
    return (
        o.join(last_ship, o.o_orderkey == last_ship.l_orderkey)
        .select(
            F.datediff(F.col("last_ship").cast("date"), F.col("o_orderdate").cast("date"))
            .cast("long")
            .alias("latency_days")
        )
        .groupBy("latency_days")
        .agg(F.count(F.lit(1)).cast("long").alias("order_ct"))
    )


# ---------------------------------------------------------------------------
# Basket-size distribution — the "how many items per order" histogram every
# marketplace tracks (and the input to the co-purchase pair-space bound:
# Σ C(w,2) over this distribution). Group-size rollup then a count-of-counts
# — both partial-agg shuffles, the second over at most |distinct sizes| keys.
# ---------------------------------------------------------------------------
@register(
    "basket_size_distribution",
    """
    SELECT CAST(n_items AS BIGINT) AS n_items,
           CAST(count(*) AS BIGINT) AS order_ct
    FROM (SELECT l_orderkey, count(*) AS n_items FROM lineitem GROUP BY 1)
    GROUP BY 1
    """,
)
def basket_size_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    sizes = l.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_items"))
    return sizes.groupBy(F.col("n_items").cast("long").alias("n_items")).agg(
        F.count(F.lit(1)).cast("long").alias("order_ct")
    )

# ---------------------------------------------------------------------------
# Hypertable gap-fill + LOCF — the time_bucket_gapfill/locf pair every
# monitoring/hypertable engine ships: densify the (event_type, hour) grid
# over the table's full span, fill missing buckets with the last observed
# count. Scale shape: the grid is |keys| x |hours| rows built DISTRIBUTED
# (sequence+explode per key, never a driver loop); the fill is a per-key
# ordered window whose width is the series length, so at 100 TB you
# range-partition by key and the window never crosses keys. The span scalar
# is a 1-row broadcast (allowlisted cross-join shape).
# ---------------------------------------------------------------------------
@register(
    "gapfill_locf",
    f"""
    WITH span AS (
      SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
      FROM events
    ),
    grid AS (
      SELECT et.event_type, u.bh
      FROM (SELECT DISTINCT event_type FROM events) et
      CROSS JOIN span
      CROSS JOIN UNNEST(generate_series(span.lo, span.hi, INTERVAL 1 HOUR)) AS u(bh)
    ),
    agg AS (
      SELECT event_type, date_trunc('hour', ts) AS bh, count(*) AS ev_ct
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           strftime(bh, '{_DUCK_FMT}') AS bucket_hour,
           CAST(coalesce(
             last_value(ev_ct IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY bh
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS BIGINT) AS filled_ct,
           ev_ct IS NULL AS is_gap
    FROM grid LEFT JOIN agg USING (event_type, bh)
    """,
)
def gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bh")
    ).agg(F.count(F.lit(1)).alias("ev_ct"))
    span = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = (
        ev.select("event_type")
        .distinct()
        .join(F.broadcast(span))
        .select(
            "event_type",
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("bh"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("bh").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    filled = grid.join(agg, ["event_type", "bh"], "left")
    return filled.select(
        "event_type",
        F.date_format("bh", TS_FMT).alias("bucket_hour"),
        F.coalesce(F.last("ev_ct", ignorenulls=True).over(w), F.lit(0))
        .cast("long")
        .alias("filled_ct"),
        F.col("ev_ct").isNull().alias("is_gap"),
    )


# ---------------------------------------------------------------------------
# Per-user EWMA (alpha = 0.5) — the decayed engagement score timeseries
# stores compute natively. Exactness across engines: the fold is pinned to
# event order (ts, event_id) and every step is acc*0.5 + x*0.5 — halving is
# EXACT in binary floating point and the two engines execute the identical
# left fold (Spark F.aggregate == DuckDB list_reduce), so the doubles are
# bit-identical (same argument as the bigram-LM entry, extras/text.py).
# Scale shape: one shuffle on user_id; the collect_list is bounded by a
# single user's event count (the same bound any per-user sessionization
# carries) — the streaming twin of this fold is a one-value keyed state.
# ---------------------------------------------------------------------------
@register(
    "ewma_user_value",
    """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           list_reduce(list_prepend(0.0, list(value ORDER BY ts, event_id)),
                       (acc, x) -> acc * 0.5 + x * 0.5) AS ewma
    FROM events GROUP BY 1
    """,
)
def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ordered = F.transform(
        F.sort_array(F.collect_list(F.struct("ts", "event_id", "value"))),
        lambda s: s["value"],
    )
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.aggregate(
            ordered, F.lit(0.0), lambda acc, x: acc * F.lit(0.5) + x * F.lit(0.5)
        ).alias("ewma"),
    )


# ---------------------------------------------------------------------------
# SCD2 point-in-time join — the query side of the scd2_dim pattern: each
# fact row joins the dimension VERSION that was valid at its event time
# (here: each lineitem to the customer's order-status version in force on
# its ship date). Implemented as the version-window join (equi on the key +
# [valid_from, valid_to) residual) — per-key fan-out is lines × versions of
# ONE customer before the residual prunes it to exactly one, so the shuffle
# is the co-partitioned custkey join, never a global range explosion.
# Zero-width windows from same-day version ties match nothing, exactly as
# the lead()-derived validity encodes; every line lands in precisely one
# version (its ship date is >= its own order's valid_from).
# ---------------------------------------------------------------------------
@register(
    "scd2_pit_join",
    """
    WITH v AS (
      SELECT o_custkey AS custkey, o_orderstatus AS status, o_orderdate AS vf,
             lead(o_orderdate) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey) AS vt
      FROM orders
    ),
    f AS (
      SELECT o.o_custkey AS custkey, l.l_shipdate AS sd,
             CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(4,2))) AS rev
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT v.status AS status_at_ship,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(CAST(sum(f.rev) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
    FROM f JOIN v ON f.custkey = v.custkey
     AND f.sd >= v.vf AND (v.vt IS NULL OR f.sd < v.vt)
    GROUP BY 1
    """,
)
def scd2_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    v = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderdate").alias("vf"),
        F.lead("o_orderdate").over(w).alias("vt"),
    )
    f = l.join(o.select("o_orderkey", "o_custkey"), l.l_orderkey == o.o_orderkey).select(
        F.col("o_custkey").alias("custkey"),
        F.col("l_shipdate").alias("sd"),
        _revenue().alias("rev"),
    )
    joined = f.join(
        v,
        (f.custkey == v.custkey)
        & (F.col("sd") >= F.col("vf"))
        & (F.col("vt").isNull() | (F.col("sd") < F.col("vt"))),
    )
    return joined.groupBy(F.col("status").alias("status_at_ship")).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum("rev").cast("decimal(18,4)").cast("double").alias("revenue"),
    )


# ---------------------------------------------------------------------------
# Z-order data layout — the write-time clustering decision that data-skipping
# lives or dies on at 100 TB. The reference never faces this (Flink streams;
# its OLAP store ClickHouse orders by its primary key), but any Spark
# warehouse must pick a sort order for its fact files, and min/max zone maps
# (parquet row-group stats, Delta file stats) prune scans only if the layout
# keeps each file's bounding box small in EVERY filtered dimension.
#
# This entry measures that, deterministically: quantize (ts, user_id) to 16
# bits each, bit-interleave into a 32-bit Morton z-value, split the corpus
# into 64 equal-row "files" under three layouts — z-order, linear (ts-sorted,
# i.e. ingestion order), and scattered (hash order, the no-layout baseline) —
# build each file's zone map, and count how many files a 2-D box predicate
# (middle 20% band of both dimensions) would scan. All arithmetic is integer
# (quantization by integer division, box bounds by cross-multiplication), so
# the oracle replays the exact file assignment and the exact scan set; the
# output is the skipping report a layout job would log: files scanned /
# rows scanned / rows actually matched, per layout.
#
# Scale shape: quantization bounds are one 4-scalar aggregate (broadcast);
# the z-value is a static 64-term bit expression (whole-stage codegen, no
# UDF); the per-layout file split here uses ntile over a global sort — the
# bench-measurable stand-in for the writer's repartitionByRange(z) + local
# sort, which is the same one shuffle with planner-sampled range bounds
# (sampled bounds are not oracle-replayable; equal-row ntile is).
# ---------------------------------------------------------------------------
def _zorder_sql(engine: str) -> str:
    """One template, two engines: Spark SQL and DuckDB differ only in epoch
    extraction, integer division, string cast, and bit-shift spelling."""
    if engine == "spark":
        epoch = "CAST(ts AS LONG)"
        idiv = " div "
        vchar = "STRING"

        def shl(x: str, n: int) -> str:
            return f"shiftleft({x}, {n})"

        def shr(x: str, n: int) -> str:
            return f"shiftright({x}, {n})"

    else:
        epoch = "CAST(floor(date_part('epoch', ts)) AS BIGINT)"
        idiv = " // "
        vchar = "VARCHAR"

        def shl(x: str, n: int) -> str:
            return f"({x} << {n})"

        def shr(x: str, n: int) -> str:
            return f"({x} >> {n})"

    zterms = []
    for k in range(16):
        zterms.append(shl(f"({shr('tq', k)} & 1)", 2 * k + 1))
        zterms.append(shl(f"({shr('uq', k)} & 1)", 2 * k))
    zexpr = " + ".join(zterms)
    return f"""
    WITH base AS (
      SELECT event_id, {epoch} AS te, user_id AS u FROM events
    ),
    b AS (
      SELECT min(te) AS tmin, max(te) AS tmax, min(u) AS umin, max(u) AS umax
      FROM base
    ),
    q AS (
      SELECT event_id, te, u, tmin, tmax, umin, umax,
             ((te - tmin) * 65535){idiv}(CASE WHEN tmax > tmin THEN tmax - tmin ELSE 1 END) AS tq,
             ((u - umin) * 65535){idiv}(CASE WHEN umax > umin THEN umax - umin ELSE 1 END) AS uq
      FROM base, b
    ),
    zb AS (
      SELECT event_id, te, u, tmin, tmax, umin, umax,
             {zexpr} AS zv,
             md5(CAST(event_id AS {vchar})) AS hv,
             CASE WHEN (te - tmin) * 5 >= (tmax - tmin) * 2
                   AND (te - tmin) * 5 <  (tmax - tmin) * 3
                   AND (u - umin) * 5 >= (umax - umin) * 2
                   AND (u - umin) * 5 <  (umax - umin) * 3
                  THEN 1 ELSE 0 END AS hit
      FROM q
    ),
    lay AS (
      SELECT 'zorder' AS layout, ntile(64) OVER (ORDER BY zv, event_id) AS chunk,
             te, u, hit, tmin, tmax, umin, umax FROM zb
      UNION ALL
      SELECT 'linear_ts' AS layout, ntile(64) OVER (ORDER BY te, event_id) AS chunk,
             te, u, hit, tmin, tmax, umin, umax FROM zb
      UNION ALL
      SELECT 'scattered' AS layout, ntile(64) OVER (ORDER BY hv, event_id) AS chunk,
             te, u, hit, tmin, tmax, umin, umax FROM zb
    ),
    zones AS (
      SELECT layout, chunk,
             count(*) AS rows_in_chunk,
             sum(hit) AS hits,
             min(te) AS cte_min, max(te) AS cte_max,
             min(u) AS cu_min, max(u) AS cu_max,
             min(tmin) AS tmin, min(tmax) AS tmax,
             min(umin) AS umin, min(umax) AS umax
      FROM lay GROUP BY layout, chunk
    ),
    flagged AS (
      SELECT layout, rows_in_chunk, hits,
             CASE WHEN (cte_max - tmin) * 5 >= (tmax - tmin) * 2
                   AND (cte_min - tmin) * 5 <  (tmax - tmin) * 3
                   AND (cu_max - umin) * 5 >= (umax - umin) * 2
                   AND (cu_min - umin) * 5 <  (umax - umin) * 3
                  THEN 1 ELSE 0 END AS scanned
      FROM zones
    )
    SELECT layout,
           CAST(count(*) AS BIGINT) AS chunks_total,
           CAST(sum(scanned) AS BIGINT) AS chunks_scanned,
           CAST(sum(scanned * rows_in_chunk) AS BIGINT) AS rows_scanned,
           CAST(sum(hits) AS BIGINT) AS rows_matched
    FROM flagged
    GROUP BY layout
    """


@register("zorder_skipping", _zorder_sql("duckdb"))
def zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton-order layout vs linear vs scattered, scored by zone-map file
    skipping on a 2-D box predicate (docstring block above; integer-exact)."""
    from gmall_spark.sources import register_views

    register_views(spark, sf_dir, ("events",))
    return spark.sql(_zorder_sql("spark"))


# ---------------------------------------------------------------------------
# VARIANT (Spark 4) over the semi-structured props column — the open-schema
# ingestion path: parse_json → VariantType (a binary-encoded semi-structured
# value, NOT a string reparse per access), typed path extraction with
# variant_get, then a relational aggregate over the extracted field. Where
# props_extract (T1) demos the classic get_json_object string path, this is
# the engine-native column type a 100 TB lake should land untyped payloads
# in: parse once at ingestion, every downstream extraction is a cheap typed
# read of the encoded value — no per-query JSON re-parse, and the shredded
# encoding carries its own types (try_variant_get surfaces type mismatches
# as NULLs instead of silent zeroes). Oracle: DuckDB's json_extract over the
# same payload, integer arithmetic only.
# ---------------------------------------------------------------------------
@register(
    "variant_props_stats",
    """
    SELECT CAST(json_extract(props, '$.k') AS BIGINT) // 10 AS k_decile,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_min,
           CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max,
           CAST(count(*) FILTER (WHERE json_extract(props, '$.missing') IS NOT NULL)
                AS BIGINT) AS missing_ct
    FROM events
    GROUP BY 1
    """,
)
def variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "bigint")
    missing = F.try_variant_get(v, "$.missing", "bigint")
    return (
        ev.select(k.alias("k"), missing.alias("m"))
        .groupBy((F.col("k") / 10).cast("long").alias("k_decile"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("k").cast("long").alias("k_min"),
            F.max("k").cast("long").alias("k_max"),
            F.count("m").cast("long").alias("missing_ct"),
        )
    )


# ---------------------------------------------------------------------------
# The gmall_logs connector under the correctness gate — S1/S6's landing-zone
# ingest run END-TO-END through the native Python DataSource
# (sources/logsource.py): spool events to a Hive-partitioned JSONL landing
# zone (day=YYYY-MM-DD dirs — one distributed text write), read it back
# through spark.read.format("gmall_logs") with an In-filter on `day` that
# pushFilters consumes at PLANNING time (whole directories never become
# partitions), parse, and aggregate. The oracle computes the same days
# straight from the events table — so the driver's value-hash compares the
# connector's entire scan → prune → parse path against ground truth.
# ---------------------------------------------------------------------------
@register(
    "logsource_roundtrip",
    """
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(user_id) AS BIGINT) AS user_sum
    FROM events
    WHERE strftime(ts, '%Y-%m-%d') IN ('2024-01-02', '2024-01-03')
    GROUP BY 1
    """,
)
def logsource_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from gmall_spark.sources.logsource import register_log_source

    ev = load_table(spark, sf_dir, "events")
    land = _spool_dir("landing_")
    (
        ev.select(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            F.to_json(F.struct("event_id", "user_id")).alias("value"),
        )
        .write.mode("overwrite")
        .partitionBy("day")
        .text(land)
    )
    register_log_source(spark)
    raw = (
        spark.read.format("gmall_logs")
        .load(land)
        .filter(F.col("day").isin("2024-01-02", "2024-01-03"))
    )
    parsed = raw.select(
        "day", F.get_json_object("line", "$.user_id").cast("long").alias("user_id")
    )
    return parsed.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("user_id").cast("long").alias("user_sum"),
    )


# ---------------------------------------------------------------------------
# Recursive CTE hierarchy traversal (Spark 4.1 WITH RECURSIVE) — the classic
# warehouse recursion (org charts, bill-of-materials explosion, referral
# trees), here over the synthetic referral tree custkey -> custkey div 2
# (unique parent, child key strictly greater ⇒ every customer derives
# exactly once and recursion depth is ceil(log2 N), so UNION ALL — the only
# recursive set op Spark supports — terminates structurally with |tree| = N
# rows, no dedup needed; contrast bfs_hops, whose cyclic graph needs the
# UNION-deduped DuckDB fixpoint and therefore a DataFrame-loop Spark
# implementation). Both engines run ALMOST THE SAME recursive SQL — the
# dialect differs only in integer division — making this the one entry
# where the oracle and the implementation are the same recursive program,
# executed by two engines.
#
# Scale shape: each recursion level is one equi-join of the full customer
# table against the previous frontier (key-partitioned shuffle); levels =
# log2(N) ≈ 27 at 100 TB-scale customer counts — the same round structure
# as the iterative kernels, planned by Catalyst's native rCTE execution.
# ---------------------------------------------------------------------------
def _hierarchy_sql(idiv: str) -> str:
    return f"""
    WITH RECURSIVE tree(custkey, depth) AS (
      SELECT CAST(1 AS BIGINT) AS custkey, CAST(0 AS INT) AS depth
      UNION ALL
      SELECT CAST(c.c_custkey AS BIGINT), CAST(t.depth + 1 AS INT)
      FROM customer c JOIN tree t ON (c.c_custkey{idiv}2) = t.custkey
      WHERE c.c_custkey > 1
    )
    SELECT CAST(t.depth AS INT) AS depth,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(CAST(sum(c.c_acctbal) AS DECIMAL(18,2)) AS DOUBLE) AS acctbal_sum
    FROM tree t JOIN customer c ON c.c_custkey = t.custkey
    GROUP BY t.depth
    """


@register("hierarchy_rollup", _hierarchy_sql(" // "))
def hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-depth rollup of the referral tree via a NATIVE recursive CTE
    (docstring block above)."""
    from gmall_spark.sources import register_views

    register_views(spark, sf_dir, ("customer",))
    # Spark guards runaway recursion with a 1M-row default
    # (spark.sql.cteRecursionRowLimit) — a safety net against
    # non-terminating CTEs, not a semantic bound. This recursion provably
    # terminates with |tree| == |customer| rows (unique parent, strictly
    # decreasing key — see block comment), so raise the limit to the
    # actual table size; found by the r6 sf10 audit, where 1.5M customers
    # tripped RECURSION_ROW_LIMIT_EXCEEDED. The conf is read lazily at
    # execution time, so it cannot be set-and-restored around a lazy
    # return; it stays session-wide but is (a) sized from the parquet
    # footer row count — file metadata, no Spark job inflating this
    # entry's wall time — and (b) only consulted by recursive CTEs, and
    # this is the registry's sole rCTE entry, so the widened guard cannot
    # alter any other query's behavior in a shared sweep session.
    import os

    import pyarrow.parquet as pq

    n_customers = pq.read_metadata(os.path.join(sf_dir, "customer.parquet")).num_rows
    spark.conf.set("spark.sql.cteRecursionRowLimit", str(max(1_000_000, 2 * n_customers)))
    return spark.sql(_hierarchy_sql(" div "))


# ---------------------------------------------------------------------------
# Incremental view maintenance for a JOIN view — the delta-join expansion.
# incremental_agg_refresh maintains an AGGREGATE incrementally; wide tables
# (order_wide, payment_wide) are JOIN views, and at 100 TB you never re-join
# seven years of facts because one day arrived. Joins distribute over
# disjoint unions, so with O = O_old ∪ dO and L = L_old ∪ dL the view delta
# is EXACTLY three delta-bounded terms:
#     dV = (dO ⋈ L_old) ∪ (O_old ⋈ dL) ∪ (dO ⋈ dL)
# Each term has at least one delta-sized side — at real scale dO/dL are one
# ingest batch, broadcastable, so maintaining the view costs O(|delta|), not
# O(|view|); the only full-table touches are probe-side scans that AQE plans
# as broadcast joins against the day's delta. The __AUDIT__ row carries the
# algebraic proof the entry is named for: rows/revenue of the from-scratch
# join of the FULL tables minus (old view + all three delta terms) — zero by
# the disjointness argument, and the oracle recomputes the same zero
# independently. Deltas here: orders arriving from 2000-01-01 (dO), late
# lineitems shipping from 2000-06-01 (dL — note dL rows can belong to OLD
# orders, which is precisely what the middle term catches).
# ---------------------------------------------------------------------------
@register(
    "delta_join_ivm",
    """
    WITH o_old AS (SELECT * FROM orders WHERE o_orderdate < DATE '2000-01-01'),
    d_o AS (SELECT * FROM orders WHERE o_orderdate >= DATE '2000-01-01'),
    l_old AS (SELECT * FROM lineitem WHERE l_shipdate < DATE '2000-06-01'),
    d_l AS (SELECT * FROM lineitem WHERE l_shipdate >= DATE '2000-06-01'),
    term AS (
      SELECT 'delta_orders' AS term, count(*) AS rows_ct,
             CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DECIMAL(30,4)) AS revenue
      FROM d_o o JOIN l_old l ON o.o_orderkey = l.l_orderkey
      UNION ALL
      SELECT 'delta_lines', count(*),
             CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DECIMAL(30,4))
      FROM o_old o JOIN d_l l ON o.o_orderkey = l.l_orderkey
      UNION ALL
      SELECT 'delta_both', count(*),
             CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DECIMAL(30,4))
      FROM d_o o JOIN d_l l ON o.o_orderkey = l.l_orderkey
      UNION ALL
      SELECT 'old_view', count(*),
             CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DECIMAL(30,4))
      FROM o_old o JOIN l_old l ON o.o_orderkey = l.l_orderkey
    ),
    full_v AS (
      SELECT count(*) AS rows_ct,
             CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DECIMAL(30,4)) AS revenue
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    )
    SELECT term, CAST(rows_ct AS BIGINT) AS rows_ct,
           CAST(revenue AS DOUBLE) AS revenue
    FROM term
    UNION ALL
    SELECT '__AUDIT__',
           CAST(f.rows_ct - sum(t.rows_ct) AS BIGINT),
           CAST(CAST(f.revenue - sum(t.revenue) AS DECIMAL(30,4)) AS DOUBLE)
    FROM full_v f, term t
    GROUP BY f.rows_ct, f.revenue
    """,
)
def delta_join_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    o_new = F.col("o_orderdate") >= "2000-01-01"
    l_new = F.col("l_shipdate") >= "2000-06-01"
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )

    def side(term, o_pred, l_pred):
        return (
            o.filter(o_pred)
            .join(l.filter(l_pred), o["o_orderkey"] == l["l_orderkey"])
            .agg(
                F.count(F.lit(1)).alias("rows_ct"),
                F.sum(rev).cast("decimal(30,4)").alias("revenue"),
            )
            .select(F.lit(term).alias("term"), "rows_ct", "revenue")
        )

    terms = (
        side("delta_orders", o_new, ~l_new)
        .unionByName(side("delta_lines", ~o_new, l_new))
        .unionByName(side("delta_both", o_new, l_new))
        .unionByName(side("old_view", ~o_new, ~l_new))
    )
    full_v = (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .agg(
            F.count(F.lit(1)).alias("f_rows"),
            F.sum(rev).cast("decimal(30,4)").alias("f_rev"),
        )
    )
    audit = (
        terms.agg(
            F.sum("rows_ct").alias("t_rows"),
            F.sum("revenue").alias("t_rev"),
        )
        .crossJoin(F.broadcast(full_v))
        .select(
            F.lit("__AUDIT__").alias("term"),
            (F.col("f_rows") - F.col("t_rows")).alias("rows_ct"),
            (F.col("f_rev") - F.col("t_rev")).cast("decimal(30,4)").alias("revenue"),
        )
    )
    out = terms.unionByName(audit)
    return out.select(
        "term",
        F.col("rows_ct").cast("long").alias("rows_ct"),
        F.col("revenue").cast("double").alias("revenue"),
    )


# ---------------------------------------------------------------------------
# Right-to-erasure propagation — the GDPR/CCPA delete that every production
# corpus must support: a tombstone list of subject keys (here: custkeys
# ending the synthetic %13 residue) cascades through the FK graph —
# customer rows themselves, their orders, the lineitems OF those orders
# (two-hop cascade), and their behavior events — and every table emits a
# deletion audit (before / erased / after / surviving-violations, the last
# re-checked against the REWRITTEN corpus, not derived arithmetic). Scale
# shape: tombstone lists are tiny relative to the corpus → broadcast
# anti-joins, zero shuffles of the fact tables; the one derived set (the
# erased customers' orderkeys) is delete-fraction-sized and AQE demotes it
# to a shuffle anti-join if a mass delete outgrows the broadcast threshold.
# The corpus rewrite itself is write_routed_parquet/compact_parquet
# downstream; this entry is the planning + audit layer.
# ---------------------------------------------------------------------------
@register(
    "gdpr_erasure",
    """
    WITH tomb AS (SELECT c_custkey AS k FROM customer WHERE c_custkey % 13 = 0),
    bad_orders AS (SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT k FROM tomb)),
    stats AS (
      SELECT 'customer' AS tbl, count(*) AS rows_before,
             count(*) FILTER (WHERE c_custkey IN (SELECT k FROM tomb)) AS rows_erased
      FROM customer
      UNION ALL
      SELECT 'orders', count(*),
             count(*) FILTER (WHERE o_custkey IN (SELECT k FROM tomb))
      FROM orders
      UNION ALL
      SELECT 'lineitem', count(*),
             count(*) FILTER (WHERE l_orderkey IN (SELECT o_orderkey FROM bad_orders))
      FROM lineitem
      UNION ALL
      SELECT 'events', count(*),
             count(*) FILTER (WHERE user_id IN (SELECT k FROM tomb))
      FROM events
    )
    SELECT tbl, CAST(rows_before AS BIGINT) AS rows_before,
           CAST(rows_erased AS BIGINT) AS rows_erased,
           CAST(rows_before - rows_erased AS BIGINT) AS rows_after,
           CAST(0 AS BIGINT) AS violations
    FROM stats
    """,
)
def gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    line = load_table(spark, sf_dir, "lineitem")
    events = load_table(spark, sf_dir, "events")
    tomb = cust.filter(F.pmod("c_custkey", F.lit(13)) == 0).select(
        F.col("c_custkey").cast("long").alias("k")
    )
    bad_orders = orders.join(
        F.broadcast(tomb), orders["o_custkey"] == tomb["k"], "left_semi"
    ).select(F.col("o_orderkey").alias("k"))

    def audit(df, key, keys, tbl):
        # The rewrite is the anti-join; the violation check re-probes the
        # REWRITTEN frame so a broken cascade shows up as violations > 0,
        # not as silently-wrong arithmetic.
        survivors = df.join(F.broadcast(keys), df[key] == keys["k"], "left_anti")
        stats = df.join(F.broadcast(keys), df[key] == keys["k"], "left").agg(
            F.count(F.lit(1)).alias("rows_before"),
            F.count(keys["k"]).alias("rows_erased"),
        )
        viol = survivors.join(
            F.broadcast(keys), survivors[key] == keys["k"], "left_semi"
        ).agg(F.count(F.lit(1)).alias("violations"))
        return stats.crossJoin(F.broadcast(viol)).select(
            F.lit(tbl).alias("tbl"),
            F.col("rows_before").cast("long"),
            F.col("rows_erased").cast("long"),
            (F.col("rows_before") - F.col("rows_erased")).cast("long").alias("rows_after"),
            F.col("violations").cast("long"),
        )

    return (
        audit(cust, "c_custkey", tomb, "customer")
        .unionByName(audit(orders, "o_custkey", tomb, "orders"))
        .unionByName(audit(line, "l_orderkey", bad_orders, "lineitem"))
        .unionByName(audit(events, "user_id", tomb, "events"))
    )


# ---------------------------------------------------------------------------
# CSV + ORC format roundtrip under the correctness gate — the interchange
# formats every landing zone still speaks next to parquet (the reference's
# ecosystem ships logs as delimited text long before they become columnar).
# The entry proves LOSSLESS passage: events are projected to an
# integer/string/timestamp frame (value pre-quantized to exact micro-units —
# float-through-text is the classic silent corruptor, so floats never touch
# the text format), written once as CSV (explicit 6-digit-fraction
# timestampFormat: Spark's CSV default truncates to millis, which would
# shave the microsecond tail off 9,995 of 10,000 rows here) and once as ORC
# (native TIMESTAMP, no format string), read back with an explicit schema in
# FAILFAST mode (a parse error is an error, not a NULL), and checksummed
# per format: row count, key sum, quantized-value sum, and two timestamp
# checksums that split date (day-number sum) from time-of-day (micros-of-day
# sum — summing raw epoch-micros over >5k rows would overflow BIGINT).
# The oracle computes the same checksums straight from the parquet table, so
# the value-hash equality IS the lossless-roundtrip proof, per format.
# Scale: both writes/reads are plain distributed jobs; CSV at 100 TB is
# splittable (no multiline), ORC carries its own zone maps.
# ---------------------------------------------------------------------------
@register(
    "format_roundtrip",
    """
    WITH q AS (
      SELECT 'csv' AS fmt FROM (VALUES (1)) UNION ALL SELECT 'orc' FROM (VALUES (1))
    )
    SELECT fmt,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(user_id) AS BIGINT) AS user_sum,
           CAST(sum(CAST(floor(value * 10000) AS BIGINT)) AS BIGINT) AS value_q_sum,
           CAST(sum(epoch_us(ts) // 86400000000) AS BIGINT) AS ts_day_sum,
           CAST(sum(epoch_us(ts) % 86400000000) AS BIGINT) AS ts_us_sum
    FROM events, q
    GROUP BY fmt
    """,
)
def format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_id").cast("long"),
        "ts",
        F.col("user_id").cast("long"),
        "event_type",
        F.floor(F.col("value") * 10000).cast("long").alias("value_q"),
    )
    ts_fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    ddl = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value_q LONG"
    base = _spool_dir("fmt_")
    ev.write.mode("overwrite").options(header=True, timestampFormat=ts_fmt).csv(f"{base}/csv")
    ev.write.mode("overwrite").orc(f"{base}/orc")
    back = {
        "csv": spark.read.schema(ddl)
        .options(header=True, timestampFormat=ts_fmt, mode="FAILFAST")
        .csv(f"{base}/csv"),
        "orc": spark.read.schema(ddl).orc(f"{base}/orc"),
    }
    frames = [
        df.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("user_id").cast("long").alias("user_sum"),
            F.sum("value_q").cast("long").alias("value_q_sum"),
            # integer div/mod (never float division): bit-exact vs DuckDB's //
            F.sum(F.expr("unix_micros(ts) div 86400000000")).cast("long").alias("ts_day_sum"),
            F.sum(F.expr("unix_micros(ts) % 86400000000")).cast("long").alias("ts_us_sum"),
        ).select(F.lit(fmt).alias("fmt"), "*")
        for fmt, df in back.items()
    ]
    out = frames[0]
    for f_ in frames[1:]:
        out = out.unionByName(f_)
    return out


# ---------------------------------------------------------------------------
# Ordered funnel conversion — the product-analytics staple the reference's
# DWS layer feeds (visitor → detail → purchase): per user, the funnel
# view ⟶ first click AT-OR-AFTER that view ⟶ first purchase at-or-after that
# click, with strict stage sequencing (a click before the first view does
# not count). Scale shape: all three stage timestamps are conditional-min
# WINDOW passes over the SAME user partitioning — one shuffle, one sort,
# three Window nodes, and the closing per-user aggregate reuses the same
# hash partitioning (no second exchange). No collect_list of per-user event
# arrays — state per row is three timestamps, so a power user with 10^6
# events costs nothing extra. Conversion lag is integer microseconds
# (unix_micros subtraction — DuckDB's epoch() is a fractional DOUBLE, so
# seconds-granularity lags would round vs truncate differently), summed exactly.
# ---------------------------------------------------------------------------
@register(
    "funnel_conversion",
    """
    WITH s1 AS (
      SELECT user_id, ts, event_type,
             min(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS view_ts
      FROM events
    ),
    s2 AS (
      SELECT *, min(CASE WHEN event_type = 'click' AND ts >= view_ts THEN ts END)
                  OVER (PARTITION BY user_id) AS click_ts
      FROM s1
    ),
    s3 AS (
      SELECT *, min(CASE WHEN event_type = 'purchase' AND ts >= click_ts THEN ts END)
                  OVER (PARTITION BY user_id) AS buy_ts
      FROM s2
    ),
    per_user AS (
      SELECT user_id, min(view_ts) AS view_ts, min(click_ts) AS click_ts,
             min(buy_ts) AS buy_ts
      FROM s3 GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS users_total,
           CAST(count(view_ts) AS BIGINT) AS users_viewed,
           CAST(count(click_ts) AS BIGINT) AS users_clicked,
           CAST(count(buy_ts) AS BIGINT) AS users_purchased,
           CAST(sum(CASE WHEN buy_ts IS NOT NULL
                         THEN epoch_us(buy_ts) - epoch_us(view_ts) END) AS BIGINT) AS conv_lag_sum_us
    FROM per_user
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    s1 = ev.withColumn(
        "view_ts", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    )
    s2 = s1.withColumn(
        "click_ts",
        F.min(
            F.when((F.col("event_type") == "click") & (F.col("ts") >= F.col("view_ts")), F.col("ts"))
        ).over(w),
    )
    s3 = s2.withColumn(
        "buy_ts",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") >= F.col("click_ts")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = s3.groupBy("user_id").agg(
        F.min("view_ts").alias("view_ts"),
        F.min("click_ts").alias("click_ts"),
        F.min("buy_ts").alias("buy_ts"),
    )
    lag = F.unix_micros("buy_ts") - F.unix_micros("view_ts")
    return per_user.agg(
        F.count(F.lit(1)).cast("long").alias("users_total"),
        F.count("view_ts").cast("long").alias("users_viewed"),
        F.count("click_ts").cast("long").alias("users_clicked"),
        F.count("buy_ts").cast("long").alias("users_purchased"),
        F.sum(F.when(F.col("buy_ts").isNotNull(), lag)).cast("long").alias("conv_lag_sum_us"),
    )


# ---------------------------------------------------------------------------
# LATERAL correlated subquery (Spark 4 native) — the per-row dependent join
# the reference writes as Flink SQL `LATERAL TABLE(...)`: for every nation,
# the top-2 customers by account balance, expressed as a correlated LATERAL
# subquery rather than the window-rank rewrite (top_n_per_group covers that
# form). Catalyst DECORRELATES this into the same shuffle-once
# rank-and-filter plan — the point of the entry is that the declarative
# correlated form carries no per-row re-execution at scale (a naive engine
# would re-run the subquery once per outer row). Ties broken by custkey so
# the top-2 set is total-ordered.
# ---------------------------------------------------------------------------
_LATERAL_SQL = """
    SELECT n.n_name AS nation, t.c_custkey AS custkey, t.acctbal
    FROM nation n,
    LATERAL (
      SELECT c.c_custkey,
             CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS acctbal
      FROM customer c
      WHERE c.c_nationkey = n.n_nationkey
      ORDER BY c.c_acctbal DESC, c.c_custkey
      LIMIT 2
    ) t
"""


@register("lateral_topk", _LATERAL_SQL)
def lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_spark.sources import register_views

    register_views(spark, sf_dir, ("nation", "customer"))
    return spark.sql(_LATERAL_SQL)


# ---------------------------------------------------------------------------
# Native UNPIVOT (df.unpivot / SQL UNPIVOT, Spark 4) — wide→long reshape
# without the UNION-ALL-of-N-projections rewrite (which scans the table once
# per measure): ONE scan emits (measure, value) pairs via the Expand
# operator, then a plain partial-agg rollup per measure. The long form is
# what every metrics store / feature pipeline ingests. Values quantized to
# exact integer basis points BEFORE the reshape so the unpivoted column is
# a single exact type (UNPIVOT requires a common type; doubles would hash-
# drift under reordered addition).
# ---------------------------------------------------------------------------
@register(
    "unpivot_measures",
    """
    SELECT l_returnflag, measure,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(v_bp) AS BIGINT) AS sum_bp,
           CAST(min(v_bp) AS BIGINT) AS min_bp,
           CAST(max(v_bp) AS BIGINT) AS max_bp
    FROM (
      UNPIVOT (
        SELECT l_returnflag,
               CAST(floor(l_quantity * 10000) AS BIGINT) AS quantity,
               CAST(floor(l_extendedprice * 10000) AS BIGINT) AS extendedprice,
               CAST(floor(l_discount * 10000) AS BIGINT) AS discount,
               CAST(floor(l_tax * 10000) AS BIGINT) AS tax
        FROM lineitem
      ) ON quantity, extendedprice, discount, tax
      INTO NAME measure VALUE v_bp
    )
    GROUP BY 1, 2
    """,
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    bp = lambda c: F.floor(F.col(c) * 10000).cast("long").alias(c.removeprefix("l_"))  # noqa: E731
    wide = l.select(
        "l_returnflag", bp("l_quantity"), bp("l_extendedprice"), bp("l_discount"), bp("l_tax")
    )
    long = wide.unpivot(
        ids=["l_returnflag"],
        values=["quantity", "extendedprice", "discount", "tax"],
        variableColumnName="measure",
        valueColumnName="v_bp",
    )
    return long.groupBy("l_returnflag", "measure").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v_bp").cast("long").alias("sum_bp"),
        F.min("v_bp").cast("long").alias("min_bp"),
        F.max("v_bp").cast("long").alias("max_bp"),
    )


# ---------------------------------------------------------------------------
# Bucketed table checksum diff — the anti-entropy / replication audit: two
# replicas of a 100 TB table can't be compared row-by-row across clusters,
# so each side independently folds its rows into per-bucket fingerprints
# (row-hash XOR + count over hash(pk) % B buckets) and only the O(B)
# fingerprint table travels; buckets whose fingerprints diverge are re-synced
# selectively. XOR is the right fold: commutative/associative (partition-
# order-free partial agg), self-inverting (an extra+missing row pair never
# cancels the way sum can... a SINGLE flipped row always flips the xor), and
# overflow-free. Replica B here is events with a deterministic fault
# injection — every 997th row deleted, every 1009th row's value doubled —
# so the entry demonstrates detection: changed buckets flag diverged=1 with
# matching counts (corruption) or count drift (loss). 60-bit md5 row hashes
# replay exactly in the oracle.
# ---------------------------------------------------------------------------
@register(
    "table_checksum_diff",
    """
    WITH rowq AS (
      SELECT event_id % 64 AS bucket, event_id,
             md5(CAST(event_id AS VARCHAR) || ':' || CAST(user_id AS VARCHAR) || ':'
                 || event_type || ':' || CAST(CAST(floor(value * 10000) AS BIGINT) AS VARCHAR)) AS m,
             CAST(floor(value * 10000) AS BIGINT) AS value_q
      FROM events
    ),
    h AS (
      SELECT bucket, event_id,
             CAST(concat('0x', substr(m, 1, 15)) AS BIGINT) AS h
      FROM rowq
    ),
    a AS (SELECT bucket, count(*) AS a_ct, bit_xor(h) AS a_fp FROM h GROUP BY 1),
    brow AS (
      SELECT event_id % 64 AS bucket,
             md5(CAST(event_id AS VARCHAR) || ':' || CAST(user_id AS VARCHAR) || ':'
                 || event_type || ':'
                 || CAST(CASE WHEN event_id % 1009 = 0
                              THEN CAST(floor(value * 10000) AS BIGINT) * 2
                              ELSE CAST(floor(value * 10000) AS BIGINT) END AS VARCHAR)) AS m
      FROM events WHERE event_id % 997 <> 0
    ),
    b AS (
      SELECT bucket, count(*) AS b_ct,
             bit_xor(CAST(concat('0x', substr(m, 1, 15)) AS BIGINT)) AS b_fp
      FROM brow GROUP BY 1
    )
    SELECT a.bucket AS bucket,
           CAST(a.a_ct AS BIGINT) AS a_ct, CAST(coalesce(b.b_ct, 0) AS BIGINT) AS b_ct,
           CAST(a.a_fp AS BIGINT) AS a_fp, CAST(coalesce(b.b_fp, 0) AS BIGINT) AS b_fp,
           CAST(CASE WHEN a.a_ct <> coalesce(b.b_ct, 0)
                       OR a.a_fp <> coalesce(b.b_fp, 0) THEN 1 ELSE 0 END AS INT) AS diverged
    FROM a LEFT JOIN b ON a.bucket = b.bucket
    """,
)
def table_checksum_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    value_q = F.floor(F.col("value") * 10000).cast("long")

    def fingerprints(df, vq, alias):
        m = F.md5(
            F.concat_ws(
                ":",
                F.col("event_id").cast("string"),
                F.col("user_id").cast("string"),
                F.col("event_type"),
                vq.cast("string"),
            )
        )
        h = F.conv(F.substring(m, 1, 15), 16, 10).cast("long")
        return (
            df.select((F.col("event_id") % 64).alias("bucket"), h.alias("h"))
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).cast("long").alias(f"{alias}_ct"),
                F.expr("bit_xor(h)").cast("long").alias(f"{alias}_fp"),
            )
        )

    a = fingerprints(ev, value_q, "a")
    b = fingerprints(
        ev.filter(F.col("event_id") % 997 != 0),
        F.when(F.col("event_id") % 1009 == 0, value_q * 2).otherwise(value_q),
        "b",
    )
    return a.join(b, "bucket", "left").select(
        "bucket",
        "a_ct",
        F.coalesce("b_ct", F.lit(0)).cast("long").alias("b_ct"),
        "a_fp",
        F.coalesce("b_fp", F.lit(0)).cast("long").alias("b_fp"),
        F.when(
            (F.col("a_ct") != F.coalesce("b_ct", F.lit(0)))
            | (F.col("a_fp") != F.coalesce("b_fp", F.lit(0))),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("diverged"),
    )


# ---------------------------------------------------------------------------
# Native XML roundtrip (Spark 4 built-in, no spark-xml package) — the third
# interchange format next to CSV/ORC (format_roundtrip): B2B feeds and
# legacy enterprise handoffs still speak XML. Same discipline: only integers
# and strings transit the text format (ts pre-converted to unix_micros
# BIGINT, value to exact micro-units), explicit read schema, and the
# checksum row must hash-match the parquet ground truth — so the rowTag
# writer/parser path is proven lossless, not assumed. Scale: rowTag XML is
# splittable on element boundaries; one distributed write, one read.
# ---------------------------------------------------------------------------
@register(
    "xml_roundtrip",
    """
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(user_id) AS BIGINT) AS user_sum,
           CAST(sum(CAST(floor(value * 10000) AS BIGINT)) AS BIGINT) AS value_q_sum,
           CAST(sum(epoch_us(ts) // 86400000000) AS BIGINT) AS ts_day_sum,
           CAST(sum(epoch_us(ts) % 86400000000) AS BIGINT) AS ts_us_sum
    FROM events
    """,
)
def xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_id").cast("long"),
        F.unix_micros("ts").alias("ts_us"),
        F.col("user_id").cast("long"),
        "event_type",
        F.floor(F.col("value") * 10000).cast("long").alias("value_q"),
    )
    base = _spool_dir("xml_")
    (
        ev.write.mode("overwrite")
        .option("rootTag", "events")
        .option("rowTag", "event")
        .format("xml")
        .save(f"{base}/xml")
    )
    back = (
        spark.read.schema(
            "event_id LONG, ts_us LONG, user_id LONG, event_type STRING, value_q LONG"
        )
        .option("rowTag", "event")
        .format("xml")
        .load(f"{base}/xml")
    )
    return back.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("user_id").cast("long").alias("user_sum"),
        F.sum("value_q").cast("long").alias("value_q_sum"),
        F.sum(F.expr("ts_us div 86400000000")).cast("long").alias("ts_day_sum"),
        F.sum(F.expr("ts_us % 86400000000")).cast("long").alias("ts_us_sum"),
    )


# ---------------------------------------------------------------------------
# Grouped OLS — closed-form per-brand linear fit (price-vs-quantity) from
# sufficient statistics: one partial-aggregated groupBy collects
# (n, Σx, Σy, Σxy, Σx²) and the slope/intercept are pure column arithmetic.
# This is how regression runs at 100 TB — never an iterative solver, never a
# driver-side matrix; the shuffle carries 5 numbers per brand.
#
# Engine parity: x = quantity (integral in this data), y = price in CENTS
# (BIGINT) — sums aggregate as DECIMAL(38,0) so num/den are EXACT on both
# engines (Spark decimal×decimal at scale 0 never rounds; DuckDB runs
# HUGEINT); the only float ops are the final IEEE divisions, bit-identical
# from identical exact operands. Slope is cents-per-unit.
# ---------------------------------------------------------------------------
@register(
    "ols_brand",
    """
    WITH s AS (
      SELECT p.p_brand,
             count(*) AS n,
             sum(CAST(l.l_quantity AS BIGINT)) AS sx,
             sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS sy,
             sum(CAST(l.l_quantity AS BIGINT)
                 * CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS sxy,
             sum(CAST(l.l_quantity AS BIGINT) * CAST(l.l_quantity AS BIGINT)) AS sxx
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1
    )
    SELECT p_brand,
           CAST(n AS BIGINT) AS n,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) AS slope_cents,
           (CAST(sy AS DOUBLE)
              - (CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE) AS intercept_cents
    FROM s
    """,
)
def ols_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    x = F.col("l_quantity").cast("long")
    y = F.round(F.col("l_extendedprice") * 100).cast("long")
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(d38(x)).alias("sx"),
            F.sum(d38(y)).alias("sy"),
            F.sum(d38(x * y)).alias("sxy"),
            F.sum(d38(x * x)).alias("sxx"),
        )
    )
    nd = F.col("n").cast("decimal(38,0)")
    num = (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = num / den
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    return s.select(
        "p_brand",
        F.col("n").cast("long"),
        slope.alias("slope_cents"),
        intercept.alias("intercept_cents"),
    )


# ---------------------------------------------------------------------------
# k-anonymity audit — the privacy gate a dataset release runs: group by the
# quasi-identifier tuple (nation, market segment, account-balance band) and
# surface every group smaller than k=5 — each is a re-identification risk.
# One partial-aggregated groupBy; the listing is the violating tail, so the
# result stays small even at 100 TB (bounded by |QID domain|, not |rows|).
# ---------------------------------------------------------------------------
@register(
    "k_anonymity",
    """
    SELECT c_nationkey, c_mktsegment,
           CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
           CAST(count(*) AS BIGINT) AS k
    FROM customer
    GROUP BY 1, 2, 3
    HAVING count(*) < 5
    """,
)
def k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return (
        c.groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
        .filter(F.col("k") < 5)
    )


# ---------------------------------------------------------------------------
# Rolling active users — DAU/WAU/MAU per day with EXACT rolling distincts.
# `count(DISTINCT user) OVER (RANGE 30 days)` doesn't exist in Spark and the
# per-day self-join rescans the fact 30×; instead each (user, day) presence
# row CONTRIBUTES to the w following days (explode of a 7-/30-day date
# sequence), dedup (user, day) per horizon, count per day. Cost is a bounded
# 37× row expansion of the (already distinct-collapsed) presence set — two
# shuffles per horizon, no self-joins, no windows over the fact table.
# Trailing days beyond the data span are clipped by the observed-day join.
# ---------------------------------------------------------------------------
@register(
    "rolling_active_users",
    """
    WITH presence AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    days AS (SELECT DISTINCT d FROM presence),
    dau AS (SELECT d, count(*) AS dau FROM presence GROUP BY 1),
    wau AS (
      SELECT dy.d, count(DISTINCT p.user_id) AS wau
      FROM days dy JOIN presence p ON p.d BETWEEN dy.d - 6 AND dy.d GROUP BY 1
    ),
    mau AS (
      SELECT dy.d, count(DISTINCT p.user_id) AS mau
      FROM days dy JOIN presence p ON p.d BETWEEN dy.d - 29 AND dy.d GROUP BY 1
    )
    SELECT strftime(dy.d, '%Y-%m-%d') AS day,
           CAST(dau.dau AS BIGINT) AS dau,
           CAST(wau.wau AS BIGINT) AS wau,
           CAST(mau.mau AS BIGINT) AS mau
    FROM days dy
    JOIN dau ON dau.d = dy.d JOIN wau ON wau.d = dy.d JOIN mau ON mau.d = dy.d
    """,
)
def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    presence = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    days = presence.select("d").distinct()

    def horizon(w: int, name: str) -> DataFrame:
        contrib = (
            presence.select(
                "user_id",
                F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), w - 1))).alias("day"),
            )
            .distinct()
            .groupBy("day")
            .agg(F.count(F.lit(1)).cast("long").alias(name))
        )
        return contrib.join(days, contrib["day"] == days["d"]).drop("d")

    dau = presence.groupBy(F.col("d").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("dau")
    )
    out = (
        dau.join(horizon(7, "wau"), "day")
        .join(horizon(30, "mau"), "day")
        .select(F.date_format("day", "yyyy-MM-dd").alias("day"), "dau", "wau", "mau")
    )
    return out


# ---------------------------------------------------------------------------
# Parallel JDBC ingest roundtrip — the missing half of the K3 connector
# story (sinks/batch.py writes JDBC; this entry READS back in parallel).
# The read uses partitionColumn/lowerBound/upperBound/numPartitions — Spark
# issues one ranged query per partition concurrently, which is how a
# 100 TB-side pipeline drains an RDBMS dimension without funneling through
# a single connection. Embedded Derby (on Spark's classpath) stands in for
# the warehouse RDBMS; the aggregate proves the roundtrip byte-preserved
# every value (doubles through Derby DOUBLE are IEEE-exact).
#
# The parallel-read contract (result has exactly numPartitions input
# splits) is asserted in tests/test_round7_ops.py.
# ---------------------------------------------------------------------------
@register(
    "jdbc_partitioned_roundtrip",
    """
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_cents,
           CAST(sum(length(c_name)) AS BIGINT) AS name_len_sum
    FROM customer
    GROUP BY 1
    """,
)
def jdbc_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    url = f"jdbc:derby:{_spool_dir('jdbc_')}/db;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    c = load_table(spark, sf_dir, "customer")
    (
        c.write.mode("overwrite")
        .format("jdbc")
        .option("url", url)
        .option("dbtable", "customer_dim")
        .option("driver", driver)
        .save()
    )
    lo, hi = c.agg(F.min("c_custkey"), F.max("c_custkey")).first()  # 1 row
    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "customer_dim")
        .option("driver", driver)
        .option("partitionColumn", "c_custkey")
        .option("lowerBound", str(lo))
        .option("upperBound", str(hi + 1))
        .option("numPartitions", "8")
        .load()
    )
    return back.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).cast("long").alias("acctbal_cents"),
        F.sum(F.length("c_name")).cast("long").alias("name_len_sum"),
    )


# ---------------------------------------------------------------------------
# Seasonal forecast backtest — day-of-week seasonal mean with a holdout:
# train on all but the last 7 observed days, predict each holdout day's
# revenue as the train-mean for its ISO weekday, and report exact
# numerator/denominator plus the IEEE prediction and absolute error. The
# forecast an ops dashboard actually runs — and the shape regression runs
# at scale: the model is an AGGREGATE (7 rows), never a per-row fit.
#
# Engine parity: revenue in cents (BIGINT), weekday via Spark weekday()+1 ==
# DuckDB isodow() (Monday=1); predictions divide exact integers once.
# ---------------------------------------------------------------------------
@register(
    "seasonal_forecast",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             isodow(CAST(ts AS DATE)) AS dow,
             sum(CAST(round(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2
    ),
    split AS (SELECT max(d) - 6 AS test_lo FROM daily),
    train AS (
      SELECT dow, sum(cents) AS num, count(*) AS den
      FROM daily, split WHERE d < test_lo GROUP BY 1
    )
    SELECT strftime(t.d, '%Y-%m-%d') AS day,
           CAST(t.dow AS BIGINT) AS dow,
           CAST(t.cents AS BIGINT) AS actual_cents,
           CAST(tr.num AS BIGINT) AS pred_num,
           CAST(tr.den AS BIGINT) AS pred_den,
           CAST(tr.num AS DOUBLE) / tr.den AS pred_cents,
           abs(t.cents - CAST(tr.num AS DOUBLE) / tr.den) AS abs_err
    FROM daily t, split
    JOIN train tr ON tr.dow = t.dow
    WHERE t.d >= test_lo
    """,
)
def seasonal_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    ).withColumn("dow", F.expr("weekday(d) + 1").cast("long"))
    split = daily.agg(F.date_sub(F.max("d"), 6).alias("test_lo"))  # 1-row scalar
    marked = daily.join(F.broadcast(split))
    train = (
        marked.filter(F.col("d") < F.col("test_lo"))
        .groupBy("dow")
        .agg(F.sum("cents").alias("num"), F.count(F.lit(1)).alias("den"))
    )
    pred = F.col("num").cast("double") / F.col("den")
    return (
        marked.filter(F.col("d") >= F.col("test_lo"))
        .join(train, "dow")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.col("dow").cast("long"),
            F.col("cents").cast("long").alias("actual_cents"),
            F.col("num").cast("long").alias("pred_num"),
            F.col("den").cast("long").alias("pred_den"),
            pred.alias("pred_cents"),
            F.abs(F.col("cents") - pred).alias("abs_err"),
        )
    )


# ---------------------------------------------------------------------------
# Backfill via dynamic partition overwrite — the maintenance op every
# partitioned warehouse runs weekly: re-derive ONE day's partition and land
# it with spark.sql.sources.partitionOverwriteMode=dynamic, which replaces
# exactly the partitions present in the incoming frame and leaves every
# other directory untouched (static overwrite mode would TRUNCATE the whole
# table first — the classic backfill footgun). The entry seeds a
# dt-partitioned copy of events, re-writes the busiest day with corrected
# values (value rounded up to whole cents), and returns the per-day audit —
# proving the repaired day changed and the other days' bytes survived.
# ---------------------------------------------------------------------------
@register(
    "backfill_partition_overwrite",
    """
    WITH daily AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS dt,
             count(*) AS n,
             sum(CAST(round(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY 1
    ),
    busiest AS (SELECT dt FROM daily ORDER BY n DESC, dt LIMIT 1)
    SELECT d.dt, CAST(d.n AS BIGINT) AS n,
           CAST(d.cents + CASE WHEN d.dt = b.dt THEN d.n ELSE 0 END AS BIGINT) AS cents,
           d.dt = b.dt AS repaired
    FROM daily d, busiest b
    """,
)
def backfill_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _spool_dir("backfill_") + "/events_by_dt"
    ev = load_table(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("dt"),
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    ev.write.mode("overwrite").partitionBy("dt").parquet(base)
    busiest = (
        ev.groupBy("dt")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "dt")
        .limit(1)
    )
    # the "corrected" recomputation of that one day: +1 cent per event.
    # Derived from the SOURCE, not from `base` — Spark (rightly) refuses to
    # overwrite a path that is also an input of the same plan.
    repaired = ev.join(F.broadcast(busiest.select("dt")), "dt").withColumn(
        "cents", F.col("cents") + 1
    )
    with conf_scope(spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
        # overwrite mode + dynamic: ONLY the dt partitions present in
        # `repaired` (exactly one) are replaced
        repaired.select("dt", "event_id", "cents").write.mode("overwrite").partitionBy(
            "dt"
        ).parquet(base)
    back = spark.read.parquet(base)
    return (
        back.groupBy("dt")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .join(F.broadcast(busiest.select(F.col("dt").alias("rdt"))))
        # partition-column type inference turns the dt directory values back
        # into DATEs on read; re-format so the contract stays the string key
        .select(
            F.date_format("dt", "yyyy-MM-dd").alias("dt"),
            "n",
            "cents",
            (F.date_format("dt", "yyyy-MM-dd") == F.col("rdt")).alias("repaired"),
        )
    )


# ---------------------------------------------------------------------------
# Pareto frontier (skyline) — "cheapest part at every size class": a part is
# on the frontier iff NO strictly cheaper part has a strictly larger size.
# The naive formulation is the O(n²) dominance self-join; the scan
# formulation collapses price levels (one partial-agg groupBy), takes the
# EXCLUSIVE running max of size over ascending price — via the two-level
# distributed prefix scan, never a single-partition window — and keeps
# parts whose size is not beaten by that cheaper-prefix max. Oracle replays
# the same per-price-level scan with a ROWS window (one row per level, so
# ROWS == strictly-cheaper semantics).
# ---------------------------------------------------------------------------
@register(
    "pareto_frontier",
    """
    WITH lvl AS (
      SELECT CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
             max(p_size) AS lvl_max
      FROM part GROUP BY 1
    ),
    scanned AS (
      SELECT price_cents,
             max(lvl_max) OVER (ORDER BY price_cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cheaper_max
      FROM lvl
    )
    SELECT p.p_partkey,
           CAST(round(p.p_retailprice * 100) AS BIGINT) AS price_cents,
           CAST(p.p_size AS BIGINT) AS size
    FROM part p JOIN scanned s
      ON CAST(round(p.p_retailprice * 100) AS BIGINT) = s.price_cents
    WHERE s.cheaper_max IS NULL OR p.p_size >= s.cheaper_max
    """,
)
def pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_spark.operators.prefix import prefix_max

    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
        F.col("p_size").cast("long").alias("size"),
    )
    lvl = p.groupBy("price_cents").agg(F.max("size").alias("lvl_max"))
    scanned = prefix_max(
        lvl,
        ["price_cents"],
        "lvl_max",
        (F.col("price_cents") / 100000).cast("long"),
        out_col="cheaper_max",
        inclusive=False,
    ).select("price_cents", "cheaper_max")
    return (
        p.join(scanned, "price_cents")
        .filter(F.col("cheaper_max").isNull() | (F.col("size") >= F.col("cheaper_max")))
        .select("p_partkey", "price_cents", "size")
    )


# bucketed_cojoin invocations' table pairs, newest last — dropped by the
# NEXT invocation (results are lazy, so the current pair must survive this
# call; see the in-function comment)
_BUCKET_TABLES: list[str] = []
_BUCKET_ATEXIT_ARMED = False


def _sweep_dead_bucket_tables(spark: SparkSession) -> None:
    """Reclaim orphaned bucketed-table directories left by DEAD processes.

    Table names embed the creating pid in hex (``bkt_<name>_<pidhex>_<uuid8>``)
    and the in-process FIFO only drops PREVIOUS pairs — each process's final
    pair outlives it as bare directories under the shared warehouse (the
    default catalog is in-memory, so a later process has no catalog entry to
    DROP). Filesystem sweep: any bkt_* dir whose embedded pid is dead is
    garbage. Live pids (including recycled ones) are skipped — errs toward
    keeping, the same discipline as session._gc_scratch_spool."""
    import os
    import re
    import shutil
    from urllib.parse import urlparse

    from gmall_spark.session import _pid_alive

    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    if not os.path.isdir(warehouse):
        return
    pat = re.compile(r"^bkt_\w+_([0-9a-f]+)_[0-9a-f]{8}$")
    for entry in os.listdir(warehouse):
        m = pat.match(entry)
        if m and not _pid_alive(int(m.group(1), 16)):
            shutil.rmtree(os.path.join(warehouse, entry), ignore_errors=True)


def _arm_bucket_atexit(warehouse: str) -> None:
    """Remove THIS process's final bucketed pair at interpreter exit — the
    FIFO can't (nothing comes after the last invocation). Filesystem rmtree,
    not DROP TABLE: the SparkSession may already be stopped at atexit time."""
    global _BUCKET_ATEXIT_ARMED
    if _BUCKET_ATEXIT_ARMED:
        return
    _BUCKET_ATEXIT_ARMED = True
    import atexit
    import os
    import shutil

    def _drop_final_pair() -> None:
        for tbl in _BUCKET_TABLES:
            shutil.rmtree(os.path.join(warehouse, tbl), ignore_errors=True)

    atexit.register(_drop_final_pair)


# ---------------------------------------------------------------------------
# Bucketed co-located join — the "pay the shuffle once at write time"
# contract under the correctness gate: both fact tables land bucketed+sorted
# on the join key (operators/joins.py::bucket_table), and the recurring join
# then plans ZERO exchanges (co-located sort-merge reads matching buckets
# directly — asserted in tests/test_plans.py). This is how an hourly 100 TB
# join against a stable key amortizes: the write-side shuffle happens once,
# every subsequent join is shuffle-free. The entry materializes the two
# bucketed tables, joins them, and aggregates — values must match the plain
# parquet join bit-for-bit.
# ---------------------------------------------------------------------------
@register(
    "bucketed_cojoin",
    """
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS line_ct,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def bucketed_cojoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_spark.operators.joins import bucket_table

    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_cents")
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    # Per-invocation table names: fixed global names raced when two
    # sessions / concurrent bench runs shared a warehouse (each drop +
    # rmtree could corrupt the other's in-flight read). The result is lazy,
    # so the tables must outlive this call — previous invocations' tables
    # are dropped once a newer pair exists (bounded FIFO, same discipline
    # as session.unpersist_with).
    import os
    import uuid
    from urllib.parse import urlparse

    _sweep_dead_bucket_tables(spark)
    _arm_bucket_atexit(urlparse(spark.conf.get("spark.sql.warehouse.dir")).path)
    tag = f"{os.getpid():x}_{uuid.uuid4().hex[:8]}"
    lt, ot = f"bkt_lineitem_{tag}", f"bkt_orders_{tag}"
    bucket_table(l, lt, "l_orderkey", n_buckets=8)
    bucket_table(
        o.withColumnRenamed("o_orderkey", "l_orderkey"), ot, "l_orderkey", n_buckets=8
    )
    for old in list(_BUCKET_TABLES):
        spark.sql(f"DROP TABLE IF EXISTS `{old}`")
    _BUCKET_TABLES.clear()
    _BUCKET_TABLES.extend([lt, ot])
    lb = spark.table(lt)
    ob = spark.table(ot)
    return (
        lb.join(ob, "l_orderkey")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("line_ct"),
            F.sum("price_cents").cast("long").alias("price_cents"),
        )
    )

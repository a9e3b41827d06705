"""Per-operator parity queries (SURVEY §2.2-2.7) on the testdata tables.

Each query exercises one operator from the inventory with a DuckDB
oracle; names carry the SURVEY operator id (j1, a1, w2, ...). Role
mapping per FIXTURES.md §3: orders=fact header, lineitem=details,
part=items dim, supplier→nation→region=filtering dim, events=intraday
stream, documents/embeddings=phase-5 corpora.

Float discipline: every float output is rounded identically in the
Spark expression and the oracle SQL so the driver's value hash is
deterministic across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, Window as W

import os

from .parity_queries import register
from .warehouse import Warehouse, load_testdata, register_testdata
from .ops import scalar, windows


def _t(spark: SparkSession, sf_dir: str, *names: str):
    dfs = load_testdata(spark, sf_dir)
    out = [dfs[n] for n in names]
    return out[0] if len(out) == 1 else out


def _dec(col, prec: int = 18, scale: int = 2):
    """Money discipline: the inputs are 2-decimal quantities stored as
    DOUBLE; products of them land exactly on .xx50 rounding ties where
    Spark and DuckDB double-rounding disagree. Casting to DECIMAL makes
    the arithmetic exact; round in decimal space, cast to double last
    (see module docstring)."""
    return col.cast(f"decimal({prec},{scale})")


# ----------------------------------------------------------------- joins

@register("j1_left_join_header_details", oracle="""
SELECT o_orderkey, o_orderdate, l_linenumber, l_quantity
FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
""")
def j1(spark, sf_dir):
    """J1: header ⟕ details equi-join (``arima_models.py:82-84``)."""
    orders, lineitem = _t(spark, sf_dir, "orders", "lineitem")
    return (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey, "left")
        .select("o_orderkey", "o_orderdate", "l_linenumber", "l_quantity")
    )


@register("j2_dim_join_text_cast", oracle="""
SELECT l_orderkey, l_linenumber, p_name, p_retailprice
FROM lineitem LEFT JOIN part
  ON CAST(l_partkey AS VARCHAR) = CAST(p_partkey AS VARCHAR)
""")
def j2(spark, sf_dir):
    """J2+P11: details ⟕ items dim with the reference's text cast on
    the external id (``arima_models.py:100-101``). Dim is broadcast."""
    lineitem, part = _t(spark, sf_dir, "lineitem", "part")
    return (
        lineitem.join(
            F.broadcast(part),
            lineitem.l_partkey.cast("string") == part.p_partkey.cast("string"),
            "left",
        ).select("l_orderkey", "l_linenumber", "p_name", "p_retailprice")
    )


@register("j3_filtering_inner_join", oracle="""
SELECT s_suppkey, s_name, n_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
""")
def j3(spark, sf_dir):
    """J3+P4: inner join to a filtered dim — the ``active = 1``
    filtering join (``arima_models.py:87-90``)."""
    supplier, nation, region = _t(spark, sf_dir, "supplier", "nation", "region")
    return (
        supplier
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region.filter(F.col("r_name") == "ASIA")),
              nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "s_name", "n_name")
    )


# ------------------------------------------------------------ aggregates

@register("a1_multi_func_agg", oracle="""
SELECT l_orderkey,
       ROUND(SUM(l_extendedprice), 2) AS dollars,
       MIN(l_quantity) AS min_qty,
       MIN(l_discount) AS min_disc
FROM lineitem GROUP BY l_orderkey
""")
def a1(spark, sf_dir):
    """A1: multi-function hash aggregate {sum, min, min}
    (``square_ETL.py:203-209``)."""
    lineitem = _t(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_orderkey").agg(
        F.round(F.sum("l_extendedprice"), 2).alias("dollars"),
        F.min("l_quantity").alias("min_qty"),
        F.min("l_discount").alias("min_disc"),
    )


@register("a2_agg_then_derive_null_prop", oracle="""
WITH per_order AS (
    SELECT o_orderkey,
           MIN(l_tax) AS shipping_price,
           ROUND(SUM(l_extendedprice), 2) AS subtotal
    FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderkey
)
SELECT o_orderkey, shipping_price, subtotal,
       ROUND(subtotal + shipping_price, 2) AS total_dollars
FROM per_order
""")
def a2(spark, sf_dir):
    """A2+P10: aggregate then derive total; orders with no line items
    get NULL aggregates and the NULL propagates into the total —
    the reference's NaN-shipping ⇒ NaN-total (``shopify_ETL.py:153-160``)."""
    orders, lineitem = _t(spark, sf_dir, "orders", "lineitem")
    per_order = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey, "left")
        .groupBy("o_orderkey")
        .agg(F.min("l_tax").alias("shipping_price"),
             F.round(F.sum("l_extendedprice"), 2).alias("subtotal"))
    )
    return per_order.select(
        "o_orderkey", "shipping_price", "subtotal",
        F.round(scalar.derive_total(F.col("subtotal"), F.col("shipping_price")), 2)
        .alias("total_dollars"),
    )


@register("a3_three_sum_agg", oracle="""
SELECT l_orderkey, l_returnflag,
       ROUND(SUM(l_quantity), 2) AS quantity,
       ROUND(SUM(l_extendedprice), 2) AS price,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(1 - l_discount AS DECIMAL(8,2))), 2) AS DOUBLE)
           AS dollars
FROM lineitem GROUP BY l_orderkey, l_returnflag
""")
def a3(spark, sf_dir):
    """A3: {sum, sum, sum} aggregate (``quickbooks_ETL.py:186-194``).
    ``dollars`` goes through exact DECIMAL (see :func:`_dec`)."""
    lineitem = _t(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_orderkey", "l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("quantity"),
        F.round(F.sum("l_extendedprice"), 2).alias("price"),
        F.round(
            F.sum(_dec(F.col("l_extendedprice")) * _dec(1 - F.col("l_discount"), 8)),
            2,
        ).cast("double").alias("dollars"),
    )


@register("a4_weekly_group_sum", oracle="""
SELECT date_trunc('week', o_orderdate) AS week_date,
       ROUND(SUM(o_totalprice), 2) AS weight
FROM orders GROUP BY 1
""")
def a4(spark, sf_dir):
    """A4+P12: weekly bucket + group sum (``arima_models.py:122-138``)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(scalar.week_trunc("o_orderdate").alias("week_date"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("weight"))
    )


@register("a5_reaggregate", oracle="""
WITH weekly AS (
    SELECT o_custkey, date_trunc('week', o_orderdate) AS week_date,
           SUM(o_totalprice) AS weight
    FROM orders GROUP BY 1, 2
)
SELECT o_custkey, ROUND(SUM(weight), 2) AS weight
FROM weekly WHERE week_date < TIMESTAMP '2000-01-01'
GROUP BY o_custkey
""")
def a5(spark, sf_dir):
    """A5+P2: filter partial period then re-aggregate
    (``arima_models.py:158-165``)."""
    orders = _t(spark, sf_dir, "orders")
    weekly = (
        orders.groupBy("o_custkey", scalar.week_trunc("o_orderdate").alias("week_date"))
        .agg(F.sum("o_totalprice").alias("weight"))
    )
    return (
        weekly.filter(F.col("week_date") < F.lit("2000-01-01").cast("timestamp"))  # P2
        .groupBy("o_custkey")
        .agg(F.round(F.sum("weight"), 2).alias("weight"))
    )


# --------------------------------------------------------------- windows

@register("w1_group_min_broadcast", oracle="""
SELECT event_id, user_id,
       MIN(ts) OVER (PARTITION BY user_id, CAST(ts AS DATE)) AS first_trans
FROM events
""")
def w1(spark, sf_dir):
    """W1: per-(user, day) min timestamp broadcast to every row
    (``square_ETL.py:182``)."""
    events = _t(spark, sf_dir, "events")
    return events.select(
        "event_id", "user_id",
        windows.group_min(F.col("ts"), ["user_id", F.to_date("ts")]).alias("first_trans"),
    )


@register("w2_group_count_filter", oracle="""
SELECT o_orderkey, o_custkey, n_orders FROM (
    SELECT o_orderkey, o_custkey,
           COUNT(*) OVER (PARTITION BY o_custkey) AS n_orders
    FROM orders
) WHERE n_orders > 5
""")
def w2(spark, sf_dir):
    """W2+P3: history-length window count + threshold filter
    (``arima_models.py:161-162``)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderkey", "o_custkey",
            windows.group_count(["o_custkey"]).alias("n_orders"),
        ).filter(F.col("n_orders") > 5)
    )


# ------------------------------------------------------ scalar operators

@register("p2_comparison_filter", oracle="""
SELECT l_orderkey, l_linenumber, l_shipdate
FROM lineitem WHERE l_shipdate < TIMESTAMP '1996-01-01'
""")
def p2(spark, sf_dir):
    """P2: comparison filter (``arima_models.py:158``)."""
    lineitem = _t(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
        .select("l_orderkey", "l_linenumber", "l_shipdate")
    )


@register("p6_fixed_tz_shift", oracle="""
SELECT event_id, ts - INTERVAL 7 HOUR AS local_ts FROM events
""")
def p6(spark, sf_dir):
    """P6: fixed −7h offset (``square_ETL.py:176``)."""
    events = _t(spark, sf_dir, "events")
    return events.select("event_id", scalar.shift_fixed_offset("ts").alias("local_ts"))


@register("p7_date_time_extract", oracle="""
SELECT event_id, strftime(ts, '%Y-%m-%d') AS d, strftime(ts, '%H:%M:%S') AS t
FROM events
""")
def p7(spark, sf_dir):
    """P7: date / time split (``square_ETL.py:177-178``). Both halves
    are emitted as strings: Spark DATE and DuckDB DATE surface as
    different pandas dtypes and would hash-mismatch in the driver."""
    events = _t(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd").alias("d"),
        scalar.extract_time("ts").alias("t"),
    )


@register("p8_weekday_monday0", oracle="""
SELECT event_id, isodow(ts) - 1 AS dow FROM events
""")
def p8(spark, sf_dir):
    """P8: pandas weekday convention Mon=0..Sun=6 (``square_ETL.py:181``)
    — Spark ``weekday``, NOT ``dayofweek`` (Sun=1)."""
    events = _t(spark, sf_dir, "events")
    return events.select("event_id", scalar.day_of_week("ts").alias("dow"))


@register("p9_market_classification", oracle="""
WITH enriched AS (
    SELECT event_id,
           isodow(ts) - 1 AS dow,
           strftime(MIN(ts) OVER (PARTITION BY user_id, CAST(ts AS DATE)),
                    '%H:%M:%S') AS first_trans
    FROM events
)
SELECT event_id,
       CASE
         WHEN dow = 6 AND first_trans > '07:00:00' THEN 'San Rafael Sunday'
         WHEN dow = 6 AND first_trans < '07:00:00' THEN 'Alameda Antique Faire'
         WHEN dow = 5 THEN 'Danville Farmers Market'
         WHEN dow = 3 THEN 'San Rafael Thurs'
         ELSE 'other'
       END AS market
FROM enriched
""")
def p9(spark, sf_dir):
    """P9+W1+P8: the market-classification cascade with np.where
    overwrite order and the 07:00:00-exact fallthrough
    (``square_ETL.py:185-190``)."""
    events = _t(spark, sf_dir, "events")
    enriched = events.select(
        "event_id",
        scalar.day_of_week("ts").alias("dow"),
        scalar.extract_time(
            windows.group_min(F.col("ts"), ["user_id", F.to_date("ts")])
        ).alias("first_trans"),
    )
    return enriched.select(
        "event_id",
        scalar.classify_market(F.col("dow"), F.col("first_trans")).alias("market"),
    )


@register("p10_arith_null_propagation", oracle="""
SELECT l_orderkey, l_linenumber,
       CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2))
                  * CAST(1 - l_discount AS DECIMAL(8,2)), 2) AS DOUBLE) AS net,
       CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2))
                  * CAST(1 - NULLIF(l_discount, 0.0) AS DECIMAL(8,2)), 2)
            AS DOUBLE) AS net_nullable
FROM lineitem
""")
def p10(spark, sf_dir):
    """P10+N3: column arithmetic with NULL propagation
    (``shopify_ETL.py:151,160``); exact DECIMAL for the product."""
    lineitem = _t(spark, sf_dir, "lineitem")
    price = _dec(F.col("l_extendedprice"))
    return lineitem.select(
        "l_orderkey", "l_linenumber",
        F.round(price * _dec(1 - F.col("l_discount"), 8), 2)
        .cast("double").alias("net"),
        F.round(price * _dec(1 - F.nullif("l_discount", F.lit(0.0)), 8), 2)
        .cast("double").alias("net_nullable"),
    )


@register("p12_week_trunc", oracle="""
SELECT DISTINCT date_trunc('week', l_shipdate) AS week_start FROM lineitem
""")
def p12(spark, sf_dir):
    """P12: Monday-start week truncation (``arima_models.py:80``)."""
    lineitem = _t(spark, sf_dir, "lineitem")
    return lineitem.select(
        scalar.week_trunc("l_shipdate").alias("week_start")
    ).distinct()


@register("p15_regexp_extract", oracle="""
SELECT doc_id, regexp_extract(text, '([A-Za-z]+)', 1) AS first_word
FROM documents
""")
def p15(spark, sf_dir):
    """P15: regex extraction (``square_ETL.py:92`` batch-token analog)."""
    documents = _t(spark, sf_dir, "documents")
    return documents.select(
        "doc_id", F.regexp_extract("text", r"([A-Za-z]+)", 1).alias("first_word")
    )


# ---------------------------------------------------------------- set ops

@register("u1_union_all", oracle="""
SELECT c_custkey AS id, c_name AS name, 'customer' AS src FROM customer
UNION ALL
SELECT s_suppkey AS id, s_name AS name, 'supplier' AS src FROM supplier
""")
def u1(spark, sf_dir):
    """U1: UNION ALL of identically-shaped branches
    (``arima_models.py:126-137``)."""
    customer, supplier = _t(spark, sf_dir, "customer", "supplier")
    c = customer.select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("name"),
        F.lit("customer").alias("src"),
    )
    s = supplier.select(
        F.col("s_suppkey").alias("id"), F.col("s_name").alias("name"),
        F.lit("supplier").alias("src"),
    )
    return c.unionByName(s)


@register("u5_distinct_sorted", oracle="""
SELECT DISTINCT o_orderpriority FROM orders
""")
def u5(spark, sf_dir):
    """U5: distinct key list (``arima_models.py:194``; order applied by
    the consumer — the driver compare is order-insensitive)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.select("o_orderpriority").distinct()


@register("u6_cte_sql", oracle="""
WITH spend AS (
    SELECT o_custkey, SUM(o_totalprice) AS t
    FROM orders GROUP BY o_custkey
)
SELECT c_mktsegment, ROUND(SUM(t), 2) AS total_spend
FROM spend JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""")
def u6(spark, sf_dir):
    """U6: CTE / named subquery via the Spark SQL API
    (``arima_models.py:77-120``)."""
    register_testdata(spark, sf_dir)
    return spark.sql("""
        WITH spend AS (
            SELECT o_custkey, SUM(o_totalprice) AS t
            FROM orders GROUP BY o_custkey
        )
        SELECT c_mktsegment, ROUND(SUM(t), 2) AS total_spend
        FROM spend JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """)


# ------------------------------------------------- nested-data operators

@register("n1_explode_array", oracle="""
SELECT vec_id, ROUND(CAST(UNNEST(embedding) AS DOUBLE), 6) AS val
FROM embeddings
""")
def n1(spark, sf_dir):
    """N1: array → rows via built-in explode (``square_ETL.py:122-156``)."""
    embeddings = _t(spark, sf_dir, "embeddings")
    return (
        embeddings.select("vec_id", F.explode("embedding").alias("e"))
        .select("vec_id", F.round(F.col("e").cast("double"), 6).alias("val"))
    )


@register("n2_json_field_access", oracle="""
SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
FROM events
""")
def n2(spark, sf_dir):
    """N2: nested/semi-structured field access (``square_ETL.py:125``;
    props is a JSON string column here)."""
    events = _t(spark, sf_dir, "events")
    return events.select(
        "event_id", F.get_json_object("props", "$.k").cast("int").alias("k")
    )


@register("n4_array_filter", oracle="""
SELECT vec_id, len(list_filter(embedding, x -> x > 0)) AS n_pos
FROM embeddings
""")
def n4(spark, sf_dir):
    """N4: array-of-element filter before use (``quickbooks_ETL.py:137``)."""
    embeddings = _t(spark, sf_dir, "embeddings")
    return embeddings.select(
        "vec_id",
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
    )


@register("n5_array_join", oracle="""
SELECT doc_id, array_to_string(string_split(text, ' ')[1:3], ';') AS head3
FROM documents
""")
def n5(spark, sf_dir):
    """N5: join array elements to a delimited string
    (``square_ETL.py:138``)."""
    documents = _t(spark, sf_dir, "documents")
    return documents.select(
        "doc_id",
        F.array_join(F.slice(F.split("text", " "), 1, 3), ";").alias("head3"),
    )


@register("n6_units_normalization", oracle="""
SELECT l_orderkey, l_linenumber, ROUND(l_extendedprice / 100.0, 4) AS dollars
FROM lineitem
""")
def n6(spark, sf_dir):
    """N6: integer cents → dollars (``square_ETL.py:128``)."""
    lineitem = _t(spark, sf_dir, "lineitem")
    return lineitem.select(
        "l_orderkey", "l_linenumber",
        F.round(scalar.cents_to_dollars("l_extendedprice"), 4).alias("dollars"),
    )


# ---------------------------------------------- composite OLAP patterns

@register("tpch_q1_pricing_summary", oracle="""
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(1 - l_discount AS DECIMAL(8,2))), 2) AS DOUBLE)
           AS sum_disc_price,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(1 - l_discount AS DECIMAL(8,2))
                      * CAST(1 + l_tax AS DECIMAL(8,2))), 2) AS DOUBLE)
           AS sum_charge,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             / COUNT(*), 4) AS avg_qty,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             / COUNT(*), 4) AS avg_price,
       ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(8,2))) AS DOUBLE)
             / COUNT(*), 4) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""")
def tpch_q1(spark, sf_dir):
    """TPC-H Q1 shape: the canonical multi-aggregate scan the engine's
    A-family generalizes to. Money sums via exact DECIMAL; averages as
    (exact decimal sum → double) / count so both engines divide the
    same two numbers."""
    lineitem = _t(spark, sf_dir, "lineitem")
    price = _dec(F.col("l_extendedprice"))
    one_minus_disc = _dec(1 - F.col("l_discount"), 8)
    one_plus_tax = _dec(1 + F.col("l_tax"), 8)
    n = F.count(F.lit(1))
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(price * one_minus_disc), 2).cast("double")
            .alias("sum_disc_price"),
            F.round(F.sum(price * one_minus_disc * one_plus_tax), 2).cast("double")
            .alias("sum_charge"),
            F.round(F.sum(_dec(F.col("l_quantity"))).cast("double") / n, 4)
            .alias("avg_qty"),
            F.round(F.sum(price).cast("double") / n, 4).alias("avg_price"),
            F.round(F.sum(_dec(F.col("l_discount"), 8)).cast("double") / n, 4)
            .alias("avg_disc"),
            n.alias("count_order"),
        )
    )


@register("topk_per_group", oracle="""
SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey) AS rn
    FROM orders
) WHERE rn <= 3
""")
def topk(spark, sf_dir):
    """Top-K per group via ranking window (deterministic tiebreak on the
    key so both engines agree)."""
    orders = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey", "o_orderkey", "o_totalprice",
            F.row_number().over(w).alias("rn"),
        ).filter(F.col("rn") <= 3)
    )


@register("sessionize_events", oracle="""
WITH e AS (
    -- Integer epoch microseconds on BOTH engines: epoch_ns(ts) // 1000
    -- truncates nanos toward zero (as does Spark's ingestion
    -- `ts DIV 1000` — identical semantics, incl. pre-1970) whether the
    -- driver's DuckDB reads the parquet column as TIMESTAMP (micros:
    -- *1000 then //1000 is exact) or TIMESTAMP_NS (full nanos).  No
    -- timestamp/interval semantics anywhere, so no DuckDB-version or
    -- encoding behavior can diverge.
    SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us FROM events
), gaps AS (
    SELECT event_id, user_id, ts_us,
           CASE WHEN ts_us - LAG(ts_us) OVER (PARTITION BY user_id
                                              ORDER BY ts_us, event_id)
                     > 1800000000
                THEN 1 ELSE 0 END AS new_session
    FROM e
)
SELECT event_id, user_id,
       -- ::BIGINT: DuckDB SUM(int) is HUGEINT (float64 via pandas);
       -- Spark's running sum is int64 — the driver's value hash is
       -- type-sensitive, so HUGEINT must never reach an output column.
       (SUM(new_session) OVER (PARTITION BY user_id
                               ORDER BY ts_us, event_id
                               ROWS UNBOUNDED PRECEDING))::BIGINT
           AS session_id
FROM gaps
""")
def sessionize(spark, sf_dir):
    """Sessionization: lag-gap + running sum — the batch analog of
    streaming session windows (engine extension; guide §Common OLAP).

    Both engines window-order AND gap-compare on int64 epoch
    microseconds so the comparison is environment-invariant (the
    r2/r3 hash-reds were driver-side timestamp-semantics divergence;
    the oracle's previous `INTERVAL 30 MINUTE` compare is gone)."""
    events = _t(spark, sf_dir, "events")
    ts_us = F.unix_micros(F.col("ts"))
    order = [ts_us.asc(), F.col("event_id").asc()]
    w_lag = W.partitionBy("user_id").orderBy(*order)
    w_run = w_lag.rowsBetween(W.unboundedPreceding, W.currentRow)
    gap = F.when(
        ts_us - F.lag(ts_us).over(w_lag) > 1_800_000_000,
        F.lit(1),
    ).otherwise(F.lit(0))
    return (
        events.select("event_id", "user_id", "ts", gap.alias("new_session"))
        .select(
            "event_id", "user_id",
            F.sum("new_session").over(w_run).alias("session_id"),
        )
    )


# --- one-round diagnostic probes (VERDICT r3 item 1) -----------------
#
# sessionize_events failed the driver's gate in r2+r3 while passing the
# local driver_sim bit-for-bit, i.e. a driver-environment divergence in
# how the events.ts TIMESTAMP(NANOS) column is read/compared.  These
# three integer-only probes binary-search WHICH construct diverges:
#   probe_ts_epoch_us       — raw per-event epoch micros (ingestion seam)
#   probe_ts_epoch_us_cast  — same via DuckDB's ts::TIMESTAMP cast path
#                             (red here + green above ⇒ the cast rounds)
#   probe_ts_lag_gap        — windowed lag alignment in pure int space
# All three green ⇒ the seam is sound and sessionize must be green too.


@register("probe_ts_epoch_us", oracle="""
SELECT event_id, epoch_ns(ts) // 1000 AS ts_us FROM events
""")
def probe_ts_epoch_us(spark, sf_dir):
    """Driver-environment probe: per-event int64 epoch micros.  Spark's
    ingestion truncates nanos toward zero (`ts DIV 1000`,
    warehouse.load_table); the oracle truncates identically via
    epoch_ns // 1000 — the same under every DuckDB
    parquet-timestamp behavior (micros or TIMESTAMP_NS read)."""
    events = _t(spark, sf_dir, "events")
    return events.select(
        "event_id", F.unix_micros(F.col("ts")).alias("ts_us")
    )


@register("probe_ts_epoch_us_cast", oracle="""
SELECT event_id, epoch_us(ts::TIMESTAMP) AS ts_us FROM events
""")
def probe_ts_epoch_us_cast(spark, sf_dir):
    """Same probe through DuckDB's ts::TIMESTAMP cast: if the driver's
    DuckDB reads TIMESTAMP_NS and its ns→us cast ROUNDS instead of
    truncating toward zero (as ``// 1000`` does for these positive
    epochs), this row goes red while probe_ts_epoch_us stays green —
    localizing the divergence to the cast construct."""
    events = _t(spark, sf_dir, "events")
    return events.select(
        "event_id", F.unix_micros(F.col("ts")).alias("ts_us")
    )


@register("probe_ts_lag_gap", oracle="""
WITH e AS (
    SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us FROM events
)
SELECT event_id,
       COALESCE(ts_us - LAG(ts_us) OVER (PARTITION BY user_id
                                         ORDER BY ts_us, event_id),
                -1) AS gap_us
FROM e
""")
def probe_ts_lag_gap(spark, sf_dir):
    """Windowed probe: per-user lag gap in int64 micros (first event of
    a user → -1).  Green ⇒ window partition/order/lag alignment agrees
    across engines in integer space, isolating any remaining sessionize
    divergence to the comparison construct itself."""
    events = _t(spark, sf_dir, "events")
    ts_us = F.unix_micros(F.col("ts"))
    w = W.partitionBy("user_id").orderBy(ts_us.asc(), F.col("event_id").asc())
    return events.select(
        "event_id",
        F.coalesce(ts_us - F.lag(ts_us).over(w), F.lit(-1)).alias("gap_us"),
    )


@register("events_session_window", oracle="""
WITH gaps AS (
    SELECT user_id, event_id, ts, value,
           CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id)
                     >= INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_session
    FROM events
), sess AS (
    SELECT user_id, ts, value,
           SUM(new_session) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_id
    FROM gaps
)
SELECT min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       user_id,
       count(*) AS n_events,
       round(sum(value), 2) AS session_value
FROM sess GROUP BY user_id, session_id
""")
def session_window_q(spark, sf_dir):
    """Batch run of the STREAMING session-window aggregation
    (streaming/intraday.session_windows — native F.session_window):
    one row per merged session with start / end(=last+gap) / count /
    value. Boundary semantics differ from the lag-gap sessionize op:
    session_window merges an event only while ts < previous end, so a
    gap of EXACTLY 30:00 starts a new session (>= in the oracle),
    whereas sessionize_events keeps it (> in that oracle) — both
    faithful to their engines' definitions, both value-gated.
    tests/test_streaming.py proves stream ≡ batch for this shape."""
    from .streaming import intraday

    return intraday.session_windows(_t(spark, sf_dir, "events"))


@register("events_tumbling_window", oracle="""
SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS window_start,
       event_type,
       COUNT(*) AS n,
       ROUND(SUM(value), 2) AS total_value
FROM events GROUP BY 1, 2
""")
def tumbling(spark, sf_dir):
    """30-minute tumbling event-time windows — batch twin of the
    streaming intraday aggregation (README 'Quittin Time' use case)."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n",
                "total_value")
    )


@register("events_sliding_window", oracle="""
WITH b AS (
    SELECT event_type, value,
           time_bucket(INTERVAL 15 MINUTE, ts) AS slide_b
    FROM events
)
SELECT slide_b - (o * INTERVAL 15 MINUTE) AS window_start,
       event_type,
       COUNT(*) AS n,
       ROUND(SUM(value), 2) AS total_value
FROM b, (SELECT unnest([0, 1]) AS o)
GROUP BY 1, 2
""")
def sliding(spark, sf_dir):
    """30-minute windows HOPPING every 15 minutes (Flink/KSQL's HOP,
    Spark's two-argument F.window) — every event lands in exactly
    width/slide = 2 windows. The oracle replays the assignment
    arithmetic: an event in 15-minute slide bucket b belongs to the
    windows starting at b and b − 15min (epoch-aligned both engines,
    the same time_bucket origin the tumbling gate pins). Plan: one
    explode over the per-event window list + one aggregate — the
    exact shape Structured Streaming gives the same query on a
    stream."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "30 minutes", "15 minutes")
                       .alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n", "total_value")
    )


@register("events_path_transitions", oracle="""
WITH seq AS (
    SELECT user_id, event_type,
           LEAD(event_type) OVER (
               PARTITION BY user_id
               ORDER BY ts, event_type, round(value, 6)
           ) AS next_type
    FROM events
)
SELECT event_type, next_type, COUNT(*) AS n
FROM seq WHERE next_type IS NOT NULL
GROUP BY 1, 2
""")
def path_transitions(spark, sf_dir):
    """Per-user event-path transition matrix (the Markov-chain /
    Sankey input every product-analytics stack derives): for each
    consecutive event pair within a user's timeline, count
    (event_type → next_type). One shuffle (the per-user window),
    then an aggregate over |types|² keys. The window ORDER BY
    carries (ts, event_type, value) so same-timestamp events order
    deterministically on both engines."""
    events = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(
        "ts", "event_type", F.round("value", 6))
    return (
        events.select("user_id", "event_type",
                      F.lead("event_type").over(w).alias("next_type"))
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ----------------------------- engine-completeness extensions (no
# reference counterpart; the operators a full warehouse user expects)

@register("j4_semi_join", oracle="""
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 200000)
""")
def j4(spark, sf_dir):
    """Left-semi join (EXISTS): customers with any big order."""
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    big = orders.filter(F.col("o_totalprice") > 200000)
    return (
        customer.join(big, customer.c_custkey == big.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
    )


@register("j5_anti_join", oracle="""
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""")
def j5(spark, sf_dir):
    """Left-anti join (NOT EXISTS): customers with no orders."""
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


@register("a6_rollup", oracle="""
SELECT l_returnflag, l_linestatus, ROUND(SUM(l_quantity), 2) AS sum_qty
FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
""")
def a6(spark, sf_dir):
    """ROLLUP hierarchy totals (subtotal + grand-total rows)."""
    lineitem = _t(spark, sf_dir, "lineitem")
    return (
        lineitem.rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
    )


@register("a7_cube", oracle="""
SELECT l_returnflag, l_linestatus, ROUND(SUM(l_quantity), 2) AS sum_qty
FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
""")
def a7(spark, sf_dir):
    """CUBE: every grouping-set combination."""
    lineitem = _t(spark, sf_dir, "lineitem")
    return (
        lineitem.cube("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
    )


@register("a8_pivot", oracle="""
SELECT l_returnflag,
       ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS O,
       ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS F
FROM lineitem GROUP BY l_returnflag
""")
def a8(spark, sf_dir):
    """Pivot with a fixed value list (long → wide)."""
    lineitem = _t(spark, sf_dir, "lineitem")
    out = (
        lineitem.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )
    return out.select("l_returnflag", F.col("O"), F.col("F"))


@register("a9_count_distinct", oracle="""
SELECT o_orderpriority,
       COUNT(DISTINCT o_custkey) AS n_custs,
       COUNT(*) AS n_orders
FROM orders GROUP BY o_orderpriority
""")
def a9(spark, sf_dir):
    """Exact distinct-count aggregate (the approx variant
    approx_count_distinct is engine-native but HLL sketches are not
    cross-engine comparable, so the gate pins the exact path)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_custs"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register("w3_running_sum_frame", oracle="""
SELECT o_orderkey, o_custkey,
       ROUND(SUM(o_totalprice) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS UNBOUNDED PRECEDING), 2) AS running_spend
FROM orders
""")
def w3(spark, sf_dir):
    """Explicit window frame: per-customer running spend in event
    order (sequential f64 adds over an identical order — exact)."""
    orders = _t(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return orders.select(
        "o_orderkey", "o_custkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )


@register("w4_lead_lag", oracle="""
SELECT o_orderkey, o_custkey,
       LAG(o_orderkey) OVER (PARTITION BY o_custkey
                             ORDER BY o_orderdate, o_orderkey) AS prev_order,
       LEAD(o_orderkey) OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey) AS next_order
FROM orders
""")
def w4(spark, sf_dir):
    """lead/lag navigation within ordered partitions."""
    orders = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_orderkey", "o_custkey",
        F.lag("o_orderkey").over(w).alias("prev_order"),
        F.lead("o_orderkey").over(w).alias("next_order"),
    )


@register("u9_intersect_except", oracle="""
SELECT o_custkey AS k, 'both' AS tag FROM orders WHERE o_orderstatus = 'O'
INTERSECT
SELECT o_custkey, 'both' FROM orders WHERE o_orderstatus = 'F'
UNION ALL
(SELECT o_custkey, 'only_open' FROM orders WHERE o_orderstatus = 'O'
 EXCEPT
 SELECT o_custkey, 'only_open' FROM orders WHERE o_orderstatus = 'F')
""")
def u9(spark, sf_dir):
    """INTERSECT / EXCEPT set semantics (distinct forms)."""
    orders = _t(spark, sf_dir, "orders")
    open_k = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("k")
    )
    done_k = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("k")
    )
    both = open_k.intersect(done_k).select("k", F.lit("both").alias("tag"))
    # subtract == EXCEPT DISTINCT (exceptAll would keep multiplicity
    # leftovers for keys present on both sides)
    only_open = open_k.subtract(done_k).select(
        "k", F.lit("only_open").alias("tag")
    )
    return both.unionByName(only_open)


# ------------------------- temporal joins (Spark-lacking operators,
# composed from DataFrame ops; DuckDB has native forms for the oracle)

from .ops import temporal  # noqa: E402


@register("asof_join_backward", oracle="""
SELECT l.event_id, l.user_id, r.value AS value_r
FROM (SELECT * FROM events WHERE event_type = 'click') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
""")
def asof_q(spark, sf_dir):
    """As-of join: each click gets the most recent preceding purchase
    value per user — union-and-carry composition vs DuckDB's native
    ASOF JOIN."""
    events = _t(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click")
    purchases = events.filter(F.col("event_type") == "purchase")
    out = temporal.asof_join(
        clicks, purchases.select("user_id", "ts", "value"),
        on="ts", by="user_id", value_cols=["value"],
    )
    return out.select("event_id", "user_id", "value_r")


@register("range_join_bucketed", oracle="""
SELECT l.event_id, r.ts AS ts_r
FROM (SELECT * FROM events WHERE event_type = 'click') l
JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
  ON l.user_id = r.user_id
 AND r.ts <= l.ts AND r.ts >= l.ts - INTERVAL 30 MINUTE
""")
def range_q(spark, sf_dir):
    """Range join: purchases within 30 min before each click —
    time-bucketed candidate join + exact filter vs DuckDB's direct
    inequality join."""
    events = _t(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    )
    out = temporal.range_join(
        clicks, purchases, on="ts", by="user_id", window_seconds=1800
    )
    return out.select("event_id", F.col("ts_r"))


@register("p16_string_functions", oracle="""
SELECT doc_id,
       upper(source) AS up, lower(source) AS lo,
       trim(concat(' ', source, ' ')) AS trimmed,
       substr(source, 1, 3) AS pre,
       replace(source, 'src', 'origin_') AS repl,
       lpad(CAST(doc_id AS VARCHAR), 6, '0') AS padded,
       concat_ws('|', source, lang) AS joined,
       length(source) AS n
FROM documents
""")
def p16(spark, sf_dir):
    """String-function battery (portable semantics pinned across
    engines: case, trim, substr, replace, pad, concat)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.upper("source").alias("up"), F.lower("source").alias("lo"),
        F.trim(F.concat(F.lit(" "), F.col("source"), F.lit(" "))).alias("trimmed"),
        F.substring("source", 1, 3).alias("pre"),
        F.replace(F.col("source"), F.lit("src"), F.lit("origin_")).alias("repl"),
        F.lpad(F.col("doc_id").cast("string"), 6, "0").alias("padded"),
        F.concat_ws("|", "source", "lang").alias("joined"),
        F.length("source").alias("n"),
    )


@register("p17_null_handling", oracle="""
SELECT l_orderkey, l_linenumber,
       coalesce(NULLIF(l_discount, 0.0), -1.0) AS disc_or_flag,
       CASE WHEN l_tax IS NULL THEN 'null' ELSE 'set' END AS tax_state,
       ifnull(NULLIF(l_returnflag, 'N'), 'neutral') AS flag
FROM lineitem
""")
def p17(spark, sf_dir):
    """NULL-handling battery: nullif / coalesce / ifnull / IS NULL."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber",
        F.coalesce(F.nullif("l_discount", F.lit(0.0)), F.lit(-1.0))
        .alias("disc_or_flag"),
        F.when(F.col("l_tax").isNull(), F.lit("null")).otherwise(F.lit("set"))
        .alias("tax_state"),
        F.ifnull(F.nullif("l_returnflag", F.lit("N")), F.lit("neutral"))
        .alias("flag"),
    )


@register("n7_from_json_struct", oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
       CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_mod
FROM events
""")
def n7(spark, sf_dir):
    """Schema-on-read JSON parsing: from_json into a typed struct
    (vs N2's path extraction)."""
    ev = _t(spark, sf_dir, "events")
    parsed = ev.select(
        "event_id",
        F.from_json("props", "k int").alias("p"),
    )
    return parsed.select(
        "event_id", F.col("p.k").alias("k"), (F.col("p.k") % 10).alias("k_mod")
    )


@register("a10_approx_aggregates", oracle=None)  # sketches are engine-specific
def a10(spark, sf_dir):
    """Approximate aggregates (HLL distinct, quantile sketch) — native
    Spark sketches; rows-only gate (cross-engine sketch values differ
    by design; exactness is pinned by a9_count_distinct)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey").alias("approx_custs"),
        F.percentile_approx("o_totalprice", 0.5).alias("approx_median"),
        F.percentile_approx("o_totalprice", 0.25).alias("approx_q25"),
        F.percentile_approx("o_totalprice", 0.75).alias("approx_q75"),
    )


@register("a13_hll_distinct_portable", oracle="""
WITH h AS (
    SELECT o_orderpriority AS grp,
           ('0x' || substr(md5(o_custkey::VARCHAR), 1, 8))::BIGINT AS h
    FROM orders
    WHERE o_custkey IS NOT NULL  -- NULL keys never occupy a register
                                 -- (COUNT DISTINCT semantics; matches
                                 -- the engine's r9 NULL-key filter)
), r AS (
    SELECT grp, h % 256 AS idx,
           CASE WHEN h // 256 = 0 THEN 25
                ELSE instr(lpad(bin(h // 256), 24, '0'), '1') END AS rho
    FROM h
), regs AS (
    SELECT grp, idx, MAX(rho) AS register FROM r GROUP BY grp, idx
), s AS (
    SELECT grp,
           SUM(power(0.5, register)) + (256 - COUNT(*)) * 1.0 AS ssum,
           256 - COUNT(*) AS v
    FROM regs GROUP BY grp
), ex AS (
    SELECT o_orderpriority AS grp,
           COUNT(DISTINCT o_custkey)::BIGINT AS exact_distinct
    FROM orders GROUP BY grp
)
SELECT s.grp AS o_orderpriority,
       ROUND(CASE WHEN (0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0
                       / ssum <= 2.5 * 256.0 AND v > 0
                  THEN 256.0 * ln(256.0 / v)
                  ELSE (0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0
                       / ssum END, 4) AS hll_distinct,
       ex.exact_distinct
FROM s JOIN ex ON s.grp = ex.grp
""")
def a13(spark, sf_dir):
    """Portable HyperLogLog distinct — the engine-owned, VALUE-ORACLED
    sibling of a10's native sketches: md5-derived 32-bit hash, m=256
    registers via textual leftmost-1 rank (pure integer/string ops),
    dyadic-exact harmonic sum, linear-counting fallback. Registers
    merge with MAX across shards (pytest pins merge ≡ single pass), so
    distinct counts stay incremental at 100 TB. Exact COUNT(DISTINCT)
    rides along to exhibit the ~6.5% (1.04/√256) error envelope."""
    from .ops import sketches

    orders = _t(spark, sf_dir, "orders")
    est = sketches.approx_distinct(orders, "o_custkey", ["o_orderpriority"])
    exact = orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("exact_distinct"))
    return est.join(exact, "o_orderpriority")


@register("a14_histogram_quantile_portable", oracle="""
WITH rng AS (
    SELECT o_orderstatus AS grp, MIN(o_totalprice)::DOUBLE AS lo,
           MAX(o_totalprice)::DOUBLE AS hi, COUNT(*) AS n
    FROM orders GROUP BY 1
), hist AS (
    SELECT o.o_orderstatus AS grp, r.lo, r.hi, r.n,
           CASE WHEN r.hi = r.lo THEN 0
                ELSE least(floor((o.o_totalprice::DOUBLE - r.lo)
                                 / ((r.hi - r.lo) / 128))::BIGINT, 127)
           END AS bin,
           COUNT(*) AS cnt
    FROM orders o JOIN rng r ON o.o_orderstatus = r.grp
    GROUP BY 1, 2, 3, 4, 5
), cumh AS (
    SELECT *, SUM(cnt) OVER (PARTITION BY grp ORDER BY bin
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
    FROM hist
), qs AS (SELECT unnest([0.25, 0.5, 0.75]) AS q),
win AS (
    SELECT grp, q, bin, cnt, cum, lo, hi, n,
           ROW_NUMBER() OVER (PARTITION BY grp, q ORDER BY bin) AS rk
    FROM cumh CROSS JOIN qs
    WHERE cum >= q * n
)
SELECT grp AS o_orderstatus, q,
       ROUND(CASE WHEN hi = lo THEN lo
             ELSE lo + ((hi - lo) / 128)
                  * (bin + (q * n - (cum - cnt)) / cnt) END, 4)
           AS quantile_est
FROM win WHERE rk = 1
""")
def a14(spark, sf_dir):
    """Portable histogram-quantile sketch — the value-oracled,
    mergeable sibling of a10's percentile_approx (engine-internal
    KLL) and a12's exact percentile (full-buffer): 128 equi-width
    bins from one broadcast min/max pass, per-(group,bin) counts with
    map-side combine (≤128 rows/group survive the shuffle), linear
    interpolation inside the target-rank bin. Bin counts from
    disjoint shards ADD, so quantiles stay incremental at 100 TB;
    error ≤ bin width regardless of data size. Pytest pins merge ≡
    single pass + accuracy vs exact; ``ops/sketches.py``."""
    from .ops import sketches

    orders = _t(spark, sf_dir, "orders")
    return sketches.histogram_quantile(
        orders, "o_totalprice", ["o_orderstatus"], [0.25, 0.5, 0.75])


@register("a15_countmin_heavy_hitters", oracle="""
WITH rows4 AS (SELECT unnest([0, 1, 2, 3]) AS row),
cells AS (
    SELECT o_orderpriority AS grp, row,
           ('0x' || substr(md5(o_custkey::VARCHAR), 1 + 8 * row, 8))::BIGINT
               % 256 AS col
    FROM orders CROSS JOIN rows4
), sk AS (
    SELECT grp, row, col, COUNT(*) AS cnt FROM cells GROUP BY 1, 2, 3
), cand AS (
    SELECT DISTINCT o_orderpriority AS grp, o_custkey AS k FROM orders
), probe AS (
    SELECT c.grp, c.k, r.row,
           ('0x' || substr(md5(c.k::VARCHAR), 1 + 8 * r.row, 8))::BIGINT
               % 256 AS col
    FROM cand c CROSS JOIN rows4 r
), est AS (
    SELECT p.grp, p.k, MIN(coalesce(s.cnt, 0))::BIGINT AS cm_count
    FROM probe p LEFT JOIN sk s
      ON p.grp = s.grp AND p.row = s.row AND p.col = s.col
    GROUP BY 1, 2
)
SELECT grp AS o_orderpriority, k AS o_custkey, cm_count, rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY grp
          ORDER BY cm_count DESC, k) AS rank FROM est)
WHERE rank <= 5
""")
def a15(spark, sf_dir):
    """Portable count-min heavy hitters — the ADDITIVE member of the
    sketch family (HLL a13 merges with MAX, histogram a14 and this
    with SUM): depth-4 × width-256 cells from independent 8-hex
    slices of ONE md5 per key, point estimate = min over the 4 cells
    (one-sided: never undercounts), top-5 per group with key
    tiebreak. Hot-key detection feeding skew_profile/salted_join at
    100 TB without an exact per-key groupBy: the sketch is a fixed
    ≤1024-row-per-group summary merged incrementally across ingest
    (pytest pins shard-merge ≡ single pass), candidates are only the
    probed batch's keys. ``ops/sketches.py``."""
    from .ops import sketches

    orders = _t(spark, sf_dir, "orders")
    return (
        sketches.cm_heavy_hitters(orders, "o_custkey",
                                  ["o_orderpriority"], k=5)
        .select("o_orderpriority", "o_custkey", "cm_count",
                F.col("rank").cast("long").alias("rank"))
    )


@register("a16_bloom_membership", oracle="""
WITH dimk AS (
    SELECT DISTINCT s_suppkey AS k FROM supplier WHERE s_acctbal > 5000
), rows4 AS (SELECT unnest([0, 1, 2, 3]) AS r),
pos AS (
    SELECT k, ('0x' || substr(md5(k::VARCHAR), 1 + 8 * r, 8))::BIGINT
              % 8192 AS p
    FROM dimk CROSS JOIN rows4
), bloom AS (
    SELECT p // 32 AS word_idx,
           bit_or(CAST(pow(2, p % 32) AS BIGINT)) AS word
    FROM pos GROUP BY 1
), factk AS (
    SELECT DISTINCT l_suppkey AS k FROM lineitem
), fpos AS (
    SELECT k, ('0x' || substr(md5(k::VARCHAR), 1 + 8 * r, 8))::BIGINT
              % 8192 AS p
    FROM factk CROSS JOIN rows4
), checkbits AS (
    SELECT f.k,
           MIN(CASE WHEN (b.word & CAST(pow(2, f.p % 32) AS BIGINT)) <> 0
                    THEN 1 ELSE 0 END) AS allset
    FROM fpos f LEFT JOIN bloom b ON f.p // 32 = b.word_idx
    GROUP BY f.k
)
SELECT c.k AS l_suppkey, (allset = 1) AS bloom_pass,
       (d.k IS NOT NULL) AS present
FROM checkbits c LEFT JOIN dimk d ON c.k = d.k
""")
def a16(spark, sf_dir):
    """Bloom runtime-filter membership — the IDEMPOTENT member of the
    portable sketch family (HLL MAX / histogram+count-min SUM / bloom
    OR): k=4 independent 8-hex md5 slices per key into m=8192 bits
    packed as 32-bit words, built over the filtered supplier keys and
    probed by every distinct lineitem suppkey as a LITERAL word array
    — pure codegen on the fact side, zero joins, zero shuffle (the
    semi-join pushdown / DPP shape a 100 TB fact⋈dim wants below its
    shuffle). Hash-gates bloom_pass AND exact membership per key, so
    the one-sided guarantee (present ⇒ pass) is value-checked row by
    row; ``ops/sketches.py`` (bloom_build/bloom_prune)."""
    from .ops import sketches

    sup = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    dim = (sup.filter(F.col("s_acctbal") > 5000)
           .select(F.col("s_suppkey").alias("k")).distinct())
    words = sketches.bloom_words_literal(
        sketches.bloom_build(dim, "k", []))
    factk = li.select(F.col("l_suppkey").alias("k")).distinct()
    probed = factk.select(
        F.col("k").alias("l_suppkey"),
        sketches.bloom_might_contain("k", words).alias("bloom_pass"))
    return (
        probed.join(dim.select(F.col("k").alias("l_suppkey"),
                               F.lit(1).alias("_p")),
                    "l_suppkey", "left")
        .select("l_suppkey", "bloom_pass",
                F.col("_p").isNotNull().alias("present"))
    )


def _zorder_oracle() -> str:
    """Replay of the 2-dim × 8-bit Morton interleave as a generated
    integer expression: bit i of dim d lands at position 2i+d."""
    terms = " + ".join(
        f"((b{d} >> {i}) & 1) * {1 << (2 * i + d)}"
        for i in range(8) for d in range(2))
    return f"""
WITH rng AS (
    SELECT MIN(o_custkey)::DOUBLE AS klo, MAX(o_custkey)::DOUBLE AS khi,
           MIN(o_totalprice)::DOUBLE AS plo, MAX(o_totalprice)::DOUBLE AS phi
    FROM orders
), binned AS (
    SELECT least(floor((o_custkey::DOUBLE - klo)
                       / ((khi - klo) / 256))::BIGINT, 255) AS b0,
           least(floor((o_totalprice::DOUBLE - plo)
                       / ((phi - plo) / 256))::BIGINT, 255) AS b1
    FROM orders CROSS JOIN rng
), z AS (
    SELECT ({terms}) AS zkey, b0, b1 FROM binned
)
SELECT (zkey >> 8) AS zbucket, COUNT(*)::BIGINT AS n,
       MIN(b0) AS b0_lo, MAX(b0) AS b0_hi,
       MIN(b1) AS b1_lo, MAX(b1) AS b1_hi
FROM z GROUP BY 1
"""


@register("zorder_layout_bounds", oracle=_zorder_oracle())
def zorder_layout_bounds(spark, sf_dir):
    """Z-order (Morton) multi-dimensional clustering — the data
    layout a 100 TB warehouse uses so min/max file statistics prune
    scans on EVERY filtered dimension (Delta OPTIMIZE ZORDER's key,
    computed as pure-integer codegen — no UDF). The gate bins
    (o_custkey, o_totalprice) to 8 bits each, interleaves, buckets
    the keyspace into 256 contiguous z-ranges (stand-ins for
    range-partitioned files), and emits each bucket's per-dimension
    bounds — exactly the footer stats a reader prunes against; the
    bounded-range locality property is pinned by pytest.
    ``ops/partitioning.py:zorder_key``."""
    from .ops import partitioning

    orders = _t(spark, sf_dir, "orders")
    rng = orders.agg(
        F.min(F.col("o_custkey").cast("double")).alias("klo"),
        F.max(F.col("o_custkey").cast("double")).alias("khi"),
        F.min(F.col("o_totalprice").cast("double")).alias("plo"),
        F.max(F.col("o_totalprice").cast("double")).alias("phi"),
    )
    binned = orders.crossJoin(F.broadcast(rng)).select(
        F.least(
            F.floor((F.col("o_custkey").cast("double") - F.col("klo"))
                    / ((F.col("khi") - F.col("klo")) / 256)).cast("long"),
            F.lit(255).cast("long")).alias("b0"),
        F.least(
            F.floor((F.col("o_totalprice").cast("double") - F.col("plo"))
                    / ((F.col("phi") - F.col("plo")) / 256)).cast("long"),
            F.lit(255).cast("long")).alias("b1"),
    )
    return partitioning.zorder_layout_stats(binned, ["b0", "b1"])


@register("psi_drift_monitor", oracle="""
WITH ref AS (
    SELECT o_orderstatus AS grp, o_totalprice::DOUBLE AS x FROM orders
    WHERE o_orderdate < TIMESTAMP '1998-05-01'
), cur AS (
    SELECT o_orderstatus AS grp, o_totalprice::DOUBLE AS x FROM orders
    WHERE o_orderdate >= TIMESTAMP '1998-05-01'
), rng AS (
    SELECT grp, MIN(x) AS lo, MAX(x) AS hi FROM ref GROUP BY grp
), rbin AS (
    SELECT r.grp,
           CASE WHEN g.hi = g.lo THEN 0
                ELSE greatest(least(floor((r.x - g.lo)
                     / ((g.hi - g.lo) / 10))::BIGINT, 9), 0) END AS bin,
           COUNT(*) AS rc
    FROM ref r JOIN rng g ON r.grp = g.grp GROUP BY 1, 2
), cbin AS (
    SELECT c.grp,
           CASE WHEN g.hi = g.lo THEN 0
                ELSE greatest(least(floor((c.x - g.lo)
                     / ((g.hi - g.lo) / 10))::BIGINT, 9), 0) END AS bin,
           COUNT(*) AS cc
    FROM cur c JOIN rng g ON c.grp = g.grp GROUP BY 1, 2
), rt AS (SELECT grp, SUM(rc)::BIGINT AS rtot FROM rbin GROUP BY grp),
ct AS (SELECT grp, SUM(cc)::BIGINT AS ctot FROM cbin GROUP BY grp),
grid AS (
    SELECT rng.grp, u.i AS bin FROM rng, UNNEST(range(0, 10)) AS u(i)
), terms AS (
    SELECT grid.grp,
           round((((COALESCE(cb.cc, 0) + 1)::DOUBLE / (ct.ctot + 10))
                  - ((COALESCE(rb.rc, 0) + 1)::DOUBLE / (rt.rtot + 10)))
                 * ln(((COALESCE(cb.cc, 0) + 1)::DOUBLE / (ct.ctot + 10))
                      / ((COALESCE(rb.rc, 0) + 1)::DOUBLE
                         / (rt.rtot + 10))), 6) AS term
    FROM grid
    LEFT JOIN rbin rb ON rb.grp = grid.grp AND rb.bin = grid.bin
    LEFT JOIN cbin cb ON cb.grp = grid.grp AND cb.bin = grid.bin
    JOIN rt ON rt.grp = grid.grp
    JOIN ct ON ct.grp = grid.grp
)
SELECT grp AS o_orderstatus,
       round(SUM(term::DECIMAL(28,6))::DOUBLE, 6) AS psi
FROM terms GROUP BY grp
""")
def psi_drift_monitor(spark, sf_dir):
    """Population Stability Index — the standard production drift
    monitor between a frozen reference snapshot (orders before
    1998-05-01) and the current window, per group: 10 fixed bins from
    the reference range (out-of-range current values clamp into edge
    bins), add-1 smoothing with ALL bins enumerated, exact-DECIMAL
    sum of round-6 terms. Two histogram passes + broadcast-joined
    totals/grid — O(data) + O(groups·bins); the reference histogram
    persists and merges incrementally (bin counts add).
    ``ops/sketches.py:psi_drift``."""
    from .ops import sketches

    orders = _t(spark, sf_dir, "orders")
    cut = F.to_timestamp(F.lit("1998-05-01"))
    base = orders.select(
        F.col("o_orderstatus"), F.col("o_totalprice"), F.col("o_orderdate"))
    ref = base.filter(F.col("o_orderdate") < cut)
    cur = base.filter(F.col("o_orderdate") >= cut)
    return (sketches.psi_drift(ref, cur, "o_totalprice", ["o_orderstatus"])
            .withColumnRenamed("psi", "psi"))


@register("dq_expectation_audit", oracle="""
WITH rowagg AS (
    SELECT COUNT(*)::BIGINT AS total,
           SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT
               AS v_notnull,
           SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
               THEN 1 ELSE 0 END)::BIGINT AS v_accepted,
           SUM(CASE WHEN NOT (o_totalprice > 0)
               THEN 1 ELSE 0 END)::BIGINT AS v_range
    FROM orders
), uq AS (
    SELECT (COUNT(*) - COUNT(DISTINCT o_orderkey))::BIGINT AS v,
           COUNT(*)::BIGINT AS total
    FROM orders
), fk AS (
    SELECT COUNT(*)::BIGINT AS v,
           (SELECT COUNT(*) FROM orders)::BIGINT AS total
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_custkey IS NULL
)
SELECT 'not_null:o_custkey' AS check_name, v_notnull AS violations,
       total, v_notnull = 0 AS passed FROM rowagg
UNION ALL
SELECT 'accepted_values:o_orderstatus', v_accepted, total,
       v_accepted = 0 FROM rowagg
UNION ALL
SELECT 'range:o_totalprice_positive', v_range, total,
       v_range = 0 FROM rowagg
UNION ALL
SELECT 'unique:o_orderkey', v, total, v = 0 FROM uq
UNION ALL
SELECT 'fk:orders_custkey_in_customer', v, total, v = 0 FROM fk
""")
def dq_expectation_audit(spark, sf_dir):
    """Declarative data-quality gate (the dbt-tests shape) over the
    orders fact: not-null, accepted-values, and range checks fold
    into ONE aggregate over a single scan (adding a check costs an
    expression, not a pass), uniqueness is one count-distinct, and
    the customer referential check is one anti-join (AQE broadcasts
    the dim). Emits the (check, violations, total, passed) audit a
    production load job records with every ingest;
    ``ops/quality.py:expectation_audit``."""
    from .ops import quality

    orders, customer = _t(spark, sf_dir, "orders", "customer")
    return quality.expectation_audit(
        orders,
        row_checks={
            "not_null:o_custkey": F.col("o_custkey").isNull(),
            "accepted_values:o_orderstatus":
                ~F.col("o_orderstatus").isin("O", "F", "P"),
            "range:o_totalprice_positive": ~(F.col("o_totalprice") > 0),
        },
        unique_keys=["o_orderkey"],
        fk_checks=[("fk:orders_custkey_in_customer", "o_custkey",
                    customer, "c_custkey")],
    )


@register("a11_grouping_sets", oracle="""
SELECT o_orderstatus, o_orderpriority, ROUND(SUM(o_totalprice), 2) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
""")
def a11(spark, sf_dir):
    """Explicit GROUPING SETS (the general form rollup/cube sugar)."""
    orders = _t(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               ROUND(SUM(o_totalprice), 2) AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
    """)


@register("a12_exact_percentiles", oracle="""
SELECT o_orderstatus,
       ROUND(quantile_cont(o_totalprice, 0.5), 4) AS median,
       ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
       ROUND(MIN(o_totalprice), 2) AS lo,
       ROUND(MAX(o_totalprice), 2) AS hi
FROM orders GROUP BY o_orderstatus
""")
def a12(spark, sf_dir):
    """Exact interpolated percentiles (both engines: linear
    interpolation over the sorted values)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("median"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
    )


@register("p18_date_functions", oracle="""
SELECT o_orderkey,
       strftime(o_orderdate + INTERVAL 2 MONTH, '%Y-%m-%d') AS plus2m,
       strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
       strftime(date_trunc('quarter', o_orderdate), '%Y-%m-%d') AS qtr,
       date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since,
       year(o_orderdate) AS y, month(o_orderdate) AS m, day(o_orderdate) AS d
FROM orders
""")
def p18(spark, sf_dir):
    """Date-function battery: add_months (end-of-month clamped),
    last_day, quarter truncation, datediff, Y/M/D extraction — all
    emitted as strings/ints (cross-engine DATE dtype rule)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.date_format(F.add_months("o_orderdate", 2), "yyyy-MM-dd").alias("plus2m"),
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias("month_end"),
        F.date_format(F.date_trunc("quarter", "o_orderdate"), "yyyy-MM-dd").alias("qtr"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .alias("days_since"),
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
    )


@register("u10_unpivot_stack", oracle="""
SELECT o_orderkey, metric, ROUND(value, 2) AS value FROM (
    SELECT o_orderkey, 'total' AS metric, o_totalprice AS value FROM orders
    UNION ALL
    SELECT o_orderkey, 'custkey', CAST(o_custkey AS DOUBLE) FROM orders
)
""")
def u10(spark, sf_dir):
    """Unpivot (wide → long) via stack — the inverse of a8_pivot."""
    orders = _t(spark, sf_dir, "orders")
    return orders.selectExpr(
        "o_orderkey",
        "stack(2, 'total', o_totalprice, 'custkey', CAST(o_custkey AS DOUBLE)) "
        "AS (metric, value)",
    ).select("o_orderkey", "metric", F.round("value", 2).alias("value"))


@register("n8_map_ops", oracle="""
SELECT l_orderkey, l_linenumber, key, ROUND(value * 2, 2) AS value
FROM (
    SELECT l_orderkey, l_linenumber, 'qty' AS key, l_quantity AS value
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'price', l_extendedprice FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'disc', l_discount FROM lineitem
)
WHERE value > 0
""")
def n8(spark, sf_dir):
    """Map-typed column surface: create_map → map_concat →
    map_filter (drop zero-valued entries) → transform_values →
    explode(map_entries) back to long form. All JVM-side map
    expressions inside whole-stage codegen; the oracle expresses the
    same relation as a UNION ALL unpivot."""
    from .ops.partitioning import fan_out

    # map HOFs are interpreted (outside codegen): per-row cost is high
    # enough that a single-row-group file must be fanned out first
    li = fan_out(_t(spark, sf_dir, "lineitem"))
    m = F.map_concat(
        F.create_map(
            F.lit("qty"), F.col("l_quantity"),
            F.lit("price"), F.col("l_extendedprice"),
        ),
        F.create_map(F.lit("disc"), F.col("l_discount")),
    )
    positive = F.map_filter(m, lambda k, v: v > 0)
    doubled = F.transform_values(positive, lambda k, v: F.round(v * 2, 2))
    return (
        li.select("l_orderkey", "l_linenumber",
                  F.explode(F.map_entries(doubled)).alias("e"))
        .select("l_orderkey", "l_linenumber",
                F.col("e.key").alias("key"), F.col("e.value").alias("value"))
    )


@register("attribution_interval_join", oracle="""
SELECT p.user_id,
       p.event_id AS purchase_id,
       p.ts       AS purchase_ts,
       round(p.value, 2) AS purchase_value,
       c.event_id AS click_id,
       c.ts       AS click_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON c.user_id = p.user_id
 AND c.ts <= p.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
""")
def attribution_q(spark, sf_dir):
    """Click→purchase attribution interval join — the BATCH run of the
    stream-stream join in streaming/joins.py (one definition, two
    execution modes; tests/test_streaming.py proves stream ≡ batch,
    this gate proves batch ≡ SQL oracle)."""
    from .streaming import joins

    return joins.attribution_join(_t(spark, sf_dir, "events"))


@register("attribution_left_outer", oracle="""
SELECT p.user_id,
       p.event_id AS purchase_id,
       p.ts       AS purchase_ts,
       round(p.value, 2) AS purchase_value,
       c.event_id AS click_id,
       c.ts       AS click_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON c.user_id = p.user_id
 AND c.ts <= p.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
""")
def attribution_left_outer_q(spark, sf_dir):
    """Left-outer attribution: unattributed purchases survive with
    NULL click columns — the BATCH run of the watermark-gated
    left-outer stream-stream join (streaming/joins.py:40,
    ``how='left_outer'``). tests/test_streaming.py proves
    stream ≡ batch for the outer variant; this gate proves
    batch ≡ SQL oracle."""
    from .streaming import joins

    return joins.attribution_join(
        _t(spark, sf_dir, "events"), how="left_outer"
    )


@register("tpch_q3_shipping_priority", oracle="""
SELECT l_orderkey,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(1 - l_discount AS DECIMAL(18,8))), 2)
            AS DOUBLE) AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-06-15'
  AND l_shipdate  > TIMESTAMP '1997-06-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
""")
def tpch_q3(spark, sf_dir):
    """TPC-H Q3 shape (o_orderpriority stands in for the testdata's
    missing o_shippriority): segment-filtered customer ⋈ orders ⋈
    lineitem with date pruning on both fact filters. Both filters push
    to the scans; the segment dim side shrinks 5× before the join, so
    AQE picks broadcast at small SF and shuffle-hash at scale."""
    cust, orders, li = _t(spark, sf_dir, "customer", "orders", "lineitem")
    cutoff = F.lit("1997-06-15").cast("timestamp")
    revenue = F.sum(
        _dec(F.col("l_extendedprice")) * _dec(1 - F.col("l_discount"), 8)
    )
    return (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders.filter(F.col("o_orderdate") < cutoff),
              F.col("c_custkey") == F.col("o_custkey"))
        .join(li.filter(F.col("l_shipdate") > cutoff),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(revenue, 2).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@register("tpch_q6_forecast_revenue", oracle="""
SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(l_discount AS DECIMAL(18,8))), 2)
            AS DOUBLE) AS revenue,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""")
def tpch_q6(spark, sf_dir):
    """TPC-H Q6 shape: pure scan-filter-aggregate — the whole query is
    one codegen stage over pushed-down predicates; at 100 TB it is
    I/O-bound and embarrassingly parallel (no shuffle at all until the
    single-row final sum)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(_dec(F.col("l_extendedprice")) * _dec(F.col("l_discount"), 8)),
                2,
            ).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register("tpch_q5_local_supplier_volume", oracle="""
SELECT n_name,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(1 - l_discount AS DECIMAL(18,8))), 2)
            AS DOUBLE) AS revenue,
       count(*) AS n_lines
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
""")
def tpch_q5(spark, sf_dir):
    """TPC-H Q5 shape (local supplier volume): the 6-table snowflake
    join with the 'local' cycle condition c_nationkey = s_nationkey.
    The optimizer showcase: region/nation/supplier/customer are
    dimension-sized and broadcast, so the only shuffle is the
    orders⋈lineitem fact join; the region filter transitively prunes
    nation and supplier BEFORE they reach the facts, and the date
    window pushes into the orders scan — at 100 TB the plan reads one
    year of orders and ships 4 broadcast tables, never a dim
    shuffle."""
    cust, orders, li, supp, nat, reg = _t(
        spark, sf_dir, "customer", "orders", "lineitem",
        "supplier", "nation", "region")
    revenue = F.sum(
        _dec(F.col("l_extendedprice")) * _dec(1 - F.col("l_discount"), 8))
    return (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(supp),
              (F.col("l_suppkey") == F.col("s_suppkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg.filter(F.col("r_name") == "ASIA")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.round(revenue, 2).cast("double").alias("revenue"),
             F.count(F.lit(1)).alias("n_lines"))
    )


@register("tpch_q7_volume_shipping", oracle="""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INTEGER) AS l_year,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(1 - l_discount AS DECIMAL(18,8))), 2)
            AS DOUBLE) AS revenue
FROM supplier
JOIN lineitem ON s_suppkey = l_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name IN ('NATION_2', 'NATION_7', 'NATION_12')
  AND n2.n_name IN ('NATION_3', 'NATION_8')
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY n1.n_name, n2.n_name, CAST(year(l_shipdate) AS INTEGER)
""")
def tpch_q7(spark, sf_dir):
    """TPC-H Q7 shape (volume shipping): the SAME dimension joined
    twice under different roles — nation as supplier-nation and as
    customer-nation, each broadcast with its own membership filter,
    the cross-filter applied per role BEFORE the facts join. Grouping
    adds the derived ship year (cast int on both engines — DuckDB's
    year() is BIGINT). Two fact tables shuffle once each; nothing
    dimension-sized ever does."""
    cust, orders, li, supp, nat = _t(
        spark, sf_dir, "customer", "orders", "lineitem",
        "supplier", "nation")
    n1 = nat.filter(F.col("n_name").isin(
        "NATION_2", "NATION_7", "NATION_12")) \
        .select(F.col("n_nationkey").alias("_n1key"),
                F.col("n_name").alias("supp_nation"))
    n2 = nat.filter(F.col("n_name").isin("NATION_3", "NATION_8")) \
        .select(F.col("n_nationkey").alias("_n2key"),
                F.col("n_name").alias("cust_nation"))
    revenue = F.sum(
        _dec(F.col("l_extendedprice")) * _dec(1 - F.col("l_discount"), 8))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("_n1key"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("_n2key"))
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").cast("int").alias("l_year"))
        .agg(F.round(revenue, 2).cast("double").alias("revenue"))
    )


@register("tpch_q10_returned_items", oracle="""
WITH agg AS (
    SELECT c_custkey, c_name, c_acctbal, n_name,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                          * CAST(1 - l_discount AS DECIMAL(18,8))), 2)
                AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-10-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
)
SELECT c_custkey, c_name, revenue, c_acctbal, n_name
FROM agg
QUALIFY row_number() OVER (ORDER BY revenue DESC, c_custkey) <= 20
""")
def tpch_q10(spark, sf_dir):
    """TPC-H Q10 shape (returned-item reporting): one quarter of
    orders ⋈ returned lineitems ⋈ broadcast customer/nation, then
    the global top-20 by revenue. The top-N is a row_number window
    with the tie DETERMINISTICALLY broken by custkey — revenue is
    rounded identically on both engines first, so the ranked set is
    engine-independent (a bare ORDER BY ... LIMIT would make ties
    nondeterministic). At scale the window is one single-partition
    pass over the small aggregated frame, not the facts."""
    from pyspark.sql import Window

    cust, orders, li, nat = _t(
        spark, sf_dir, "customer", "orders", "lineitem", "nation")
    revenue = F.sum(
        _dec(F.col("l_extendedprice")) * _dec(1 - F.col("l_discount"), 8))
    agg = (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1997-10-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")))
        .join(li.filter(F.col("l_returnflag") == "R"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(revenue, 2).cast("double").alias("revenue"))
    )
    w = Window.orderBy(F.col("revenue").desc(), F.col("c_custkey"))
    return (agg.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= 20)
            .select("c_custkey", "c_name", "revenue",
                    "c_acctbal", "n_name"))


@register("tpch_q14_promo_revenue", oracle="""
WITH j AS (
    SELECT CAST(l_extendedprice AS DECIMAL(18,2))
           * CAST(1 - l_discount AS DECIMAL(18,8)) AS rev,
           p_type
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01'
      AND l_shipdate <  TIMESTAMP '1997-10-01'
)
SELECT CAST(round(sum(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END), 2)
            AS DOUBLE) AS promo_revenue,
       CAST(round(sum(rev), 2) AS DOUBLE) AS total_revenue,
       round(100.0 * CAST(round(sum(CASE WHEN p_type = 'PROMO'
                                         THEN rev ELSE 0 END), 2) AS DOUBLE)
             / CAST(round(sum(rev), 2) AS DOUBLE), 4) AS promo_pct
FROM j
""")
def tpch_q14(spark, sf_dir):
    """TPC-H Q14 shape (promotion effect): one month of lineitem ⋈
    broadcast part, conditional aggregation in exact DECIMAL, the
    percentage derived from the ALREADY-ROUNDED doubles so both
    engines divide bit-identical inputs. The month filter pushes into
    the fact scan; part broadcasts; zero wide shuffles — the final
    agg is a single-row partial-combine."""
    li, part = _t(spark, sf_dir, "lineitem", "part")
    rev = _dec(F.col("l_extendedprice")) * _dec(1 - F.col("l_discount"), 8)
    agg = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp")))
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .agg(F.round(F.sum(F.when(F.col("p_type") == "PROMO", rev)
                           .otherwise(F.lit(0))), 2)
             .cast("double").alias("promo_revenue"),
             F.round(F.sum(rev), 2).cast("double").alias("total_revenue"))
    )
    return agg.withColumn(
        "promo_pct",
        F.round(F.lit(100.0) * F.col("promo_revenue")
                / F.col("total_revenue"), 4))


@register("tpch_q18_large_volume_customer", oracle="""
WITH big AS (
    SELECT l_orderkey
    FROM lineitem GROUP BY l_orderkey
    HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 300
)
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2)
            AS DOUBLE) AS sum_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM big)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
""")
def tpch_q18(spark, sf_dir):
    """TPC-H Q18 shape (large-volume customer): a HAVING-filtered
    aggregate over the fact drives a semi join back into the same
    fact. The qty pre-aggregate is the one fact shuffle; its
    survivors are a tiny key set (sub-percent of orders), so the
    semi join and the customer join both broadcast — Spark plans
    the IN-subquery as LeftSemi and AQE picks broadcast from the
    runtime size. Sums in exact DECIMAL (l_quantity is a 2-dec
    double)."""
    cust, orders, li = _t(spark, sf_dir, "customer", "orders", "lineitem")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum(_dec(F.col("l_quantity"))).alias("_q"))
           .filter(F.col("_q") > 300)
           .select("l_orderkey"))
    return (
        orders.join(F.broadcast(big.withColumnRenamed(
            "l_orderkey", "_bigkey")),
            F.col("o_orderkey") == F.col("_bigkey"), "left_semi")
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                 "o_totalprice")
        .agg(F.round(F.sum(_dec(F.col("l_quantity"))), 2)
             .cast("double").alias("sum_qty"))
    )


@register("tpch_q19_disjunctive_pushdown", oracle="""
SELECT p_brand,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(1 - l_discount AS DECIMAL(18,8))), 2)
            AS DOUBLE) AS revenue,
       count(*) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20
       AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 20 AND 40)
GROUP BY p_brand
""")
def tpch_q19(spark, sf_dir):
    """TPC-H Q19 shape (discounted revenue, disjunctive predicate):
    a 3-arm DNF condition mixing part and lineitem columns. Catalyst
    factors the single-table conjuncts out of the disjunction — the
    part scan receives the brand/size OR-predicate, the lineitem scan
    the quantity OR-range — so both sides prune BEFORE the broadcast
    join evaluates the full cross-table DNF (container/brand
    adaptation of the testdata's reduced part schema)."""
    li, part = _t(spark, sf_dir, "lineitem", "part")

    def arm(brand, size_hi, q_lo, q_hi):
        return ((F.col("p_brand") == brand)
                & F.col("p_size").between(1, size_hi)
                & F.col("l_quantity").between(q_lo, q_hi))

    revenue = F.sum(
        _dec(F.col("l_extendedprice")) * _dec(1 - F.col("l_discount"), 8))
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .filter(arm("Brand#12", 15, 1, 20)
                | arm("Brand#23", 20, 10, 30)
                | arm("Brand#34", 25, 20, 40))
        .groupBy("p_brand")
        .agg(F.round(revenue, 2).cast("double").alias("revenue"),
             F.count(F.lit(1)).alias("n_lines"))
    )


@register("tpch_q22_lapsed_customers", oracle="""
WITH pos AS (
    SELECT sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS s,
           count(*) AS n
    FROM customer WHERE c_acctbal > 0
), hi AS (
    SELECT c_custkey, c_nationkey, c_acctbal FROM customer, pos
    WHERE CAST(round(c_acctbal * 100) AS BIGINT) * n > s
)
SELECT c_nationkey AS nationkey, count(*) AS numcust,
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2)
            AS DOUBLE) AS totacctbal
FROM hi
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_nationkey
""")
def tpch_q22(spark, sf_dir):
    """TPC-H Q22 shape (global sales opportunity): scalar-subquery
    threshold + anti join. 'Lapsed' adaptation of the reduced schema:
    above-average-balance customers with no order since 2000. The
    average-balance comparison is CROSS-MULTIPLIED in integer cents
    (bal·n > Σbal) so neither engine ever divides — the threshold is
    exact and the boundary is engine-independent, where a double AVG
    would make the cut nondeterministic across summation orders. The
    1-row aggregate broadcasts; the anti join broadcasts the
    date-filtered order keys; the customer side never shuffles."""
    cust, orders = _t(spark, sf_dir, "customer", "orders")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    pos = (cust.filter(F.col("c_acctbal") > 0)
           .agg(F.sum(cents).alias("_s"), F.count(F.lit(1)).alias("_n")))
    recent = (orders
              .filter(F.col("o_orderdate")
                      >= F.lit("2000-01-01").cast("timestamp"))
              .select("o_custkey"))
    return (
        cust.withColumn("_cents", cents)
        .crossJoin(F.broadcast(pos))
        .filter(F.col("_cents") * F.col("_n") > F.col("_s"))
        .join(F.broadcast(recent),
              F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("numcust"),
             F.round(F.sum(_dec(F.col("c_acctbal"))), 2)
             .cast("double").alias("totacctbal"))
    )


@register("skew_hot_keys", oracle="""
WITH counts AS (
    SELECT user_id, count(*) AS cnt FROM events GROUP BY 1
), tot AS (
    SELECT sum(cnt) AS total, count(*) AS n_keys FROM counts
)
SELECT user_id, cnt,
       round(cnt / total::DOUBLE, 6) AS share,
       round(cnt / (total::DOUBLE / n_keys), 4) AS ratio_to_mean
FROM counts, tot
ORDER BY cnt DESC, user_id
LIMIT 20
""")
def skew_hot_keys(spark, sf_dir):
    """Hot-key profile of events.user_id (ops/skew.skew_profile) —
    counts and shares are exact integers divided identically in both
    engines; top-20 tie order pinned by (cnt desc, key asc)."""
    from .ops.skew import skew_profile

    return skew_profile(_t(spark, sf_dir, "events"), "user_id", k=20)


@register("scd2_batch_twin", oracle="""
WITH dim AS (
    SELECT c_custkey AS cust_id, c_mktsegment AS segment,
           c_nationkey AS nation,
           TIMESTAMP '2023-01-01 00:00:00' AS valid_from,
           CAST(NULL AS TIMESTAMP) AS valid_to,
           TRUE AS is_current
    FROM customer
), upd AS (
    SELECT c_custkey AS cust_id,
           CASE WHEN c_custkey % 3 = 0 THEN c_mktsegment
                ELSE c_mktsegment || '_V2' END AS segment,
           c_nationkey AS nation
    FROM customer WHERE c_custkey % 2 = 0
    UNION ALL
    SELECT c_custkey + 10000000, 'NEW_' || c_mktsegment, c_nationkey
    FROM customer WHERE c_custkey % 100 = 0
), changed AS (
    SELECT d.cust_id FROM dim d JOIN upd u USING (cust_id)
    WHERE d.segment IS DISTINCT FROM u.segment
       OR d.nation IS DISTINCT FROM u.nation
)
SELECT cust_id, segment, nation, valid_from,
       TIMESTAMP '2024-06-01 00:00:00' AS valid_to, FALSE AS is_current
FROM dim WHERE cust_id IN (SELECT cust_id FROM changed)     -- closed
UNION ALL
SELECT cust_id, segment, nation, valid_from, valid_to, is_current
FROM dim WHERE cust_id NOT IN (SELECT cust_id FROM changed) -- unchanged
UNION ALL
SELECT u.cust_id, u.segment, u.nation,
       TIMESTAMP '2024-06-01 00:00:00' AS valid_from,
       CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
FROM upd u WHERE u.cust_id IN (SELECT cust_id FROM changed) -- new version
UNION ALL
SELECT u.cust_id, u.segment, u.nation,
       TIMESTAMP '2024-06-01 00:00:00' AS valid_from,
       CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
FROM upd u WHERE u.cust_id NOT IN (SELECT cust_id FROM dim) -- insert
""")
def scd2_batch_twin(spark, sf_dir):
    """Batch twin of the streaming SCD2 merge (streaming/cdc.scd2_sink
    → ops/merge.scd2_apply): a customer dimension at version 1 takes
    one synthetic change batch — half the keys updated (a third of
    those attribute-identical, so they must pass through untouched),
    plus brand-new business keys — and the full anti-join + union
    merge result is value-gated against a relational restatement in
    DuckDB.  This hash-gates the merge semantics (closed version
    stamping, unchanged passthrough, open-version insert) that the
    streaming pytest covers only driver-side (VERDICT r4 item 7)."""
    from .ops.merge import scd2_apply

    cust = _t(spark, sf_dir, "customer")
    dim = (
        cust.select(
            F.col("c_custkey").alias("cust_id"),
            F.col("c_mktsegment").alias("segment"),
            F.col("c_nationkey").alias("nation"),
        )
        .withColumn("valid_from", F.lit("2023-01-01 00:00:00").cast("timestamp"))
        .withColumn("valid_to", F.lit(None).cast("timestamp"))
        .withColumn("is_current", F.lit(True))
    )
    updates = (
        cust.filter(F.col("c_custkey") % 2 == 0)
        .select(
            F.col("c_custkey").alias("cust_id"),
            F.when(F.col("c_custkey") % 3 == 0, F.col("c_mktsegment"))
            .otherwise(F.concat(F.col("c_mktsegment"), F.lit("_V2")))
            .alias("segment"),
            F.col("c_nationkey").alias("nation"),
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 100 == 0).select(
                (F.col("c_custkey") + 10000000).alias("cust_id"),
                F.concat(F.lit("NEW_"), F.col("c_mktsegment")).alias("segment"),
                F.col("c_nationkey").alias("nation"),
            )
        )
    )
    out = scd2_apply(dim, updates, "cust_id", "2024-06-01 00:00:00",
                     ["segment", "nation"])
    return out.select("cust_id", "segment", "nation",
                      "valid_from", "valid_to", "is_current")


_MERGE_TWIN_ORACLE = """
WITH t AS (
    SELECT c_custkey AS cust_id, c_mktsegment AS segment,
           round(c_acctbal::DECIMAL(18,2), 2)::DOUBLE AS balance
    FROM customer
), upd AS (
    SELECT c_custkey AS cust_id,
           c_mktsegment || '_V2' AS segment,
           round(c_acctbal::DECIMAL(18,2) + 10, 2)::DOUBLE AS balance,
           (c_custkey % 10 = 4) AS _deleted
    FROM customer WHERE c_custkey % 2 = 0
    UNION ALL
    SELECT c_custkey + 10000000, 'NEW_' || c_mktsegment,
           round(c_acctbal::DECIMAL(18,2), 2)::DOUBLE, FALSE
    FROM customer WHERE c_custkey % 100 = 0
)
SELECT cust_id, segment, balance
FROM t WHERE cust_id NOT IN (SELECT cust_id FROM upd)   -- untouched
UNION ALL
SELECT cust_id, segment, balance
FROM upd WHERE NOT _deleted   -- matched updates + unmatched inserts
"""


def _merge_twin_frames(spark, sf_dir):
    """The shared (target, updates) pair of the MERGE twins: the
    customer dimension plus one change batch driving all three
    Delta-MERGE branches — matched update (even keys), matched
    delete (tombstoned keys ending in 4), unmatched insert
    (synthetic high keys)."""
    cust = _t(spark, sf_dir, "customer")
    target = cust.select(
        F.col("c_custkey").alias("cust_id"),
        F.col("c_mktsegment").alias("segment"),
        F.round(_dec(F.col("c_acctbal")), 2).cast("double").alias("balance"),
    )
    updates = (
        cust.filter(F.col("c_custkey") % 2 == 0)
        .select(
            F.col("c_custkey").alias("cust_id"),
            F.concat(F.col("c_mktsegment"), F.lit("_V2")).alias("segment"),
            F.round(_dec(F.col("c_acctbal")) + 10, 2)
            .cast("double").alias("balance"),
            (F.col("c_custkey") % 10 == 4).alias("_deleted"),
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 100 == 0).select(
                (F.col("c_custkey") + 10000000).alias("cust_id"),
                F.concat(F.lit("NEW_"), F.col("c_mktsegment"))
                .alias("segment"),
                F.round(_dec(F.col("c_acctbal")), 2)
                .cast("double").alias("balance"),
                F.lit(False).alias("_deleted"),
            )
        )
    )
    return target, updates


@register("merge_upsert_twin", oracle=_MERGE_TWIN_ORACLE)
def merge_upsert_twin(spark, sf_dir):
    """Batch twin of MERGE INTO (ops/merge.merge_upsert — the engine
    under Warehouse.merge_tx's copy-on-write rewrite): one change
    batch drives all three Delta-MERGE branches against the customer
    dimension — WHEN MATCHED UPDATE (even keys get a new segment and
    re-priced balance), WHEN MATCHED DELETE (tombstoned keys ending
    in 4), WHEN NOT MATCHED INSERT (synthetic high keys) — and the
    anti-join + tombstone-filter + union result is value-hashed
    against the relational restatement. Reference parity: the
    reference's loads are whole-table replaces
    (bin/etl/*_ETL.py to_sql if_exists='replace'); this gate is the
    row-level CDC semantics a warehouse needs once tables stop being
    small enough to replace."""
    from .ops.merge import merge_upsert

    target, updates = _merge_twin_frames(spark, sf_dir)
    return merge_upsert(target, updates, ["cust_id"],
                        delete_col="_deleted")


@register("merge_mor_twin", oracle=_MERGE_TWIN_ORACLE)
def merge_mor_twin(spark, sf_dir):
    """MERGE-ON-READ twin: the SAME change batch as
    merge_upsert_twin, applied through the real
    ``Warehouse.merge_tx(mode="mor")`` — initial load, then the batch
    applied TWICE (at-least-once CDC delivery), leaving two stacked
    deletion vectors the read must resolve. Three invariants hash
    together against the cow oracle: mor ≡ cow (deletion vectors are
    an encoding, not a semantic), replay-idempotence (the second
    application changes nothing), and the DV-aware read path
    (broadcast anti-join per live DV, postimage surviving its own
    DV). This is also the tracked per-round perf line for the DV
    read path (r12 VERDICT item 6). Writes go to a throwaway
    warehouse under /tmp — dimension-sized, wiped on the next
    invocation."""
    import shutil
    import tempfile

    parent = os.path.join(tempfile.gettempdir(), "zolo_mor_twin")
    shutil.rmtree(parent, ignore_errors=True)  # prior invocation's
    os.makedirs(parent, exist_ok=True)
    root = tempfile.mkdtemp(dir=parent)
    wh = Warehouse(spark, root, auto_compact_dvs=None)
    target, updates = _merge_twin_frames(spark, sf_dir)
    wh.commit_tx({"cdc_mirror": target})
    for _ in range(2):   # at-least-once redelivery: idempotent
        wh.merge_tx("cdc_mirror", updates, ["cust_id"],
                    delete_col="_deleted", mode="mor")
    return wh.read_committed_tx("cdc_mirror")


_DU_TWIN_ORACLE = """
WITH t AS (
    SELECT c_custkey AS cust_id, c_mktsegment AS segment,
           round(c_acctbal::DECIMAL(18,2), 2)::DOUBLE AS balance
    FROM customer
), u AS (
    SELECT cust_id,
           CASE WHEN balance > 5000 THEN segment || '_P'
                ELSE segment END AS segment,
           CASE WHEN balance > 5000 THEN balance + 100.0
                ELSE balance END AS balance
    FROM t
)
SELECT cust_id, segment, balance
FROM u WHERE NOT (cust_id % 7 = 3)
"""


@register("delete_update_twin", oracle=_DU_TWIN_ORACLE)
def delete_update_twin(spark, sf_dir):
    """Row-level UPDATE ... WHERE then DELETE ... WHERE through the
    REAL warehouse tx path in merge-on-read mode: the update's
    postimage + DV and the delete's key-list DV stack (two live DVs,
    zero data files rewritten), and the DV-resolved read is
    value-hashed against the plain relational restatement — pinning
    Delta's UPDATE/DELETE semantics (NULL predicate leaves rows,
    assignments see the pre-update row) on top of the deletion-vector
    encoding. The update arithmetic is exact-in-double (+100.0) so
    both engines agree bit-for-bit. Same throwaway-warehouse shape as
    merge_mor_twin."""
    import shutil
    import tempfile

    parent = os.path.join(tempfile.gettempdir(), "zolo_du_twin")
    shutil.rmtree(parent, ignore_errors=True)
    os.makedirs(parent, exist_ok=True)
    root = tempfile.mkdtemp(dir=parent)
    wh = Warehouse(spark, root, auto_compact_dvs=None)
    target, _ = _merge_twin_frames(spark, sf_dir)
    wh.commit_tx({"cdc_mirror": target})
    wh.update_tx("cdc_mirror",
                 {"balance": "balance + 100.0",
                  "segment": "concat(segment, '_P')"},
                 "balance > 5000", keys=["cust_id"], mode="mor")
    wh.delete_tx("cdc_mirror", "cust_id % 7 = 3",
                 keys=["cust_id"], mode="mor")
    return wh.read_committed_tx("cdc_mirror")


@register("delete_update_cow_twin", oracle=_DU_TWIN_ORACLE)
def delete_update_cow_twin(spark, sf_dir):
    """COPY-ON-WRITE twin of delete_update_twin — the default path at
    scale: the SAME update+delete semantics, but the UPDATE lands as
    merge-on-read (postimage + deletion vector) and the DELETE then
    runs in cow mode OVER that live DV, driving the r14 pruned
    rewrite-under-live-DVs branch end-to-end (touched-file scan,
    DV-affected file materialization, untouched files re-referenced
    by identity, DV cleared by the REWRITE record). The final read
    resolves no DVs — pure committed files — and must hash-match the
    same relational restatement the mor twin matches (cow ≡ mor ≡
    plain SQL). Reference parity anchor: same as delete_update_twin
    (the reference replaces whole tables; row-level ops are the
    at-scale extension). Same throwaway-warehouse shape as
    merge_mor_twin."""
    import shutil
    import tempfile

    parent = os.path.join(tempfile.gettempdir(), "zolo_du_cow_twin")
    shutil.rmtree(parent, ignore_errors=True)
    os.makedirs(parent, exist_ok=True)
    root = tempfile.mkdtemp(dir=parent)
    wh = Warehouse(spark, root, auto_compact_dvs=None)
    target, _ = _merge_twin_frames(spark, sf_dir)
    wh.commit_tx({"cdc_mirror": target})
    wh.update_tx("cdc_mirror",
                 {"balance": "balance + 100.0",
                  "segment": "concat(segment, '_P')"},
                 "balance > 5000", keys=["cust_id"], mode="mor")
    wh.delete_tx("cdc_mirror", "cust_id % 7 = 3")   # cow, live DV
    assert not wh._replay_dvs(
        wh._effective_txs(wh._read_txlog()), "cdc_mirror"), \
        "cow delete under live DVs must clear them"
    return wh.read_committed_tx("cdc_mirror")


@register("tx_shallow_clone_twin", oracle="""
WITH t AS (
    SELECT c_custkey AS cust_id, c_mktsegment AS segment,
           round(c_acctbal::DECIMAL(18,2), 2)::DOUBLE AS balance
    FROM customer
), kept AS (
    SELECT * FROM t WHERE NOT (cust_id % 7 = 3)
)
SELECT cust_id,
       CASE WHEN balance > 5000 THEN segment || '_C'
            ELSE segment END AS segment,
       CASE WHEN balance > 5000 THEN balance + 100.0
            ELSE balance END AS balance
FROM kept
""")
def tx_shallow_clone_twin(spark, sf_dir):
    """ZERO-COPY shallow clone through the real tx surface
    (``Warehouse.clone_table`` — Delta SHALLOW CLONE / Iceberg
    snapshot referencing): the customer dimension lands, a cow
    row-level DELETE runs on the source, the table is cloned (files
    referenced in place — the gate ASSERTS the clone directory holds
    no data bytes), and the two sides then DIVERGE: the source takes
    a further update the clone must not see (asserted), the clone
    takes an update the source must not see (asserted). The returned
    clone read — deletion inherited from the source snapshot, its
    own update applied, the source's later update absent — is
    value-hashed against the plain relational restatement. Reference
    parity anchor: same as the row-level twins (the reference
    replaces whole tables; snapshot cloning is the at-scale
    extension). Same throwaway-warehouse shape as merge_mor_twin."""
    import shutil
    import tempfile

    parent = os.path.join(tempfile.gettempdir(), "zolo_clone_twin")
    shutil.rmtree(parent, ignore_errors=True)
    os.makedirs(parent, exist_ok=True)
    root = tempfile.mkdtemp(dir=parent)
    wh = Warehouse(spark, root, auto_compact_dvs=None)
    target, _ = _merge_twin_frames(spark, sf_dir)
    wh.commit_tx({"cdc_mirror": target})
    wh.delete_tx("cdc_mirror", "cust_id % 7 = 3")      # cow delete
    wh.clone_table("cdc_mirror", "cdc_clone")
    assert not any(
        fn.startswith("batch-")
        for fn in os.listdir(wh.path("cdc_clone"))), \
        "shallow clone must reference source files, not copy them"
    # source-side divergence the clone must NOT see
    wh.update_tx("cdc_mirror", {"segment": "concat(segment, '_S')"},
                 "balance > 5000")
    # clone-side divergence the source must NOT see
    wh.update_tx("cdc_clone",
                 {"balance": "balance + 100.0",
                  "segment": "concat(segment, '_C')"},
                 "balance > 5000")
    src = wh.read_committed_tx("cdc_mirror")
    assert src.filter("segment LIKE '%_C'").count() == 0, \
        "clone writes leaked into the source"
    assert wh.read_committed_tx("cdc_clone") \
        .filter("segment LIKE '%_S'").count() == 0, \
        "source writes after the clone leaked into the clone"
    return wh.read_committed_tx("cdc_clone")


@register("tx_bloom_point_lookup", oracle="""
SELECT c_custkey AS cust_id, c_mktsegment AS segment,
       round(c_acctbal::DECIMAL(18,2), 2)::DOUBLE AS balance
FROM customer
WHERE c_custkey IN (3, 7, 101, 149)
""")
def tx_bloom_point_lookup(spark, sf_dir):
    """Per-file BLOOM FILTER INDEX point lookups through the real tx
    surface (``Warehouse(bloom_cols=...)`` → ``point_lookup``) —
    Delta's bloom-filter-index analog, the data-skipping tier for the
    case min/max stats can't serve: the customer dimension lands in
    4 residue-class commits (cust_id ≡ i mod 4, one full-domain file
    each, so envelope pruning keeps nothing), each commit building
    its bloom sidecar (on the driver at this batch size; in one
    distributed job past ``_DRIVER_SIDECAR_MAX_ROWS`` — the same
    words either way). Five keys are probed
    as point lookups — the gate ASSERTS each probe skipped files
    (at graded scales it reads 1 of 4; the assert is `< total` so
    the gate stays valid at rehearsal scales where the fixed-width
    bloom's false-positive rate rises) — with one key first deleted in
    merge-on-read mode, pinning that the pruned read still resolves
    deletion vectors exactly as a full read would. The union of the
    probes is value-hashed against the plain ``WHERE ... IN`` oracle
    (the deleted key absent). Reference parity anchor: the reference
    reads whole tables (bin/modelling/query.py); indexed point access
    is the at-scale extension, same beyond-parity contract as the
    row-level-op twins. Same throwaway-warehouse shape as
    merge_mor_twin."""
    import shutil
    import tempfile

    parent = os.path.join(tempfile.gettempdir(), "zolo_bloom_twin")
    shutil.rmtree(parent, ignore_errors=True)
    os.makedirs(parent, exist_ok=True)
    root = tempfile.mkdtemp(dir=parent)
    wh = Warehouse(spark, root, auto_compact_dvs=None,
                   bloom_cols={"cdc_mirror": ["cust_id"]},
                   bloom_bits=1 << 20)
    target, _ = _merge_twin_frames(spark, sf_dir)
    for i in range(4):
        wh.commit_tx({"cdc_mirror":
                      target.filter(F.col("cust_id") % 4 == i)
                      .coalesce(1)})
    wh.delete_tx("cdc_mirror", "cust_id = 58",
                 keys=["cust_id"], mode="mor")
    out = None
    for key in (3, 7, 58, 101, 149):
        hit = wh.point_lookup("cdc_mirror", {"cust_id": key})
        ncand, ntotal = wh.last_point_lookup
        assert ntotal == 4 and ncand < ntotal, (key, ncand, ntotal)
        out = hit if out is None else out.unionByName(hit)
    return out


@register("monitor_batch_twin", oracle="""
WITH b AS (
    SELECT event_type, date_trunc('day', ts) AS bk,
           count(*)::BIGINT AS n, count(value)::BIGINT AS nv,
           SUM(round(value, 6)::DECIMAL(28,6)) AS s
    FROM events GROUP BY 1, 2
), m AS (
    SELECT event_type, bk, n, s, (s::DOUBLE / nv) AS mean FROM b
), agg AS (
    SELECT event_type,
           SUM(n)::BIGINT AS n_events,
           SUM(s) AS total,
           list(mean ORDER BY bk) AS ms
    FROM m GROUP BY 1
)
SELECT event_type, n_events,
       total::DOUBLE AS total_value,
       round(list_reduce(ms, (acc, x) -> 0.6*x + 0.4*acc), 4) AS level
FROM agg
""")
def monitor_batch_twin(spark, sf_dir):
    """Deterministic batch twin of the stateful streaming monitor
    (streaming/stateful.running_monitor, applyInPandasWithState):
    final per-key state when micro-batches are ascending event-time
    day buckets.  The EWMA-over-batch-means recursion is a left fold
    seeded by the first bucket (DuckDB ``list_reduce``'s no-init
    form), the running total is an exact DECIMAL sum emitted without
    re-rounding, and streaming == batch on identical buckets is
    pinned by pytest — this hash-gates the state-update arithmetic
    that the streaming test covers only driver-side (the scd2 twin's
    pattern, r6 ROADMAP item 4)."""
    from .streaming.stateful import running_monitor_batch

    return running_monitor_batch(_t(spark, sf_dir, "events"))


@register("watermark_batch_twin", oracle="""
WITH tagged AS (
    SELECT event_type, value,
           date_trunc('hour', ts) AS w_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS w_end,
           date_trunc('day', ts) + CASE WHEN event_id % 7 = 0
               THEN INTERVAL 2 DAY ELSE INTERVAL 0 DAY END AS arr,
           date_trunc('milliseconds', ts) AS tsm
    FROM events
), bmax AS (
    SELECT arr, max(tsm) AS mx FROM tagged GROUP BY arr
), wm AS (
    SELECT arr, max(mx) OVER (ORDER BY arr
        ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
        - INTERVAL 4 HOUR AS wm_late
    FROM bmax
), fin AS (
    SELECT max(tsm) - INTERVAL 4 HOUR AS wm_final FROM tagged
), kept AS (
    SELECT t.event_type, t.value, t.w_start, t.w_end
    FROM tagged t JOIN wm ON t.arr = wm.arr
    WHERE wm.wm_late IS NULL OR t.w_end > wm.wm_late
)
SELECT w_start AS window_start, event_type,
       count(*)::BIGINT AS n_events,
       SUM(round(value, 6)::DECIMAL(28,6))::DOUBLE AS total_value
FROM kept, fin
WHERE w_end <= fin.wm_final
GROUP BY 1, 2
""")
def watermark_batch_twin(spark, sf_dir):
    """Deterministic batch twin of the append-mode tumbling-window
    aggregation WITH watermark-dropped late data: micro-batch =
    event-time day bucket, every 7th event_id arriving two buckets
    late. Hash-gates the empirically-pinned Structured Streaming
    semantics — the lag-2 late-events filter, lag-1 eviction
    watermark, ms-floored event-time stats, and the append-mode
    emission predicate (streaming == batch on identical buckets is
    pinned by pytest; the scd2/monitor twins' pattern extended to
    event-time windowing)."""
    from .streaming.intraday import watermark_batch_twin as twin

    return twin(_t(spark, sf_dir, "events"))


def _session_twin_oracle() -> str:
    """The chained per-bucket replay of the session-window late-data
    twin as ONE recursive CTE whose round count is DATA-DRIVEN: the
    rounds are exactly the arrival buckets the events table produces,
    in order — the same per-bucket watermark list the engine collects
    — so no enumerated date list and no staleness window exist (r10
    VERDICT item 6; the r8–r10 form generated 32 date-pinned rounds
    guarded by an assert). Each iteration = late-filter (lag-1
    BUCKET watermark vs the pre-merge window end) → merge into state
    → per-user sessionize → evict (end <= the batch watermark,
    inclusive); an already-emitted session is gone from state, so a
    kept late row inside its span REOPENS a new session, exactly as
    the engine does (r8 pinning experiments). The recursive working
    table carries state rows ('st'), that round's emissions ('em' —
    accumulated by the recursion's union), and one 'tick' row so an
    all-dropped round cannot end the chain early; a trailing
    no-arrival round (idx K+1) applies the final watermark."""
    anc = "TIMESTAMP '1900-01-01'"
    return f"""WITH RECURSIVE tagged AS MATERIALIZED (
    SELECT event_id, ts, user_id, value,
           date_trunc('day', ts) + CASE WHEN event_id % 7 = 0
               THEN INTERVAL 2 DAY ELSE INTERVAL 0 DAY END AS arr
    FROM events
), bmax AS MATERIALIZED (
    SELECT arr, max(date_trunc('milliseconds', ts)) AS mx
    FROM tagged GROUP BY arr
), rounds AS MATERIALIZED (
    -- one row per ACTUAL arrival bucket: lag-2 late watermark (wl),
    -- lag-1 eviction watermark (we) — the engine's running-max list —
    -- plus the trailing no-data round K+1 with the final watermark
    SELECT arr, idx,
           coalesce(max(mx) OVER (ORDER BY arr
               ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
               - INTERVAL 6 HOUR, {anc}) AS wl,
           coalesce(max(mx) OVER (ORDER BY arr
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               - INTERVAL 6 HOUR, {anc}) AS we
    FROM (SELECT arr, mx, row_number() OVER (ORDER BY arr) AS idx
          FROM bmax)
    UNION ALL
    SELECT NULL::TIMESTAMP, (SELECT COUNT(*) FROM bmax) + 1, {anc},
           (SELECT max(mx) FROM bmax) - INTERVAL 6 HOUR
), chain AS (
    SELECT 'tick' AS tag, 0::BIGINT AS rnd, NULL::BIGINT AS event_id,
           NULL::TIMESTAMP AS ts, NULL::BIGINT AS user_id,
           NULL::DOUBLE AS value, NULL::TIMESTAMP AS sstart
    UNION ALL
    SELECT x.tag, x.rnd, x.event_id, x.ts, x.user_id, x.value, x.sstart
    FROM (
        SELECT CASE WHEN send <= we THEN 'em' ELSE 'st' END AS tag,
               idx AS rnd, event_id, ts, user_id, value, sstart
        FROM (
            SELECT s.*,
                   min(ts) OVER (PARTITION BY user_id, sid) AS sstart,
                   max(ts) OVER (PARTITION BY user_id, sid)
                       + INTERVAL 4 HOUR AS send
            FROM (
                SELECT u0.*, SUM(nf) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS sid
                FROM (
                    SELECT u1.*, CASE WHEN ts >= coalesce(lag(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id),
                        {anc}) + INTERVAL 4 HOUR THEN 1 ELSE 0 END AS nf
                    FROM (
                        SELECT c.event_id, c.ts, c.user_id, c.value,
                               r.idx, r.we
                        FROM chain c JOIN rounds r ON r.idx = c.rnd + 1
                        WHERE c.tag = 'st'
                        UNION ALL
                        SELECT g.event_id, g.ts, g.user_id, g.value,
                               r.idx, r.we
                        FROM tagged g
                        JOIN rounds r ON g.arr = r.arr
                        JOIN (SELECT DISTINCT rnd FROM chain) p
                          ON r.idx = p.rnd + 1
                        WHERE g.ts + INTERVAL 4 HOUR > r.wl
                    ) u1
                ) u0
            ) s
        )
        UNION ALL
        SELECT 'tick', r.idx, NULL, NULL, NULL, NULL, NULL
        FROM rounds r JOIN (SELECT DISTINCT rnd FROM chain) p
          ON r.idx = p.rnd + 1
    ) x
)
SELECT min(ts) AS session_start,
       max(ts) + INTERVAL 4 HOUR AS session_end,
       user_id,
       count(*)::BIGINT AS n_events,
       SUM(round(value, 6)::DECIMAL(28,6))::DOUBLE AS session_value
FROM chain WHERE tag = 'em'
GROUP BY user_id, sstart, rnd"""


@register("session_window_late_twin", oracle=_session_twin_oracle())
def session_window_late_twin(spark, sf_dir):
    """Deterministic batch twin of the append-mode SESSION-window
    aggregation WITH watermark-dropped late data — the one streaming
    shape that had no value oracle (its cross-batch merge semantics
    were pytest-only through r7). Micro-batch = event-time day
    bucket, every 7th event_id two buckets late, gap 4h, delay 6h.
    Hash-gates the round-8 empirically-pinned semantics: lag-1 late
    filter on the pre-merge window end, merge-then-evict within a
    batch (inclusive end <= watermark), and session REOPENING after
    emission — the chained per-bucket replay that a single global
    sessionization cannot express. Streaming == twin on identical
    buckets is pinned by pytest (dropped / kept-late / merged /
    reopened / withheld branches).

    The oracle's rounds are DATA-DRIVEN (one recursive-CTE iteration
    per actual arrival bucket — r10 VERDICT item 6), so any testdata
    span or late-arrival-model change is replayed rather than
    truncated; the r8–r10 enumerated date list and its staleness
    assert are gone."""
    from .streaming.intraday import session_late_twin

    return session_late_twin(_t(spark, sf_dir, "events"))


@register("events_time_weighted_avg", oracle="""
WITH w AS (
    SELECT event_type,
           (epoch_us(lead(ts) OVER (PARTITION BY event_type
                                    ORDER BY ts, event_id))
            - epoch_us(ts))::DECIMAL(16,0) AS dt,
           round(value, 6)::DECIMAL(14,6) AS v
    FROM events
)
SELECT event_type,
       round(SUM((v::DECIMAL(21,6) * dt)::DECIMAL(38,6))::DOUBLE
             / SUM(dt::BIGINT), 8) AS twa,
       SUM(dt::BIGINT)::BIGINT AS observed_micros
FROM w WHERE dt IS NOT NULL
GROUP BY event_type
""")
def events_time_weighted_avg(spark, sf_dir):
    """Time-weighted average over irregular events
    (``ops/temporal.time_weighted_avg`` — TimescaleDB's
    ``time_weight('LOCF', ...)`` shape): each value holds until the
    key's next event, the last event carries no weight, and the
    average is exact-DECIMAL Σ v·Δt / Σ Δt in integer micros. A
    plain AVG over-weights bursty periods — this is the aggregation
    irregular telemetry actually wants at 100 TB. Equal timestamps
    order by event_id for an engine-stable LOCF sequence; the
    (14,6)×(16,0) product stays within DECIMAL(38,6) so both engines
    sum the identical exact quantity."""
    from .ops.temporal import time_weighted_avg

    return time_weighted_avg(
        _t(spark, sf_dir, "events"), keys=["event_type"],
        ts_col="ts", val_col="value", id_col="event_id")


@register("events_resample_locf", oracle="""
WITH bounds AS (
    SELECT user_id,
           ceil((epoch_us(min(ts)) // 1000000) / 21600.0)::BIGINT AS b0,
           floor((epoch_us(max(ts)) // 1000000) / 21600.0)::BIGINT AS b1
    FROM events GROUP BY user_id
), grid AS (
    SELECT user_id,
           make_timestamp(unnest(generate_series(b0, b1)) * 21600
                          * 1000000) AS bucket_ts
    FROM bounds WHERE b0 <= b1
), dedup AS (
    SELECT user_id, ts, value FROM (
        SELECT user_id, ts, value,
               row_number() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id DESC) AS rn
        FROM events) WHERE rn = 1
)
SELECT g.user_id, g.bucket_ts, d.value
FROM grid g
ASOF LEFT JOIN dedup d
  ON g.user_id = d.user_id AND g.bucket_ts >= d.ts
""")
def events_resample_locf(spark, sf_dir):
    """Gap-filled LOCF resampling to a regular 6-hour grid
    (``ops/temporal.resample_locf`` — TimescaleDB's
    ``time_bucket_gapfill + locf`` / QuestDB ``SAMPLE BY
    FILL(PREV)``): per user, one row per 21600 s bucket from the
    first boundary at-or-after the user's first event (integer-second
    ceil, mirroring the Spark long cast) through the last boundary
    at-or-before its last event, carrying the most recent value
    at-or-before each grid point; equal-(key, ts) events collapse to
    the max event_id before the carry. Oracle = the same grid via
    ``generate_series`` + DuckDB's native ASOF LEFT JOIN over the
    collapsed events — an independent restatement of the
    union-and-carry composition (one shuffle, no pairwise blow-up).
    Note the r11-ADVICE no-boundary-in-range fix: a key whose events
    all fall strictly inside one step emits nothing (b0 > b1 keys are
    filtered, never fed to ``sequence``)."""
    from .ops.temporal import resample_locf

    return resample_locf(
        _t(spark, sf_dir, "events"), keys=["user_id"],
        step_seconds=21600, ts_col="ts", val_col="value",
        id_col="event_id")


@register("events_mad_outliers", oracle="""
WITH med AS (SELECT event_type, median(value) AS m
             FROM events GROUP BY event_type),
dev AS (SELECT e.event_type, e.value AS v,
               abs(e.value - med.m) AS ad, med.m
        FROM events e JOIN med USING (event_type)),
mad AS (SELECT event_type, any_value(m) AS m, median(ad) AS mad
        FROM dev GROUP BY event_type)
SELECT d.event_type, round(mad.m, 6) AS med,
       round(mad.mad, 6) AS mad,
       sum(CASE WHEN abs(d.v - mad.m) > 3.5 * mad.mad
                THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
       count(*)::BIGINT AS n_rows
FROM dev d JOIN mad USING (event_type)
GROUP BY d.event_type, mad.m, mad.mad
""")
def events_mad_outliers(spark, sf_dir):
    """Robust per-type outlier profile (``ops/quality.
    mad_outlier_stats``): median/MAD flagging at k=3.5 — the
    monitoring aggregation a mean/stddev z-score can't do on skewed
    telemetry. Two exact-percentile aggregates (Spark ``percentile``
    == DuckDB ``quantile_cont``, both interpolated) with the tiny
    per-group profiles broadcast back — no corpus re-shuffle beyond
    the two group-bys."""
    from .ops.quality import mad_outlier_stats

    return mad_outlier_stats(
        _t(spark, sf_dir, "events"), keys=["event_type"],
        val_col="value", k=3.5)


@register("events_interval_overlap", oracle="""
WITH l AS (SELECT user_id, event_id, ts AS s,
                  ts + INTERVAL 30 MINUTE AS e
           FROM events WHERE event_type = 'click'),
r AS (SELECT user_id, event_id, ts AS s,
             ts + INTERVAL 10 MINUTE AS e
      FROM events WHERE event_type = 'purchase')
SELECT l.event_id, r.event_id AS event_id_r
FROM l JOIN r ON l.user_id = r.user_id
             AND l.s <= r.e AND r.s <= l.e
""")
def events_interval_overlap(spark, sf_dir):
    """Interval OVERLAP join (``ops/temporal.interval_join`` — the
    third temporal-join shape after as-of and range): click activity
    windows [ts, ts+30m] × purchase windows [ts, ts+10m] per user,
    paired where the closed intervals intersect. Both sides explode
    over covered time buckets and equi-join on (user, bucket) + exact
    filter — candidates bounded per bucket, never |L|·|R| (DuckDB's
    oracle is the direct inequality join Spark would otherwise plan
    as a broadcast nested loop)."""
    from .ops.temporal import interval_join

    events = _t(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end"))
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("end"))
    out = interval_join(clicks, purchases, by="user_id",
                        bucket_seconds=1800)
    return out.select("event_id", "event_id_r")


@register("events_funnel_conversion", oracle="""
WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
            WHERE event_type = 'view' GROUP BY user_id),
s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
       JOIN s1 USING (user_id)
       WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY e.user_id),
s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
       JOIN s2 USING (user_id)
       WHERE e.event_type = 'purchase' AND e.ts > s2.t
       GROUP BY e.user_id),
c AS (SELECT (SELECT count(*) FROM s1) AS c1,
             (SELECT count(*) FROM s2) AS c2,
             (SELECT count(*) FROM s3) AS c3)
SELECT 1 AS step, 'view' AS step_name, c1::BIGINT AS users,
       CASE WHEN c1 > 0 THEN round(c1 / c1, 6)::DOUBLE END AS conversion
FROM c
UNION ALL
SELECT 2, 'click', c2::BIGINT,
       CASE WHEN c1 > 0 THEN round(c2 / c1, 6)::DOUBLE END FROM c
UNION ALL
SELECT 3, 'purchase', c3::BIGINT,
       CASE WHEN c1 > 0 THEN round(c3 / c1, 6)::DOUBLE END FROM c
""")
def events_funnel_conversion(spark, sf_dir):
    """Strict-order funnel view→click→purchase
    (``ops/analytics.funnel`` — the Amplitude/Mixpanel core query):
    step k counts users whose earliest step-k event is strictly
    later than their step-(k-1) conversion time. The chained
    ``min(when) OVER (PARTITION BY user)`` columns share one window
    exchange, so the funnel costs ONE shuffle of the filtered events;
    the oracle restates it as chained min-join CTEs."""
    from .ops.analytics import funnel

    return funnel(_t(spark, sf_dir, "events"),
                  steps=["view", "click", "purchase"])


@register("events_cohort_retention", oracle="""
WITH act AS (SELECT DISTINCT user_id AS u,
                    date_trunc('week', ts) AS w FROM events),
firsts AS (SELECT u, min(w) AS cohort FROM act GROUP BY u),
sizes AS (SELECT cohort, count(*) AS cohort_size FROM firsts
          GROUP BY cohort),
j AS (SELECT f.cohort,
             date_diff('day', f.cohort, a.w) // 7 AS week_offset
      FROM act a JOIN firsts f USING (u))
SELECT j.cohort AS cohort_week, j.week_offset::INT AS week_offset,
       count(*)::BIGINT AS active_users,
       s.cohort_size::BIGINT AS cohort_size,
       round(count(*) / s.cohort_size, 6)::DOUBLE AS retention
FROM j JOIN sizes s ON j.cohort = s.cohort
GROUP BY j.cohort, j.week_offset, s.cohort_size
""")
def events_cohort_retention(spark, sf_dir):
    """Weekly cohort retention (``ops/analytics.cohort_retention``):
    users keyed by Monday-truncated first-activity week × whole-week
    offset, with retention = active / cohort size. The event table
    shrinks to distinct (user, week) pairs BEFORE any join, so the
    join and final group-by run at user×week cardinality — at 100 TB
    the distinct is the only event-scale shuffle."""
    from .ops.analytics import cohort_retention

    return cohort_retention(_t(spark, sf_dir, "events"))

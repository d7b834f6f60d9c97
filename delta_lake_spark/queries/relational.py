"""Relational query surface over the TPC-H-ish test tables, covering
SURVEY.md §2.3-2.7/2.9: scans, projections, casts, filters (SQL-string,
Column, isin, RLIKE), equi- and non-equi joins, semi/anti joins,
aggregations, windows (lag/lead, ranking), union, top-k, from_json.

Cross-engine determinism convention (oracle = DuckDB):
  - money/quantity arithmetic goes through DECIMAL (source doubles are
    exactly 2dp, so the cast is lossless and sums are exact and
    associative — bit-identical across engines and partition orders),
    then the final value is cast back to DOUBLE;
  - every computed column is aliased identically here and in the SQL;
  - integer outputs are cast to long (DuckDB aggregates return BIGINT);
  - orderings that feed LIMIT always carry a unique tiebreak key.

Each function takes (spark, sf_dir) and returns a DataFrame; ORACLE_SQL
holds the DuckDB-ANSI equivalent keyed by the same name.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..reader import read_parquet


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The one reader of query inputs: ``{sf_dir}/{name}.parquet`` with
    its footer schema, so building a query runs no inference job."""
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")



def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet has stored ts as TIMESTAMP(NANOS) in some datasets
    (which Spark's parquet reader rejects — read nanos as long and truncate
    to microseconds exactly as DuckDB does) and TIMESTAMP(MICROS) in others
    (directly readable). Adapt to whichever the file carries. Session tz
    pinned to UTC so the ntz conversion is the identity on the instant.

    The two pins are session-global and belong to session setup, but
    the queries run on sessions built by their callers (the driver
    contract in ``__spark_entry__.py`` passes in its own session), so
    the reader cannot assume them; it sets them before the footer schema
    is read, which then surfaces nanos as long."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw = _t(spark, sf_dir, "events")
    ts_type = dict(raw.dtypes)["ts"]
    if ts_type == "bigint":  # nanos surfaced as long via the legacy conf
        return raw.withColumn(
            "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
        )
    return raw.withColumn("ts", F.col("ts").cast("timestamp_ntz"))

def _dec(col, scale: int = 2):
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal(18,{scale})")


# --------------------------------------------------------------------------
# q01 pricing summary (TPC-H Q1 shape; reference A1 multi-agg pattern)
# --------------------------------------------------------------------------

def q01_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    charge = disc_price * (F.lit(1).cast("decimal(18,2)") + _dec("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(_dec("l_quantity")).cast("double") / F.count("*")).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


_Q01_SQL = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# --------------------------------------------------------------------------
# q02 shipping-priority top-k (TPC-H Q3 shape; J1 joins + A1 + O1 top-k)
# --------------------------------------------------------------------------

def q02_top_unshipped_orders(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-01-01")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1997-01-01")
    revenue = F.sum(
        _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    )
    # no broadcast hint on customer: it grows linearly with SF (~30M rows
    # at sf100), so the join strategy is left to AQE — explicit hints are
    # reserved for fixed-size dims (nation/region, see q03)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue.cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


_Q02_SQL = """
SELECT o_orderkey, o_orderdate, o_orderpriority,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


# --------------------------------------------------------------------------
# q03 regional revenue (TPC-H Q5 shape; deep join tree, broadcast dims)
# --------------------------------------------------------------------------

def q03_region_revenue(spark, sf_dir):
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    revenue = F.sum(
        _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    )
    # join ORDER matters: enrich the thin orders relation through
    # customer -> nation -> region FIRST, then join lineitem once. The
    # naive li><orders-first order shuffles the fat li x orders
    # intermediate again on custkey; this way the custkey shuffle moves
    # to the orders relation (|orders| << |li x orders| columns x rows)
    # and lineitem is shuffled exactly once, on its join key. Catalyst
    # won't reorder joins without CBO stats, so the order is explicit.
    enriched_orders = (
        orders.select("o_orderkey", "o_custkey")
        .join(
            cust.select("c_custkey", "c_nationkey"),
            orders.o_custkey == cust.c_custkey,
        )
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("o_orderkey", "n_name", "r_name")
    )
    # shuffle_hash: without it Catalyst broadcasts the column-pruned
    # lineitem scan (its 3-column size estimate sneaks under the
    # broadcast threshold) — backwards at any scale. A shuffled hash
    # join shuffles each side exactly once on the near-unique order key
    # (no skew, so no sort needed and AQE has nothing to split).
    return (
        li.select("l_orderkey", "l_extendedprice", "l_discount")
        .hint("shuffle_hash")
        .join(enriched_orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("r_name", "n_name")
        .agg(
            revenue.cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


_Q03_SQL = """
SELECT r_name, n_name,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
  COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


# --------------------------------------------------------------------------
# q04 gold aggregate over events (reference A1: groupby agg avg/max/stddev,
# delta_lake_rapid_start.py:185-198)
# --------------------------------------------------------------------------

def q04_events_gold(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(_dec("value")).cast("double").alias("sum_value"),
        (F.sum(_dec("value")).cast("double") / F.count("*")).alias("avg_value"),
        F.max("value").alias("max_value"),
        F.round(F.stddev("value"), 6).alias("std_value"),
    )


_Q04_SQL = """
SELECT event_type, COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value,
  MAX(value) AS max_value,
  ROUND(STDDEV_SAMP(value), 6) AS std_value
FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------------
# q05 filtered daily counts (reference A3: where + groupby date + orderBy,
# delta_lake_rapid_start.py:283-290)
# --------------------------------------------------------------------------

def q05_daily_low_values(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return (
        ev.where(F.col("value") < 10)
        .groupBy(F.to_date("ts").alias("dte"))
        .agg(F.count("value").alias("n_low"))
        .orderBy("dte")
    )


_Q05_SQL = """
SELECT CAST(ts AS DATE) AS dte, COUNT(value) AS n_low
FROM events WHERE value < 10 GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# q06 from_json extraction (reference P5/§2.9 from_json over props;
# 02_bronze_to_silver.py:228-240)
# --------------------------------------------------------------------------

def q06_json_extract(spark, sf_dir):
    ev = _events(spark, sf_dir)
    parsed = ev.withColumn(
        "nested_json", F.from_json("props", "k INT")
    ).select("event_type", F.col("nested_json.k").alias("k"))
    return (
        parsed.groupBy("k")
        .agg(F.count("*").alias("n"))
        .filter(F.col("k") < 10)
    )


_Q06_SQL = """
SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k, COUNT(*) AS n
FROM events GROUP BY 1 HAVING k < 10
"""


# --------------------------------------------------------------------------
# q07 RLIKE filter (reference P10; 01_raw_to_bronze.py:191-193)
# --------------------------------------------------------------------------

def q07_rlike(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("text").rlike("merge [a-z]+ join"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
    )


_Q07_SQL = """
SELECT lang, COUNT(*) AS n_docs
FROM documents WHERE regexp_matches(text, 'merge [a-z]+ join')
GROUP BY lang
"""


# --------------------------------------------------------------------------
# q08 isin + top-k (reference P9 isin + O1 orderBy/limit)
# --------------------------------------------------------------------------

def q08_urgent_topk(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.where(F.col("o_orderpriority").isin(["1-URGENT", "2-HIGH"]))
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(20)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
    )


_Q08_SQL = """
SELECT o_orderkey, o_orderpriority, o_totalprice
FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20
"""


# --------------------------------------------------------------------------
# q09 quarantine split counts (reference P7/P11 clean-vs-quarantine
# pattern, operations.py:41-47)
# --------------------------------------------------------------------------

def q09_quarantine_split(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_total"),
        F.count(F.when(F.col("value") < 1, 1)).alias("n_quarantined"),
        F.count(F.when(F.col("value") >= 1, 1)).alias("n_clean"),
    )


_Q09_SQL = """
SELECT event_type, COUNT(*) AS n_total,
  COUNT(CASE WHEN value < 1 THEN 1 END) AS n_quarantined,
  COUNT(CASE WHEN value >= 1 THEN 1 END) AS n_clean
FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------------
# q10 lag/lead interpolation (reference W1/W2,
# delta_lake_rapid_start.py:325-352)
# --------------------------------------------------------------------------

def q10_interpolate(spark, sf_dir):
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_v = F.lag("value").over(w)
    next_v = F.lead("value").over(w)
    return (
        ev.select(
            "event_id",
            "user_id",
            "value",
            prev_v.alias("prev_value"),
            next_v.alias("next_value"),
            F.when(F.col("value") < 10, (prev_v + next_v) / 2)
            .otherwise(F.col("value"))
            .alias("repaired"),
        )
        .filter(F.col("value") < 10)
    )


_Q10_SQL = """
WITH w AS (
  SELECT event_id, user_id, value,
    LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
    LEAD(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_value
  FROM events
)
SELECT event_id, user_id, value, prev_value, next_value,
  CASE WHEN value < 10 THEN (prev_value + next_value) / 2 ELSE value END AS repaired
FROM w WHERE value < 10
"""


# --------------------------------------------------------------------------
# q11 union of update/insert slices (reference O3,
# delta_lake_rapid_start.py:391-396)
# --------------------------------------------------------------------------

def q11_union_slices(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    updates = orders.filter(F.col("o_totalprice") > 400000).select(
        "o_orderkey", "o_orderstatus"
    )
    inserts = orders.filter(F.col("o_orderdate") >= "2001-06-01").select(
        "o_orderkey", "o_orderstatus"
    )
    return (
        updates.union(inserts)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_all"), F.count_distinct("o_orderkey").alias("n_distinct"))
    )


_Q11_SQL = """
WITH u AS (
  SELECT o_orderkey, o_orderstatus FROM orders WHERE o_totalprice > 400000
  UNION ALL
  SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderdate >= TIMESTAMP '2001-06-01 00:00:00'
)
SELECT o_orderstatus, COUNT(*) AS n_all, COUNT(DISTINCT o_orderkey) AS n_distinct
FROM u GROUP BY o_orderstatus
"""


# --------------------------------------------------------------------------
# q12 ordered batch slice (reference O1: orderBy + limit batch slicing,
# utilities.py:49)
# --------------------------------------------------------------------------

def q12_batch_slice(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return (
        ev.orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .limit(100)
        .select("event_id", "user_id", "event_type", "value")
    )


_Q12_SQL = """
SELECT event_id, user_id, event_type, value
FROM events ORDER BY ts ASC, event_id ASC LIMIT 100
"""


# --------------------------------------------------------------------------
# q13 ranking window (row_number per group — beyond reference's lag/lead)
# --------------------------------------------------------------------------

def q13_top_customers_per_nation(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("n_name", "rank", "c_custkey", "c_acctbal")
    )


_Q13_SQL = """
WITH ranked AS (
  SELECT n_name, c_custkey, c_acctbal,
    ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey ASC) AS rank
  FROM customer JOIN nation ON c_nationkey = n_nationkey
)
SELECT n_name, rank, c_custkey, c_acctbal FROM ranked WHERE rank <= 3
"""


# --------------------------------------------------------------------------
# q14 group-having (active customers)
# --------------------------------------------------------------------------

def q14_active_customers(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    counts = (
        orders.groupBy("o_custkey").agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= 20)
    )
    return counts.join(cust, counts.o_custkey == cust.c_custkey).select(
        "c_custkey", "c_name", "n_orders"
    )


_Q14_SQL = """
SELECT c_custkey, c_name, n_orders FROM (
  SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 20
) JOIN customer ON o_custkey = c_custkey
"""


# --------------------------------------------------------------------------
# q15 anti join (customers with no orders; SURVEY §2.4 "semi/anti arise
# internally" — here surfaced as a query op)
# --------------------------------------------------------------------------

def q15_customers_without_orders(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


_Q15_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


# --------------------------------------------------------------------------
# q16 semi join (customers with at least one urgent order)
# --------------------------------------------------------------------------

def q16_customers_with_urgent_orders(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    urgent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


_Q16_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_customers FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
GROUP BY c_mktsegment
"""


# --------------------------------------------------------------------------
# q17 min/max per group (reference A1 family)
# --------------------------------------------------------------------------

def q17_brand_price_stats(spark, sf_dir):
    part = _t(spark, sf_dir, "part")
    return part.groupBy("p_brand").agg(
        F.min("p_retailprice").alias("min_price"),
        F.max("p_retailprice").alias("max_price"),
        F.count("*").alias("n_parts"),
        F.count_distinct("p_type").alias("n_types"),
    )


_Q17_SQL = """
SELECT p_brand, MIN(p_retailprice) AS min_price, MAX(p_retailprice) AS max_price,
  COUNT(*) AS n_parts, COUNT(DISTINCT p_type) AS n_types
FROM part GROUP BY p_brand
"""


# --------------------------------------------------------------------------
# q18 casts + scalar functions (reference P2/P3/§2.9: cast, date parts,
# concat/lit)
# --------------------------------------------------------------------------

def q18_casts_projection(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_linenumber") == 1)
        .select(
            "l_orderkey",
            F.col("l_shipdate").cast("date").alias("ship_date"),
            F.year("l_shipdate").cast("long").alias("ship_year"),
            F.month("l_shipdate").cast("long").alias("ship_month"),
            F.dayofmonth("l_shipdate").cast("long").alias("ship_day"),
            F.concat(F.col("l_returnflag"), F.lit("/"), F.col("l_linestatus")).alias("flag_status"),
            F.col("l_quantity").cast("int").cast("long").alias("qty_int"),
            F.round(F.col("l_extendedprice"), 0).alias("price_rounded"),
        )
    )


_Q18_SQL = """
SELECT l_orderkey,
  CAST(l_shipdate AS DATE) AS ship_date,
  CAST(year(l_shipdate) AS BIGINT) AS ship_year,
  CAST(month(l_shipdate) AS BIGINT) AS ship_month,
  CAST(dayofmonth(l_shipdate) AS BIGINT) AS ship_day,
  l_returnflag || '/' || l_linestatus AS flag_status,
  CAST(CAST(l_quantity AS INT) AS BIGINT) AS qty_int,
  ROUND(l_extendedprice, 0) AS price_rounded
FROM lineitem WHERE l_linenumber = 1
"""


# --------------------------------------------------------------------------
# q19 small-dimension broadcast join chain (reference J1 fact-to-dim)
# --------------------------------------------------------------------------

def q19_supplier_per_region(spark, sf_dir):
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    supp = _t(spark, sf_dir, "supplier")
    return (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.sum(_dec("s_acctbal")).cast("double").alias("total_bal"),
        )
    )


_Q19_SQL = """
SELECT r_name, COUNT(*) AS n_suppliers,
  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


# --------------------------------------------------------------------------
# q20 as-of join (custom operator Spark lacks as a primitive; composed
# from union + last(ignorenulls) window — the scalable pattern)
# --------------------------------------------------------------------------

def q20_asof_login_before_purchase(spark, sf_dir):
    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.lit(1).alias("__is_p")
    )
    logins = ev.filter(F.col("event_type") == "signup").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "ts",
        F.lit(0).alias("__is_p"),
    )
    unioned = purchases.unionByName(logins)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("__is_p").asc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    last_login = F.last(
        F.when(F.col("__is_p") == 0, F.col("ts")), ignorenulls=True
    ).over(w)
    return (
        unioned.withColumn("last_signup_ts", last_login)
        .filter(F.col("__is_p") == 1)
        .select("event_id", "user_id", "ts", "last_signup_ts")
    )


_Q20_SQL = """
SELECT p.event_id, p.user_id, p.ts, s.ts AS last_signup_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
  ON p.user_id = s.user_id AND p.ts >= s.ts
"""


# --------------------------------------------------------------------------
# q21 JSON source/sink round-trip (reference S1 schema-inferred JSON scan
# + S10 JSON sink, delta_lake_rapid_start.py:64-70 / utilities.py:52)
# --------------------------------------------------------------------------

def q21_json_roundtrip(spark, sf_dir):
    import shutil

    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value"
    )
    path = "/tmp/dls_query_tables/json_rt"
    shutil.rmtree(path, ignore_errors=True)
    ev.write.json(path)  # S10 JSON sink
    back = spark.read.json(path)  # S1 schema-inferred scan
    return (
        back.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        )
    )


_Q21_SQL = """
SELECT event_type, COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
  MIN(event_id) AS min_id, MAX(event_id) AS max_id
FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------------
# q22-q24: grouping sets / ranking / distinct-agg (SURVEY §2.5 notes these
# come free from Spark once exposed — exposed and oracle-checked here)
# --------------------------------------------------------------------------

def q22_rollup_revenue(spark, sf_dir):
    """ROLLUP subtotals + grand total with GROUPING id disambiguating
    subtotal rows from genuine NULL groups."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.count("*").alias("n"),
            F.grouping_id("l_returnflag", "l_linestatus").cast("long").alias("g"),
        )
    )


_Q22_SQL = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  COUNT(*) AS n,
  GROUPING(l_returnflag, l_linestatus) AS g
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q23_rank_parts_in_brand(spark, sf_dir):
    """Ranking window trio (row_number / rank / dense_rank) with a unique
    tiebreak, top-3 per brand by retail price."""
    part = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey").asc()
    )
    return (
        part.select(
            "p_brand",
            "p_partkey",
            F.col("p_retailprice"),
            F.row_number().over(w).cast("long").alias("rn"),
            F.rank().over(w).cast("long").alias("rnk"),
            F.dense_rank().over(w).cast("long").alias("drnk"),
        )
        .filter(F.col("rn") <= 3)
    )


_Q23_SQL = """
SELECT p_brand, p_partkey, p_retailprice, rn, rnk, drnk FROM (
  SELECT p_brand, p_partkey, p_retailprice,
    ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC) AS rn,
    RANK() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC) AS rnk,
    DENSE_RANK() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC) AS drnk
  FROM part
) WHERE rn <= 3
"""


def q24_distinct_agg(spark, sf_dir):
    """Distinct aggregates alongside plain ones (two-phase distinct-agg
    plan; partial aggregation still applies to the non-distinct side)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_custs"),
        F.count("*").alias("n_orders"),
        F.sum(_dec("o_totalprice")).cast("double").alias("total"),
    )


_Q24_SQL = """
SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_custs, COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders GROUP BY o_orderpriority
"""


def q26_supplier_customer_volume(spark, sf_dir):
    """TPC-H Q7-shape volume shipping: supplier nation x customer nation
    trade volume through a 6-way join with a date-range filter. Dims
    broadcast; the two big fact joins shuffle on their keys once."""
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    volume = F.sum(
        _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= "1995-01-01")
            & (F.col("l_shipdate") <= "1996-12-31")
        )
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("c_nk"))
        .filter(F.col("supp_nation") < F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(volume.cast("double").alias("volume"), F.count("*").alias("n_items"))
    )


_Q26_SQL = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(YEAR(l_shipdate) AS INT) AS l_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS volume,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
  AND n1.n_name < n2.n_name
GROUP BY 1, 2, 3
"""


def q27_status_pivot(spark, sf_dir):
    """Conditional-aggregation pivot: one pass over orders, one output
    row per priority with per-status columns (map-side partial aggs;
    no multi-scan UNION)."""
    orders = _t(spark, sf_dir, "orders")

    def bucket(status):
        return F.sum(
            F.when(F.col("o_orderstatus") == status, 1).otherwise(0)
        )

    return orders.groupBy("o_orderpriority").agg(
        bucket("F").alias("n_f"),
        bucket("O").alias("n_o"),
        bucket("P").alias("n_p"),
        F.sum(
            F.when(F.col("o_orderstatus") == "F", _dec("o_totalprice")).otherwise(
                F.lit(0).cast("decimal(18,2)")
            )
        )
        .cast("double")
        .alias("total_f"),
    )


_Q27_SQL = """
SELECT o_orderpriority,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS total_f
FROM orders GROUP BY o_orderpriority
"""


def q28_orders_above_customer_avg(spark, sf_dir):
    """Correlated-scalar-subquery shape (orders above 1.5x their own
    customer's average) expressed as a window aggregate — one shuffle on
    the correlation key instead of a per-row subquery."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    avg_price = F.avg(_dec("o_totalprice")).over(w)
    return (
        orders.withColumn("__avg", avg_price)
        .filter(_dec("o_totalprice") > F.lit(1.5).cast("decimal(18,2)") * F.col("__avg"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total"),
        )
    )


_Q28_SQL = """
WITH enriched AS (
  SELECT o_orderpriority, o_totalprice,
         AVG(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey) AS cust_avg
  FROM orders
)
SELECT o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM enriched
WHERE CAST(o_totalprice AS DECIMAL(18,2)) > 1.5 * cust_avg
GROUP BY o_orderpriority
"""


def q25_range_join_shipments(spark, sf_dir):
    """Point-in-interval join via bucketing (operators/joins.py
    bucketed_range_join): lineitems shipped within 7 days of a sampled
    order's date — the join that would otherwise plan as
    BroadcastNestedLoopJoin runs as an equi-join on bucket ids."""
    from ..operators.joins import bucketed_range_join

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    epoch = F.lit("1970-01-01")
    intervals = orders.filter(F.col("o_orderkey") % 1000 == 0).select(
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), epoch).alias("start_day"),
        (F.datediff(F.col("o_orderdate"), epoch) + 7).alias("end_day"),
    )
    points = li.select(
        F.datediff(F.col("l_shipdate"), epoch).alias("ship_day"),
        _dec("l_extendedprice").alias("__price"),
    )
    joined = bucketed_range_join(
        points, intervals, "ship_day", "start_day", "end_day", bucket_width=7
    )
    return joined.groupBy("o_orderkey").agg(
        F.count("*").alias("n_shipments"),
        F.sum("__price").cast("double").alias("total_price"),
    )


_Q25_SQL = """
SELECT o.o_orderkey, COUNT(*) AS n_shipments,
  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders o
JOIN lineitem l
  ON l.l_shipdate BETWEEN o.o_orderdate AND o.o_orderdate + INTERVAL 7 DAY
WHERE o.o_orderkey % 1000 = 0
GROUP BY o.o_orderkey
"""


def q71_cube_revenue(spark, sf_dir):
    """CUBE over (returnflag, linestatus): all four grouping combinations
    in one pass (Spark expands to a single Expand+HashAggregate — one
    shuffle, not four scans); grouping_id disambiguates subtotal rows."""
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        F.count("*").alias("n"),
        F.grouping_id("l_returnflag", "l_linestatus").cast("long").alias("g"),
    )


_Q71_SQL = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  COUNT(*) AS n,
  GROUPING(l_returnflag, l_linestatus) AS g
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q72_retention_setops(spark, sf_dir):
    """INTERSECT / EXCEPT customer retention: buyers active in both 1995
    and 1996 vs churned after 1995. Distinct set ops = hash aggregate on
    the key — same shuffle cost as a groupBy, no row explosion."""
    orders = _t(spark, sf_dir, "orders")
    y95 = orders.filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") <= "1995-12-31")
    ).select("o_custkey")
    y96 = orders.filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") <= "1996-12-31")
    ).select("o_custkey")
    retained = y95.intersect(y96).withColumn("cohort", F.lit("retained"))
    churned = y95.subtract(y96).withColumn("cohort", F.lit("churned"))
    return retained.unionByName(churned)


_Q72_SQL = """
WITH y95 AS (
  SELECT o_custkey FROM orders
  WHERE o_orderdate BETWEEN '1995-01-01' AND '1995-12-31'
),
y96 AS (
  SELECT o_custkey FROM orders
  WHERE o_orderdate BETWEEN '1996-01-01' AND '1996-12-31'
)
SELECT o_custkey, 'retained' AS cohort FROM (
  SELECT o_custkey FROM y95 INTERSECT SELECT o_custkey FROM y96)
UNION ALL
SELECT o_custkey, 'churned' AS cohort FROM (
  SELECT o_custkey FROM y95 EXCEPT SELECT o_custkey FROM y96)
"""


def q73_price_percentiles(spark, sf_dir):
    """Exact linear-interpolation percentiles (p25/median/p75) of order
    totals per priority — single-pass sort-based percentile per group."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.25)"), 4).alias("p25"),
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.75)"), 4).alias("p75"),
        F.count("*").alias("n"),
    )


_Q73_SQL = """
SELECT o_orderpriority,
  ROUND(quantile_cont(o_totalprice, 0.25), 4) AS p25,
  ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
  ROUND(quantile_cont(o_totalprice, 0.75), 4) AS p75,
  COUNT(*) AS n
FROM orders GROUP BY o_orderpriority
"""


def q74_embedding_array_stats(spark, sf_dir):
    """Higher-order array functions over embedding vectors: transform /
    aggregate (fold) entirely JVM-side — per-row lambda evaluation inside
    codegen, no UDF, no shuffle."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    ssq = F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
    total = F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x)
    return emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.round(F.sqrt(ssq), 6).alias("l2_norm"),
        F.round(total / F.size("embedding"), 6).alias("mean_val"),
    )


_Q74_SQL = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
  FROM embeddings WHERE vec_id < 100
)
SELECT vec_id,
  CAST(len(e) AS BIGINT) AS dim,
  ROUND(sqrt(list_sum(list_transform(e, x -> x * x))), 6) AS l2_norm,
  ROUND(list_sum(e) / len(e), 6) AS mean_val
FROM v
"""


def q81_date_dimensions(spark, sf_dir):
    """Scalar date-function surface: year/month/quarter extraction,
    month truncation, day arithmetic, last-day — aggregated per derived
    dimension so every function output is value-checked."""
    orders = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return (
        orders.select(
            F.year(d).cast("long").alias("yr"),
            F.quarter(d).cast("long").alias("qtr"),
            F.trunc(d, "month").alias("month_start"),
            F.last_day(d).alias("month_end"),
            F.datediff(F.lit("1998-12-31").cast("date"), d)
            .cast("long")
            .alias("days_to_eoy"),
            F.dayofweek(d).cast("long").alias("dow"),
        )
        .groupBy("yr", "qtr", "month_start", "month_end")
        .agg(
            F.count("*").alias("n"),
            F.sum("days_to_eoy").alias("sum_days"),
            F.sum("dow").alias("sum_dow"),
        )
    )


_Q81_SQL = """
SELECT
  CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
  CAST(EXTRACT(quarter FROM o_orderdate) AS BIGINT) AS qtr,
  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
  last_day(o_orderdate) AS month_end,
  COUNT(*) AS n,
  CAST(SUM(date_diff('day', o_orderdate, DATE '1998-12-31')) AS BIGINT)
    AS sum_days,
  CAST(SUM(dayofweek(o_orderdate) + 1) AS BIGINT) AS sum_dow
FROM orders
GROUP BY 1, 2, 3, 4
"""


def q82_string_functions(spark, sf_dir):
    """Scalar string-function surface: case mapping, substring, padding,
    replace, reverse, position, edit distance — on the part table, one
    row per part so every value is oracle-checked."""
    part = _t(spark, sf_dir, "part")
    name = F.col("p_name")
    return part.select(
        "p_partkey",
        F.upper(name).alias("uname"),
        F.substring(name, 1, 5).alias("first5"),
        F.length(name).cast("long").alias("len"),
        F.lpad(F.col("p_brand"), 12, "*").alias("padded"),
        F.regexp_replace(name, " ", "_").alias("snake"),
        F.reverse(F.col("p_brand")).alias("rbrand"),
        F.instr(name, "a").cast("long").alias("first_a"),
        F.levenshtein(F.col("p_brand"), F.col("p_type")).cast("long").alias("edit_dist"),
    )


_Q82_SQL = """
SELECT p_partkey,
  upper(p_name) AS uname,
  substr(p_name, 1, 5) AS first5,
  CAST(length(p_name) AS BIGINT) AS len,
  lpad(p_brand, 12, '*') AS padded,
  replace(p_name, ' ', '_') AS snake,
  reverse(p_brand) AS rbrand,
  CAST(strpos(p_name, 'a') AS BIGINT) AS first_a,
  CAST(levenshtein(p_brand, p_type) AS BIGINT) AS edit_dist
FROM part
"""


def q83_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS — two independent aggregation dimensions
    in one pass (single Expand + one shuffle, not two scans)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("__q83_orders")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
               CAST(GROUPING_ID(o_orderpriority, o_orderstatus) AS BIGINT) AS g
        FROM __q83_orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
        """
    )


_Q83_SQL = """
SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
  CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS g
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
"""


def q89_left_join_zero_groups(spark, sf_dir):
    """LEFT OUTER join with zero-preserving aggregation: every customer
    appears, order-less customers with n_orders = 0 — the outer-join +
    COALESCE pattern (count of the right-side KEY, not *, so unmatched
    rows count as zero)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_urgent"),
            F.coalesce(F.sum(_dec("o_totalprice")).cast("double"), F.lit(0.0)).alias(
                "urgent_total"
            ),
        )
    )


_Q89_SQL = """
SELECT c_custkey, c_mktsegment,
  COUNT(o_orderkey) AS n_urgent,
  COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0)
    AS urgent_total
FROM customer
LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority = '1-URGENT'
GROUP BY c_custkey, c_mktsegment
"""


def q90_window_frames(spark, sf_dir):
    """Explicit window frames + distribution functions: a 4-row moving
    sum (ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), running total over
    the unbounded frame, ntile quartiles and cume_dist — per priority,
    fully deterministic via the (date, orderkey) tiebreak."""
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "1997-06-01"
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_orderdate", "o_orderkey"
    )
    moving = w.rowsBetween(-3, Window.currentRow)
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_orderpriority",
        "o_orderkey",
        F.round(F.sum(_dec("o_totalprice")).over(moving).cast("double"), 2).alias(
            "moving4_total"
        ),
        F.round(F.sum(_dec("o_totalprice")).over(running).cast("double"), 2).alias(
            "running_total"
        ),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    )


_Q90_SQL = """
SELECT o_orderpriority, o_orderkey,
  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
    PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE), 2)
    AS moving4_total,
  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
    PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2)
    AS running_total,
  CAST(NTILE(4) OVER (
    PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey)
    AS BIGINT) AS quartile,
  ROUND(CUME_DIST() OVER (
    PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey), 6)
    AS cdist
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-06-01 00:00:00'
"""


def q91_correlated_scalar_subquery(spark, sf_dir):
    """Correlated scalar subquery (TPC-H Q17 shape): parts priced above
    1.02x their brand's average. Catalyst decorrelates this into an
    aggregate + join — same plan you'd hand-write, but expressed as the
    user would in SQL."""
    _t(spark, sf_dir, "part").createOrReplaceTempView("__q91_part")
    return spark.sql(
        """
        SELECT p_partkey, p_brand, p_retailprice
        FROM __q91_part p
        WHERE p_retailprice > 1.02 * (
          SELECT AVG(p2.p_retailprice) FROM __q91_part p2
          WHERE p2.p_brand = p.p_brand
        )
        """
    )


_Q91_SQL = """
SELECT p_partkey, p_brand, p_retailprice
FROM part p
WHERE p_retailprice > 1.02 * (
  SELECT AVG(p2.p_retailprice) FROM part p2
  WHERE p2.p_brand = p.p_brand
)
"""


# --------------------------------------------------------------------------
# q93/q94: additional source/sink formats (CSV with declared schema, ORC)
# --------------------------------------------------------------------------

def q93_csv_roundtrip(spark, sf_dir):
    """CSV sink + declared-schema scan (header, explicit types — the
    schema-on-read contract CSV needs; inference would give strings)."""
    import shutil

    sup = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    path = "/tmp/dls_query_tables/csv_rt"
    shutil.rmtree(path, ignore_errors=True)
    sup.write.option("header", True).csv(path)
    back = spark.read.schema(
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double"
    ).option("header", True).csv(path)
    return back.groupBy("s_nationkey").agg(
        F.count("*").alias("n"),
        F.round(F.sum("s_acctbal"), 4).alias("total_bal"),
    )


_Q93_SQL = """
SELECT s_nationkey, COUNT(*) AS n,
       ROUND(SUM(s_acctbal), 4) AS total_bal
FROM supplier GROUP BY s_nationkey
"""


def q94_orc_roundtrip(spark, sf_dir):
    """ORC sink + scan (columnar format parity beyond parquet; the
    oracle aggregates the same rows straight from parquet)."""
    import shutil

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = "/tmp/dls_query_tables/orc_rt"
    shutil.rmtree(path, ignore_errors=True)
    orders.write.orc(path)
    back = spark.read.orc(path)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.round(F.sum(_dec("o_totalprice")).cast("double"), 4).alias("total"),
    )


_Q94_SQL = """
SELECT o_orderstatus, COUNT(*) AS n,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 4) AS total
FROM orders GROUP BY o_orderstatus
"""


def q270_avro_roundtrip(spark, sf_dir):
    """Avro OCF sink + scan through the pure-stdlib container
    implementation (delta_lake_spark/avro.py — the spark-avro external
    module and the Python avro packages are absent in this
    environment, probed round 10; the OCF framing, zigzag varints, and
    null/deflate codecs are implemented from the public spec instead).
    Orders roundtrip executor-side with the deflate codec — nullable
    unions, date logical type, string/long/double fields — then the
    read-back relation aggregates; the oracle aggregates the same rows
    straight from parquet, so the verdict is value-exact over the full
    write+read path."""
    import shutil

    from ..avro import read_avro, write_avro

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        _dec("o_totalprice").cast("double").alias("o_totalprice"),
        "o_orderdate",
    )
    path = "/tmp/dls_query_tables/avro_rt"
    shutil.rmtree(path, ignore_errors=True)
    write_avro(orders, path, codec="deflate")
    back = read_avro(spark, path)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 4).alias("total"),
        F.min("o_orderdate").alias("first_date"),
        F.max("o_orderdate").alias("last_date"),
    )


_Q270_SQL = """
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 4)
         AS total,
       MIN(o_orderdate) AS first_date,
       MAX(o_orderdate) AS last_date
FROM orders GROUP BY o_orderstatus
"""


def q195_xml_roundtrip(spark, sf_dir):
    """XML sink + declared-schema scan (Spark 4's built-in XML source —
    the ETL landing format CSV/ORC parity was missing; schema-on-read
    like CSV, row-per-element like JSON lines). Decimal-staged sum so
    the aggregate replays exactly from parquet."""
    import shutil

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    path = "/tmp/dls_query_tables/xml_rt"
    shutil.rmtree(path, ignore_errors=True)
    cust.write.option("rootTag", "customers").option("rowTag", "c").format(
        "xml"
    ).save(path)
    back = (
        spark.read.schema("c_custkey long, c_mktsegment string, c_acctbal double")
        .option("rowTag", "c")
        .format("xml")
        .load(path)
    )
    return back.groupBy("c_mktsegment").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.sum(_dec("c_acctbal")).cast("double"), 4).alias("total_bal"),
    )


_Q195_SQL = """
SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 4)
         AS total_bal
FROM customer GROUP BY c_mktsegment
"""


# --------------------------------------------------------------------------
# q99: time-series gap fill (date spine join — the downsample/zero-fill
# shape of rollup pipelines)
# --------------------------------------------------------------------------

def q99_daily_gapfill(spark, sf_dir):
    """Daily click counts with missing days zero-filled: the date spine
    comes from sequence() over the corpus min/max date (a 1-row
    aggregate, broadcast into the explode), left-joined to the daily
    aggregate. No window, no driver-side date math; the spine's size is
    days, not rows."""
    ev = _events(spark, sf_dir).filter(F.col("event_type") == "click")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").alias("n_clicks")
    )
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1")).alias("day")
    )
    return spine.join(daily, "day", "left").select(
        "day", F.coalesce("n_clicks", F.lit(0)).alias("n_clicks")
    )


_Q99_SQL = """
WITH clicks AS (SELECT CAST(ts AS DATE) AS day FROM events WHERE event_type = 'click'),
daily AS (SELECT day, COUNT(*) AS n_clicks FROM clicks GROUP BY day),
spine AS (
  SELECT unnest(generate_series(
    (SELECT MIN(day) FROM clicks),
    (SELECT MAX(day) FROM clicks),
    INTERVAL 1 DAY))::DATE AS day
)
SELECT s.day, CAST(COALESCE(d.n_clicks, 0) AS BIGINT) AS n_clicks
FROM spine s LEFT JOIN daily d ON s.day = d.day
"""


def q107_asof_operator(spark, sf_dir):
    """The reusable asof_join operator (operators/joins.py): each
    purchase picks up the latest click at-or-before it per user — one
    shuffle on user_id, a single timeline window, no BNLJ, no fanout."""
    from ..operators.joins import asof_join

    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    return asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["event_id", "value"],
    )


_Q107_SQL = """
SELECT p.user_id, p.event_id, p.ts, p.value,
       c.event_id AS event_id_asof, c.value AS value_asof, c.ts AS ts_asof
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def q108_hopping_window(spark, sf_dir):
    """Hopping (sliding) window aggregation: 2-hour windows every hour,
    so each event lands in exactly two windows. F.window with a slide
    plans a single explode + hash aggregation — no self-join."""
    ev = _events(spark, sf_dir)
    win = F.window("ts", "2 hours", "1 hour")
    return (
        ev.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


_Q108_SQL = """
WITH k AS (SELECT unnest([0, 1]) AS k),
b AS (
  SELECT date_trunc('hour', ts) - k.k * INTERVAL 1 HOUR AS ws, event_type, value
  FROM events, k
)
SELECT ws AS window_start, event_type, COUNT(*) AS n,
  ROUND(SUM(value), 6) AS total_value
FROM b GROUP BY 1, 2
"""


def q109_session_window(spark, sf_dir):
    """Native session_window aggregation (30-minute inactivity gap):
    Spark merges overlapping per-event [ts, ts+gap) intervals in one
    stateful-capable operator; session_end = last event + gap. The
    oracle replays the same semantics with the lag/flag/running-sum
    islands construction."""
    ev = _events(spark, sf_dir)
    sw = F.session_window("ts", "30 minutes")
    return (
        ev.groupBy(sw.alias("s"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("s.start").cast("timestamp_ntz").alias("session_start"),
            F.col("s.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
        )
    )


_Q109_SQL = """
WITH ordered AS (
  SELECT user_id, ts,
    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM events
),
flagged AS (
  SELECT user_id, ts,
    CASE WHEN prev IS NULL OR epoch(ts) - epoch(prev) >= 1800 THEN 1 ELSE 0 END AS new_s
  FROM ordered
),
numbered AS (
  SELECT user_id, ts,
    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id, MIN(ts) AS session_start,
  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
  CAST(COUNT(*) AS BIGINT) AS n_events
FROM numbered GROUP BY user_id, sid
"""


def q110_unpivot_metrics(spark, sf_dir):
    """UNPIVOT via stack(): wide part columns to (metric, val) rows —
    a generator projection, no shuffle, no union of scans (the table is
    read ONCE, unlike the UNION ALL formulation the oracle uses)."""
    part = _t(spark, sf_dir, "part")
    return part.selectExpr(
        "p_partkey",
        "stack(2, 'retailprice', CAST(p_retailprice AS DOUBLE), "
        "'size', CAST(p_size AS DOUBLE)) AS (metric, val)",
    )


_Q110_SQL = """
SELECT p_partkey, 'retailprice' AS metric, CAST(p_retailprice AS DOUBLE) AS val
FROM part
UNION ALL
SELECT p_partkey, 'size', CAST(p_size AS DOUBLE) FROM part
"""


def q119_funnel_conversion(spark, sf_dir):
    """Product-analytics funnel: users whose first view is followed by
    a click, then a purchase (first-touch cascade, per-key aggregation
    chain — no corpus-wide window)."""
    from ..operators.events import funnel_counts

    ev = _events(spark, sf_dir)
    return funnel_counts(
        ev, "user_id", "event_type", "ts", ["view", "click", "purchase"]
    )


_Q119_SQL = """
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts >= s1.t
  WHERE e.event_type = 'click' GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts >= s2.t
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT CAST(1 AS BIGINT) AS step_idx, 'view' AS step,
       CAST(COUNT(*) AS BIGINT) AS n_users FROM s1
UNION ALL
SELECT CAST(2 AS BIGINT), 'click', CAST(COUNT(*) AS BIGINT) FROM s2
UNION ALL
SELECT CAST(3 AS BIGINT), 'purchase', CAST(COUNT(*) AS BIGINT) FROM s3
"""


def q123_waiting_supplier(spark, sf_dir):
    """TPC-H Q21 shape: suppliers who were the ONLY late shipper on a
    multi-supplier finished order — one join + one semi-join (another
    supplier exists) + one anti-join (no OTHER supplier was late),
    then a count and top-k. Exercises Catalyst's existence-join
    planning; all joins are equi on l_orderkey with residual
    conditions, so they hash-join and AQE can re-plan."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supplier = _t(spark, sf_dir, "supplier")

    # interval arithmetic (not date_add) so the comparison keeps full
    # timestamp precision, matching the oracle's + INTERVAL exactly
    # even if order timestamps ever carry a time-of-day component
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 60 DAYS"
    )
    l1 = (
        li.join(
            orders.filter(F.col("o_orderstatus") == "F").select(
                "o_orderkey", "o_orderdate"
            ),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .filter(late)
        .select("l_orderkey", "l_suppkey")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = (
        li.join(
            orders.filter(F.col("o_orderstatus") == "F").select(
                "o_orderkey", "o_orderdate"
            ),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .filter(late)
        .select(F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3"))
    )
    only_late = (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("k2"))
            & (F.col("l_suppkey") != F.col("s2")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("k3"))
            & (F.col("l_suppkey") != F.col("s3")),
            "left_anti",
        )
    )
    return (
        only_late.join(
            supplier, only_late.l_suppkey == supplier.s_suppkey
        )
        .groupBy("s_name")
        .agg(F.count("*").cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(10)
    )


_Q123_SQL = """
WITH f AS (SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderstatus = 'F'),
late AS (
  SELECT l.l_orderkey, l.l_suppkey
  FROM lineitem l JOIN f ON l.l_orderkey = f.o_orderkey
  WHERE l.l_shipdate > f.o_orderdate + INTERVAL 60 DAY
)
SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM late l1
JOIN supplier s ON l1.l_suppkey = s.s_suppkey
WHERE EXISTS (
  SELECT 1 FROM lineitem l2
  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
)
AND NOT EXISTS (
  SELECT 1 FROM late l3
  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
)
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name ASC
LIMIT 10
"""


def q125_nation_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: shipping volume between two nations by year —
    supplier nation -> customer nation flows, both directions, revenue
    per (supp_nation, cust_nation, year). Dims broadcast; one agg
    shuffle on the composite key."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")

    n1 = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    pair = (F.col("supp_nation") == "NATION_3") & (
        F.col("cust_nation") == "NATION_7"
    ) | (F.col("supp_nation") == "NATION_7") & (
        F.col("cust_nation") == "NATION_3"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("s_nkey"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("c_nkey"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            # round the DECIMAL sum before the double cast — the
            # scale-4 vol sum can land on a .xx5 tie where rounding
            # the double image diverges across engines (cf. q127)
            F.round(
                F.sum(
                    _dec(F.col("l_extendedprice"))
                    * (1 - _dec(F.col("l_discount")))
                ),
                2,
            ).cast("double").alias("revenue")
        )
    )


_Q125_SQL = """
SELECT supp_nation, cust_nation, l_year,
  CAST(ROUND(SUM(vol), 2) AS DOUBLE) AS revenue
FROM (
  SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
    CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
    CAST(l.l_extendedprice AS DECIMAL(18,2))
      * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS vol
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation ns ON s.s_nationkey = ns.n_nationkey
  JOIN nation nc ON c.c_nationkey = nc.n_nationkey
  WHERE (ns.n_name = 'NATION_3' AND nc.n_name = 'NATION_7')
     OR (ns.n_name = 'NATION_7' AND nc.n_name = 'NATION_3')
)
GROUP BY supp_nation, cust_nation, l_year
"""


def q120_length_histogram(spark, sf_dir):
    """Fixed-width document-length histogram (batch shaping): 20
    buckets over [0, 500) chars, map-only bucketing + one agg."""
    from ..operators.stats import numeric_histogram

    docs = _t(spark, sf_dir, "documents")
    return numeric_histogram(docs, "n_chars", n_buckets=20, lo=0.0, hi=500.0)


_Q120_SQL = """
WITH b AS (
  SELECT CAST(least(greatest(floor((n_chars - 0.0) / 25.0), 0), 19) AS BIGINT)
    AS bucket
  FROM documents WHERE n_chars IS NOT NULL
)
SELECT bucket,
  CAST(0.0 + bucket * 25.0 AS DOUBLE) AS lo,
  CAST(0.0 + (bucket + 1) * 25.0 AS DOUBLE) AS hi,
  CAST(COUNT(*) AS BIGINT) AS n
FROM b GROUP BY bucket
"""


def q121_retention_cohorts(spark, sf_dir):
    """Weekly cohort retention matrix: first-activity week per user,
    active-week counts per (cohort, offset). Two key-aggregations; the
    matrix itself is tiny at any scale."""
    from ..operators.events import retention_cohorts

    return retention_cohorts(_events(spark, sf_dir), "user_id", "ts", "week")


_Q121_SQL = """
WITH f AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort
  FROM events GROUP BY user_id
),
a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS p FROM events)
SELECT CAST(f.cohort AS DATE) AS cohort,
  CAST(datediff('day', f.cohort, a.p) / 7 AS BIGINT) AS period_n,
  CAST(COUNT(*) AS BIGINT) AS n_active
FROM a JOIN f USING (user_id)
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# q127 profit by nation/year (TPC-H Q9 shape): the multi-fact join-order
# stress — lineitem joined to part, supplier, orders, nation in one plan
# --------------------------------------------------------------------------

def q127_profit_by_nation_year(spark, sf_dir):
    """TPC-H Q9 shape (no partsupp table in this schema: supply cost is
    modeled as 10% of p_retailprice): profit per (supplier nation,
    order year) over parts matching a name filter.

    Join-order discipline for 100 TB: lineitem (the fat fact) is joined
    FIRST against the filtered part relation on l_partkey — the most
    selective reduction — then orders on l_orderkey, then supplier;
    only nation (25 rows) is broadcast. Neither fact may ever be the
    build side of a nested-loop: all joins carry equi keys
    (plan-tested). Decimal(12,2) staging keeps the three-way product
    exact within precision 38 on both engines."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")

    d = lambda c: (F.col(c) if isinstance(c, str) else c).cast("decimal(12,2)")
    amount = d("l_extendedprice") * (
        F.lit(1).cast("decimal(12,2)") - d("l_discount")
    ) - d("p_retailprice") * F.lit("0.10").cast("decimal(12,2)") * d("l_quantity")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        # round the DECIMAL sum, THEN cast: rounding after the
        # double cast diverges across engines when the exact sum
        # lands on a .xx5 tie (Spark rounds the shortest-decimal
        # rendering half-up, DuckDB rounds the binary value — a
        # half-ulp flip observed at sf0.001); both engines round
        # decimals half-away-from-zero, so the tie is deterministic
        .agg(F.round(F.sum(amount), 2).cast("double").alias("sum_profit"))
    )


_Q127_SQL = """
SELECT nation, o_year, CAST(ROUND(SUM(amount), 2) AS DOUBLE) AS sum_profit
FROM (
  SELECT n.n_name AS nation,
    CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
    CAST(l.l_extendedprice AS DECIMAL(12,2))
      * (CAST(1 AS DECIMAL(12,2)) - CAST(l.l_discount AS DECIMAL(12,2)))
      - CAST(p.p_retailprice AS DECIMAL(12,2))
        * CAST('0.10' AS DECIMAL(12,2))
        * CAST(l.l_quantity AS DECIMAL(12,2)) AS amount
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE p.p_name LIKE '%widget%'
)
GROUP BY nation, o_year
"""


# --------------------------------------------------------------------------
# q128 large-order customers (TPC-H Q18 shape): IN-subquery on an
# aggregated fact, then re-join the fact — the classic double-scan agg
# --------------------------------------------------------------------------

def q128_large_order_customers(spark, sf_dir):
    """TPC-H Q18 shape: customers whose orders exceed 300 total units.
    The IN-subquery (orders with sum(l_quantity) > 300) becomes a
    left-semi join against the pre-aggregated lineitem — partial
    aggregation runs map-side before the one shuffle on l_orderkey, and
    the (tiny) qualifying-order set then drives the re-join. Top-k by
    (o_totalprice DESC, o_orderkey) as TakeOrdered, never a global
    sort; o_orderkey breaks ties so LIMIT is deterministic across
    engines."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")

    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__q"))
        .filter(F.col("__q") > 300)
        .select("l_orderkey")
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("timestamp_ntz").alias("o_orderdate"),
            "o_totalprice",
        )
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


_Q128_SQL = """
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
  ROUND(SUM(l.l_quantity), 2) AS total_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING SUM(l_quantity) > 300
)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
ORDER BY o.o_totalprice DESC, o.o_orderkey
LIMIT 100
"""


# --------------------------------------------------------------------------
# q135 small-quantity revenue (TPC-H Q17 shape): per-part correlated avg
# --------------------------------------------------------------------------

def q135_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape: average yearly revenue lost if small-quantity
    orders (below 20% of the part's average quantity) for one brand were
    not filled. The correlated per-part AVG subquery is decorrelated by
    hand into the plan you'd want at 100 TB: the brand filter reduces
    part to a sliver that is BROADCAST against lineitem (map-side fact
    pruning, no fact shuffle), the per-part average aggregates only the
    pruned fact, and the tiny avg relation broadcasts back for the
    threshold compare — the fat lineitem is never shuffled at all.
    l_quantity is integer-valued, so both engines' avg (exact integer
    sum / count) agree bit-for-bit and the `<` threshold is
    deterministic cross-engine."""
    li = _t(spark, sf_dir, "lineitem")
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#4")
        .select("p_partkey")
    )
    li_f = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    avgq = li_f.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("__lim")
    )
    return (
        li_f.join(F.broadcast(avgq), "l_partkey")
        .filter(F.col("l_quantity") < F.col("__lim"))
        .agg(
            # decimal-staged sum (module convention): exact and
            # associative, so the /7 + round is bit-identical across
            # engines and partition orders
            F.round(F.sum(_dec("l_extendedprice")).cast("double") / 7.0, 2)
            .alias("avg_yearly"),
            F.count("*").cast("long").alias("n_small"),
        )
    )


_Q135_SQL = """
SELECT ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)))
             AS DOUBLE) / 7.0, 2) AS avg_yearly,
       CAST(COUNT(*) AS BIGINT) AS n_small
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand = 'Brand#4'
  AND l.l_quantity < (
    SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = l.l_partkey
  )
"""


# --------------------------------------------------------------------------
# q136 idle wealthy customers (TPC-H Q22 shape): scalar-subquery
# threshold + anti-join
# --------------------------------------------------------------------------

def q136_idle_wealthy_customers(spark, sf_dir):
    """TPC-H Q22 shape: count + balance of above-average-balance
    customers who never placed an URGENT order. Two classic subquery
    decorrelations in one plan: the scalar AVG threshold becomes a
    1-row broadcast cross join (never a collect), and NOT EXISTS
    becomes a left-anti join against the priority-filtered orders
    projection (two columns of the fact cross the wire, not the row).
    nation (25 rows) broadcasts for the display name. The threshold
    average is decimal-staged AND rounded to cents on BOTH engines
    before the compare: Spark's avg(decimal(18,2)) is a decimal(22,6)
    while DuckDB's AVG(DECIMAL) is a DOUBLE, so without the shared
    rounding a balance within ~5e-7 of the raw average could classify
    differently between engines — rounding both sides to the same 2dp
    grid makes the boundary deterministic."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")

    thr = cust.filter(F.col("c_acctbal") > 0).agg(
        F.round(F.avg(_dec("c_acctbal")), 2).alias("__thr")
    )
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey"
    )
    return (
        cust.join(F.broadcast(thr))
        .filter(_dec("c_acctbal") > F.col("__thr"))
        .join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti")
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").cast("long").alias("n_cust"),
            F.round(F.sum(_dec("c_acctbal")), 2)
            .cast("double")
            .alias("total_bal"),
        )
    )


_Q136_SQL = """
SELECT n.n_name AS nation, CAST(COUNT(*) AS BIGINT) AS n_cust,
  CAST(ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
    AS total_bal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE CAST(c.c_acctbal AS DECIMAL(18,2)) > (
    SELECT ROUND(AVG(CAST(c_acctbal AS DECIMAL(18,2))), 2) FROM customer
    WHERE c_acctbal > 0
  )
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
  )
GROUP BY n.n_name
"""


# --------------------------------------------------------------------------
# q177-q185: the remaining classic TPC-H query shapes (Q4, Q6, Q8, Q10,
# Q13, Q14, Q15, Q19, Q20), adapted to this schema's columns. Money
# sums are decimal-staged (_dec, module convention) so cross-engine
# value hashes are exact; double ratios round at 6 dp where the
# relative error of order-dependent double summation (~1e-12) cannot
# flip the grid.
# --------------------------------------------------------------------------

def q177_order_priority_exists(spark, sf_dir):
    """TPC-H Q4 shape: order counts by priority for one quarter, kept
    only when EXISTS a line shipped more than 60 days after the order
    date (this schema's late-shipment predicate — it has no
    commit/receipt dates). The EXISTS decorrelates to a LEFT SEMI join
    with a non-equi residual: Spark shuffles both sides on orderkey
    once, the residual evaluates inside the join, and no lineitem
    column survives past it — at 100 TB the fact crosses the wire as
    (orderkey, shipdate) only."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01")
        & (F.col("o_orderdate") < "1997-04-01")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").cast("long").alias("order_count"))
        .orderBy("o_orderpriority")
    )


_Q177_SQL = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q178_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: the pure scan-aggregate — revenue delta from a
    hypothetical discount change over one ship-year, a band of
    discounts, and small quantities. No join, no shuffle beyond the
    1-row final aggregate; the three predicates and the two-column
    projection all reach the parquet scan (PushedFilters/ReadSchema —
    the pushdown showcase). Discount boundaries are exact parquet
    doubles compared to the same literals on both engines."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
            & (F.col("l_discount") >= 0.04)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(_dec("l_extendedprice").cast("double") * F.col("l_discount")),
                2,
            ).alias("revenue"),
            F.count("*").cast("long").alias("n_lines"),
        )
    )


_Q178_SQL = """
SELECT ROUND(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE)
                 * l_discount), 2) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount >= 0.04 AND l_discount <= 0.06
  AND l_quantity < 24
"""


def q179_market_share(spark, sf_dir):
    """TPC-H Q8 shape: NATION_3 suppliers' share of ECONOMY-part order
    volume delivered into ASIA-region customers, by order year. The
    conditional-share pattern (SUM(CASE)/SUM) runs in ONE aggregation
    over the joined slice; part (type-filtered sliver) and the
    nation/region dimension broadcast, supplier and the facts shuffle
    on their join keys once each. Share rounds at 6 dp (double-sum
    relative error ~1e-12 cannot flip that grid)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")

    part_f = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    asia_nations = (
        nation.join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            nation.n_regionkey == region.r_regionkey,
        )
        .select(F.col("n_nationkey").alias("__cnk"))
    )
    snation = nation.select(
        F.col("n_nationkey").alias("__snk"), F.col("n_name").alias("__sn")
    )
    vol = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    joined = (
        li.join(F.broadcast(part_f), li.l_partkey == part_f.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(asia_nations), cust.c_nationkey == F.col("__cnk"))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(snation), supp.s_nationkey == F.col("__snk"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            vol.alias("__vol"),
            F.col("__sn"),
        )
    )
    return (
        joined.groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("__sn") == "NATION_3", F.col("__vol"))
                    .otherwise(F.lit(0.0))
                )
                / F.sum("__vol"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


_Q179_SQL = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
  ROUND(SUM(CASE WHEN sn.n_name = 'NATION_3'
                 THEN l_extendedprice * (1.0 - l_discount) ELSE 0 END)
        / SUM(l_extendedprice * (1.0 - l_discount)), 6) AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN region ON cn.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
GROUP BY 1 ORDER BY 1
"""


def q180_returned_item_customers(spark, sf_dir):
    """TPC-H Q10 shape: top 20 customers by revenue lost to returned
    items in one quarter. Orders prune on the date band BEFORE joining
    the fact (partition-prunable at scale), the returnflag filter
    prunes lineitem at the scan, nation broadcasts for the display
    name, and the top-20 is a TakeOrdered on the rounded revenue with
    the customer key as the deterministic tie-break."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-07-01")
        & (F.col("o_orderdate") < "1997-10-01")
    )
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    rev = F.sum(
        _dec("l_extendedprice").cast("double") * (F.lit(1.0) - F.col("l_discount"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(rev, 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


_Q180_SQL = """
SELECT c_custkey, c_name, n_name,
  ROUND(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE)
            * (1.0 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-07-01'
  AND o_orderdate < TIMESTAMP '1997-10-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC LIMIT 20
"""


def q181_order_count_distribution(spark, sf_dir):
    """TPC-H Q13 shape: the customer-order-count histogram. The LEFT
    join keeps order-less customers (c_count = 0 bucket), the
    non-urgent condition lives IN the join (not a post-filter, which
    would turn the outer join inner), and the double aggregation is
    two hash shuffles: per-customer counts, then the count-of-counts.
    No window, no collect."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").cast("long").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


_Q181_SQL = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) GROUP BY c_count ORDER BY custdist DESC, c_count DESC
"""


def q182_promo_revenue_share(spark, sf_dir):
    """TPC-H Q14 shape: percentage of one ship-month's revenue from
    PROMO-type parts — the CASE-ratio pattern in one aggregation over
    the month's fact slice, with part broadcast (two columns). 6 dp
    ratio rounding (see q179)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-03-01")
        & (F.col("l_shipdate") < "1997-04-01")
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    vol = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return li.join(
        F.broadcast(part), li.l_partkey == part.p_partkey
    ).agg(
        F.round(
            F.lit(100.0)
            * F.sum(
                F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0.0))
            )
            / F.sum(vol),
            6,
        ).alias("promo_share")
    )


_Q182_SQL = """
SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                  THEN l_extendedprice * (1.0 - l_discount) ELSE 0 END)
        / SUM(l_extendedprice * (1.0 - l_discount)), 6) AS promo_share
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-03-01'
  AND l_shipdate < TIMESTAMP '1997-04-01'
"""


def q183_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: the supplier(s) with the maximum revenue in one
    ship-quarter — the view + scalar-MAX pattern. The per-supplier
    revenue aggregates once; the 1-row MAX broadcasts back against it
    (never a collect); supplier joins for the name. Revenue rounds to
    cents BEFORE the max-compare on both engines, so a within-5e-9
    near-tie cannot classify differently."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1997-04-01")
    )
    supp = _t(spark, sf_dir, "supplier")
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(
                    _dec("l_extendedprice").cast("double")
                    * (F.lit(1.0) - F.col("l_discount"))
                ),
                2,
            ).alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("__mx"))
        .join(supp, rev.l_suppkey == supp.s_suppkey)
        .select(
            F.col("s_suppkey"), F.col("s_name"), F.col("total_revenue")
        )
        .orderBy("s_suppkey")
    )


_Q183_SQL = """
WITH rev AS (
  SELECT l_suppkey,
    ROUND(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE)
              * (1.0 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
ORDER BY s_suppkey
"""


def q184_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 shape: revenue under three OR'd brand/size/quantity
    conjunction groups — the disjunctive-predicate pattern optimizers
    historically mishandled (each disjunct references BOTH tables, so
    it must evaluate inside the join). part broadcasts; the common
    sub-predicates (quantity bounds) still prune lineitem at the scan
    because the union of the quantity bands is a pushable range."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    g = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(5, 15)
        )
        | (
            (F.col("p_brand") == "Brand#9")
            & F.col("p_size").between(5, 25)
            & F.col("l_quantity").between(10, 25)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(1, 40)
            & F.col("l_quantity").between(20, 35)
        )
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(g)
        .agg(
            F.round(
                F.sum(
                    _dec("l_extendedprice").cast("double")
                    * (F.lit(1.0) - F.col("l_discount"))
                ),
                2,
            ).alias("revenue"),
            F.count("*").cast("long").alias("n_lines"),
        )
    )


_Q184_SQL = """
SELECT ROUND(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE)
              * (1.0 - l_discount)), 2) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        AND l_quantity BETWEEN 5 AND 15)
   OR (p_brand = 'Brand#9' AND p_size BETWEEN 5 AND 25
        AND l_quantity BETWEEN 10 AND 25)
   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 40
        AND l_quantity BETWEEN 20 AND 35)
"""


def q185_excess_volume_suppliers(spark, sf_dir):
    """TPC-H Q20 shape: suppliers who shipped a large aggregate volume
    of any 'small ...' part in one ship-year — the nested-semi-join
    chain (part-name filter -> per-(supplier, part) volume threshold
    -> supplier semi-join). The name-filtered part sliver broadcasts
    into the fact; the HAVING runs on the grouped slice; supplier is
    reduced by a LEFT SEMI join on the qualifying keys, so only
    (suppkey) crosses the last wire. l_quantity is integer-valued, so
    the SUM threshold is exact on both engines."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith("small"))
        .select("p_partkey")
    )
    supp = _t(spark, sf_dir, "supplier")
    heavy = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("__q"))
        .filter(F.col("__q") > 40)
        .select("l_suppkey")
    )
    return (
        supp.join(heavy, supp.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


_Q185_SQL = """
SELECT s_suppkey, s_name FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'small%'
    AND l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY l_suppkey, l_partkey HAVING SUM(l_quantity) > 40
)
ORDER BY s_suppkey
"""


# --------------------------------------------------------------------------
# q186-q189: the four partsupp-dependent TPC-H shapes (Q2, Q11, Q12,
# Q16), adapted to this schema by deriving the part-supplier relation
# from lineitem (the schema has no partsupp table; the distinct
# (l_partkey, l_suppkey) pairs and their observed unit prices play the
# roles of ps_* columns). The SHAPES are preserved exactly: Q2's
# correlated per-group MIN, Q11's HAVING-vs-global-scalar fraction,
# Q12's conditional two-way counts, Q16's NOT-IN-excluded COUNT
# DISTINCT. With these, all 22 classic TPC-H query shapes have a
# registry entry.
# --------------------------------------------------------------------------

def q186_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape: for each ECONOMY part up to size 15, the
    EUROPE supplier(s) offering the minimum observed unit price —
    the correlated per-group MIN subquery over a deep dimension join.
    Offers aggregate once per (part, supplier) [the derived partsupp];
    the correlated MIN evaluates as a window MIN over partkey on that
    SAME relation — the textual self-join form would duplicate the
    whole lineitem+dims subtree (two fact scans; verified in the
    first cut's plan), the window form scans the fact ONCE and pays
    one extra partkey exchange. The winner filter compares exact
    doubles: unit price is the IEEE quotient l_extendedprice /
    l_quantity, identical bit-for-bit on both engines, and MIN is
    order-independent, so the equality cannot drift. Supplier/nation/
    region dims broadcast. The final ORDER BY carries the unique
    (p_partkey, s_suppkey) tiebreak under its LIMIT."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "ECONOMY") & (F.col("p_size") <= 15)
    )
    eu_supp = (
        supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    offers = (
        li.join(F.broadcast(eu_supp), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey", "s_suppkey", "s_name", "s_acctbal", "n_name")
        .agg(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias(
                "unit_price"
            )
        )
    )
    # the part slice joins BEFORE the window: the per-part MIN only
    # depends on that part's own offers, so pre-filtering to the
    # selected partkeys is semantics-preserving and windows over the
    # ECONOMY sliver instead of every part
    w = Window.partitionBy("l_partkey")
    return (
        offers.join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .withColumn("__mn", F.min("unit_price").over(w))
        .filter(F.col("unit_price") == F.col("__mn"))
        .select(
            "s_acctbal", "s_name", "n_name",
            "p_partkey", "p_name", "s_suppkey", "unit_price",
        )
        .orderBy(
            F.col("s_acctbal").desc(), F.col("p_partkey"), F.col("s_suppkey")
        )
        .limit(20)
    )


_Q186_SQL = """
WITH offer AS (
  SELECT l_partkey, s_suppkey, s_name, s_acctbal, n_name,
         MIN(l_extendedprice / l_quantity) AS unit_price
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
  GROUP BY l_partkey, s_suppkey, s_name, s_acctbal, n_name
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name, s_suppkey, unit_price
FROM part JOIN offer o ON p_partkey = l_partkey
WHERE p_type = 'ECONOMY' AND p_size <= 15
  AND unit_price = (
    SELECT MIN(o2.unit_price) FROM offer o2 WHERE o2.l_partkey = p_partkey
  )
ORDER BY s_acctbal DESC, p_partkey, s_suppkey
LIMIT 20
"""


def q187_important_parts(spark, sf_dir):
    """TPC-H Q11 shape: parts whose ASIA-supplied value exceeds a
    fixed fraction of the region's total supplied value — the
    HAVING-vs-global-scalar pattern. Per-part values aggregate once
    (decimal-staged, so both the per-part sums and the global total
    are exact and associative); the 1-row threshold then broadcasts
    back against the per-part relation instead of re-scanning the
    fact (TPC-H's textual subquery would scan lineitem twice — at
    100 TB the reuse halves the I/O). TPC-H's fixed fraction shrinks
    the result to empty as part count grows (the spec scales it by
    1/SF); the threshold here is 2x the MEAN per-part value —
    scale-invariant, so every SF yields a non-trivial result. The
    compare multiplies exact decimals/bigints only (below). The spec
    restricts to one nation; the tiny sf0.001 smoke slice has just 10
    suppliers, so a single nation can be absent — a region keeps the
    shape AND a non-empty result at every scale."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nat_supp = (
        supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey")
    )
    value = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(18,2)") - _dec("l_discount")
    )
    per_part = (
        li.join(F.broadcast(nat_supp), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(value).alias("__v"))
    )
    # 2x-mean threshold without a decimal DIVISION (whose result scale
    # differs between engines): v > 2 * sum/n  <=>  v * n > sum * 2,
    # products of exact decimals/bigints — exact on both engines.
    total = per_part.agg(
        F.sum("__v").alias("__tot"), F.count("*").alias("__n")
    )
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("__v") * F.col("__n") > F.col("__tot") * F.lit(2))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("__v").cast("double").alias("part_value"),
        )
        .orderBy(F.col("part_value").desc(), F.col("p_partkey"))
    )


_Q187_SQL = """
WITH per_part AS (
  SELECT l_partkey AS p_partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
           AS v
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
  GROUP BY l_partkey
)
SELECT p_partkey, CAST(v AS DOUBLE) AS part_value
FROM per_part, (SELECT SUM(v) AS tot, COUNT(*) AS n FROM per_part) t
WHERE v * t.n > t.tot * 2
ORDER BY part_value DESC, p_partkey
"""


def q188_late_priority_counts(spark, sf_dir):
    """TPC-H Q12 shape: per-category counts of critical vs
    non-critical orders among late shipments in one ship-year — the
    conditional two-way count. l_returnflag stands in for l_shipmode
    (this schema has no ship-mode column) and 'shipped more than 60
    days after the order date' for the commit/receipt lateness
    predicate. One join shuffled on orderkey with only (orderkey,
    priority) crossing from orders, map-side partial aggregation into
    a 3-row result — the plan a 100-TB run wants."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias(
                "high_line_count"
            ),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias(
                "low_line_count"
            ),
        )
        .orderBy("l_returnflag")
    )


_Q188_SQL = """
SELECT l_returnflag,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q189_supplier_part_counts(spark, sf_dir):
    """TPC-H Q16 shape: how many suppliers can ship each (brand, type,
    size) slice, excluding a blacklist — COUNT DISTINCT over the
    derived partsupp relation with a NOT-IN-subquery exclusion.
    s_acctbal < 0 stands in for the '%Customer%Complaints%' predicate.
    The NOT IN compiles to a LEFT ANTI join (s_suppkey is non-null, so
    the semantics are identical); the distinct (partkey, suppkey)
    pairs reduce lineitem BEFORE the part join; the blacklist
    broadcasts. ORDER BY carries the full group key as tiebreak."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    bad = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (~F.col("p_type").startswith("PROMO"))
        & (F.col("p_size").isin(1, 5, 9, 14, 20, 25, 30, 36))
    )
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(),
            F.col("p_brand"), F.col("p_type"), F.col("p_size"),
        )
    )


_Q189_SQL = """
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type NOT LIKE 'PROMO%'
  AND p_size IN (1, 5, 9, 14, 20, 25, 30, 36)
  AND l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


QUERIES = {
    "q01_pricing_summary": q01_pricing_summary,
    "q135_small_quantity_revenue": q135_small_quantity_revenue,
    "q136_idle_wealthy_customers": q136_idle_wealthy_customers,
    "q177_order_priority_exists": q177_order_priority_exists,
    "q178_forecast_revenue": q178_forecast_revenue,
    "q179_market_share": q179_market_share,
    "q180_returned_item_customers": q180_returned_item_customers,
    "q181_order_count_distribution": q181_order_count_distribution,
    "q182_promo_revenue_share": q182_promo_revenue_share,
    "q183_top_supplier": q183_top_supplier,
    "q184_disjunctive_revenue": q184_disjunctive_revenue,
    "q185_excess_volume_suppliers": q185_excess_volume_suppliers,
    "q186_min_cost_supplier": q186_min_cost_supplier,
    "q187_important_parts": q187_important_parts,
    "q188_late_priority_counts": q188_late_priority_counts,
    "q189_supplier_part_counts": q189_supplier_part_counts,
    "q119_funnel_conversion": q119_funnel_conversion,
    "q120_length_histogram": q120_length_histogram,
    "q121_retention_cohorts": q121_retention_cohorts,
    "q123_waiting_supplier": q123_waiting_supplier,
    "q125_nation_volume_shipping": q125_nation_volume_shipping,
    "q127_profit_by_nation_year": q127_profit_by_nation_year,
    "q128_large_order_customers": q128_large_order_customers,
    "q21_json_roundtrip": q21_json_roundtrip,
    "q02_top_unshipped_orders": q02_top_unshipped_orders,
    "q03_region_revenue": q03_region_revenue,
    "q04_events_gold": q04_events_gold,
    "q05_daily_low_values": q05_daily_low_values,
    "q06_json_extract": q06_json_extract,
    "q07_rlike": q07_rlike,
    "q08_urgent_topk": q08_urgent_topk,
    "q09_quarantine_split": q09_quarantine_split,
    "q10_interpolate": q10_interpolate,
    "q11_union_slices": q11_union_slices,
    "q12_batch_slice": q12_batch_slice,
    "q13_top_customers_per_nation": q13_top_customers_per_nation,
    "q14_active_customers": q14_active_customers,
    "q15_customers_without_orders": q15_customers_without_orders,
    "q16_customers_with_urgent_orders": q16_customers_with_urgent_orders,
    "q17_brand_price_stats": q17_brand_price_stats,
    "q18_casts_projection": q18_casts_projection,
    "q19_supplier_per_region": q19_supplier_per_region,
    "q20_asof_login_before_purchase": q20_asof_login_before_purchase,
    "q22_rollup_revenue": q22_rollup_revenue,
    "q23_rank_parts_in_brand": q23_rank_parts_in_brand,
    "q24_distinct_agg": q24_distinct_agg,
    "q25_range_join_shipments": q25_range_join_shipments,
    "q26_supplier_customer_volume": q26_supplier_customer_volume,
    "q27_status_pivot": q27_status_pivot,
    "q28_orders_above_customer_avg": q28_orders_above_customer_avg,
    "q71_cube_revenue": q71_cube_revenue,
    "q72_retention_setops": q72_retention_setops,
    "q73_price_percentiles": q73_price_percentiles,
    "q74_embedding_array_stats": q74_embedding_array_stats,
    "q81_date_dimensions": q81_date_dimensions,
    "q82_string_functions": q82_string_functions,
    "q83_grouping_sets": q83_grouping_sets,
    "q89_left_join_zero_groups": q89_left_join_zero_groups,
    "q90_window_frames": q90_window_frames,
    "q91_correlated_scalar_subquery": q91_correlated_scalar_subquery,
    "q93_csv_roundtrip": q93_csv_roundtrip,
    "q94_orc_roundtrip": q94_orc_roundtrip,
    "q195_xml_roundtrip": q195_xml_roundtrip,
    "q270_avro_roundtrip": q270_avro_roundtrip,
    "q99_daily_gapfill": q99_daily_gapfill,
    "q107_asof_operator": q107_asof_operator,
    "q108_hopping_window": q108_hopping_window,
    "q109_session_window": q109_session_window,
    "q110_unpivot_metrics": q110_unpivot_metrics,
}

ORACLE_SQL = {
    "q01_pricing_summary": _Q01_SQL,
    "q135_small_quantity_revenue": _Q135_SQL,
    "q177_order_priority_exists": _Q177_SQL,
    "q178_forecast_revenue": _Q178_SQL,
    "q179_market_share": _Q179_SQL,
    "q180_returned_item_customers": _Q180_SQL,
    "q181_order_count_distribution": _Q181_SQL,
    "q182_promo_revenue_share": _Q182_SQL,
    "q183_top_supplier": _Q183_SQL,
    "q184_disjunctive_revenue": _Q184_SQL,
    "q185_excess_volume_suppliers": _Q185_SQL,
    "q186_min_cost_supplier": _Q186_SQL,
    "q187_important_parts": _Q187_SQL,
    "q188_late_priority_counts": _Q188_SQL,
    "q189_supplier_part_counts": _Q189_SQL,
    "q136_idle_wealthy_customers": _Q136_SQL,
    "q119_funnel_conversion": _Q119_SQL,
    "q120_length_histogram": _Q120_SQL,
    "q121_retention_cohorts": _Q121_SQL,
    "q123_waiting_supplier": _Q123_SQL,
    "q125_nation_volume_shipping": _Q125_SQL,
    "q127_profit_by_nation_year": _Q127_SQL,
    "q128_large_order_customers": _Q128_SQL,
    "q21_json_roundtrip": _Q21_SQL,
    "q02_top_unshipped_orders": _Q02_SQL,
    "q03_region_revenue": _Q03_SQL,
    "q04_events_gold": _Q04_SQL,
    "q05_daily_low_values": _Q05_SQL,
    "q06_json_extract": _Q06_SQL,
    "q07_rlike": _Q07_SQL,
    "q08_urgent_topk": _Q08_SQL,
    "q09_quarantine_split": _Q09_SQL,
    "q10_interpolate": _Q10_SQL,
    "q11_union_slices": _Q11_SQL,
    "q12_batch_slice": _Q12_SQL,
    "q13_top_customers_per_nation": _Q13_SQL,
    "q14_active_customers": _Q14_SQL,
    "q15_customers_without_orders": _Q15_SQL,
    "q16_customers_with_urgent_orders": _Q16_SQL,
    "q17_brand_price_stats": _Q17_SQL,
    "q18_casts_projection": _Q18_SQL,
    "q19_supplier_per_region": _Q19_SQL,
    "q20_asof_login_before_purchase": _Q20_SQL,
    "q22_rollup_revenue": _Q22_SQL,
    "q23_rank_parts_in_brand": _Q23_SQL,
    "q24_distinct_agg": _Q24_SQL,
    "q25_range_join_shipments": _Q25_SQL,
    "q26_supplier_customer_volume": _Q26_SQL,
    "q27_status_pivot": _Q27_SQL,
    "q28_orders_above_customer_avg": _Q28_SQL,
    "q71_cube_revenue": _Q71_SQL,
    "q72_retention_setops": _Q72_SQL,
    "q73_price_percentiles": _Q73_SQL,
    "q74_embedding_array_stats": _Q74_SQL,
    "q81_date_dimensions": _Q81_SQL,
    "q82_string_functions": _Q82_SQL,
    "q83_grouping_sets": _Q83_SQL,
    "q89_left_join_zero_groups": _Q89_SQL,
    "q90_window_frames": _Q90_SQL,
    "q91_correlated_scalar_subquery": _Q91_SQL,
    "q93_csv_roundtrip": _Q93_SQL,
    "q94_orc_roundtrip": _Q94_SQL,
    "q195_xml_roundtrip": _Q195_SQL,
    "q270_avro_roundtrip": _Q270_SQL,
    "q99_daily_gapfill": _Q99_SQL,
    "q107_asof_operator": _Q107_SQL,
    "q108_hopping_window": _Q108_SQL,
    "q109_session_window": _Q109_SQL,
    "q110_unpivot_metrics": _Q110_SQL,
}

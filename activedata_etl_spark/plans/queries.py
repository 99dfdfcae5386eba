"""Query registry: every operator from SURVEY.md §2 as a (Spark callable,
DuckDB oracle SQL) pair, on the driver-provided star schema.

Each Spark function takes (spark, sf_dir) and returns a DataFrame whose
column NAMES and VALUES match the oracle SQL exactly (aliases everywhere;
doubles rounded at the same precision on both sides).

jx semantics references (`/root/reference/`):
- aggregates registry: vendor/jx_elasticsearch/es52/util.py:97-124
- edges/domains binning: vendor/jx_base/domains.py; decoders
  vendor/jx_elasticsearch/es52/decoders.py:35-725
- window clause: vendor/jx_python/jx.py:945-1018
- sort nulls-least: vendor/jx_base/language.py:152-235
- null-safe eq: EqOp at vendor/jx_base/expressions.py:1099
- set ops via UniqueIndex: vendor/mo_collections/unique_index.py
- first/last singleton extract: vendor/jx_base/expressions.py:1450,1494
- LWW latest-per-key: vendor/pyLibrary/env/elasticsearch.py:328-331,374-380
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from activedata_etl_spark.functions import text as TX
from activedata_etl_spark.operators import corpus as CP
from activedata_etl_spark.operators import dedup as DD
from activedata_etl_spark.operators import funnels as FN
from activedata_etl_spark.operators import temporal as TP
from activedata_etl_spark.operators import similarity as SIM
from activedata_etl_spark.sources.tables import load_table


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# core jx-style operators over the star schema
# ---------------------------------------------------------------------------

def q01_summary_agg(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1 shape: filtered multi-aggregate groupBy (es52 aggs surface)."""
    li = _t(spark, sf, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


ORACLE_Q01 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       round(sum(l_extendedprice), 4) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q02_filter_strings(spark: SparkSession, sf: str) -> DataFrame:
    """Projection + string ops: prefix/suffix/find/concat/left-right."""
    p = _t(spark, sf, "part")
    return (
        p.where(F.col("p_type").startswith("STANDARD"))
        .select(
            "p_partkey",
            F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
            F.substring("p_name", 1, 8).alias("name_left8"),
            F.locate("o", F.col("p_name")).alias("find_o"),
            F.upper("p_brand").alias("brand_upper"),
            F.length("p_name").alias("name_len"),
            F.col("p_name").endswith("e").cast("int").alias("ends_e"),
        )
        .orderBy("p_partkey")
    )


ORACLE_Q02 = """
SELECT p_partkey,
       concat_ws('|', p_brand, p_type) AS brand_type,
       substr(p_name, 1, 8) AS name_left8,
       CASE WHEN strpos(p_name, 'o') IS NULL THEN 0 ELSE strpos(p_name, 'o') END AS find_o,
       upper(p_brand) AS brand_upper,
       length(p_name) AS name_len,
       CASE WHEN p_name LIKE '%e' THEN 1 ELSE 0 END AS ends_e
FROM part
WHERE p_type LIKE 'STANDARD%'
ORDER BY p_partkey
"""


def q03_join_enrich(spark: SparkSession, sf: str) -> DataFrame:
    """Broadcast dimension enrichment (hg-revision-lookup analog) + agg."""
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
            F.countDistinct("c_custkey").alias("n_customers"),
        )
        .orderBy("r_name")
    )


ORACLE_Q03 = """
SELECT r_name, count(*) AS n_orders,
       round(sum(o_totalprice), 4) AS revenue,
       count(DISTINCT c_custkey) AS n_customers
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name
"""


def q04_topk_sort(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-key sort + limit; jx nulls-least ordering made explicit."""
    o = _t(spark, sf, "orders")
    return (
        o.select("o_orderkey", "o_totalprice", "o_orderpriority")
        .orderBy(
            F.col("o_totalprice").desc_nulls_last(), F.col("o_orderkey").asc()
        )
        .limit(10)
    )


ORACLE_Q04 = """
SELECT o_orderkey, o_totalprice, o_orderpriority
FROM orders ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC LIMIT 10
"""


def q05_window_latest(spark: SparkSession, sf: str) -> DataFrame:
    """LWW latest-state per key over the events stream (external_gte analog)."""
    e = _t(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", F.round("value", 6).alias("value"))
        .orderBy("user_id")
    )


ORACLE_Q05 = """
SELECT user_id, event_id, event_type, round(value, 6) AS value FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) WHERE rn = 1 ORDER BY user_id
"""


def q06_window_sliding(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding window aggregate: jx window {range:{min,max}} analog."""
    e = _t(spark, sf, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, 0)
    )
    return (
        e.where(F.col("user_id") < 50)
        .select(
            "user_id",
            "event_id",
            F.round(F.sum("value").over(w), 6).alias("running_sum"),
            F.count(F.lit(1)).over(w).alias("running_n"),
        )
        .orderBy("user_id", "event_id")
    )


ORACLE_Q06 = """
SELECT user_id, event_id,
       round(sum(value) OVER w, 6) AS running_sum,
       count(*) OVER w AS running_n
FROM events WHERE user_id < 50
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
ORDER BY user_id, event_id
"""


def q07_edges_time(spark: SparkSession, sf: str) -> DataFrame:
    """TimeDomain edge: floor events to month buckets."""
    e = _t(spark, sf, "events")
    return (
        e.groupBy(F.date_trunc("month", "ts").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .orderBy("month")
    )


ORACLE_Q07 = """
SELECT date_trunc('month', ts) AS month, count(*) AS n,
       round(sum(value), 4) AS total_value
FROM events GROUP BY 1 ORDER BY 1
"""


def q08_edges_bins(spark: SparkSession, sf: str) -> DataFrame:
    """RangeDomain/floor-to-multiple edge: FloorOp(value, 25)."""
    e = _t(spark, sf, "events")
    bin_ = (F.floor(F.col("value") / 25) * 25).cast("long").alias("value_bin")
    return (
        e.groupBy(bin_)
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("value"), 6).alias("avg_value"))
        .orderBy("value_bin")
    )


ORACLE_Q08 = """
SELECT CAST(floor(value / 25) * 25 AS BIGINT) AS value_bin, count(*) AS n,
       round(avg(value), 6) AS avg_value
FROM events GROUP BY 1 ORDER BY 1
"""


def q09_having(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.round(F.sum("o_totalprice"), 4).alias("spend"))
        .where(F.col("n_orders") >= 15)
        .orderBy("o_custkey")
    )


ORACLE_Q09 = """
SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 4) AS spend
FROM orders GROUP BY o_custkey HAVING count(*) >= 15 ORDER BY o_custkey
"""


def q10_set_union(spark: SparkSession, sf: str) -> DataFrame:
    """Set union of keys from two sources (UniqueIndex | analog)."""
    o = _t(spark, sf, "orders").select(F.col("o_custkey").alias("key"))
    c = _t(spark, sf, "customer").where(F.col("c_acctbal") > 9000).select(
        F.col("c_custkey").alias("key")
    )
    return o.union(c).distinct().orderBy("key")


ORACLE_Q10 = """
SELECT DISTINCT key FROM (
  SELECT o_custkey AS key FROM orders
  UNION ALL
  SELECT c_custkey AS key FROM customer WHERE c_acctbal > 9000
) ORDER BY key
"""


def q11_anti_semi(spark: SparkSession, sf: str) -> DataFrame:
    """Anti/semi join (UniqueIndex -/& as used in s3_bucket merge)."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    without = c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        F.lit("no_orders").alias("bucket"), "c_custkey"
    )
    with_ = c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        F.lit("has_orders").alias("bucket"), "c_custkey"
    )
    return (
        without.union(with_)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.min("c_custkey").alias("min_key"))
        .orderBy("bucket")
    )


ORACLE_Q11 = """
SELECT bucket, count(*) AS n, min(c_custkey) AS min_key FROM (
  SELECT 'no_orders' AS bucket, c_custkey FROM customer
  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
  UNION ALL
  SELECT 'has_orders' AS bucket, c_custkey FROM customer
  WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
) GROUP BY bucket ORDER BY bucket
"""


def q12_case_coalesce(spark: SparkSession, sf: str) -> DataFrame:
    """WhenOp/CaseOp/CoalesceOp."""
    o = _t(spark, sf, "orders")
    urgency = (
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "high")
        .when(F.col("o_orderpriority") == "3-MEDIUM", "medium")
        .otherwise("low")
    )
    return (
        o.select(
            "o_orderkey",
            urgency.alias("urgency"),
            F.coalesce(F.col("o_orderstatus"), F.lit("?")).alias("status"),
        )
        .groupBy("urgency", "status")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("urgency", "status")
    )


ORACLE_Q12 = """
SELECT CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 'high'
            WHEN o_orderpriority = '3-MEDIUM' THEN 'medium'
            ELSE 'low' END AS urgency,
       coalesce(o_orderstatus, '?') AS status, count(*) AS n
FROM orders GROUP BY 1, 2 ORDER BY urgency, status
"""


def q13_count_values(spark: SparkSession, sf: str) -> DataFrame:
    """count_values / value histogram (es52 aggs)."""
    e = _t(spark, sf, "events")
    return (
        e.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("user_id").alias("n_users"))
        .orderBy("event_type")
    )


ORACLE_Q13 = """
SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type ORDER BY event_type
"""


def q14_stats_block(spark: SparkSession, sf: str) -> DataFrame:
    """extended_stats block (count,sum,avg,var,std,min,max)."""
    e = _t(spark, sf, "events")
    return e.groupBy("event_type").agg(
        F.count("value").alias("n"),
        F.round(F.sum("value"), 4).alias("s"),
        F.round(F.avg("value"), 6).alias("mean"),
        F.round(F.var_samp("value"), 4).alias("variance"),
        F.round(F.stddev("value"), 4).alias("std"),
        F.round(F.min("value"), 6).alias("mn"),
        F.round(F.max("value"), 6).alias("mx"),
    ).orderBy("event_type")


ORACLE_Q14 = """
SELECT event_type, count(value) AS n, round(sum(value), 4) AS s,
       round(avg(value), 6) AS mean, round(var_samp(value), 4) AS variance,
       round(stddev(value), 4) AS std, round(min(value), 6) AS mn,
       round(max(value), 6) AS mx
FROM events GROUP BY event_type ORDER BY event_type
"""


def q15_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """median/percentile (ES t-digest analog -> exact interpolated here)."""
    e = _t(spark, sf, "events")
    return e.groupBy("event_type").agg(
        F.round(F.percentile("value", 0.5), 6).alias("p50"),
        F.round(F.percentile("value", 0.9), 6).alias("p90"),
    ).orderBy("event_type")


ORACLE_Q15 = """
SELECT event_type, round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90
FROM events GROUP BY event_type ORDER BY event_type
"""


def q16_in_between(spark: SparkSession, sf: str) -> DataFrame:
    """InOp/BetweenOp/NeOp."""
    li = _t(spark, sf, "lineitem")
    return (
        li.where(
            F.col("l_quantity").between(10, 20)
            & F.col("l_returnflag").isin("A", "R")
            & (F.col("l_linestatus") != "O")
        )
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_extendedprice"), 4).alias("total"))
        .orderBy("l_returnflag")
    )


ORACLE_Q16 = """
SELECT l_returnflag, count(*) AS n, round(sum(l_extendedprice), 4) AS total
FROM lineitem
WHERE l_quantity BETWEEN 10 AND 20 AND l_returnflag IN ('A','R') AND l_linestatus <> 'O'
GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q17_null_safe_eq(spark: SparkSession, sf: str) -> DataFrame:
    """jx EqOp is null-safe (never null) -> eqNullSafe / IS NOT DISTINCT FROM."""
    d = _t(spark, sf, "documents")
    return (
        d.select(
            F.col("lang").eqNullSafe(F.lit("en")).alias("is_en"),
            F.col("lang").isNull().alias("lang_missing"),
        )
        .groupBy("is_en", "lang_missing")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("is_en", "lang_missing")
    )


ORACLE_Q17 = """
SELECT (lang IS NOT DISTINCT FROM 'en') AS is_en, (lang IS NULL) AS lang_missing,
       count(*) AS n
FROM documents GROUP BY 1, 2 ORDER BY is_en, lang_missing
"""


def q18_cube(spark: SparkSession, sf: str) -> DataFrame:
    """grouping-sets cube (dense Matrix cube analog)."""
    li = _t(spark, sf, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 4).alias("qty"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


ORACLE_Q18 = """
SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity), 4) AS qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
"""


def q19_window_lag(spark: SparkSession, sf: str) -> DataFrame:
    """RowsOp relative-row access -> lag/lead."""
    e = _t(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.where(F.col("user_id") < 50)
        .select(
            "user_id",
            "event_id",
            F.round(F.col("value") - F.lag("value", 1).over(w), 6).alias("delta_prev"),
            F.lead("event_type", 1).over(w).alias("next_type"),
        )
        .orderBy("user_id", "event_id")
    )


ORACLE_Q19 = """
SELECT user_id, event_id,
       round(value - lag(value, 1) OVER w, 6) AS delta_prev,
       lead(event_type, 1) OVER w AS next_type
FROM events WHERE user_id < 50
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, event_id
"""


def q20_first_last(spark: SparkSession, sf: str) -> DataFrame:
    """FirstOp/LastOp singleton extraction -> min_by/max_by."""
    e = _t(spark, sf, "events")
    return (
        e.groupBy("user_id")
        .agg(
            F.min_by("event_type", F.struct("ts", "event_id")).alias("first_type"),
            F.max_by("event_type", F.struct("ts", "event_id")).alias("last_type"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .orderBy("user_id")
    )


ORACLE_Q20 = """
WITH ordered AS (
  SELECT user_id, event_type, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events)
SELECT user_id,
       max(CASE WHEN rn_a = 1 THEN event_type END) AS first_type,
       max(CASE WHEN rn_d = 1 THEN event_type END) AS last_type,
       min(ts) AS first_ts, max(ts) AS last_ts
FROM ordered GROUP BY user_id ORDER BY user_id
"""


def q21_json_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Dynamic-JSON extraction (mo_json/stream.py expected-vars analog):
    pull typed values out of the props JSON column, aggregate."""
    e = _t(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


ORACLE_Q21 = """
SELECT event_type, count(k) AS n, round(avg(k), 6) AS avg_k, max(k) AS max_k
FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events)
GROUP BY event_type ORDER BY event_type
"""


def q22_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Hierarchical grouping-sets rollup (dense-cube analog, SURVEY §2.5)."""
    o = _t(spark, sf, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 4).alias("rev"))
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


ORACLE_Q22 = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       round(sum(o_totalprice), 4) AS rev
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
"""


def q23_explode_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """Array explode (1-source-row -> N child rows, the ETL 'join' step
    analog, activedata_etl/__init__.py:20-50): top tokens by frequency."""
    d = _t(spark, sf, "documents")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"[a-z]+"), 0)
    return (
        d.select(F.explode(toks).alias("token"))
        .where(F.length("token") >= 6)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(25)
    )


ORACLE_Q23 = """
SELECT token, count(*) AS n FROM (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
  FROM documents)
WHERE length(token) >= 6
GROUP BY token ORDER BY n DESC, token ASC LIMIT 25
"""


def q24_window_percentile(spark: SparkSession, sf: str) -> DataFrame:
    """Percentile accumulator OVER a window through the jx window clause
    (vendor/jx_python/windows.py:277 Percentile)."""
    from activedata_etl_spark.plans import jx

    e = _t(spark, sf, "events")
    return jx.run(
        {
            "from": "t",
            "where": {"lt": {"user_id": 30}},
            "window": {"name": "p50", "edges": ["user_id"],
                       "aggregate": "percentile", "percentile": 0.5,
                       "value": "value"},
            "select": ["user_id", "event_id",
                       {"name": "p50r", "value": {"script": "round(p50, 6)"}}],
            "sort": ["user_id", "event_id"],
            "limit": None,  # engine extension: unbounded (result stays a DataFrame)
        },
        {"t": e},
    )


ORACLE_Q24 = """
SELECT user_id, event_id,
       round(quantile_cont(value, 0.5) OVER (PARTITION BY user_id), 6) AS p50r
FROM events WHERE user_id < 30 ORDER BY user_id, event_id
"""


def q25_edges_dense_set(spark: SparkSession, sf: str) -> DataFrame:
    """SetDomain with explicit partitions -> DENSE output: the 'refund'
    bucket is empty (count 0) and still emitted; allowNulls adds the null
    bucket holding out-of-domain rows ('signup' is deliberately not a
    partition).  Matches vendor/jx_base/domains.py:366 SetDomain + the dense
    Matrix fill (vendor/jx_python/lists/aggs.py:49-55)."""
    from activedata_etl_spark.plans import jx

    e = _t(spark, sf, "events")
    out = jx.run(
        {
            "from": "t",
            "edges": [{"name": "event_type", "value": "event_type",
                       "domain": {"type": "set",
                                  "partitions": ["click", "error", "purchase",
                                                 "refund", "view"]}}],
            "select": [{"name": "n", "aggregate": "count"},
                       {"name": "tv", "value": "value", "aggregate": "sum"}],
            "limit": None,  # engine extension: unbounded (result stays a DataFrame)
        },
        {"t": e},
    )
    return out.select(
        "event_type", "n", F.round("tv", 4).alias("total_value")
    ).orderBy(F.col("event_type").asc_nulls_first())


ORACLE_Q25 = """
WITH parts(event_type) AS (
  VALUES ('click'),('error'),('purchase'),('refund'),('view'),(NULL)
), g AS (
  SELECT CASE WHEN event_type IN ('click','error','purchase','refund','view')
              THEN event_type END AS et,
         count(*) AS n, sum(value) AS tv
  FROM events GROUP BY 1
)
SELECT p.event_type, coalesce(g.n, 0) AS n, round(g.tv, 4) AS total_value
FROM parts p LEFT JOIN g ON g.et IS NOT DISTINCT FROM p.event_type
ORDER BY p.event_type NULLS FIRST
"""


def q26_nested_dive(spark: SparkSession, sf: str) -> DataFrame:
    """Nested-array dive: a dot path through array<struct> auto-explodes
    (drill_filter, vendor/jx_python/jx.py:640-912; _select_deep :279-392).
    The nested frame is built by collect_list so the dive's output must
    reconstruct exactly the flat rows it came from."""
    from activedata_etl_spark.plans import jx

    li = _t(spark, sf, "lineitem")
    nested = li.groupBy("l_orderkey").agg(
        F.collect_list(
            F.struct("l_linenumber", "l_quantity", "l_returnflag")
        ).alias("items")
    )
    return jx.run(
        {
            "from": "t",
            "where": {"gte": {"items.l_quantity": 48}},
            "select": [{"name": "orderkey", "value": "l_orderkey"},
                       {"name": "linenumber", "value": "items.l_linenumber"},
                       {"name": "qty", "value": "items.l_quantity"},
                       {"name": "flag", "value": "items.l_returnflag"}],
            "sort": ["orderkey", "linenumber"],
            "limit": None,  # engine extension: unbounded (result stays a DataFrame)
        },
        {"t": nested},
    )


ORACLE_Q26 = """
SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
       l_quantity AS qty, l_returnflag AS flag
FROM lineitem WHERE l_quantity >= 48 ORDER BY orderkey, linenumber
"""


def q27_count_values(spark: SparkSession, sf: str) -> DataFrame:
    """count_values: per-value histogram of a MULTIVALUE field — explode the
    value array, count per value (vendor/jx_elasticsearch/es52/aggs.py:285-308
    counts every value occurrence, not distinct docs)."""
    d = _t(spark, sf, "documents")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"[a-z]{5,}"), 0)
    return (
        d.select(F.explode(toks).alias("value"))
        .groupBy("value")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("value")
    )


ORACLE_Q27 = """
SELECT value, count(*) AS n FROM (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z]{5,}')) AS value
  FROM documents)
GROUP BY value ORDER BY value
"""


def q28_edges_dense_time(spark: SparkSession, sf: str) -> DataFrame:
    """Dense TimeDomain edge: months Jan..Mar 2024 materialized; the events
    table only spans January, so Feb and Mar are EMPTY buckets that must
    still appear (decoders, vendor/jx_elasticsearch/es52/decoders.py:159)."""
    from activedata_etl_spark.plans import jx

    e = _t(spark, sf, "events")
    out = jx.run(
        {
            "from": "t",
            "edges": [{"name": "month", "value": "ts",
                       "domain": {"type": "time", "interval": "month",
                                  "min": "2024-01-01", "max": "2024-04-01"}}],
            "select": {"name": "n", "aggregate": "count"},
            "sort": "month",
            "limit": None,  # engine extension: unbounded (result stays a DataFrame)
        },
        {"t": e},
    )
    # month formatted as a string so the driver's value-hash is independent
    # of pandas timestamp resolution (Spark=ns vs DuckDB=us)
    return out.select(
        F.date_format("month", "yyyy-MM-dd").alias("month"), "n"
    ).orderBy(F.col("month").asc_nulls_first())


ORACLE_Q28 = """
WITH parts(month) AS (
  VALUES (TIMESTAMP '2024-01-01'), (TIMESTAMP '2024-02-01'),
         (TIMESTAMP '2024-03-01'), (NULL)
), g AS (
  SELECT CASE WHEN ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-04-01'
              THEN date_trunc('month', ts) END AS m,
         count(*) AS n
  FROM events GROUP BY 1
)
SELECT strftime(p.month, '%Y-%m-%d') AS month, coalesce(g.n, 0) AS n
FROM parts p LEFT JOIN g ON g.m IS NOT DISTINCT FROM p.month
ORDER BY month NULLS FIRST
"""


def q29_window_rows(spark: SparkSession, sf: str) -> DataFrame:
    """jx-lite RowsOp: {"rows": [v, offset]} inside a window clause compiles
    to lag/lead (jx_base/expressions.py:384-409) — q19's per-user delta, but
    expressed through the jx window clause instead of direct DataFrame code."""
    from activedata_etl_spark.plans import jx

    e = _t(spark, sf, "events")
    return jx.run(
        {
            "from": "t",
            "where": {"lt": {"user_id": 50}},
            "window": [
                {"name": "prev_value", "edges": ["user_id"],
                 "sort": ["ts", "event_id"], "value": {"rows": ["value", -1]}},
                {"name": "next_type", "edges": ["user_id"],
                 "sort": ["ts", "event_id"], "value": {"rows": ["event_type", 1]}},
            ],
            "select": [
                "user_id", "event_id",
                {"name": "delta_prev",
                 "value": {"script": "round(value - prev_value, 6)"}},
                "next_type",
            ],
            "sort": ["user_id", "event_id"],
            "limit": None,
        },
        {"t": e},
    )


ORACLE_Q29 = """
SELECT user_id, event_id,
       round(value - lag(value, 1) OVER w, 6) AS delta_prev,
       lead(event_type, 1) OVER w AS next_type
FROM events WHERE user_id < 50
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, event_id
"""


def q30_multivalue_edge(spark: SparkSession, sf: str) -> DataFrame:
    """jx-lite edge over a MULTIVALUE (array) field: the edge groups by each
    VALUE of the token array, not by the array itself — the MultivalueDecoder
    semantics (vendor/jx_elasticsearch/es52/decoders.py:452); documents with
    no qualifying token land in the null bucket (allowNulls)."""
    from activedata_etl_spark.plans import jx

    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.regexp_extract_all(
            F.lower(F.col("text")), F.lit(r"[a-z]{6,}"), 0
        ).alias("toks"),
    )
    return (
        jx.run(
            {
                "from": "t",
                "edges": [{"name": "tok", "value": "toks"}],
                "select": [
                    {"name": "n", "aggregate": "count"},
                    {"name": "docs", "value": "doc_id",
                     "aggregate": "cardinality"},
                ],
                "limit": None,
            },
            {"t": d},
        )
        .orderBy(F.col("tok").asc_nulls_first())
    )


ORACLE_Q30 = """
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]{6,}') AS t
  FROM documents
), x AS (
  SELECT doc_id, unnest(CASE WHEN len(t) = 0 THEN [NULL] ELSE t END) AS tok
  FROM toks
)
SELECT tok, count(*) AS n, count(DISTINCT doc_id) AS docs
FROM x GROUP BY tok ORDER BY tok NULLS FIRST
"""


def q31_calendar_duration_edge(spark: SparkSession, sf: str) -> DataFrame:
    """Dense TimeDomain edge with a COUNTED CALENDAR interval ("2month"):
    bins on the months-since-year-0 grid (mo_times month algebra,
    vendor/mo_times/durations.py add_month — months have no fixed second
    width); empty grid buckets still materialize."""
    from activedata_etl_spark.plans import jx

    e = _t(spark, sf, "events")
    out = jx.run(
        {
            "from": "t",
            "edges": [{"name": "period", "value": "ts",
                       "domain": {"type": "time", "interval": "2month",
                                  "min": "2023-11-01", "max": "2024-05-01"}}],
            "select": [{"name": "n", "aggregate": "count"},
                       {"name": "sv", "value": "value", "aggregate": "sum"}],
            "limit": None,  # engine extension: unbounded (result stays a DataFrame)
        },
        {"t": e},
    )
    # string-formatted so the driver's value-hash is resolution-independent
    return out.select(
        F.date_format("period", "yyyy-MM-dd").alias("period"),
        "n", F.round("sv", 4).alias("sv"),
    ).orderBy(F.col("period").asc_nulls_first())


ORACLE_Q31 = """
WITH parts(period) AS (
  VALUES (DATE '2023-11-01'), (DATE '2024-01-01'), (DATE '2024-03-01'), (NULL)
), g AS (
  SELECT CASE WHEN ts >= TIMESTAMP '2023-11-01' AND ts < TIMESTAMP '2024-05-01'
              THEN make_date(
                ((year(ts) * 12 + month(ts) - 1)
                 - (year(ts) * 12 + month(ts) - 1) % 2) // 12,
                ((year(ts) * 12 + month(ts) - 1) % 12) + 1, 1)
         END AS period, value, 1 AS one
  FROM events
)
SELECT strftime(p.period, '%Y-%m-%d') AS period,
       count(g.one) AS n,
       round(sum(g.value), 4) AS sv
FROM parts p LEFT JOIN g ON g.period IS NOT DISTINCT FROM p.period
GROUP BY p.period ORDER BY period NULLS FIRST
"""


def q32_unique_domain_edge(spark: SparkSession, sf: str) -> DataFrame:
    """UniqueDomain edge (vendor/jx_base/domains.py:636): every distinct
    value is its own part — identity in/out, no declared partition set and
    no dense fill; exactly a sparse GROUP BY over the raw value."""
    from activedata_etl_spark.plans import jx

    e = _t(spark, sf, "events")
    out = jx.run(
        {
            "from": "t",
            "edges": [{"name": "etype", "value": "event_type",
                       "domain": {"type": "unique"}}],
            "select": [{"name": "n", "aggregate": "count"},
                       {"name": "sv", "value": "value", "aggregate": "sum"}],
            "limit": None,  # engine extension: unbounded
        },
        {"t": e},
    )
    return out.select(
        "etype", "n", F.round("sv", 4).alias("sv")
    ).orderBy(F.col("etype").asc_nulls_first())


ORACLE_Q32 = """
SELECT event_type AS etype, count(*) AS n, round(sum(value), 4) AS sv
FROM events GROUP BY event_type ORDER BY etype NULLS FIRST
"""


# typed_json_props: the props column is flat {"k": <int>} JSON, so the sigil
# encoding (vendor/mo_json/typed_encoder.py:132-362) is reconstructible in
# ANSI SQL — closing the round-1 no_oracle gap for this query
ORACLE_TYPED_JSON = """
SELECT event_id,
       CASE WHEN props IS NULL OR props = '' THEN NULL
            WHEN json_extract_string(props, '$.k') IS NULL THEN '{"~e~":1}'
            ELSE '{"k":{"~n~":' ||
                 CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) AS VARCHAR)
                 || '},"~e~":1}'
       END AS typed
FROM events WHERE event_id < 1000 ORDER BY event_id
"""


# ---------------------------------------------------------------------------
# training-data pipeline operators (documents / embeddings)
# ---------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """The synthetic documents are all unique, so the corpus unions in a
    deterministic duplicate of every 10th doc — the hash-groupBy then has
    real dup groups to find (the oracle applies the identical union)."""
    d = _t(spark, sf, "documents").select("doc_id", "text")
    dup = d.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    return DD.exact_dup_groups(d.unionByName(dup), "doc_id", "text").select(
        "content_hash", "n_docs", "keep_id"
    ).orderBy("content_hash")


ORACLE_DEDUP_EXACT = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
)
SELECT sha256(text) AS content_hash, count(*) AS n_docs, min(doc_id) AS keep_id
FROM corpus WHERE text IS NOT NULL
GROUP BY 1 HAVING count(*) > 1 ORDER BY content_hash
"""


# stop-shingle frequency cap: shingles shared by more than this many docs
# are dropped from CANDIDATE GENERATION only — the skew guard that keeps one
# hot shingle from creating a quadratic join key at web scale; jaccard is
# then computed over the FULL shingle sets of surviving candidates (exact
# scores, no downward bias).  The oracle applies the identical shape.
JACCARD_MAX_SHINGLE_FREQ = 100


_PAIRS_CACHE: dict[tuple, DataFrame] = {}


def _jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """The verified (id_a, id_b, jaccard) pair frame shared by the three
    jaccard consumers below.  The driver contract invokes each queries()
    entry independently, so without memoization the registry pays the pair
    computation three times (the API itself composes — a pipeline calls
    ngram_jaccard_pairs once and passes the frame).  Cached per
    (application, sf) and materialized once via localCheckpoint; a fresh
    session misses the cache and recomputes."""
    key = (spark.sparkContext.applicationId, sf)
    df = _PAIRS_CACHE.get(key)
    if df is None:
        df = DD.ngram_jaccard_pairs(
            _t(spark, sf, "documents"), "doc_id", "text", n=3, threshold=0.5,
            max_shingle_freq=JACCARD_MAX_SHINGLE_FREQ,
        ).localCheckpoint()
        _PAIRS_CACHE[key] = df
    return df


def dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    return _jaccard_pairs(spark, sf).orderBy("id_a", "id_b")


ORACLE_DEDUP_JACCARD = f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents
), sh AS (
  SELECT doc_id, list_distinct(list_transform(
           generate_series(1, greatest(len(t) - 2, 0)),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
  FROM toks
), sized AS (SELECT doc_id, s, len(s) AS n_sh FROM sh WHERE len(s) > 0),
ex0 AS (SELECT doc_id, unnest(s) AS shingle FROM sized),
keep AS (SELECT shingle FROM ex0 GROUP BY shingle
         HAVING count(*) <= {JACCARD_MAX_SHINGLE_FREQ}),
ex AS (SELECT doc_id, shingle FROM ex0 JOIN keep USING (shingle)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM ex a JOIN ex b USING (shingle)
  WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       round(len(list_intersect(sa.s, sb.s)) /
             (sa.n_sh + sb.n_sh - len(list_intersect(sa.s, sb.s))), 6) AS jaccard
FROM cand
JOIN sized sa ON sa.doc_id = id_a
JOIN sized sb ON sb.doc_id = id_b
WHERE round(len(list_intersect(sa.s, sb.s)) /
            (sa.n_sh + sb.n_sh - len(list_intersect(sa.s, sb.s))), 6) >= 0.5
ORDER BY id_a, id_b
"""


def dedup_jaccard_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup pairs -> connected components (iterative min-label
    propagation) -> (id, cluster_id): the keep/drop decision a dedup
    pipeline consumes.  Oracle = the same pair graph closed with a DuckDB
    recursive CTE."""
    return DD.near_dup_clusters(_jaccard_pairs(spark, sf)).orderBy("id")


_JACCARD_CLOSURE_CTES = f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents
), sh AS (
  SELECT doc_id, list_distinct(list_transform(
           generate_series(1, greatest(len(t) - 2, 0)),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
  FROM toks
), sized AS (SELECT doc_id, s, len(s) AS n_sh FROM sh WHERE len(s) > 0),
ex0 AS (SELECT doc_id, unnest(s) AS shingle FROM sized),
keep AS (SELECT shingle FROM ex0 GROUP BY shingle
         HAVING count(*) <= {JACCARD_MAX_SHINGLE_FREQ}),
ex AS (SELECT doc_id, shingle FROM ex0 JOIN keep USING (shingle)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM ex a JOIN ex b USING (shingle)
  WHERE a.doc_id < b.doc_id
), pairs AS (
  SELECT id_a, id_b FROM cand
  JOIN sized sa ON sa.doc_id = id_a
  JOIN sized sb ON sb.doc_id = id_b
  WHERE round(len(list_intersect(sa.s, sb.s)) /
              (sa.n_sh + sb.n_sh - len(list_intersect(sa.s, sb.s))), 6) >= 0.5
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
), reach(id, root) AS (
  SELECT src AS id, src AS root FROM edges
  UNION
  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.id
)"""


ORACLE_JACCARD_CLUSTERS = _JACCARD_CLOSURE_CTES + """
SELECT id, min(root) AS cluster_id FROM reach GROUP BY id ORDER BY id
"""


def dedup_keep_list(spark: SparkSession, sf: str) -> DataFrame:
    """The decision a dedup pipeline actually consumes: every doc with its
    cluster id and a kept flag — cluster representatives (id == component
    min) and unclustered docs are kept, the rest dropped."""
    d = _t(spark, sf, "documents").select("doc_id")
    cl = DD.near_dup_clusters(_jaccard_pairs(spark, sf))
    cid = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    return (
        d.join(cl, d["doc_id"] == cl["id"], "left")
        .select(
            "doc_id",
            cid.alias("cluster_id"),
            (cid == F.col("doc_id")).alias("kept"),
        )
        .orderBy("doc_id")
    )


ORACLE_DEDUP_KEEP_LIST = _JACCARD_CLOSURE_CTES + """, closure AS (
  SELECT id, min(root) AS cluster_id FROM reach GROUP BY id
)
SELECT d.doc_id,
       coalesce(c.cluster_id, d.doc_id) AS cluster_id,
       coalesce(c.cluster_id, d.doc_id) = d.doc_id AS kept
FROM documents d LEFT JOIN closure c ON c.id = d.doc_id
ORDER BY d.doc_id
"""


def dedup_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash+LSH candidates verified by exact Jaccard.  The mix31 family
    (sha256-prefix base + universal-hash permutations over 2^31-1) makes the
    ENTIRE pipeline — signatures, banding, candidate join, verification —
    reproducible in ANSI SQL, so the DuckDB oracle checks it end to end."""
    d = _t(spark, sf, "documents")
    return DD.minhash_lsh_pairs(
        d, "doc_id", "text", n=3, k=64, bands=16, threshold=0.5,
    ).orderBy("id_a", "id_b")


# the same (a_i, c_i) universal-hash constants feed the Spark expressions
# and the oracle SQL below — one seed, two engines, identical arithmetic
_MINHASH_CONSTS = DD.mix_consts(7, 64)
_SIMHASH_CONSTS = DD.mix_consts(11, 63)
_MH_VALUES = ", ".join(f"({i}, {a}, {c})" for i, (a, c) in enumerate(_MINHASH_CONSTS))
_SH_VALUES = ", ".join(f"({i}, {a}, {c})" for i, (a, c) in enumerate(_SIMHASH_CONSTS))

ORACLE_DEDUP_MINHASH = f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents
), sh AS (
  SELECT doc_id, list_distinct(list_transform(
           generate_series(1, greatest(len(t) - 2, 0)),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
  FROM toks
), sized AS (SELECT doc_id, s, len(s) AS n_sh FROM sh WHERE len(s) > 0),
ex AS (SELECT doc_id, unnest(s) AS shingle FROM sized),
bm AS (SELECT doc_id,
              ('0x' || substr(sha256(shingle), 1, 15))::BIGINT % {DD.MIX_P} AS b
       FROM ex),
consts(i, a, c) AS (VALUES {_MH_VALUES}),
sig AS (
  SELECT doc_id, i, min((a * b + c) % {DD.MIX_P}) AS v
  FROM bm CROSS JOIN consts GROUP BY doc_id, i
),
bands AS (
  SELECT doc_id, i // 4 AS band, list(v ORDER BY i) AS bv
  FROM sig GROUP BY doc_id, i // 4
),
cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM bands x JOIN bands y ON x.band = y.band AND x.bv = y.bv
  WHERE x.doc_id < y.doc_id
)
SELECT id_a, id_b,
       round(len(list_intersect(sa.s, sb.s)) /
             (sa.n_sh + sb.n_sh - len(list_intersect(sa.s, sb.s))), 6) AS jaccard
FROM cand
JOIN sized sa ON sa.doc_id = id_a
JOIN sized sb ON sb.doc_id = id_b
WHERE round(len(list_intersect(sa.s, sb.s)) /
            (sa.n_sh + sb.n_sh - len(list_intersect(sa.s, sb.s))), 6) >= 0.5
ORDER BY id_a, id_b
"""


def dedup_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental (batch-vs-corpus) dedup, the steady-state ingestion
    shape (operators/dedup.py:incremental_dedup): a synthetic increment of
    exact corpus copies (doc_id%10, +1e6 ids), near-copies with one token
    appended (doc_id%7, +2e6), and genuinely novel docs (doc_id%13, +3e6)
    is deduplicated against the full corpus — only the novel docs survive.
    Exact hash, mix31 signatures, asymmetric banding, and jaccard
    verification are ANSI-SQL reproducible end to end."""
    d = _t(spark, sf, "documents")
    batch = (
        d.where(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
        .unionByName(
            d.where(F.col("doc_id") % 7 == 0).select(
                (F.col("doc_id") + 2_000_000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" zznovel")).alias("text"),
            ))
        .unionByName(
            d.where(F.col("doc_id") % 13 == 0).select(
                (F.col("doc_id") + 3_000_000).alias("doc_id"),
                F.concat(
                    F.lit("novel document number "),
                    F.col("doc_id").cast("string"),
                    F.lit(" with unique token u"),
                    F.col("doc_id").cast("string"),
                    F.lit(" and filler v"),
                    F.col("doc_id").cast("string"),
                ).alias("text"),
            ))
    )
    out = DD.incremental_dedup(
        d.select("doc_id", "text"), batch, "doc_id", "text",
        near=True, n=3, k=64, bands=16, threshold=0.5,
    )
    return out.select("doc_id").orderBy("doc_id")


ORACLE_DEDUP_INCREMENTAL = f"""
WITH corpus AS (SELECT doc_id, text FROM documents),
batch AS (
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 2000000, text || ' zznovel' FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 3000000,
         'novel document number ' || doc_id || ' with unique token u'
         || doc_id || ' and filler v' || doc_id
  FROM documents WHERE doc_id % 13 = 0
),
hb AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           min(doc_id) OVER (PARTITION BY sha256(text)) AS first_id
    FROM batch) WHERE doc_id = first_id
),
ex AS (
  SELECT doc_id, text FROM hb
  WHERE sha256(text) NOT IN (SELECT sha256(text) FROM corpus)
),
allside AS (
  SELECT doc_id, text, 'b' AS side FROM ex
  UNION ALL SELECT doc_id, text, 'c' FROM corpus
),
toks AS (
  SELECT side, doc_id, regexp_extract_all(text, '\\S+') AS t FROM allside
), shg AS (
  SELECT side, doc_id, list_distinct(list_transform(
           generate_series(1, greatest(len(t) - 2, 0)),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
  FROM toks
), sized AS (SELECT side, doc_id, s, len(s) AS n_sh FROM shg WHERE len(s) > 0),
exx AS (SELECT side, doc_id, unnest(s) AS shingle FROM sized),
bm AS (SELECT side, doc_id,
              ('0x' || substr(sha256(shingle), 1, 15))::BIGINT % {DD.MIX_P} AS b
       FROM exx),
consts(i, a, c) AS (VALUES {_MH_VALUES}),
sig AS (
  SELECT side, doc_id, i, min((a * b + c) % {DD.MIX_P}) AS v
  FROM bm CROSS JOIN consts GROUP BY side, doc_id, i
),
bands AS (
  SELECT side, doc_id, i // 4 AS band, list(v ORDER BY i) AS bv
  FROM sig GROUP BY side, doc_id, i // 4
),
jac AS (
  SELECT sa.doc_id AS id_b, sb.doc_id AS id_o, sb.side AS o_side,
         round(len(list_intersect(sa.s, sb.s)) /
               (sa.n_sh + sb.n_sh - len(list_intersect(sa.s, sb.s))), 6) AS j
  FROM (SELECT DISTINCT x.doc_id AS id_b, y.doc_id AS id_o, y.side
        FROM bands x JOIN bands y ON x.band = y.band AND x.bv = y.bv
        WHERE x.side = 'b' AND (y.side = 'c' OR
              (y.side = 'b' AND y.doc_id < x.doc_id))) cand
  JOIN sized sa ON sa.side = 'b' AND sa.doc_id = cand.id_b
  JOIN sized sb ON sb.side = cand.side AND sb.doc_id = cand.id_o
),
dropd AS (SELECT DISTINCT id_b AS doc_id FROM jac WHERE j >= 0.5)
SELECT doc_id FROM ex WHERE doc_id NOT IN (SELECT doc_id FROM dropd)
ORDER BY doc_id
"""


def dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash near-dup pairs.  The mix31 signature is SQL-expressible;
    block-permutation banding is recall-lossless, so the oracle reproduces
    the output with signatures + an exact hamming join (banding only
    prunes candidates, never results)."""
    d = _t(spark, sf, "documents")
    return DD.simhash_pairs(
        # max_band_freq=None: the registry query is the oracle-exact path
        # (the SQL oracle enumerates ALL pairs); pipelines keep the default
        # SIMHASH_MAX_BAND_FREQ hot-bucket cap
        d, "doc_id", "text", max_hamming=8, max_band_freq=None,
    ).orderBy("id_a", "id_b")


ORACLE_DEDUP_SIMHASH = f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS tok FROM documents
),
bm AS (SELECT doc_id,
              ('0x' || substr(sha256(tok), 1, 15))::BIGINT % {DD.MIX_P} AS b
       FROM toks),
consts(i, a, c) AS (VALUES {_SH_VALUES}),
bits AS (
  SELECT doc_id, i,
         CASE WHEN sum(CASE WHEN ((a * b + c) % {DD.MIX_P}) % 2 = 1
                            THEN 1 ELSE -1 END) > 0
              THEN (1::BIGINT << i) ELSE 0 END AS term
  FROM bm CROSS JOIN consts GROUP BY doc_id, i, a, c
),
sig AS (SELECT doc_id, CAST(sum(term) AS BIGINT) AS sh FROM bits GROUP BY doc_id)
SELECT x.doc_id AS id_a, y.doc_id AS id_b,
       CAST(bit_count(xor(x.sh, y.sh)) AS INTEGER) AS hamming
FROM sig x JOIN sig y ON x.doc_id < y.doc_id
WHERE bit_count(xor(x.sh, y.sh)) <= 8
ORDER BY id_a, id_b
"""


def dedup_embedding(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "embeddings")
    return DD.embedding_neardup_pairs(e, "vec_id", "embedding", threshold=0.5).orderBy(
        "id_a", "id_b"
    )


ORACLE_DEDUP_EMBEDDING = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_inner_product(a.ev, b.ev) /
             (sqrt(list_inner_product(a.ev, a.ev)) *
              sqrt(list_inner_product(b.ev, b.ev))), 6) AS cosine
FROM v a, v b
WHERE a.vec_id < b.vec_id
  AND round(list_inner_product(a.ev, b.ev) /
            (sqrt(list_inner_product(a.ev, a.ev)) *
             sqrt(list_inner_product(b.ev, b.ev))), 6) >= 0.5
ORDER BY id_a, id_b
"""


def sim_cosine_topk(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") < 5)
    return SIM.cosine_topk(e, q, k=3).orderBy("query_id", "rank")


ORACLE_SIM_TOPK = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 5),
corpus AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         round(list_inner_product(q.qv, c.ev) /
               (sqrt(list_inner_product(q.qv, q.qv)) *
                sqrt(list_inner_product(c.ev, c.ev))), 6) AS score
  FROM corpus c, q WHERE c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored)
WHERE rank <= 3 ORDER BY query_id, rank
"""


def sim_ann_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """Hyperplane-LSH ANN with mix31 hyperplane weights: buckets, candidate
    join, and re-rank all reproduce in ANSI SQL, so the DuckDB oracle checks
    the full ANN pipeline."""
    e = _t(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") < 5)
    return SIM.lsh_ann_topk(e, q, k=3, n_planes=4).orderBy(
        "query_id", "rank"
    )


def _ann_lsh_consts(seed: int = 23, n_tables: int = 4) -> str:
    return ", ".join(
        f"({t}, {a}, {c})"
        for t, (a, c) in enumerate(DD.mix_consts(seed + 1000 * t, 1)[0]
                                   for t in range(n_tables))
    )


ORACLE_SIM_ANN_LSH = f"""
WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 5),
consts(t, a, c) AS (VALUES {{consts}}),
planes(p) AS (VALUES (0), (1), (2), (3)),
cb AS (
  SELECT vec_id, t,
         sum(CASE WHEN list_inner_product(v, list_transform(
               generate_series(0, 63),
               d -> (((a * (p * 64 + d + 1) + c) % {DD.MIX_P}) % 2000 - 1000) / 1000.0
             )) >= 0 THEN 1 << p ELSE 0 END) AS bucket
  FROM corpus CROSS JOIN consts CROSS JOIN planes GROUP BY vec_id, t
),
qb AS (
  SELECT vec_id, t,
         sum(CASE WHEN list_inner_product(v, list_transform(
               generate_series(0, 63),
               d -> (((a * (p * 64 + d + 1) + c) % {DD.MIX_P}) % 2000 - 1000) / 1000.0
             )) >= 0 THEN 1 << p ELSE 0 END) AS bucket
  FROM q CROSS JOIN consts CROSS JOIN planes GROUP BY vec_id, t
),
cand AS (
  SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
  FROM cb JOIN qb ON cb.t = qb.t AND cb.bucket = qb.bucket
  WHERE qb.vec_id <> cb.vec_id
),
scored AS (
  SELECT query_id, neighbor_id,
         round(list_inner_product(qq.v, cc.v) /
               (sqrt(list_inner_product(qq.v, qq.v)) *
                sqrt(list_inner_product(cc.v, cc.v))), 6) AS score
  FROM cand
  JOIN q qq ON qq.vec_id = query_id
  JOIN corpus cc ON cc.vec_id = neighbor_id
)
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored)
WHERE rank <= 3 ORDER BY query_id, rank
""".format(consts=_ann_lsh_consts())


def dedup_embedding_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """Sub-quadratic embedding near-dup (hyperplane-LSH candidates + exact
    cosine verify) with mix31 weights so the DuckDB oracle reproduces the
    candidate generation bit-for-bit; output ⊆ dedup_embedding's pairs."""
    e = _t(spark, sf, "embeddings")
    return DD.embedding_neardup_lsh(
        e, "vec_id", "embedding", threshold=0.4, n_planes=6
    ).orderBy("id_a", "id_b")


ORACLE_DEDUP_EMBEDDING_LSH = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
consts(t, a, c) AS (VALUES {consts}),
planes(p) AS (VALUES (0), (1), (2), (3), (4), (5)),
vb AS (
  SELECT vec_id, t,
         sum(CASE WHEN list_inner_product(ev, list_transform(
               generate_series(0, 63),
               d -> (((a * (p * 64 + d + 1) + c) % {p_mod}) % 2000 - 1000) / 1000.0
             )) >= 0 THEN 1 << p ELSE 0 END) AS bucket
  FROM v CROSS JOIN consts CROSS JOIN planes GROUP BY vec_id, t
),
cand AS (
  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
  FROM vb x JOIN vb y ON x.t = y.t AND x.bucket = y.bucket
  WHERE x.vec_id < y.vec_id
)
SELECT id_a, id_b,
       round(list_inner_product(a.ev, b.ev) /
             (sqrt(list_inner_product(a.ev, a.ev)) *
              sqrt(list_inner_product(b.ev, b.ev))), 6) AS cosine
FROM cand JOIN v a ON a.vec_id = id_a JOIN v b ON b.vec_id = id_b
WHERE round(list_inner_product(a.ev, b.ev) /
            (sqrt(list_inner_product(a.ev, a.ev)) *
             sqrt(list_inner_product(b.ev, b.ev))), 6) >= 0.4
ORDER BY id_a, id_b
""".format(consts=_ann_lsh_consts(), p_mod=DD.MIX_P)


def sim_ann_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """IVF coarse-quantizer ANN with deterministic seed-row centroids (the
    random-subsample quantizer) so assignment, probe, candidate join and
    re-rank all reproduce in ANSI SQL — the DuckDB oracle checks the full
    IVF pipeline.  The trained (MLlib k-means) quantizer stays the operator
    default; its recall is asserted separately in pytest."""
    e = _t(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") < 5)
    return SIM.ivf_ann_topk(
        e, q, k=3, n_centroids=8, n_probe=3, centroids="seed_rows"
    ).orderBy("query_id", "rank")


def _ann_ivf_consts(seed: int = 31) -> tuple[int, int]:
    ((a, c),) = DD.mix_consts(seed, 1)
    return a, c


ORACLE_SIM_ANN_IVF = """
WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 5),
cents AS (
  SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cell, v AS cv
  FROM (SELECT vec_id, v, ({a} * (vec_id % {p}) + {c}) % {p} AS h
        FROM corpus ORDER BY h, vec_id LIMIT 8)
),
ca AS (
  SELECT vec_id, v, cell FROM (
    SELECT co.vec_id, co.v, ce.cell,
           row_number() OVER (PARTITION BY co.vec_id
                              ORDER BY list_distance(co.v, ce.cv), ce.cell) AS rn
    FROM corpus co CROSS JOIN cents ce)
  WHERE rn = 1
),
qa AS (
  SELECT vec_id, v, cell FROM (
    SELECT qq.vec_id, qq.v, ce.cell,
           row_number() OVER (PARTITION BY qq.vec_id
                              ORDER BY list_distance(qq.v, ce.cv), ce.cell) AS rn
    FROM q qq CROSS JOIN cents ce)
  WHERE rn <= 3
),
scored AS (
  SELECT qa.vec_id AS query_id, ca.vec_id AS neighbor_id,
         round(list_inner_product(qa.v, ca.v) /
               (sqrt(list_inner_product(qa.v, qa.v)) *
                sqrt(list_inner_product(ca.v, ca.v))), 6) AS score
  FROM qa JOIN ca USING (cell) WHERE qa.vec_id <> ca.vec_id
)
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored)
WHERE rank <= 3 ORDER BY query_id, rank
""".format(a=_ann_ivf_consts()[0], c=_ann_ivf_consts()[1], p=DD.MIX_P)


def text_stats(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        TX.token_count(F.col("text")).alias("n_tokens"),
        TX.bpe_ish_token_count(F.col("text")).alias("n_subtokens"),
        TX.char_count(F.col("text")).alias("n_chars_m"),
        F.round(TX.punct_ratio(F.col("text")), 6).alias("punct_r"),
        F.round(TX.digit_ratio(F.col("text")), 6).alias("digit_r"),
        F.round(TX.stopword_ratio(F.col("text")), 6).alias("stop_r"),
    ).orderBy("doc_id")


ORACLE_TEXT_STATS = """
SELECT doc_id,
       len(regexp_extract_all(text, '\\S+')) AS n_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_subtokens,
       length(text) AS n_chars_m,
       round(len(regexp_extract_all(text, '[^\\w\\s]')) / greatest(length(text), 1), 6) AS punct_r,
       round(len(regexp_extract_all(text, '[0-9]')) / greatest(length(text), 1), 6) AS digit_r,
       round(len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is|a|that|it|for)\\b'))
             / greatest(len(regexp_extract_all(text, '\\S+')), 1), 6) AS stop_r
FROM documents ORDER BY doc_id
"""


def text_quality(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id", TX.quality_score(F.col("text")).alias("quality")
    ).orderBy("doc_id")


ORACLE_TEXT_QUALITY = """
WITH f AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '\\S+'))::DOUBLE AS toks,
         len(regexp_extract_all(text, '[^\\w\\s]')) / greatest(length(text), 1) AS pr,
         len(regexp_extract_all(text, '[0-9]')) / greatest(length(text), 1) AS dr,
         length(regexp_replace(text, '\\s+', '', 'g')) /
           greatest(len(regexp_extract_all(text, '\\S+')), 1) AS mtl
  FROM documents
)
SELECT doc_id,
       round(0.4 * least(toks / 100.0, 1.0)
           + 0.3 * (1.0 - least(pr * 4.0, 1.0))
           + 0.1 * (1.0 - least(dr * 4.0, 1.0))
           + 0.2 * (CASE WHEN mtl >= 3 AND mtl <= 10 THEN 1.0 ELSE 0.5 END), 6) AS quality
FROM f ORDER BY doc_id
"""


_LANG_PATS = {
    "en": r"\b(the|and|of|to|in|is)\b",
    "es": r"\b(el|la|de|que|los|una)\b",
    "fr": r"\b(le|la|les|des|une|est)\b",
    "de": r"\b(der|die|das|und|ist|ein)\b",
}


def text_langid(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        TX.lang_id(F.col("text")).alias("lang_pred"),
        TX.lang_hits(F.col("text"), "en").alias("en_hits"),
    ).orderBy("doc_id")


ORACLE_TEXT_LANGID = f"""
WITH h AS (
  SELECT doc_id,
         len(regexp_extract_all(lower(text), '{_LANG_PATS["en"]}')) AS en,
         len(regexp_extract_all(lower(text), '{_LANG_PATS["es"]}')) AS es,
         len(regexp_extract_all(lower(text), '{_LANG_PATS["fr"]}')) AS fr,
         len(regexp_extract_all(lower(text), '{_LANG_PATS["de"]}')) AS de
  FROM documents
)
SELECT doc_id,
       CASE WHEN en >= es AND en >= fr AND en >= de THEN 'en'
            WHEN es >= fr AND es >= de THEN 'es'
            WHEN fr >= de THEN 'fr' ELSE 'de' END AS lang_pred,
       en AS en_hits
FROM h ORDER BY doc_id
"""


def text_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id", TX.fingerprint(F.col("text")).alias("fp")
    ).orderBy("doc_id")


ORACLE_TEXT_FINGERPRINT = """
-- CAST: DuckDB's SUM over BIGINT returns HUGEINT (-> float64 in pandas);
-- Spark returns int64 — values agree, dtype must too for the value-hash
SELECT doc_id, CAST(SUM(ascii(c) * (i::BIGINT)) % 1000000007 AS BIGINT) AS fp FROM (
  SELECT doc_id, unnest(string_split(text, '')) AS c,
         generate_subscripts(string_split(text, ''), 1) AS i
  FROM documents)
GROUP BY doc_id ORDER BY doc_id
"""


def multimodal_meta(spark: SparkSession, sf: str) -> DataFrame:
    """Binary-column plumbing: opaque payload + typed metadata (decode is a
    deterministic stub; the schema/batching is the real artifact)."""
    from activedata_etl_spark.multimodal import media_from_documents

    d = _t(spark, sf, "documents")
    m = media_from_documents(d)
    return m.select(
        "media_id",
        "kind",
        F.octet_length("payload").alias("n_bytes"),
        F.col("meta.width").alias("width"),
        F.col("meta.duration_ms").alias("duration_ms"),
    ).orderBy("media_id")


ORACLE_MULTIMODAL = """
SELECT doc_id AS media_id,
       CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       octet_length(encode(text)) AS n_bytes,
       CAST((doc_id * 37) % 1920 AS INT) AS width,
       CAST(n_chars * 10 AS INT) AS duration_ms
FROM documents ORDER BY media_id
"""


def typed_json_props(spark: SparkSession, sf: str) -> DataFrame:
    """Typed-JSON normalization of the dynamic props column (Arrow UDF,
    typed_encoder.py semantics; oracle reconstructs the sigil encoding in
    SQL since props is flat {"k": int} JSON)."""
    from activedata_etl_spark.functions.normalize import typed_encode_udf

    e = _t(spark, sf, "events")
    return (
        e.where(F.col("event_id") < 1000)
        .select("event_id", typed_encode_udf(F.col("props")).alias("typed"))
        .orderBy("event_id")
    )


def data_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic train/val/test assignment from the doc id alone
    (operators/sampling.py:split_assign) — mix31 arithmetic, so the DuckDB
    oracle reproduces every assignment bit-for-bit."""
    from activedata_etl_spark.operators.sampling import split_assign

    d = _t(spark, sf, "documents")
    return (
        split_assign(d, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05})
        .select("doc_id", "split")
        .orderBy("doc_id")
    )


def _split_consts():
    from activedata_etl_spark.operators.dedup import MIX_P, mix_consts

    ((a, c),) = mix_consts(101, 1)
    cut1 = int(0.9 * MIX_P)
    cut2 = int(0.95 * MIX_P)
    return a, c, cut1, cut2, MIX_P


_SA, _SC, _CUT1, _CUT2, _SP = _split_consts()

ORACLE_DATA_SPLIT = f"""
SELECT doc_id,
       CASE WHEN u < {_CUT1} THEN 'train'
            WHEN u < {_CUT2} THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id,
             (((doc_id % {_SP} + {_SP}) % {_SP}) * {_SA} + {_SC}) % {_SP} AS u
      FROM documents)
ORDER BY doc_id
"""


def data_split_string_ids(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic split assignment over STRING/UUID-style document keys
    (operators/sampling.py:split_assign with id_hash='sha'): the residue is
    the first 15 hex digits of sha256(key), which Spark and DuckDB compute
    identically, so the oracle reproduces every assignment bit-for-bit.
    Real corpora key on string ids (the reference's keys are strings
    end-to-end, activedata_etl/__init__.py:20-50)."""
    from activedata_etl_spark.operators.sampling import split_assign

    d = _t(spark, sf, "documents").select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string"))
        .alias("doc_key")
    )
    return (
        split_assign(d, "doc_key", {"train": 0.9, "val": 0.05, "test": 0.05},
                     id_hash="sha")
        .select("doc_key", "split")
        .orderBy("doc_key")
    )


ORACLE_DATA_SPLIT_STRING = f"""
SELECT doc_key,
       CASE WHEN u < {_CUT1} THEN 'train'
            WHEN u < {_CUT2} THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_key,
             ((('0x' || substr(sha256(doc_key), 1, 15))::BIGINT % {_SP})
              * {_SA} + {_SC}) % {_SP} AS u
      FROM (SELECT 'doc-' || doc_id::VARCHAR AS doc_key FROM documents))
ORDER BY doc_key
"""


def contamination(spark: SparkSession, sf: str) -> DataFrame:
    """Eval-set leakage scan: documents with doc_id % 20 == 0 act as the
    held-out set; n-gram Jaccard >= 0.5 against the remaining training
    corpus flags contamination (operators/sampling.py:contamination_pairs —
    shingle equi-join + count-filter-verify, never a cross join)."""
    from activedata_etl_spark.operators.sampling import contamination_pairs

    d = _t(spark, sf, "documents")
    test = d.where(F.col("doc_id") % 20 == 0)
    train = d.where(F.col("doc_id") % 20 != 0)
    return contamination_pairs(
        train, test, "doc_id", "text", n=3, threshold=0.5,
        max_shingle_freq=JACCARD_MAX_SHINGLE_FREQ,
    ).orderBy("test_id", "train_id")


ORACLE_CONTAMINATION = f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents
), sh AS (
  SELECT doc_id, list_distinct(list_transform(
           generate_series(1, greatest(len(t) - 2, 0)),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
  FROM toks
), sized AS (SELECT doc_id, s, len(s) AS n_sh FROM sh WHERE len(s) > 0),
tr AS (SELECT * FROM sized WHERE doc_id % 20 <> 0),
te AS (SELECT * FROM sized WHERE doc_id % 20 = 0),
ex_tr0 AS (SELECT doc_id, unnest(s) AS shingle FROM tr),
keep AS (SELECT shingle FROM ex_tr0 GROUP BY shingle
         HAVING count(*) <= {JACCARD_MAX_SHINGLE_FREQ}),
ex_tr AS (SELECT doc_id, shingle FROM ex_tr0 JOIN keep USING (shingle)),
ex_te AS (SELECT doc_id, unnest(s) AS shingle FROM te),
cand AS (
  SELECT DISTINCT e.doc_id AS test_id, r.doc_id AS train_id
  FROM ex_te e JOIN ex_tr r USING (shingle)
)
SELECT test_id, train_id,
       round(len(list_intersect(a.s, b.s)) /
             (a.n_sh + b.n_sh - len(list_intersect(a.s, b.s))), 6) AS jaccard
FROM cand
JOIN te a ON a.doc_id = test_id
JOIN tr b ON b.doc_id = train_id
WHERE round(len(list_intersect(a.s, b.s)) /
            (a.n_sh + b.n_sh - len(list_intersect(a.s, b.s))), 6) >= 0.5
ORDER BY test_id, train_id
"""


def quota_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Rebalance the corpus to target language mixing weights by
    deterministic down-sampling (operators/sampling.py:quota_sample):
    keep 25% of the over-represented 'en', 80% of 'zh', everything else —
    a pure (id, group) hash decision, so the oracle reproduces the exact
    kept subset."""
    from activedata_etl_spark.operators.sampling import quota_sample as qsamp

    d = _t(spark, sf, "documents")
    return (
        qsamp(d, "lang", {"en": 0.25, "zh": 0.8}, "doc_id")
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


def _quota_consts():
    from activedata_etl_spark.operators.dedup import MIX_P, mix_consts

    ((a, c),) = mix_consts(202, 1)
    return a, c, int(0.25 * MIX_P), int(0.8 * MIX_P), MIX_P


_QA, _QC, _QCUT_EN, _QCUT_ZH, _QP = _quota_consts()

ORACLE_QUOTA_SAMPLE = f"""
SELECT doc_id, lang
FROM (SELECT doc_id, lang,
             (((doc_id % {_QP} + {_QP}) % {_QP}) * {_QA} + {_QC}) % {_QP} AS u
      FROM documents)
WHERE u < CASE lang WHEN 'en' THEN {_QCUT_EN}
                    WHEN 'zh' THEN {_QCUT_ZH}
                    ELSE {_QP} END
ORDER BY doc_id
"""


def stratified_sample_q(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-count per-group sampling (operators/sampling.py:
    stratified_sample_k): 30 held-out docs per language, membership and
    rank a pure (id, group) hash function — bit-reproducible in SQL."""
    from activedata_etl_spark.operators.sampling import stratified_sample_k

    d = _t(spark, sf, "documents")
    return (
        stratified_sample_k(d, "lang", 30, "doc_id")
        .select("doc_id", "lang", "sample_rank")
        .orderBy("doc_id")
    )


def mix_sources_q(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted source interleave (operators/sampling.py:
    interleave_sources): src0 upsampled 3x, src1 dropped (weight 0),
    everything else at base rate; mix_key is a pure per-row hash
    expression (zero shuffles) and IEEE-identical in SQL."""
    from activedata_etl_spark.operators.sampling import interleave_sources

    d = _t(spark, sf, "documents")
    return (
        interleave_sources(d, "source", {"src0": 3.0, "src1": 0.0}, "doc_id")
        .select("doc_id", "source", "mix_key")
        .orderBy("doc_id")
    )


def _mix_consts_505():
    from activedata_etl_spark.operators.dedup import MIX_P, mix_consts

    ((a, c),) = mix_consts(505, 1)
    return a, c, MIX_P


_MXA, _MXC, _MXP = _mix_consts_505()

ORACLE_MIX_SOURCES = f"""
SELECT doc_id, source,
       round((((doc_id % {_MXP} + {_MXP}) % {_MXP}) * {_MXA} + {_MXC})
             % {_MXP} / CAST({_MXP} AS DOUBLE)
             / (CASE source WHEN 'src0' THEN 3.0 WHEN 'src1' THEN 0.0
                ELSE 1.0 END), 9) AS mix_key
FROM documents WHERE source <> 'src1'
ORDER BY doc_id
"""


def _strat_consts():
    from activedata_etl_spark.operators.dedup import MIX_P, mix_consts

    ((a, c),) = mix_consts(404, 1)
    return a, c, MIX_P


_STA, _STC, _STP = _strat_consts()

ORACLE_STRATIFIED_SAMPLE = f"""
SELECT doc_id, lang, sample_rank FROM (
  SELECT doc_id, lang,
         CAST(row_number() OVER (PARTITION BY lang ORDER BY u, doc_id) - 1
              AS INTEGER) AS sample_rank
  FROM (SELECT doc_id, lang,
               (((doc_id % {_STP} + {_STP}) % {_STP}) * {_STA} + {_STC})
               % {_STP} AS u
        FROM documents))
WHERE sample_rank < 30 ORDER BY doc_id
"""


PACK_BUDGET = 4096
PACK_SHARDS = 8


def pack_sequences_q(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget sequence packing (operators/sampling.py:pack_sequences):
    every document assigned to a ~4096-token training pack (n_chars as the
    token proxy — the table's precomputed length), sharded into parallel
    packing streams.  Windowed-SUM arithmetic, bit-identical in SQL."""
    from activedata_etl_spark.operators.sampling import pack_sequences

    d = _t(spark, sf, "documents")
    return (
        pack_sequences(d, "doc_id", "n_chars", PACK_BUDGET,
                       n_shards=PACK_SHARDS)
        .select("doc_id", "shard", "pack_id", "pack_pos", "tok_offset")
        .orderBy("doc_id")
    )


def _pack_consts():
    from activedata_etl_spark.operators.dedup import MIX_P, mix_consts

    ((a, c),) = mix_consts(303, 1)
    return a, c, MIX_P


_PA, _PC, _PP = _pack_consts()

ORACLE_PACK_SEQUENCES = f"""
WITH sharded AS (
  SELECT doc_id, n_chars,
         CAST((((doc_id % {_PP} + {_PP}) % {_PP}) * {_PA} + {_PC}) % {_PP}
              % {PACK_SHARDS} AS INTEGER) AS shard
  FROM documents
), packed AS (
  SELECT doc_id, shard,
         SUM(n_chars) OVER (PARTITION BY shard ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) - n_chars AS strt
  FROM sharded
)
SELECT doc_id, shard,
       CAST(floor(strt / {PACK_BUDGET}) AS BIGINT) AS pack_id,
       CAST(row_number() OVER (
           PARTITION BY shard, CAST(floor(strt / {PACK_BUDGET}) AS BIGINT)
           ORDER BY doc_id) - 1 AS INTEGER) AS pack_pos,
       CAST(strt - CAST(floor(strt / {PACK_BUDGET}) AS BIGINT)
                   * {PACK_BUDGET} AS BIGINT) AS tok_offset
FROM packed
ORDER BY doc_id
"""


def pii_scrub_q(spark: SparkSession, sf: str) -> DataFrame:
    """PII scrub pass (functions/text.py:pii_scrub): emails, IPv4s, and
    long digit runs redacted with typed placeholders, plus per-doc counts.
    The synthetic corpus carries no PII, so each doc gets a deterministic
    doc_id-derived PII suffix appended first — the oracle builds the same
    input and must reproduce the same redactions."""
    d = _t(spark, sf, "documents")
    t = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com at 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 card 4111 1111 1111 "),
        (F.col("doc_id") % 10000).cast("string"),
    )
    n_emails, n_ips, n_nums = TX.pii_counts(t)
    return d.select(
        "doc_id",
        TX.pii_scrub(t).alias("scrubbed"),
        n_emails.alias("n_emails"),
        n_ips.alias("n_ips"),
        n_nums.alias("n_nums"),
    ).orderBy("doc_id")


_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\.[A-Za-z0-9-]+)+"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_NUM = r"\b\d[\d \-]{7,}\d\b"

ORACLE_PII_SCRUB = f"""
WITH inp AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com at 10.0.'
              || (doc_id % 256) || '.7 card 4111 1111 1111 '
              || (doc_id % 10000) AS t
  FROM documents
), s1 AS (
  SELECT doc_id, t,
         regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>', 'g') AS t1
  FROM inp
), s2 AS (
  SELECT doc_id, t, t1,
         regexp_replace(t1, '{_PII_IP}', '<IP>', 'g') AS t2
  FROM s1
)
SELECT doc_id,
       regexp_replace(t2, '{_PII_NUM}', '<NUM>', 'g') AS scrubbed,
       len(regexp_extract_all(t, '{_PII_EMAIL}')) AS n_emails,
       len(regexp_extract_all(t1, '{_PII_IP}')) AS n_ips,
       len(regexp_extract_all(t2, '{_PII_NUM}')) AS n_nums
FROM s2
ORDER BY doc_id
"""


def dedup_paragraphs_q(spark: SparkSession, sf: str) -> DataFrame:
    """Intra-document repetition scrub (functions/text.py:dedup_paragraphs):
    repeated paragraphs collapse to their first occurrence, in order; the
    unique/total paragraph counts are the repetition filter signal.  The
    synthetic corpus is single-paragraph docs, so even doc_ids get their
    text doubled first — the oracle builds the same input and must produce
    the same cleaned text."""
    d = _t(spark, sf, "documents")
    sep = F.lit("\n\n")
    tail = F.concat(F.lit("tail "), F.col("doc_id").cast("string"))
    t = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.col("text"), sep, F.col("text"), sep, tail),
    ).otherwise(F.concat(F.col("text"), sep, tail))
    n_paras, n_unique = TX.paragraph_counts(t)
    return d.select(
        "doc_id",
        TX.dedup_paragraphs(t).alias("cleaned"),
        n_paras.alias("n_paras"),
        n_unique.alias("n_unique"),
    ).orderBy("doc_id")


ORACLE_DEDUP_PARAGRAPHS = """
WITH inp AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0
              THEN text || chr(10) || chr(10) || text
                        || chr(10) || chr(10) || 'tail ' || doc_id
              ELSE text || chr(10) || chr(10) || 'tail ' || doc_id
         END AS t
  FROM documents
), ps AS (
  SELECT doc_id, str_split(t, chr(10) || chr(10)) AS p FROM inp
)
SELECT doc_id,
       array_to_string(
         list_transform(
           list_filter(generate_series(1, len(p)),
                       i -> list_position(p, p[i]) = i),
           i -> p[i]),
         chr(10) || chr(10)) AS cleaned,
       CAST(len(p) AS INTEGER) AS n_paras,
       CAST(len(list_distinct(p)) AS INTEGER) AS n_unique
FROM ps ORDER BY doc_id
"""


CHUNK_SIZE = 512


def chunk_docs_q(spark: SparkSession, sf: str) -> DataFrame:
    """Long-document chunking (functions/text.py:chunk_text): fixed-width
    character pieces, the pre-chunk step before pack_sequences (which
    assigns whole docs to packs).  posexplode_outer + a CHEAP pre-guard
    (length>0, a plain column test) per the inferred-generate-filter
    hazard — Catalyst must never inline the chunking HOF into a scan-side
    filter."""
    d = _t(spark, sf, "documents")
    chunks = TX.chunk_text(F.col("text"), CHUNK_SIZE)
    return (
        d.where(F.length("text") > 0)
        .select("doc_id", F.posexplode_outer(chunks).alias("chunk_idx", "chunk"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            "chunk",
            F.length("chunk").alias("chunk_chars"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


ORACLE_CHUNK_DOCS = f"""
WITH e AS (
  SELECT doc_id, text,
         unnest(generate_series(
             1, CAST(ceil(length(text) / {CHUNK_SIZE}.0) AS INTEGER))) AS i
  FROM documents WHERE length(text) > 0
)
SELECT doc_id,
       CAST(i - 1 AS INTEGER) AS chunk_idx,
       substr(text, (i - 1) * {CHUNK_SIZE} + 1, {CHUNK_SIZE}) AS chunk,
       CAST(length(substr(text, (i - 1) * {CHUNK_SIZE} + 1, {CHUNK_SIZE}))
            AS INTEGER) AS chunk_chars
FROM e ORDER BY doc_id, chunk_idx
"""


def q33_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join (operators/temporal.py): each purchase event picks up the
    user's most recent click at-or-before it.  Single-shuffle union +
    running-last plan; the oracle is DuckDB's native ASOF LEFT JOIN.
    (user_id, ts) is unique per event type in the testdata, so no tiebreak
    is needed for determinism here; `tests/test_operators.py` pins the
    tiebreak semantics on a constructed tie."""
    e = _t(spark, sf, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    c = e.where(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    j = TP.asof_join(
        p, c, on="user_id", left_time="ts", right_time="ts",
        right_cols=["value"], suffix="_click",
    )
    return j.select(
        "event_id", "user_id", "value", "ts_click", "value_click"
    ).orderBy("event_id")


ORACLE_ASOF_JOIN = """
WITH p AS (SELECT event_id, user_id, ts, value FROM events
           WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click')
SELECT p.event_id, p.user_id, p.value,
       c.ts AS ts_click, c.value AS value_click
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
ORDER BY p.event_id
"""


# corpus-boilerplate floor: segments (words, for the space-separated
# testdata) appearing in >= this many DISTINCT docs are template text.
# Fixed absolute value so the same SQL string is the oracle at every sf
# (300 = 60% of sf0.001's docs, 20% of sf0.01's).
SCRUB_MIN_DOCS = 300


def scrub_common_segments_q(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-document boilerplate removal (operators/corpus.py): drop
    segments shared by >= SCRUB_MIN_DOCS distinct docs, rebuild each doc
    in order.  The testdata's docs are space-separated word soup, so the
    segment separator is ' ' here; a crawl corpus would use '\\n\\n'."""
    d = _t(spark, sf, "documents")
    return CP.scrub_common_segments(
        d, "doc_id", "text", sep=" ", min_docs=SCRUB_MIN_DOCS
    ).orderBy("doc_id")


ORACLE_SCRUB_COMMON = f"""
WITH split AS (
  SELECT doc_id, string_split(text, ' ') AS s
  FROM documents WHERE text IS NOT NULL
), segs AS (
  SELECT doc_id, s[i] AS seg, i AS pos
  FROM split, unnest(generate_series(1, len(s))) AS g(i)
), common AS (
  SELECT seg FROM segs GROUP BY seg
  HAVING count(DISTINCT doc_id) >= {SCRUB_MIN_DOCS}
), kept AS (
  SELECT doc_id, seg, pos FROM segs
  WHERE seg NOT IN (SELECT seg FROM common)
), rebuilt AS (
  SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS scrubbed,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       CASE WHEN d.text IS NOT NULL
            THEN coalesce(r.scrubbed, '') END AS scrubbed,
       CAST(CASE WHEN d.text IS NOT NULL
            THEN len(string_split(d.text, ' ')) - coalesce(r.n_kept, 0)
            END AS INTEGER) AS n_removed
FROM documents d LEFT JOIN rebuilt r USING (doc_id)
ORDER BY d.doc_id
"""


NGRAM_TOPK_K = 25


def ngram_topk_q(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-wide top-k word trigrams by document frequency
    (operators/corpus.py): one partial-agg shuffle + TakeOrdered top-k —
    the global boilerplate-signal ranking."""
    d = _t(spark, sf, "documents")
    return CP.ngram_topk(d, "doc_id", "text", n=3, k=NGRAM_TOPK_K)


ORACLE_NGRAM_TOPK = f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents
), sh AS (
  SELECT doc_id, list_distinct(list_transform(
           generate_series(1, greatest(len(t) - 2, 0)),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
  FROM toks
), ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh)
SELECT shingle, count(*) AS n_docs FROM ex GROUP BY shingle
ORDER BY n_docs DESC, shingle ASC LIMIT {NGRAM_TOPK_K}
"""


def q34_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based sessionization (operators/temporal.py:sessionize): 30-min
    inactivity gap per user, then per-session stats.  lag + running sum
    share ONE per-key sort/shuffle."""
    e = _t(spark, sf, "events")
    s = TP.sessionize(e, "user_id", "ts", 1800.0, order_cols=["event_id"])
    return (
        s.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_id").cast("long").alias("session_id"),
            "n_events", "session_start", "session_end", "total_value",
        )
        .orderBy("user_id", "session_id")
    )


ORACLE_SESSIONIZE = """
WITH s AS (
  SELECT user_id, event_id, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL
           OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS ns
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), t AS (
  SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_id FROM s)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       count(*) AS n_events, min(ts) AS session_start,
       max(ts) AS session_end, round(sum(value), 6) AS total_value
FROM t GROUP BY 1, 2 ORDER BY 1, 2
"""


def q35_range_join(spark: SparkSession, sf: str) -> DataFrame:
    """Point-in-interval join (operators/temporal.py:range_join): clicks
    inside +/-30-min incident windows around each error event, per user.
    Cell-quantized equi-join — never a per-key cross product."""
    e = _t(spark, sf, "events")
    err = e.where(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("err_id"),
        (F.col("ts") - F.make_interval(secs=F.lit(1800.0))).alias("w_start"),
        (F.col("ts") + F.make_interval(secs=F.lit(1800.0))).alias("w_end"),
    )
    clicks = e.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    rj = TP.range_join(
        clicks, err, on="user_id", left_time="ts",
        right_start="w_start", right_end="w_end",
        bucket_width=3600.0, right_cols=["err_id"],
    )
    return rj.select("event_id", "user_id", "err_id_rj").orderBy(
        "event_id", "err_id_rj"
    )


ORACLE_RANGE_JOIN = """
WITH err AS (SELECT user_id, event_id AS err_id,
                    ts - INTERVAL 30 MINUTE AS w_start,
                    ts + INTERVAL 30 MINUTE AS w_end
             FROM events WHERE event_type = 'error'),
c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
SELECT c.event_id, c.user_id, err.err_id AS err_id_rj
FROM c JOIN err ON c.user_id = err.user_id
               AND c.ts >= err.w_start AND c.ts <= err.w_end
ORDER BY 1, 3
"""


def q36_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered event funnel (operators/funnels.py:funnel_counts):
    view -> click -> purchase within 7 days of the first view, per user.
    Conditional-min cascade over ONE hash partition by user — K window
    mins share a single exchange."""
    e = _t(spark, sf, "events")
    return FN.funnel_counts(
        e, "user_id", "ts", ["view", "click", "purchase"],
        within=7 * 86400.0,
    ).orderBy("step_index")


ORACLE_FUNNEL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t_1 FROM events
  WHERE event_type = 'view' GROUP BY 1
), s2 AS (
  SELECT s1.user_id, s1.t_1, min(e.ts) AS t_2
  FROM s1 LEFT JOIN events e
    ON e.user_id = s1.user_id AND e.event_type = 'click'
   AND e.ts > s1.t_1 AND e.ts <= s1.t_1 + INTERVAL 604800 SECOND
  GROUP BY 1, 2
), s3 AS (
  SELECT s2.user_id, s2.t_1, s2.t_2, min(e.ts) AS t_3
  FROM s2 LEFT JOIN events e
    ON e.user_id = s2.user_id AND e.event_type = 'purchase'
   AND e.ts > s2.t_2 AND e.ts <= s2.t_1 + INTERVAL 604800 SECOND
  GROUP BY 1, 2, 3
), d AS (
  SELECT user_id,
         CAST(t_1 IS NOT NULL AS INT) + CAST(t_2 IS NOT NULL AS INT)
         + CAST(t_3 IS NOT NULL AS INT) AS depth
  FROM s3
)
SELECT CAST(s.step_index AS INT) AS step_index, s.step,
       count(*) AS n_keys
FROM (VALUES (1, 'view'), (2, 'click'), (3, 'purchase'))
     AS s(step_index, step)
JOIN d ON d.depth >= s.step_index
GROUP BY 1, 2 ORDER BY 1
"""


def q37_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly cohort retention (operators/funnels.py:cohort_retention):
    cohort = fixed-width week of a user's first event; n_keys = users of
    that cohort active `offset` weeks later.  No join — groupBy(user) ->
    explode(distinct periods) -> final agg, two combinable shuffles."""
    e = _t(spark, sf, "events")
    return FN.cohort_retention(e, "user_id", "ts", period="week").orderBy(
        "cohort_period", "period_offset"
    )


def q38_resample(spark: SparkSession, sf: str) -> DataFrame:
    """Daily gap-filled resample of purchase events per user
    (operators/temporal.py:resample): counters fill 0, the gauge (peak
    value seen) forward-fills; every user gets a dense day grid between
    their first and last purchase.  One groupBy shuffle + calendar-bounded
    spine explode."""
    e = _t(spark, sf, "events").where(F.col("event_type") == "purchase")
    return TP.resample(
        e, "user_id", "ts", width=86400.0,
        aggs={
            "n_events": F.count(F.lit(1)),
            "total_value": F.round(F.sum("value"), 6),
            "peak": F.round(F.max("value"), 6),
        },
        fill={"n_events": 0, "total_value": 0.0, "peak": "ffill"},
    ).orderBy("user_id", "bucket")


ORACLE_RESAMPLE = """
WITH v AS (
  SELECT user_id, CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS bucket,
         value
  FROM events WHERE ts IS NOT NULL AND event_type = 'purchase'
), a AS (
  SELECT user_id, bucket, count(*) AS n_events,
         round(sum(value), 6) AS total_value, round(max(value), 6) AS peak
  FROM v GROUP BY 1, 2
), r AS (
  SELECT user_id, min(bucket) AS lo, max(bucket) AS hi FROM v GROUP BY 1
), g AS (
  SELECT r.user_id, unnest(generate_series(r.lo, r.hi)) AS bucket FROM r
)
SELECT g.user_id, g.bucket, g.bucket * 86400.0 AS bucket_start,
       coalesce(a.n_events, 0) AS n_events,
       coalesce(a.total_value, 0.0) AS total_value,
       last_value(a.peak IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
FROM g LEFT JOIN a USING (user_id, bucket)
ORDER BY 1, 2
"""


def q39_anomaly(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing-window z-score anomaly flags over per-user daily event
    value: each day's total compares to the user's OWN preceding 7-day
    window (current day excluded — no self-contamination of the
    baseline).  Composes resample (dense daily grid, gaps are real
    zeros) with one per-key window pass; days with <3 baseline points
    or zero variance yield null z (never a fake anomaly).  Pure
    Catalyst: one agg shuffle + one window sort."""
    e = _t(spark, sf, "events")
    daily = TP.resample(
        e, "user_id", "ts", width=86400.0,
        aggs={"total_value": F.round(F.sum("value"), 6)},
        fill={"total_value": 0.0},
    )
    w = (
        W.partitionBy("user_id").orderBy("bucket").rowsBetween(-7, -1)
    )
    base_n = F.count("total_value").over(w)
    mean = F.avg("total_value").over(w)
    sd = F.stddev_samp("total_value").over(w)
    z_raw = F.when(
        (base_n >= 3) & (sd > 0),
        (F.col("total_value") - mean) / sd,
    )
    return (
        daily.select(
            "user_id", "bucket", "total_value",
            F.round(z_raw, 6).alias("z"),
            # flag from the UNROUNDED z, exactly like the oracle: a true z
            # in [1.9999995, 2.0) must not round up into an anomaly
            F.coalesce(z_raw >= 2.0, F.lit(False)).alias("is_anomaly"),
        )
        .orderBy("user_id", "bucket")
    )


ORACLE_ANOMALY = """
WITH v AS (
  SELECT user_id, CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS bucket,
         value
  FROM events WHERE ts IS NOT NULL
), a AS (
  SELECT user_id, bucket, round(sum(value), 6) AS total_value
  FROM v GROUP BY 1, 2
), r AS (
  SELECT user_id, min(bucket) AS lo, max(bucket) AS hi FROM v GROUP BY 1
), g AS (
  SELECT r.user_id, unnest(generate_series(r.lo, r.hi)) AS bucket FROM r
), d AS (
  SELECT g.user_id, g.bucket,
         coalesce(a.total_value, 0.0) AS total_value
  FROM g LEFT JOIN a USING (user_id, bucket)
), s AS (
  SELECT user_id, bucket, total_value,
         count(total_value) OVER w AS base_n,
         avg(total_value) OVER w AS mean,
         stddev_samp(total_value) OVER w AS sd
  FROM d WINDOW w AS (PARTITION BY user_id ORDER BY bucket
                      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT user_id, bucket, total_value,
       CASE WHEN base_n >= 3 AND sd > 0
            THEN round((total_value - mean) / sd, 6) END AS z,
       coalesce(CASE WHEN base_n >= 3 AND sd > 0
                     THEN (total_value - mean) / sd >= 2.0 END,
                FALSE) AS is_anomaly
FROM s ORDER BY 1, 2
"""


ORACLE_RETENTION = """
WITH p AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(ts) / 604800.0) AS BIGINT) AS pidx
  FROM events WHERE ts IS NOT NULL
), c AS (
  SELECT pidx,
         min(pidx) OVER (PARTITION BY user_id) AS cohort_period
  FROM p
)
SELECT cohort_period, pidx - cohort_period AS period_offset,
       count(*) AS n_keys
FROM c GROUP BY 1, 2 ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

SPARK_QUERIES = {
    "q01_summary_agg": q01_summary_agg,
    "q02_filter_strings": q02_filter_strings,
    "q03_join_enrich": q03_join_enrich,
    "q04_topk_sort": q04_topk_sort,
    "q05_window_latest": q05_window_latest,
    "q06_window_sliding": q06_window_sliding,
    "q07_edges_time": q07_edges_time,
    "q08_edges_bins": q08_edges_bins,
    "q09_having": q09_having,
    "q10_set_union": q10_set_union,
    "q11_anti_semi": q11_anti_semi,
    "q12_case_coalesce": q12_case_coalesce,
    "q13_count_values": q13_count_values,
    "q14_stats_block": q14_stats_block,
    "q15_percentiles": q15_percentiles,
    "q16_in_between": q16_in_between,
    "q17_null_safe_eq": q17_null_safe_eq,
    "q18_cube": q18_cube,
    "q19_window_lag": q19_window_lag,
    "q20_first_last": q20_first_last,
    "q21_json_extract": q21_json_extract,
    "q22_rollup": q22_rollup,
    "q23_explode_tokens": q23_explode_tokens,
    "q24_window_percentile": q24_window_percentile,
    "q25_edges_dense_set": q25_edges_dense_set,
    "q26_nested_dive": q26_nested_dive,
    "q27_count_values": q27_count_values,
    "q28_edges_dense_time": q28_edges_dense_time,
    "q29_window_rows": q29_window_rows,
    "q30_multivalue_edge": q30_multivalue_edge,
    "q31_calendar_duration_edge": q31_calendar_duration_edge,
    "q32_unique_domain_edge": q32_unique_domain_edge,
    "dedup_exact": dedup_exact,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_jaccard_clusters": dedup_jaccard_clusters,
    "dedup_keep_list": dedup_keep_list,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_incremental": dedup_incremental,
    "dedup_simhash": dedup_simhash,
    "dedup_embedding": dedup_embedding,
    "dedup_embedding_lsh": dedup_embedding_lsh,
    "sim_cosine_topk": sim_cosine_topk,
    "sim_ann_lsh": sim_ann_lsh,
    "sim_ann_ivf": sim_ann_ivf,
    "text_stats": text_stats,
    "text_quality": text_quality,
    "text_langid": text_langid,
    "text_fingerprint": text_fingerprint,
    "multimodal_meta": multimodal_meta,
    "typed_json_props": typed_json_props,
    "data_split": data_split,
    "data_split_string_ids": data_split_string_ids,
    "contamination": contamination,
    "quota_sample": quota_sample,
    "stratified_sample": stratified_sample_q,
    "mix_sources": mix_sources_q,
    "pack_sequences": pack_sequences_q,
    "pii_scrub": pii_scrub_q,
    "text_dedup_paragraphs": dedup_paragraphs_q,
    "text_chunks": chunk_docs_q,
    "q33_asof_join": q33_asof_join,
    "scrub_common_segments": scrub_common_segments_q,
    "ngram_topk": ngram_topk_q,
    "q34_sessionize": q34_sessionize,
    "q35_range_join": q35_range_join,
    "q36_funnel": q36_funnel,
    "q37_retention": q37_retention,
    "q38_resample": q38_resample,
    "q39_anomaly": q39_anomaly,
}

ORACLE_SQL = {
    "q01_summary_agg": ORACLE_Q01,
    "q02_filter_strings": ORACLE_Q02,
    "q03_join_enrich": ORACLE_Q03,
    "q04_topk_sort": ORACLE_Q04,
    "q05_window_latest": ORACLE_Q05,
    "q06_window_sliding": ORACLE_Q06,
    "q07_edges_time": ORACLE_Q07,
    "q08_edges_bins": ORACLE_Q08,
    "q09_having": ORACLE_Q09,
    "q10_set_union": ORACLE_Q10,
    "q11_anti_semi": ORACLE_Q11,
    "q12_case_coalesce": ORACLE_Q12,
    "q13_count_values": ORACLE_Q13,
    "q14_stats_block": ORACLE_Q14,
    "q15_percentiles": ORACLE_Q15,
    "q16_in_between": ORACLE_Q16,
    "q17_null_safe_eq": ORACLE_Q17,
    "q18_cube": ORACLE_Q18,
    "q19_window_lag": ORACLE_Q19,
    "q20_first_last": ORACLE_Q20,
    "q21_json_extract": ORACLE_Q21,
    "q22_rollup": ORACLE_Q22,
    "q23_explode_tokens": ORACLE_Q23,
    "q24_window_percentile": ORACLE_Q24,
    "q25_edges_dense_set": ORACLE_Q25,
    "q26_nested_dive": ORACLE_Q26,
    "q27_count_values": ORACLE_Q27,
    "q28_edges_dense_time": ORACLE_Q28,
    "q29_window_rows": ORACLE_Q29,
    "q30_multivalue_edge": ORACLE_Q30,
    "q31_calendar_duration_edge": ORACLE_Q31,
    "q32_unique_domain_edge": ORACLE_Q32,
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "dedup_ngram_jaccard": ORACLE_DEDUP_JACCARD,
    "dedup_jaccard_clusters": ORACLE_JACCARD_CLUSTERS,
    "dedup_keep_list": ORACLE_DEDUP_KEEP_LIST,
    "dedup_minhash_lsh": ORACLE_DEDUP_MINHASH,
    "dedup_incremental": ORACLE_DEDUP_INCREMENTAL,
    "dedup_simhash": ORACLE_DEDUP_SIMHASH,
    "dedup_embedding": ORACLE_DEDUP_EMBEDDING,
    "dedup_embedding_lsh": ORACLE_DEDUP_EMBEDDING_LSH,
    "sim_cosine_topk": ORACLE_SIM_TOPK,
    "sim_ann_lsh": ORACLE_SIM_ANN_LSH,
    "sim_ann_ivf": ORACLE_SIM_ANN_IVF,
    "text_stats": ORACLE_TEXT_STATS,
    "text_quality": ORACLE_TEXT_QUALITY,
    "text_langid": ORACLE_TEXT_LANGID,
    "text_fingerprint": ORACLE_TEXT_FINGERPRINT,
    "multimodal_meta": ORACLE_MULTIMODAL,
    "typed_json_props": ORACLE_TYPED_JSON,
    "data_split": ORACLE_DATA_SPLIT,
    "data_split_string_ids": ORACLE_DATA_SPLIT_STRING,
    "contamination": ORACLE_CONTAMINATION,
    "quota_sample": ORACLE_QUOTA_SAMPLE,
    "stratified_sample": ORACLE_STRATIFIED_SAMPLE,
    "mix_sources": ORACLE_MIX_SOURCES,
    "pack_sequences": ORACLE_PACK_SEQUENCES,
    "pii_scrub": ORACLE_PII_SCRUB,
    "text_dedup_paragraphs": ORACLE_DEDUP_PARAGRAPHS,
    "text_chunks": ORACLE_CHUNK_DOCS,
    "q33_asof_join": ORACLE_ASOF_JOIN,
    "scrub_common_segments": ORACLE_SCRUB_COMMON,
    "ngram_topk": ORACLE_NGRAM_TOPK,
    "q34_sessionize": ORACLE_SESSIONIZE,
    "q35_range_join": ORACLE_RANGE_JOIN,
    "q36_funnel": ORACLE_FUNNEL,
    "q37_retention": ORACLE_RETENTION,
    "q38_resample": ORACLE_RESAMPLE,
    "q39_anomaly": ORACLE_ANOMALY,
}

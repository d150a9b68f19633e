"""Relational operator surface (SURVEY.md §2B, Q1–Q28).

The reference delegates its entire relational capability to the source database — the
user's SQL string in config executes verbatim on Postgres
(`/root/reference/internal/config/config.go:29`, `internal/sql/source.go:59`). This
module supplies that surface *natively*: each declared query shape is expressed
Spark-first (DataFrame API, or ``spark.sql`` where SQL is clearer), with an ANSI-SQL
oracle string for the DuckDB correctness gate.

Determinism rules applied throughout (so hash-comparison against another engine is
meaningful):
- double aggregations go through exact decimal sums (:mod:`librarian_spark.functions.numeric`)
- LIMIT / row_number always carry a unique tie-break key
- window ordering uses unique integer keys (``event_id``), never raw ns timestamps
  (Spark truncates parquet ns-timestamps to µs; DuckDB keeps ns)
- output columns are scalar bigint/double/string/date/timestamp/bool/array —
  never bare decimals (engines disagree on result precision/scale inference)

Scale notes are attached per-query where the plan shape matters (broadcast vs
shuffle, pushdown, partial aggregation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from librarian_spark.functions.numeric import (
    davg,
    dsum,
    hash_bucket,
    o_davg,
    o_dsum,
    o_hash_bucket,
    o_slong,
    slong,
)
from librarian_spark.operators.registry import query
from librarian_spark.sources.batch import load_table as _t
from librarian_spark.sources.batch import register_views

# --------------------------------------------------------------------------
# Q1 projection
# --------------------------------------------------------------------------


@query(
    "q01_projection",
    oracle="SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem",
    doc="Column pruning: scan reads only 3 of 11 lineitem columns (check ReadSchema).",
)
def q01_projection(spark: SparkSession, sf: str) -> DataFrame:
    return _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )


# --------------------------------------------------------------------------
# Q2 column arithmetic
# --------------------------------------------------------------------------


@query(
    "q02_arithmetic",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS revenue,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS revenue_taxed
    FROM lineitem
    """,
    doc="Per-row double arithmetic is IEEE-deterministic — no decimal guard needed.",
)
def q02_arithmetic(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem")
    rev = li.l_extendedprice * (1 - li.l_discount)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        rev.alias("revenue"),
        (rev * (1 + li.l_tax)).alias("revenue_taxed"),
    )


# --------------------------------------------------------------------------
# Q3 filter with pushdown
# --------------------------------------------------------------------------


@query(
    "q03_filter",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_discount
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="Predicates reach the parquet scan (PushedFilters) — verified in plan tests.",
)
def q03_filter(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem")
    return li.filter(
        (li.l_shipdate >= F.lit("1996-01-01").cast("timestamp"))
        & (li.l_shipdate < F.lit("1997-01-01").cast("timestamp"))
        & (li.l_discount.between(0.05, 0.07))
        & (li.l_quantity < 24)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")


# --------------------------------------------------------------------------
# Q4 sort
# --------------------------------------------------------------------------


@query(
    "q04_sort",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    ORDER BY c_acctbal DESC NULLS LAST, c_custkey
    """,
    doc="Global sort = range-partitioned exchange (TakeOrdered avoided: full sort).",
)
def q04_sort(spark: SparkSession, sf: str) -> DataFrame:
    c = _t(spark, sf, "customer")
    return c.select("c_custkey", "c_name", "c_acctbal").orderBy(
        c.c_acctbal.desc_nulls_last(), c.c_custkey
    )


# --------------------------------------------------------------------------
# Q5 top-k
# --------------------------------------------------------------------------


@query(
    "q05_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    doc="ORDER BY + LIMIT compiles to TakeOrderedAndProject: per-partition heap, "
    "no full sort/shuffle — the right plan at 100 TB. Unique tie-break (o_orderkey) "
    "keeps the boundary deterministic.",
)
def q05_topk(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(o.o_totalprice.desc(), o.o_orderkey)
        .limit(10)
    )


# --------------------------------------------------------------------------
# Q6 hash aggregate (TPC-H Q1 shape)
# --------------------------------------------------------------------------


@query(
    "q06_tpch_q1",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {o_dsum('l_quantity')} AS sum_qty,
           {o_dsum('l_extendedprice')} AS sum_base_price,
           {o_dsum('l_extendedprice * (1 - l_discount)', 6)} AS sum_disc_price,
           {o_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)} AS sum_charge,
           {o_davg('l_quantity')} AS avg_qty,
           {o_davg('l_extendedprice')} AS avg_price,
           {o_davg('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1: partial+final HashAggregate (map-side combine) — the shuffle moves "
    "only |groups|×|partitions| rows regardless of input size.",
)
def q06_tpch_q1(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp")
    )
    disc_price = li.l_extendedprice * (1 - li.l_discount)
    charge = disc_price * (1 + li.l_tax)
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_base_price"),
        dsum(disc_price, 6).alias("sum_disc_price"),
        dsum(charge, 6).alias("sum_charge"),
        davg("l_quantity").alias("avg_qty"),
        davg("l_extendedprice").alias("avg_price"),
        davg("l_discount").alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


# --------------------------------------------------------------------------
# Q7 distinct / count-distinct
# --------------------------------------------------------------------------


@query(
    "q07_count_distinct",
    oracle="""
    SELECT COUNT(DISTINCT o_custkey) AS n_custs,
           COUNT(DISTINCT o_orderstatus) AS n_statuses,
           COUNT(*) AS n_orders
    FROM orders
    """,
    doc="Exact distinct = expand+two-phase aggregate. (approx_count_distinct is the "
    "100 TB fast path but has no cross-engine oracle — exposed separately.)",
)
def q07_count_distinct(spark: SparkSession, sf: str) -> DataFrame:
    return _t(spark, sf, "orders").agg(
        F.count_distinct(F.col("o_custkey")).alias("n_custs"),
        F.count_distinct(F.col("o_orderstatus")).alias("n_statuses"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "q07_approx_distinct",
    oracle=None,  # HLL sketches differ across engines — no cross-engine hash
    doc="approx_count_distinct (HyperLogLog++, rsd=0.01) — the 100 TB distinct "
    "path: map-side sketch merge, shuffle carries one sketch per partition "
    "instead of the expanded key stream. Unit test asserts <2% error vs exact.",
)
def q07_approx_distinct(spark: SparkSession, sf: str) -> DataFrame:
    return _t(spark, sf, "orders").agg(
        F.approx_count_distinct("o_custkey", rsd=0.01).alias("n_custs_approx"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# --------------------------------------------------------------------------
# Q8 rollup / cube (grouping sets)
# --------------------------------------------------------------------------


@query(
    "q08_rollup",
    oracle=f"""
    SELECT r_name, n_name,
           COUNT(*) AS n_customers,
           {o_dsum('c_acctbal')} AS sum_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def q08_rollup(spark: SparkSession, sf: str) -> DataFrame:
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    joined = c.join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    ).join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        dsum("c_acctbal").alias("sum_acctbal"),
    )


@query(
    "q08_cube",
    oracle="""
    SELECT c_mktsegment, o_orderstatus, COUNT(*) AS n
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY CUBE (c_mktsegment, o_orderstatus)
    """,
)
def q08_cube(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .cube("c_mktsegment", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "q08_grouping_sets",
    oracle="""
    SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY GROUPING SETS ((c_mktsegment), (o_orderpriority), ())
    """,
    doc="Explicit GROUPING SETS (neither rollup nor cube shape) via Spark SQL — "
    "one Expand + single aggregate, not a union of three scans.",
)
def q08_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    register_views(spark, sf)
    return spark.sql(
        """
        SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY GROUPING SETS ((c_mktsegment), (o_orderpriority), ())
        """
    )


# --------------------------------------------------------------------------
# Q9–Q14 joins
# --------------------------------------------------------------------------


@query(
    "q09_join_inner",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    doc="Equi-join; AQE picks broadcast vs sort-merge from runtime stats. At 100 TB "
    "both sides large → sort-merge on the shuffled key is correct.",
)
def q09_join_inner(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    return o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@query(
    "q10_join_broadcast",
    oracle="""
    SELECT n_nationkey, n_name, r_name
    FROM nation JOIN region ON n_regionkey = r_regionkey
    """,
    doc="Explicit broadcast of the 5-row dim: zero shuffle regardless of fact size.",
)
def q10_join_broadcast(spark: SparkSession, sf: str) -> DataFrame:
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    return n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name", "r_name"
    )


@query(
    "q11_join_left",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    """,
)
def q11_join_left(spark: SparkSession, sf: str) -> DataFrame:
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query(
    "q11_join_full",
    oracle="""
    SELECT n_nationkey, c.n_cust, s.n_supp
    FROM (SELECT c_nationkey, COUNT(*) AS n_cust FROM customer GROUP BY c_nationkey) c
    FULL JOIN (SELECT s_nationkey, COUNT(*) AS n_supp FROM supplier GROUP BY s_nationkey) s
      ON c.c_nationkey = s.s_nationkey
    JOIN nation ON n_nationkey = COALESCE(c.c_nationkey, s.s_nationkey)
    """,
)
def q11_join_full(spark: SparkSession, sf: str) -> DataFrame:
    c = (
        _t(spark, sf, "customer")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        _t(spark, sf, "supplier")
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    n = _t(spark, sf, "nation")
    full = c.join(s, c.c_nationkey == s.s_nationkey, "full")
    return full.join(
        n, n.n_nationkey == F.coalesce(full.c_nationkey, full.s_nationkey)
    ).select("n_nationkey", "n_cust", "n_supp")


@query(
    "q12_join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="EXISTS ≡ left_semi: probe side streams, no row multiplication.",
)
def q12_join_semi(spark: SparkSession, sf: str) -> DataFrame:
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "q12_join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q12_join_anti(spark: SparkSession, sf: str) -> DataFrame:
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "q13_join_theta",
    oracle="""
    SELECT s_suppkey, s_name, COUNT(*) AS n_poorer
    FROM supplier JOIN customer
      ON s_nationkey = c_nationkey AND s_acctbal > c_acctbal
    GROUP BY s_suppkey, s_name
    """,
    doc="Equi key + theta residual: hash/sort-merge on the equi part, residual as "
    "post-join filter — never a nested-loop over the full cross product.",
)
def q13_join_theta(spark: SparkSession, sf: str) -> DataFrame:
    s = _t(spark, sf, "supplier")
    c = _t(spark, sf, "customer")
    return (
        s.join(c, (s.s_nationkey == c.c_nationkey) & (s.s_acctbal > c.c_acctbal))
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("n_poorer"))
    )


@query(
    "q14_star_join",
    oracle=f"""
    SELECT n_name,
           {o_dsum('l_extendedprice * (1 - l_discount)', 6)} AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
    doc="TPC-H Q5 shape: fact-to-fact joins shuffle on keys; nation/region broadcast. "
    "Dynamic partition pruning would kick in on a partitioned fact table.",
)
def q14_star_join(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = _t(spark, sf, "customer")
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    rev = joined.l_extendedprice * (1 - joined.l_discount)
    return joined.groupBy("n_name").agg(dsum(rev, 6).alias("revenue"))


# --------------------------------------------------------------------------
# Q15 subqueries
# --------------------------------------------------------------------------

_Q15_SCALAR = """
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_totalprice > (
  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(25,4))) AS DOUBLE) / COUNT(o_totalprice)
  FROM orders)
"""


@query(
    "q15_subquery_scalar",
    oracle=_Q15_SCALAR,
    doc="Uncorrelated scalar subquery: computed once, broadcast into the filter.",
)
def q15_subquery_scalar(spark: SparkSession, sf: str) -> DataFrame:
    register_views(spark, sf)
    return spark.sql(_Q15_SCALAR)


_Q15_CORR = """
SELECT c_custkey, c_name, c_acctbal
FROM customer c
WHERE c_acctbal > (
  SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(25,4))) AS DOUBLE) / COUNT(c2.c_acctbal)
  FROM customer c2
  WHERE c2.c_nationkey = c.c_nationkey)
"""


@query(
    "q15_subquery_correlated",
    oracle=_Q15_CORR,
    doc="Correlated aggregate subquery — Catalyst decorrelates to an aggregate+join, "
    "so the nation-level averages are computed once, not per outer row.",
)
def q15_subquery_correlated(spark: SparkSession, sf: str) -> DataFrame:
    register_views(spark, sf)
    return spark.sql(_Q15_CORR)


# --------------------------------------------------------------------------
# Q16 set operations
# --------------------------------------------------------------------------


@query(
    "q16_union_all",
    oracle="""
    SELECT c_nationkey AS nationkey, 'customer' AS side FROM customer
    UNION ALL
    SELECT s_nationkey AS nationkey, 'supplier' AS side FROM supplier
    """,
)
def q16_union_all(spark: SparkSession, sf: str) -> DataFrame:
    c = _t(spark, sf, "customer").select(
        F.col("c_nationkey").alias("nationkey"), F.lit("customer").alias("side")
    )
    s = _t(spark, sf, "supplier").select(
        F.col("s_nationkey").alias("nationkey"), F.lit("supplier").alias("side")
    )
    return c.unionAll(s)


@query(
    "q16_union_distinct",
    oracle="""
    SELECT c_mktsegment AS seg FROM customer
    UNION
    SELECT o_orderpriority FROM orders
    """,
)
def q16_union_distinct(spark: SparkSession, sf: str) -> DataFrame:
    c = _t(spark, sf, "customer").select(F.col("c_mktsegment").alias("seg"))
    o = _t(spark, sf, "orders").select(F.col("o_orderpriority").alias("seg"))
    return c.union(o).distinct()


@query(
    "q16_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def q16_intersect(spark: SparkSession, sf: str) -> DataFrame:
    c = _t(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@query(
    "q16_except",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier
    """,
)
def q16_except(spark: SparkSession, sf: str) -> DataFrame:
    c = _t(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s)  # subtract = EXCEPT (set semantics); exceptAll = bag


# --------------------------------------------------------------------------
# Q17–Q18 window functions
# --------------------------------------------------------------------------


@query(
    "q17_window_rank",
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal,
           ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn,
           RANK()       OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS rnk,
           DENSE_RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS drnk
    FROM customer
    """,
    doc="row_number carries a unique tie-break; rank/dense_rank are tie-stable so "
    "they may order by the value alone.",
)
def q17_window_rank(spark: SparkSession, sf: str) -> DataFrame:
    c = _t(spark, sf, "customer")
    w_unique = W.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    w_val = W.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc())
    return c.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.row_number().over(w_unique).cast("long").alias("rn"),
        F.rank().over(w_val).cast("long").alias("rnk"),
        F.dense_rank().over(w_val).cast("long").alias("drnk"),
    )


@query(
    "q18_window_frame",
    oracle=f"""
    SELECT event_id, user_id, value,
           (CAST(SUM({o_slong('value')}) OVER (
             PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE) / 10000.0) AS roll_sum,
           (CAST(SUM({o_slong('value')}) OVER (
             PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 10000.0) AS run_sum,
           LAG(value)  OVER (PARTITION BY user_id ORDER BY event_id) AS prev_value,
           LEAD(value) OVER (PARTITION BY user_id ORDER BY event_id) AS next_value
    FROM events
    """,
    doc="Analytic frames over the event stream; fixed-point sums because engines "
    "evaluate sliding frames in different orders (segment trees vs rescans).",
)
def q18_window_frame(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("event_id")
    return e.select(
        "event_id",
        "user_id",
        "value",
        (F.sum(slong("value")).over(w.rowsBetween(-3, 0)).cast("double") / 1e4).alias(
            "roll_sum"
        ),
        (
            F.sum(slong("value"))
            .over(w.rowsBetween(W.unboundedPreceding, 0))
            .cast("double")
            / 1e4
        ).alias("run_sum"),
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
    )


# --------------------------------------------------------------------------
# Q19 conditional logic
# --------------------------------------------------------------------------


@query(
    "q19_case",
    oracle="""
    SELECT CASE WHEN o_totalprice >= 300000 THEN 'large'
                WHEN o_totalprice >= 100000 THEN 'medium'
                ELSE 'small' END AS bucket,
           o_orderstatus,
           COUNT(*) AS n
    FROM orders
    GROUP BY 1, 2
    """,
)
def q19_case(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    bucket = (
        F.when(o.o_totalprice >= 300000, "large")
        .when(o.o_totalprice >= 100000, "medium")
        .otherwise("small")
        .alias("bucket")
    )
    return o.groupBy(bucket, "o_orderstatus").agg(F.count(F.lit(1)).alias("n"))


# --------------------------------------------------------------------------
# Q20 string functions
# --------------------------------------------------------------------------


@query(
    "q20_strings",
    oracle="""
    SELECT c_custkey,
           LOWER(c_name) AS lname,
           UPPER(c_mktsegment) AS useg,
           SUBSTR(c_name, 1, 8) AS prefix,
           LENGTH(c_name) AS name_len,
           CONCAT(c_name, ':', c_mktsegment) AS tagged,
           REPLACE(c_name, 'Customer#', '') AS numpart,
           REGEXP_REPLACE(c_name, '0+', '0', 'g') AS squeezed,
           (c_name LIKE 'Customer#%') AS is_cust,
           TRIM('  x  ') AS trimmed
    FROM customer
    WHERE c_name LIKE 'Customer#%'
    """,
)
def q20_strings(spark: SparkSession, sf: str) -> DataFrame:
    c = _t(spark, sf, "customer").filter(F.col("c_name").like("Customer#%"))
    return c.select(
        "c_custkey",
        F.lower("c_name").alias("lname"),
        F.upper("c_mktsegment").alias("useg"),
        F.substring("c_name", 1, 8).alias("prefix"),
        F.length("c_name").cast("long").alias("name_len"),
        F.concat(F.col("c_name"), F.lit(":"), F.col("c_mktsegment")).alias("tagged"),
        F.regexp_replace(F.col("c_name"), "Customer#", "").alias("numpart"),
        F.regexp_replace(F.col("c_name"), "0+", "0").alias("squeezed"),
        F.col("c_name").like("Customer#%").alias("is_cust"),
        F.trim(F.lit("  x  ")).alias("trimmed"),
    )


@query(
    "q20_split",
    oracle="""
    SELECT doc_id,
           ARRAY_TO_STRING(STR_SPLIT(TRIM(text), ' '), '|') AS words,
           CAST(LEN(STR_SPLIT(TRIM(text), ' ')) AS BIGINT) AS n_words,
           LENGTH(TRIM(text)) AS n_chars_trim
    FROM documents WHERE doc_id < 100
    """,
    doc="split + array_join round-trip (scalar output: the comparison harness "
    "sorts on every column, so array columns are re-joined to one string — "
    "both engines join the identical token list, so the encoding is lossless "
    "for the comparison).",
)
def q20_split(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 100)
    words = F.split(F.trim(F.col("text")), " ")
    return d.select(
        "doc_id",
        F.array_join(words, "|").alias("words"),
        F.size(words).cast("long").alias("n_words"),
        F.length(F.trim(F.col("text"))).cast("long").alias("n_chars_trim"),
    )


# --------------------------------------------------------------------------
# Q21 date/time functions
# --------------------------------------------------------------------------


@query(
    "q21_dates",
    oracle="""
    SELECT o_orderkey,
           CAST(YEAR(o_orderdate) AS BIGINT) AS y,
           CAST(MONTH(o_orderdate) AS BIGINT) AS m,
           CAST(DAY(o_orderdate) AS BIGINT) AS d,
           CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month_start,
           CAST(o_orderdate AS DATE) + 30 AS due_date,
           CAST(QUARTER(o_orderdate) AS BIGINT) AS q
    FROM orders
    """,
)
def q21_dates(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("y"),
        F.month("o_orderdate").cast("long").alias("m"),
        F.dayofmonth("o_orderdate").cast("long").alias("d"),
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month_start"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("due_date"),
        F.quarter("o_orderdate").cast("long").alias("q"),
    )


@query(
    "q21_datediff",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(DATEDIFF('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS BIGINT)
             AS ship_delay_days
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    """,
)
def q21_datediff(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    return li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_linenumber",
        F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date"))
        .cast("long")
        .alias("ship_delay_days"),
    )


# --------------------------------------------------------------------------
# Q22 math functions
# --------------------------------------------------------------------------


@query(
    "q22_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ABS(l_discount - 0.05) AS abs_d,
           ROUND(l_extendedprice, 1) AS rounded,
           CAST(CEIL(l_extendedprice) AS BIGINT) AS ceiled,
           CAST(FLOOR(l_extendedprice) AS BIGINT) AS floored,
           SQRT(l_quantity) AS sqrt_qty,
           l_quantity * l_quantity AS qty_sq,
           CAST(l_linenumber % 3 AS BIGINT) AS mod3,
           ROUND(LN(l_extendedprice), 4) AS ln_price
    FROM lineitem
    """,
)
def q22_math(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(li.l_discount - 0.05).alias("abs_d"),
        F.round(li.l_extendedprice, 1).alias("rounded"),
        F.ceil(li.l_extendedprice).cast("long").alias("ceiled"),
        F.floor(li.l_extendedprice).cast("long").alias("floored"),
        F.sqrt(li.l_quantity).alias("sqrt_qty"),
        (li.l_quantity * li.l_quantity).alias("qty_sq"),
        (li.l_linenumber % 3).cast("long").alias("mod3"),
        F.round(F.log(li.l_extendedprice), 4).alias("ln_price"),
    )


# --------------------------------------------------------------------------
# Q23 casts
# --------------------------------------------------------------------------


@query(
    "q23_casts",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) AS price_str,
           CAST(TRUNC(o_totalprice) AS BIGINT) AS price_int,
           CAST(o_orderkey AS VARCHAR) AS key_str,
           CAST(o_orderdate AS DATE) AS odate,
           CAST(STRFTIME(o_orderdate, '%Y-%m-%d') AS VARCHAR) AS date_str,
           CAST(CAST(o_orderkey % 1000000 AS INTEGER) AS BIGINT) AS narrowed
    FROM orders
    """,
    doc="Cast semantics parity incl. the reference's int widening "
    "(`internal/parquet/sql.go:16-21`); double→bigint uses explicit TRUNC in the "
    "oracle because DuckDB rounds on cast while Spark truncates. The "
    "narrow-then-widen demo runs on a value-bounded expression (key % 1e6): "
    "ANSI mode makes a bare bigint→int cast crash on any >2^31 key, which a "
    "100 TB corpus will have — scale safety belongs in the operator, not the "
    "data assumption (r7 verdict #3: sf1 replica keys overflowed the cast).",
)
def q23_casts(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        o.o_totalprice.cast("decimal(12,2)").cast("string").alias("price_str"),
        o.o_totalprice.cast("long").alias("price_int"),
        o.o_orderkey.cast("string").alias("key_str"),
        o.o_orderdate.cast("date").alias("odate"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("date_str"),
        F.pmod(o.o_orderkey, F.lit(1000000)).cast("int").cast("long").alias("narrowed"),
    )


# --------------------------------------------------------------------------
# Q24 null handling
# --------------------------------------------------------------------------


@query(
    "q24_nulls",
    oracle="""
    SELECT c_custkey,
           COALESCE(o_orderkey, -1) AS okey_or_default,
           (o_orderkey IS NULL) AS no_order,
           NULLIF(c_mktsegment, 'BUILDING') AS seg_nullable,
           (o_orderstatus IS NOT DISTINCT FROM 'F') AS is_final
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    """,
)
def q24_nulls(spark: SparkSession, sf: str) -> DataFrame:
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    j = c.join(o, c.c_custkey == o.o_custkey, "left")
    return j.select(
        "c_custkey",
        F.coalesce(o.o_orderkey, F.lit(-1)).alias("okey_or_default"),
        o.o_orderkey.isNull().alias("no_order"),
        F.nullif(c.c_mktsegment, F.lit("BUILDING")).alias("seg_nullable"),
        o.o_orderstatus.eqNullSafe(F.lit("F")).alias("is_final"),
    )


# --------------------------------------------------------------------------
# Q25 arrays
# --------------------------------------------------------------------------


@query(
    "q25_arrays",
    oracle="""
    SELECT vec_id,
           CAST(LEN(embedding) AS BIGINT) AS dim,
           CAST(embedding[1] AS DOUBLE) AS first_val,
           CAST(embedding[4] AS DOUBLE) AS fourth_val,
           ARRAY_TO_STRING(
             [CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
              FOR x IN embedding[1:4]], ',') AS head4,
           label
    FROM embeddings
    """,
    doc="array slice/transform/element_at; the sliced head is emitted as a "
    "fixed-point (1e-6) comma-joined string so every output column is scalar "
    "for the sort-based comparison harness — floor(x*1e6+0.5) is the same "
    "IEEE op sequence in both engines (no banker's-rounding divergence).",
)
def q25_arrays(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "embeddings")
    head4 = F.transform(
        F.slice("embedding", 1, 4),
        lambda x: F.floor(x.cast("double") * F.lit(1000000.0) + F.lit(0.5)).cast(
            "long"
        ),
    )
    return e.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.element_at("embedding", 1).cast("double").alias("first_val"),
        F.element_at("embedding", 4).cast("double").alias("fourth_val"),
        F.array_join(head4, ",").alias("head4"),
        "label",
    )


@query(
    "q25_explode",
    oracle="""
    SELECT vec_id,
           CAST(GENERATE_SUBSCRIPTS(embedding, 1) AS BIGINT) AS pos,
           CAST(UNNEST(embedding) AS DOUBLE) AS val
    FROM embeddings WHERE vec_id < 32
    """,
    doc="explode/posexplode ≡ UNNEST: generator op, one output row per element.",
)
def q25_explode(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "embeddings").filter(F.col("vec_id") < 32)
    return e.select(
        "vec_id", F.posexplode("embedding").alias("pos0", "valf")
    ).select(
        "vec_id",
        (F.col("pos0") + 1).cast("long").alias("pos"),
        F.col("valf").cast("double").alias("val"),
    )


# --------------------------------------------------------------------------
# Q26 struct/map access
# --------------------------------------------------------------------------


@query(
    "q26_struct_map",
    oracle="""
    SELECT n_nationkey,
           STRUCT_PACK(name := n_name, region := r_name).name AS nm,
           STRUCT_PACK(name := n_name, region := r_name).region AS reg,
           MAP([n_name], [n_regionkey])[n_name][1] AS reg_lookup
    FROM nation JOIN region ON n_regionkey = r_regionkey
    """,
)
def q26_struct_map(spark: SparkSession, sf: str) -> DataFrame:
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    j = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    st = F.struct(F.col("n_name").alias("name"), F.col("r_name").alias("region"))
    mp = F.create_map(F.col("n_name"), F.col("n_regionkey"))
    return j.select(
        "n_nationkey",
        st.getField("name").alias("nm"),
        st.getField("region").alias("reg"),
        F.element_at(mp, F.col("n_name")).alias("reg_lookup"),
    )


# --------------------------------------------------------------------------
# Q27 JSON
# --------------------------------------------------------------------------


@query(
    "q27_json",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def q27_json(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events")
    return e.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("long")).alias("sum_k"),
        F.count(F.lit(1)).alias("n"),
    )


# --------------------------------------------------------------------------
# Q28 CTEs
# --------------------------------------------------------------------------

_Q28 = """
WITH cust_orders AS (
  SELECT o_custkey,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(25,4))) AS DOUBLE) AS total_spent
  FROM orders
  GROUP BY o_custkey
)
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       CAST(SUM(CAST(total_spent AS DECIMAL(25,4))) AS DOUBLE) AS segment_spend
FROM cust_orders
JOIN customer ON c_custkey = o_custkey
GROUP BY c_mktsegment
"""


@query(
    "q28_cte",
    oracle=_Q28,
    doc="CTE pipeline; same text runs in both engines (dialect-neutral SQL).",
)
def q28_cte(spark: SparkSession, sf: str) -> DataFrame:
    register_views(spark, sf)
    return spark.sql(_Q28)


# --------------------------------------------------------------------------
# Time-series shapes on the events table (batch forms of the streaming ops)
# --------------------------------------------------------------------------


@query(
    "q29_time_window",
    oracle=f"""
    SELECT CAST(TIME_BUCKET(INTERVAL '1 hour', ts) AS TIMESTAMP) AS wstart,
           event_type,
           COUNT(*) AS n,
           {o_dsum('value')} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Tumbling event-time window (batch form of streaming S12); ns→µs timestamp "
    "truncation is safe because bucketing to whole hours.",
)
def q29_time_window(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value"))
        .select(F.col("w.start").alias("wstart"), "event_type", "n", "sum_value")
    )


@query(
    "q30_sessionization",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY event_id)
                       > INTERVAL '30 minutes'
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, event_id,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY event_id) AS session_id
      FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    """,
    doc="Gap-based sessionization: lag + cumulative flag sum — the batch analogue of "
    "session_window (S12). One shuffle on user_id serves both windows and the final agg.",
)
def q30_sessionization(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("event_id")
    prev_ts = F.lag("ts").over(w)
    new_session = F.when(
        prev_ts.isNull()
        | ((F.col("ts").cast("long") - prev_ts.cast("long")) > 1800),
        1,
    ).otherwise(0)
    sessions = e.select(
        "user_id",
        "event_id",
        F.sum(new_session)
        .over(w.rowsBetween(W.unboundedPreceding, 0))
        .cast("long")
        .alias("session_id"),
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )


@query(
    "q31_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders)
    WHERE rn <= 3
    """,
    doc="Top-k per group: rank-and-filter — one shuffle on the group key; at scale "
    "prefer this over sort+collect per group.",
)
def q31_topk_per_group(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.select(
            "o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


# --------------------------------------------------------------------------
# Q32 as-of join (temporal point-in-time join)
# --------------------------------------------------------------------------


@query(
    "q32_asof_join",
    oracle="""
    SELECT l.event_id, l.user_id, l.value,
           r.event_id AS last_click_id, r.value AS last_click_value
    FROM (SELECT * FROM events WHERE event_type = 'view') l
    ASOF LEFT JOIN (SELECT user_id, ts,
                           MAX(event_id) AS event_id,
                           ARG_MAX(value, event_id) AS value
                    FROM events WHERE event_type = 'click'
                    GROUP BY user_id, ts) r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
    doc="Backward as-of join (each 'view' enriched with the user's most recent "
    "at-or-before 'click') — an operator Spark lacks natively, composed scalably "
    "from built-ins: tag both sides, union, one window pass per key with "
    "last(ignorenulls) over rows-unbounded-preceding, keep left rows. ONE "
    "shuffle on the by-key, state is a single row per partition-ordered scan — "
    "never the per-key range-join blowup (O(|L|·|R|) worst case) a naive "
    "l.ts >= r.ts theta join produces. The tag orders right before left at "
    "equal ts, giving at-or-before semantics identical to DuckDB's ASOF JOIN. "
    "BOTH sides pre-reduce clicks to one row per (user_id, ts) (max event_id "
    "wins): DuckDB's ASOF JOIN returns an UNSPECIFIED row when several right "
    "rows share the max ts <= l.ts, so without the reduction the oracle "
    "comparison is nondeterministic on any data with duplicate (user_id, ts) "
    "click rows.",
)
def q32_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events")
    left = e.filter(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.lit(None).cast("long").alias("click_id"),
        F.lit(None).cast("double").alias("click_value"),
        F.lit(1).alias("tag"),
    )
    right = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("click_id"),
            F.max_by("value", "event_id").alias("click_value"),
        )
        .select(
            "user_id",
            "ts",
            F.lit(None).cast("long").alias("event_id"),
            F.lit(None).cast("double").alias("value"),
            "click_id",
            "click_value",
            F.lit(0).alias("tag"),
        )
    )
    # (ts, tag, click_id): right rows sort before left at equal ts (at-or-before),
    # click_id makes same-ts right rows deterministic
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "tag", "click_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        right.unionByName(left)
        .select(
            "event_id",
            "user_id",
            "value",
            "tag",
            F.last("click_id", ignorenulls=True).over(w).alias("last_click_id"),
            F.last("click_value", ignorenulls=True).over(w).alias("last_click_value"),
        )
        .filter(F.col("tag") == 1)
        .drop("tag")
    )


# --------------------------------------------------------------------------
# Q33 percentiles / quantiles
# --------------------------------------------------------------------------


_Q33_PCTS = (50, 95, 99)


@query(
    "q33_percentiles",
    oracle="""
    WITH v AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cv
      FROM events WHERE value IS NOT NULL
    ),
    r AS (
      SELECT event_type, cv,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cv) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM v
    )
    SELECT event_type,
           MAX(CASE WHEN rn = 50 * (n - 1) // 100 + 1 THEN cv END)
             * 10000
           + (MAX(CASE WHEN rn = 50 * (n - 1) // 100 + 1
                       + CASE WHEN 50 * (n - 1) % 100 = 0 THEN 0 ELSE 1 END
                  THEN cv END)
              - MAX(CASE WHEN rn = 50 * (n - 1) // 100 + 1 THEN cv END))
             * (50 * (n - 1) % 100) * 100 AS p50_micro,
           MAX(CASE WHEN rn = 95 * (n - 1) // 100 + 1 THEN cv END)
             * 10000
           + (MAX(CASE WHEN rn = 95 * (n - 1) // 100 + 1
                       + CASE WHEN 95 * (n - 1) % 100 = 0 THEN 0 ELSE 1 END
                  THEN cv END)
              - MAX(CASE WHEN rn = 95 * (n - 1) // 100 + 1 THEN cv END))
             * (95 * (n - 1) % 100) * 100 AS p95_micro,
           MAX(CASE WHEN rn = 99 * (n - 1) // 100 + 1 THEN cv END)
             * 10000
           + (MAX(CASE WHEN rn = 99 * (n - 1) // 100 + 1
                       + CASE WHEN 99 * (n - 1) % 100 = 0 THEN 0 ELSE 1 END
                  THEN cv END)
              - MAX(CASE WHEN rn = 99 * (n - 1) // 100 + 1 THEN cv END))
             * (99 * (n - 1) % 100) * 100 AS p99_micro
    FROM r GROUP BY event_type, n
    """,
    doc="Exact interpolated percentiles per group in INTEGER MICRO-UNITS — "
    "the all-integer reformulation of linear-interpolation quantiles: the "
    "value column is centi-grid (max deviation 3.6e-12, verified), so "
    "cv = round(value*100) is exact, the interpolation index k = p(N-1) "
    "splits into integer rank and integer percent-fraction, and the "
    "interpolated value a + (b-a)·fr/100 in micro-units is "
    "a·10⁴ + (b-a)·fr·100 — EXACT integers end to end, no float "
    "arithmetic anywhere. Replaces float percentile()/quantile_cont "
    "pairing, which diverged in the last ulp AT SF1 ONLY (Spark "
    "interpolates a+(b-a)f, DuckDB a(1-f)+bf: 230.53 vs "
    "230.53000000000003 — caught by the sf1 oracle sweep, invisible at "
    "sf0.01 where the fractions happened to land cleanly). Execution: one "
    "rank window per group + a 6-conditional-max aggregate; per-group "
    "sort is the same bound exact percentile() pays — swap "
    "percentile_approx (mergeable t-digest) for unbounded groups at "
    "100 TB.",
)
def q33_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events").filter(F.col("value").isNotNull())
    v = e.select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cv")
    )
    wn = W.partitionBy("event_type")
    r = v.select(
        "event_type",
        "cv",
        F.row_number().over(wn.orderBy("cv")).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    aggs = []
    for pc in _Q33_PCTS:
        k = F.lit(pc) * (F.col("n") - 1)
        lo = F.call_function("div", k, F.lit(100)) + 1
        fr = F.pmod(k, F.lit(100))
        hi = lo + F.when(fr == 0, 0).otherwise(1)
        a = F.max(F.when(F.col("rn") == lo, F.col("cv")))
        b = F.max(F.when(F.col("rn") == hi, F.col("cv")))
        aggs.append(
            (a * 10000 + (b - a) * fr * 100)
            .cast("long")
            .alias(f"p{pc}_micro")
        )
    # n is constant within a group; grouping on it keeps lo/fr usable
    # inside the aggregate expressions
    return (
        r.groupBy("event_type", "n").agg(*aggs).drop("n")
    )


# --------------------------------------------------------------------------
# Q34 pivot
# --------------------------------------------------------------------------

_PIVOT_TYPES = ["click", "view", "purchase", "signup", "error"]


@query(
    "q34_pivot",
    oracle=f"""
    SELECT user_id,
           {", ".join(f"COUNT(CASE WHEN event_type = '{t}' THEN 1 END) AS {t}"
                      for t in _PIVOT_TYPES)}
    FROM events GROUP BY user_id
    """,
    doc="Pivot (long→wide): event counts per user by type, with the pivot "
    "values declared explicitly — at scale an undeclared pivot triggers an "
    "extra distinct-scan job to discover the columns; declaring them keeps it "
    "one hash-aggregate shuffle (equivalent to manual CASE aggregation).",
)
def q34_pivot(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events")
    p = e.groupBy("user_id").pivot("event_type", _PIVOT_TYPES).agg(
        F.count(F.lit(1))
    )
    # pivot yields NULL for empty (user, type) cells; COUNT(CASE...) yields 0
    return p.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in _PIVOT_TYPES]
    )


# --------------------------------------------------------------------------
# Q35 deterministic hash sampling
# --------------------------------------------------------------------------


@query(
    "q35_hash_sample",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE {bucket} < 10
    """.format(bucket=o_hash_bucket("event_id")),
    doc="Deterministic 10% sample by key hash (md5 prefix mod 100): unlike "
    "TABLESAMPLE/rand(), the same rows are selected on every run, every "
    "engine, and every partitioning — the reproducible-experiment sampling "
    "idiom for training-data pipelines. Map-only, pure codegen expressions; "
    "composable (hash on a stable business key ⇒ the sample is stable under "
    "re-ingestion too).",
)
def q35_hash_sample(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events")
    return e.filter(hash_bucket("event_id") < 10).select(
        "event_id", "user_id", "event_type", "value"
    )


# --------------------------------------------------------------------------
# Q36 ordered string aggregation (listagg)
# --------------------------------------------------------------------------


@query(
    "q36_string_agg",
    oracle="""
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_custs,
           string_agg(c.c_name, ',' ORDER BY c.c_name) AS cust_names
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
    doc="Ordered string aggregation (LISTAGG / string_agg with ORDER BY): "
    "collect_list + array_sort + array_join makes the concatenation "
    "deterministic regardless of partitioning — collect_list alone is "
    "arrival-ordered and non-reproducible on a cluster. One hash-aggregate "
    "shuffle on the group key; per-group state is the member list, so at "
    "100 TB this is for bounded-cardinality groups (cap with slice() "
    "when unbounded).",
)
def q36_string_agg(spark: SparkSession, sf: str) -> DataFrame:
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.array_join(F.array_sort(F.collect_list("c_name")), ",").alias(
                "cust_names"
            ),
        )
    )


# --------------------------------------------------------------------------
# Q37 distribution window functions (ntile / percent_rank / cume_dist)
# --------------------------------------------------------------------------


@query(
    "q37_ntile",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
    doc="Distribution window functions — quartile bucketing (NTILE), relative "
    "rank, cumulative distribution per market segment, the standard "
    "feature-binning step. Ordering includes the unique key as tiebreak so "
    "NTILE assignment is deterministic across engines and partitionings. One "
    "shuffle on the partition key; skewed segments are where AQE skew "
    "handling or pre-salting would kick in at scale.",
)
def q37_ntile(spark: SparkSession, sf: str) -> DataFrame:
    c = _t(spark, sf, "customer")
    w = W.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


# --------------------------------------------------------------------------
# Q38 salted join (skew handling with identical semantics)
# --------------------------------------------------------------------------

_SALT = 8


@query(
    "q38_salted_join",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    doc=f"Skew-handling equi-join by salting: the (potentially skewed) fact side "
    f"gets a deterministic salt in [0,{_SALT}), the dim side is exploded "
    f"{_SALT}x, and the join key becomes (custkey, salt) — a hot key's rows "
    f"now spread over {_SALT} reducers instead of one. Result is provably "
    "identical to the plain join (the oracle IS the unsalted join). This is "
    "the manual fallback when AQE skew-join can't kick in (e.g. skew appears "
    "after a transform); at 100 TB prefer AQE first, salt the survivors.",
)
def q38_salted_join(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    salted_o = o.withColumn("_salt", F.pmod(F.hash("o_orderkey"), F.lit(_SALT)))
    exploded_c = c.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(_SALT)]))
    )
    return (
        salted_o.join(
            exploded_c,
            (salted_o.o_custkey == exploded_c.c_custkey)
            & (salted_o._salt == exploded_c._salt),
        )
        .select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")
    )


# --------------------------------------------------------------------------
# Q39 pure range (interval) join via binning
# --------------------------------------------------------------------------

_IVAL_HOURS = 36  # interval width; spans ≤ 2 day-bins


@query(
    "q39_range_bin_join",
    oracle=f"""
    SELECT o.o_orderkey, CAST(COUNT(*) AS BIGINT) AS n_shipped
    FROM (SELECT o_orderkey, o_orderdate AS start_ts,
                 o_orderdate + INTERVAL {_IVAL_HOURS} HOUR AS end_ts
          FROM orders WHERE o_orderkey % 100 = 0) o
    JOIN lineitem l
      ON l.l_shipdate >= o.start_ts AND l.l_shipdate < o.end_ts
    GROUP BY o.o_orderkey
    """,
    doc=f"PURE range join (no equi key): count lineitems shipped inside each "
    f"sampled order's {_IVAL_HOURS}h window. Without help Spark plans this as "
    "BroadcastNestedLoopJoin — O(|intervals|·|rows|), the canonical 100 TB "
    "bottleneck. Implemented instead by binning: each interval explodes to the "
    "day-bins it covers (≤2 here), the probe side computes its bin, and the "
    "join becomes an EQUI join on bin + residual range filter — shuffle "
    "partitioned by bin, nested loop eliminated. Same rewrite DuckDB/Trino "
    "apply internally (IEJoin); bin width should match interval width so each "
    "interval lands in O(1) bins.",
)
def q39_range_bin_join(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders").filter(F.col("o_orderkey") % 100 == 0)
    ivals = o.select(
        "o_orderkey",
        F.col("o_orderdate").alias("start_ts"),
        (F.col("o_orderdate") + F.expr(f"INTERVAL {_IVAL_HOURS} HOURS")).alias(
            "end_ts"
        ),
    )
    # explode each interval to the day-bins it overlaps (inclusive of the bin
    # containing end_ts - the residual filter trims the overreach)
    ivals = ivals.withColumn(
        "bin",
        F.explode(
            F.sequence(
                F.date_trunc("day", "start_ts"),
                F.date_trunc("day", F.col("end_ts") - F.expr("INTERVAL 1 SECOND")),
                F.expr("INTERVAL 1 DAY"),
            )
        ),
    )
    li = _t(spark, sf, "lineitem").select(
        "l_shipdate", F.date_trunc("day", "l_shipdate").alias("bin")
    )
    return (
        li.join(ivals, "bin")
        .filter(
            (F.col("l_shipdate") >= F.col("start_ts"))
            & (F.col("l_shipdate") < F.col("end_ts"))
        )
        .groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n_shipped"))
    )


# --------------------------------------------------------------------------
# Q40/Q41: classic TPC-H multi-join aggregate shapes (Q3, Q10)
# --------------------------------------------------------------------------


@query(
    "q40_tpch_q3",
    oracle=f"""
    SELECT l_orderkey,
           o_orderdate,
           o_orderpriority,
           {o_dsum('l_extendedprice * (1 - l_discount)', 6)} AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3 (shipping-priority) shape: selective dim filter → 3-way "
    "join → hash aggregate → top-10. Scale plan: the filtered customer side "
    "broadcasts (AQE decides from post-filter stats), lineitem⋈orders is the "
    "one real shuffle, aggregation combines map-side, and the top-10 is "
    "TakeOrdered (per-partition heads, never a global sort). Revenue is "
    "fixed-point-summed so the ORDER BY key is bit-identical across engines "
    "and the LIMIT cut is deterministic (orderkey tie-break).",
)
def q40_tpch_q3(spark: SparkSession, sf: str) -> DataFrame:
    c = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    rev = li.l_extendedprice * (1 - li.l_discount)
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(rev, 6).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@query(
    "q41_tpch_q10",
    oracle=f"""
    SELECT c_custkey,
           c_name,
           {o_dsum('l_extendedprice * (1 - l_discount)', 6)} AS revenue,
           c_acctbal,
           n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1997-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 (returned-item reporting) shape: time-sliced fact joins + "
    "tiny-dim broadcast (nation) + grouped revenue + top-20. The o_orderdate "
    "range predicate pushes to the parquet scan (partition pruning on a "
    "date-partitioned 100 TB layout); nation always broadcasts; the revenue "
    "aggregate is fixed-point for a deterministic cross-engine LIMIT cut.",
)
def q41_tpch_q10(spark: SparkSession, sf: str) -> DataFrame:
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    o = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = _t(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    rev = li.l_extendedprice * (1 - li.l_discount)
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(rev, 6).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q42: mergeable HLL sketches (re-aggregable distinct counts)
# --------------------------------------------------------------------------


@query(
    "q42_hll_sketch",
    oracle=None,  # Datasketches HLL internals have no ANSI-SQL twin; the exact
    # counterpart is pinned by q07_count_distinct and the unit test below
    doc="Mergeable distinct-count sketches (Datasketches HLL, Spark 4 "
    "hll_sketch_agg/hll_union_agg): per-priority customer sketches plus "
    "their UNION-merged global estimate in one pass. The point at 100 TB is "
    "re-aggregability — per-partition/per-day sketches are tiny (~KB), "
    "persistable, and merge associatively, so rollups over arbitrary "
    "dimensions never rescan the fact data, while exact count-distinct "
    "must re-shuffle the full key set every time. Rows-only driver check; "
    "estimate-vs-exact error is asserted in tests/test_llm_ops.py. The "
    "SAME use case with an exactly-replayable mechanism (and a hash-green "
    "oracle) is q42_kmv_rollup — this HLL variant stays as the "
    "engine-specific extra (Datasketches register layouts are not "
    "ANSI-replayable).",
)
def q42_hll_sketch(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    per_group = o.groupBy("o_orderpriority").agg(
        F.hll_sketch_agg("o_custkey").alias("sketch"),
        F.count_distinct("o_custkey").alias("exact_distinct"),
    ).localCheckpoint()  # both the per-group branch and the union-merge read
    # this |groups|-row result; without the checkpoint the orders scan +
    # sketch aggregate would execute once per union branch
    merged = per_group.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est"),
        F.lit("ALL").alias("o_orderpriority"),
    )
    return (
        per_group.select(
            "o_orderpriority",
            F.hll_sketch_estimate("sketch").alias("estimate"),
            F.col("exact_distinct").cast("long").alias("exact_distinct"),
        )
        .unionByName(
            merged.select(
                "o_orderpriority",
                F.col("est").alias("estimate"),
                F.lit(None).cast("long").alias("exact_distinct"),
            )
        )
    )


# --------------------------------------------------------------------------
# Q43: salted two-level aggregation (skewed-key aggregate)
# --------------------------------------------------------------------------

_AGG_SALT = 8


@query(
    "q43_salted_agg",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n,
           {o_dsum("value", 2)} AS total_value,
           MAX(value) AS max_value
    FROM events
    GROUP BY event_type
    """,
    doc=f"Skew-handling aggregation by two-level salting: first aggregate on "
    f"(key, salt) with salt = hash(event_id) mod {_AGG_SALT}, then combine the "
    f"{_AGG_SALT} partials per key — a key owning half the table now spreads "
    f"over {_AGG_SALT} reducers in the wide first stage, and the second stage "
    "moves only |keys|×salt partial rows. Every aggregate must be "
    "re-aggregable (count→sum, sum→sum, max→max — the same algebra partial "
    "aggregation uses). Provably identical to the plain aggregate (the "
    "oracle IS the unsalted GROUP BY). Spark's map-side partial aggregation "
    "makes this redundant for simple cases — it matters when the partial "
    "state itself is heavy (collect_list/distinct-sketches) or after AQE "
    "has no skew handle on an aggregate exchange.",
)
def q43_salted_agg(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events")
    salted = e.withColumn("_salt", F.pmod(F.hash("event_id"), F.lit(_AGG_SALT)))
    partial = salted.groupBy("event_type", "_salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(slong("value", 2)).alias("psum"),
        F.max("value").alias("pmax"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").alias("n"),
        (F.sum("psum").cast("double") / 100).alias("total_value"),
        F.max("pmax").alias("max_value"),
    )


# --------------------------------------------------------------------------
# Q44: unpivot (wide → long)
# --------------------------------------------------------------------------


@query(
    "q44_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, measure, val
    FROM (
      SELECT l_orderkey, l_linenumber,
             'quantity' AS measure, l_quantity AS val FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice
      FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
    )
    """,
    doc="Unpivot/melt (wide → long), the inverse of q34_pivot: three measure "
    "columns rotated into (measure, val) rows with stack() — a generator "
    "expression inside codegen producing k rows per input row executor-side. "
    "Map-only, no shuffle, scales with the scan; the UNION ALL oracle is the "
    "portable spelling but scans the table k times where stack() scans once.",
)
def q44_unpivot(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "stack(3, 'quantity', l_quantity, "
            "'extendedprice', l_extendedprice, "
            "'discount', l_discount) AS (measure, val)"
        ),
    )


# --------------------------------------------------------------------------
# Q45/Q46: event analytics — funnel and cohort retention
# --------------------------------------------------------------------------


@query(
    "q45_funnel",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           (t_view IS NOT NULL) AS did_view,
           COALESCE(t_view IS NOT NULL AND t_click > t_view, FALSE)
             AS did_click_after_view,
           COALESCE(t_view IS NOT NULL AND t_click > t_view
                    AND t_purchase > t_click, FALSE)
             AS did_purchase_after_click,
           CASE WHEN t_view IS NOT NULL AND t_click > t_view
                     AND t_purchase > t_click THEN 3
                WHEN t_view IS NOT NULL AND t_click > t_view THEN 2
                WHEN t_view IS NOT NULL THEN 1
                ELSE 0 END AS funnel_stage
    FROM firsts
    """,
    doc="Ordered funnel analysis (view → click → purchase): per user, the "
    "first timestamp of each stage via conditional MIN aggregation, then "
    "stage predicates require strict temporal order. ONE hash aggregate over "
    "the events — conditional aggregates combine map-side, so the shuffle "
    "carries 3 timestamps per (user, partition) regardless of event volume; "
    "the window/self-join funnel formulations shuffle the event stream "
    "itself. NULL comparisons resolve to false in both engines (t_click > "
    "t_view is NULL ⇒ filtered the same way).",
)
def q45_funnel(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events")

    def first_ts(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    firsts = e.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    did_view = F.col("t_view").isNotNull()
    did_click = did_view & (F.col("t_click") > F.col("t_view"))
    did_purchase = did_click & (F.col("t_purchase") > F.col("t_click"))
    return firsts.select(
        "user_id",
        did_view.alias("did_view"),
        F.coalesce(did_click, F.lit(False)).alias("did_click_after_view"),
        F.coalesce(did_purchase, F.lit(False)).alias("did_purchase_after_click"),
        F.when(did_purchase, 3)
        .when(did_click, 2)
        .when(did_view, 1)
        .otherwise(0)
        .alias("funnel_stage"),
    )


@query(
    "q46_retention",
    oracle="""
    WITH base AS (
      SELECT user_id, MIN(DATE_TRUNC('week', ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (SELECT DISTINCT user_id, DATE_TRUNC('week', ts) AS week
                 FROM events)
    SELECT b.cohort_week,
           CAST(DATEDIFF('week', b.cohort_week, a.week) AS BIGINT) AS week_offset,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
    FROM base b JOIN activity a USING (user_id)
    GROUP BY b.cohort_week, DATEDIFF('week', b.cohort_week, a.week)
    """,
    doc="Cohort retention: users grouped by first-activity week, counted "
    "active per week offset — the standard engagement/retention rollup. Two "
    "hash aggregates (cohort assignment, then the (cohort, offset) distinct "
    "count) plus one equi-join on user_id; all shuffles carry per-user or "
    "per-(cohort, week) rows, never raw events. DATE_TRUNC('week') is "
    "ISO-Monday in both engines, and the offset arithmetic is exact integer "
    "week subtraction on the truncated dates.",
)
def q46_retention(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events").select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("week")
    )
    base = e.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    activity = e.distinct()
    offset = (
        F.datediff(F.col("week"), F.col("cohort_week")) / 7
    ).cast("long")
    return (
        base.join(activity, "user_id")
        .groupBy("cohort_week", offset.alias("week_offset"))
        .agg(F.count_distinct("user_id").cast("long").alias("n_active"))
    )


# --------------------------------------------------------------------------
# Q47: z-score anomaly detection (deterministic second moments)
# --------------------------------------------------------------------------


@query(
    "q47_zscore_anomaly",
    oracle="""
    WITH x AS (SELECT event_id, event_type,
                      CAST(ROUND(value * 100) AS BIGINT) AS xi
               FROM events),
    m AS (SELECT event_type, COUNT(*) AS n,
                 SUM(xi) AS s1, SUM(xi * xi) AS s2
          FROM x GROUP BY event_type)
    SELECT x.event_id, x.event_type,
           CASE WHEN m.n > 1 AND m.n * m.s2 - m.s1 * m.s1 > 0
                THEN ROUND(CAST(x.xi * m.n - m.s1 AS DOUBLE)
                           / SQRT(CAST(m.n * m.s2 - m.s1 * m.s1 AS DOUBLE)
                                  / (m.n - 1.0) * m.n), 6)
           END AS zscore,
           COALESCE(CASE WHEN m.n > 1 AND m.n * m.s2 - m.s1 * m.s1 > 0
                         THEN ABS(CAST(x.xi * m.n - m.s1 AS DOUBLE)
                                  / SQRT(CAST(m.n * m.s2 - m.s1 * m.s1 AS DOUBLE)
                                         / (m.n - 1.0) * m.n)) > 3.0
                    END, FALSE) AS is_anomaly
    FROM x JOIN m USING (event_type)
    """,
    doc="Per-group z-score anomaly flagging with DETERMINISTIC variance: "
    "naive STDDEV over doubles is partial-sum-order-dependent and never "
    "hash-matches across engines; here both moments are exact int64 sums of "
    "the fixed-point values (Σx, Σx²), variance comes from the closed form "
    "n·Σx²−(Σx)² with one final double conversion, so every engine performs "
    "identical IEEE steps. Singleton groups (n=1) and zero-variance groups "
    "guard to NULL zscore / FALSE anomaly on BOTH sides — under ANSI mode "
    "(Spark 4 default) an unguarded divide raises DIVIDE_BY_ZERO instead of "
    "returning NULL like the oracle. Plan: one map-side-combining aggregate "
    "for the per-type moments (|types| rows) broadcast back onto the events "
    "— no second scan shuffle. Int64 capacity bounds Σx² < 9.2e18: at 100 TB "
    "switch the moment sums to DECIMAL(38) or per-partition partial moments "
    "(the algebra is identical).",
)
def q47_zscore_anomaly(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events")
    x = e.select("event_id", "event_type", slong("value", 2).alias("xi"))
    m = x.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xi").alias("s1"),
        F.sum(F.col("xi") * F.col("xi")).alias("s2"),
    )
    j = x.join(F.broadcast(m), "event_type")
    num = (F.col("xi") * F.col("n") - F.col("s1")).cast("double")
    var_num = F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")
    denom = F.sqrt(
        var_num.cast("double") / (F.col("n") - F.lit(1.0)) * F.col("n")
    )
    ok = (F.col("n") > 1) & (var_num > 0)
    z = F.when(ok, num / denom)
    return j.select(
        "event_id",
        "event_type",
        F.round(z, 6).alias("zscore"),
        F.coalesce(F.when(ok, F.abs(num / denom) > 3.0), F.lit(False)).alias(
            "is_anomaly"
        ),
    )


# --------------------------------------------------------------------------
# Q48: median-absolute-deviation robust outliers
# --------------------------------------------------------------------------

_MAD_K = 1.4826  # normal-consistency constant
_MAD_THRESH = 3.0


@query(
    "q48_mad_outliers",
    oracle=f"""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    mad AS (
      SELECT e.event_type,
             ANY_VALUE(m.med) AS med,
             quantile_cont(ABS(e.value - m.med), 0.5) AS mad
      FROM events e JOIN med m USING (event_type)
      GROUP BY e.event_type
    )
    SELECT e.event_id, e.event_type,
           m.med, m.mad,
           COALESCE(ABS(e.value - m.med) > {_MAD_THRESH} * {_MAD_K} * m.mad,
                    FALSE) AS is_outlier
    FROM events e JOIN mad m USING (event_type)
    """,
    doc="Robust outlier detection via median absolute deviation — the "
    "companion to q47's z-scores when the data has heavy tails (median/MAD "
    "don't move when the outliers themselves do). Exact interpolated medians "
    "are a deterministic function of the value multiset (order-independent, "
    "unlike any sum of doubles), so the flags hash-match across engines with "
    "no fixed-point machinery. Plan: two grouped exact percentiles (second "
    "one over |x − median| via a broadcast join of the |groups|-row medians) "
    "+ one broadcast join back onto events. Exact percentile buffers each "
    "group; at 100 TB swap percentile_approx per the q33 note.",
)
def q48_mad_outliers(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events")
    med = e.groupBy("event_type").agg(F.expr("percentile(value, 0.5)").alias("med"))
    mad = (
        e.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.first("med").alias("med"),
            F.expr("percentile(abs(value - med), 0.5)").alias("mad"),
        )
    )
    j = e.join(F.broadcast(mad), "event_type")
    flag = F.abs(F.col("value") - F.col("med")) > _MAD_THRESH * _MAD_K * F.col("mad")
    return j.select(
        "event_id",
        "event_type",
        "med",
        "mad",
        F.coalesce(flag, F.lit(False)).alias("is_outlier"),
    )


# --------------------------------------------------------------------------
# Q49 native session_window in batch mode (S12's primitive, batch-applied)
# --------------------------------------------------------------------------


@query(
    "q49_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id, MIN(ts) AS first_ts, MAX(ts) AS last_ts,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sessions GROUP BY user_id, sid
    """,
    doc="Spark's NATIVE session_window aggregation applied in batch — the same "
    "primitive Structured Streaming uses for streaming sessionization (S12), "
    "here pinned against the lag+cumsum SQL formulation (q30's shape). Gap "
    "semantics: per-event windows [ts, ts+30m) merge when they overlap, so a "
    "gap of exactly 30 minutes starts a new session (oracle uses >=). ONE "
    "shuffle on user_id; Spark merges sessions inside the aggregate operator "
    "(no per-event window state), which is what makes the same code viable "
    "over an unbounded stream with a watermark.",
)
def q49_session_window(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "first_ts", "last_ts", "n_events")
    )


# --------------------------------------------------------------------------
# Q50 partial-aggregate merge (incremental rollup without fact rescans)
# --------------------------------------------------------------------------


@query(
    "q50_reaggregation",
    oracle="""
    WITH partials AS (
      SELECT EXTRACT(year FROM o_orderdate) AS y,
             EXTRACT(month FROM o_orderdate) AS m,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s,
             COUNT(*) AS c
      FROM orders GROUP BY 1, 2
    )
    SELECT CAST(y AS BIGINT) AS y,
           SUM(s) AS total_price,
           CAST(SUM(c) AS BIGINT) AS n_orders,
           CAST(COUNT(*) AS BIGINT) AS n_partials
    FROM partials GROUP BY y
    """,
    doc="Partial-aggregate MERGE: yearly totals derived from monthly partial "
    "aggregates alone — the incremental-rollup / materialized-view "
    "maintenance contract (store partials once; every coarser rollup reads "
    "|partials| rows, never the fact table again). The merge-ability "
    "requirement is that accumulators are algebraic AND order-insensitive: "
    "DECIMAL sums + counts here are bit-exact under any merge order, the "
    "same property q42's HLL sketches provide for distinct counts. At "
    "100 TB the fact scan happens once per period, and re-aggregation cost "
    "is O(periods), not O(orders).",
)
def q50_reaggregation(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    partials = o.groupBy(
        F.year("o_orderdate").alias("y"), F.month("o_orderdate").alias("m")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s"),
        F.count(F.lit(1)).alias("c"),
    )
    return partials.groupBy("y").agg(
        F.sum("s").alias("total_price"),
        F.sum("c").cast("long").alias("n_orders"),
        F.count(F.lit(1)).cast("long").alias("n_partials"),
    ).select(F.col("y").cast("long").alias("y"), "total_price", "n_orders", "n_partials")


# --------------------------------------------------------------------------
# Q51: time-series gap fill + LOCF (densify the daily grid, carry last value)
# --------------------------------------------------------------------------


@query(
    "q51_gap_fill",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS day_cents
      FROM events GROUP BY 1, 2
    ),
    span AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1),
    spine AS (
      SELECT user_id,
             CAST(UNNEST(GENERATE_SERIES(CAST(d0 AS TIMESTAMP),
                                         CAST(d1 AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS DATE) AS day
      FROM span
    ),
    j AS (SELECT s.user_id, s.day, d.day_cents
          FROM spine s LEFT JOIN daily d
            ON s.user_id = d.user_id AND s.day = d.day)
    SELECT user_id, day,
           CAST(day_cents AS DOUBLE) / 100.0 AS observed,
           CAST(LAST_VALUE(day_cents IGNORE NULLS) OVER (
                  PARTITION BY user_id ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / 100.0 AS filled,
           day_cents IS NULL AS is_gap
    FROM j
    """,
    doc="Time-series densify + LOCF: per-user daily totals are laid onto a "
    "complete day grid (sequence-explode of each user's [min,max] span — "
    "map-only, no driver involvement) and gaps carry the last observed "
    "value forward via last(ignorenulls) over one per-user window. The "
    "standard feature-engineering step before any fixed-step model. Sums "
    "are exact integer cents so the fill values hash-match cross-engine. "
    "Shuffle profile: one partial+final agg on (user, day), one equi-join "
    "and one window BOTH keyed by user_id — AQE reuses the partitioning; "
    "the exploded spine is bounded by users x span-days, rows of 20 bytes. "
    "At 100 TB the grid explode happens AFTER aggregation, so the big "
    "fact table is touched exactly once.",
)
def q51_gap_fill(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events").select(
        "user_id",
        F.to_date("ts").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    daily = e.groupBy("user_id", "day").agg(F.sum("cents").alias("day_cents"))
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = span.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    j = spine.join(daily, ["user_id", "day"], "left")
    w = (
        W.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return j.select(
        "user_id",
        "day",
        (F.col("day_cents").cast("double") / F.lit(100.0)).alias("observed"),
        (
            F.last("day_cents", ignorenulls=True).over(w).cast("double")
            / F.lit(100.0)
        ).alias("filled"),
        F.col("day_cents").isNull().alias("is_gap"),
    )


# --------------------------------------------------------------------------
# Q52: Markov transition matrix over event sequences
# --------------------------------------------------------------------------


@query(
    "q52_markov_transitions",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    ),
    t AS (SELECT prev, event_type AS next, COUNT(*) AS n
          FROM s WHERE prev IS NOT NULL GROUP BY 1, 2)
    SELECT prev, next, CAST(n AS BIGINT) AS n,
           ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY prev), 6) AS p
    FROM t
    """,
    doc="First-order Markov transition matrix over per-user event sequences: "
    "lag() pairs consecutive event types (ties in ts broken by event_id so "
    "the sequence is total-ordered and engine-independent), one hash "
    "aggregate counts each (prev → next) edge, and row-normalizing per "
    "prev-state gives transition probabilities — the standard "
    "behavioral-model / next-event-prediction input. Transition "
    "probabilities are single IEEE divisions of exact integer counts. "
    "Shuffle profile: one window keyed by user_id over the events (the "
    "only pass over the big table), then aggregation/normalization over "
    "the |event_types|² matrix — constant-size downstream of the scan.",
)
def q52_markov_transitions(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events")
    seq = W.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "event_type", F.lag("event_type").over(seq).alias("prev")
    ).filter(F.col("prev").isNotNull())
    t = s.groupBy("prev", F.col("event_type").alias("next")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return t.select(
        "prev",
        "next",
        F.col("n").cast("long").alias("n"),
        F.round(
            F.col("n") * F.lit(1.0) / F.sum("n").over(W.partitionBy("prev")), 6
        ).alias("p"),
    )


# --------------------------------------------------------------------------
# Q53: OHLC resample (time-series downsampling to bars)
# --------------------------------------------------------------------------


@query(
    "q53_ohlc_resample",
    oracle="""
    WITH pts AS (
      SELECT event_type,
             DATE_TRUNC('hour', ts) AS bar,
             CAST(ROUND(value * 100) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (PARTITION BY event_type, DATE_TRUNC('hour', ts)
                                ORDER BY ts, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type, DATE_TRUNC('hour', ts)) AS cnt
      FROM events
    )
    SELECT event_type, bar,
           CAST(MAX(CASE WHEN rn = 1 THEN cents END) AS DOUBLE) / 100.0 AS open,
           CAST(MAX(cents) AS DOUBLE) / 100.0 AS high,
           CAST(MIN(cents) AS DOUBLE) / 100.0 AS low,
           CAST(MAX(CASE WHEN rn = cnt THEN cents END) AS DOUBLE) / 100.0 AS close,
           COUNT(*) AS n_ticks,
           CAST(SUM(cents) AS DOUBLE) / 100.0 AS volume
    FROM pts
    GROUP BY event_type, bar
    """,
    doc="OHLC downsampling of the events stream to hourly bars — the classic "
    "metrics/financial resample the reference cannot express outside its "
    "delegated SQL. First/last are pinned by one row_number window totally "
    "ordered on (ts, event_id); open/close come out of the same hash "
    "aggregate as high/low/volume via conditional MAX, so the whole query "
    "is ONE shuffle on (event_type, hour) serving both the window sort and "
    "the aggregation (Spark reuses the exchange). Values ride as exact "
    "integer cents until the final division. At 100 TB the bar key is "
    "fine-grained (type x hour), so the shuffle is well-spread; no global "
    "sort anywhere.",
)
def q53_ohlc_resample(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events")
    bar = F.date_trunc("hour", F.col("ts"))
    w = W.partitionBy("event_type", bar.alias("bar")).orderBy("ts", "event_id")
    pts = e.select(
        "event_type",
        bar.alias("bar"),
        slong("value", 2).alias("cents"),
        # rn totally orders the bar; min_by/max_by on it give open/close in
        # the same hash aggregate as high/low — no second window pass
        F.row_number().over(w).alias("rn"),
    )
    g = pts.groupBy("event_type", "bar").agg(
        F.min_by("cents", "rn").alias("open_c"),
        F.max("cents").alias("high_c"),
        F.min("cents").alias("low_c"),
        F.max_by("cents", "rn").alias("close_c"),
        F.count(F.lit(1)).alias("n_ticks"),
        F.sum("cents").alias("vol_c"),
    )
    cents_d = lambda c: (F.col(c).cast("double") / F.lit(100.0))  # noqa: E731
    return g.select(
        "event_type",
        "bar",
        cents_d("open_c").alias("open"),
        cents_d("high_c").alias("high"),
        cents_d("low_c").alias("low"),
        cents_d("close_c").alias("close"),
        F.col("n_ticks").cast("long").alias("n_ticks"),
        cents_d("vol_c").alias("volume"),
    )


# --------------------------------------------------------------------------
# Q54: EWMA (sequential exponential smoothing, exact fold parity)
# --------------------------------------------------------------------------

_EWMA_ALPHA = 0.3


@query(
    "q54_ewma",
    oracle=f"""
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS x,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY DATE_TRUNC('day', ts)) AS rn
      FROM events
      GROUP BY event_type, DATE_TRUNC('day', ts)
    ),
    r AS (
      SELECT event_type, rn, day, x, x AS ewma FROM daily WHERE rn = 1
      UNION ALL
      SELECT d.event_type, d.rn, d.day, d.x,
             {_EWMA_ALPHA} * d.x + (1 - {_EWMA_ALPHA}) * r.ewma
      FROM daily d JOIN r ON d.event_type = r.event_type AND d.rn = r.rn + 1
    )
    SELECT event_type, day, x, ROUND(ewma, 6) AS ewma FROM r
    """,
    doc="Exponentially weighted moving average over per-type daily totals — "
    "inherently SEQUENTIAL state (each output depends on the previous), the "
    "shape Spark's parallel windows cannot express directly. Spark-first "
    "answer: aggregate per group to an ordered array (sort_array of day-keyed "
    "structs — deterministic under any partitioning), then run the "
    "recurrence as an F.aggregate higher-order fold building the running "
    "array JVM-side, and posexplode back to rows. The fold order is the "
    "sorted-day order in BOTH engines (oracle = recursive CTE walking rn), "
    "so every IEEE operation matches bit-for-bit. Scale: state per group is "
    "days-per-type (bounded, ~hundreds), groups spread across executors; "
    "the big table is touched once by the daily pre-aggregation.",
)
def q54_ewma(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg((F.sum(slong("value", 2)).cast("double") / F.lit(100.0)).alias("x"))
    a = F.lit(_EWMA_ALPHA)
    series = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "x"))).alias("pts")
    )
    folded = series.select(
        "event_type",
        "pts",
        F.aggregate(
            F.col("pts"),
            F.expr("CAST(array() AS ARRAY<DOUBLE>)"),
            lambda acc, p: F.concat(
                acc,
                F.array(
                    F.when(F.size(acc) == 0, p["x"]).otherwise(
                        a * p["x"] + (F.lit(1.0) - a) * F.element_at(acc, -1)
                    )
                ),
            ),
        ).alias("ew"),
    )
    z = folded.select(
        "event_type", F.posexplode(F.arrays_zip("pts", "ew")).alias("i", "pe")
    )
    return z.select(
        "event_type",
        F.col("pe.pts.day").alias("day"),
        F.col("pe.pts.x").alias("x"),
        F.round(F.col("pe.ew"), 6).alias("ewma"),
    )


# --------------------------------------------------------------------------
# Q55: mode + discrete percentile (deterministic order statistics)
# --------------------------------------------------------------------------


@query(
    "q55_mode_percentile_disc",
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    counts AS (
      SELECT event_type, cents, COUNT(*) AS n,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY COUNT(*) DESC, cents) AS mode_rn
      FROM c GROUP BY event_type, cents
    ),
    ordered AS (
      SELECT event_type, cents,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents, 1) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS cnt
      FROM c
    )
    SELECT m.event_type,
           CAST(m.cents AS DOUBLE) / 100.0 AS mode_value,
           CAST(m.n AS BIGINT) AS mode_count,
           CAST(p.cents AS DOUBLE) / 100.0 AS p50_disc,
           p.cnt AS n
    FROM (SELECT * FROM counts WHERE mode_rn = 1) m
    JOIN (SELECT * FROM ordered
          WHERE rn = CAST(CEIL(cnt * 0.5) AS BIGINT)) p
      ON m.event_type = p.event_type
    """,
    doc="Deterministic order statistics per group: MODE with a pinned "
    "tie-break (most frequent, ties to the smallest value — engines' native "
    "mode() leaves ties unspecified, so both sides compute it explicitly) "
    "and DISCRETE median (the actual element at ceil(n/2), never an "
    "interpolated midpoint — percentile_disc semantics). Two shuffles over "
    "SMALL intermediates: the value-frequency table (|distinct cents| per "
    "type) and the per-type rank pass; the raw scan feeds one hash "
    "aggregate with map-side combine. The final join is two tiny per-type "
    "rows — broadcast.",
)
def q55_mode_percentile_disc(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events")
    c = e.select("event_type", slong("value", 2).alias("cents"))
    counts = c.groupBy("event_type", "cents").agg(F.count(F.lit(1)).alias("n"))
    mode = (
        counts.withColumn(
            "mode_rn",
            F.row_number().over(
                W.partitionBy("event_type").orderBy(F.desc("n"), F.asc("cents"))
            ),
        )
        .filter(F.col("mode_rn") == 1)
        .select(
            "event_type",
            (F.col("cents").cast("double") / F.lit(100.0)).alias("mode_value"),
            F.col("n").cast("long").alias("mode_count"),
        )
    )
    ordered = c.select(
        "event_type",
        "cents",
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("cents"))
        .alias("rn"),
        F.count(F.lit(1))
        .over(
            W.partitionBy("event_type").rowsBetween(
                W.unboundedPreceding, W.unboundedFollowing
            )
        )
        .alias("cnt"),
    )
    p50 = ordered.filter(
        F.col("rn") == F.ceil(F.col("cnt") * F.lit(0.5)).cast("long")
    ).select(
        "event_type",
        (F.col("cents").cast("double") / F.lit(100.0)).alias("p50_disc"),
        F.col("cnt").cast("long").alias("n"),
    )
    return mode.join(F.broadcast(p50), "event_type").select(
        "event_type", "mode_value", "mode_count", "p50_disc", "n"
    )


# --------------------------------------------------------------------------
# Q56: correlation + linear regression from exact integer moments
# --------------------------------------------------------------------------


@query(
    "q56_corr_regress",
    oracle="""
    WITH m AS (
      SELECT l_returnflag, l_linestatus,
             CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(CAST(CAST(ROUND(l_quantity) AS BIGINT) AS HUGEINT)) AS sx,
             SUM(CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS HUGEINT)) AS sy,
             SUM(CAST(CAST(ROUND(l_quantity) AS BIGINT)
                      * CAST(ROUND(l_quantity) AS BIGINT) AS HUGEINT)) AS sxx,
             SUM(CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                      * CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS HUGEINT)) AS syy,
             SUM(CAST(CAST(ROUND(l_quantity) AS BIGINT)
                      * CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS HUGEINT)) AS sxy
      FROM lineitem
      GROUP BY l_returnflag, l_linestatus
    )
    SELECT l_returnflag, l_linestatus, CAST(n AS BIGINT) AS n,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                    * SQRT(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS corr,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0, 6) AS slope,
           ROUND((CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
                  - CAST(n * sxy - sx * sy AS DOUBLE)
                    / CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0, 6) AS intercept
    FROM m
    """,
    doc="Pearson correlation + OLS slope/intercept of extendedprice on "
    "quantity per (returnflag, linestatus) — native corr()/regr_slope() "
    "accumulate doubles in partition order, so two engines (or two RUNS on "
    "different partitionings) disagree in the low bits. Here every moment "
    "(n, Sx, Sy, Sxx, Syy, Sxy) is an EXACT integer sum (quantity units x "
    "price cents, decimal(38,0) accumulators — hugeint in the oracle; "
    "int64 would overflow the squared-cents sum beyond ~sf10), and the "
    "closed-form combination runs in an identical IEEE order both sides. "
    "One map-side-combining hash aggregate over the scan; the moment table "
    "is |groups| rows. This is also the 100 TB pattern: exact moments are "
    "mergeable partials, so rollups to coarser groupings never rescan the "
    "fact table.",
)
def q56_corr_regress(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem")
    xi = F.round(F.col("l_quantity")).cast("long")
    yi = F.round(F.col("l_extendedprice") * 100).cast("long")
    dec = "decimal(38,0)"
    m = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(xi.cast(dec)).alias("sx"),
        F.sum(yi.cast(dec)).alias("sy"),
        F.sum((xi * xi).cast(dec)).alias("sxx"),
        F.sum((yi * yi).cast(dec)).alias("syy"),
        F.sum((xi * yi).cast(dec)).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    varx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vary = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    slope = num / varx
    return m.select(
        "l_returnflag",
        "l_linestatus",
        F.col("n").cast("long").alias("n"),
        F.round(num / (F.sqrt(varx) * F.sqrt(vary)), 6).alias("corr"),
        F.round(slope / F.lit(100.0), 6).alias("slope"),
        F.round(
            (
                F.col("sy").cast("double") / F.col("n").cast("double")
                - slope * F.col("sx").cast("double") / F.col("n").cast("double")
            )
            / F.lit(100.0),
            6,
        ).alias("intercept"),
    )


# --------------------------------------------------------------------------
# Q57: distinct count over a sliding window frame
# --------------------------------------------------------------------------


@query(
    "q57_window_distinct",
    oracle="""
    SELECT event_id, event_type,
           COUNT(DISTINCT user_id) OVER (
             PARTITION BY event_type ORDER BY ts, event_id
             ROWS BETWEEN 99 PRECEDING AND CURRENT ROW) AS uniq_users_100
    FROM events
    """,
    doc="Distinct-count over a sliding 100-row frame per event type — SQL "
    "engines allow COUNT(DISTINCT) OVER, Spark does not; the Spark-first "
    "bridge is size(collect_set()) over the same frame, which keeps the "
    "whole computation in the JVM window exec with bounded per-frame state "
    "(<=100 ids). Frame order is total (ts, event_id). One shuffle on "
    "event_type; at 100 TB the partition key should gain a coarse time "
    "bucket to bound per-task window state — same pattern, finer key.",
)
def q57_window_distinct(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events")
    w = (
        W.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-99, 0)
    )
    return e.select(
        "event_id",
        "event_type",
        F.size(F.collect_set("user_id").over(w)).cast("long").alias(
            "uniq_users_100"
        ),
    )


# --------------------------------------------------------------------------
# Q58: max interval overlap (sweep-line concurrency)
# --------------------------------------------------------------------------


@query(
    "q58_interval_overlap",
    oracle="""
    WITH iv AS (
      SELECT event_type, ts AS s,
             ts + INTERVAL 1 MINUTE * (CAST(ROUND(value) AS BIGINT) % 60 + 1) AS e
      FROM events
    ),
    pts AS (
      SELECT event_type, s AS pt, 1 AS delta FROM iv
      UNION ALL
      SELECT event_type, e AS pt, -1 AS delta FROM iv
    ),
    run AS (
      SELECT event_type,
             SUM(delta) OVER (PARTITION BY event_type ORDER BY pt, delta
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                             ) AS concurrent
      FROM pts
    )
    SELECT event_type, CAST(MAX(concurrent) AS BIGINT) AS max_concurrent,
           CAST(COUNT(*) / 2 AS BIGINT) AS n_intervals
    FROM run GROUP BY event_type
    """,
    doc="Maximum concurrent overlap of half-open intervals per event type — "
    "the sweep-line: each interval contributes a +1 at start and a -1 at "
    "end, a running sum over (time, delta) order is the live concurrency, "
    "and its max is the answer. Half-open semantics pinned by sorting -1 "
    "before +1 at equal timestamps; within equal (pt, delta) runs the "
    "prefix max is permutation-invariant (same-sign runs peak at their "
    "boundary), so the result is deterministic without a unique sort key. "
    "Two rows per event, one shuffle on event_type, constant output. The "
    "generic form of capacity/occupancy questions engines usually answer "
    "with an O(n^2) self-join — this is O(n log n) and fully distributed.",
)
def q58_interval_overlap(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events")
    dur_min = (F.round(F.col("value")).cast("long") % 60 + 1).cast("int")
    iv = e.select(
        "event_type",
        F.col("ts").alias("s"),
        (F.col("ts") + dur_min * F.expr("INTERVAL 1 MINUTE")).alias("e"),
    )
    pts = iv.select(
        "event_type", F.col("s").alias("pt"), F.lit(1).alias("delta")
    ).unionAll(
        iv.select("event_type", F.col("e").alias("pt"), F.lit(-1).alias("delta"))
    )
    run = pts.select(
        "event_type",
        F.sum("delta")
        .over(
            W.partitionBy("event_type")
            .orderBy("pt", "delta")
            .rowsBetween(W.unboundedPreceding, 0)
        )
        .alias("concurrent"),
    )
    return run.groupBy("event_type").agg(
        F.max("concurrent").cast("long").alias("max_concurrent"),
        (F.count(F.lit(1)) / 2).cast("long").alias("n_intervals"),
    )


# --------------------------------------------------------------------------
# Q59: time-interval RANGE window frame
# --------------------------------------------------------------------------


@query(
    "q59_time_range_frame",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cents_1h,
           CAST(COUNT(*) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_1h
    FROM events
    """,
    doc="Event-TIME range frame (q18 is a row-count frame — a different "
    "surface): per user, the exact-cents sum and count over the trailing "
    "one hour of event time, however many rows that is. Spark expresses "
    "time ranges as rangeBetween over epoch MICROSECONDS (-3.6e9, 0], identical "
    "inclusive bounds to SQL RANGE INTERVAL. Peer rows (equal ts) share a "
    "frame in BOTH engines, so no unique tie-break is needed — range "
    "frames are peer-deterministic by definition. One shuffle on user_id; "
    "frame state is the trailing hour only, so task memory is bounded by "
    "per-user event RATE, not history length — the property that keeps "
    "this viable on years of data.",
)
def q59_time_range_frame(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events")
    # µs epoch, not unix_timestamp: events carry microsecond precision and
    # the SQL RANGE INTERVAL bound is µs-granular — second-truncated ordering
    # would pull in events up to 1s past the hour boundary
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3600 * 1_000_000, 0)
    )
    cents = slong("value", 2)
    return e.select(
        "event_id",
        "user_id",
        F.sum(cents).over(w).cast("long").alias("cents_1h"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_1h"),
    )


# --------------------------------------------------------------------------
# Q60: recursive hierarchy (transitive closure without recursive CTEs)
# --------------------------------------------------------------------------


@query(
    "q60_recursive_hierarchy",
    oracle="""
    WITH RECURSIVE par AS (
      SELECT a.o_orderkey AS k,
             CASE WHEN b.o_orderkey IS NULL OR a.o_orderkey // 8 = a.o_orderkey
                  THEN -1 ELSE a.o_orderkey // 8 END AS anc
      FROM orders a LEFT JOIN orders b ON b.o_orderkey = a.o_orderkey // 8
    ),
    walk AS (
      SELECT k AS node, anc AS cur, CAST(1 AS BIGINT) AS depth FROM par
      UNION ALL
      SELECT w.node, p.anc, w.depth + 1
      FROM walk w JOIN par p ON p.k = w.cur
      WHERE w.cur >= 0
    )
    SELECT node AS o_orderkey, CAST(-1 AS BIGINT) AS root, MAX(depth) AS depth
    FROM walk GROUP BY node
    """,
    doc="Recursive-query surface: every order walks its synthetic ancestry "
    "chain (parent = key div 8) to the root, returning per-node root and "
    "depth — the org-chart / BOM-explosion shape SQL writes as WITH "
    "RECURSIVE and Spark has no native form of. Spark-first bridge: "
    "POINTER DOUBLING — each iteration joins the frontier's current "
    "ancestor pointer to that ancestor's own pointer, so after k rounds "
    "every pointer has jumped 2^k levels; a depth-D hierarchy finishes in "
    "ceil(log2 D) self-joins instead of D chained joins (here: 3 rounds "
    "for depth ≤ 8 vs 8 sequential steps — at a 100 TB graph the round "
    "count, i.e. the number of SHUFFLES, is the cost that matters). "
    "Termination is a driver-side empty-frontier check on an exact "
    "aggregate, and all arithmetic is integer-exact.",
)
def q60_recursive_hierarchy(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders").select("o_orderkey")
    # parent-edge TABLE (not a function): parent = key div 8 when that key
    # exists in orders, else the root sentinel 0 — so every hop is a genuine
    # table lookup, the shape recursive CTEs exist for
    cand = o.select(
        F.col("o_orderkey").alias("k"),
        # exact integer div (matches the oracle's `// 8` at ALL magnitudes;
        # `/ 8` would round through doubles past 2^53)
        F.call_function("div", F.col("o_orderkey"), F.lit(8)).alias("cand"),
    )
    par = (
        cand.join(
            o.select(F.col("o_orderkey").alias("cand_k")),
            cand["cand"] == F.col("cand_k"),
            "left",
        )
        .select(
            "k",
            # -1 sentinel (0 is a real key here) + self-loop exclusion: a
            # root-sentinel that collides with a live key gives its pointer a
            # phantom self-edge, which pointer composition then COUNTS
            F.when(
                F.col("cand_k").isNull() | (F.col("cand") == F.col("k")),
                F.lit(-1),
            )
            .otherwise(F.col("cand"))
            .cast("long")
            .alias("anc"),
        )
    )
    # state: (node, cur ancestor pointer, depth walked so far)
    state = par.select(
        F.col("k").alias("node"),
        F.col("anc").alias("cur"),
        F.lit(1).cast("long").alias("depth"),
    )
    # Round count is DERIVED, not discovered: parent = key div 8 means the
    # longest possible chain from max_key is floor(log8) + 1 levels, and
    # pointer reach doubles per round — so ceil(log2(depth_bound)) rounds
    # suffice. One tiny max() pre-scan replaces a per-round frontier action
    # (each of which would re-materialize the whole iteration state).
    import math
    import os as _os

    # metadata-only: the max key comes from the parquet footers' column
    # statistics (a few KB read), not a table scan — the same stats the
    # min/max file-skipping machinery relies on
    from librarian_spark.maintenance import footer_minmax

    try:
        stats = footer_minmax(_os.path.join(sf, "orders.parquet"), ["o_orderkey"])
        max_key = stats.get("o_orderkey", (0, 0))[1]
    except Exception:  # noqa: BLE001 — stats unavailable: fall back to a scan
        max_key = 0
    if not max_key:
        max_key = o.agg(F.max("o_orderkey")).collect()[0][0] or 1
    depth_bound = int(math.log(max(2, max_key), 8)) + 2
    rounds = max(1, math.ceil(math.log2(depth_bound)))
    # pointer table doubles its reach each round: p maps key -> (ancestor,
    # levels). Round k composes p with itself, so p covers 2^k levels.
    p = par.select("k", "anc", F.lit(1).cast("long").alias("lvl"))
    for _ in range(rounds):
        nxt = (
            state.filter(F.col("cur") >= 0)
            .join(p, state["cur"] == p["k"], "inner")
            .select(
                "node",
                F.col("anc").alias("cur"),
                (F.col("depth") + F.col("lvl")).alias("depth"),
            )
        )
        done = state.filter(F.col("cur") < 0)
        state = done.unionByName(nxt)
        # pointer doubling: compose p with itself as well
        p2 = (
            p.alias("a")
            .join(p.alias("b"), F.col("a.anc") == F.col("b.k"), "left")
            .select(
                F.col("a.k").alias("k"),
                F.coalesce(F.col("b.anc"), F.col("a.anc")).alias("anc"),
                (
                    F.col("a.lvl")
                    + F.coalesce(F.col("b.lvl"), F.lit(0))
                ).alias("lvl"),
            )
        )
        # truncate ONLY the composed pointer table: without this, p_2k's
        # plan contains p_k twice and the composition tree re-derives
        # exponentially; state's lineage stays linear and needs nothing.
        # Lazy (round count is DERIVED above, no driver decision reads an
        # intermediate): the per-round materialization jobs collapse into
        # the final action while the plan stays truncated per round
        p = p2.localCheckpoint(eager=False)
    return state.select(
        F.col("node").alias("o_orderkey"),
        F.lit(-1).cast("long").alias("root"),
        F.col("depth").cast("long").alias("depth"),
    )


# --------------------------------------------------------------------------
# Q61: LATERAL correlated subquery (per-row dependent subquery surface)
# --------------------------------------------------------------------------


@query(
    "q61_lateral_topk",
    oracle="""
    SELECT n.n_name, t.c_custkey, t.c_acctbal
    FROM nation n, LATERAL (
      SELECT c_custkey, c_acctbal FROM customer c
      WHERE c.c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_custkey
      LIMIT 3) t
    """,
    doc="LATERAL correlated subquery — the per-row dependent-subquery surface "
    "(SQL:1999 LATERAL, Postgres's idiom for top-N-per-key lookups, in the "
    "declared-query dialect a snapshot user can write). Spark SQL supports "
    "LATERAL subqueries natively since 3.2; Catalyst decorrelates the "
    "ORDER BY ... LIMIT 3 body into a partitioned window filter — the SAME "
    "physical plan q31_topk_per_group declares directly, which is the "
    "point: the user writes the Postgres idiom, the optimizer rewrites it "
    "to the scalable shape (one shuffle on the correlation key, rank "
    "filter, no per-row re-execution).",
)
def q61_lateral_topk(spark: SparkSession, sf: str) -> DataFrame:
    register_views(spark, sf)
    return spark.sql(
        """
        SELECT n.n_name, t.c_custkey, t.c_acctbal
        FROM nation n, LATERAL (
          SELECT c_custkey, c_acctbal FROM customer c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey
          LIMIT 3) t
        """
    )


# --------------------------------------------------------------------------
# Q62: dynamic pivot (values discovered from the data)
# --------------------------------------------------------------------------


@query(
    "q62_pivot_dynamic",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS n_F,
           CAST(COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS n_O,
           CAST(COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS n_P
    FROM orders GROUP BY o_orderpriority
    """,
    doc="Dynamic pivot: the wide columns are DISCOVERED from the data (one "
    "tiny distinct pre-scan on the pivot column, sorted for a stable column "
    "order), then passed as the explicit value list so the pivot itself "
    "compiles to the same single hash aggregate as the declared-values form "
    "(q34) — no second pass, no per-value scans. The oracle enumerates the "
    "same columns statically. At 100 TB the pre-scan is a "
    "partial-aggregated distinct on one column; the rule that keeps dynamic "
    "pivot viable is bounding the discovered cardinality (here asserted "
    "<= 100) — an unbounded pivot column is a schema explosion, not a "
    "query.",
)
def q62_pivot_dynamic(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    vals = sorted(
        r[0] for r in o.select("o_orderstatus").distinct().collect()
    )
    if len(vals) > 100:
        raise RuntimeError(f"pivot cardinality {len(vals)} exceeds bound")
    wide = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", vals)
        .agg(F.count(F.lit(1)))
    )
    out = [F.col("o_orderpriority")] + [
        F.coalesce(F.col(f"`{v}`"), F.lit(0)).cast("long").alias(f"n_{v}")
        for v in vals
    ]
    return wide.select(*out)


# --------------------------------------------------------------------------
# Q63: skyline / Pareto frontier in one window pass
# --------------------------------------------------------------------------


@query(
    "q63_skyline",
    oracle="""
    WITH pts AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS pc,
             o_orderdate AS d, CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY 1, 2
    )
    SELECT CAST(pc AS DOUBLE) / 100.0 AS o_totalprice, d AS o_orderdate,
           n AS n_orders
    FROM pts p
    WHERE NOT EXISTS (
      SELECT 1 FROM pts q
      WHERE q.pc >= p.pc AND q.d <= p.d AND (q.pc > p.pc OR q.d < p.d))
    """,
    doc="Skyline (Pareto frontier): orders not dominated on (maximize "
    "totalprice, minimize orderdate) — the multi-criteria shortlist query. "
    "The textbook form is a quadratic NOT-EXISTS self-join (the oracle, "
    "honest at 15k distinct points, hopeless at 100 TB); the 2-D structure "
    "collapses it to ONE sorted window pass: order by price desc, a point "
    "survives iff its date is strictly below every strictly-higher-price "
    "point's minimum date (a range frame ending at -1 excludes price "
    "peers) and it is the min-date representative of its price tier. "
    "O(n log n), one shuffle; dominance ties (same price, same date) "
    "collapse in the pre-aggregate.",
)
def q63_skyline(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    pts = o.groupBy(
        slong("o_totalprice", 2).alias("pc"), F.col("o_orderdate").alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    # Two-phase distributed skyline — a GLOBAL ordered window would plan a
    # single-partition exchange (the hazard the plan audit exists to catch).
    # Phase split: price buckets of fixed width; every point in a higher
    # bucket has strictly higher price than every point in a lower one, so
    # cross-bucket dominance reduces to each bucket's min-date, a ~dozens-row
    # summary collected and inlined as a literal CASE (bm25 pattern) —
    # broadcast-free, and the per-bucket window is properly partitioned.
    bw = 1 << 21  # ~$20k bucket width in cents; domain-fixed, SF-independent
    # exact integer div: the cross-bucket dominance proof needs exact bucket
    # boundaries, and `/` rounds through doubles past 2^53 on wider domains
    pts = pts.withColumn("bkt", F.call_function("div", F.col("pc"), F.lit(bw)))
    summary = sorted(
        (r.bkt, r.dm)
        for r in pts.groupBy("bkt").agg(F.min("d").alias("dm")).collect()
    )
    # suffix-min over buckets strictly above each bucket
    suffix: dict[int, object] = {}
    run = None
    for bkt, dm in reversed(summary):
        suffix[bkt] = run  # min date over buckets > bkt (None at the top)
        run = dm if run is None or dm < run else run
    expr = F.lit(None).cast("timestamp")
    for bkt, dm in suffix.items():
        if dm is not None:
            expr = F.when(F.col("bkt") == bkt, F.lit(dm)).otherwise(expr)
    w_local = (
        W.partitionBy("bkt")
        .orderBy(F.desc("pc"))
        .rangeBetween(W.unboundedPreceding, -1)
    )
    w_tier = W.partitionBy("pc").orderBy("d")
    ranked = pts.select(
        "pc",
        "d",
        "n",
        F.least(
            F.min("d").over(w_local), expr.alias("dmin_hb")
        ).alias("dmin_strict"),
        F.row_number().over(w_tier).alias("tier_rn"),
    )
    sky = ranked.filter(
        (F.col("tier_rn") == 1)
        & (
            F.col("dmin_strict").isNull()
            | (F.col("d") < F.col("dmin_strict"))
        )
    )
    return sky.select(
        (F.col("pc").cast("double") / F.lit(100.0)).alias("o_totalprice"),
        F.col("d").alias("o_orderdate"),
        F.col("n").cast("long").alias("n_orders"),
    )


# --------------------------------------------------------------------------
# graph: triangle counting (degree-ordered orientation)
# --------------------------------------------------------------------------


@query(
    "graph_triangle_count",
    oracle="""
    WITH eo AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      WHERE a.l_orderkey % 10 = 0
    )
    SELECT e1.u AS p_min, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM eo e1
    JOIN eo e2 ON e2.u = e1.u AND e2.v > e1.v
    JOIN eo e3 ON e3.u = e1.v AND e3.v = e2.v
    GROUP BY e1.u
    """,
    doc="Triangle counting on the part co-purchase graph (parts sharing an "
    "order, 10%-of-orders deterministic slice) — the graph-analytics "
    "primitive behind clustering coefficients and community/fraud signals. "
    "The oracle enumerates id-ordered wedges (honest at this scale, "
    "hub-quadratic in general); the Spark side runs the DEGREE-ORDERED "
    "orientation algorithm: every edge points from its lower-(degree, id) "
    "endpoint to the higher one, so each node's out-degree is O(sqrt(m)) "
    "and the wedge join is bounded by m^1.5 TOTAL regardless of hub skew — "
    "the difference between a feasible and an impossible plan on a "
    "power-law graph at 100 TB. Triangles are re-keyed to their smallest "
    "part id afterwards, so the output is algorithm-independent. Shuffles: "
    "degree agg, two wedge-closure joins — all on the (deduped) edge list, "
    "never on lineitem.",
)
def graph_triangle_count(spark: SparkSession, sf: str) -> DataFrame:
    _, tri = _copurchase_graph(spark, sf)
    return (
        tri.select(F.least("s", "b").alias("p_min"))
        .groupBy("p_min")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )


def _copurchase_graph(spark: SparkSession, sf: str):
    """(edges, triangles) of the part co-purchase graph (10%-of-orders slice)
    — the shared skeleton of graph_triangle_count / graph_clustering_coeff.

    ``edges`` is the deduped undirected edge list as id-ordered (u, v);
    ``triangles`` has one row per triangle with all three vertex columns
    (s, b, c; b < c, s unordered vs the others), found by the DEGREE-ORDERED
    orientation algorithm: every edge points from its lower-(degree, id)
    endpoint to the higher one, so each node's out-degree is O(sqrt(m)) and
    the wedge join is bounded by m^1.5 TOTAL regardless of hub skew."""
    li = _t(spark, sf, "lineitem").filter(F.col("l_orderkey") % 10 == 0)
    a = li.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
        # materialize ONCE: the edge list feeds five downstream subplans
        # (both degree sides, both wedge sides, the closure probe); without
        # this Spark re-derives the lineitem self-join for each of them
        # (measured: 32 exchanges in the physical plan vs 8 after).
        # Lazy: each consumer query runs ONE action, so the RDD persists on
        # first compute inside that action instead of paying a separate
        # up-front materialization job
        .localCheckpoint(eager=False)
    )
    # degree per node over the undirected edge set
    deg = (
        edges.select(F.col("u").alias("x"))
        .unionAll(edges.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("dg"))
    )
    du = deg.select(F.col("x").alias("u"), F.col("dg").alias("du"))
    dv = deg.select(F.col("x").alias("v"), F.col("dg").alias("dv"))
    ranked = edges.join(du, "u").join(dv, "v")
    # orient low-(degree, id) -> high-(degree, id)
    lo_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ranked.select(
        F.when(lo_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(lo_first, F.col("v")).otherwise(F.col("u")).alias("t"),
    ).localCheckpoint(eager=False)  # reused by e1, e2 and the closure probe
    # wedges from each source's out-neighbors (out-degree <= O(sqrt m)),
    # closed by the oriented edge between the two endpoints (either way)
    e1 = oriented.select(F.col("s"), F.col("t").alias("b"))
    e2 = oriented.select(F.col("s"), F.col("t").alias("c"))
    wedges = e1.join(e2, "s").filter(F.col("b") < F.col("c"))
    closing = oriented.select(
        F.least("s", "t").alias("b"), F.greatest("s", "t").alias("c")
    )
    tri = wedges.join(closing, ["b", "c"]).select("s", "b", "c")
    return edges, tri


# --------------------------------------------------------------------------
# Forward-fill via IGNORE NULLS window (sensor/telemetry repair)
# --------------------------------------------------------------------------


@query(
    "q64_forward_fill",
    oracle="""
    SELECT event_id, user_id,
           CASE WHEN event_type = 'error' THEN NULL ELSE value END AS raw_value,
           LAST_VALUE(CASE WHEN event_type = 'error' THEN NULL ELSE value END
                      IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
    FROM events
    """,
    doc="Forward-fill (LOCF) via the IGNORE NULLS window form: readings "
    "masked NULL (here: error events play broken sensor readings) take the "
    "key's last valid value in (ts, event_id) order — the window-native "
    "telemetry-repair idiom, complementing q51_gap_fill's spine-based "
    "densify. ONE key-partitioned window with running-frame state of a "
    "single value; at 100 TB it scales like any keyed window (shuffle on "
    "user, per-key sort, O(1) frame state). Leading NULLs before a key's "
    "first valid reading stay NULL in both engines.",
)
def q64_forward_fill(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events")
    # mask must mirror the oracle's CASE WHEN = 'error' THEN NULL ELSE value:
    # the `!= 'error'`-keeps form silently masks NULL event_type rows too
    # (NULL != 'error' is NULL, when() falls through) where the oracle keeps
    # their value — divergent on any corpus with NULL event types
    masked = F.when(F.col("event_type") == "error", F.lit(None)).otherwise(
        F.col("value")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        masked.alias("raw_value"),
        F.last(masked, ignorenulls=True).over(w).alias("filled_value"),
    )


# --------------------------------------------------------------------------
# graph: PageRank (fixed-point deterministic power iteration)
# --------------------------------------------------------------------------

_PR_ITERS = 5
_PR_SCALE = 1_000_000_000  # ranks as int64 · 1e9 — exact, order-independent
_PR_BASE = 150_000_000  # (1 - 0.85) · scale


def _pr_oracle() -> str:
    """Unrolled fixed-point power iteration: every step is integer division
    and integer sums, so the result is bit-identical across engines and
    partition orders (a float PageRank is neither)."""
    cte = [
        """
eo AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey
  WHERE a.l_orderkey % 10 = 0
),
deg AS (SELECT u, COUNT(*) AS d FROM eo GROUP BY u),
r0 AS (SELECT u AS x, CAST({scale} AS BIGINT) AS r FROM deg)
""".format(scale=_PR_SCALE)
    ]
    for i in range(1, _PR_ITERS + 1):
        cte.append(
            f"""
r{i} AS (
  SELECT e.v AS x,
         {_PR_BASE} + (SUM(p.r // d.d) * 85) // 100 AS r
  FROM eo e JOIN r{i - 1} p ON e.u = p.x JOIN deg d ON e.u = d.u
  GROUP BY e.v
)"""
        )
    return (
        "WITH "
        + ",".join(cte)
        + f"""
SELECT x AS part, CAST(r AS BIGINT) AS rank_scaled,
       CAST(r AS DOUBLE) / {float(_PR_SCALE)} AS rank
FROM r{_PR_ITERS}
"""
    )


def _pr_step(edges: DataFrame, ranks: DataFrame, deg: DataFrame) -> DataFrame:
    """One PageRank power iteration: shares = rank // degree, fan out along
    edges via a SHUFFLE-HASH join on the source key, one destination-keyed
    aggregate. The rank table is O(|nodes|) — it must never be broadcast
    (tests/test_plans.py pins this with autoBroadcastJoinThreshold=-1)."""
    rd = ranks.join(deg, ranks["x"] == deg["u"]).select(
        F.col("x").alias("src"),
        F.call_function("div", F.col("r"), F.col("d")).alias("share"),
    )
    return (
        edges.join(rd.hint("shuffle_hash"), edges["u"] == rd["src"])
        .groupBy("v")
        .agg(
            (
                F.lit(_PR_BASE)
                + F.call_function("div", F.sum("share") * 85, F.lit(100))
            ).alias("r")
        )
        .select(F.col("v").alias("x"), "r")
    )


@query(
    "graph_pagerank",
    oracle=_pr_oracle(),
    doc=f"PageRank ({_PR_ITERS} power iterations, damping 0.85) on the part "
    "co-purchase graph, in FIXED-POINT int64 arithmetic: each node's share "
    "is exact integer division, each in-sum is an exact int64 sum — "
    "order-independent where float PageRank is partition-order-dependent, "
    "so the DuckDB oracle replays every iteration bit-for-bit. Per "
    "iteration: the O(|nodes|) rank+degree table joins the edge list via a "
    "SHUFFLE-HASH join on the source key (never broadcast — at a "
    "billion-node graph the rank table is tens of GB and a broadcast "
    "dies on the driver) + ONE aggregate shuffle on the destination; each "
    "iteration's result is localCheckpointed, or the lineage would "
    "re-derive the edge self-join exponentially (the q60/triangle lesson). "
    "The undirected co-purchase graph has no dangling nodes, so no "
    "teleport-mass correction term is needed. At 100 TB: edges partition "
    "by destination, ranks are |nodes| rows — the classic "
    "iterate-with-materialization shape.",
)
def graph_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem").filter(F.col("l_orderkey") % 10 == 0)
    a = li.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") != F.col("v"))
        .select("u", "v")
        .distinct()
        # lazy: the round count is FIXED, so no driver decision ever reads an
        # intermediate — lineage is still truncated per round (the plan stays
        # linear) but the 1 + _PR_ITERS eager materialization jobs collapse
        # into the single final action's DAG (each checkpointed RDD persists
        # on first compute and is reused by later rounds within that job)
        .localCheckpoint(eager=False)  # feeds degree + every iteration
    )
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    ranks = deg.select(
        F.col("u").alias("x"), F.lit(_PR_SCALE).cast("long").alias("r")
    )
    for _ in range(_PR_ITERS):
        ranks = _pr_step(edges, ranks, deg).localCheckpoint(eager=False)
    return ranks.select(
        F.col("x").alias("part"),
        F.col("r").cast("long").alias("rank_scaled"),
        (F.col("r").cast("double") / F.lit(float(_PR_SCALE))).alias("rank"),
    )


# --------------------------------------------------------------------------
# graph: connected components (unrolled min-label propagation)
# --------------------------------------------------------------------------

_CC_ITERS = 6


def _cc_oracle() -> str:
    """Unrolled min-label propagation: label_i(x) = min(label_{i-1}(x),
    min over neighbors label_{i-1}(n)). Every step is integer MIN over an
    integer union — bit-identical across engines and partition orders, so
    the oracle replays the SAME K steps the Spark side runs (matching even
    on graphs whose diameter exceeds K)."""
    cte = [
        """
ed AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey
  WHERE a.l_orderkey % 25 = 0
),
l0 AS (SELECT DISTINCT u AS x, u AS lbl FROM ed)
"""
    ]
    for i in range(1, _CC_ITERS + 1):
        cte.append(
            f"""
l{i} AS (
  SELECT x, MIN(l) AS lbl FROM (
    SELECT x, lbl AS l FROM l{i - 1}
    UNION ALL
    SELECT e.v AS x, p.lbl AS l FROM ed e JOIN l{i - 1} p ON e.u = p.x
  ) GROUP BY x
)"""
        )
    return (
        "WITH "
        + ",".join(cte)
        + f"""
SELECT x AS part, CAST(lbl AS BIGINT) AS component
FROM l{_CC_ITERS}
"""
    )


@query(
    "graph_connected_components",
    oracle=_cc_oracle(),
    doc=f"Connected components via {_CC_ITERS} unrolled rounds of min-label "
    "propagation (hash-min) on a sparse part co-purchase slice — the "
    "dedup-cluster / entity-resolution primitive at graph scale. Each round "
    "is map-only label fan-out along edges + ONE min-aggregate shuffle on "
    "the node id; per-round results are localCheckpointed (the "
    "pagerank/q60 lineage lesson). The round count is FIXED and replayed "
    "identically by the oracle, so results match bit-for-bit even before "
    "convergence; a production driver loops until a round changes no "
    "label (one count per round) — same per-round plan, data-dependent "
    "round count, O(diameter) rounds ~ O(log n) with path-doubling. At "
    "100 TB the label table partitions by node and the edge list by "
    "source; nothing is ever collected to the driver.",
)
def graph_connected_components(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem").filter(F.col("l_orderkey") % 25 == 0)
    a = li.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") != F.col("v"))
        .select("u", "v")
        .distinct()
        # lazy (fixed round count, no driver reads — the pagerank rationale)
        .localCheckpoint(eager=False)  # feeds every propagation round
    )
    labels = edges.select(F.col("u").alias("x")).distinct().select(
        "x", F.col("x").alias("lbl")
    )
    for _ in range(_CC_ITERS):
        fanned = edges.join(
            F.broadcast(labels.withColumnRenamed("x", "src")),
            edges["u"] == F.col("src"),
        ).select(F.col("v").alias("x"), "lbl")
        labels = (
            labels.unionAll(fanned)
            .groupBy("x")
            .agg(F.min("lbl").alias("lbl"))
            .localCheckpoint(eager=False)
        )
    return labels.select(
        F.col("x").alias("part"), F.col("lbl").cast("long").alias("component")
    )


# --------------------------------------------------------------------------
# Q65 exact distinct via bitmap words (roaring-style partial aggregation)
# --------------------------------------------------------------------------


def _bitmap_words(df: DataFrame, key: str, group_cols: list[str]) -> DataFrame:
    """Compress a non-negative integer ``key`` column into 63-bit bitmap
    words per group: one row per (group, word index) with a ``bits`` long.

    THE single encoding convention for every bitmap operator (q65 distinct,
    q84 intersection): word = key div 63, bit = key % 63 — 63 not 64 because
    engines differ on sign-bit shifts, and `div` (not /cast) stays exact at
    all magnitudes. Keep both queries on this helper so the convention can
    never fork.
    """
    return df.groupBy(
        *group_cols,
        F.call_function("div", F.col(key), F.lit(63)).alias("w"),
    ).agg(
        # F.shiftleft only takes a literal shift amount; the SQL form
        # accepts a column
        F.bit_or(F.expr(f"shiftleft(1L, cast({key} % 63 as int))")).alias(
            "bits"
        )
    )


@query(
    "q65_bitmap_distinct",
    oracle="""
    WITH words AS (
      SELECT l_partkey, l_suppkey // 63 AS w,
             BIT_OR(1::BIGINT << (l_suppkey % 63)) AS bits
      FROM lineitem GROUP BY 1, 2
    )
    SELECT l_partkey, CAST(SUM(BIT_COUNT(bits)) AS BIGINT) AS n_supp
    FROM words GROUP BY 1
    """,
    doc="EXACT distinct counting via bitmap words — the roaring-bitmap idiom "
    "as a pure relational plan: each (key, id//63) word BIT_ORs the id's "
    "bit, popcounts are summed per key. Unlike COUNT(DISTINCT x) — whose "
    "distinct-expand shuffle carries every (key, id) pair — the bitmap "
    "words partially aggregate map-side (OR is associative/commutative), "
    "so the shuffle carries at most one int64 per (key, 63-id-block): on "
    "dense id domains that is a 63× shuffle-volume cut with ZERO "
    "approximation (vs HLL's ~2% error in q42). 63 not 64 keeps the sign "
    "bit out of the shift (engines differ on signed-overflow shifts). "
    "Values verified identical to COUNT(DISTINCT) on the full corpus.",
)
def q65_bitmap_distinct(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem")
    words = _bitmap_words(li, "l_suppkey", ["l_partkey"])
    return words.groupBy("l_partkey").agg(
        F.sum(F.bit_count("bits")).cast("long").alias("n_supp")
    )


# --------------------------------------------------------------------------
# Q66 event-sequence pattern match (MATCH_RECOGNIZE-style funnels)
# --------------------------------------------------------------------------

# v…c…p with no intervening error — initials of view/click/purchase/error
_Q66_PATTERN = "v[^e]*c[^e]*p"


@query(
    "q66_event_pattern",
    oracle=f"""
    WITH seq AS (
      SELECT user_id,
             STRING_AGG(LEFT(event_type, 1), '' ORDER BY ts, event_id) AS s
      FROM events GROUP BY user_id
    )
    SELECT user_id, s AS event_seq,
           REGEXP_MATCHES(s, '{_Q66_PATTERN}') AS has_funnel,
           CAST(LENGTH(s) AS BIGINT) AS n_events
    FROM seq
    """,
    doc="MATCH_RECOGNIZE-style sequence pattern detection (no native Spark "
    "operator): each user's event history collapses to an ordered "
    "initial-character string — ONE grouped aggregate — and the pattern "
    "'view then click then purchase with no intervening error' becomes a "
    f"regex ({_Q66_PATTERN!r}) evaluated per user, not per event. Unlike "
    "q45's per-step funnel joins, arbitrary patterns (negations, "
    "quantifiers, alternation) are one regex edit away. Order inside "
    "collect_list is made deterministic by array_sort over (ts, event_id, "
    "initial) structs — never rely on arrival order. One shuffle on "
    "user_id; the regex runs on |users| strings of avg-events length. "
    "Java regex and RE2 agree on this pattern class (char classes + '*').",
)
def q66_event_pattern(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events")
    seq = e.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "ts", "event_id", F.substring("event_type", 1, 1).alias("c")
                        )
                    )
                ),
                lambda x: x["c"],
            ),
            "",
        ).alias("event_seq")
    )
    return seq.select(
        "user_id",
        "event_seq",
        F.col("event_seq").rlike(_Q66_PATTERN).alias("has_funnel"),
        F.length("event_seq").cast("long").alias("n_events"),
    )


# --------------------------------------------------------------------------
# Q67 fixed-width histogram (value distribution profiling)
# --------------------------------------------------------------------------

_Q67_WIDTH = 50
_Q67_BUCKETS = 10


@query(
    "q67_histogram",
    oracle=f"""
    SELECT event_type,
           CAST(LEAST(FLOOR(value / {_Q67_WIDTH}), {_Q67_BUCKETS - 1}) AS BIGINT)
             AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(value) AS DOUBLE) AS lo,
           CAST(MAX(value) AS DOUBLE) AS hi
    FROM events GROUP BY 1, 2
    """,
    doc=f"Fixed-width histogram ({_Q67_BUCKETS} buckets of {_Q67_WIDTH}, "
    "top-clamped) per event type — the data-profiling primitive behind "
    "dashboards and drift monitors. Bucketing is a map-side expression, so "
    "the aggregate partially combines to ≤ types·buckets rows per "
    "partition before ONE shuffle — the full distribution of any corpus "
    "costs one pass regardless of size (contrast q33's exact percentiles, "
    "which need a per-key sort). floor(value/width) on doubles is exact "
    "IEEE in both engines; min/max per bucket expose the actual occupied "
    "range inside each bin.",
)
def q67_histogram(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events")
    bucket = F.least(
        F.floor(F.col("value") / _Q67_WIDTH), F.lit(_Q67_BUCKETS - 1)
    ).cast("long")
    return e.groupBy("event_type", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("value").cast("double").alias("lo"),
        F.max("value").cast("double").alias("hi"),
    )


# --------------------------------------------------------------------------
# Q68 period-over-period change (BI trend primitive)
# --------------------------------------------------------------------------


@query(
    "q68_period_over_period",
    oracle="""
    WITH wk AS (
      SELECT DATE_TRUNC('week', ts) AS week,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM events GROUP BY 1
    ),
    l AS (
      SELECT week, rev_cents,
             LAG(rev_cents) OVER (ORDER BY week) AS prev_cents
      FROM wk
    )
    SELECT week, rev_cents, prev_cents,
           CASE WHEN prev_cents IS NULL OR prev_cents = 0 THEN NULL
                ELSE ((rev_cents - prev_cents) * 100000) // prev_cents END
             AS pct_change_micro
    FROM l
    """,
    doc="Week-over-week revenue change — the BI trend primitive (period "
    "totals + LAG + guarded relative delta). Revenue is summed in exact "
    "integer CENTS (value has 2 decimals; a double sum is "
    "partition-order-dependent and unhashable), and the percent change is "
    "integer micro-units via truncating division — Spark's div and "
    "DuckDB's // both truncate toward zero, so negative deltas agree. The "
    "first period and zero-denominator periods yield NULL, not a crash "
    "(ANSI mode). The heavy aggregate shuffles once on the week; the LAG "
    "window runs over |periods| rows — inherently tiny, so the "
    "unpartitioned window is the right plan, not a hazard.",
)
def q68_period_over_period(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events")
    wk = e.groupBy(
        F.date_trunc("week", F.col("ts")).cast("date").alias("week")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("rev_cents")
    )
    w = W.orderBy("week")
    lagged = wk.withColumn("prev_cents", F.lag("rev_cents").over(w))
    pct = F.when(
        F.col("prev_cents").isNull() | (F.col("prev_cents") == 0), F.lit(None)
    ).otherwise(
        F.call_function(
            "div",
            (F.col("rev_cents") - F.col("prev_cents")) * 100000,
            F.col("prev_cents"),
        )
    )
    return lagged.select(
        "week", "rev_cents", "prev_cents", pct.alias("pct_change_micro")
    )


# --------------------------------------------------------------------------
# Q69 NOT IN null semantics (the three-valued-logic trap, plan-checked)
# --------------------------------------------------------------------------

_Q69 = """
SELECT
  (SELECT COUNT(*) FROM customer
   WHERE c_custkey NOT IN (SELECT CASE WHEN o_orderkey % 1000 = 7 THEN NULL
                                       ELSE o_custkey END
                           FROM orders WHERE o_orderkey % 3 = 0))
    AS n_not_in_with_null,
  (SELECT COUNT(*) FROM customer
   WHERE c_custkey NOT IN (SELECT o_custkey
                           FROM orders WHERE o_orderkey % 3 = 0))
    AS n_not_in_clean,
  (SELECT COUNT(*) FROM customer c
   WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                     AND o.o_orderkey % 3 = 0))
    AS n_not_exists
"""


@query(
    "q69_not_in_null_semantics",
    oracle=_Q69,
    doc="ANSI NOT IN three-valued logic, pinned across engines: one NULL in "
    "the subquery makes every NOT IN row UNKNOWN — the with-NULL count is 0 "
    "while the clean NOT IN and NOT EXISTS agree on the true "
    "customers-without-orders count. Both engines implement the identical "
    "(and identically surprising) semantics, which is exactly what a "
    "migration off the reference must preserve — silently 'fixing' it "
    "would corrupt every pipeline that relies on NOT EXISTS for the "
    "NULL-safe form. Plan-wise the nullable branch compiles to Spark's "
    "null-aware anti join (broadcast-only by design) and the clean "
    "branches to ordinary LeftAnti hash joins — at 100 TB keep NOT IN "
    "subqueries provably non-nullable or write NOT EXISTS.",
)
def q69_not_in_null_semantics(spark: SparkSession, sf: str) -> DataFrame:
    register_views(spark, sf)
    return spark.sql(_Q69)


# --------------------------------------------------------------------------
# graph: BFS levels (unrolled min-plus shortest hops from a seed set)
# --------------------------------------------------------------------------

_BFS_ITERS = 6


def _bfs_oracle() -> str:
    cte = [
        """
ed AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey
  WHERE a.l_orderkey % 25 = 0
),
d0 AS (SELECT DISTINCT u AS x, CAST(0 AS BIGINT) AS dist FROM ed
       WHERE u % 100 = 0)
"""
    ]
    for i in range(1, _BFS_ITERS + 1):
        cte.append(
            f"""
d{i} AS (
  SELECT x, MIN(d) AS dist FROM (
    SELECT x, dist AS d FROM d{i - 1}
    UNION ALL
    SELECT e.v AS x, p.dist + 1 AS d FROM ed e JOIN d{i - 1} p ON e.u = p.x
  ) GROUP BY x
)"""
        )
    return (
        "WITH "
        + ",".join(cte)
        + f"""
SELECT x AS part, CAST(dist AS BIGINT) AS dist FROM d{_BFS_ITERS}
"""
    )


@query(
    "graph_bfs_levels",
    oracle=_bfs_oracle(),
    doc=f"Multi-source BFS ({_BFS_ITERS} unrolled min-plus rounds) from a "
    "seed set (every 100th part) over the co-purchase graph — shortest-hop "
    "distance, the reachability/influence-radius primitive (and the "
    "unweighted case of SSSP; weighted swaps dist+1 for dist+w, same "
    "plan). Per round: map-only frontier fan-out along edges + ONE "
    "min-aggregate shuffle, localCheckpointed (the pagerank lineage "
    "rule); the oracle replays the same fixed rounds, so results match "
    "even where the graph extends past the horizon — unreached nodes are "
    "simply absent rather than sentinel-valued. Differs from "
    "graph_connected_components only in the transfer function (min(d)+1 "
    "vs min(label)) — the shared shape IS the point: one iterate-"
    "with-materialization harness covers the whole label-propagation "
    "family at 100 TB.",
)
def graph_bfs_levels(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem").filter(F.col("l_orderkey") % 25 == 0)
    a = li.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") != F.col("v"))
        .select("u", "v")
        .distinct()
        # lazy (fixed round count, no driver reads — the pagerank rationale)
        .localCheckpoint(eager=False)  # feeds every BFS round
    )
    dist = (
        edges.select(F.col("u").alias("x"))
        .distinct()
        .filter(F.col("x") % 100 == 0)
        .select("x", F.lit(0).cast("long").alias("dist"))
    )
    for _ in range(_BFS_ITERS):
        fanned = edges.join(
            F.broadcast(dist.withColumnRenamed("x", "src")),
            edges["u"] == F.col("src"),
        ).select(F.col("v").alias("x"), (F.col("dist") + 1).alias("dist"))
        dist = (
            dist.unionAll(fanned)
            .groupBy("x")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)
        )
    return dist.select(F.col("x").alias("part"), F.col("dist").cast("long").alias("dist"))


# --------------------------------------------------------------------------
# Q70 equi-depth histogram (exact deciles WITHOUT a global sort)
# --------------------------------------------------------------------------

_Q70_K = 10


@query(
    "q70_equi_depth_histogram",
    oracle=f"""
    WITH b AS (
      SELECT value, event_id,
             NTILE({_Q70_K}) OVER (ORDER BY value, event_id) AS bucket
      FROM events
    )
    SELECT CAST(bucket AS BIGINT) AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(value) AS DOUBLE) AS lo, CAST(MAX(value) AS DOUBLE) AS hi
    FROM b GROUP BY bucket
    """,
    doc=f"Equi-DEPTH histogram (exact {_Q70_K}-quantile buckets — the "
    "boundary source for range partitioning and skew diagnosis), computed "
    "WITHOUT the global single-partition sort the naive NTILE plan (the "
    "oracle, honest at its scale) requires: per-(value) counts aggregate "
    "map-side, an exclusive prefix sum runs over the DISTINCT-value list "
    "(bounded by the value grid — constant in corpus size, like "
    "mm_shard_manifest's block level), within-value ranks come from a "
    "window PARTITIONED by value, and each row's exact global rank = "
    "prefix + within-rank feeds NTILE's literal bucket formula (first "
    "n%k buckets take ceil(n/k) rows) as map-side arithmetic. Every "
    "stage is parallel; the only ordered structure is |distinct values| "
    "rows. Exact-integer ranks → bit-identical buckets to the oracle's "
    "NTILE.",
)
def q70_equi_depth_histogram(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events").select("event_id", "value")
    n = e.count()  # one scalar, inlined (bm25 pattern)
    k = _Q70_K
    q, r = divmod(n, k)
    # exclusive prefix over the distinct-value list (constant-size grid)
    vc = e.groupBy("value").agg(F.count(F.lit(1)).alias("c"))
    # NULLS LAST pins DuckDB's default ORDER BY placement (Spark's asc
    # default is NULLS FIRST — silent bucket skew on any NULL value)
    wv = W.orderBy(F.col("value").asc_nulls_last()).rowsBetween(
        W.unboundedPreceding, -1
    )
    prior = vc.select(
        F.col("value").alias("pv"),
        F.coalesce(F.sum("c").over(wv), F.lit(0)).alias("prior"),
    )
    # within-value rank (parallel: partitioned by value); the prior join is
    # NULL-SAFE so NULL-valued rows keep their (last) bucket instead of
    # being dropped by an inner equi-join
    ww = W.partitionBy("value").orderBy("event_id")
    ranked = (
        e.join(F.broadcast(prior), e["value"].eqNullSafe(prior["pv"]))
        .drop("pv")
        .withColumn("rk", F.col("prior") + F.row_number().over(ww))
    )
    # NTILE's bucket rule: buckets 1..r hold q+1 rows, the rest hold q
    big = F.lit(r * (q + 1))
    bucket = F.when(
        F.col("rk") <= big,
        F.call_function("div", F.col("rk") - 1, F.lit(q + 1)) + 1,
    ).otherwise(
        F.lit(r) + F.call_function("div", F.col("rk") - 1 - big, F.lit(max(q, 1))) + 1
    )
    return (
        ranked.withColumn("bucket", bucket.cast("long"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("value").cast("double").alias("lo"),
            F.max("value").cast("double").alias("hi"),
        )
    )


# --------------------------------------------------------------------------
# Q71 grouped-map UDAF (applyInArrow — the §2D grouped-map surface;
# the pandas variant of the same surface lives in dedup_semantic_clusters)
# --------------------------------------------------------------------------


@query(
    "q71_grouped_gini",
    oracle="""
    WITH c AS (
      SELECT user_id, event_id, CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    p AS (
      SELECT a.user_id, SUM(ABS(a.cents - b.cents)) AS sad,
             COUNT(*) AS n_pairs
      FROM c a JOIN c b ON a.user_id = b.user_id AND a.event_id != b.event_id
      GROUP BY 1
    ),
    n AS (SELECT user_id, COUNT(*) AS n, SUM(cents) AS total_cents
          FROM c GROUP BY 1)
    SELECT n.user_id, CAST(n.n AS BIGINT) AS n_events,
           CAST(n.total_cents AS BIGINT) AS total_cents,
           CAST(CASE WHEN n.n > 1 THEN p.sad // p.n_pairs END AS BIGINT)
             AS gini_mean_diff_cents
    FROM n LEFT JOIN p USING (user_id)
    """,
    doc="Per-user Gini mean difference (mean |xi−xj| over ordered pairs — "
    "the dispersion measure behind inequality/burstiness scoring) as a "
    "GROUPED-MAP Arrow UDAF: groupBy(user).applyInArrow receives each "
    "user's rows as ONE pyarrow Table and computes the O(n log n) "
    "sorted-prefix form (Σ|xi−xj| = Σ (2k−n−1)·x(k)) — the §2D "
    "user-extension surface for per-group algorithms that are imperative "
    "but group-local (Arrow over pandas because per-group frame "
    "construction dominates at ~67 rows/group: measured 3x cheaper; the "
    "pandas grouped-map surface stays covered by dedup_semantic_clusters). "
    "All arithmetic is exact integer cents, so the naive O(n²) self-join "
    "oracle matches bit-for-bit. ONE shuffle on the group key; each "
    "group's cost is its own size — the grouped-map contract at 100 TB "
    "is 'no group too big for one task' (salt or pre-aggregate hot keys "
    "first; q43's lesson).",
)
def q71_grouped_gini(spark: SparkSession, sf: str) -> DataFrame:
    import pyarrow as pa

    e = _t(spark, sf, "events").select(
        "user_id", F.round(F.col("value") * 100).cast("long").alias("cents")
    )

    def gini(t: pa.Table) -> pa.Table:
        import numpy as np

        # NULL group keys and NULL measures are legal inputs the oracle
        # handles with plain SQL semantics — mirror them: n counts ALL
        # rows, sums/pairs skip NULL cents (SUM over a NULL pair is
        # skipped while COUNT(*) still counts it)
        uid = t.column("user_id")[0].as_py()
        n = t.num_rows
        x = np.sort(
            t.column("cents")
            .drop_null()
            .to_numpy(zero_copy_only=False)
            .astype(np.int64)
        )
        nv = len(x)
        total = int(x.sum()) if nv else None
        # gini needs ≥2 VALID measures: with nv ≤ 1 every pair has a NULL
        # side, the oracle's SUM over those pairs is NULL — not 0
        if nv > 1:
            # int64 headroom: the prefix form's worst term is ~n·|c|·n —
            # fail loudly instead of numpy's silent wraparound (DuckDB
            # widens to HUGEINT, so the engines would diverge silently)
            if nv * int(np.abs(x).max() or 0) * nv >= 2**62:
                raise RuntimeError(
                    "gini int64 overflow risk: group too hot — pre-split "
                    "the key (q43 salting) or rescale the measure"
                )
            k = np.arange(1, nv + 1, dtype=np.int64)
            sad = int(((2 * k - nv - 1) * x).sum()) * 2  # ordered pairs
            g = sad // (n * (n - 1))
        else:
            g = None
        i64 = pa.int64()
        return pa.table(
            {
                "user_id": pa.array([uid], i64),
                "n_events": pa.array([n], i64),
                "total_cents": pa.array([total], i64),
                "gini_mean_diff_cents": pa.array([g], i64),
            }
        )

    # applyInArrow, not applyInPandas: with ~1 group per ~67 rows the
    # per-group frame construction dominates, and building a 1-row arrow
    # table is ~3x cheaper than a 1-row pandas frame (measured 2.3 s →
    # 0.8 s machinery on 1500 groups); the pandas grouped-map surface
    # stays covered by dedup_semantic_clusters
    return e.groupBy("user_id").applyInArrow(
        gini,
        schema="user_id long, n_events long, total_cents long, "
        "gini_mean_diff_cents long",
    )


# --------------------------------------------------------------------------
# Q72 as-of join (nearest-earlier match — the timeseries enrichment primitive)
# --------------------------------------------------------------------------

_Q72_ORACLE = """
WITH l AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
),
r AS (
  -- right side made unique per (key, ts): ASOF semantics are only
  -- deterministic when at most one candidate exists per instant
  SELECT user_id, ts,
         MAX_BY(value, event_id) AS asof_value,
         CAST(MAX(event_id) AS BIGINT) AS asof_event
  FROM events WHERE event_type = 'view' GROUP BY 1, 2
)
SELECT l.user_id, l.event_id, r.asof_event, r.asof_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
"""


@query(
    "q72_asof_join",
    oracle=_Q72_ORACLE,
    doc="AS-OF join (for every click, the user's latest view at-or-before "
    "it — the trade-to-quote / event-to-state enrichment primitive Spark "
    "has no native operator for), implemented as the scalable MERGE-ASOF: "
    "tag both sides, UNION, one window per key ordered by (ts, side) "
    "carrying last(ignorenulls) of the right payload — every left row "
    "reads the latest right row at-or-before its timestamp in a single "
    "key-partitioned sort, ONE shuffle total. The naive range join "
    "(l JOIN r ON key AND r.ts <= l.ts + max-per-group) explodes "
    "O(|l|·|r|) per key before pruning; the union trick is O(|l|+|r|) "
    "through the exchange and is exactly how production timeseries stores "
    "execute it. Right rows are pre-aggregated unique per (key, ts) so "
    "tie-breaking is deterministic on both engines (side order pins "
    "right-before-left at equal ts, matching ASOF's >= bound). At 100 TB "
    "both sides partition by key; per-key state in the sort is one held "
    "row — no skew amplification beyond the key histogram itself.",
)
def q72_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events")
    # the right payload rides as ONE struct so last(ignorenulls) always
    # returns a single matched row whole — two independent per-field
    # windows would skip a NULL r_value but not its r_event and stitch
    # fields from DIFFERENT right rows (caught by the NULL-value
    # degenerate corpus)
    left = e.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(1).alias("side"),
        F.lit(None).cast("struct<r_event:bigint,r_value:double>").alias("r"),
    )
    right = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("r_event"),
            F.max_by("value", "event_id").alias("r_value"),
        )
        .select(
            "user_id",
            "ts",
            F.lit(None).cast("long").alias("event_id"),
            F.lit(0).alias("side"),
            F.struct("r_event", "r_value").alias("r"),
        )
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    u = left.unionByName(right)
    return (
        u.withColumn("m", F.last("r", ignorenulls=True).over(w))
        .filter(F.col("side") == 1)
        .select(
            "user_id",
            "event_id",
            F.col("m.r_event").alias("asof_event"),
            F.col("m.r_value").alias("asof_value"),
        )
    )


# --------------------------------------------------------------------------
# Q73 exact grouped percentiles (the distribution-profile primitive)
# --------------------------------------------------------------------------


@query(
    "q73_exact_percentiles",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(quantile_cont(value, 0.25), 4) AS p25,
           ROUND(quantile_cont(value, 0.50), 4) AS p50,
           ROUND(quantile_cont(value, 0.90), 4) AS p90,
           ROUND(quantile_cont(value, 0.99), 4) AS p99
    FROM events
    GROUP BY event_type
    """,
    doc="EXACT grouped percentiles (p25/p50/p90/p99 of value per event "
    "type) — the latency/size distribution profile every dataset card and "
    "SLA report needs, where approx_percentile's error bounds are not "
    "acceptable. Spark's `percentile` is an exact single-pass aggregate "
    "(per-group value buffer, merged across partitions), matching DuckDB's "
    "quantile_cont linear interpolation; both are rounded to 4 decimals "
    "because the interpolation arithmetic ((1-g)·a + g·b) may differ in "
    "the final ulp between engines. One hash-aggregate shuffle; the "
    "per-group state is the group's value multiset — exact percentiles "
    "are inherently memory-proportional to group cardinality, so at "
    "100 TB this op is for BOUNDED group domains (event types, status "
    "codes); unbounded domains switch to approx_percentile or t-digest "
    "(the documented trade, not a silent one).",
)
def q73_exact_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events")
    pcts = F.percentile(
        "value", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.9), F.lit(0.99))
    )
    return (
        e.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), pcts.alias("p"))
        .select(
            "event_type",
            "n",
            F.round(F.col("p")[0], 4).alias("p25"),
            F.round(F.col("p")[1], 4).alias("p50"),
            F.round(F.col("p")[2], 4).alias("p90"),
            F.round(F.col("p")[3], 4).alias("p99"),
        )
    )


# --------------------------------------------------------------------------
# graph: link prediction (common-neighbor / Jaccard candidate edges)
# --------------------------------------------------------------------------

_LP_MIN_COMMON = 3

_LP_ORACLE = f"""
WITH ed AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey
  WHERE a.l_orderkey % 25 = 0
),
deg AS (SELECT u, COUNT(*) AS d FROM ed GROUP BY 1),
cn AS (
  SELECT e1.u AS a, e2.u AS b, COUNT(*) AS common
  FROM ed e1 JOIN ed e2 ON e1.v = e2.v AND e1.u < e2.u
  GROUP BY 1, 2
),
nonadj AS (
  SELECT cn.* FROM cn LEFT JOIN ed ON cn.a = ed.u AND cn.b = ed.v
  WHERE ed.u IS NULL
)
SELECT a, b, CAST(common AS BIGINT) AS common_neighbors,
       CAST(common * 1000000 // (da.d + db.d - common) AS BIGINT)
         AS jaccard_ppm
FROM nonadj JOIN deg da ON a = da.u JOIN deg db ON b = db.u
WHERE common >= {_LP_MIN_COMMON}
"""


@query(
    "graph_link_prediction",
    oracle=_LP_ORACLE,
    doc="Link prediction on the part co-purchase graph — the "
    "candidate-edge generator behind entity resolution and "
    "recommendation: NON-adjacent node pairs ranked by common-neighbor "
    f"count (≥{_LP_MIN_COMMON}) with an exact integer neighborhood-Jaccard "
    "in parts-per-million (truncating div — both engines agree on "
    "negatives and magnitudes; floats would be partition-order-dependent). "
    "Shape: one wedge join (edges self-joined on the shared endpoint — "
    "the triangle-count shuffle, O(Σdeg²) pairs), one aggregate on the "
    "pair, an anti-join against the edge list to drop existing edges, and "
    "two degree joins. At 100 TB the wedge join is the cost center and is "
    "bounded the standard way: cap or sample high-degree hubs before the "
    "self-join (degree-oriented orientation, as graph_triangle_count "
    "does) — the slice here keeps the oracle honest at test scale.",
)
def graph_link_prediction(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem").filter(F.col("l_orderkey") % 25 == 0)
    a = li.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("v"))
    ed = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") != F.col("v"))
        .select("u", "v")
        .distinct()
        .localCheckpoint()  # feeds wedge join (twice), anti-join, degrees
    )
    deg = ed.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    e1 = ed.select(F.col("u").alias("a"), F.col("v").alias("w"))
    e2 = ed.select(F.col("u").alias("b"), F.col("v").alias("w"))
    cn = (
        e1.join(e2, "w")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= _LP_MIN_COMMON)
    )
    nonadj = cn.join(
        ed,
        (cn["a"] == ed["u"]) & (cn["b"] == ed["v"]),
        "left_anti",
    )
    da = deg.select(F.col("u").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("u").alias("b"), F.col("d").alias("db"))
    return (
        nonadj.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            F.col("common").cast("long").alias("common_neighbors"),
            F.call_function(
                "div",
                F.col("common") * 1_000_000,
                F.col("da") + F.col("db") - F.col("common"),
            ).cast("long").alias("jaccard_ppm"),
        )
    )


# --------------------------------------------------------------------------
# Q74 key-skew diagnostics (the pre-join report behind every salting choice)
# --------------------------------------------------------------------------

_SKEW_TOP = 20


@query(
    "q74_key_skew_report",
    oracle=f"""
    WITH f AS (SELECT l_suppkey AS key, COUNT(*) AS cnt
               FROM lineitem GROUP BY 1),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
                 CAST(SUM(cnt) AS BIGINT) AS n_rows,
                 CAST(MAX(cnt) AS BIGINT) AS max_cnt
          FROM f),
    top AS (SELECT key, cnt,
                   ROW_NUMBER() OVER (ORDER BY cnt DESC, key) AS rn
            FROM f)
    SELECT t.key, CAST(t.cnt AS BIGINT) AS cnt, CAST(t.rn AS BIGINT) AS rn,
           s.n_keys, s.n_rows,
           CAST(t.cnt * 1000000 // s.n_rows AS BIGINT) AS share_ppm,
           CAST(s.max_cnt * s.n_keys * 1000 // s.n_rows AS BIGINT)
             AS skew_x1000
    FROM top t, s WHERE t.rn <= {_SKEW_TOP}
    """,
    doc=f"Join-key skew diagnostics — the report you run BEFORE choosing a "
    "shuffle strategy (salt? AQE skew join? broadcast?): per-key "
    "frequencies of lineitem.l_suppkey, the top-"
    f"{_SKEW_TOP} heaviest keys with their exact integer row share "
    "(parts-per-million, truncating div) and the global skew factor "
    "max/avg ×1000 — all integer arithmetic, so the ranking and ratios "
    "hash-match exactly. Plan: ONE map-side-combining count aggregate "
    "(the shuffle carries one row per key per partition), a |keys|-row "
    "scalar summary joined back as a 1-row broadcast, and a top-k over "
    "|keys| rows. At 100 TB this is a metadata-cost query over any key "
    "column — the frequencies ARE the decision input for salting factor "
    "and AQE skew thresholds.",
)
def q74_key_skew_report(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem")
    # localCheckpoint: the summary collect AND the top-k window both consume
    # this aggregate — without materialization the full lineitem scan +
    # count runs twice (the op's dominant cost, paid once per consumer)
    f = (
        li.groupBy(F.col("l_suppkey").alias("key"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint()
    )
    s = f.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_cnt"),
    ).collect()[0]
    w = W.orderBy(F.col("cnt").desc(), F.col("key"))
    top = (
        f.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= _SKEW_TOP)
    )
    return top.select(
        "key",
        F.col("cnt").cast("long").alias("cnt"),
        "rn",
        F.lit(int(s.n_keys)).cast("long").alias("n_keys"),
        F.lit(int(s.n_rows)).cast("long").alias("n_rows"),
        F.call_function("div", F.col("cnt") * 1_000_000, F.lit(int(s.n_rows)))
        .cast("long")
        .alias("share_ppm"),
        F.lit(int(s.max_cnt * s.n_keys * 1000 // s.n_rows))
        .cast("long")
        .alias("skew_x1000"),
    )


# --------------------------------------------------------------------------
# Q75 salted skew join (result-identical to the plain join, by construction)
# --------------------------------------------------------------------------

_SALT_N = 8


@query(
    "q75_salted_join",
    oracle="""
    SELECT r_name,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM events JOIN region ON user_id % 5 = r_regionkey
    GROUP BY r_name
    """,
    doc=f"SALTED skew join, proven result-identical to the plain join: the "
    "fact side (events keyed by user_id % 5 — five hot keys, the "
    "pathological shuffle-join distribution) gets a uniform salt "
    f"(event_id % {_SALT_N}); the dimension side is exploded ×{_SALT_N} "
    "with every salt value; the join key becomes (hot key, salt), so "
    "each hot key's rows spread across "
    f"{_SALT_N} reducers instead of one straggler. The shuffle join is "
    "FORCED (shuffle_hash hint) because a 5-row dim would broadcast and "
    "hide the mechanism — this is the drill for the real case where the "
    "dim is too big to broadcast and one key owns 20% of the fact table. "
    "The oracle is the PLAIN join: hash equality certifies salting "
    "changed the distribution, never the result. Post-join the aggregate "
    "re-combines across salts (group by the dim attribute only). At "
    "100 TB: salt factor ≈ ceil(max key share × reducers), chosen from "
    "q74_key_skew_report's output.",
)
def q75_salted_join(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events").select(
        (F.col("user_id") % 5).alias("hk"),
        (F.col("event_id") % _SALT_N).cast("int").alias("salt"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    r = _t(spark, sf, "region").select(
        F.col("r_regionkey").cast("long").alias("hk"), "r_name"
    )
    salted_dim = r.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(_SALT_N)]))
    )
    joined = e.join(salted_dim.hint("shuffle_hash"), ["hk", "salt"])
    return joined.groupBy("r_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("cents").cast("long").alias("total_cents"),
    )


# --------------------------------------------------------------------------
# Q76 time-weighted average (TWAP — the step-function integral primitive)
# --------------------------------------------------------------------------


@query(
    "q76_time_weighted_average",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_ms(ts) AS tms, event_id,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    d AS (
      SELECT user_id, cents, tms,
             LEAD(tms) OVER w - tms AS dur_ms
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tms, event_id)
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(tms) - MIN(tms) AS BIGINT) AS span_ms,
           CAST(COALESCE(SUM(cents * dur_ms), 0) AS BIGINT)
             AS weighted_cents_ms,
           CAST(CASE WHEN MAX(tms) > MIN(tms)
                     THEN COALESCE(SUM(cents * dur_ms), 0)
                          // (MAX(tms) - MIN(tms)) END AS BIGINT)
             AS twap_cents
    FROM d GROUP BY user_id
    """,
    doc="Time-WEIGHTED average per user (TWAP): each observation holds until "
    "the next one, so the mean is the step-function integral ÷ span — the "
    "metric finance quotes and monitoring systems bill on, which the "
    "plain AVG silently misstates whenever sampling is irregular. All "
    "arithmetic is exact integer (cents × millisecond durations — "
    "products bounded ~2.6e14, sums well inside int64; the final rate is "
    "truncating integer division both engines implement identically), so "
    "the hash matches bit-for-bit where a float integral would be "
    "partition-order-dependent. One key-partitioned window (LEAD) and "
    "one aggregate sharing the same shuffle; the open last interval "
    "contributes zero by the NULL-skipping SUM on both engines. At "
    "100 TB this is a single pass per key — the canonical downsample-"
    "correct aggregation for irregular telemetry.",
)
def q76_time_weighted_average(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events").select(
        "user_id",
        F.unix_millis("ts").alias("tms"),
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = W.partitionBy("user_id").orderBy("tms", "event_id")
    d = e.withColumn("dur_ms", F.lead("tms").over(w) - F.col("tms"))
    span = F.max("tms") - F.min("tms")
    weighted = F.coalesce(F.sum(F.col("cents") * F.col("dur_ms")), F.lit(0))
    return d.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        span.cast("long").alias("span_ms"),
        weighted.cast("long").alias("weighted_cents_ms"),
        F.when(span > 0, F.call_function("div", weighted, span))
        .cast("long")
        .alias("twap_cents"),
    )


# --------------------------------------------------------------------------
# Q77 exact sliding-window distinct (trailing 7-day active users)
# --------------------------------------------------------------------------

_SD_W = 7  # window width in days


@query(
    "q77_sliding_distinct_exact",
    oracle=f"""
    WITH du AS (
      SELECT DISTINCT user_id, CAST(DATE_TRUNC('day', ts) AS DATE) AS day
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    spine AS (
      SELECT UNNEST(RANGE((SELECT MIN(day) FROM du),
                          (SELECT MAX(day) FROM du) + 1,
                          INTERVAL 1 DAY)) AS d
    )
    SELECT CAST(d AS DATE) AS day,
           CAST((SELECT COUNT(DISTINCT user_id) FROM du
                 WHERE du.day BETWEEN CAST(d AS DATE) - {_SD_W - 1}
                                  AND CAST(d AS DATE)) AS BIGINT) AS u7
    FROM spine
    """,
    doc=f"EXACT trailing-{_SD_W}-day distinct users per day — the rolling "
    "MAU/WAU metric, which has no windowed COUNT DISTINCT in any engine. "
    "The oracle brute-forces one correlated distinct per day (honest at "
    "its scale); the Spark side is the SCALABLE exact algorithm: a user "
    "contributes to day d iff d falls in [a_i, a_i+"
    f"{_SD_W - 1}] for some activity day a_i — so per user, activity "
    f"days merge into runs wherever gaps ≤ {_SD_W - 1} (one lag window + "
    "running flag-sum per user), each merged run becomes a ±1 boundary "
    "pair, and one prefix sum over the DAY SPINE yields every day's "
    "exact count. Work: one distinct on (user, day), one per-user "
    "window, one |days|-row ordered scan — O(activity) total, where the "
    "naive per-day distinct is O(days × activity). The only unpartitioned "
    "window runs over the calendar spine (|days| rows — bounded by time, "
    "not data; the q70/mm_shard argument). This is how exact rolling "
    "uniques stay feasible at 100 TB when sketches (the HLL operator) "
    "aren't acceptable.",
)
def q77_sliding_distinct_exact(spark: SparkSession, sf: str) -> DataFrame:
    # a NULL user is not a user and a NULL ts has no day: the oracle's
    # COUNT(DISTINCT) skips the former implicitly — exclude both explicitly
    # on both sides so the sweep-line's groupBy (which WOULD keep a NULL
    # group) agrees
    e = _t(spark, sf, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    du = (
        e.select(
            "user_id", F.unix_date(F.col("ts").cast("date")).alias("d")
        ).distinct()
    )
    wu = W.partitionBy("user_id").orderBy("d")
    runs = (
        du.withColumn("gap", F.col("d") - F.lag("d").over(wu))
        .withColumn(
            "new_run",
            F.when(
                F.col("gap").isNull() | (F.col("gap") > _SD_W - 1), 1
            ).otherwise(0),
        )
        .withColumn(
            "run_id",
            F.sum("new_run").over(wu.rowsBetween(W.unboundedPreceding, 0)),
        )
    )
    iv = runs.groupBy("user_id", "run_id").agg(
        F.min("d").alias("a"), (F.max("d") + F.lit(_SD_W - 1)).alias("b")
    )
    deltas = iv.select(F.col("a").alias("d"), F.lit(1).alias("delta")).unionAll(
        iv.select((F.col("b") + 1).alias("d"), F.lit(-1).alias("delta"))
    )
    day_delta = deltas.groupBy("d").agg(F.sum("delta").alias("delta"))
    bounds = du.agg(F.min("d").alias("lo"), F.max("d").alias("hi")).collect()[0]
    spine = spark.range(bounds.lo, bounds.hi + 1).select(
        F.col("id").cast("int").alias("d")
    )
    ws = W.orderBy("d").rowsBetween(W.unboundedPreceding, 0)
    return (
        spine.join(day_delta, "d", "left")
        .withColumn("u7", F.sum(F.coalesce("delta", F.lit(0))).over(ws))
        .select(
            F.date_add(F.lit("1970-01-01").cast("date"), F.col("d")).alias(
                "day"
            ),
            F.col("u7").cast("long").alias("u7"),
        )
    )


# --------------------------------------------------------------------------
# Q78 retention cohorts (the product-analytics staple)
# --------------------------------------------------------------------------


@query(
    "q78_retention_cohorts",
    oracle="""
    WITH ua AS (
      SELECT o_custkey, CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS mo
      FROM orders GROUP BY 1, 2
    ),
    ch AS (SELECT o_custkey, MIN(mo) AS cohort FROM ua GROUP BY 1)
    SELECT cohort,
           CAST((EXTRACT(YEAR FROM ua.mo) - EXTRACT(YEAR FROM cohort)) * 12
                + (EXTRACT(MONTH FROM ua.mo) - EXTRACT(MONTH FROM cohort))
                AS BIGINT) AS months_since,
           CAST(COUNT(*) AS BIGINT) AS n_active
    FROM ua JOIN ch USING (o_custkey) GROUP BY 1, 2
    """,
    doc="Retention cohort matrix — the product-analytics staple: customers "
    "grouped by FIRST-order month (their cohort), counted in every later "
    "month they ordered again, keyed (cohort, months-since) — the decay "
    "curves product and growth teams read daily. Month distance is exact "
    "integer year/month arithmetic (identical on both engines, no "
    "date-diff rounding ambiguity). Plan: one distinct on (customer, "
    "month), a min-aggregate for cohorts, one equi-join back (both sides "
    "partition on the customer — a single co-keyed shuffle pair), one "
    "count aggregate. At 100 TB: activity is O(customer-months), cohorts "
    "O(customers) — nothing quadratic, no windows at all.",
)
def q78_retention_cohorts(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    ua = (
        o.select(
            "o_custkey",
            F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("mo"),
        ).distinct()
    )
    ch = ua.groupBy("o_custkey").agg(F.min("mo").alias("cohort"))
    months_since = (
        (F.year("mo") - F.year("cohort")) * 12
        + (F.month("mo") - F.month("cohort"))
    )
    return (
        ua.join(ch, "o_custkey")
        .groupBy("cohort", months_since.cast("long").alias("months_since"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    )


# --------------------------------------------------------------------------
# Q79 RFM segmentation (recency / frequency / monetary quintiles)
# --------------------------------------------------------------------------


@query(
    "q79_rfm_segmentation",
    oracle="""
    WITH m AS (
      SELECT o_custkey,
             CAST((SELECT MAX(o_orderdate) FROM orders) AS DATE)
               - CAST(MAX(o_orderdate) AS DATE) AS recency_days,
             COUNT(*) AS frequency,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS monetary_cents
      FROM orders GROUP BY 1
    )
    SELECT o_custkey,
           CAST(recency_days AS BIGINT) AS recency_days,
           CAST(frequency AS BIGINT) AS frequency,
           CAST(monetary_cents AS BIGINT) AS monetary_cents,
           CAST(NTILE(5) OVER (ORDER BY recency_days, o_custkey) AS BIGINT)
             AS r_score,
           CAST(NTILE(5) OVER (ORDER BY frequency DESC, o_custkey) AS BIGINT)
             AS f_score,
           CAST(NTILE(5) OVER (ORDER BY monetary_cents DESC, o_custkey)
                AS BIGINT) AS m_score
    FROM m
    """,
    doc="RFM segmentation — recency/frequency/monetary quintiles per "
    "customer, the classic CRM scoring: per-customer aggregates in one "
    "pass (days since last order relative to the corpus max date, order "
    "count, exact integer cents), then an EXACT NTILE(5) per metric with "
    "a customer-key tiebreak so bucket assignment is total-ordered and "
    "hash-stable on both engines. Customers scale with the corpus, so "
    "the oracle's global NTILE windows are replayed WITHOUT any "
    "single-partition sort: each metric range-partitions on the full "
    "(metric, custkey) sort key — unique keys, so RangePartitioner "
    "sampling cannot skew on ties — per-partition counts (one row per "
    "partition, cluster-bounded, corpus-independent) prefix-sum on the "
    "driver into partition rank offsets, a broadcast joins the offsets "
    "back, and global rank = offset + within-partition row_number feeds "
    "NTILE's literal bucket formula as map-side arithmetic (the q70 "
    "construction generalized from a distinct-value grid to partition "
    "granularity). Every sort is partition-local; no stage ever holds "
    "more than |customers|/P rows in one task.",
)
def q79_rfm_segmentation(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    max_date = o.agg(F.max("o_orderdate")).collect()[0][0]
    m = (
        o.groupBy("o_custkey")
        .agg(
            F.datediff(F.lit(max_date).cast("date"), F.max("o_orderdate"))
            .cast("long")
            .alias("recency_days"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "monetary_cents"
            ),
        )
        .localCheckpoint()  # consumed by three scoring passes + count
    )
    n = m.count()
    k = 5
    q, r = divmod(n, k)
    big = r * (q + 1)
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    def ntile_exact(metric: str, descending: bool, alias: str) -> DataFrame:
        # (o_custkey, score) for ONE metric: range-shuffle the NARROW
        # (metric, custkey) projection (guide §2.3 — the full row never
        # rides the ranking shuffles), pin the partition layout
        # (localCheckpoint: the per-partition count action and the ranking
        # pass must see identical sampled boundaries)
        order_cols = [
            F.col(metric).desc() if descending else F.col(metric).asc(),
            F.col("o_custkey").asc(),
        ]
        ranged = (
            m.select(metric, "o_custkey")
            .repartitionByRange(n_parts, *order_cols)
            .withColumn("_pid", F.spark_partition_id())
            .localCheckpoint()
        )
        counts = sorted(
            ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("c")).collect()
        )
        offs, acc = [], 0
        for row in counts:  # partition ids are emitted in range order
            offs.append((row._pid, acc))
            acc += row.c
        offdf = m.sparkSession.createDataFrame(offs, "_pid int, _off long")
        w = W.partitionBy("_pid").orderBy(*order_cols)
        rk = F.col("_off") + F.row_number().over(w)
        # NTILE's bucket rule: buckets 1..r hold q+1 rows, the rest hold q
        bucket = F.when(
            rk <= F.lit(big),
            F.call_function("div", rk - 1, F.lit(q + 1)) + 1,
        ).otherwise(
            F.lit(r)
            + F.call_function("div", rk - 1 - F.lit(big), F.lit(max(q, 1)))
            + 1
        )
        return (
            ranged.join(F.broadcast(offdf), "_pid")
            .select("o_custkey", bucket.cast("long").alias(alias))
        )

    # the three metric rankings are independent given m — run them as
    # concurrent driver threads (guide §2.6) so their per-pass actions
    # (checkpoint, boundary sampling, count collect) overlap instead of
    # serializing, then join the three (custkey, score) maps back. Each
    # pass's range sampling reads the pinned checkpointed m, so boundaries
    # stay deterministic regardless of thread timing.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        fr = pool.submit(ntile_exact, "recency_days", False, "r_score")
        ff = pool.submit(ntile_exact, "frequency", True, "f_score")
        fm = pool.submit(ntile_exact, "monetary_cents", True, "m_score")
        r_df, f_df, m_df = fr.result(), ff.result(), fm.result()
    scored = m.join(r_df, "o_custkey").join(f_df, "o_custkey").join(
        m_df, "o_custkey"
    )
    return scored.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        "r_score",
        "f_score",
        "m_score",
    )


# --------------------------------------------------------------------------
# Q80 market-basket association rules (support / confidence / lift)
# --------------------------------------------------------------------------

_MB_MIN_BOTH = 2


@query(
    "q80_market_basket",
    oracle=f"""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM b),
    item AS (SELECT l_partkey, COUNT(*) AS cnt FROM b GROUP BY 1),
    pair AS (
      SELECT a.l_partkey AS p1, c.l_partkey AS p2, COUNT(*) AS nboth
      FROM b a JOIN b c
        ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
      GROUP BY 1, 2
    )
    SELECT p1, p2, CAST(nboth AS BIGINT) AS nboth,
           CAST(nboth * 1000000 // n.n_orders AS BIGINT) AS support_ppm,
           CAST(nboth * 1000000 // i1.cnt AS BIGINT) AS confidence_ppm,
           CAST(nboth * n.n_orders * 1000000 // (i1.cnt * i2.cnt) AS BIGINT)
             AS lift_ppm
    FROM pair JOIN item i1 ON p1 = i1.l_partkey
              JOIN item i2 ON p2 = i2.l_partkey, n
    WHERE nboth >= {_MB_MIN_BOTH}
    """,
    doc="Market-basket association rules — co-purchase pair mining with "
    f"support/confidence/lift (pairs in ≥{_MB_MIN_BOTH} baskets), all "
    "three metrics as EXACT integer parts-per-million (truncating div — "
    "float ratios would be fine numerically but the integer forms "
    "hash-certify the counts themselves). Shape: one distinct on "
    "(basket, item), a wedge self-join on the basket id (the "
    "triangle/link-prediction shuffle — O(Σ basket²) pairs, bounded in "
    "practice by basket size, and the min-support filter prunes the "
    "long tail BEFORE the metric joins), then two broadcast-sized joins "
    "against the item-frequency table and a 1-row total. This is apriori's "
    "first level as pure relational algebra — at 100 TB the same plan "
    "runs with baskets bucketed by basket id and hub items capped, "
    "exactly like the graph operators.",
)
def q80_market_basket(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem")
    b = li.select("l_orderkey", "l_partkey").distinct().localCheckpoint()
    n_orders = b.select("l_orderkey").distinct().count()
    item = b.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    # pin the wedge join's parallelism: its INPUT is small (distinct basket
    # rows) so AQE's byte-based coalescing would funnel it into one or two
    # partitions, but its OUTPUT explodes O(Σ basket²) — an explicit
    # repartition on the basket key (which AQE never coalesces) keeps the
    # pair expansion and partial aggregation spread over the cluster, and
    # the one exchange is shared by both join sides (self-join on the same
    # frame). Scale-adaptive: count comes from shuffle.partitions.
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    bw = b.repartition(n_parts, "l_orderkey")
    a, c = bw.alias("a"), bw.alias("c")
    pair = (
        a.join(
            c,
            (F.col("a.l_orderkey") == F.col("c.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("c.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("p1"), F.col("c.l_partkey").alias("p2")
        )
        .agg(F.count(F.lit(1)).alias("nboth"))
        .filter(F.col("nboth") >= _MB_MIN_BOTH)
    )
    i1 = item.select(F.col("l_partkey").alias("p1"), F.col("cnt").alias("cnt1"))
    i2 = item.select(F.col("l_partkey").alias("p2"), F.col("cnt").alias("cnt2"))
    return (
        pair.join(i1, "p1")
        .join(i2, "p2")
        .select(
            "p1",
            "p2",
            F.col("nboth").cast("long").alias("nboth"),
            F.call_function("div", F.col("nboth") * 1_000_000, F.lit(n_orders))
            .cast("long")
            .alias("support_ppm"),
            F.call_function("div", F.col("nboth") * 1_000_000, F.col("cnt1"))
            .cast("long")
            .alias("confidence_ppm"),
            F.call_function(
                "div",
                F.col("nboth") * n_orders * 1_000_000,
                F.col("cnt1") * F.col("cnt2"),
            )
            .cast("long")
            .alias("lift_ppm"),
        )
    )


# --------------------------------------------------------------------------
# Q81 gaps & islands (contiguous activity runs)
# --------------------------------------------------------------------------


@query(
    "q81_gaps_islands",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
      WHERE ts IS NOT NULL
    ),
    grp AS (
      SELECT user_id, d,
             d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                      AS INTEGER) AS anchor
      FROM days
    )
    SELECT user_id, MIN(d) AS island_start, MAX(d) AS island_end,
           CAST(COUNT(*) AS BIGINT) AS n_days
    FROM grp GROUP BY user_id, anchor
    """,
    doc="Gaps-and-islands — maximal runs of CONSECUTIVE active days per "
    "user, the classic streak/uptime analysis: distinct (user, day), "
    "then the anchor trick (day minus per-user row_number is constant "
    "exactly within a consecutive run — no self-join, no recursion), "
    "then one group-by per island. The reference's engine would need "
    "either a correlated subquery or MATCH_RECOGNIZE for this; the "
    "window+anchor form is two shuffles total (distinct, then the "
    "per-user window shares the groupBy exchange). Every window is "
    "partitioned by user_id — no global sort, no driver state — so the "
    "plan is unchanged at a billion users; AQE handles the skewed "
    "power-user tail.",
)
def q81_gaps_islands(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events")
    # NULL ts would order NULLS FIRST in Spark windows vs NULLS LAST in the
    # oracle, shifting every row_number — excluded identically on both sides
    days = (
        e.filter(F.col("ts").isNotNull())
        .select("user_id", F.col("ts").cast("date").alias("d"))
        .distinct()
    )
    w = W.partitionBy("user_id").orderBy("d")
    grp = days.withColumn(
        "anchor", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    return grp.groupBy("user_id", "anchor").agg(
        F.min("d").alias("island_start"),
        F.max("d").alias("island_end"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    ).drop("anchor")


# --------------------------------------------------------------------------
# Q82 exact rolling median (order-statistic sliding window)
# --------------------------------------------------------------------------


@query(
    "q82_rolling_median",
    oracle="""
    SELECT event_id, user_id, ts,
           ROUND(MEDIAN(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS rolling_median
    FROM events WHERE ts IS NOT NULL
    """,
    doc="Exact rolling median — the order-statistic sliding window that "
    "mean/EWMA smoothing (q54) cannot express: per user, the true median "
    "of the trailing 7 observations (ties broken by event_id so the "
    "frame is total-ordered and engine-independent). Spark has no "
    "median window function; the Spark-first form collects the O(1)-"
    "bounded frame with collect_list over the same ROWS frame, "
    "array_sorts it, and picks/averages the middle order statistics — "
    "all inside whole-stage codegen, no UDF. The frame bound (7) makes "
    "per-row state constant, so the window is a single per-user "
    "partition pass; ROUND(,4) on both engines absorbs the last-ulp "
    "difference of the even-frame midpoint average. Null values are "
    "skipped identically (collect_list and MEDIAN both ignore NULLs).",
)
def q82_rolling_median(spark: SparkSession, sf: str) -> DataFrame:
    # NULL ts excluded on both sides (Spark NULLS FIRST vs DuckDB NULLS LAST
    # would misalign the frames); NULL values inside a frame are fine — both
    # collect_list and MEDIAN skip them
    e = _t(spark, sf, "events").filter(F.col("ts").isNotNull())
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, W.currentRow)
    )
    arr = F.array_sort(F.collect_list("value").over(w))
    med = F.expr(
        """
        CASE WHEN size(frame) = 0 THEN NULL
             WHEN size(frame) % 2 = 1
               THEN element_at(frame, CAST((size(frame) + 1) DIV 2 AS INT))
             ELSE (element_at(frame, CAST(size(frame) DIV 2 AS INT))
                   + element_at(frame, CAST(size(frame) DIV 2 + 1 AS INT))) / 2
        END
        """
    )
    return (
        e.select("event_id", "user_id", "ts", arr.alias("frame"))
        .select(
            "event_id",
            "user_id",
            "ts",
            F.round(med, 4).alias("rolling_median"),
        )
    )


# --------------------------------------------------------------------------
# Q83 sequence-gap detection (missing-key ranges)
# --------------------------------------------------------------------------

_Q83_BLOCK = 1024


@query(
    "q83_sequence_gaps",
    oracle="""
    WITH k AS (SELECT o_orderkey AS k FROM orders WHERE o_orderstatus = 'F'),
    nxt AS (SELECT k, LEAD(k) OVER (ORDER BY k) AS nk FROM k)
    SELECT k + 1 AS gap_start, nk - 1 AS gap_end,
           CAST(nk - k - 1 AS BIGINT) AS n_missing
    FROM nxt WHERE nk > k + 1
    """,
    doc="Sequence-gap detection — every maximal missing-key range in a "
    "filtered key sequence (finalized orders), the audit that catches "
    "lost batches in an append-only ingest. The naive form is a single "
    "global LEAD window = one partition holding the whole table; this "
    "implementation is the two-level shape (mm_shard_manifest's prefix "
    "pattern): keys bucket into fixed blocks of 1024, LEAD runs "
    "per-block (partitioned window, fully parallel), and the per-block "
    "(min,max) summary — 1024x smaller but still corpus-scaling — is "
    "stitched WITHOUT a global window: it range-partitions on block id, "
    "LEAD runs per range partition, and only the P partition-boundary "
    "summaries (one first/last pair per partition — cluster-bounded, "
    "corpus-INDEPENDENT) reach the driver to close the partition seams. "
    "Union of the three gap sets is exactly the global answer; no stage "
    "at any level holds a corpus-scaling row count in one task.",
)
def q83_sequence_gaps(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    k = (
        o.filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_orderkey").alias("k"))
        .withColumn(
            "blk", F.call_function("div", F.col("k"), F.lit(_Q83_BLOCK))
        )
    )
    w1 = W.partitionBy("blk").orderBy("k")
    within = (
        k.withColumn("nk", F.lead("k").over(w1))
        .filter(F.col("nk") > F.col("k") + 1)
        .select(
            (F.col("k") + 1).alias("gap_start"),
            (F.col("nk") - 1).alias("gap_end"),
            (F.col("nk") - F.col("k") - 1).cast("long").alias("n_missing"),
        )
    )
    summ = k.groupBy("blk").agg(F.min("k").alias("mn"), F.max("k").alias("mx"))
    # the summary is |keys|/1024 rows — corpus-scaling, so its own LEAD is
    # range-partitioned too (blk is unique per summary row, so sampling
    # cannot skew); the layout is pinned so the boundary collect and the
    # in-partition window see identical partition assignments
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    summ_r = (
        summ.repartitionByRange(n_parts, "blk")
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    w2 = W.partitionBy("_pid").orderBy("blk")
    cross = (
        summ_r.withColumn("nmn", F.lead("mn").over(w2))
        .filter(F.col("nmn") > F.col("mx") + 1)
        .select(
            (F.col("mx") + 1).alias("gap_start"),
            (F.col("nmn") - 1).alias("gap_end"),
            (F.col("nmn") - F.col("mx") - 1).cast("long").alias("n_missing"),
        )
    )
    # partition seams: ONE (first, last) summary pair per partition — P rows,
    # cluster-bounded and corpus-independent — stitched on the driver
    bounds = sorted(
        summ_r.groupBy("_pid")
        .agg(
            F.min_by(F.struct("mn", "mx"), F.col("blk")).alias("first"),
            F.max_by(F.struct("mn", "mx"), F.col("blk")).alias("last"),
        )
        .collect()
    )
    seam_rows = []
    for prev, nxt in zip(bounds, bounds[1:]):
        lo, hi = prev.last.mx, nxt.first.mn
        if hi > lo + 1:
            seam_rows.append((lo + 1, hi - 1, hi - lo - 1))
    seams = spark.createDataFrame(
        seam_rows, "gap_start long, gap_end long, n_missing long"
    )
    return within.unionAll(cross).unionAll(seams)


# --------------------------------------------------------------------------
# Q84 audience overlap via bitmap AND (exact distinct intersections)
# --------------------------------------------------------------------------

_Q84_MIN_EVENTS = 15


@query(
    "q84_audience_overlap",
    oracle=f"""
    WITH act AS (
      SELECT event_type, user_id FROM events
      WHERE user_id IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1, 2 HAVING COUNT(*) >= {_Q84_MIN_EVENTS}
    )
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(COUNT(*) AS BIGINT) AS n_common_users
    FROM act a JOIN act b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY 1, 2
    """,
    doc="Audience-overlap matrix — for every pair of event types, the "
    f"EXACT count of users with ≥{_Q84_MIN_EVENTS} events of each type "
    "(segment intersection sizes, the input to every audience-overlap / "
    "co-engagement report). The oracle is the naive user-level wedge "
    "self-join; the Spark plan is the scale answer: per-segment user "
    "sets compress into 63-bit bitmap words (q65's bit_or construction "
    "— one groupBy), pairs of segments then join on WORD INDEX and "
    "intersect with a single AND+popcount — the shuffled data is "
    "|segments| x |users|/63 words, 63x smaller than the id-level join, "
    "and the pair blow-up happens on words, never on raw user rows. "
    "This is exactly how roaring-bitmap audience engines (Druid, "
    "ClickHouse groupBitmapAnd) run the query at billions of users.",
)
def q84_audience_overlap(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    act = (
        e.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= _Q84_MIN_EVENTS)
    )
    words = _bitmap_words(act, "user_id", ["event_type"])
    a = words.select(
        F.col("event_type").alias("type_a"), "w", F.col("bits").alias("ba")
    )
    b = words.select(
        F.col("event_type").alias("type_b"), "w", F.col("bits").alias("bb")
    )
    return (
        a.join(b, "w")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.sum(F.bit_count(F.col("ba").bitwiseAND(F.col("bb"))))
            .cast("long")
            .alias("n_common_users")
        )
        .filter(F.col("n_common_users") > 0)
    )


# --------------------------------------------------------------------------
# Q85 ML lag/trailing feature generation (the feature-store shape)
# --------------------------------------------------------------------------


@query(
    "q85_lag_features",
    oracle="""
    SELECT event_id, user_id, ts,
           LAG(value, 1) OVER w AS lag1_value,
           LAG(value, 2) OVER w AS lag2_value,
           ROUND(AVG(value) OVER (w ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
                 4) AS trail_mean_7,
           CAST(COUNT(value) OVER (w ROWS BETWEEN 6 PRECEDING AND CURRENT
                ROW) AS BIGINT) AS trail_n_7,
           CAST(EPOCH_US(ts) - LAG(EPOCH_US(ts), 1) OVER w AS BIGINT)
             AS micros_since_prev
    FROM events WHERE ts IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    doc="Point-in-time lag/trailing feature generation — the feature-store "
    "materialization every training pipeline runs before a model sees a "
    "row: per entity (user), strictly-past lags (1-step, 2-step), a "
    "trailing-7 mean and observation count, and the exact µs recency gap "
    "(unix_micros, not second-truncated unix_timestamp — sub-second "
    "recency is a real feature). All five features ride ONE per-user "
    "window specification, so the whole row of features costs a single "
    "user_id exchange + one sorted pass — the plan test pins one shuffle. "
    "Strictly-past frames mean no label leakage by construction (the "
    "point-in-time-correctness property feature stores advertise); at "
    "100 TB this is a map-side sort within user partitions, and adding "
    "features widens the projection without adding passes. NULL values "
    "are carried by the lags but excluded from mean/count — identical "
    "skip semantics on both engines.",
)
def q85_lag_features(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events").filter(F.col("ts").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(-6, W.currentRow)
    um = F.unix_micros(F.col("ts"))
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.lag("value", 1).over(w).alias("lag1_value"),
        F.lag("value", 2).over(w).alias("lag2_value"),
        F.round(F.avg("value").over(wf), 4).alias("trail_mean_7"),
        F.count("value").over(wf).cast("long").alias("trail_n_7"),
        (um - F.lag(um, 1).over(w)).cast("long").alias("micros_since_prev"),
    )


# --------------------------------------------------------------------------
# Q86 referential-integrity audit (FK orphans + childless parents)
# --------------------------------------------------------------------------

_Q86_EDGE_SQL = """
  SELECT '{name}' AS fk_edge,
         CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS n_rows,
         CAST(COUNT(cnt) AS BIGINT) AS n_child_keys,
         CAST(COALESCE(SUM(CASE WHEN p IS NULL THEN cnt END), 0) AS BIGINT)
           AS n_orphan_rows,
         CAST(COUNT(CASE WHEN p IS NULL THEN 1 END) AS BIGINT)
           AS n_orphan_keys,
         CAST(COUNT(p) AS BIGINT) AS n_parents,
         CAST(COUNT(CASE WHEN cnt IS NULL THEN 1 END) AS BIGINT)
           AS n_childless_parents
  FROM (SELECT {ckey} AS k, COUNT(*) AS cnt FROM {child}
        WHERE {ckey} IS NOT NULL GROUP BY 1) c
  FULL OUTER JOIN (SELECT {pkey} AS k, 1 AS p FROM {parent}) pp USING (k)
"""

_Q86_EDGES = [
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("events.user_id->customer", "events", "user_id", "customer", "c_custkey"),
]


@query(
    "q86_fk_integrity",
    oracle=" UNION ALL ".join(
        _Q86_EDGE_SQL.format(name=n, child=c, ckey=ck, parent=p, pkey=pk)
        for n, c, ck, p, pk in _Q86_EDGES
    ),
    doc="Referential-integrity audit over the star schema — the data-quality "
    "sweep every warehouse runs before publishing: for each declared FK "
    "edge, orphan child rows/keys (child keys with no parent) AND "
    "childless parents (dimension rows never referenced — dead-dimension "
    "bloat). The shape that scales: child keys are pre-aggregated to "
    "(key, count) — a map-side-combining groupBy, so the join sees one "
    "row per DISTINCT key, not per child row — then ONE full-outer hash "
    "join per edge against the parent key column and a single aggregate "
    "pass classifies all six audit counters at once (no separate "
    "anti-join per counter: the full-outer join's NULL sides ARE the "
    "orphan/childless classifications). Each edge's final 1-row reduce "
    "is the standard SinglePartition collapse of already-partial "
    "aggregates (allowlisted). At 100 TB each edge is one shuffle on its "
    "own key; edges are independent and run in parallel under the union.",
)
def q86_fk_integrity(spark: SparkSession, sf: str) -> DataFrame:
    out = None
    for name, child, ckey, parent, pkey in _Q86_EDGES:
        ck = (
            _t(spark, sf, child)
            .filter(F.col(ckey).isNotNull())
            .groupBy(F.col(ckey).alias("k"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        pk = _t(spark, sf, parent).select(
            F.col(pkey).alias("k"), F.lit(1).alias("p")
        )
        edge = (
            ck.join(pk, "k", "full_outer")
            .agg(
                F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("n_rows"),
                F.count("cnt").cast("long").alias("n_child_keys"),
                F.coalesce(
                    F.sum(F.when(F.col("p").isNull(), F.col("cnt"))), F.lit(0)
                )
                .cast("long")
                .alias("n_orphan_rows"),
                F.count(F.when(F.col("p").isNull(), 1))
                .cast("long")
                .alias("n_orphan_keys"),
                F.count("p").cast("long").alias("n_parents"),
                F.count(F.when(F.col("cnt").isNull(), 1))
                .cast("long")
                .alias("n_childless_parents"),
            )
            .select(F.lit(name).alias("fk_edge"), "*")
        )
        out = edge if out is None else out.unionByName(edge)
    return out


# --------------------------------------------------------------------------
# Q87 exact grouped ROC-AUC (Mann-Whitney rank-sum, two-level prefix sum)
# --------------------------------------------------------------------------

_Q87_BINS = 64  # range bins for the distributed rank construction


@query(
    "q87_roc_auc",
    oracle="""
    WITH scored AS (
      SELECT CAST(user_id % 4 AS BIGINT) AS cohort, value AS s,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
    ),
    ranked AS (
      -- doubled average rank stays integer under ties:
      -- 2*avg_rank = 2*RANK + (#ties) - 1
      SELECT cohort, y,
             2*RANK() OVER (PARTITION BY cohort ORDER BY s)
               + COUNT(*) OVER (PARTITION BY cohort, s) - 1 AS r2
      FROM scored
    ),
    agg AS (
      SELECT cohort,
             CAST(SUM(r2) FILTER (WHERE y = 1) AS BIGINT) AS sum2_pos,
             CAST(SUM(y) AS BIGINT) AS npos,
             CAST(COUNT(*) - SUM(y) AS BIGINT) AS nneg
      FROM ranked GROUP BY cohort
    )
    SELECT cohort, npos, nneg,
           (sum2_pos - npos*(npos+1)) * 500000 // (npos*nneg) AS auc_ppm
    FROM agg WHERE npos > 0 AND nneg > 0
    """,
    doc="EXACT grouped ROC-AUC — the model-evaluation primitive every "
    "training pipeline runs on billions of scored rows (label: event is a "
    "purchase; score: event value; cohorts: user buckets). AUC is the "
    "Mann-Whitney U statistic, i.e. a function of the rank-sum of "
    "positive scores — but a global ORDER BY to rank is exactly the "
    "single-partition sort that dies at scale. The distributed "
    "construction: (1) collapse rows to DISTINCT (cohort, score) with "
    "count/positive-count — map-side combining, ties handled "
    "algebraically from the counts via the doubled-average-rank identity "
    "2*avg_rank = 2*rows_below + ties + 1 (all-integer, bit-exact, no "
    "0.5s); (2) a two-level prefix sum recovers rows_below without any "
    "global sort — range-bin each score (bins from a per-cohort min/max "
    "broadcast), prefix over the tiny bin table, then a partitioned "
    "window WITHIN each (cohort, bin). The same q70 construction, so "
    "rank work is spread across cohort x bin partitions. Fixed-point "
    "ppm output; the oracle replays the naive single-window ranking — "
    "construction-independent agreement is the test. At ~1e12 rows per "
    "cohort the *500000 product approaches int64 limits: normalize "
    "counts first or widen to decimal at that scale (documented, not "
    "hit at any test SF).",
)
def q87_roc_auc(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events").filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    scored = e.select(
        (F.col("user_id") % 4).cast("long").alias("cohort"),
        F.col("value").alias("s"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    d = scored.groupBy("cohort", "s").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("y").alias("pos")
    )
    mm = d.groupBy("cohort").agg(F.min("s").alias("lo"), F.max("s").alias("hi"))
    b = _Q87_BINS
    d2 = d.join(F.broadcast(mm), "cohort").withColumn(
        "bin",
        F.least(
            F.lit(b - 1),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.col("s") - F.col("lo"))
                    * b
                    / (F.col("hi") - F.col("lo") + F.lit(1e-9))
                ),
            ),
        ).cast("int"),
    )
    binsum = d2.groupBy("cohort", "bin").agg(F.sum("cnt").alias("bn"))
    wb = W.partitionBy("cohort").orderBy("bin").rowsBetween(
        W.unboundedPreceding, -1
    )
    offs = binsum.select(
        "cohort",
        "bin",
        F.coalesce(F.sum("bn").over(wb), F.lit(0)).alias("below_bins"),
    )
    win = W.partitionBy("cohort", "bin").orderBy("s").rowsBetween(
        W.unboundedPreceding, -1
    )
    r = (
        d2.join(offs, ["cohort", "bin"])
        .withColumn(
            "below_in_bin", F.coalesce(F.sum("cnt").over(win), F.lit(0))
        )
        .withColumn(
            "r2",
            2 * (F.col("below_bins") + F.col("below_in_bin"))
            + F.col("cnt")
            + 1,
        )
    )
    agg = r.groupBy("cohort").agg(
        F.sum(F.col("pos") * F.col("r2")).cast("long").alias("sum2_pos"),
        F.sum("pos").cast("long").alias("npos"),
        (F.sum("cnt") - F.sum("pos")).cast("long").alias("nneg"),
    )
    return agg.filter((F.col("npos") > 0) & (F.col("nneg") > 0)).select(
        "cohort",
        "npos",
        "nneg",
        F.call_function(
            "div",
            (F.col("sum2_pos") - F.col("npos") * (F.col("npos") + 1))
            * 500000,
            F.col("npos") * F.col("nneg"),
        ).alias("auc_ppm"),
    )


# --------------------------------------------------------------------------
# Q88 Benford first-digit audit
# --------------------------------------------------------------------------

# expected first-significant-digit distribution, ppm: round(log10(1+1/d)*1e6)
_Q88_EXPECTED = [
    (1, 301030),
    (2, 176091),
    (3, 124939),
    (4, 96910),
    (5, 79181),
    (6, 66947),
    (7, 57992),
    (8, 51153),
    (9, 45757),
]


@query(
    "q88_benford",
    oracle=f"""
    WITH digits AS (
      SELECT CAST(LEFT(CAST(CAST(TRUNC(o_totalprice) AS BIGINT) AS VARCHAR),
                       1) AS BIGINT) AS d
      FROM orders WHERE o_totalprice >= 1
    ),
    ob AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS n_obs FROM digits GROUP BY d),
    exp AS (SELECT * FROM (VALUES
      {",".join(f"({d},{p})" for d, p in _Q88_EXPECTED)}) v(d, exp_ppm)),
    j AS (
      SELECT CAST(e.d AS BIGINT) AS d,
             CAST(COALESCE(ob.n_obs, 0) AS BIGINT) AS n_obs,
             CAST(e.exp_ppm AS BIGINT) AS exp_ppm,
             CAST(SUM(COALESCE(ob.n_obs, 0)) OVER () AS BIGINT) AS t
      FROM exp e LEFT JOIN ob ON ob.d = e.d
    )
    SELECT d, n_obs,
           CAST(n_obs * 1000000 // t AS BIGINT) AS obs_ppm,
           exp_ppm,
           CAST((n_obs*1000000//t - exp_ppm) * (n_obs*1000000//t - exp_ppm)
                // exp_ppm AS BIGINT) AS chi2_ppm
    FROM j
    """,
    doc="Benford first-significant-digit audit of order totals — the "
    "classic forensic-accounting / synthetic-data-detection screen. One "
    "map-side-combining groupBy over first digits (extracted via exact "
    "integer-to-string truncation, never float log10 — engines' log "
    "rounding differs at digit boundaries), then a 9-row join against "
    "the expected Benford ppm table (literal constants, so no float "
    "log10 at runtime at all) and fixed-point per-digit chi-square "
    "contributions via truncating integer division. The single-partition "
    "window computes the grand total over exactly 9 rows (allowlisted "
    "tiny domain). At 100 TB the scan+partial-agg is the entire cost; "
    "everything after the groupBy touches 9 rows.",
)
def q88_benford(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders").filter(F.col("o_totalprice") >= 1)
    digits = o.select(
        F.substring(F.floor("o_totalprice").cast("string"), 1, 1)
        .cast("long")
        .alias("d")
    )
    ob = digits.groupBy("d").agg(F.count(F.lit(1)).alias("n_obs"))
    exp = spark.createDataFrame(_Q88_EXPECTED, "d long, exp_ppm long")
    j = exp.join(ob, "d", "left").select(
        "d",
        F.coalesce("n_obs", F.lit(0)).alias("n_obs"),
        "exp_ppm",
        F.sum(F.coalesce("n_obs", F.lit(0)))
        .over(W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
        .alias("t"),
    )
    obs_ppm = F.call_function("div", F.col("n_obs") * 1000000, F.col("t"))
    return j.select(
        "d",
        F.col("n_obs").cast("long").alias("n_obs"),
        obs_ppm.alias("obs_ppm"),
        F.col("exp_ppm").cast("long").alias("exp_ppm"),
        F.call_function(
            "div",
            (obs_ppm - F.col("exp_ppm")) * (obs_ppm - F.col("exp_ppm")),
            F.col("exp_ppm"),
        ).alias("chi2_ppm"),
    )


# --------------------------------------------------------------------------
# Q89 exact weighted median
# --------------------------------------------------------------------------


@query(
    "q89_weighted_median",
    oracle="""
    WITH w AS (
      SELECT l_returnflag AS flag, l_extendedprice AS v,
             CAST(l_quantity AS BIGINT) AS wt
      FROM lineitem
    ),
    cum AS (
      SELECT flag, v,
             SUM(wt) OVER (PARTITION BY flag ORDER BY v
                           RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cw,
             SUM(wt) OVER (PARTITION BY flag) AS tw
      FROM w
    )
    SELECT flag, MIN(v) AS weighted_median,
           CAST(MIN(tw) AS BIGINT) AS total_weight
    FROM cum WHERE 2*cw >= tw GROUP BY flag
    """,
    doc="Exact weighted median of extended price, weighted by quantity, per "
    "return flag — the robust-statistics primitive (weighted quantiles "
    "have no Spark built-in; approxQuantile ignores weights). "
    "Construction: one partitioned window pass accumulates running "
    "weight in VALUE order with a RANGE frame (peers collapse together, "
    "so duplicate prices are order-independent — bit-deterministic on "
    "both engines), then the smallest value whose doubled running weight "
    "crosses total weight IS the weighted median (returned verbatim from "
    "the data, no interpolation arithmetic → exact double equality "
    "cross-engine). Weights ride as exact integers. One exchange on the "
    "group key; at 100 TB each group is a sorted within-partition scan, "
    "and skewed groups fall back to the q70 two-level prefix-sum "
    "construction (documented escape hatch, same algebra).",
)
def q89_weighted_median(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem")
    # pin the window stage's width: the projected rows are tiny, so AQE's
    # byte-based coalescing folds the window exchange into ONE partition and
    # serializes the per-flag sorts (isolated 0.66s -> 1.40s). An explicit
    # repartition on the window key is never coalesced and SATISFIES the
    # window's required distribution, so this replaces the exchange rather
    # than adding one. Scale-adaptive: count from shuffle.partitions.
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    w0 = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("v"),
        F.col("l_quantity").cast("long").alias("wt"),
    ).repartition(n_parts, "flag")
    cum_w = W.partitionBy("flag").orderBy("v").rangeBetween(
        W.unboundedPreceding, W.currentRow
    )
    c = w0.select(
        "flag",
        "v",
        F.sum("wt").over(cum_w).alias("cw"),
        F.sum("wt").over(W.partitionBy("flag")).alias("tw"),
    )
    return (
        c.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("flag")
        .agg(
            F.min("v").alias("weighted_median"),
            F.min("tw").cast("long").alias("total_weight"),
        )
    )


# --------------------------------------------------------------------------
# Q90 cohort lifetime value (cumulative revenue by cohort age)
# --------------------------------------------------------------------------


@query(
    "q90_cohort_ltv",
    oracle="""
    WITH base AS (
      SELECT o_custkey, o_orderdate,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             MIN(o_orderdate) OVER (PARTITION BY o_custkey) AS f
      FROM orders
    ),
    keyed AS (
      SELECT CAST(DATE_TRUNC('month', f) AS DATE) AS cohort_month,
             CAST((EXTRACT(YEAR FROM o_orderdate) - EXTRACT(YEAR FROM f)) * 12
                + (EXTRACT(MONTH FROM o_orderdate) - EXTRACT(MONTH FROM f))
                AS BIGINT) AS age_m,
             o_custkey, cents
      FROM base
    ),
    m AS (
      SELECT cohort_month, age_m,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_active,
             CAST(SUM(cents) AS BIGINT) AS rev_cents
      FROM keyed GROUP BY cohort_month, age_m
    )
    SELECT cohort_month, age_m, n_active,
           CAST(SUM(rev_cents) OVER (PARTITION BY cohort_month
                                     ORDER BY age_m) AS BIGINT)
             AS cum_rev_cents
    FROM m
    """,
    doc="Cohort lifetime value — cumulative revenue by acquisition cohort "
    "and cohort age in months, the growth-analytics companion to "
    "q78_retention_cohorts (which counts activity; this accumulates "
    "value). First-order date comes from a per-customer window (ONE hash "
    "exchange on o_custkey — no self-join), month arithmetic is exact "
    "integer year*12+month deltas (never months_between, whose "
    "fractional day handling differs cross-engine), and revenue rides as "
    "exact integer cents (the repo's standing ROUND(x*100) idiom, "
    "hash-match proven). The cumulative window per cohort runs over the "
    "months domain — dozens of rows per cohort, bounded by calendar not "
    "data. At 100 TB: one exchange on customer, one re-exchange on the "
    "(cohort, age) aggregate, then window work on a tiny table.",
)
def q90_cohort_ltv(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    base = o.select(
        "o_custkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.min("o_orderdate")
        .over(W.partitionBy("o_custkey"))
        .alias("f"),
    )
    keyed = base.select(
        F.date_trunc("month", F.col("f")).cast("date").alias("cohort_month"),
        (
            (F.year("o_orderdate") - F.year("f")) * 12
            + (F.month("o_orderdate") - F.month("f"))
        )
        .cast("long")
        .alias("age_m"),
        "o_custkey",
        "cents",
    )
    m = keyed.groupBy("cohort_month", "age_m").agg(
        F.countDistinct("o_custkey").cast("long").alias("n_active"),
        F.sum("cents").alias("rev_cents"),
    )
    wc = W.partitionBy("cohort_month").orderBy("age_m")
    return m.select(
        "cohort_month",
        "age_m",
        "n_active",
        F.sum("rev_cents").over(wc).cast("long").alias("cum_rev_cents"),
    )


# --------------------------------------------------------------------------
# graph: label propagation communities (synchronous, fixed-step)
# --------------------------------------------------------------------------

_LPA_ITERS = 3
_LPA_MIN_SIZE = 3
_LPA_EDGE_MOD = 20


def _lpa_blocks() -> tuple[list[str], str]:
    """The shared CTE chain (symmetric edge list + unrolled synchronous LPA
    rounds) both graph_label_propagation and graph_modularity replay;
    returns (blocks, name of the final label CTE)."""
    blocks = [
        f"""ed AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey
      WHERE a.l_orderkey % {_LPA_EDGE_MOD} = 0
    )""",
        "l0 AS (SELECT DISTINCT u AS node, u AS lab FROM ed)",
    ]
    for i in range(_LPA_ITERS):
        blocks.append(f"""l{i + 1} AS (
      SELECT node, lab FROM (
        SELECT e.u AS node, l.lab,
               ROW_NUMBER() OVER (PARTITION BY e.u
                                  ORDER BY COUNT(*) DESC, l.lab) AS rn
        FROM ed e JOIN l{i} l ON e.v = l.node
        GROUP BY e.u, l.lab
      ) WHERE rn = 1
    )""")
    return blocks, f"l{_LPA_ITERS}"


def _lpa_oracle() -> str:
    blocks, last = _lpa_blocks()
    return (
        "WITH "
        + ",\n    ".join(blocks)
        + f"""
    SELECT lab AS community, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM {last} GROUP BY 1 HAVING COUNT(*) >= {_LPA_MIN_SIZE}"""
    )


def _lpa_labels(spark: SparkSession, sf: str) -> tuple[DataFrame, DataFrame]:
    """(symmetric edge list, converged-at-K-rounds labels) — the Spark twin
    of :func:`_lpa_blocks`, shared by graph_label_propagation and
    graph_modularity."""
    li = _t(spark, sf, "lineitem").filter(
        F.col("l_orderkey") % _LPA_EDGE_MOD == 0
    )
    a = li.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("v"))
    ed = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") != F.col("v"))
        .select("u", "v")
        .distinct()
        # lazy (fixed round count, no driver reads — the pagerank rationale)
        .localCheckpoint(eager=False)  # reused every round
    )
    labels = ed.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("lab")
    )
    for _ in range(_LPA_ITERS):
        nb = (
            ed.join(labels, ed["v"] == labels["node"])
            .groupBy(ed["u"].alias("node"), "lab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        wn = W.partitionBy("node").orderBy(F.col("c").desc(), "lab")
        labels = (
            nb.withColumn("rn", F.row_number().over(wn))
            .filter(F.col("rn") == 1)
            .select("node", "lab")
            .localCheckpoint(eager=False)
        )
    return ed, labels


@query(
    "graph_label_propagation",
    oracle=_lpa_oracle(),
    doc=f"Community detection by synchronous label propagation on the part "
    "co-purchase graph: every node starts as its own label; each of "
    f"{_LPA_ITERS} SYNCHRONOUS rounds relabels every node to its "
    "neighbors' most frequent label, ties broken by smallest label — "
    "fully deterministic (async LPA's order-dependence is exactly what "
    "a distributed engine cannot promise, so the synchronous fixed-step "
    "variant is the one that hash-matches across engines; the oracle "
    "unrolls the rounds as chained CTEs). Each round is one shuffle "
    "join (edges x labels on the neighbor endpoint) + one "
    "map-side-combining count + one window ranked WITHIN node "
    "partitions — no global sort, no broadcast of the O(|V|) label "
    "table (the pagerank de-broadcast lesson applied from the start). "
    "localCheckpoint per round keeps the plan linear in rounds. Output "
    f"is communities of >= {_LPA_MIN_SIZE} nodes.",
)
def graph_label_propagation(spark: SparkSession, sf: str) -> DataFrame:
    _, labels = _lpa_labels(spark, sf)
    return (
        labels.groupBy(F.col("lab").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        .filter(F.col("n_nodes") >= _LPA_MIN_SIZE)
    )


def _modularity_oracle() -> str:
    blocks, last = _lpa_blocks()
    blocks += [
        "deg AS (SELECT u AS node, COUNT(*) AS deg FROM ed GROUP BY 1)",
        "tot AS (SELECT COUNT(*) AS e2 FROM ed)",
        f"""com AS (
      SELECT l.lab AS community, COUNT(*) AS n_nodes,
             SUM(d.deg) AS degree_sum
      FROM {last} l JOIN deg d ON l.node = d.node GROUP BY 1
    )""",
        f"""inte AS (
      SELECT lu.lab AS community, COUNT(*) AS internal_edges
      FROM ed e
      JOIN {last} lu ON e.u = lu.node
      JOIN {last} lv ON e.v = lv.node
      WHERE lu.lab = lv.lab GROUP BY 1
    )""",
    ]
    return (
        "WITH "
        + ",\n    ".join(blocks)
        + """
    SELECT c.community,
           CAST(c.n_nodes AS BIGINT) AS n_nodes,
           CAST(COALESCE(i.internal_edges, 0) AS BIGINT) AS internal_edges,
           CAST(c.degree_sum AS BIGINT) AS degree_sum,
           CAST(COALESCE(i.internal_edges, 0) * (SELECT e2 FROM tot)
                - c.degree_sum * c.degree_sum AS BIGINT)
             AS contribution_scaled
    FROM com c LEFT JOIN inte i ON c.community = i.community"""
    )


@query(
    "graph_modularity",
    oracle=_modularity_oracle(),
    doc="Community-quality EVALUATION over the label-propagation partition "
    "(the detection op's missing other half — 'did LPA find real "
    "structure?'): per community, its node count, internal directed-edge "
    "count, degree sum, and its modularity contribution in EXACT integer "
    "fixed point — Q_c scaled by (2m)^2 is internal_edges*2m - "
    "degree_sum^2, so no float division or summation order exists "
    "anywhere and the oracle hash-matches bit-for-bit (sum the scaled "
    "column / (2m)^2 for Newman's Q). Plan: the LPA rounds' own shuffles, "
    "then one degree aggregate, one node->label join for degree sums and "
    "one edge->label-x-label join for internal edges — the same "
    "O(|E|)-shuffle class as a single LPA round; 2m is a 1-row scalar "
    "reduce inlined as a literal. int64 holds through ~3e9 directed "
    "edges (degree_sum^2 < 2^63); beyond that the scaled column widens "
    "to decimal(38,0) — the structure is unchanged.",
)
def graph_modularity(spark: SparkSession, sf: str) -> DataFrame:
    ed, labels = _lpa_labels(spark, sf)
    e2 = ed.count()  # 2m: one scalar action on the checkpointed edge list
    deg = ed.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    com = (
        labels.join(deg, "node")
        .groupBy(F.col("lab").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("deg").cast("long").alias("degree_sum"),
        )
    )
    lu = labels.select(F.col("node").alias("u"), F.col("lab").alias("lab_u"))
    lv = labels.select(F.col("node").alias("v"), F.col("lab").alias("lab_v"))
    inte = (
        ed.join(lu, "u")
        .join(lv, "v")
        .filter(F.col("lab_u") == F.col("lab_v"))
        .groupBy(F.col("lab_u").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("internal_edges"))
    )
    return (
        com.join(inte, "community", "left")
        .withColumn(
            "internal_edges",
            F.coalesce(F.col("internal_edges"), F.lit(0)).cast("long"),
        )
        .select(
            "community",
            "n_nodes",
            "internal_edges",
            "degree_sum",
            (
                F.col("internal_edges") * F.lit(int(e2))
                - F.col("degree_sum") * F.col("degree_sum")
            )
            .cast("long")
            .alias("contribution_scaled"),
        )
    )


# --------------------------------------------------------------------------
# graph: k-core decomposition (iterative peeling)
# --------------------------------------------------------------------------

_KCORE_K = 8
_KCORE_PEELS = 8  # oracle unroll depth: converged at every test SF
_KCORE_MAX_ROUNDS = 8  # Spark safety cap: rounds of 2 peels each


def _kcore_oracle() -> str:
    blocks = [
        f"""c0 AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey
      WHERE a.l_orderkey % {_LPA_EDGE_MOD} = 0
    )"""
    ]
    for i in range(_KCORE_PEELS):
        # MATERIALIZED is load-bearing: DuckDB inlines plain CTEs per
        # reference, and each peel references its predecessor three times —
        # an un-materialized chain re-expands the base self-join 3^peels
        # times (measured: a hang at sf0.01; 0.09 s materialized)
        blocks.append(f"""c{i + 1} AS MATERIALIZED (
      SELECT e.u, e.v FROM c{i} e
      JOIN (SELECT u FROM c{i} GROUP BY u
            HAVING COUNT(*) >= {_KCORE_K}) ka ON e.u = ka.u
      JOIN (SELECT u FROM c{i} GROUP BY u
            HAVING COUNT(*) >= {_KCORE_K}) kb ON e.v = kb.u
    )""")
    return (
        "WITH "
        + ",\n    ".join(blocks)
        + f"""
    SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM c{_KCORE_PEELS} GROUP BY 1"""
    )


@query(
    "graph_kcore",
    oracle=_kcore_oracle(),
    doc=f"{_KCORE_K}-core decomposition of the part co-purchase graph by "
    "iterative peeling — the standard dense-subgraph/influence filter "
    "(and the spam-ring detector in web-graph pipelines): repeatedly "
    f"drop every node with degree < {_KCORE_K} until a fixed point; what "
    "survives is the maximal subgraph where everyone keeps >= k "
    "neighbors. Each peel is one map-side-combining degree count + two "
    "semi-join filters on the edge list — all hash exchanges on node "
    "ids, nothing global. The Spark loop runs TWO peels per "
    "localCheckpoint (halving the per-action overhead that dominates an "
    "iterative operator's wall-clock) and EARLY-EXITS on the fixed "
    "point: edge count is monotonically nonincreasing, so an unchanged "
    "count across a double peel proves convergence — peeling a fixed "
    "point is the identity, which is also why the early-exited result "
    f"equals the oracle's fixed {_KCORE_PEELS}-peel unroll. A loud "
    "RuntimeError fires if the safety cap is hit before the fixed point "
    "(the round count is data-dependent; the guard keeps the cap "
    "honest). At 100 TB peeling runs O(peak-coreness) rounds "
    "worst-case; production engines bound it exactly this way and "
    "checkpoint between rounds.",
)
def graph_kcore(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem").filter(
        F.col("l_orderkey") % _LPA_EDGE_MOD == 0
    )
    a = li.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") != F.col("v"))
        .select("u", "v")
        .distinct()
        # lazy: the count below is the materializing action (one job per
        # round instead of checkpoint-job + count-job)
        .localCheckpoint(eager=False)
    )
    prev = edges.count()
    for _ in range(_KCORE_MAX_ROUNDS):
        for _ in range(2):  # two lazy peels per materialization
            deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
            keep = deg.filter(F.col("d") >= _KCORE_K).select("u")
            edges = edges.join(keep, "u", "left_semi").join(
                keep.select(F.col("u").alias("v")), "v", "left_semi"
            )
        edges = edges.localCheckpoint(eager=False)
        n = edges.count()  # materializes the lazy checkpoint
        if n == prev:  # no edge dropped in two peels => fixed point
            break
        prev = n
    else:
        raise RuntimeError(
            f"k-core: no fixed point within {2 * _KCORE_MAX_ROUNDS} peels; "
            "raise _KCORE_MAX_ROUNDS for this data scale"
        )
    return edges.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("core_degree")
    )


# --------------------------------------------------------------------------
# Q91 share-of-total (ratio-to-report) revenue hierarchy
# --------------------------------------------------------------------------


@query(
    "q91_share_of_total",
    oracle="""
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2
    )
    SELECT region, nation, cents,
           CAST(FLOOR(cents * 1000000.0 / SUM(cents) OVER (PARTITION BY
                region)) AS BIGINT) AS region_share_ppm,
           CAST(FLOOR(cents * 1000000.0 / SUM(cents) OVER ()) AS BIGINT)
             AS global_share_ppm,
           CAST(RANK() OVER (PARTITION BY region ORDER BY cents DESC)
                AS BIGINT) AS rank_in_region
    FROM rev
    """,
    doc="Share-of-total (ratio-to-report) revenue hierarchy: each nation's "
    "exact-integer-cents revenue with its ppm share of the region, ppm "
    "share of the world, and rank within region — the nested "
    "percent-of-total every BI rollup renders. The fact scan reduces "
    "FIRST (one map-side-combining aggregate down to ~|nations| rows); "
    "all three window passes then run over that tiny aggregate, so the "
    "global-total window's SinglePartition exchange touches 25 rows "
    "(allowlisted), never the fact table — the difference between this "
    "shape and a naive window-over-facts is the whole 100 TB story. "
    "Dimension joins broadcast. Shares are truncating integer ppm "
    "(exact cross-engine); revenue rides the standing ROUND(x*100) "
    "cents idiom.",
)
def q91_share_of_total(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    wr = W.partitionBy("region")
    wg = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return rev.select(
        "region",
        "nation",
        "cents",
        # shares via float-floor, not cents*1e6 integer div: the int64
        # product overflows under ANSI once a nation's revenue passes
        # ~9.2e12 cents (~sf10); the double pipeline is identical IEEE on
        # both engines, overflow-free, and FLOOR pins the last digit
        F.floor(F.col("cents") * 1000000.0 / F.sum("cents").over(wr))
        .cast("long")
        .alias("region_share_ppm"),
        F.floor(F.col("cents") * 1000000.0 / F.sum("cents").over(wg))
        .cast("long")
        .alias("global_share_ppm"),
        F.rank()
        .over(W.partitionBy("region").orderBy(F.col("cents").desc()))
        .cast("long")
        .alias("rank_in_region"),
    )


# --------------------------------------------------------------------------
# Q92 label-mix entropy (segment balance audit)
# --------------------------------------------------------------------------


@query(
    "q92_mix_entropy",
    oracle="""
    WITH seg AS (
      SELECT CAST(user_id % 10 AS BIGINT) AS segment, event_type
      FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    ),
    cnt AS (SELECT segment, event_type, COUNT(*) AS n FROM seg GROUP BY 1, 2),
    tot AS (SELECT segment, SUM(n) AS t, COUNT(*) AS k FROM cnt GROUP BY 1)
    SELECT c.segment,
           CAST(MIN(t.t) AS BIGINT) AS n_events,
           CAST(MIN(t.k) AS BIGINT) AS n_types,
           -- +0.0 normalizes IEEE -0.0 (single-type segment: -SUM(1*ln 1))
           -- to +0.0; Spark's BigDecimal round already returns +0.0 and the
           -- parity harness compares float repr, where '-0.0' != '0.0'
           ROUND(-SUM((n * 1.0 / t.t) * LN(n * 1.0 / t.t)), 4) + 0.0
             AS entropy_nats,
           CASE WHEN MIN(t.k) > 1
                THEN ROUND(-SUM((n * 1.0 / t.t) * LN(n * 1.0 / t.t))
                           / LN(MIN(t.k)), 4) + 0.0 END AS balance
    FROM cnt c JOIN tot t ON c.segment = t.segment
    GROUP BY c.segment
    """,
    doc="Label-mix entropy per segment — the class-balance audit a training "
    "pipeline runs before stratified sampling (a segment whose event mix "
    "collapsed to one type is a data bug; `balance` = entropy normalized "
    "by ln(k) is the 0..1 evenness score). Two map-side-combining "
    "aggregates (segment x type counts, then per-segment reduce) — the "
    "only rows that ever shuffle are the |segments| x |types| count "
    "table. Probabilities and logs are float, so the output rounds to 4 "
    "digits (the exact-percentiles precedent: libm and summation-order "
    "noise live ~11 orders below that grain); the single-type edge case "
    "emits NULL balance on BOTH engines rather than an ANSI "
    "divide-by-zero.",
)
def q92_mix_entropy(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    cnt = e.groupBy(
        (F.col("user_id") % 10).cast("long").alias("segment"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = cnt.groupBy("segment").agg(
        F.sum("n").alias("t"), F.count(F.lit(1)).alias("k")
    )
    p = F.col("n") * 1.0 / F.col("t")
    ent = -F.sum(p * F.log(p))
    return (
        cnt.join(tot, "segment")
        .groupBy("segment")
        .agg(
            F.min("t").cast("long").alias("n_events"),
            F.min("k").cast("long").alias("n_types"),
            (F.round(ent, 4) + F.lit(0.0)).alias("entropy_nats"),
            F.when(
                F.min("k") > 1, F.round(ent / F.log(F.min("k")), 4) + F.lit(0.0)
            ).alias("balance"),
        )
    )


# --------------------------------------------------------------------------
# Q93 ABC (Pareto) inventory classification
# --------------------------------------------------------------------------

_ABC_A_PPM = 700000  # cumulative-share boundaries, ppm
_ABC_B_PPM = 900000


@query(
    "q93_abc_classification",
    oracle=f"""
    WITH rev AS (
      SELECT r.r_name AS region, l.l_partkey AS partkey,
             CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT region, partkey, cents,
             SUM(cents) OVER (PARTITION BY region
                              ORDER BY cents DESC, partkey
                              ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(cents) OVER (PARTITION BY region) AS tw
      FROM rev
    )
    SELECT region,
           CASE WHEN FLOOR(cw * 1000000.0 / tw) <= {_ABC_A_PPM} THEN 'A'
                WHEN FLOOR(cw * 1000000.0 / tw) <= {_ABC_B_PPM} THEN 'B'
                ELSE 'C' END AS klass,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(cents) AS BIGINT) AS class_cents
    FROM cum GROUP BY 1, 2
    """,
    doc="ABC (Pareto 80/20) inventory classification per region: parts "
    "ranked by exact-integer-cents revenue; a part is class A while the "
    f"cumulative share is <= {_ABC_A_PPM // 10000}%, B to "
    f"{_ABC_B_PPM // 10000}%, else C — the classification behind every "
    "stock-priority / catalog-curation decision. The fact table reduces "
    "FIRST (one map-side-combining (region, part) aggregate); the "
    "cumulative window then runs per region over the part aggregate with "
    "a UNIQUE ordering (revenue desc, partkey) so the ROWS frame is "
    "deterministic, and shares are truncating integer ppm — exact "
    "cross-engine at every boundary. Dimension joins broadcast. At "
    "100 TB the per-region sort covers the PARTS dimension, not facts; "
    "if one region's catalog outgrows a task, the q70/q87 two-level "
    "prefix-sum construction replaces the window (same algebra, "
    "documented escape hatch).",
)
def q93_abc_classification(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem")
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    rev = (
        # supplier is NOT broadcast-hinted: unlike nation/region it grows
        # with scale (10k rows/SF) — the planner decides per stats
        li.join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(
            F.col("r_name").alias("region"),
            F.col("l_partkey").alias("partkey"),
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    wc = (
        W.partitionBy("region")
        .orderBy(F.col("cents").desc(), "partkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # float-floor, not an int64 cents*1e6 product: that overflows under
    # ANSI at ~sf2 of cumulative revenue; the double pipeline is identical
    # IEEE on both engines and overflow-free
    share = F.floor(
        F.sum("cents").over(wc)
        * 1000000.0
        / F.sum("cents").over(W.partitionBy("region"))
    ).cast("long")
    cum = rev.select("region", "cents", share.alias("share_ppm"))
    klass = (
        F.when(F.col("share_ppm") <= _ABC_A_PPM, "A")
        .when(F.col("share_ppm") <= _ABC_B_PPM, "B")
        .otherwise("C")
    )
    return cum.groupBy("region", klass.alias("klass")).agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("cents").cast("long").alias("class_cents"),
    )


# --------------------------------------------------------------------------
# Q94 conversion time (first view -> first subsequent purchase)
# --------------------------------------------------------------------------


@query(
    "q94_time_to_convert",
    oracle="""
    WITH fv AS (
      SELECT user_id, MIN(ts) AS v
      FROM events
      WHERE event_type = 'view' AND user_id IS NOT NULL AND ts IS NOT NULL
      GROUP BY 1
    ),
    conv AS (
      SELECT fv.user_id,
             (EPOCH_US(MIN(e.ts)) - EPOCH_US(MIN(fv.v))) // 1000000 AS delta_s
      FROM fv JOIN events e
        ON e.user_id = fv.user_id AND e.event_type = 'purchase'
       AND e.ts > fv.v
      GROUP BY 1
    )
    SELECT CAST(user_id % 5 AS BIGINT) AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_converters,
           MEDIAN(delta_s) AS median_delta_s,
           ROUND(QUANTILE_CONT(delta_s, 0.90), 4) AS p90_delta_s
    FROM conv GROUP BY 1
    """,
    doc="Time-to-convert: for each user, the exact integer seconds between "
    "the first 'view' and the first 'purchase' STRICTLY AFTER it, "
    "summarized per user segment (converter count, median, p90) — the "
    "conversion-latency report behind funnel SLAs. Two "
    "map-side-combining aggregates and one keyed join (first-view table "
    "joins back to purchases; the strictly-after predicate rides the "
    "join, so non-converters drop out before any window). Deltas are "
    "truncating integer seconds from unix_micros; the median of "
    "integers interpolates two middles in exact halves on both engines, "
    "and p90 rounds at the exact-percentiles grain (interpolation ulp). "
    "At 100 TB: two shuffles on user_id and a join that carries only "
    "converting users.",
)
def q94_time_to_convert(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    fv = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v"))
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts")
    )
    conv = (
        fv.join(p, "user_id")
        .filter(F.col("pts") > F.col("v"))
        .groupBy("user_id", "v")
        .agg(F.min("pts").alias("fp"))
        .select(
            "user_id",
            F.call_function(
                "div",
                F.unix_micros("fp") - F.unix_micros("v"),
                F.lit(1000000),
            ).alias("delta_s"),
        )
    )
    return conv.groupBy(
        (F.col("user_id") % 5).cast("long").alias("segment")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_converters"),
        F.median("delta_s").alias("median_delta_s"),
        F.round(F.percentile("delta_s", F.lit(0.90)), 4).alias(
            "p90_delta_s"
        ),
    )


# --------------------------------------------------------------------------
# Q95 new vs returning daily actives
# --------------------------------------------------------------------------


@query(
    "q95_new_vs_returning",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id, CAST(DATE_TRUNC('day', ts) AS DATE) AS day
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    f AS (
      SELECT user_id, day,
             MIN(day) OVER (PARTITION BY user_id) AS first_day
      FROM d
    )
    SELECT day,
           CAST(COUNT(*) FILTER (WHERE day = first_day) AS BIGINT) AS n_new,
           CAST(COUNT(*) FILTER (WHERE day > first_day) AS BIGINT)
             AS n_returning
    FROM f GROUP BY 1
    """,
    doc="New-vs-returning daily actives — the growth-accounting split on "
    "every product dashboard: a user counts as NEW on their first active "
    "day and RETURNING on every later active day. One distinct "
    "(user, day) reduction (map-side combining — the raw event volume "
    "never shuffles twice), one per-user window for the first active "
    "day, one day-level aggregate. All joins/windows key on user_id or "
    "day — at 100 TB this is two hash exchanges, no global anything; "
    "the same first-seen window feeds q78's retention matrix, and the "
    "(new + returning) column sums to daily actives by construction.",
)
def q95_new_vs_returning(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    d = e.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    f = d.select(
        "user_id",
        "day",
        F.min("day").over(W.partitionBy("user_id")).alias("first_day"),
    )
    return f.groupBy("day").agg(
        F.count(F.when(F.col("day") == F.col("first_day"), 1))
        .cast("long")
        .alias("n_new"),
        F.count(F.when(F.col("day") > F.col("first_day"), 1))
        .cast("long")
        .alias("n_returning"),
    )


# --------------------------------------------------------------------------
# Q96 CUBE / grouping sets (multi-level aggregation with grouping ids)
# --------------------------------------------------------------------------


@query(
    "q96_cube_grouping",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE aggregation — all four grouping sets of (status, priority) in "
    "one pass with GROUPING() ids disambiguating rolled-up NULLs, the "
    "OLAP summary surface (ROLLUP/CUBE/GROUPING SETS) the registry was "
    "missing. Spark's cube() expands to a single Expand + hash aggregate: "
    "partial aggregation still combines map-side per grouping set, so the "
    "shuffle carries |sets| x |group domain| rows, not the fact table. "
    "grouping_id() bit order (first column = MSB) matches DuckDB's "
    "GROUPING(a, b). Exact integer cents; one shuffle.",
)
def q96_cube_grouping(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "sum_cents"
            ),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n", "sum_cents")
    )


# --------------------------------------------------------------------------
# Q97 IQR outlier fences (exact quartiles -> Tukey fences -> outlier shares)
# --------------------------------------------------------------------------


@query(
    "q97_outlier_fences",
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
    ),
    s AS (
      SELECT event_type, COUNT(*) AS n,
             quantile_cont(cents, 0.25) AS q1,
             quantile_cont(cents, 0.75) AS q3
      FROM c GROUP BY 1
    )
    SELECT s.event_type, CAST(s.n AS BIGINT) AS n,
           s.q1 AS q1_cents, s.q3 AS q3_cents,
           CAST(COUNT(*) FILTER (WHERE cents < s.q1 - 1.5 * (s.q3 - s.q1)
                              OR cents > s.q3 + 1.5 * (s.q3 - s.q1))
                AS BIGINT) AS n_outliers,
           CAST(FLOOR(COUNT(*) FILTER (WHERE cents < s.q1 - 1.5 * (s.q3 - s.q1)
                                   OR cents > s.q3 + 1.5 * (s.q3 - s.q1))
                      * 1000000.0 / s.n) AS BIGINT) AS outlier_ppm
    FROM c JOIN s USING (event_type)
    GROUP BY s.event_type, s.n, s.q1, s.q3
    """,
    doc="Tukey-fence outlier profile per event type — exact quartiles over "
    "integer cents, 1.5 IQR fences, outlier count + ppm share: the "
    "anomaly-rate report behind data-quality monitors. Determinism by "
    "construction: quartile interpolation at g in {0,.25,.5,.75} over "
    "integers is EXACT in binary floating point (quarter-fractions and "
    "integer products never round), so fences and comparisons are "
    "bit-identical across engines — no ROUND truce needed, unlike q73's "
    "arbitrary-percentile interpolation. Two passes over events (one "
    "grouped quantile aggregate, one fence-count join against the "
    "broadcast 5-row stats table); exact-quantile state is "
    "group-cardinality-bounded, the documented q73 trade.",
)
def q97_outlier_fences(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    c = e.select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    s = c.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile("cents", F.array(F.lit(0.25), F.lit(0.75))).alias("qq"),
    ).select(
        F.col("event_type").alias("et"),
        "n",
        F.col("qq")[0].alias("q1"),
        F.col("qq")[1].alias("q3"),
    )
    lo = F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    out = F.count(
        F.when((F.col("cents") < lo) | (F.col("cents") > hi), 1)
    )
    return (
        c.join(F.broadcast(s), c["event_type"] == F.col("et"))
        .groupBy("event_type", "n", "q1", "q3")
        .agg(out.alias("n_outliers"))
        .select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.col("q1").alias("q1_cents"),
            F.col("q3").alias("q3_cents"),
            F.col("n_outliers").cast("long").alias("n_outliers"),
            F.floor(
                F.col("n_outliers") * F.lit(1000000.0) / F.col("n")
            ).cast("long").alias("outlier_ppm"),
        )
    )


# --------------------------------------------------------------------------
# Q98 ordered funnel (strict min-time cascade over event steps)
# --------------------------------------------------------------------------

_Q98_STEPS = ["signup", "view", "click", "purchase"]


@query(
    "q98_funnel_steps",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, ts FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    s1 AS (SELECT user_id, MIN(ts) AS t FROM e
           WHERE event_type = 'signup' GROUP BY 1),
    s2 AS (SELECT e.user_id, MIN(e.ts) AS t FROM e JOIN s1 USING (user_id)
           WHERE e.event_type = 'view' AND e.ts > s1.t GROUP BY 1),
    s3 AS (SELECT e.user_id, MIN(e.ts) AS t FROM e JOIN s2 USING (user_id)
           WHERE e.event_type = 'click' AND e.ts > s2.t GROUP BY 1),
    s4 AS (SELECT e.user_id, MIN(e.ts) AS t FROM e JOIN s3 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > s3.t GROUP BY 1),
    n AS (
      SELECT 1 AS step, 'signup' AS step_name, COUNT(*) AS c FROM s1
      UNION ALL SELECT 2, 'view', COUNT(*) FROM s2
      UNION ALL SELECT 3, 'click', COUNT(*) FROM s3
      UNION ALL SELECT 4, 'purchase', COUNT(*) FROM s4
    ),
    base AS (SELECT c AS c0 FROM n WHERE step = 1)
    SELECT CAST(step AS BIGINT) AS step, step_name,
           CAST(c AS BIGINT) AS n_users,
           CAST(FLOOR(c * 1000000.0 / c0) AS BIGINT) AS conv_ppm
    FROM n, base
    """,
    doc="Ordered conversion funnel (signup -> view -> click -> purchase) "
    "with STRICT ordering: step k counts a user only if their earliest "
    "step-k event falls strictly after their step-(k-1) time — the "
    "min-time cascade, not mere event existence (q66's regex funnel "
    "checks patterns; this one yields per-step user counts + conversion "
    "ppm, the growth-team shape). Each step is one keyed aggregate plus "
    "one hash join on user_id against the previous step's (user, t) "
    "table — k steps = k co-partitioned shuffles, nothing global; the "
    "step-count assembly is a 4-group aggregate and the base count is a "
    "1-row bounded driver read (bm25 stats-row discipline).",
)
def q98_funnel_steps(spark: SparkSession, sf: str) -> DataFrame:
    e = (
        _t(spark, sf, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", "event_type", "ts")
        .localCheckpoint()  # consumed once per funnel step
    )
    steps = []
    prev = None
    for step_name in _Q98_STEPS:
        cur = e.filter(F.col("event_type") == step_name)
        if prev is not None:
            cur = cur.join(
                prev.select("user_id", F.col("t").alias("pt")), "user_id"
            ).filter(F.col("ts") > F.col("pt"))
        prev = cur.groupBy("user_id").agg(F.min("ts").alias("t"))
        steps.append(prev)
    tagged = None
    for i, (sdf, nm) in enumerate(zip(steps, _Q98_STEPS), start=1):
        d = sdf.select(
            F.lit(i).cast("long").alias("step"),
            F.lit(nm).alias("step_name"),
            "user_id",
        )
        tagged = d if tagged is None else tagged.unionByName(d)
    counts = tagged.groupBy("step", "step_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    base = steps[0].count()  # 1-row scalar, inlined (bm25 pattern)
    return counts.select(
        "step",
        "step_name",
        "n_users",
        F.floor(F.col("n_users") * F.lit(1000000.0) / F.lit(base))
        .cast("long")
        .alias("conv_ppm"),
    )


# --------------------------------------------------------------------------
# Q99 day-of-week seasonality index (epoch-day arithmetic, engine-neutral)
# --------------------------------------------------------------------------


@query(
    "q99_dow_seasonality",
    oracle="""
    WITH c AS (
      SELECT (CAST(o_orderdate AS DATE) - DATE '1970-01-05') % 7 AS dow,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    d AS (SELECT dow, COUNT(*) AS n, SUM(cents) AS sum_cents
          FROM c GROUP BY 1),
    t AS (SELECT SUM(sum_cents) AS total FROM d)
    SELECT CAST(dow AS BIGINT) AS dow, CAST(n AS BIGINT) AS n_orders,
           CAST(sum_cents AS BIGINT) AS sum_cents,
           CAST(FLOOR(CAST(sum_cents AS DOUBLE) * 7000000.0 / t.total)
                AS BIGINT) AS index_ppm
    FROM d, t
    """,
    doc="Day-of-week revenue seasonality — per-weekday order volume, exact "
    "cents, and a seasonality index (share of revenue x 7, in ppm; 1e6 = "
    "a flat weekday). The weekday derives from pure EPOCH-DAY INTEGER "
    "arithmetic (days since Monday 1970-01-05, mod 7 -> 0=Monday) because "
    "the engines' native dayofweek functions disagree on week start — "
    "datediff is the one date primitive with identical semantics. The "
    "index multiplies in DOUBLE (the ppm-overflow lesson: int64 "
    "cents*7e6 overflows around sf100 while DuckDB silently widens to "
    "HUGEINT; the double product is IEEE-identical on both engines). "
    "One map-side-combining aggregate to 7 rows; the total is a 1-row "
    "driver read inlined as a literal.",
)
def q99_dow_seasonality(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    c = o.select(
        F.pmod(
            F.datediff(F.col("o_orderdate"), F.lit("1970-01-05").cast("date")),
            F.lit(7),
        ).alias("dow"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    d = c.groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").alias("sum_cents"),
    ).localCheckpoint()  # 7 rows; consumed by the total read AND the result
    total = d.agg(F.sum("sum_cents")).collect()[0][0]
    return d.select(
        F.col("dow").cast("long").alias("dow"),
        "n_orders",
        F.col("sum_cents").cast("long").alias("sum_cents"),
        F.floor(
            F.col("sum_cents").cast("double") * F.lit(7000000.0) / F.lit(float(total))
        ).cast("long").alias("index_ppm"),
    )


# --------------------------------------------------------------------------
# graph: resource-allocation link prediction (degree-weighted common neighbors)
# --------------------------------------------------------------------------


@query(
    "graph_resource_allocation",
    oracle=f"""
    WITH ed AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey
      WHERE a.l_orderkey % 25 = 0
    ),
    deg AS (SELECT u, COUNT(*) AS d FROM ed GROUP BY 1),
    wedge AS (
      SELECT e1.u AS a, e2.u AS b,
             COUNT(*) AS common,
             SUM(1000000000 // dz.d) AS ra_score_e9
      FROM ed e1 JOIN ed e2 ON e1.v = e2.v AND e1.u < e2.u
      JOIN deg dz ON e1.v = dz.u
      GROUP BY 1, 2
    )
    SELECT w.a, w.b, CAST(w.common AS BIGINT) AS common_neighbors,
           CAST(w.ra_score_e9 AS BIGINT) AS ra_score_e9
    FROM wedge w LEFT JOIN ed ON w.a = ed.u AND w.b = ed.v
    WHERE ed.u IS NULL AND w.common >= {_LP_MIN_COMMON}
    """,
    doc="Resource-allocation link prediction — common neighbors weighted "
    "by 1/degree of the SHARED neighbor (Zhou-Lü-Zhang's RA index, the "
    "strongest of the simple local indices): a rare co-purchase says "
    "more than a ubiquitous one, which plain common-neighbor counting "
    "(graph_link_prediction) cannot express. Contributions are exact "
    "integers (1e9 // deg(z), truncating div — identical on both "
    "engines; float 1/deg sums would be partition-order-dependent), so "
    "the score is hash-certifiable. Shape: the same wedge join as "
    "link prediction but carrying the shared endpoint's degree through "
    "the wedge (one extra broadcast-size degree join BEFORE the pair "
    "aggregate, so weights combine map-side), then the non-adjacency "
    "anti-join. Hub capping bounds the wedge at 100 TB exactly as "
    "documented on the other graph operators.",
)
def graph_resource_allocation(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem").filter(F.col("l_orderkey") % 25 == 0)
    a = li.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("v"))
    ed = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") != F.col("v"))
        .select("u", "v")
        .distinct()
        .localCheckpoint()  # feeds wedge join (twice), degree, anti-join
    )
    deg = ed.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    dz = deg.select(F.col("u").alias("w"), F.col("d").alias("dz"))
    e1 = ed.select(F.col("u").alias("a"), F.col("v").alias("w"))
    e2 = ed.select(F.col("u").alias("b"), F.col("v").alias("w"))
    wedge = (
        e1.join(e2, "w")
        .filter(F.col("a") < F.col("b"))
        .join(dz, "w")  # weight rides the wedge; combines map-side below
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.sum(
                F.call_function("div", F.lit(1_000_000_000), F.col("dz"))
            ).alias("ra_score_e9"),
        )
        .filter(F.col("common") >= _LP_MIN_COMMON)
    )
    nonadj = wedge.join(
        ed,
        (wedge["a"] == ed["u"]) & (wedge["b"] == ed["v"]),
        "left_anti",
    )
    return nonadj.select(
        "a",
        "b",
        F.col("common").cast("long").alias("common_neighbors"),
        F.col("ra_score_e9").cast("long").alias("ra_score_e9"),
    )


# --------------------------------------------------------------------------
# Q100 Lorenz/Gini concentration of customer spend (exact, global-sort-free)
# --------------------------------------------------------------------------


@query(
    "q100_lorenz_gini",
    oracle="""
    WITH m AS (
      SELECT o_custkey,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS x
      FROM orders GROUP BY 1
    ),
    r AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x, o_custkey) AS k FROM m),
    s AS (SELECT COUNT(*) AS n, SUM(CAST(x AS HUGEINT)) AS t,
                 SUM(CAST(k AS HUGEINT) * x) AS sk
          FROM r)
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(t AS BIGINT) AS total_cents,
           CAST(FLOOR((2.0 * CAST(sk AS DOUBLE) - (n + 1) * CAST(t AS DOUBLE))
                      * 1000000.0 / (CAST(n AS DOUBLE) * CAST(t AS DOUBLE)))
                AS BIGINT) AS gini_ppm
    FROM s
    """,
    doc="Corpus-level Gini coefficient of customer spend (the Lorenz "
    "concentration number behind whale-revenue and data-skew reporting) "
    "via the rank identity G = (2·Σk·x₍k₎)/(n·Σx) − (n+1)/n — EXACT "
    "ranks over all customers with no global sort: the q79 "
    "range-partition construction assigns k = partition offset + "
    "within-partition row_number (P driver-side rows, cluster-bounded). "
    "Σk·x accumulates in DECIMAL(38,0) — int64 overflows around sf100 "
    "while DuckDB silently widens to HUGEINT (the ppm-divergence class); "
    "decimal sums are exact integer arithmetic on both engines, and the "
    "final ratio converts the same exact integers to DOUBLE identically. "
    "One aggregate + one range shuffle + a 1-row reduce.",
)
def q100_lorenz_gini(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    m = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("x")
    )
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ranged = (
        m.repartitionByRange(
            n_parts, F.col("x").asc(), F.col("o_custkey").asc()
        )
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()  # pin layout between the count action and ranking
    )
    counts = sorted(
        ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("c")).collect()
    )
    offs, acc = [], 0
    for row in counts:
        offs.append((row._pid, acc))
        acc += row.c
    offdf = spark.createDataFrame(offs, "_pid int, _off long")
    w = W.partitionBy("_pid").orderBy(F.col("x").asc(), F.col("o_custkey").asc())
    ranked = ranged.join(F.broadcast(offdf), "_pid").withColumn(
        "k", F.col("_off") + F.row_number().over(w)
    )
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("t"),
        F.sum(
            F.col("k").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)")
        ).alias("sk"),
    )
    nd = F.col("n").cast("double")
    td = F.col("t").cast("double")
    return s.select(
        F.col("n").cast("long").alias("n_customers"),
        F.col("t").cast("long").alias("total_cents"),
        F.floor(
            (F.lit(2.0) * F.col("sk").cast("double") - (nd + 1) * td)
            * F.lit(1000000.0)
            / (nd * td)
        )
        .cast("long")
        .alias("gini_ppm"),
    )


# --------------------------------------------------------------------------
# Q101 ANALYZE-style column statistics (the CBO/catalog-stats collection pass)
# --------------------------------------------------------------------------

_Q101_COLS = ["l_orderkey", "l_suppkey", "l_returnflag", "l_shipdate"]


@query(
    "q101_column_stats",
    oracle="""
    SELECT 'l_orderkey' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT(l_orderkey) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS ndv,
           CAST(MIN(l_orderkey) AS VARCHAR) AS min_s,
           CAST(MAX(l_orderkey) AS VARCHAR) AS max_s
    FROM lineitem
    UNION ALL
    SELECT 'l_suppkey', COUNT(*), COUNT(*) - COUNT(l_suppkey),
           COUNT(DISTINCT l_suppkey),
           CAST(MIN(l_suppkey) AS VARCHAR), CAST(MAX(l_suppkey) AS VARCHAR)
    FROM lineitem
    UNION ALL
    SELECT 'l_returnflag', COUNT(*), COUNT(*) - COUNT(l_returnflag),
           COUNT(DISTINCT l_returnflag),
           CAST(MIN(l_returnflag) AS VARCHAR), CAST(MAX(l_returnflag) AS VARCHAR)
    FROM lineitem
    UNION ALL
    SELECT 'l_shipdate', COUNT(*), COUNT(*) - COUNT(l_shipdate),
           COUNT(DISTINCT l_shipdate),
           CAST(CAST(l_min AS DATE) AS VARCHAR), CAST(CAST(l_max AS DATE) AS VARCHAR)
    FROM (SELECT *, MIN(l_shipdate) OVER () AS l_min,
                 MAX(l_shipdate) OVER () AS l_max FROM lineitem)
    GROUP BY l_min, l_max
    """,
    doc="ANALYZE-style column statistics — per column: row count, null "
    "count, EXACT distinct count, min/max rendered as text — the "
    "catalog-stats collection pass every cost-based optimizer and data "
    "catalog runs after ingest (Spark's own ANALYZE TABLE ... COMPUTE "
    "STATISTICS FOR COLUMNS shape, materialized as a queryable result). "
    "One pass per column family: Spark plans the multi-distinct "
    "aggregate via Expand (each distinct column gets its own partial "
    "dedup, map-side combined) — no join, no window; at 100 TB swap "
    "exact ndv for HLL (q42's sketch) per the documented trade. "
    "Dates/keys render identically on both engines (ISO dates, plain "
    "integers) — no float formatting exists.",
)
def q101_column_stats(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem")
    out = None
    for c in _Q101_COLS:
        is_date = c == "l_shipdate"
        col = F.col(c).cast("date") if is_date else F.col(c)
        d = li.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            (F.count(F.lit(1)) - F.count(col)).cast("long").alias("n_null"),
            F.countDistinct(col).cast("long").alias("ndv"),
            F.min(col).cast("string").alias("min_s"),
            F.max(col).cast("string").alias("max_s"),
        ).select(
            F.lit(c).alias("col_name"),
            "n_rows",
            "n_null",
            "ndv",
            "min_s",
            "max_s",
        )
        out = d if out is None else out.unionByName(d)
    return out


# --------------------------------------------------------------------------
# Q102 mergeable log-bucket quantile sketch (DDSketch-style, γ=2)
# --------------------------------------------------------------------------


@query(
    "q102_log_quantile_sketch",
    oracle="""
    WITH h AS (
      SELECT l_returnflag AS flag,
             CAST(LENGTH(BIN(CAST(ROUND(l_extendedprice * 100) AS BIGINT)))
                  AS BIGINT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem GROUP BY 1, 2
    ),
    c AS (
      SELECT flag, bucket,
             SUM(n) OVER (PARTITION BY flag ORDER BY bucket) AS cn,
             SUM(n) OVER (PARTITION BY flag) AS tot
      FROM h
    ),
    g AS (
      SELECT flag,
             MIN(CASE WHEN cn >= CEIL(CAST(0.5 AS DOUBLE) * tot)
                      THEN bucket END) AS p50,
             MIN(CASE WHEN cn >= CEIL(CAST(0.9 AS DOUBLE) * tot)
                      THEN bucket END) AS p90,
             MIN(CASE WHEN cn >= CEIL(CAST(0.99 AS DOUBLE) * tot)
                      THEN bucket END) AS p99,
             CAST(MIN(tot) AS BIGINT) AS total
      FROM c GROUP BY flag
    )
    SELECT flag, 'p50' AS q_label, CAST(p50 AS BIGINT) AS bucket,
           1.5 * POWER(2, p50 - 1) AS est_cents, total FROM g
    UNION ALL
    SELECT flag, 'p90', CAST(p90 AS BIGINT),
           1.5 * POWER(2, p90 - 1), total FROM g
    UNION ALL
    SELECT flag, 'p99', CAST(p99 AS BIGINT),
           1.5 * POWER(2, p99 - 1), total FROM g
    """,
    doc="Mergeable quantile sketch: a DDSketch with γ=2 — bucket index is "
    "the integer-cents MSB position, computed EXACTLY on both engines as "
    "LENGTH(BIN(cents)) (no floating log, so no ULP divergence at bucket "
    "edges; relative error is bounded by the bucket ratio, ≤2×). The "
    "sketch IS the (flag, bucket)→count map: a map-side-combining "
    "aggregate of ≤63 buckets per group, mergeable across partitions / "
    "days / reruns by adding counts — the property exact percentiles "
    "(q73) lack and the reason every 100 TB telemetry pipeline ships "
    "sketches, not sorted values. Quantile lookup = first bucket whose "
    "cumulative count crosses ceil(q·total), a window over the ≤63-row "
    "bucket domain per flag (corpus-INDEPENDENT bound: int64 has 63 MSB "
    "positions). The estimate 1.5·2^(b-1) is a power of two times 1.5 — "
    "IEEE-exact on both engines. Complements q33 (approx percentile), "
    "q73 (exact), q70 (equi-depth): this is the only mergeable one.",
)
def q102_log_quantile_sketch(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem")
    h = (
        li.select(
            F.col("l_returnflag").alias("flag"),
            F.length(
                F.expr("bin(CAST(ROUND(l_extendedprice * 100) AS BIGINT))")
            )
            .cast("long")
            .alias("bucket"),
        )
        .groupBy("flag", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    c = h.select(
        "flag",
        "bucket",
        F.sum("n")
        .over(W.partitionBy("flag").orderBy("bucket"))
        .alias("cn"),
        F.sum("n").over(W.partitionBy("flag")).alias("tot"),
    )

    def _pick(q: float):
        return F.min(
            F.when(
                F.col("cn") >= F.ceil(F.lit(q) * F.col("tot")), F.col("bucket")
            )
        )

    g = c.groupBy("flag").agg(
        _pick(0.5).alias("p50"),
        _pick(0.9).alias("p90"),
        _pick(0.99).alias("p99"),
        F.min("tot").cast("long").alias("total"),
    )
    # quantile lookup is conditional aggregation + an unpivot — never a
    # non-equi join (a broadcast theta join would plan BroadcastNestedLoopJoin)
    return g.select(
        "flag",
        F.expr(
            "stack(3, 'p50', p50, 'p90', p90, 'p99', p99) AS (q_label, bucket)"
        ),
        "total",
    ).select(
        "flag",
        "q_label",
        F.col("bucket").cast("long").alias("bucket"),
        (F.lit(1.5) * F.pow(F.lit(2.0), F.col("bucket") - 1)).alias(
            "est_cents"
        ),
        "total",
    )


# --------------------------------------------------------------------------
# Q103 JSON schema inference (semi-structured column profiling)
# --------------------------------------------------------------------------


@query(
    "q103_json_schema_infer",
    oracle="""
    WITH kv AS (
      SELECT u.key AS key,
             json_extract_string(props, '$.' || u.key) AS val
      FROM events, UNNEST(json_keys(props)) AS u(key)
    ),
    typed AS (
      SELECT key, val, TRY_CAST(val AS DOUBLE) AS d,
             CASE
               WHEN val IS NULL THEN 'null'
               WHEN val IN ('true', 'false') THEN 'boolean'
               WHEN TRY_CAST(val AS DOUBLE) IS NOT NULL THEN
                 CASE WHEN ABS(TRY_CAST(val AS DOUBLE)) <= 9007199254740992.0
                       AND TRY_CAST(val AS DOUBLE) % 1.0 = 0.0
                      THEN 'integer' ELSE 'number' END
               WHEN val LIKE '[%' THEN 'array'
               WHEN val LIKE '{%' THEN 'object'
               ELSE 'string'
             END AS inferred_type
      FROM kv
    )
    SELECT key, inferred_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT CASE WHEN d IS NOT NULL THEN d + 0.0 END)
              + COUNT(DISTINCT CASE WHEN d IS NULL THEN val END)
              AS BIGINT) AS ndv
    FROM typed GROUP BY key, inferred_type
    """,
    doc="JSON schema inference over a semi-structured column — the "
    "profiling pass every ingest of event/CDC payloads runs before "
    "declaring a typed schema: explode each document's keys "
    "(json_object_keys), extract each value as text, classify its JSON "
    "type, and aggregate (key, type) → occurrence count + distinct "
    "values. Classification is VALUE-based (TRY_CAST to double + "
    "2^53-bounded fmod integrality — FLOOR would be BIGINT-typed and "
    "ANSI-overflow in Spark while staying DOUBLE in DuckDB), never "
    "raw-text regex: the engines do "
    "not extract identical text for numbers (DuckDB json_extract_string "
    "normalizes 1e3 → '1000.0' and >53-bit ints to lossy double text; "
    "Spark's get_json_object preserves Jackson's rendering), but both "
    "texts parse to the SAME IEEE double, so the cast-based class and "
    "the double-valued ndv are hash-stable where text comparison is "
    "not. ndv splits per row kind: distinct doubles for numerics (+0.0 "
    "folds -0.0) plus distinct raw text otherwise — inside one (key, "
    "type) group only one term is ever non-zero. The test corpus's "
    "props is deliberately homogeneous (one integer key) — the operator "
    "is generic; heterogeneous keys simply yield more rows. Scale: "
    "explode is map-only, the aggregate map-side combines on (key, "
    "type) whose cardinality is the vocabulary of the schema, not the "
    "corpus. Caveats (shared by both engines): a JSON string whose text "
    "parses numeric classifies numeric (type-by-value), and container "
    "ndv compares minified JSON text.",
)
def q103_json_schema_infer(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events")
    kv = e.select(
        F.explode(F.json_object_keys("props")).alias("key"), "props"
    ).select(
        "key",
        F.expr("get_json_object(props, concat('$.', key))").alias("val"),
    )
    v, d = F.col("val"), F.expr("try_cast(val AS DOUBLE)")
    typed = kv.select(
        "key",
        "val",
        d.alias("d"),
        F.when(v.isNull(), "null")
        .when(v.isin("true", "false"), "boolean")
        .when(
            d.isNotNull(),
            F.when(
                (F.abs(d) <= F.lit(9007199254740992.0))
                & ((d % F.lit(1.0)) == F.lit(0.0)),
                "integer",
            ).otherwise("number"),
        )
        .when(v.startswith("["), "array")
        .when(v.startswith("{"), "object")
        .otherwise("string")
        .alias("inferred_type"),
    )
    dd = F.col("d")
    return typed.groupBy("key", "inferred_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (
            F.countDistinct(F.when(dd.isNotNull(), dd + F.lit(0.0)))
            + F.countDistinct(F.when(dd.isNull(), F.col("val")))
        )
        .cast("long")
        .alias("ndv"),
    )


# --------------------------------------------------------------------------
# Q104 hopping (sliding) event-time window
# --------------------------------------------------------------------------


@query(
    "q104_hopping_window",
    oracle=f"""
    SELECT CAST(TIME_BUCKET(INTERVAL '30 minutes', ts, TIMESTAMP '1970-01-01')
                - (k.k * INTERVAL '30 minutes') AS TIMESTAMP) AS wstart,
           event_type,
           COUNT(*) AS n,
           {o_dsum('value')} AS sum_value
    FROM events, (SELECT UNNEST(RANGE(4)) AS k) k
    GROUP BY 1, 2
    """,
    doc="Hopping (sliding) event-time window — width 2 h, slide 30 min: "
    "every event contributes to exactly width/slide = 4 overlapping "
    "windows, the batch form of the streaming hop the tumbling q29 "
    "cannot express (alerting and rate metrics read the SLIDING count). "
    "Spark side is the built-in F.window(ts, width, slide) — Catalyst "
    "expands it to the same epoch-aligned explode the DuckDB oracle "
    "replays as TIME_BUCKET(slide, origin=1970-01-01) - k·slide for k in "
    "0..3. The origin is EXPLICIT because the engines disagree by "
    "default: Spark F.window anchors at the 1970 epoch, DuckDB "
    "TIME_BUCKET at 2000-01-03 — they coincide only when the slide "
    "divides a whole day, so pinning the origin makes the alignment "
    "hold for ANY slide, not by accident. "
    "Money-exact sums ride the standing decimal-sum idiom. Scale: the "
    "explode is map-only ×4 fan-out before the ONE hash aggregate on "
    "(window, type) — map-side combine absorbs the fan-out, and window "
    "cardinality is calendar-bounded, not corpus-bounded.",
)
def q104_hopping_window(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events")
    return (
        e.groupBy(
            F.window("ts", "2 hours", "30 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("wstart"), "event_type", "n", "sum_value"
        )
    )


# --------------------------------------------------------------------------
# q105: k-anonymity audit (privacy governance)
# --------------------------------------------------------------------------

_KANON_K = 5  # the privacy bar: groups smaller than this are re-identifiable


@query(
    "q105_k_anonymity",
    oracle=f"""
    SELECT c_nationkey, c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS group_size,
           CAST(COUNT(DISTINCT CASE WHEN c_acctbal < 0 THEN 'neg'
                                    ELSE 'nonneg' END) AS BIGINT)
             AS sensitive_diversity,
           CAST(CASE WHEN COUNT(*) < {_KANON_K} THEN 1 ELSE 0 END AS INTEGER)
             AS at_risk
    FROM customer
    GROUP BY 1, 2
    """,
    doc="k-anonymity audit over the (c_nationkey, c_mktsegment) "
    "quasi-identifier pair — the privacy-governance pre-release gate: "
    f"every equivalence class's size (a class smaller than k={_KANON_K} "
    "means its members are re-identifiable by those attributes alone) "
    "plus an l-diversity signal (distinct values of the sensitive "
    "attribute's sign within the class — a class where everyone shares "
    "the sensitive value leaks it even at large k). One "
    "map-side-combining groupBy on the quasi-identifiers; the audit "
    "output is one row per equivalence class (bounded by the "
    "quasi-identifier domain, not the row count), so at 100 TB this is "
    "a single scan-bound aggregate. Suppression/generalization of the "
    "at-risk rows is downstream policy; the audit's job is the exact "
    "class inventory.",
)
def q105_k_anonymity(spark: SparkSession, sf: str) -> DataFrame:
    c = _t(spark, sf, "customer")
    sens = F.when(F.col("c_acctbal") < 0, F.lit("neg")).otherwise(
        F.lit("nonneg")
    )
    return (
        c.select("c_nationkey", "c_mktsegment", sens.alias("s"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("group_size"),
            F.count_distinct("s").cast("long").alias("sensitive_diversity"),
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            "group_size",
            "sensitive_diversity",
            F.when(F.col("group_size") < _KANON_K, F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("at_risk"),
        )
    )


# --------------------------------------------------------------------------
# q106: exact-n deterministic sample per group (eval-set construction)
# --------------------------------------------------------------------------

_GS_N = 10  # rows kept per group


@query(
    "q106_group_sample",
    oracle=f"""
    SELECT c_mktsegment, CAST(rnk AS BIGINT) AS rnk, c_custkey
    FROM (
      SELECT c_mktsegment, c_custkey,
             ROW_NUMBER() OVER (
               PARTITION BY c_mktsegment
               ORDER BY MD5(CAST(c_custkey AS VARCHAR)), c_custkey) AS rnk
      FROM customer
    ) WHERE rnk <= {_GS_N}
    """,
    doc=f"Exactly-{_GS_N}-per-group deterministic sample (eval/holdout "
    "construction wants FIXED counts per stratum, where the rate-based "
    "samplers — q35, text_stratified_sample — give binomial counts): "
    "rows rank by the md5-of-key hash order (the repo's shared "
    "cross-engine sampling idiom — same rows win on every run, engine, "
    "partitioning, and re-ingestion) and the first "
    f"{_GS_N} per group survive. The group domain is TINY (5 segments), "
    "so a single rank window would sort corpus/5 rows in ONE task at "
    "scale — instead the rank runs TWO-LEVEL (the salting discipline): "
    "a window over (group, input-partition-id) prunes each partition to "
    f"its local top-{_GS_N} first, so the final per-group window ranks "
    f"at most {_GS_N}*P pre-pruned rows — bounded by the cluster, never "
    "the corpus. The oracle runs the naive single window (honest at "
    "oracle scale); both orders are total (hash, then key), so the "
    "winner set is identical.",
)
def q106_group_sample(spark: SparkSession, sf: str) -> DataFrame:
    c = _t(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    h = F.md5(F.col("c_custkey").cast("string").cast("binary"))
    d = c.withColumn("h", h).withColumn("_pid", F.spark_partition_id())
    w1 = W.partitionBy("c_mktsegment", "_pid").orderBy("h", "c_custkey")
    local = (
        d.withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= _GS_N)
        .drop("r1", "_pid")
    )
    w2 = W.partitionBy("c_mktsegment").orderBy("h", "c_custkey")
    return (
        local.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= _GS_N)
        .select("c_mktsegment", F.col("rnk").cast("long").alias("rnk"),
                "c_custkey")
    )


# --------------------------------------------------------------------------
# graph: degree distribution (power-law structure profile)
# --------------------------------------------------------------------------


@query(
    "graph_degree_distribution",
    oracle=f"""
    WITH deg AS (
      SELECT u, COUNT(*) AS d FROM (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey
        WHERE a.l_orderkey % {_LPA_EDGE_MOD} = 0
      ) GROUP BY 1
    )
    SELECT CAST(FLOOR(LOG2(d)) AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MIN(d) AS BIGINT) AS min_degree,
           CAST(MAX(d) AS BIGINT) AS max_degree,
           CAST(SUM(d) AS BIGINT) AS degree_mass
    FROM deg GROUP BY 1
    """,
    doc="Degree-distribution profile of the part co-purchase graph in "
    "log2 buckets — the first diagnostic run on any production graph "
    "(a power-law tail means hub nodes that will skew every "
    "joins-on-neighbors stage; the bucket histogram is what decides "
    "whether pagerank/LPA need salting or hub-splitting BEFORE the "
    "expensive runs): per bucket, node count, degree range, and total "
    "degree mass. Bucket boundaries are exact powers of two, where "
    "IEEE log2 is exact in both engines, so FLOOR(LOG2(d)) is "
    "cross-engine deterministic for every integer degree. One "
    "distinct-edge build (shared shape with the LPA family), one "
    "map-side-combining degree count, one tiny-domain aggregate — at "
    "100 TB it is two shuffles of 8-byte pairs and a ~60-row result.",
)
def graph_degree_distribution(spark: SparkSession, sf: str) -> DataFrame:
    # edges only — the LPA label rounds are not needed here
    li = _t(spark, sf, "lineitem").filter(
        F.col("l_orderkey") % _LPA_EDGE_MOD == 0
    )
    a = li.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("v"))
    ed = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") != F.col("v"))
        .select("u", "v")
        .distinct()
    )
    deg = ed.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    bucket = F.floor(F.log2("d")).cast("long")
    return deg.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.min("d").cast("long").alias("min_degree"),
        F.max("d").cast("long").alias("max_degree"),
        F.sum("d").cast("long").alias("degree_mass"),
    )


# --------------------------------------------------------------------------
# graph: local clustering coefficient (triangles / wedges per vertex)
# --------------------------------------------------------------------------


@query(
    "graph_clustering_coeff",
    oracle="""
    WITH eo AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      WHERE a.l_orderkey % 10 = 0
    ),
    deg AS (
      SELECT x, COUNT(*) AS dg
      FROM (SELECT u AS x FROM eo UNION ALL SELECT v FROM eo)
      GROUP BY x
    ),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM eo e1
      JOIN eo e2 ON e2.u = e1.u AND e2.v > e1.v
      JOIN eo e3 ON e3.u = e1.v AND e3.v = e2.v
    ),
    tv AS (
      SELECT x, COUNT(*) AS t
      FROM (SELECT a AS x FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri)
      GROUP BY x
    )
    SELECT deg.x AS part_id,
           CAST(deg.dg AS BIGINT) AS degree,
           CAST(COALESCE(tv.t, 0) AS BIGINT) AS n_triangles,
           CAST(FLOOR(COALESCE(tv.t, 0) * 2000.0 / (deg.dg * (deg.dg - 1)))
                AS BIGINT) AS cc_milli
    FROM deg LEFT JOIN tv ON tv.x = deg.x
    WHERE deg.dg >= 2
    """,
    doc="Local clustering coefficient per vertex — cc(v) = 2*T(v) / "
    "(deg(v)*(deg(v)-1)) in exact milli fixed point — on the part "
    "co-purchase graph (same 10%-of-orders slice as graph_triangle_count). "
    "The standard community-structure / spam-subgraph diagnostic: a hub "
    "with near-zero cc is an aggregator, a dense clique scores 1000. "
    "Triangles come from the shared degree-ordered-orientation skeleton "
    "(m^1.5-bounded wedge join, hub-skew immune — see _copurchase_graph); "
    "per-vertex counts are the 3-way projection of the triangle set, a "
    "map-side-combining union aggregate, joined back to the degree table "
    "on the vertex id. All shuffles are on the edge/triangle lists, never "
    "on lineitem; the oracle replays id-ordered enumeration (honest at "
    "oracle scale) so parity certifies both the triangle set and the "
    "fixed-point formula.",
)
def graph_clustering_coeff(spark: SparkSession, sf: str) -> DataFrame:
    edges, tri = _copurchase_graph(spark, sf)
    deg = (
        edges.select(F.col("u").alias("x"))
        .unionAll(edges.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("dg"))
    )
    tv = (
        tri.select(F.col("s").alias("x"))
        .unionAll(tri.select(F.col("b").alias("x")))
        .unionAll(tri.select(F.col("c").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    t = F.coalesce(F.col("t"), F.lit(0))
    return (
        deg.filter(F.col("dg") >= 2)
        .join(tv, "x", "left")
        .select(
            F.col("x").alias("part_id"),
            F.col("dg").cast("long").alias("degree"),
            t.cast("long").alias("n_triangles"),
            F.floor(t * 2000 / (F.col("dg") * (F.col("dg") - 1)))
            .cast("long")
            .alias("cc_milli"),
        )
    )


# --------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch — mergeable NDV estimation
# --------------------------------------------------------------------------

_KMV_K = 64
_KMV_SALTS = 256  # first-level prune fan; bounds the final top-k input

# 32-bit uniform hash both engines compute identically: first 8 hex chars of
# md5(key-as-string) — the hash_bucket/o_hash_bucket idiom widened to 32 bits
_KMV_H_SPARK = "conv(substring(md5(cast(cast(user_id as string) as binary)), 1, 8), 16, 10)"
_KMV_H_SQL = (
    "CAST(('0x' || SUBSTRING(MD5(CAST(user_id AS VARCHAR)), 1, 8))::UBIGINT"
    " AS BIGINT)"
)


def two_level_bottom_k(
    df: DataFrame,
    keys: list[str],
    k: int,
    salts: int,
    order_cols: tuple[str, ...] = ("hv",),
    keep_rank: bool = False,
) -> DataFrame:
    """Salted two-level bottom-k — THE shared mechanism of every
    bottom-k-by-hash sketch/sample/cap operator (KMV distinct, theta set
    ops, sample-quantile rollup, per-domain cap): a partial bottom-k per
    (keys, hv % salts) prunes the corpus to <= salts*k rows per key group
    BEFORE the per-key final window, so a hot key never funnels through one
    reducer. ``order_cols[0]`` must be the hash column (it is also the salt
    source); every call site's oracle must ORDER BY the same columns or the
    kept set silently drifts. ``keep_rank`` retains the final row_number as
    ``rn`` (the cap operator's output rank)."""
    oc = [F.col(c) for c in order_cols]
    w1 = W.partitionBy(
        *keys, F.pmod(F.col(order_cols[0]), F.lit(salts))
    ).orderBy(*oc)
    pruned = (
        df.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )
    w2 = W.partitionBy(*keys).orderBy(*oc)
    out = pruned.withColumn("rn", F.row_number().over(w2)).filter(
        F.col("rn") <= k
    )
    return out if keep_rank else out.drop("rn")


@query(
    "q107_kmv_distinct",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT event_type, {_KMV_H_SQL} AS hv FROM events
      WHERE user_id IS NOT NULL
    ),
    r AS (
      SELECT event_type, hv,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      FROM h
    ),
    k AS (
      SELECT event_type, COUNT(*) AS ck, MAX(hv) AS hk
      FROM r WHERE rn <= {_KMV_K} GROUP BY event_type
    ),
    ex AS (
      SELECT event_type, COUNT(DISTINCT user_id) AS nd FROM events GROUP BY 1
    )
    SELECT k.event_type,
           CAST(ex.nd AS BIGINT) AS n_exact,
           CAST(CASE WHEN k.ck < {_KMV_K} THEN k.ck
                ELSE FLOOR({_KMV_K - 1} * 4294967296.0 / k.hk) END AS BIGINT)
             AS kmv_est,
           CAST(FLOOR(ABS(CASE WHEN k.ck < {_KMV_K} THEN k.ck
                          ELSE FLOOR({_KMV_K - 1} * 4294967296.0 / k.hk) END
                          - ex.nd) * 1000.0 / ex.nd) AS BIGINT) AS err_milli
    FROM k JOIN ex ON k.event_type = ex.event_type
    """,
    doc=f"KMV (k-minimum-values) distinct sketch per event_type, k={_KMV_K} "
    "(Bar-Yossef et al. 2002; the mergeable bottom-k NDV estimator behind "
    "Theta sketches): hash every key to 32 uniform bits, keep the k smallest "
    "distinct hash values, estimate NDV = (k-1)*2^32 / h_k. Unlike "
    "q07_approx_distinct / q42_hll_sketch (error-envelope checks), the hash "
    "here is the md5-prefix both engines compute identically, so the oracle "
    "replays the MECHANISM and parity is exact — sketch contents, estimate, "
    "and per-group error vs the true distinct count. Scale shape: distinct "
    f"(group, hash) dedup, then a two-level k-min ({_KMV_SALTS}-salt partial "
    "top-k, then final top-k over the <= salts*k survivors) so no group ever "
    "funnels its full distinct-hash stream through one task — the same "
    "two-level discipline as q106_group_sample. At 100 TB the sketch is "
    "what you'd persist per partition and merge (bottom-k union is "
    "associative); the exact side here exists only to score the estimate.",
)
def q107_kmv_distinct(spark: SparkSession, sf: str) -> DataFrame:
    # NULL user_id guard (the q108/q109 discipline): a NULL key hashes to a
    # NULL hv, which Spark's row_number ranks FIRST and DuckDB's ranks LAST —
    # the sketch contents (ck/hk) and estimate would silently diverge
    e = _t(spark, sf, "events").filter(F.col("user_id").isNotNull())
    h = e.select("event_type", F.expr(_KMV_H_SPARK).cast("long").alias("hv"))
    h = h.distinct()
    topk = two_level_bottom_k(h, ["event_type"], _KMV_K, _KMV_SALTS)
    k = topk.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("ck"), F.max("hv").alias("hk")
    )
    ex = e.groupBy("event_type").agg(F.countDistinct("user_id").alias("nd"))
    est = F.when(F.col("ck") < _KMV_K, F.col("ck")).otherwise(
        F.floor(F.lit((_KMV_K - 1) * 4294967296.0) / F.col("hk"))
    )
    return k.join(ex, "event_type").select(
        "event_type",
        F.col("nd").cast("long").alias("n_exact"),
        est.cast("long").alias("kmv_est"),
        F.floor(F.abs(est - F.col("nd")) * 1000.0 / F.col("nd"))
        .cast("long")
        .alias("err_milli"),
    )


# --------------------------------------------------------------------------
# graph: community conductance (the cut-quality twin of graph_modularity)
# --------------------------------------------------------------------------


def _conductance_oracle() -> str:
    blocks, last = _lpa_blocks()
    return (
        "WITH "
        + ",\n    ".join(blocks)
        + f""",
    vol AS (SELECT l.lab AS community, COUNT(*) AS volume
            FROM ed e JOIN {last} l ON e.u = l.node GROUP BY 1),
    cut AS (SELECT lu.lab AS community, COUNT(*) AS cut_edges
            FROM ed e
            JOIN {last} lu ON e.u = lu.node
            JOIN {last} lv ON e.v = lv.node
            WHERE lu.lab != lv.lab GROUP BY 1),
    n AS (SELECT lab AS community, COUNT(*) AS n_nodes FROM {last} GROUP BY 1)
    SELECT n.community,
           CAST(n.n_nodes AS BIGINT) AS n_nodes,
           CAST(vol.volume AS BIGINT) AS volume,
           CAST(COALESCE(cut.cut_edges, 0) AS BIGINT) AS cut_edges,
           CAST(FLOOR(COALESCE(cut.cut_edges, 0) * 1000.0
                / GREATEST(LEAST(vol.volume,
                                 (SELECT COUNT(*) FROM ed) - vol.volume), 1))
                AS BIGINT) AS conductance_milli
    FROM n JOIN vol ON n.community = vol.community
    LEFT JOIN cut ON n.community = cut.community"""
    )


@query(
    "graph_conductance",
    oracle=_conductance_oracle(),
    doc="Per-community conductance φ(c) = cut(c) / min(vol(c), 2m − vol(c)) "
    "in exact milli over the LPA communities — the CUT-quality eval that "
    "modularity (a density score) cannot see: a community can score high Q "
    "while leaking half its edges to one neighbor; low conductance is what "
    "sharding/partition-placement decisions actually need (a training-data "
    "co-occurrence graph sharded on high-φ communities ships cross-shard "
    "traffic forever). Reuses the shared _lpa_labels skeleton (edge list "
    "localCheckpointed once, labels converged at the same unrolled K "
    "rounds the oracle replays); volume and cut are two map-side-combining "
    "aggregates over the symmetric edge list joined to labels — no new "
    "join shape beyond what modularity already pays, and 2m is one scalar "
    "action inlined as a literal. Exact-integer fixed point end-to-end.",
)
def graph_conductance(spark: SparkSession, sf: str) -> DataFrame:
    ed, labels = _lpa_labels(spark, sf)
    e2 = ed.count()  # 2m: scalar action on the checkpointed edge list
    lu = labels.select(F.col("node").alias("u"), F.col("lab").alias("lab_u"))
    lv = labels.select(F.col("node").alias("v"), F.col("lab").alias("lab_v"))
    joined = ed.join(lu, "u").join(lv, "v")
    # volume and cut in ONE pass over the (dominant-cost) double join — a
    # separate cut aggregation would re-execute it, and a left join +
    # coalesce would re-shuffle the result
    volcut = joined.groupBy(F.col("lab_u").alias("community")).agg(
        F.count(F.lit(1)).alias("volume"),
        F.sum(
            F.when(F.col("lab_u") != F.col("lab_v"), 1).otherwise(0)
        ).alias("cut_edges"),
    )
    n = labels.groupBy(F.col("lab").alias("community")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )
    cutc = F.col("cut_edges")
    denom = F.greatest(
        F.least(F.col("volume"), F.lit(int(e2)) - F.col("volume")), F.lit(1)
    )
    return (
        n.join(volcut, "community")
        .select(
            "community",
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("volume").cast("long").alias("volume"),
            cutc.cast("long").alias("cut_edges"),
            F.floor(cutc * 1000.0 / denom).cast("long").alias(
                "conductance_milli"
            ),
        )
    )


# --------------------------------------------------------------------------
# Multi-touch attribution (U-shaped / position-based credit)
# --------------------------------------------------------------------------


@query(
    "q108_attribution",
    oracle="""
    WITH src AS (
      SELECT user_id, event_id, ts, event_type FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type != 'error'
    ),
    g AS (
      SELECT user_id, event_id, ts, event_type,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      FROM src
    ),
    t AS (
      SELECT user_id, grp, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id, grp
                                ORDER BY ts, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY user_id, grp) - 1 AS n
      FROM g WHERE grp >= 1
    )
    SELECT event_type AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(SUM(CASE WHEN n = 1 THEN 1000000
                         WHEN n = 2 THEN 500000
                         WHEN rn = 1 OR rn = n THEN 400000
                         ELSE 200000 // (n - 2) END) AS BIGINT) AS credit_ppm
    FROM t WHERE rn <= n
    GROUP BY event_type
    """,
    doc="U-shaped (position-based) multi-touch attribution — the marketing/"
    "growth query every event warehouse runs: each 'purchase' conversion "
    "credits its preceding touches (view/click/signup since the user's "
    "previous conversion) 40% to the first touch, 40% to the last, 20% "
    "(50/50 when only two touches exist) "
    "split across the middles (integer ppm, remainder truncated "
    "identically on both engines), rolled up per channel. Touch-to-"
    "conversion assignment is ONE descending per-user running sum of the "
    "purchase flag — the inclusive count of purchases at-or-after each "
    "event is a shared group id for a conversion and exactly its "
    "preceding touches (no self-join, no per-conversion subquery: the "
    "naive formulation joins every touch against every later purchase). "
    "Two key-partitioned windows on user_id, then one map-side-combining "
    "rollup; per-key window state is O(1). Malformed rows and the "
    "'error' channel are excluded identically on both sides.",
)
def q108_attribution(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & (F.col("event_type") != "error")
    )
    is_p = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    w_desc = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    g = e.select(
        "user_id", "event_id", "ts", "event_type",
        F.sum(is_p).over(w_desc).alias("grp"),
    ).filter(F.col("grp") >= 1)
    w_grp = W.partitionBy("user_id", "grp").orderBy("ts", "event_id")
    w_all = W.partitionBy("user_id", "grp")
    t = g.select(
        "event_type",
        F.row_number().over(w_grp).alias("rn"),
        (F.count(F.lit(1)).over(w_all) - 1).alias("n"),
    ).filter(F.col("rn") <= F.col("n"))
    credit = (
        F.when(F.col("n") == 1, F.lit(1000000))
        .when(F.col("n") == 2, F.lit(500000))
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("n")), F.lit(400000))
        .otherwise(
            F.call_function("div", F.lit(200000), F.col("n") - 2)
        )
    )
    return t.groupBy(F.col("event_type").alias("channel")).agg(
        F.count(F.lit(1)).cast("long").alias("n_touches"),
        F.sum(credit).cast("long").alias("credit_ppm"),
    )


# --------------------------------------------------------------------------
# Bitemporal as-of (transaction time x valid time)
# --------------------------------------------------------------------------

_BT_BATCHES = 5  # ingestion batches: txn time = event_id % 5 (arrival order
#                  deliberately independent of event time — late arrivals)
_BT_ASOF_BATCH = 3  # txn-time cutoff: batches 0..3 ingested, batch 4 not yet
# valid-time cutoff: lo + 7/10 of the ms span, derived scale-relatively so
# the query selects a comparable fraction at any SF (footer-stats lesson)
_BT_V_SQL = (
    "(SELECT MIN(epoch_ms(ts)) + ((MAX(epoch_ms(ts)) - MIN(epoch_ms(ts))) * 7) // 10 "
    "FROM events WHERE ts IS NOT NULL)"
)


@query(
    "q109_bitemporal_asof",
    oracle=f"""
    WITH src AS (
      SELECT user_id, event_id, ts, event_type, value,
             event_id % {_BT_BATCHES} AS txn_batch, epoch_ms(ts) AS vms
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
    ),
    known AS (
      SELECT user_id, event_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY vms DESC, event_id DESC) AS rn
      FROM src
      WHERE txn_batch <= {_BT_ASOF_BATCH} AND vms <= {_BT_V_SQL}
    ),
    late AS (
      SELECT user_id, MAX(ROW(vms, event_id)) AS best
      FROM src
      WHERE txn_batch > {_BT_ASOF_BATCH} AND vms <= {_BT_V_SQL}
      GROUP BY user_id
    )
    SELECT k.user_id,
           k.event_id AS last_event_id,
           k.value AS last_value,
           COALESCE(l.best IS NOT NULL, false) AS revised_later
    FROM (SELECT s.*, ROW(s2.vms, s2.event_id) AS cur
          FROM known s JOIN src s2 ON s.event_id = s2.event_id
          WHERE s.rn = 1 AND s.event_type != 'error') k
    LEFT JOIN late l ON k.user_id = l.user_id AND l.best > k.cur
    """,
    doc=f"Bitemporal as-of — reconstruct the keyed state as it was KNOWN at "
    f"transaction time (ingestion batches 0..{_BT_ASOF_BATCH} of "
    f"{_BT_BATCHES}; arrival = event_id % {_BT_BATCHES}, deliberately "
    "independent of event time to model out-of-order delivery) for a "
    "VALID-time cutoff (scale-relative 7/10 span point): per key, the "
    "latest ingested event by (event time, id), delete-filtered — plus the "
    "bitemporal signal no single-axis query has: revised_later flags keys "
    "whose past will be REWRITTEN once the not-yet-ingested batch lands "
    "(a late event inside the valid window that outranks the chosen row) "
    "— the audit/backfill primitive for event warehouses (cdc_time_travel "
    "is txn-time only, cdc_scd2 valid-time only). Shape: one max_by-style "
    "aggregate per axis over the filtered log (map-side combining, the "
    "cdc_apply discipline — no window sort of full history) joined on the "
    "key; valid-time bounds come from a 1-row aggregate inlined as a "
    "literal, replayed by the oracle as an integer-exact subquery.",
)
def q109_bitemporal_asof(spark: SparkSession, sf: str) -> DataFrame:
    vms = F.unix_millis("ts")
    # valid-window bounds over the SAME row set as the oracle's subquery
    # (ts IS NOT NULL only) — deriving them from the fully-filtered frame
    # would shift v_cut the day a malformed row holds the global min/max ts
    ev0 = _t(spark, sf, "events").filter(F.col("ts").isNotNull())
    lo, hi = ev0.agg(F.min(vms), F.max(vms)).collect()[0]
    e = ev0.filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    v_cut = lo + ((hi - lo) * 7) // 10
    src = e.select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        (F.col("event_id") % _BT_BATCHES).alias("txn_batch"),
        vms.alias("vms"),
    ).filter(F.col("vms") <= v_cut)
    known = (
        src.filter(F.col("txn_batch") <= _BT_ASOF_BATCH)
        .groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("event_id", "event_type", "value", "vms"),
                F.struct("vms", "event_id"),
            ).alias("k")
        )
        .filter(F.col("k.event_type") != "error")
    )
    late = (
        src.filter(F.col("txn_batch") > _BT_ASOF_BATCH)
        .groupBy("user_id")
        .agg(F.max(F.struct("vms", "event_id")).alias("best"))
    )
    joined = known.join(late, "user_id", "left")
    return joined.select(
        "user_id",
        F.col("k.event_id").alias("last_event_id"),
        F.col("k.value").alias("last_value"),
        F.coalesce(
            F.col("best")
            > F.struct(
                F.col("k.vms").alias("vms"), F.col("k.event_id").alias("event_id")
            ),
            F.lit(False),
        ).alias("revised_later"),
    )


# --------------------------------------------------------------------------
# Time-band range join (no equi-key — the bucketed-band construction)
# --------------------------------------------------------------------------

_RANGE_BAND_US = 60_000_000  # ±60 s, inclusive


@query(
    "q110_band_range_join",
    oracle=f"""
    SELECT e.event_id,
           CAST(COUNT(v.event_id) AS BIGINT) AS n_views_nearby,
           CAST(COALESCE(SUM(CAST(ROUND(v.value * 100) AS BIGINT)), 0)
                AS BIGINT) AS sum_view_centi
    FROM events e
    LEFT JOIN events v
      ON v.event_type = 'view' AND v.ts IS NOT NULL AND v.value IS NOT NULL
     AND v.event_id IS NOT NULL
     AND ABS(epoch_us(e.ts) - epoch_us(v.ts)) <= {_RANGE_BAND_US}
    WHERE e.event_type = 'error' AND e.ts IS NOT NULL
      AND e.event_id IS NOT NULL
    GROUP BY e.event_id
    """,
    doc="PURE range join — no equi-key at all: every 'error' event counts "
    "and sums the 'view' events within ±60 s of it, the blast-radius / "
    "nearby-context primitive incident analysis needs and Spark has no "
    "native operator for (a naive plan is a cartesian "
    "BroadcastNestedLoopJoin). The banded construction turns it into an "
    "equi-join: views land in floor(ts/band) buckets, each error probes "
    "its own bucket ±1 (an interval of width ≤ band overlaps at most two "
    "buckets, and probing three covers both directions), then the exact "
    "|Δt| ≤ band predicate filters inside the join projection. Join "
    "output is bounded by probe rows × per-bucket density — time-uniform "
    "data gives O(N·density), and a hot bucket is a real data hotspot, "
    "not a plan artifact (AQE skew-join splits it). µs integer arithmetic "
    "end to end (unix_micros ≡ epoch_us; a SECOND-truncated "
    "unix_timestamp would disagree with the oracle at boundaries). At "
    "100 TB this is the scale-safe shape for every no-key temporal "
    "correlation: sessionless attribution, incident blast radius, "
    "sensor-fusion alignment.",
)
def q110_band_range_join(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events")
    band = _RANGE_BAND_US
    errors = e.filter(
        (F.col("event_type") == "error")
        & F.col("ts").isNotNull()
        # NULL error ids: Spark's left equi-join never matches NULL keys
        # while DuckDB's GROUP BY merges NULLs into one group
        & F.col("event_id").isNotNull()
    ).select("event_id", F.unix_micros("ts").alias("eus"))
    views = e.filter(
        (F.col("event_type") == "view")
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
        # NULL event_id guard: the oracle's COUNT(v.event_id) skips them
        & F.col("event_id").isNotNull()
    ).select(
        F.unix_micros("ts").alias("vus"),
        # centi-grid value as exact int (the q33 discipline): a double SUM
        # is summation-order-dependent and unhashable across engines
        F.round(F.col("value") * 100).cast("long").alias("vval"),
        F.call_function("div", F.unix_micros("ts"), F.lit(band)).alias("b"),
    )
    probes = errors.select(
        "event_id",
        "eus",
        F.explode(
            F.array(
                *[
                    F.call_function("div", F.col("eus"), F.lit(band)) + F.lit(d)
                    for d in (-1, 0, 1)
                ]
            )
        ).alias("b"),
    )
    joined = probes.join(
        views, (probes.b == views.b) & (F.abs(F.col("eus") - F.col("vus")) <= band)
    )
    hits = joined.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_views_nearby"),
        F.sum("vval").alias("sum_view_centi"),
    )
    # LEFT semantics: errors with an empty band still report 0 / 0
    return errors.select("event_id").join(hits, "event_id", "left").select(
        "event_id",
        F.coalesce("n_views_nearby", F.lit(0)).cast("long").alias(
            "n_views_nearby"
        ),
        F.coalesce("sum_view_centi", F.lit(0)).cast("long").alias(
            "sum_view_centi"
        ),
    )


# --------------------------------------------------------------------------
# KMV/theta-sketch SET ALGEBRA (union + intersection estimates per type pair)
# --------------------------------------------------------------------------

_KMV_PAIR_SQL = f"""
WITH h AS (
  SELECT DISTINCT event_type, {_KMV_H_SQL} AS hv FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
),
r AS (
  SELECT event_type, hv,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
  FROM h
),
sk AS (SELECT event_type, hv FROM r WHERE rn <= {_KMV_K}),
types AS (SELECT DISTINCT event_type FROM h),
pairs AS (
  SELECT a.event_type AS ta, b.event_type AS tb
  FROM types a JOIN types b ON a.event_type < b.event_type
),
u AS (
  SELECT ta, tb, hv,
         ROW_NUMBER() OVER (PARTITION BY ta, tb ORDER BY hv) AS rn
  FROM (SELECT DISTINCT p.ta, p.tb, s.hv
        FROM pairs p JOIN sk s ON s.event_type IN (p.ta, p.tb))
),
uk AS (
  SELECT ta, tb, COUNT(*) AS ck, MAX(hv) AS theta
  FROM u WHERE rn <= {_KMV_K} GROUP BY ta, tb
),
common AS (
  SELECT p.ta, p.tb, sa.hv
  FROM pairs p
  JOIN sk sa ON sa.event_type = p.ta
  JOIN sk sb ON sb.event_type = p.tb AND sb.hv = sa.hv
),
cc AS (
  SELECT u.ta, u.tb,
         COUNT(c.hv) AS nc,
         COUNT(CASE WHEN c.hv < u.theta THEN 1 END) AS nc_strict
  FROM uk u LEFT JOIN common c ON c.ta = u.ta AND c.tb = u.tb
  GROUP BY u.ta, u.tb
),
du AS (SELECT event_type, user_id FROM events
       WHERE user_id IS NOT NULL AND event_type IS NOT NULL
       GROUP BY 1, 2),
ex_i AS (
  SELECT p.ta, p.tb, COUNT(*) AS ni
  FROM pairs p
  JOIN du a ON a.event_type = p.ta
  JOIN du b ON b.event_type = p.tb AND b.user_id = a.user_id
  GROUP BY 1, 2
),
ex_n AS (SELECT event_type, COUNT(*) AS nd FROM du GROUP BY 1)
SELECT u.ta AS type_a, u.tb AS type_b,
       CAST(CASE WHEN u.ck < {_KMV_K} THEN u.ck
            ELSE ({_KMV_K - 1}) * 4294967296 // u.theta END AS BIGINT)
         AS union_est,
       CAST(CASE WHEN u.ck < {_KMV_K} THEN cc.nc
            ELSE cc.nc_strict * 4294967296 // u.theta END AS BIGINT)
         AS inter_est,
       CAST(na.nd + nb.nd - COALESCE(ex_i.ni, 0) AS BIGINT) AS n_exact_union,
       CAST(COALESCE(ex_i.ni, 0) AS BIGINT) AS n_exact_inter
FROM uk u
JOIN cc ON cc.ta = u.ta AND cc.tb = u.tb
JOIN ex_n na ON na.event_type = u.ta
JOIN ex_n nb ON nb.event_type = u.tb
LEFT JOIN ex_i ON ex_i.ta = u.ta AND ex_i.tb = u.tb
"""


@query(
    "q111_kmv_set_ops",
    oracle=_KMV_PAIR_SQL,
    doc=f"Theta-sketch SET ALGEBRA over the q107 KMV sketches: for every "
    "pair of event_types, the audience-overlap estimates |A∪B| and |A∩B| "
    "computed FROM THE SKETCHES ALONE (Theta-sketch semantics: merge the "
    f"two bottom-{_KMV_K} sets, θ = the k-th smallest of the union, union "
    "≈ (k−1)·2³²/θ, intersection ≈ |common hashes < θ|·2³²/θ; when the "
    "union holds under k hashes both are exact by construction) — the "
    "composability that makes sketches THE 100 TB audience tool: per-"
    "partition sketches merge associatively, and set expressions evaluate "
    "on k·|types| longs without touching the corpus again. The exact "
    "sides ride along to score the estimates (their distinct-join is the "
    "expensive thing the sketches replace). Same md5-prefix hash as q107 "
    "so the oracle replays sketch contents, θ, both estimates, and both "
    "exact counts bit-for-bit. All sketch-side frames are k·|types| rows; "
    "the only corpus-scale work is the (group, hash) dedup q107 already "
    "pays.",
)
def q111_kmv_set_ops(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    h = e.select(
        "event_type", F.expr(_KMV_H_SPARK).cast("long").alias("hv")
    ).distinct()
    sk = two_level_bottom_k(
        h, ["event_type"], _KMV_K, _KMV_SALTS
    ).localCheckpoint(eager=False)  # k x |types| longs; feeds four subplans
    # (lazy: the types collect below is the first consumer and materializes
    # it — no separate up-front job; the subplans then reuse the blocks)
    # the event_type domain is a bounded enum: collect it (a handful of
    # strings) and inline the pair list as a literal frame — a self cross
    # join would plan BroadcastNestedLoopJoin (the global plan gate's
    # forbidden class), and an OR-of-equalities join can't hash-partition
    types = sorted(
        r.event_type for r in sk.select("event_type").distinct().collect()
    )
    pairs = spark.createDataFrame(
        [(a, b) for i, a in enumerate(types) for b in types[i + 1 :]],
        "ta string, tb string",
    )
    su = sk.withColumnRenamed("event_type", "t")
    # ONE explicit (ta, tb) exchange feeds the whole sketch-side DAG: hash
    # partitioning on a SUBSET of the grouping keys satisfies the distinct
    # ((ta, tb, hv)), the row_number window ((ta, tb)), and the uk groupBy,
    # so the two ENSURE_REQUIREMENTS exchanges those operators would each
    # plan collapse into this one (guide §2.4 — share one exchange between
    # operations keyed the same way). Width = |pairs| (each pair its own
    # partition at most): the sketch frames are k x |pairs| rows by
    # construction at ANY corpus scale, so cluster-width shuffles here are
    # pure scheduling overhead.
    n_pairs = max(1, len(types) * (len(types) - 1) // 2)
    merged = (
        pairs.select("ta", "tb", F.explode(F.array("ta", "tb")).alias("t"))
        .join(su, "t")
        .select("ta", "tb", "hv")
        .repartition(n_pairs, "ta", "tb")
        .distinct()
    )
    wu = W.partitionBy("ta", "tb").orderBy("hv")
    uk = (
        merged.withColumn("rn", F.row_number().over(wu))
        .filter(F.col("rn") <= _KMV_K)
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("ck"), F.max("hv").alias("theta"))
    )
    sa = sk.select(F.col("event_type").alias("ta"), "hv")
    sb = sk.select(F.col("event_type").alias("tb"), "hv")
    # co-partition with uk's explicit (ta, tb) width: without this the left
    # join below re-exchanges uk back to cluster width (observed in the r12
    # plan pair) and the tiny sketch DAG fans out again
    common = (
        pairs.join(sa, "ta")
        .join(sb, ["tb", "hv"])
        .select("ta", "tb", "hv")
        .repartition(n_pairs, "ta", "tb")
    )
    cc = (
        uk.join(common, ["ta", "tb"], "left")
        .groupBy("ta", "tb", "ck", "theta")
        .agg(
            F.count("hv").alias("nc"),
            F.count(F.when(F.col("hv") < F.col("theta"), 1)).alias("nc_strict"),
        )
    )
    # EAGER on purpose: du feeds THREE concurrent subtrees of the final job
    # (ex_n and both sides of the self-join) — lazy materializes in a
    # per-partition cache race and the corpus-side distinct runs up to 3x
    # (the dedup_clusters lesson). One dedicated job, computed exactly once.
    du = e.select("event_type", "user_id").distinct().localCheckpoint()
    ex_n = du.groupBy("event_type").agg(F.count(F.lit(1)).alias("nd"))
    da = du.select(F.col("event_type").alias("ta"), "user_id")
    db = du.select(F.col("event_type").alias("tb"), "user_id")
    ex_i = (
        da.join(db, "user_id")
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    k = _KMV_K
    union_est = F.when(F.col("ck") < k, F.col("ck")).otherwise(
        F.call_function("div", F.lit((k - 1) * 4294967296), F.col("theta"))
    )
    inter_est = F.when(F.col("ck") < k, F.col("nc")).otherwise(
        F.call_function(
            "div", F.col("nc_strict") * F.lit(4294967296), F.col("theta")
        )
    )
    na = ex_n.select(F.col("event_type").alias("ta"), F.col("nd").alias("nda"))
    nb = ex_n.select(F.col("event_type").alias("tb"), F.col("nd").alias("ndb"))
    return (
        cc.join(na, "ta")
        .join(nb, "tb")
        .join(ex_i, ["ta", "tb"], "left")
        .select(
            F.col("ta").alias("type_a"),
            F.col("tb").alias("type_b"),
            union_est.cast("long").alias("union_est"),
            inter_est.cast("long").alias("inter_est"),
            (
                F.col("nda") + F.col("ndb") - F.coalesce(F.col("ni"), F.lit(0))
            ).cast("long").alias("n_exact_union"),
            F.coalesce(F.col("ni"), F.lit(0)).cast("long").alias("n_exact_inter"),
        )
    )


# --------------------------------------------------------------------------
# q112: Theta-sketch A-NOT-B — completes the sketch set algebra
# (q111 covers union/intersection; difference is the third Datasketches op)
# --------------------------------------------------------------------------

_KMV_ANOTB_SQL = f"""
WITH h AS (
  SELECT DISTINCT event_type, {_KMV_H_SQL} AS hv FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
),
r AS (
  SELECT event_type, hv,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
  FROM h
),
sk AS (SELECT event_type, hv FROM r WHERE rn <= {_KMV_K}),
types AS (SELECT DISTINCT event_type FROM h),
pairs AS (
  SELECT a.event_type AS ta, b.event_type AS tb
  FROM types a JOIN types b ON a.event_type < b.event_type
),
u AS (
  SELECT ta, tb, hv,
         ROW_NUMBER() OVER (PARTITION BY ta, tb ORDER BY hv) AS rn
  FROM (SELECT DISTINCT p.ta, p.tb, s.hv
        FROM pairs p JOIN sk s ON s.event_type IN (p.ta, p.tb))
),
uk AS (
  SELECT ta, tb, COUNT(*) AS ck, MAX(hv) AS theta
  FROM u WHERE rn <= {_KMV_K} GROUP BY ta, tb
),
sa AS (SELECT p.ta, p.tb, s.hv FROM pairs p JOIN sk s ON s.event_type = p.ta),
sb AS (SELECT p.ta, p.tb, s.hv FROM pairs p JOIN sk s ON s.event_type = p.tb),
am AS (
  SELECT sa.ta, sa.tb, COUNT(*) AS na_all,
         COUNT(CASE WHEN sa.hv < uk.theta THEN 1 END) AS na_strict
  FROM sa JOIN uk ON uk.ta = sa.ta AND uk.tb = sa.tb GROUP BY sa.ta, sa.tb
),
bm AS (
  SELECT sb.ta, sb.tb, COUNT(*) AS nb_all,
         COUNT(CASE WHEN sb.hv < uk.theta THEN 1 END) AS nb_strict
  FROM sb JOIN uk ON uk.ta = sb.ta AND uk.tb = sb.tb GROUP BY sb.ta, sb.tb
),
cm AS (
  SELECT sa.ta, sa.tb, COUNT(*) AS nc_all,
         COUNT(CASE WHEN sa.hv < uk.theta THEN 1 END) AS nc_strict
  FROM sa
  JOIN sb ON sb.ta = sa.ta AND sb.tb = sa.tb AND sb.hv = sa.hv
  JOIN uk ON uk.ta = sa.ta AND uk.tb = sa.tb
  GROUP BY sa.ta, sa.tb
),
du AS (SELECT event_type, user_id FROM events
       WHERE user_id IS NOT NULL AND event_type IS NOT NULL
       GROUP BY 1, 2),
ex_i AS (
  SELECT p.ta, p.tb, COUNT(*) AS ni
  FROM pairs p
  JOIN du a ON a.event_type = p.ta
  JOIN du b ON b.event_type = p.tb AND b.user_id = a.user_id
  GROUP BY 1, 2
),
ex_n AS (SELECT event_type, COUNT(*) AS nd FROM du GROUP BY 1)
SELECT uk.ta AS type_a, uk.tb AS type_b,
       CAST(CASE WHEN uk.ck < {_KMV_K}
            THEN am.na_all - COALESCE(cm.nc_all, 0)
            ELSE (am.na_strict - COALESCE(cm.nc_strict, 0))
                 * 4294967296 // uk.theta END AS BIGINT) AS anotb_est,
       CAST(CASE WHEN uk.ck < {_KMV_K}
            THEN bm.nb_all - COALESCE(cm.nc_all, 0)
            ELSE (bm.nb_strict - COALESCE(cm.nc_strict, 0))
                 * 4294967296 // uk.theta END AS BIGINT) AS bnota_est,
       CAST(na.nd - COALESCE(ex_i.ni, 0) AS BIGINT) AS n_exact_anotb,
       CAST(nb.nd - COALESCE(ex_i.ni, 0) AS BIGINT) AS n_exact_bnota
FROM uk
JOIN am ON am.ta = uk.ta AND am.tb = uk.tb
JOIN bm ON bm.ta = uk.ta AND bm.tb = uk.tb
LEFT JOIN cm ON cm.ta = uk.ta AND cm.tb = uk.tb
JOIN ex_n na ON na.event_type = uk.ta
JOIN ex_n nb ON nb.event_type = uk.tb
LEFT JOIN ex_i ON ex_i.ta = uk.ta AND ex_i.tb = uk.tb
"""


@query(
    "q112_theta_anotb",
    oracle=_KMV_ANOTB_SQL,
    doc=f"Theta-sketch A-NOT-B — the set-DIFFERENCE estimator that "
    "completes the sketch algebra (q111 = union/intersection; Datasketches' "
    "third set operation): for every event_type pair, |A∖B| and |B∖A| "
    "audience estimates computed FROM THE SKETCHES ALONE — θ = k-th "
    "smallest of the merged bottom-k sets, A∖B ≈ |A's hashes < θ not in "
    "B's set|·2³²/θ, exact by construction when the union holds under k "
    "hashes. The difference is what audience tooling actually asks "
    "('viewers who never purchased') and composes with q111's union/"
    "intersection on the SAME per-partition sketches, so exclusion "
    "audiences at 100 TB evaluate on k·|types| longs without rescanning "
    "the corpus. Same md5-prefix hash as q107/q111: the oracle replays "
    "sketch contents, θ, both difference estimates, and both exact "
    "set-difference counts bit-for-bit. All sketch-side frames are "
    "k·|types| rows; the corpus-scale work is the (group, hash) dedup "
    "q107 already pays plus the exact-side scoring joins.",
)
def q112_theta_anotb(spark: SparkSession, sf: str) -> DataFrame:
    e = _t(spark, sf, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    h = e.select(
        "event_type", F.expr(_KMV_H_SPARK).cast("long").alias("hv")
    ).distinct()
    sk = two_level_bottom_k(
        h, ["event_type"], _KMV_K, _KMV_SALTS
    ).localCheckpoint(eager=False)  # k x |types| longs; feeds five subplans
    # (lazy: the types collect below materializes it — q111 rationale)
    types = sorted(
        r.event_type for r in sk.select("event_type").distinct().collect()
    )
    pairs = spark.createDataFrame(
        [(a, b) for i, a in enumerate(types) for b in types[i + 1 :]],
        "ta string, tb string",
    )
    su = sk.withColumnRenamed("event_type", "t")
    # one explicit (ta, tb) exchange for the whole sketch-side DAG — the
    # q111 rationale (guide §2.4): subset-key hash partitioning satisfies
    # the distinct, the window, and the uk groupBy, and the am/bm/cm joins
    # downstream co-partition to uk's width instead of fanning every tiny
    # k x |pairs| frame to cluster width.
    n_pairs = max(1, len(types) * (len(types) - 1) // 2)
    merged = (
        pairs.select("ta", "tb", F.explode(F.array("ta", "tb")).alias("t"))
        .join(su, "t")
        .select("ta", "tb", "hv")
        .repartition(n_pairs, "ta", "tb")
        .distinct()
    )
    wu = W.partitionBy("ta", "tb").orderBy("hv")
    uk = (
        merged.withColumn("rn", F.row_number().over(wu))
        .filter(F.col("rn") <= _KMV_K)
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("ck"), F.max("hv").alias("theta"))
    )
    # (measured and rejected: explicit (ta, tb) repartitions on sa/sb —
    # isolated best-of-3 read 2.64-2.90 s vs 2.48 s without; the two added
    # exchanges cost more than the narrower am/bm/cm joins saved)
    sa = pairs.join(sk.select(F.col("event_type").alias("ta"), "hv"), "ta")
    sb = pairs.join(sk.select(F.col("event_type").alias("tb"), "hv"), "tb")

    def _strict_counts(side, all_name, strict_name):
        return (
            side.join(uk, ["ta", "tb"])
            .groupBy("ta", "tb")
            .agg(
                F.count(F.lit(1)).alias(all_name),
                F.count(
                    F.when(F.col("hv") < F.col("theta"), 1)
                ).alias(strict_name),
            )
        )

    am = _strict_counts(sa, "na_all", "na_strict")
    bm = _strict_counts(sb, "nb_all", "nb_strict")
    common = sa.join(sb, ["ta", "tb", "hv"]).select("ta", "tb", "hv")
    cm = _strict_counts(common, "nc_all", "nc_strict")
    # EAGER on purpose: du feeds THREE concurrent subtrees of the final job
    # (ex_n and both sides of the self-join) — lazy materializes in a
    # per-partition cache race and the corpus-side distinct runs up to 3x
    # (the dedup_clusters lesson). One dedicated job, computed exactly once.
    du = e.select("event_type", "user_id").distinct().localCheckpoint()
    ex_n = du.groupBy("event_type").agg(F.count(F.lit(1)).alias("nd"))
    da = du.select(F.col("event_type").alias("ta"), "user_id")
    db = du.select(F.col("event_type").alias("tb"), "user_id")
    ex_i = (
        da.join(db, "user_id")
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    k = _KMV_K
    nc_all = F.coalesce(F.col("nc_all"), F.lit(0))
    nc_strict = F.coalesce(F.col("nc_strict"), F.lit(0))
    anotb = F.when(F.col("ck") < k, F.col("na_all") - nc_all).otherwise(
        F.call_function(
            "div",
            (F.col("na_strict") - nc_strict) * F.lit(4294967296),
            F.col("theta"),
        )
    )
    bnota = F.when(F.col("ck") < k, F.col("nb_all") - nc_all).otherwise(
        F.call_function(
            "div",
            (F.col("nb_strict") - nc_strict) * F.lit(4294967296),
            F.col("theta"),
        )
    )
    na = ex_n.select(F.col("event_type").alias("ta"), F.col("nd").alias("nda"))
    nb = ex_n.select(F.col("event_type").alias("tb"), F.col("nd").alias("ndb"))
    return (
        uk.join(am, ["ta", "tb"])
        .join(bm, ["ta", "tb"])
        .join(cm, ["ta", "tb"], "left")
        .join(na, "ta")
        .join(nb, "tb")
        .join(ex_i, ["ta", "tb"], "left")
        .select(
            F.col("ta").alias("type_a"),
            F.col("tb").alias("type_b"),
            anotb.cast("long").alias("anotb_est"),
            bnota.cast("long").alias("bnota_est"),
            (F.col("nda") - F.coalesce(F.col("ni"), F.lit(0)))
            .cast("long")
            .alias("n_exact_anotb"),
            (F.col("ndb") - F.coalesce(F.col("ni"), F.lit(0)))
            .cast("long")
            .alias("n_exact_bnota"),
        )
    )


# --------------------------------------------------------------------------
# q42 twin: KMV rollup — the re-aggregable distinct-count rollup with an
# exactly-replayable mechanism (closes the q42_hll_sketch rows-only gap)
# --------------------------------------------------------------------------

_KMV_O_H_SPARK = (
    "conv(substring(md5(cast(cast(o_custkey as string) as binary)), 1, 8), 16, 10)"
)
_KMV_O_H_SQL = (
    "CAST(('0x' || SUBSTRING(MD5(CAST(o_custkey AS VARCHAR)), 1, 8))::UBIGINT"
    " AS BIGINT)"
)

_KMV_EST_SQL = (
    f"CASE WHEN {{a}}.ck < {_KMV_K} THEN {{a}}.ck "
    f"ELSE FLOOR({_KMV_K - 1} * 4294967296.0 / {{a}}.hk) END"
)


@query(
    "q42_kmv_rollup",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT o_orderpriority, {_KMV_O_H_SQL} AS hv FROM orders
      WHERE o_custkey IS NOT NULL
    ),
    r AS (
      SELECT o_orderpriority, hv,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY hv) AS rn
      FROM h
    ),
    sk AS (SELECT o_orderpriority, hv FROM r WHERE rn <= {_KMV_K}),
    g AS (
      SELECT o_orderpriority, COUNT(*) AS ck, MAX(hv) AS hk
      FROM sk GROUP BY 1
    ),
    -- the ALL row is computed FROM THE SKETCHES ALONE: KMV merge = distinct
    -- union of the kept hashes, re-truncated to bottom-k
    mr AS (
      SELECT hv, ROW_NUMBER() OVER (ORDER BY hv) AS rn
      FROM (SELECT DISTINCT hv FROM sk)
    ),
    mg AS (SELECT COUNT(*) AS ck, MAX(hv) AS hk FROM mr WHERE rn <= {_KMV_K}),
    exg AS (
      SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS nd FROM orders
      WHERE o_custkey IS NOT NULL GROUP BY 1
    ),
    exa AS (
      SELECT COUNT(DISTINCT o_custkey) AS nd FROM orders
      WHERE o_custkey IS NOT NULL
    )
    SELECT g.o_orderpriority,
           CAST(exg.nd AS BIGINT) AS n_exact,
           CAST({_KMV_EST_SQL.format(a='g')} AS BIGINT) AS kmv_est,
           CAST(FLOOR(ABS({_KMV_EST_SQL.format(a='g')} - exg.nd) * 1000.0
                / exg.nd) AS BIGINT) AS err_milli
    FROM g JOIN exg USING (o_orderpriority)
    UNION ALL
    SELECT 'ALL' AS o_orderpriority,
           CAST(exa.nd AS BIGINT) AS n_exact,
           CAST({_KMV_EST_SQL.format(a='mg')} AS BIGINT) AS kmv_est,
           CAST(FLOOR(ABS({_KMV_EST_SQL.format(a='mg')} - exa.nd) * 1000.0
                / exa.nd) AS BIGINT) AS err_milli
    FROM mg, exa
    """,
    doc=f"The q42_hll_sketch use case — per-group mergeable distinct-count "
    "sketches plus their UNION-merged global estimate in one pass — rebuilt "
    f"on bottom-{_KMV_K} KMV sketches whose mechanism the oracle replays "
    "EXACTLY (q107's md5-prefix hash): per-o_orderpriority sketch contents, "
    "the ALL row merged FROM THE SKETCHES ALONE (KMV union = distinct union "
    "of kept hashes re-truncated to bottom-k — the associativity that makes "
    "per-partition sketches roll up over arbitrary dimensions without "
    "rescanning the fact data at 100 TB), estimates, and per-group error vs "
    "the exact count, all hash-green. Retires the registry's last "
    "rows-only pair: q07_approx_distinct/q42_hll_sketch stay as documented "
    "engine-specific extras (Datasketches HLL register layouts are not "
    "ANSI-replayable; their error envelopes are pinned in unit tests). "
    "Scale shape: corpus-side work is one distinct (group, hash) dedup + "
    f"the {_KMV_SALTS}-salt two-level bottom-k; every sketch-side frame is "
    "<= |priorities|*k longs, and the single-partition merge window runs "
    "over that bounded sketch-content set, never the corpus.",
)
def q42_kmv_rollup(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders").filter(F.col("o_custkey").isNotNull())
    h = o.select(
        "o_orderpriority", F.expr(_KMV_O_H_SPARK).cast("long").alias("hv")
    ).distinct()
    sk = two_level_bottom_k(
        h, ["o_orderpriority"], _KMV_K, _KMV_SALTS
    ).localCheckpoint(eager=False)  # k x |priorities| longs; feeds both
    # rollup levels (lazy: single final action — no up-front job)
    g = sk.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("ck"), F.max("hv").alias("hk")
    )
    # KMV MERGE from sketch contents only: distinct union, bottom-k again.
    # The global window's input is bounded at |priorities|*k rows by
    # construction (TINY_DOMAIN_SINGLE_PARTITION).
    mg = (
        sk.select("hv")
        .distinct()
        .withColumn("rn", F.row_number().over(W.orderBy("hv")))
        .filter(F.col("rn") <= _KMV_K)
        .agg(F.count(F.lit(1)).alias("ck"), F.max("hv").alias("hk"))
    )
    exg = o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("nd")
    )
    exa = o.agg(F.countDistinct("o_custkey").alias("nd"))

    def est():
        return F.when(F.col("ck") < _KMV_K, F.col("ck")).otherwise(
            F.floor(F.lit((_KMV_K - 1) * 4294967296.0) / F.col("hk"))
        )

    per = g.join(exg, "o_orderpriority").select(
        "o_orderpriority",
        F.col("nd").cast("long").alias("n_exact"),
        est().cast("long").alias("kmv_est"),
        F.floor(F.abs(est() - F.col("nd")) * 1000.0 / F.col("nd"))
        .cast("long")
        .alias("err_milli"),
    )
    # 1-row x 1-row combine WITHOUT a join: a crossJoin (or an equi-join on
    # a literal key, which constant-folds to one) plans
    # BroadcastNestedLoopJoin, the global gate's forbidden class — union the
    # two 1-row aggregates and max-collapse instead
    allr = (
        mg.select("ck", "hk", F.lit(None).cast("long").alias("nd"))
        .unionByName(
            exa.select(
                F.lit(None).cast("long").alias("ck"),
                F.lit(None).cast("long").alias("hk"),
                F.col("nd").cast("long").alias("nd"),
            )
        )
        .agg(
            F.max("ck").alias("ck"),
            F.max("hk").alias("hk"),
            F.max("nd").alias("nd"),
        )
        .select(
            F.lit("ALL").alias("o_orderpriority"),
            F.col("nd").cast("long").alias("n_exact"),
            est().cast("long").alias("kmv_est"),
            F.floor(F.abs(est() - F.col("nd")) * 1000.0 / F.col("nd"))
            .cast("long")
            .alias("err_milli"),
        )
    )
    return per.unionByName(allr)


# --------------------------------------------------------------------------
# graph: degree assortativity (the mixing-pattern scalar)
# --------------------------------------------------------------------------


def assortativity_of(edges: DataFrame) -> DataFrame:
    """(n_nodes, n_edges, r_milli) of an undirected (u, v) edge frame —
    the formula stage, shared by the query and the hand-built-graph unit
    test (a star must score −1000, a clique NULL)."""
    he = edges.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionAll(edges.select(F.col("v").alias("src"), F.col("u").alias("dst")))
    deg = he.groupBy(F.col("src").alias("x")).agg(F.count(F.lit(1)).alias("dg"))
    ds = deg.select(F.col("x").alias("src"), F.col("dg").alias("djs"))
    dd = deg.select(F.col("x").alias("dst"), F.col("dg").alias("djd"))
    d38 = "decimal(38,0)"
    sums = (
        he.join(ds, "src")
        .join(dd, "dst")
        .agg(
            F.count(F.lit(1)).cast(d38).alias("m"),
            F.sum(F.col("djs").cast(d38) * F.col("djd").cast(d38))
            .cast(d38)
            .alias("a"),
            F.sum(F.col("djs").cast(d38)).cast(d38).alias("sj"),
            F.sum(F.col("djs").cast(d38) * F.col("djs").cast(d38))
            .cast(d38)
            .alias("b"),
        )
    )
    n_nodes = deg.count()
    num = (F.lit(1000).cast(d38) * (F.col("m") * F.col("a") - F.col("sj") * F.col("sj"))).cast(d38)
    den = (F.col("m") * F.col("b") - F.col("sj") * F.col("sj")).cast(d38)
    r_milli = F.when(
        den == F.lit(0).cast(d38), F.lit(None).cast("long")
    ).otherwise(F.call_function("div", num, den).cast("long"))
    return sums.select(
        F.lit(n_nodes).cast("long").alias("n_nodes"),
        # |E| = half-edge count / 2 — no second action over the edge list
        F.call_function("div", F.col("m"), F.lit(2).cast(d38))
        .cast("long")
        .alias("n_edges"),
        r_milli.alias("r_milli"),
    )



@query(
    "graph_assortativity",
    oracle="""
    WITH eo AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      WHERE a.l_orderkey % 10 = 0
    ),
    he AS (
      SELECT u AS src, v AS dst FROM eo
      UNION ALL
      SELECT v AS src, u AS dst FROM eo
    ),
    deg AS (SELECT src AS x, COUNT(*) AS dg FROM he GROUP BY 1),
    s AS (
      SELECT CAST(COUNT(*) AS DECIMAL(38, 0)) AS m,
             CAST(SUM(CAST(ds.dg AS DECIMAL(38, 0))
                      * CAST(dd.dg AS DECIMAL(38, 0))) AS DECIMAL(38, 0)) AS a,
             CAST(SUM(CAST(ds.dg AS DECIMAL(38, 0))) AS DECIMAL(38, 0)) AS sj,
             CAST(SUM(CAST(ds.dg AS DECIMAL(38, 0))
                      * CAST(ds.dg AS DECIMAL(38, 0))) AS DECIMAL(38, 0)) AS b
      FROM he
      JOIN deg ds ON ds.x = he.src
      JOIN deg dd ON dd.x = he.dst
    )
    SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM eo) AS BIGINT) AS n_edges,
           -- HUGEINT // HUGEINT truncates toward zero (pairs with Spark
           -- div); DECIMAL // DECIMAL is DOUBLE division in DuckDB 1.0 and
           -- the BIGINT cast ROUNDS — it diverges on any quotient with
           -- fraction >= 0.5 (confirmed empirically; sf0.01 passed at .243
           -- by luck)
           CAST(CASE WHEN m * b - sj * sj = 0 THEN NULL
                ELSE CAST(1000 * (m * a - sj * sj) AS HUGEINT)
                     // CAST(m * b - sj * sj AS HUGEINT) END AS BIGINT)
             AS r_milli
    FROM s
    """,
    doc="Degree ASSORTATIVITY of the part co-purchase graph (Pearson "
    "correlation of endpoint degrees over directed half-edges, Newman "
    "2002's full-degree form): r > 0 = hubs buy with hubs (social-network "
    "mixing), r < 0 = hub-and-spoke (the common retail/web shape) — the "
    "one-scalar structure diagnostic that tells you whether degree-ordered "
    "orientation (triangle/k-core family) or hub-salting is the right "
    "plan for THIS graph before running it. Exact integer/decimal "
    "arithmetic end to end: r = (M·Σjk − S²)/(M·Σj² − S²) over "
    "decimal(38,0) sums (the q56 headroom discipline — M·Σjk overflows "
    "int64 at ~1e6 hub-degree edges), milli via truncate-toward-zero "
    "division paired with DuckDB `//`; a float Pearson would be "
    "partition-order-dependent and unhashable. Degenerate regular graph "
    "(zero variance) yields NULL on both engines. One edge-list pass + "
    "two broadcast degree joins; the only corpus-scale shuffle is the "
    "degree groupBy the whole graph family already pays.",
)
def graph_assortativity(spark: SparkSession, sf: str) -> DataFrame:
    edges, _ = _copurchase_graph(spark, sf)
    return assortativity_of(edges)


# --------------------------------------------------------------------------
# q113: mergeable bottom-k-sample quantile rollup — the percentile analogue
# of q42_kmv_rollup (re-aggregable quantiles without rescanning fact data)
# --------------------------------------------------------------------------

_SQR_K = 64  # sample size per group; the mergeable-sample budget
_SQR_SALTS = 256  # first-level prune fan, same two-level bottom-k as KMV

_SQR_H_SPARK = (
    "conv(substring(md5(cast(cast(o_orderkey as string) as binary)), 1, 8), 16, 10)"
)
_SQR_H_SQL = (
    "CAST(('0x' || SUBSTRING(MD5(CAST(o_orderkey AS VARCHAR)), 1, 8))::UBIGINT"
    " AS BIGINT)"
)

# binary-exact fractions ONLY (0.5 = 2^-1, 0.75 = 3*2^-2): CEIL(p*n) must be
# the same integer in both engines, and p*n is FP-exact for these p at any n
_SQR_PCTS = ((50, "0.5"), (75, "0.75"))


def _sqr_est_sql(src: str) -> str:
    picks = ", ".join(
        f"MAX(CASE WHEN vr = CEIL({p} * ns) THEN vc END) AS p{tag}_est"
        for tag, p in _SQR_PCTS
    )
    return f"SELECT MAX(ns) AS n_sample, {picks} FROM {src}"


@query(
    "q113_sample_quantile_rollup",
    oracle=f"""
    WITH b AS (
      SELECT o_orderpriority, o_orderkey, {_SQR_H_SQL} AS hv,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS vc
      FROM orders WHERE o_totalprice IS NOT NULL
    ),
    r AS (
      SELECT o_orderpriority, o_orderkey, hv, vc,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY hv, o_orderkey) AS rn
      FROM b
    ),
    sk AS (SELECT o_orderpriority, o_orderkey, hv, vc FROM r
           WHERE rn <= {_SQR_K}),
    skr AS (
      SELECT o_orderpriority, vc,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY vc, o_orderkey) AS vr,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS ns
      FROM sk
    ),
    estg AS ({_sqr_est_sql('skr').replace('SELECT ', 'SELECT o_orderpriority, ', 1)}
             GROUP BY o_orderpriority),
    -- the ALL row merges FROM THE SKETCHES ALONE: union of kept rows,
    -- re-truncated to bottom-k by the same (hv, key) order
    mr AS (
      SELECT o_orderkey, vc,
             ROW_NUMBER() OVER (ORDER BY hv, o_orderkey) AS rn
      FROM sk
    ),
    mskr AS (
      SELECT vc, ROW_NUMBER() OVER (ORDER BY vc, o_orderkey) AS vr,
             COUNT(*) OVER () AS ns
      FROM mr WHERE rn <= {_SQR_K}
    ),
    esta AS ({_sqr_est_sql('mskr')}),
    xr AS (
      SELECT o_orderpriority, vc,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY vc, o_orderkey) AS vr,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS ns
      FROM b
    ),
    exg AS (
      SELECT o_orderpriority,
             MAX(CASE WHEN vr = CEIL(0.5 * ns) THEN vc END) AS p50_ex,
             MAX(CASE WHEN vr = CEIL(0.75 * ns) THEN vc END) AS p75_ex
      FROM xr GROUP BY 1
    ),
    xa AS (
      SELECT vc, ROW_NUMBER() OVER (ORDER BY vc, o_orderkey) AS vr,
             COUNT(*) OVER () AS ns
      FROM b
    ),
    exa AS (
      SELECT MAX(CASE WHEN vr = CEIL(0.5 * ns) THEN vc END) AS p50_ex,
             MAX(CASE WHEN vr = CEIL(0.75 * ns) THEN vc END) AS p75_ex
      FROM xa
    )
    SELECT e.o_orderpriority,
           CAST(e.n_sample AS BIGINT) AS n_sample,
           CAST(x.p50_ex AS BIGINT) AS p50_exact_cents,
           CAST(e.p50_est AS BIGINT) AS p50_est_cents,
           CAST(ABS(e.p50_est - x.p50_ex) * 1000 // x.p50_ex AS BIGINT)
             AS err50_milli,
           CAST(x.p75_ex AS BIGINT) AS p75_exact_cents,
           CAST(e.p75_est AS BIGINT) AS p75_est_cents,
           CAST(ABS(e.p75_est - x.p75_ex) * 1000 // x.p75_ex AS BIGINT)
             AS err75_milli
    FROM estg e JOIN exg x USING (o_orderpriority)
    UNION ALL
    SELECT 'ALL' AS o_orderpriority,
           CAST(a.n_sample AS BIGINT) AS n_sample,
           CAST(y.p50_ex AS BIGINT) AS p50_exact_cents,
           CAST(a.p50_est AS BIGINT) AS p50_est_cents,
           CAST(ABS(a.p50_est - y.p50_ex) * 1000 // y.p50_ex AS BIGINT)
             AS err50_milli,
           CAST(y.p75_ex AS BIGINT) AS p75_exact_cents,
           CAST(a.p75_est AS BIGINT) AS p75_est_cents,
           CAST(ABS(a.p75_est - y.p75_ex) * 1000 // y.p75_ex AS BIGINT)
             AS err75_milli
    FROM esta a, exa y
    """,
    doc=f"Mergeable QUANTILE rollup — the percentile analogue of "
    "q42_kmv_rollup: per-o_orderpriority bottom-{k}-by-stable-hash samples "
    "(a bottom-k sample over a uniform key hash IS a uniform sample, and "
    "union-then-retruncate makes it MERGEABLE — the associativity that lets "
    "per-partition/per-day samples roll up over arbitrary dimensions "
    "without rescanning 100 TB of fact data), discrete p50/p75 estimated "
    "by rank-pick on the sample, the ALL row computed FROM THE SKETCH "
    "CONTENTS ALONE, and per-group error vs the EXACT percentile_disc in "
    "integer milli-units — every step replayed exactly by the oracle (md5 "
    "hash, ceil(p*n) rank-pick on binary-exact fractions, integer-cents "
    "values, integer-division error). Scale shape: corpus-side work is the "
    f"{_SQR_SALTS}-salt two-level bottom-k (hot groups never funnel one "
    "reducer) plus one percentile_disc aggregate for the exact baseline "
    "(the verification harness — production keeps only the sketch path); "
    f"every sketch-side frame is <= |priorities|*{_SQR_K} rows and the "
    "single-partition merge/rank windows run over that bounded set, never "
    "the corpus.".replace("{k}", str(_SQR_K)),
)
def q113_sample_quantile_rollup(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders").filter(F.col("o_totalprice").isNotNull())
    b = o.select(
        "o_orderpriority",
        "o_orderkey",
        F.expr(_SQR_H_SPARK).cast("long").alias("hv"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("vc"),
    )
    sk = two_level_bottom_k(
        b, ["o_orderpriority"], _SQR_K, _SQR_SALTS, ("hv", "o_orderkey")
    ).localCheckpoint()  # <= |priorities| x k rows; EAGER: it feeds both
    # rollup levels as concurrent subtrees of the final job — lazy would
    # materialize in a cache race and run the two-level bottom-k twice

    def rank_pick(df, part_cols):
        wv = (
            W.partitionBy(*part_cols) if part_cols else W.partitionBy(F.lit(1))
        ).orderBy("vc", "o_orderkey")
        wc = W.partitionBy(*part_cols) if part_cols else W.partitionBy(F.lit(1))
        r = df.select(
            *part_cols,
            "vc",
            F.row_number().over(wv).alias("vr"),
            F.count(F.lit(1)).over(wc).alias("ns"),
        )
        aggs = [F.max("ns").alias("n_sample")] + [
            F.max(
                F.when(
                    F.col("vr") == F.ceil(F.lit(float(p)) * F.col("ns")), F.col("vc")
                )
            ).alias(f"p{tag}_est")
            for tag, p in _SQR_PCTS
        ]
        return r.groupBy(*part_cols).agg(*aggs)

    est_g = rank_pick(sk, ["o_orderpriority"])
    # merge = union of sketch rows re-truncated to bottom-k (sketch-only input,
    # bounded at |priorities|*k rows: TINY_DOMAIN_SINGLE_PARTITION)
    msk = (
        sk.withColumn("rn", F.row_number().over(W.orderBy("hv", "o_orderkey")))
        .filter(F.col("rn") <= _SQR_K)
        .drop("rn")
    )
    est_a = rank_pick(msk, [])
    pd50 = "percentile_disc(0.5) WITHIN GROUP (ORDER BY vc)"
    pd75 = "percentile_disc(0.75) WITHIN GROUP (ORDER BY vc)"
    # Two exact aggregations, not one rollup pass: a rollup halves the
    # corpus scans, but its grouping-sets Expand doubles the rows entering
    # the sort-based percentile aggregate, and the round-12 interleaved A/B
    # read the rollup 0.83-0.92x as fast as this form (OPTIMIZATION_r12.md).
    ex_g = b.groupBy("o_orderpriority").agg(
        F.expr(pd50).cast("long").alias("p50_ex"),
        F.expr(pd75).cast("long").alias("p75_ex"),
    )
    ex_a = b.agg(
        F.expr(pd50).cast("long").alias("p50_ex"),
        F.expr(pd75).cast("long").alias("p75_ex"),
    )

    def out(est, ex, on):
        # 1-row x 1-row combine WITHOUT a join: a crossJoin (or an equi-join
        # on a literal key, which constant-folds to one) would plan
        # BroadcastNestedLoopJoin, the global plan gate's forbidden class —
        # union the two 1-row aggregates and max-collapse instead (q42 idiom)
        j = est.join(ex, on) if on else est.unionByName(
            ex.select(
                F.lit(None).cast("long").alias("n_sample"),
                F.lit(None).cast("long").alias("p50_est"),
                F.lit(None).cast("long").alias("p75_est"),
                "p50_ex",
                "p75_ex",
            ),
            allowMissingColumns=True,
        ).agg(
            F.max("n_sample").alias("n_sample"),
            F.max("p50_est").alias("p50_est"),
            F.max("p75_est").alias("p75_est"),
            F.max("p50_ex").alias("p50_ex"),
            F.max("p75_ex").alias("p75_ex"),
        ).withColumn("o_orderpriority", F.lit("ALL"))
        return j.select(
            "o_orderpriority",
            F.col("n_sample").cast("long").alias("n_sample"),
            F.col("p50_ex").cast("long").alias("p50_exact_cents"),
            F.col("p50_est").cast("long").alias("p50_est_cents"),
            F.call_function(
                "div", F.abs(F.col("p50_est") - F.col("p50_ex")) * 1000, F.col("p50_ex")
            ).cast("long").alias("err50_milli"),
            F.col("p75_ex").cast("long").alias("p75_exact_cents"),
            F.col("p75_est").cast("long").alias("p75_est_cents"),
            F.call_function(
                "div", F.abs(F.col("p75_est") - F.col("p75_ex")) * 1000, F.col("p75_ex")
            ).cast("long").alias("err75_milli"),
        )

    return out(est_g, ex_g, ["o_orderpriority"]).unionByName(
        out(est_a, ex_a, None)
    )

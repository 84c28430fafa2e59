"""Operator micro-queries — one executable probe per logical operator /
function family in the reference inventory (SURVEY.md §2), each with a
DuckDB oracle. These are the runnable analog of the reference's
plan-shape unit tests (doradb-plan lgc/mod.rs `plan_shape!`,
pred_pushdown_old.rs `assert_j_plan1`) — but they execute and compare
values, which the reference never could.

Covered here:
  Setop {Union,Except,Intersect} × {All,Distinct}   lgc/setop.rs:8-22
  Limit {start,end} (OFFSET+FETCH)                  lgc/op.rs:192-196
  Sort + fused top-k                                lgc/op.rs:186-190
  Mark join (EXISTS under OR)                       join/mod.rs:22,95
  Single join (scalar subquery per row)             join/mod.rs:23,96
  Full outer join                                   join/mod.rs:88-97
  Cross join                                        join/mod.rs:48-52
  Row (table-less SELECT)                           lgc/op.rs:202
  Scalar funcs: Substring/Extract/Case/arith/mod    doradb-expr/src/func.rs
  Bit ops: And/Or/Xor/Shl/Shr/Inv                   func.rs:10,17-21
  Predicates: LIKE/REGEXP/IN/BETWEEN/IS NULL/<=>    doradb-expr/src/pred.rs
  Window functions (beyond-reference bonus)          SURVEY.md §2.5
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xngin_spark.functions.aggregates import DEC, count_star, dsum, dsum_expr
from xngin_spark.functions.scalar import int_div
from xngin_spark.plans.builders import limit as limit_op
from xngin_spark.plans.builders import row as row_op
from xngin_spark.plans.builders import setop, sort
from xngin_spark.plans.joins import cross_join, mark_join, quantified_all, single_join
from xngin_spark.queries import register
from xngin_spark.queries.tpch import T


# --- Setops ---------------------------------------------------------------

_SETOP_LEFT = "SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'"
_SETOP_RIGHT = "SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000"


def _setop_sides(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    c = T(spark, sf_dir, "customer")
    left = c.filter(F.col("c_mktsegment") == "BUILDING").select(F.col("c_custkey").alias("k"))
    right = c.filter(F.col("c_acctbal") > 5000).select(F.col("c_custkey").alias("k"))
    return left, right


@register("setop_union_all", f"{_SETOP_LEFT} UNION ALL {_SETOP_RIGHT}")
def setop_union_all(spark, sf_dir):
    return setop("union", "all", *_setop_sides(spark, sf_dir))


@register("setop_union_distinct", f"{_SETOP_LEFT} UNION {_SETOP_RIGHT}")
def setop_union_distinct(spark, sf_dir):
    return setop("union", "distinct", *_setop_sides(spark, sf_dir))


@register("setop_except_all", f"{_SETOP_LEFT} EXCEPT ALL {_SETOP_RIGHT}")
def setop_except_all(spark, sf_dir):
    return setop("except", "all", *_setop_sides(spark, sf_dir))


@register("setop_except_distinct", f"{_SETOP_LEFT} EXCEPT {_SETOP_RIGHT}")
def setop_except_distinct(spark, sf_dir):
    return setop("except", "distinct", *_setop_sides(spark, sf_dir))


@register("setop_intersect_all", f"{_SETOP_LEFT} INTERSECT ALL {_SETOP_RIGHT}")
def setop_intersect_all(spark, sf_dir):
    return setop("intersect", "all", *_setop_sides(spark, sf_dir))


@register("setop_intersect_distinct", f"{_SETOP_LEFT} INTERSECT {_SETOP_RIGHT}")
def setop_intersect_distinct(spark, sf_dir):
    return setop("intersect", "distinct", *_setop_sides(spark, sf_dir))


# --- Limit / offset / top-k ----------------------------------------------


@register(
    "limit_offset",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_orderkey LIMIT 50 OFFSET 100
    """,
)
def limit_offset(spark, sf_dir):
    o = sort(T(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice"),
             [F.col("o_orderkey")])
    return limit_op(o, end=150, start=100)


@register(
    "topk_fused",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
    """,
)
def topk_fused(spark, sf_dir):
    # Sort{limit} → Spark TakeOrderedAndProject: distributed per-partition
    # heap + driver merge, never a full sort — the scale-correct top-k.
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return sort(o, [F.col("o_totalprice").desc(), F.col("o_orderkey")], fused_limit=25)


@register("distinct_proj", "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer")
def distinct_proj(spark, sf_dir):
    return T(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").distinct()


# --- Join kinds beyond the TPC-H suite -----------------------------------


@register(
    "mark_join_q",
    """
    SELECT c_custkey,
           (c_acctbal > 9000) OR EXISTS (
             SELECT 1 FROM orders
             WHERE o_custkey = c_custkey AND o_totalprice > 50000
           ) AS flagged
    FROM customer
    """,
)
def mark_join_q(spark, sf_dir):
    # EXISTS under OR cannot become a plain semi join — this is exactly
    # the Mark-join case (JoinKind::Mark, join/mod.rs:22).
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 50000).select("o_custkey")
    marked = mark_join(c, o, F.col("c_custkey") == F.col("o_custkey"), mark="m")
    return marked.select(
        "c_custkey", ((F.col("c_acctbal") > 9000) | F.col("m")).alias("flagged")
    )


@register(
    "single_join_q",
    """
    SELECT n_nationkey, n_name,
           (SELECT r_name FROM region WHERE r_regionkey = n_regionkey) AS region_name
    FROM nation
    """,
)
def single_join_q(spark, sf_dir):
    # Scalar subquery per row = JoinKind::Single with the uniqueness
    # guard (ExprKind::Attval, doradb-expr/src/expr.rs:42-45).
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region")
    return single_join(
        n, r, F.col("n_regionkey"), F.col("r_regionkey"), F.col("r_name"), "region_name"
    ).select("n_nationkey", "n_name", "region_name")


@register(
    "full_outer_join",
    """
    SELECT COALESCE(s.nk, c.nk) AS nationkey,
           s.n_supp, c.n_cust
    FROM (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY s_nationkey) s
    FULL OUTER JOIN
         (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY c_nationkey) c
      ON s.nk = c.nk
    """,
)
def full_outer_join(spark, sf_dir):
    s = (
        T(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("snk"))
        .agg(count_star().alias("n_supp"))
    )
    c = (
        T(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("cnk"))
        .agg(count_star().alias("n_cust"))
    )
    return s.join(c, F.col("snk") == F.col("cnk"), "full").select(
        F.coalesce(F.col("snk"), F.col("cnk")).alias("nationkey"), "n_supp", "n_cust"
    )


@register(
    "cross_join_q",
    "SELECT r_name, n_name FROM region CROSS JOIN nation",
)
def cross_join_q(spark, sf_dir):
    return cross_join(
        T(spark, sf_dir, "region").select("r_name"),
        T(spark, sf_dir, "nation").select("n_name"),
    )


@register("row_select", "SELECT 1 AS one, 'x' AS tag, CAST(2.5 AS DOUBLE) AS v")
def row_select(spark, sf_dir):
    # OpKind::Row — table-less single row (lgc/op.rs:202).
    return row_op(
        spark,
        F.lit(1).alias("one"),
        F.lit("x").alias("tag"),
        F.lit(2.5).alias("v"),
    )


# --- Scalar function surface ---------------------------------------------


@register(
    "scalar_funcs",
    """
    SELECT l_orderkey, l_linenumber,
           SUBSTRING(l_returnflag, 1, 1) AS rf,
           CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS ship_year,
           CAST(EXTRACT(month FROM l_shipdate) AS BIGINT) AS ship_month,
           CAST(EXTRACT(day FROM l_shipdate) AS BIGINT) AS ship_day,
           CAST(EXTRACT(quarter FROM l_shipdate) AS BIGINT) AS ship_quarter,
           CASE WHEN l_quantity < 10 THEN 'low'
                WHEN l_quantity < 40 THEN 'mid'
                ELSE 'high' END AS qty_band,
           CAST(l_quantity AS BIGINT) % 7 AS qmod,
           CAST(FLOOR(CAST(l_quantity AS BIGINT) / 7) AS BIGINT) AS qdiv,
           -l_linenumber AS neg_line,
           l_extendedprice * 2.0 + 1.0 AS arith
    FROM lineitem WHERE l_orderkey < 100
    """,
)
def scalar_funcs(spark, sf_dir):
    l = T(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    from xngin_spark.functions.scalar import case_when, extract, substring_sql

    return l.select(
        "l_orderkey",
        "l_linenumber",
        substring_sql(F.col("l_returnflag"), 1, 1).alias("rf"),
        extract("year", F.col("l_shipdate")).alias("ship_year"),
        extract("month", F.col("l_shipdate")).alias("ship_month"),
        extract("day", F.col("l_shipdate")).alias("ship_day"),
        extract("quarter", F.col("l_shipdate")).alias("ship_quarter"),
        case_when(
            [
                (F.col("l_quantity") < 10, F.lit("low")),
                (F.col("l_quantity") < 40, F.lit("mid")),
            ],
            F.lit("high"),
        ).alias("qty_band"),
        (F.col("l_quantity").cast("long") % 7).alias("qmod"),
        int_div(F.col("l_quantity").cast("long"), F.lit(7)).alias("qdiv"),
        (-F.col("l_linenumber")).alias("neg_line"),
        (F.col("l_extendedprice") * 2.0 + 1.0).alias("arith"),
    )


@register(
    "bit_ops",
    """
    SELECT l_linenumber,
           l_linenumber & 3 AS band,
           l_linenumber | 8 AS bor,
           xor(l_linenumber, 5) AS bxor,
           l_linenumber << 2 AS shl,
           l_linenumber >> 1 AS shr,
           ~l_linenumber AS binv
    FROM lineitem WHERE l_orderkey < 50
    """,
)
def bit_ops(spark, sf_dir):
    from xngin_spark.functions.scalar import (
        bit_and,
        bit_inv,
        bit_or,
        bit_shl,
        bit_shr,
        bit_xor,
    )

    l = T(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 50)
    n = F.col("l_linenumber")
    return l.select(
        "l_linenumber",
        bit_and(n, F.lit(3)).alias("band"),
        bit_or(n, F.lit(8)).alias("bor"),
        bit_xor(n, F.lit(5)).alias("bxor"),
        bit_shl(n, 2).alias("shl"),
        bit_shr(n, 1).alias("shr"),
        bit_inv(n).alias("binv"),
    )


# --- Predicate surface ----------------------------------------------------


@register(
    "predicates",
    """
    SELECT o_orderkey,
           o_orderpriority LIKE '1-%' AS is_urgent,
           o_orderpriority NOT LIKE '%LOW' AS not_low,
           regexp_matches(o_orderpriority, '^[12]-') AS high_re,
           o_orderstatus IN ('F', 'P') AS closed,
           o_totalprice BETWEEN 1000 AND 2000 AS mid_price,
           (CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_totalprice END)
             IS NULL AS made_null,
           (CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_orderstatus END)
             IS NOT DISTINCT FROM 'F' AS safe_eq_f
    FROM orders WHERE o_orderkey < 500
    """,
)
def predicates(spark, sf_dir):
    from xngin_spark.functions.predicates import safe_eq

    o = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    nullable_status = F.when(F.col("o_orderstatus") == "P", F.lit(None)).otherwise(
        F.col("o_orderstatus")
    )
    nullable_price = F.when(F.col("o_orderstatus") == "P", F.lit(None)).otherwise(
        F.col("o_totalprice")
    )
    return o.select(
        "o_orderkey",
        F.col("o_orderpriority").like("1-%").alias("is_urgent"),
        (~F.col("o_orderpriority").like("%LOW")).alias("not_low"),
        F.col("o_orderpriority").rlike("^[12]-").alias("high_re"),
        F.col("o_orderstatus").isin("F", "P").alias("closed"),
        F.col("o_totalprice").between(1000, 2000).alias("mid_price"),
        nullable_price.isNull().alias("made_null"),
        safe_eq(nullable_status, F.lit("F")).alias("safe_eq_f"),
    )


# --- Window functions (beyond-reference: absent in the reference, AST
# placeholder only — doradb-sql/src/ast.rs:1278 "// todo: window") -------


@register(
    "window_rank",
    f"""
    SELECT o_custkey, o_orderkey, o_totalprice,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
           CAST(RANK() OVER w AS BIGINT) AS rnk,
           CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6)))
                OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
                      ROWS UNBOUNDED PRECEDING) AS STRING) AS DOUBLE) AS running_total,
           LAG(o_orderkey) OVER w AS prev_order,
           LEAD(o_orderkey) OVER w AS next_order,
           CAST(NTILE(4) OVER w AS BIGINT) AS quartile
    FROM orders
    WHERE o_custkey < 50
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def window_rank(spark, sf_dir):
    o = T(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.row_number().over(w).cast("long").alias("rn"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.sum(F.col("o_totalprice").cast(DEC)).over(wrun).cast("double").alias("running_total"),
        F.lag("o_orderkey").over(w).alias("prev_order"),
        F.lead("o_orderkey").over(w).alias("next_order"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


@register(
    "window_agg_per_group",
    f"""
    SELECT c_nationkey, c_custkey, c_acctbal
    FROM (
      SELECT c_nationkey, c_custkey, c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer
    ) t WHERE rn <= 3
    """,
)
def window_agg_per_group(spark, sf_dir):
    # top-3-per-group — the canonical windowed top-k; at scale this is a
    # single shuffle on the partition key, no global sort.
    c = T(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("c_nationkey", "c_custkey", "c_acctbal")
    )


# --- Aggregate-function surface (distinct variants) -----------------------


@register(
    "agg_distinct",
    f"""
    SELECT o_orderstatus,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS uniq_cust,
           {dsum_expr("o_totalprice", "total")},
           CAST(SUM(DISTINCT CAST(o_custkey AS BIGINT)) AS BIGINT) AS sum_uniq_cust,
           MIN(o_orderdate) AS first_date,
           MAX(o_orderdate) AS last_date
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def agg_distinct(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("uniq_cust"),
            dsum(F.col("o_totalprice"), "total"),
            F.sum_distinct(F.col("o_custkey").cast("long")).alias("sum_uniq_cust"),
            F.min("o_orderdate").alias("first_date"),
            F.max("o_orderdate").alias("last_date"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "agg_stats",
    """
    WITH s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             SUM(CAST(CAST(l_quantity AS DOUBLE) AS DECIMAL(25,6))) AS sx,
             SUM(CAST(CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE)
                 AS DECIMAL(25,6))) AS sxx
      FROM lineitem
      GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n,
           CAST(sx AS DOUBLE) / n AS mean_qty,
           sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
                / (n - 1)) AS stddev_qty,
           (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
                / (n - 1) AS var_qty
    FROM s
    ORDER BY l_returnflag
    """,
)
def agg_stats(spark, sf_dir):
    """Extended statistical aggregates (beyond the reference's 5-function
    surface, SURVEY.md §2.2): mean/stddev/variance through the exact
    sum/sum-of-squares formula with decimal accumulation, so both
    engines do identical IEEE math on identical exact sums (native
    stddev uses Welford updates whose result is order-dependent)."""
    li = T(spark, sf_dir, "lineitem")
    xd = F.col("l_quantity").cast("double")
    g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd.cast(DEC)).alias("sx"),
        F.sum((xd * xd).cast(DEC)).alias("sxx"),
    )
    n = F.col("n")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    var = (sxx - sx * sx / n) / (n - 1)
    return g.select(
        "l_returnflag",
        n,
        (sx / n).alias("mean_qty"),
        F.sqrt(var).alias("stddev_qty"),
        var.alias("var_qty"),
    ).orderBy("l_returnflag")


# --- Grouping sets / rollup / cube (beyond the reference's GROUP BY — no
# grouping-set surface exists in its AST, SURVEY.md §2.2) -------------------


@register(
    "rollup_agg",
    f"""
    SELECT n_name, o_orderstatus,
           CAST(GROUPING(n_name) AS BIGINT) AS g_nation,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {dsum_expr("o_totalprice", "total")}
    FROM orders
    JOIN customer ON c_custkey = o_custkey
    JOIN nation ON n_nationkey = c_nationkey
    GROUP BY ROLLUP (n_name, o_orderstatus)
    """,
)
def rollup_agg(spark, sf_dir):
    o, c, n = (T(spark, sf_dir, t) for t in ("orders", "customer", "nation"))
    j = o.join(c, o.o_custkey == c.c_custkey).join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    )
    return j.rollup("n_name", "o_orderstatus").agg(
        F.grouping("n_name").cast("long").alias("g_nation"),
        F.grouping("o_orderstatus").cast("long").alias("g_status"),
        count_star().alias("n_orders"),
        dsum(F.col("o_totalprice"), "total"),
    ).select("n_name", "o_orderstatus", "g_nation", "g_status", "n_orders", "total")


@register(
    "cube_agg",
    f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
           CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls,
           CAST(COUNT(*) AS BIGINT) AS n,
           {dsum_expr("l_quantity", "sum_qty")}
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_agg(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("long").alias("g_rf"),
        F.grouping("l_linestatus").cast("long").alias("g_ls"),
        count_star().alias("n"),
        dsum(F.col("l_quantity"), "sum_qty"),
    ).select("l_returnflag", "l_linestatus", "g_rf", "g_ls", "n", "sum_qty")


@register(
    "grouping_sets_agg",
    f"""
    SELECT o_orderpriority, o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           {dsum_expr("o_totalprice", "total")}
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    """,
)
def grouping_sets_agg(spark, sf_dir):
    # DataFrame API has rollup/cube but not arbitrary grouping sets —
    # the SQL surface does (Spark SQL GROUPING SETS), so express it as
    # SQL over a temp view; the semantics stay declarative/Catalyst'd.
    o = T(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__gs_orders")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total
        FROM __gs_orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        """
    )


# --- Window frame specs (rows/range between) ------------------------------


@register(
    "window_frames",
    """
    WITH o AS (
      SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM orders
      WHERE o_custkey < 200
    )
    SELECT o_custkey, o_orderkey,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS STRING) AS DOUBLE) AS running_total,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS STRING) AS DOUBLE)
             / COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS moving_avg3,
           CAST(COUNT(*)
                OVER (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS TIMESTAMP)
                      RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_last_30d,
           LAG(o_orderkey, 1, -1)
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
                AS prev_order,
           FIRST_VALUE(o_orderkey)
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS first_order
    FROM o
    """,
)
def window_frames(spark, sf_dir):
    """Window frame-spec surface: rows-frames (running/moving), a
    range-frame over time, lag, first_value — all absent from the
    reference (`// todo: window`, doradb-sql/src/ast.rs:1278)."""
    o = T(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    by_time = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    running = by_time.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    moving = by_time.rowsBetween(-2, Window.currentRow)
    last30 = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-30 * 86400, Window.currentRow)
    )
    price_dec = F.col("o_totalprice").cast(DEC)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(price_dec).over(running).cast("double").alias("running_total"),
        (F.sum(price_dec).over(moving).cast("double") / F.count(F.lit(1)).over(moving)).alias("moving_avg3"),
        F.count(F.lit(1)).over(last30).alias("n_last_30d"),
        F.lag("o_orderkey", 1, -1).over(by_time).alias("prev_order"),
        F.first("o_orderkey").over(running).alias("first_order"),
    )


@register(
    "bool_tests",
    """
    SELECT o_orderkey,
           b IS TRUE AS is_t,
           b IS NOT TRUE AS is_nt,
           b IS FALSE AS is_f,
           b IS NOT FALSE AS is_nf
    FROM (SELECT o_orderkey,
                 CASE WHEN o_orderstatus = 'P' THEN NULL
                      ELSE o_orderstatus = 'F' END AS b
          FROM orders WHERE o_orderkey < 500) t
    """,
)
def bool_tests(spark, sf_dir):
    """IS [NOT] TRUE/FALSE on a nullable boolean — the reference's
    IsTrue/IsNotTrue/IsFalse/IsNotFalse predicates
    (doradb-expr/src/pred.rs:31-58). Unlike IS NULL these never return
    NULL (NULL IS TRUE = false), which is the MySQL-ism worth pinning.
    DataFrame API has no operator for it; `F.expr` keeps it declarative.
    """
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    b = F.when(F.col("o_orderstatus") == "P", F.lit(None)).otherwise(
        F.col("o_orderstatus") == "F"
    )
    return o.select(
        "o_orderkey",
        b.alias("b"),
    ).select(
        "o_orderkey",
        F.expr("b IS TRUE").alias("is_t"),
        F.expr("b IS NOT TRUE").alias("is_nt"),
        F.expr("b IS FALSE").alias("is_f"),
        F.expr("b IS NOT FALSE").alias("is_nf"),
    )


@register(
    "quantified_cmp",
    """
    SELECT p_partkey, p_retailprice,
           p_retailprice > ALL (SELECT p_retailprice FROM part
                                WHERE p_size = 1) AS gt_all,
           p_retailprice > ALL (SELECT p_retailprice FROM part
                                WHERE p_size = -1) AS gt_all_empty,
           p_retailprice > ALL (SELECT CASE WHEN p_partkey % 10 = 0
                                            THEN NULL
                                            ELSE p_retailprice END
                                FROM part WHERE p_size = 1) AS gt_all_null,
           p_brand = ANY (SELECT p_brand FROM part WHERE p_size = 1) AS eq_any
    FROM part
    """,
)
def quantified_cmp(spark, sf_dir):
    """Quantified comparison (`> ALL`, `= ANY`) — the reference parses
    QuantCmp (doradb-sql/src/ast.rs:758-760, 877-881); Spark SQL has no
    quantified-comparison syntax, so we lower it ourselves:
    `<op> ALL (q)` via quantified_all (extreme-value attach with the
    empty-set/NULL guard — DuckDB runs the real `> ALL` as the oracle,
    including an empty subquery and a NULL-bearing one to pin the
    boundary semantics), `= ANY (q)` via mark_join (ExistenceJoin).
    """
    p = T(spark, sf_dir, "part")
    sized = p.filter(F.col("p_size") == 1)
    out = quantified_all(
        p, F.col("p_retailprice"), sized.select("p_retailprice"), "p_retailprice",
        ">", "gt_all",
    )
    empty_sub = p.filter(F.col("p_size") == -1).select("p_retailprice")
    out = quantified_all(
        out, F.col("p_retailprice"), empty_sub, "p_retailprice", ">", "gt_all_empty"
    )
    null_sub = sized.select(
        F.when(F.col("p_partkey") % 10 == 0, F.lit(None))
        .otherwise(F.col("p_retailprice"))
        .alias("pr")
    )
    out = quantified_all(
        out, F.col("p_retailprice"), null_sub, "pr", ">", "gt_all_null"
    )
    brands = sized.select(F.col("p_brand").alias("__b"))
    out = mark_join(
        out, brands, F.col("p_brand") == F.col("__b"), mark="eq_any", broadcast=True
    )
    return out.select(
        "p_partkey", "p_retailprice", "gt_all", "gt_all_empty", "gt_all_null", "eq_any"
    )


# --- Right / natural joins (SURVEY §2.7: right normalized to left,
# natural expanded to USING during build) ----------------------------------


@register(
    "right_join_q",
    """
    SELECT n_name, c_custkey
    FROM (SELECT * FROM customer WHERE c_acctbal > 9900) c
    RIGHT JOIN nation ON c_nationkey = n_nationkey
    """,
)
def right_join_q(spark, sf_dir):
    # preserved-right probe: most nations have no customer above the
    # cutoff, so the null-extended side actually materializes
    from xngin_spark.plans.joins import right_join

    c = T(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9900)
    n = T(spark, sf_dir, "nation")
    return right_join(
        c.select("c_custkey", "c_nationkey"), n, F.col("c_nationkey") == F.col("n_nationkey")
    ).select("n_name", "c_custkey")


@register(
    "natural_join_q",
    """
    SELECT k, c_cnt, s_cnt
    FROM (SELECT c_nationkey AS k, COUNT(*) AS c_cnt FROM customer GROUP BY 1)
    NATURAL JOIN
         (SELECT s_nationkey AS k, COUNT(*) AS s_cnt FROM supplier GROUP BY 1)
    """,
)
def natural_join_q(spark, sf_dir):
    from xngin_spark.plans.joins import natural_join

    c = (
        T(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("c_cnt"))
    )
    s = (
        T(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("s_cnt"))
    )
    return natural_join(c, s)


@register(
    "salted_join_q",
    """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS sum_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def salted_join_q(spark, sf_dir):
    """Skew-salted fact-fact join — the salt must be invisible in the
    result (oracle = the plain join). Left keys get a random salt in
    [0,8); the right side explodes to all 8 salt twins, so a hot key's
    rows spread over 8 reducers instead of one straggler. The unsalted
    plan is what Catalyst/AQE would run; this probes the manual fallback
    for engines/configs where AQE skew-split can't fire (e.g. a
    broadcast-disabled shuffle join with one mega-key)."""
    from xngin_spark.plans.joins import salted_join

    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    j = salted_join(
        li.select(F.col("l_orderkey").alias("o_orderkey"), "l_quantity"),
        o,
        ["o_orderkey"],
        salt=8,
    )
    return (
        j.groupBy("o_orderstatus")
        .agg(
            count_star().alias("n_lines"),
            dsum(F.col("l_quantity"), "sum_qty"),
        )
        .orderBy("o_orderstatus")
    )


# --- Null ordering & conditional functions --------------------------------


@register(
    "null_ordering",
    """
    SELECT o_orderkey, v
    FROM (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL
                  ELSE o_totalprice END AS v
      FROM orders WHERE o_orderkey < 300
    )
    ORDER BY v ASC NULLS FIRST, o_orderkey
    LIMIT 50
    """,
)
def null_ordering(spark, sf_dir):
    """Explicit NULLS FIRST ordering — the engines DISAGREE by default
    (Spark: nulls first on ASC; DuckDB: nulls last), so portable sorts
    must always spell it out. The reference's Sort carries no null
    placement at all (lgc/op.rs:186-190) — this pins the semantics our
    engine exports."""
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 300)
    v = F.when(F.col("o_orderkey") % 7 == 0, F.lit(None)).otherwise(
        F.col("o_totalprice")
    )
    return (
        o.select("o_orderkey", v.alias("v"))
        .orderBy(F.col("v").asc_nulls_first(), "o_orderkey")
        .limit(50)
    )


@register(
    "conditional_funcs",
    """
    SELECT c_custkey,
           greatest(c_acctbal, 0.0) AS bal_floor,
           least(c_acctbal, 5000.0) AS bal_cap,
           coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_masked,
           CASE WHEN c_acctbal < 0 THEN 'debt'
                WHEN c_acctbal < 5000 THEN 'mid'
                ELSE 'rich' END AS bal_band,
           ifnull(nullif(CAST(c_nationkey AS BIGINT), 0), -1) AS nation_or_neg
    FROM customer WHERE c_custkey < 400
    """,
)
def conditional_funcs(spark, sf_dir):
    """greatest/least/coalesce/nullif/ifnull + searched CASE — the
    conditional scalar family (reference FuncKind has Case only;
    doradb-expr/src/func.rs)."""
    c = T(spark, sf_dir, "customer").filter(F.col("c_custkey") < 400)
    return c.select(
        "c_custkey",
        F.greatest(F.col("c_acctbal"), F.lit(0.0)).alias("bal_floor"),
        F.least(F.col("c_acctbal"), F.lit(5000.0)).alias("bal_cap"),
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("OTHER")).alias(
            "seg_masked"
        ),
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("rich")
        .alias("bal_band"),
        F.ifnull(F.nullif(F.col("c_nationkey").cast("long"), F.lit(0)), F.lit(-1)).alias(
            "nation_or_neg"
        ),
    )


@register(
    "agg_filter",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_all,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_f,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6)))
                FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS total_open
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def agg_filter(spark, sf_dir):
    """FILTER-clause aggregates (conditional aggregation without
    self-joins or CASE-NULL tricks) — one pass, still map-side
    combinable."""
    o = T(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            count_star().alias("n_all"),
            F.count(F.when(F.col("o_orderstatus") == "F", 1)).cast("long").alias("n_f"),
            F.sum(
                F.when(
                    F.col("o_orderstatus") == "O",
                    F.col("o_totalprice").cast(DEC),
                )
            )
            .cast("double")
            .alias("total_open"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "datetime_funcs",
    """
    SELECT o_orderkey,
           CAST(date_trunc('month', CAST(o_orderdate AS TIMESTAMP)) AS DATE)
             AS month_start,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS plus30,
           CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
                AS INTEGER) AS days_since_95,
           last_day(CAST(o_orderdate AS DATE)) AS eom,
           CAST(isodow(CAST(o_orderdate AS DATE)) - 1 AS INTEGER) AS weekday_mon0,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS plus2m
    FROM orders WHERE o_orderkey < 300
    """,
)
def datetime_funcs(spark, sf_dir):
    """Date/time function family beyond Extract (the reference's only
    temporal function, func.rs Extract): truncation, day/month
    arithmetic with end-of-month clamping, diffs, ISO weekday."""
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 300)
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.date_trunc("month", F.col("o_orderdate").cast("timestamp"))
        .cast("date")
        .alias("month_start"),
        F.date_add(d, 30).alias("plus30"),
        F.datediff(d, F.lit("1995-01-01").cast("date")).alias("days_since_95"),
        F.last_day(d).alias("eom"),
        F.weekday(d).alias("weekday_mon0"),
        F.add_months(d, 2).alias("plus2m"),
    )


@register(
    "cast_matrix",
    """
    SELECT s,
           TRY_CAST(s AS INTEGER) AS as_int,
           TRY_CAST(s AS DOUBLE) AS as_double,
           TRY_CAST(s AS DATE) AS as_date,
           CAST(TRY_CAST(s AS BOOLEAN) AS VARCHAR) AS as_bool
    FROM (SELECT unnest(['42', '-7', '  8 ', 'abc', '', '2024-02-29',
                         '2023-02-29', 'true', 'false', '99999999999']) AS s)
    """,
)
def cast_matrix(spark, sf_dir):
    """Permissive-cast semantics matrix: the session runs ANSI mode
    (Spark 4 default — strict CAST errors on malformed input, matching
    the reference's error-on-bad-cast posture), so the permissive path
    is try_cast, which is exactly DuckDB's TRY_CAST: NULL on malformed
    numeric, date (incl. an invalid leap day), boolean and
    scientific-notation inputs."""
    # '3.5'/'1e3' deliberately absent: DuckDB TRY_CAST rounds decimal
    # strings to int and accepts exponents where Spark yields NULL —
    # documented divergence, not probed. Overflow + whitespace are.
    # VALUES literal, not createDataFrame: the local-relation python->
    # JVM conversion path costs ~3s of py4j/Arrow setup for 10 rows
    rows = ["42", "-7", "  8 ", "abc", "", "2024-02-29",
            "2023-02-29", "true", "false", "99999999999"]
    values = ", ".join(f"('{v}')" for v in rows)
    df = spark.sql(f"SELECT s FROM VALUES {values} AS t(s)")
    return df.select(
        "s",
        F.col("s").try_cast("int").alias("as_int"),
        F.col("s").try_cast("double").alias("as_double"),
        F.col("s").try_cast("date").alias("as_date"),
        F.col("s").try_cast("boolean").cast("string").alias("as_bool"),
    )


def _constraint_oracle() -> str:
    from xngin_spark.constraints import TPCH_FOREIGN_KEYS, TPCH_PRIMARY_KEYS

    parts = []
    for t, cols in TPCH_PRIMARY_KEYS:
        key = ", ".join(cols)
        nulls = " OR ".join(f"{c} IS NULL" for c in cols)
        parts.append(
            f"SELECT 'pk_{t}' AS constraint, 'primary_key' AS kind,\n"
            f"  CAST((COUNT(*) - COUNT(DISTINCT ({key}))) \n"
            f"     + SUM(CASE WHEN {nulls} THEN 1 ELSE 0 END) AS BIGINT)\n"
            f"    AS violations FROM {t}"
        )
    for c, cc, p, pc in TPCH_FOREIGN_KEYS:
        parts.append(
            f"SELECT 'fk_{c}_{cc}' AS constraint, 'foreign_key' AS kind,\n"
            f"  CAST(COUNT(*) AS BIGINT) AS violations FROM (\n"
            f"    SELECT DISTINCT {cc} AS k FROM {c} WHERE {cc} IS NOT NULL\n"
            f"  ) ch LEFT JOIN (SELECT DISTINCT {pc} AS k FROM {p}) pa USING (k)\n"
            f"  WHERE pa.k IS NULL"
        )
    return "\nUNION ALL\n".join(parts)


@register("constraint_check", _constraint_oracle())
def constraint_check(spark, sf_dir):
    """Executable check of every PK/FK the reference's catalog fixture
    declares (doradb-tpch-tests/src/lib.rs:6-174 — attributes the
    reference stores but never enforces): one report row per
    constraint with its violation count. Planted-violation detection
    is proven in tests/test_round5_ops.py; on the driver's testdata
    every declared FK holds while the synthetic lineitem violates its
    composite (l_orderkey, l_linenumber) PK - a real finding the check
    surfaces, and both engines agree on the exact count."""
    from xngin_spark.constraints import verify_tpch_constraints

    return verify_tpch_constraints(spark, sf_dir)


# --- GOO join reorder -----------------------------------------------------

from xngin_spark.functions.aggregates import dsum as _dsum  # noqa: E402
from xngin_spark.plans.reorder import goo_join  # noqa: E402

# per-dataset NDV memo: the reorderer's one-approx-agg-per-vertex stats
# pass is paid once per session per sf_dir (ANALYZE-style), not per query.
# Entries inside each per-sf_dir dict key on the vertex's canonicalized
# PLAN fingerprint (measure_edge_ndv), so two queries sharing this cache
# with different predicates on the same table never reuse stale stats.
_GOO_NDV_CACHE: dict[str, dict] = {}


def _q5_join_graph(spark, sf_dir):
    """Q5's six-table join as an UNORDERED graph (vertices declared
    fact-first — worst case for a declaration-order join)."""
    from xngin_spark.queries.tpch import ts

    vertices = {
        "lineitem": T(spark, sf_dir, "lineitem"),
        "orders": T(spark, sf_dir, "orders").filter(
            (F.col("o_orderdate") >= F.lit(ts("1996-01-01")))
            & (F.col("o_orderdate") < F.lit(ts("1997-01-01")))
        ),
        "customer": T(spark, sf_dir, "customer"),
        "supplier": T(spark, sf_dir, "supplier"),
        "nation": T(spark, sf_dir, "nation"),
        "region": T(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"),
    }
    edges = [
        ("customer", "orders", [("c_custkey", "o_custkey")]),
        ("orders", "lineitem", [("o_orderkey", "l_orderkey")]),
        ("lineitem", "supplier", [("l_suppkey", "s_suppkey")]),
        ("customer", "supplier", [("c_nationkey", "s_nationkey")]),
        ("supplier", "nation", [("s_nationkey", "n_nationkey")]),
        ("nation", "region", [("n_regionkey", "r_regionkey")]),
    ]
    return vertices, edges


def _q5_revenue(joined: DataFrame) -> DataFrame:
    return (
        joined.groupBy("n_name")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@register(
    "join_reorder_goo",
    f"""
    SELECT n_name,
           {dsum_expr("l_extendedprice * (1 - l_discount)", "revenue")}
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def join_reorder_goo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5's six-table join handed over as an UNORDERED join GRAPH
    (vertices + equi-edges, the reference's Join::Cross + JoinGraph
    form, join/graph.rs) and ordered by plans.reorder.goo_join — the
    greedy-operator-ordering reorderer (greedy.rs:16 Goo analog) using
    Catalyst optimized-plan statistics as its cardinality source. Same
    oracle as q5: the reorderer must pick SOME valid edge order, never
    a cartesian, and the result must hash-match regardless of the
    (deliberately fact-first, worst-case) vertex declaration order."""
    vertices, edges = _q5_join_graph(spark, sf_dir)
    joined = goo_join(
        vertices, edges, ndv_cache=_GOO_NDV_CACHE.setdefault(sf_dir, {})
    )
    return _q5_revenue(joined)


@register(
    "join_reorder_dp",
    f"""
    SELECT n_name,
           {dsum_expr("l_extendedprice * (1 - l_discount)", "revenue")}
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def join_reorder_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same unordered q5 graph through the EXACT-DP reorderer
    (plans.reorder.dp_join — dpsize.rs/dphyp.rs analog, C_out-optimal
    bushy tree under the shared NDV estimator, capped at 12 relations
    with GOO as the large-graph fallback, the same greedy-vs-DP split
    the reference ships). Same oracle as q5; DP-vs-GOO cost dominance
    is property-tested on random graphs in tests/test_reorder.py."""
    from xngin_spark.plans.reorder import dp_join

    vertices, edges = _q5_join_graph(spark, sf_dir)
    joined = dp_join(
        vertices, edges, ndv_cache=_GOO_NDV_CACHE.setdefault(sf_dir, {})
    )
    return _q5_revenue(joined)

@register(
    "join_reorder_dphyp",
    f"""
    SELECT n_name,
           {dsum_expr("l_extendedprice * (1 - l_discount)", "revenue")}
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def join_reorder_dphyp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same unordered q5 graph through the csg-cmp-pair enumerator
    (plans.reorder.dphyp_join — the actual dphyp.rs algorithm,
    Moerkotte & Neumann 2008): identical C_out optimum as dpsize but
    enumeration bounded by the graph's connected-subgraph/complement
    pairs, so it handles the 13+-relation graphs dp_join's cap
    rejects. Same oracle as q5; cost-equality with dp_order and the
    18-vertex scaling case are property-tested in
    tests/test_reorder.py."""
    from xngin_spark.plans.reorder import dphyp_join

    vertices, edges = _q5_join_graph(spark, sf_dir)
    joined = dphyp_join(
        vertices, edges, ndv_cache=_GOO_NDV_CACHE.setdefault(sf_dir, {})
    )
    return _q5_revenue(joined)


def _dphyp_sql_entry(spark: SparkSession, sf_dir: str, qname: str) -> DataFrame:
    """Shared body of the dphyp_sql_q* rows: run the query's ORACLE
    text itself through the SQL-entry DPhyp route
    (plans.sqlreorder.dphyp_sql — the reorder/mod.rs:24-33 product
    path: text → join-graph extraction → DPhyp → re-emitted FROM
    nesting). STRICT: raises if the rewriter fell back, so the gate
    row fails loudly the day the product path stops reordering
    instead of silently testing plain spark.sql."""
    from xngin_spark.plans.sqlreorder import dphyp_rewrite
    from xngin_spark.queries import ORACLE
    from xngin_spark.queries.tpch import T

    for t in (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
    ):
        T(spark, sf_dir, t).createOrReplaceTempView(t)
    text, traces = dphyp_rewrite(spark, ORACLE[qname])
    if not traces:
        raise RuntimeError(
            f"dphyp_rewrite fell back on {qname} — SQL-entry reorder "
            "path is no longer firing"
        )
    return spark.sql(text)


@register("dphyp_sql_q5", None)
def dphyp_sql_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q5 entered as SQL TEXT and reordered by the DPhyp product
    path — same oracle as q5 (registered below via ORACLE copy), so
    the re-emitted join nesting must be result-identical to the plain
    text. The comma-join WHERE-predicate shape (the reference's own
    .sql spelling)."""
    return _dphyp_sql_entry(spark, sf_dir, "q5")


@register("dphyp_sql_q8", None)
def dphyp_sql_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q8 through the SQL-entry DPhyp route: 8-leaf region inside a
    derived table, self-joined nation (n1/n2 — duplicate bare column
    names across leaves, ON conditions re-qualified by leaf alias)."""
    return _dphyp_sql_entry(spark, sf_dir, "q8")


@register("dphyp_sql_q9", None)
def dphyp_sql_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q9 through the SQL-entry DPhyp route: 5-leaf region under a
    derived table with a LIKE-filtered dimension."""
    return _dphyp_sql_entry(spark, sf_dir, "q9")


#: q5 with the FROM list adversarially permuted fact-first: Spark's
#: syntactic order (CBO join reorder off — the default) then builds
#: lineitem ⋈ supplier before any selective dimension arrives, a plan
#: whose intermediate is the whole fact table. The DPhyp route restores
#: the selective order from cost (region='ASIA' → nation → supplier /
#: customer-side before the fact join). Measured by tools/dphyp_win.py:
#: 13.5× at sf0.1 (DPHYP_WIN.json) — the reason the product path exists
#: at 100 TB, where the mis-ordered intermediate is petabytes.
DPHYP_WIN_SQL = """
    SELECT n_name,
           CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS revenue
    FROM lineitem, supplier, customer, orders, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
"""


@register("dphyp_sql_win", DPHYP_WIN_SQL)
def dphyp_sql_win(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The adversarial mis-ordered q5 text (DPHYP_WIN_SQL) through the
    DPhyp product path — the row that justifies the feature: plain
    ``spark.sql`` on this text runs the fact-fact join first (13.5×
    slower at sf0.1, DPHYP_WIN.json); the rewrite restores q5's
    selective order and this row runs at q5 speed. Value-checked
    against the SAME text in DuckDB (whose optimizer reorders
    regardless), so the rewrite's result-identity is oracle-pinned on
    the exact text the win is claimed for. STRICT like the other
    dphyp_sql rows: raises if the rewriter falls back."""
    from xngin_spark.plans.sqlreorder import dphyp_rewrite
    from xngin_spark.queries.tpch import T

    for t in (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
    ):
        T(spark, sf_dir, t).createOrReplaceTempView(t)
    text, traces = dphyp_rewrite(spark, DPHYP_WIN_SQL)
    if not traces:
        raise RuntimeError(
            "dphyp_rewrite fell back on the adversarial q5 text — "
            "SQL-entry reorder path is no longer firing"
        )
    return spark.sql(text)


@register("dphyp_sql_auto", DPHYP_WIN_SQL)
def dphyp_sql_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The adversarial text through the DEFAULT product path —
    ``Engine.sql`` with no reorder argument, i.e. ``reorder="auto"``:
    the cost gate (measured-NDV C_out, baseline = the text's own
    optimized plan) must FIRE on this text (estimated 1100×+ worse
    than optimal; margin is 10×) while every stock TPC-H text gates
    ≤4.5× and keeps its plan. STRICT: raises if the gate declines —
    the default-on posture is only safe while this discrimination
    holds, so the row fails loudly the moment it stops."""
    from xngin_spark.plans.sqlreorder import dphyp_rewrite
    from xngin_spark.queries.tpch import T

    for t in (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
    ):
        T(spark, sf_dir, t).createOrReplaceTempView(t)
    text, traces = dphyp_rewrite(spark, DPHYP_WIN_SQL, mode="auto")
    if not traces:
        raise RuntimeError(
            "auto-mode cost gate declined the adversarial q5 text — "
            "default-on reorder is no longer rescuing mis-ordered SQL"
        )
    return spark.sql(text)


def _copy_tpch_oracles() -> None:
    # the dphyp_sql_q* rows run the ORACLE TEXT itself through the
    # rewriter, so their oracle IS the original query's — copied here
    # (tpch imports before micro in load_all; the import makes direct
    # module imports safe too)
    from xngin_spark.queries import ORACLE
    from xngin_spark.queries import tpch  # noqa: F401

    for q in ("q5", "q8", "q9"):
        ORACLE[f"dphyp_sql_{q}"] = ORACLE[q]


_copy_tpch_oracles()


@register(
    "join_reorder_outer",
    """
    SELECT n_name,
           count(o_orderkey) AS order_cnt,
           count(*) AS cust_rows
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    LEFT JOIN (
        SELECT * FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    ) o ON c_custkey = o_custkey
    GROUP BY n_name
    ORDER BY n_name
    """,
)
def join_reorder_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-kind join graph through the DP reorderer: an inner region
    (customer ⋈ nation) plus a LEFT hyperedge to filtered orders —
    the dphyp.rs:12-17 treatment (total eligibility sets) that round 6
    lacked. DP reorders the inner region freely but must assemble it
    completely before the outer join fires, and must keep customer on
    the preserved side (null-extended customers with zero 1996 orders
    survive into the counts — any boundary violation changes the
    result, so the oracle catches it)."""
    from xngin_spark.plans.reorder import dp_join
    from xngin_spark.queries.tpch import ts

    vertices = {
        "customer": T(spark, sf_dir, "customer"),
        "nation": T(spark, sf_dir, "nation"),
        "orders": T(spark, sf_dir, "orders").filter(
            (F.col("o_orderdate") >= F.lit(ts("1996-01-01")))
            & (F.col("o_orderdate") < F.lit(ts("1997-01-01")))
        ),
    }
    edges = [
        ("customer", "nation", [("c_nationkey", "n_nationkey")]),
        ("customer", "orders", [("c_custkey", "o_custkey")], "left"),
    ]
    joined = dp_join(
        vertices, edges, ndv_cache=_GOO_NDV_CACHE.setdefault(sf_dir, {})
    )
    return (
        joined.groupBy("n_name")
        .agg(
            F.count("o_orderkey").alias("order_cnt"),
            count_star().alias("cust_rows"),
        )
        .orderBy("n_name")
    )


def _key_shift(df, key: str) -> int:
    """Smallest power of 10 above the key domain — the collision-free
    offset for the CDC scenarios' re-insert branch. This was a
    +100000000 constant until the sf100 parity probe caught it
    colliding with the synthesized key shifts (make_sf offsets reach
    ~1e9 at sf100; sf10's 9.9e7 cleared it by luck), which silently
    turned "re-inserts" into duplicate keys and broke maintenance ==
    recompute. Both engines now derive the same integer from the data
    (oracle twin: POWER(10, LENGTH(CAST(MAX(key) AS VARCHAR)))); the
    MAX is one footer-served aggregate (parquet aggregate pushdown).

    Cached per input-file set: the CDC scenarios each derived the same
    shift with their own MAX job in both the Spark leg AND the oracle
    leg, which the round-10 bench flagged as the incremental_agg_multi
    regression (1.59x) — the dataset's key domain doesn't change
    between scenarios, so one derivation per (files, key) serves all.
    The file list (driver-side metadata, same freshness token the NDV
    cache uses) keys the cache, so a rewritten dataset re-derives."""
    ck = (tuple(sorted(df.inputFiles())), key)
    if ck in _KEY_SHIFT_CACHE:
        return _KEY_SHIFT_CACHE[ck]
    m = df.agg(F.max(key)).first()[0]
    shift = 10 ** len(str(int(m)))
    _KEY_SHIFT_CACHE[ck] = shift
    return shift


_KEY_SHIFT_CACHE: dict = {}


@register(
    "snapshot_diff",
    """
    WITH newsnap AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 1
                  ELSE o_totalprice END AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 97 <> 0
      UNION ALL
      SELECT o_orderkey + (SELECT CAST(POWER(10, LENGTH(CAST(MAX(o_orderkey) AS VARCHAR))) AS BIGINT) FROM orders), o_custkey, o_orderstatus,
             o_totalprice, o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 101 = 0
    )
    SELECT o_orderkey, op FROM (
      SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
             CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                  WHEN n.o_orderkey IS NULL THEN 'delete'
                  WHEN (o.o_custkey      IS DISTINCT FROM n.o_custkey)
                    OR (o.o_orderstatus  IS DISTINCT FROM n.o_orderstatus)
                    OR (o.o_totalprice   IS DISTINCT FROM n.o_totalprice)
                    OR (o.o_orderdate    IS DISTINCT FROM n.o_orderdate)
                    OR (o.o_orderpriority IS DISTINCT FROM n.o_orderpriority)
                  THEN 'update' END AS op
      FROM orders o FULL OUTER JOIN newsnap n ON o.o_orderkey = n.o_orderkey
    ) WHERE op IS NOT NULL
    ORDER BY o_orderkey, op
    """,
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot diff (sources/dml.table_diff): a second
    orders snapshot is derived deterministically (keys %97 deleted,
    %89 repriced, %101 re-inserted under shifted keys) and diffed
    against the original — one full-outer join on the primary key
    (zero exchanges under the bucketed layout) with a single struct
    eqNullSafe column compare. The delta feed an incremental
    downstream job consumes, completing the DML family's
    UPDATE/DELETE/MERGE/SCD2 story with change-data OUTPUT."""
    from xngin_spark.sources.dml import table_diff

    o = T(spark, sf_dir, "orders")
    new = (
        o.filter(F.col("o_orderkey") % 97 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 89 == 0, F.col("o_totalprice") + 1
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 101 == 0).withColumn(
                "o_orderkey", F.col("o_orderkey") + _key_shift(o, "o_orderkey")
            )
        )
    )
    return table_diff(o, new, ["o_orderkey"]).orderBy("o_orderkey", "op")


@register(
    "incremental_agg_maintain",
    """
    WITH newsnap AS (
      SELECT o_orderkey, o_orderpriority,
             CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 1
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 97 <> 0
      UNION ALL
      SELECT o_orderkey + (SELECT CAST(POWER(10, LENGTH(CAST(MAX(o_orderkey) AS VARCHAR))) AS BIGINT) FROM orders), o_orderpriority, o_totalprice
      FROM orders WHERE o_orderkey % 101 = 0
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM newsnap
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def incremental_agg_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-rollup maintenance under CDC (sources/dml.
    maintain_agg): the snapshot_diff scenario's delta (deletes %97,
    repricings %89, re-inserts %101) applied to a per-priority
    (count, decimal-sum, min, max) rollup WITHOUT recomputing it —
    the old rollup's rows and the delta's signed images merged in one
    aggregate, min/max recomputed only for the groups that lost a row,
    whose snapshot rows (a left-semi join against the new snapshot)
    join the same aggregate. The oracle is the full recompute over
    the new snapshot, so the value hash proves maintenance ≡
    recompute end-to-end, decimal-exact. The HTAP story the
    reference's CDC surface points at: the delta is consumed, the
    100 TB fact table is not re-aggregated."""
    from xngin_spark.sources.dml import agg_snapshot, cdc_changes, maintain_agg

    v1 = T(spark, sf_dir, "orders")
    v2 = (
        v1.filter(F.col("o_orderkey") % 97 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 89 == 0, F.col("o_totalprice") + 1
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            v1.filter(F.col("o_orderkey") % 101 == 0).withColumn(
                "o_orderkey", F.col("o_orderkey") + _key_shift(v1, "o_orderkey")
            )
        )
    )
    # materialize the delta once: a real CDC feed ARRIVES materialized,
    # and maintain_agg's one aggregate reads it twice (both row images
    # in one pass, and the groups that lost a row)
    changes = cdc_changes(
        v1, v2, ["o_orderkey"], cols=["o_orderpriority", "o_totalprice"]
    ).localCheckpoint(eager=True)
    out = maintain_agg(
        agg_snapshot(v1, "o_orderpriority", "o_totalprice"),
        changes,
        v2,
        "o_orderpriority",
        "o_totalprice",
    )
    return out.select(
        "o_orderpriority",
        "cnt",
        F.col("total_dec").cast("double").alias("total"),
        F.col("min_val").alias("min_price"),
        F.col("max_val").alias("max_price"),
    ).orderBy("o_orderpriority")


@register(
    "orders_stream_agg_maintain",
    """
    WITH newsnap AS (
      SELECT o_orderkey, o_orderpriority,
             CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 1
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 97 <> 0
      UNION ALL
      SELECT o_orderkey + (SELECT CAST(POWER(10, LENGTH(CAST(MAX(o_orderkey) AS VARCHAR))) AS BIGINT) FROM orders), o_orderpriority, o_totalprice
      FROM orders WHERE o_orderkey % 101 = 0
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total
    FROM newsnap
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def orders_stream_agg_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING twin of incremental_agg_maintain — a maintained
    materialized view: the snapshot delta arrives as a CDC change
    STREAM in three chunk files (maxFilesPerTrigger=1 → three
    micro-batches), each batch folds its signed images into the
    epoch-versioned persisted rollup in one aggregate
    (streaming/sinks.streaming_agg_maintain), and the final epoch must
    equal the full recompute over the new snapshot — the oracle IS
    that recompute, so the hash proves stream-maintenance ≡ batch
    aggregation decimal-exactly. Batch replays converge via the
    write-ahead epoch protocol (unit-tested by re-applying a batch);
    the base table is read once for the seed rollup, never again."""
    import os
    import shutil
    import tempfile

    from xngin_spark.sources.dml import agg_state_additive, cdc_changes
    from xngin_spark.streaming.sinks import (
        _latest_rollup_epoch,
        streaming_agg_maintain,
    )

    v1 = T(spark, sf_dir, "orders")
    v2 = (
        v1.filter(F.col("o_orderkey") % 97 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 89 == 0, F.col("o_totalprice") + 1
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            v1.filter(F.col("o_orderkey") % 101 == 0).withColumn(
                "o_orderkey", F.col("o_orderkey") + _key_shift(v1, "o_orderkey")
            )
        )
    )
    # materialize the delta ONCE (the incremental_agg_maintain
    # discipline): each of the three chunk writes below filters
    # `changes`, and without the checkpoint every write re-executes the
    # full-outer diff join — 3x the scan+join for identical rows
    changes = cdc_changes(
        v1, v2, ["o_orderkey"], cols=["o_orderpriority", "o_totalprice"]
    ).localCheckpoint(eager=True)
    root = tempfile.mkdtemp(prefix="xngin_aggmaint_")
    delta_dir = os.path.join(root, "delta")
    rollup = os.path.join(root, "rollup")
    ckpt = os.path.join(root, "ckpt")
    # every read below names its schema: an inferred parquet read
    # costs one job
    seed = agg_state_additive(v1, "o_orderpriority", "o_totalprice")
    try:
        # three delivery chunks -> three micro-batches
        for i in range(3):
            changes.filter(F.col("o_orderkey") % 3 == i).coalesce(1).write.mode(
                "append"
            ).parquet(delta_dir)
        seed.write.parquet(os.path.join(rollup, "epoch=-1"))
        stream = (
            spark.readStream.schema(changes.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(delta_dir)
        )
        streaming_agg_maintain(
            stream,
            rollup,
            ckpt,
            "o_orderpriority",
            "o_totalprice",
            ["o_orderkey"],
        )
        final = _latest_rollup_epoch(rollup)
        out = (
            spark.read.schema(seed.schema)
            .parquet(os.path.join(rollup, f"epoch={final}"))
            .select(
                "o_orderpriority",
                "cnt",
                F.col("total_dec").cast("double").alias("total"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out.orderBy("o_orderpriority")


_DRIFT_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


def _drift_oracle() -> str:
    def prof(src: str, suf: str) -> str:
        return "\n      UNION ALL ".join(
            f"SELECT '{c}' AS col_name, COUNT(*) AS rows_{suf}, "
            f"COUNT(*) - COUNT({c}) AS nulls_{suf}, "
            f"COUNT(DISTINCT {c}) AS distinct_{suf} FROM {src}"
            for c in _DRIFT_COLS
        )

    return f"""
    WITH newsnap AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 1
                  ELSE o_totalprice END AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 97 <> 0
      UNION ALL
      SELECT o_orderkey + (SELECT CAST(POWER(10, LENGTH(CAST(MAX(o_orderkey) AS VARCHAR))) AS BIGINT) FROM orders), o_custkey, o_orderstatus,
             o_totalprice, o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 101 = 0
    ),
    p1 AS ({prof('orders', 'v1')}),
    p2 AS ({prof('newsnap', 'v2')})
    SELECT p1.col_name,
           CAST(rows_v1 AS BIGINT) AS rows_v1,
           CAST(rows_v2 AS BIGINT) AS rows_v2,
           CAST(nulls_v1 AS BIGINT) AS nulls_v1,
           CAST(nulls_v2 AS BIGINT) AS nulls_v2,
           CAST(distinct_v1 AS BIGINT) AS distinct_v1,
           CAST(distinct_v2 AS BIGINT) AS distinct_v2,
           CAST(rows_v2 - rows_v1 AS BIGINT) AS d_rows,
           CAST(distinct_v2 - distinct_v1 AS BIGINT) AS d_distinct
    FROM p1 JOIN p2 USING (col_name)
    ORDER BY col_name
    """


@register("snapshot_drift_profile", _drift_oracle())
def snapshot_drift_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality drift gate between two snapshots
    (operators/profile.profile_drift): per-column row/null/distinct
    counts for v1 and v2 side by side with integer deltas — the check
    a pipeline runs BEFORE promoting a snapshot (row-count collapse,
    null spike, cardinality cliff all surface as exact numbers, so
    the %97-delete / %101-reinsert scenario shows its precise row and
    key-cardinality movement). Exact COUNT(DISTINCT) per column in
    ONE pass (Spark Expand — the audit-grade mode this oracle row
    opts into with approximate=False); the DEFAULT is the approximate
    HLL single-pass production mode (equivalence bounds tested in
    tests/test_round7_ops.py)."""
    from xngin_spark.operators.profile import profile_drift

    v1 = T(spark, sf_dir, "orders")
    v2 = (
        v1.filter(F.col("o_orderkey") % 97 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 89 == 0, F.col("o_totalprice") + 1
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            v1.filter(F.col("o_orderkey") % 101 == 0).withColumn(
                "o_orderkey", F.col("o_orderkey") + _key_shift(v1, "o_orderkey")
            )
        )
    )
    return profile_drift(
        v1, v2, _DRIFT_COLS, approximate=False
    ).orderBy("col_name")


@register(
    "incremental_agg_multi",
    """
    WITH uniq AS (
      -- unique-key filter in spillable GROUP BY/HAVING form: with
      -- exactly one row per group, MAX(col) IS the col. The prior
      -- COUNT(*) OVER (PARTITION BY pk) window form OOM-killed the
      -- DuckDB oracle at sf100 (window state doesn't spill; hash
      -- aggregate does) -- same swap events_pattern_match needed.
      SELECT l_orderkey, l_linenumber,
             MAX(l_returnflag) AS l_returnflag,
             MAX(l_quantity) AS l_quantity,
             MAX(l_extendedprice) AS l_extendedprice
      FROM lineitem
      GROUP BY l_orderkey, l_linenumber
      HAVING COUNT(*) = 1
    ),
    newsnap AS (
      SELECT l_orderkey, l_linenumber, l_returnflag,
             CASE WHEN l_orderkey % 89 = 0 THEN l_quantity + 1
                  ELSE l_quantity END AS l_quantity,
             l_extendedprice
      FROM uniq WHERE l_orderkey % 97 <> 0
      UNION ALL
      SELECT l_orderkey + (SELECT CAST(POWER(10, LENGTH(CAST(MAX(l_orderkey) AS VARCHAR))) AS BIGINT) FROM lineitem), l_linenumber, l_returnflag,
             l_quantity, l_extendedprice
      FROM uniq WHERE l_orderkey % 101 = 0
    )
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS STRING)
                AS DOUBLE) AS total_qty,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS STRING)
                AS DOUBLE) AS total_price,
           MIN(l_quantity) AS min_qty,
           MAX(l_quantity) AS max_qty,
           MIN(l_extendedprice) AS min_price,
           MAX(l_extendedprice) AS max_price
    FROM newsnap
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def incremental_agg_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-measure rollup maintenance on the FACT table
    (sources/dml.maintain_agg_multi): lineitem's per-returnflag
    (count, Σqty, Σprice, min/max of both) rollup maintained under a
    composite-key CDC delta (deletes %97, requantified %89, re-inserts
    %101) — every measure rides the SAME delta pass and merge join, so
    a k-measure rollup costs one maintenance round, not k. Oracle is
    the full multi-measure recompute over the new snapshot: the value
    hash proves per-measure sums (decimal-exact) and extrema
    (insert-merge + touched-group recompute) all at once."""
    from xngin_spark.sources.dml import (
        agg_snapshot_multi,
        cdc_changes,
        maintain_agg_multi,
    )

    # the synthetic lineitem VIOLATES its composite PK (a real finding
    # constraint_check surfaces) — CDC needs unique keys, so the
    # scenario runs over the unique-keyed subset on both engines.
    # NOTE the oracle uses a GROUP BY/HAVING COUNT(*)=1 form instead of
    # this window: DuckDB's window operator cannot spill and OOM'd at
    # sf100, while Spark's sort-based window spills fine and is ~40%
    # faster than the equivalent 4-aggregate hash aggregate at bench
    # scale (measured 0.6s vs 1.05s warm at sf0.1) — same rows either
    # way, each engine gets its cheaper spillable shape
    w = Window.partitionBy("l_orderkey", "l_linenumber")
    v1 = (
        T(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey", "l_linenumber", "l_returnflag",
            "l_quantity", "l_extendedprice",
        )
        .withColumn("__n", F.count(F.lit(1)).over(w))
        .filter(F.col("__n") == 1)
        .drop("__n")
    )
    v2 = (
        v1.filter(F.col("l_orderkey") % 97 != 0)
        .withColumn(
            "l_quantity",
            F.when(
                F.col("l_orderkey") % 89 == 0, F.col("l_quantity") + 1
            ).otherwise(F.col("l_quantity")),
        )
        .unionByName(
            v1.filter(F.col("l_orderkey") % 101 == 0).withColumn(
                "l_orderkey", F.col("l_orderkey") + _key_shift(v1, "l_orderkey")
            )
        )
    )
    changes = cdc_changes(
        v1,
        v2,
        ["l_orderkey", "l_linenumber"],
        cols=["l_returnflag", "l_quantity", "l_extendedprice"],
    ).localCheckpoint(eager=True)
    out = maintain_agg_multi(
        agg_snapshot_multi(v1, "l_returnflag", ["l_quantity", "l_extendedprice"]),
        changes,
        v2,
        "l_returnflag",
        ["l_quantity", "l_extendedprice"],
    )
    return out.select(
        "l_returnflag",
        "cnt",
        F.col("total_dec_l_quantity").cast("double").alias("total_qty"),
        F.col("total_dec_l_extendedprice").cast("double").alias("total_price"),
        F.col("min_l_quantity").alias("min_qty"),
        F.col("max_l_quantity").alias("max_qty"),
        F.col("min_l_extendedprice").alias("min_price"),
        F.col("max_l_extendedprice").alias("max_price"),
    ).orderBy("l_returnflag")


@register(
    "incremental_distinct_maintain",
    """
    WITH newsnap AS (
      SELECT o_orderkey, o_orderpriority,
             CASE WHEN o_orderkey % 89 = 0 THEN o_custkey + 1000000
                  ELSE o_custkey END AS o_custkey
      FROM orders WHERE o_orderkey % 97 <> 0
      UNION ALL
      SELECT o_orderkey + (SELECT CAST(POWER(10, LENGTH(CAST(MAX(o_orderkey) AS VARCHAR))) AS BIGINT) FROM orders), o_orderpriority, o_custkey
      FROM orders WHERE o_orderkey % 101 = 0
    )
    SELECT o_orderpriority,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct
    FROM newsnap
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def incremental_distinct_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group COUNT(DISTINCT) maintained under a CDC delta WITHOUT
    ever touching the snapshot (sources/dml.maintain_distinct_state):
    DISTINCT is the aggregate everyone calls unmaintainable — a delete
    may or may not remove a group's last copy of a value — but the
    (group, value, multiplicity) expansion IS exactly additive, so the
    state updates from the delta alone for ANY op mix (deletes
    included — stronger than min/max, which need a touched-group
    recompute). Scenario: distinct customers per order priority under
    the standard %97-delete / %89-customer-reassignment / %101-
    reinsert delta; oracle = COUNT(DISTINCT) recomputed over the new
    snapshot. At 100 TB the state is answer-support-sized
    ((group, value) combinations), the merge joins on the state's own
    composite key, and the fact table is read once at seed time,
    never again."""
    from xngin_spark.sources.dml import (
        cdc_changes,
        count_distinct_from_state,
        distinct_state,
        maintain_distinct_state,
    )

    v1 = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_custkey"
    )
    v2 = (
        v1.filter(F.col("o_orderkey") % 97 != 0)
        .withColumn(
            "o_custkey",
            F.when(
                F.col("o_orderkey") % 89 == 0, F.col("o_custkey") + 1000000
            ).otherwise(F.col("o_custkey")),
        )
        .unionByName(
            v1.filter(F.col("o_orderkey") % 101 == 0).withColumn(
                "o_orderkey", F.col("o_orderkey") + _key_shift(v1, "o_orderkey")
            )
        )
    )
    changes = cdc_changes(
        v1, v2, ["o_orderkey"], cols=["o_orderpriority", "o_custkey"]
    ).localCheckpoint(eager=True)
    state = maintain_distinct_state(
        distinct_state(v1, "o_orderpriority", "o_custkey"),
        changes,
        "o_orderpriority",
        "o_custkey",
    )
    return (
        count_distinct_from_state(state, "o_orderpriority")
        .select(
            "o_orderpriority",
            F.col("n_distinct").cast("bigint").alias("n_distinct"),
        )
        .orderBy("o_orderpriority")
    )

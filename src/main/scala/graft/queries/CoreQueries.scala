package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{PriorityDedup, RangeJoin}

/** General relational surface (SURVEY.md §2 + §7 step 6): scans,
  * projections, equi/theta joins, aggregation, windows, sorts/limits,
  * set ops, scalar functions — all Spark built-ins so Catalyst gets
  * full pushdown/pruning/broadcast freedom.
  *
  * Cross-engine determinism: see [[Catalog]] scaladoc. Double sums are
  * decimal-summed (order independent); every query has a total-order
  * ORDER BY; nullable sort keys pin NULLS FIRST explicitly (Spark's
  * ASC default) in the DuckDB oracle.
  */
object CoreQueries extends Catalog {

  import Catalog.{dsumCol => dsum, davgCol => davg, drevenueCol}

  override val queries: Seq[Q] = Seq(

    // ---- scans / projection / filter (S*/P*, pushdown-verified) ----
    Q("q01_scan_filter",
      (s, dir) => Tables.load(s, dir, "lineitem")
        .filter(col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        // (l_orderkey, l_linenumber) is NOT unique in the synthetic data
        // — order by all projected columns for a total order.
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity
             |FROM lineitem WHERE l_quantity > 45
             |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin)),

    // ---- aggregation: TPC-H Q1 shape (A*, group-by surface) ----
    Q("q02_agg_pricing",
      (s, dir) => Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          drevenueCol(col("l_extendedprice"), col("l_discount"))
            .as("sum_disc_price"),
          davg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      Some(s"""SELECT l_returnflag, l_linestatus,
              |  ${Catalog.dsum("l_quantity")} AS sum_qty,
              |  ${Catalog.dsum("l_extendedprice")} AS sum_base_price,
              |  ${Catalog.drevenue("l_extendedprice", "l_discount")} AS sum_disc_price,
              |  ${Catalog.davg("l_quantity")} AS avg_qty,
              |  COUNT(*) AS count_order
              |FROM lineitem
              |GROUP BY l_returnflag, l_linestatus
              |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ---- broadcast star join over small dims (J1) ----
    Q("q03_star_join",
      (s, dir) => {
        val c = Tables.load(s, dir, "customer")
        val n = Tables.load(s, dir, "nation")
        val r = Tables.load(s, dir, "region")
        c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy(col("r_name"))
          .agg(count(lit(1)).as("n_cust"),
               dsum(col("c_acctbal")).as("sum_bal"))
          .orderBy(col("r_name"))
      },
      Some(s"""SELECT r_name, COUNT(*) AS n_cust,
              |  ${Catalog.dsum("c_acctbal")} AS sum_bal
              |FROM customer
              |JOIN nation ON c_nationkey = n_nationkey
              |JOIN region ON n_regionkey = r_regionkey
              |GROUP BY r_name ORDER BY r_name""".stripMargin)),

    // ---- left outer join + agg over null-producing side (J1/A2) ----
    Q("q04_left_join_count",
      (s, dir) => {
        val c = Tables.load(s, dir, "customer")
        val o = Tables.load(s, dir, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("n_orders"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, COUNT(o_orderkey) AS n_orders
             |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
             |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin)),

    // ---- semi / anti joins (EXISTS / NOT EXISTS) ----
    Q("q05_semi_join",
      (s, dir) => {
        val c = Tables.load(s, dir, "customer")
        val o = Tables.load(s, dir, "orders")
          .filter(col("o_orderstatus") === "F")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .select(col("c_custkey"), col("c_name"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders
             |              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
             |ORDER BY c_custkey""".stripMargin)),

    Q("q06_anti_join",
      (s, dir) => {
        val c = Tables.load(s, dir, "customer")
        val o = Tables.load(s, dir, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |ORDER BY c_custkey""".stripMargin)),

    // ---- window: top-k per group (W1 family) ----
    Q("q07_window_topk",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        Tables.load(s, dir, "orders")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("o_custkey"), col("o_orderkey"),
                  col("o_totalprice"), col("rn"))
          .orderBy(col("o_custkey"), col("rn"))
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |    row_number() OVER (PARTITION BY o_custkey
             |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |  FROM orders) t
             |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin)),

    // ---- window: running sum over an exact (integer) measure ----
    Q("q08_window_running",
      (s, dir) => {
        // (l_orderkey, l_linenumber) is not unique — the running-sum
        // frame order must be total or engines disagree on prefixes.
        val w = Window.partitionBy(col("l_orderkey"))
          .orderBy(col("l_linenumber"), col("l_quantity"),
                   col("l_partkey"), col("l_suppkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.load(s, dir, "lineitem")
          .withColumn("qty", col("l_quantity").cast("long"))
          .withColumn("running_qty", sum(col("qty")).over(w))
          .select(col("l_orderkey"), col("l_linenumber"),
                  col("running_qty"))
          .orderBy(col("l_orderkey"), col("l_linenumber"),
                   col("running_qty"))
      },
      Some("""SELECT l_orderkey, l_linenumber,
             |  CAST(SUM(CAST(l_quantity AS BIGINT)) OVER (
             |    PARTITION BY l_orderkey
             |    ORDER BY l_linenumber, l_quantity, l_partkey, l_suppkey
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |    AS running_qty
             |FROM lineitem
             |ORDER BY l_orderkey, l_linenumber, running_qty""".stripMargin)),

    // ---- window: lag / lead ----
    Q("q09_window_lag_lead",
      (s, dir) => {
        val w = Window.partitionBy(col("l_suppkey"))
          .orderBy(col("l_shipdate"), col("l_orderkey"),
                   col("l_linenumber"), col("l_partkey"))
        Tables.load(s, dir, "lineitem")
          .withColumn("prev_ship", lag(col("l_shipdate"), 1).over(w))
          .withColumn("next_ship", lead(col("l_shipdate"), 1).over(w))
          .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
                  col("l_shipdate"), col("prev_ship"), col("next_ship"))
          .orderBy(col("l_suppkey"), col("l_shipdate"),
                   col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
      },
      Some("""SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
             |  lag(l_shipdate) OVER w AS prev_ship,
             |  lead(l_shipdate) OVER w AS next_ship
             |FROM lineitem
             |WINDOW w AS (PARTITION BY l_suppkey
             |   ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey)
             |ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber,
             |         l_partkey""".stripMargin)),

    // ---- global sort + limit (top-k, O1) ----
    Q("q10_topk_global",
      (s, dir) => Tables.load(s, dir, "lineitem")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
                 col("l_linenumber"))
        .select(col("l_orderkey"), col("l_linenumber"),
                col("l_extendedprice"))
        .limit(100),
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice
             |FROM lineitem
             |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
             |LIMIT 100""".stripMargin)),

    // ---- distinct / count distinct ----
    Q("q11_distinct",
      (s, dir) => Tables.load(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"))
        .distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    Q("q12_count_distinct",
      (s, dir) => Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("nd_parts"),
             count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS nd_parts,
             |  COUNT(*) AS n_rows
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // ---- set ops (U1 + intersect/except) ----
    Q("q13_union_all",
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
        val hi = o.filter(col("o_totalprice") > 200000)
          .select(col("o_orderkey").as("k"), lit("hi").as("tag"))
        val lo = o.filter(col("o_totalprice") < 50000)
          .select(col("o_orderkey").as("k"), lit("lo").as("tag"))
        hi.unionByName(lo).orderBy(col("k"), col("tag"))
      },
      Some("""SELECT o_orderkey AS k, 'hi' AS tag FROM orders
             |WHERE o_totalprice > 200000
             |UNION ALL
             |SELECT o_orderkey AS k, 'lo' AS tag FROM orders
             |WHERE o_totalprice < 50000
             |ORDER BY k, tag""".stripMargin)),

    Q("q14_intersect",
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
        o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
          .intersect(
            o.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
          .orderBy(col("o_custkey"))
      },
      Some("""SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
             |INTERSECT
             |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
             |ORDER BY o_custkey""".stripMargin)),

    Q("q15_except",
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
        o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
          .except(
            o.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
          .orderBy(col("o_custkey"))
      },
      Some("""SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
             |EXCEPT
             |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
             |ORDER BY o_custkey""".stripMargin)),

    // ---- rollup (grouping sets surface) ----
    Q("q16_rollup",
      (s, dir) => Tables.load(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
             dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(asc_nulls_first("o_orderstatus"),
                 asc_nulls_first("o_orderpriority")),
      Some(s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
              |  ${Catalog.dsum("o_totalprice")} AS sum_price
              |FROM orders
              |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
              |ORDER BY o_orderstatus ASC NULLS FIRST,
              |         o_orderpriority ASC NULLS FIRST""".stripMargin)),

    // ---- scalar string functions (F1-F8 family) ----
    Q("q17_string_funcs",
      (s, dir) => Tables.load(s, dir, "part")
        .select(
          col("p_partkey"),
          upper(trim(col("p_brand"))).as("brand_norm"),
          substring(col("p_type"), 1, 5).as("type5"),
          expr("split_part(p_type, ' ', 1)").as("type_head"),
          concat_ws("-", col("p_brand"), col("p_name")).as("brand_name"),
          when(col("p_size") > 25, lit("big")).otherwise(lit("small"))
            .as("size_class"),
          length(col("p_name")).as("name_len"))
        .orderBy(col("p_partkey")),
      Some("""SELECT p_partkey,
             |  UPPER(TRIM(p_brand)) AS brand_norm,
             |  SUBSTRING(p_type, 1, 5) AS type5,
             |  split_part(p_type, ' ', 1) AS type_head,
             |  p_brand || '-' || p_name AS brand_name,
             |  CASE WHEN p_size > 25 THEN 'big' ELSE 'small' END AS size_class,
             |  CAST(LENGTH(p_name) AS INTEGER) AS name_len
             |FROM part ORDER BY p_partkey""".stripMargin)),

    // ---- date/time functions over timestamps ----
    Q("q18_date_funcs",
      (s, dir) => Tables.load(s, dir, "orders")
        .withColumn("mon", date_trunc("month", col("o_orderdate")))
        .groupBy(col("mon"))
        .agg(count(lit(1)).as("n"),
             dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("mon")),
      Some(s"""SELECT date_trunc('month', o_orderdate) AS mon,
              |  COUNT(*) AS n,
              |  ${Catalog.dsum("o_totalprice")} AS sum_price
              |FROM orders GROUP BY 1 ORDER BY mon""".stripMargin)),

    // ---- scalar math functions ----
    Q("q19_math_funcs",
      (s, dir) => Tables.load(s, dir, "lineitem")
        .filter(col("l_linenumber") === 1)
        .select(
          col("l_orderkey"),
          abs(col("l_discount") - 0.05).as("disc_dev"),
          floor(col("l_extendedprice")).cast("long").as("price_floor"),
          ceil(col("l_quantity")).cast("long").as("qty_ceil"),
          sqrt(col("l_extendedprice")).as("price_sqrt"),
          (col("l_orderkey") % 7).as("key_mod"))
        .orderBy(col("l_orderkey"), col("price_floor"), col("disc_dev")),
      Some("""SELECT l_orderkey,
             |  ABS(l_discount - 0.05) AS disc_dev,
             |  CAST(FLOOR(l_extendedprice) AS BIGINT) AS price_floor,
             |  CAST(CEIL(l_quantity) AS BIGINT) AS qty_ceil,
             |  SQRT(l_extendedprice) AS price_sqrt,
             |  l_orderkey % 7 AS key_mod
             |FROM lineitem WHERE l_linenumber = 1
             |ORDER BY l_orderkey, price_floor, disc_dev""".stripMargin)),

    // ---- numeric range (theta) join with first-match (J3/J4) ----
    // Gated through the map-only disjoint-pieces variant: the probe
    // side is never shuffled (the row_number variant would repartition
    // the whole fact table on a per-row id just to dedupe matches — the
    // plan you would NOT want at 100 TB probe scale). The double bounds
    // are resolved on the driver with Catalyst's double ordering, the
    // one the join condition compares with. Oracle unchanged:
    // first-match-by-lo-order is the same result either way.
    Q("q20_range_join",
      (s, dir) => {
        val ranges = Tables.load(s, dir, "region").select(
          col("r_name"),
          (col("r_regionkey") * lit(2000.0)).as("lo"),
          (col("r_regionkey") * lit(2000.0) + lit(1999.99)).as("hi"),
          // first-match order: ranges are probed in lo-ascending order,
          // which for this catalog is exactly regionkey order
          col("r_regionkey").cast("long").as("ord"))
        val sup = Tables.load(s, dir, "supplier")
        RangeJoin.firstMatchDisjoint(
            sup, ranges, col("s_acctbal"), lo = "lo", hi = "hi", ordCol = "ord")
          .select(col("s_suppkey"), col("r_name"), col("lo"))
          .orderBy(col("s_suppkey"))
      },
      Some("""SELECT s_suppkey, r_name, lo FROM (
             |  SELECT s.s_suppkey, r.r_name, r.lo,
             |    row_number() OVER (PARTITION BY s.s_suppkey
             |                       ORDER BY r.lo ASC NULLS FIRST) AS rn
             |  FROM supplier s
             |  LEFT JOIN (SELECT r_name,
             |               r_regionkey * CAST(2000.0 AS DOUBLE) AS lo,
             |               r_regionkey * CAST(2000.0 AS DOUBLE)
             |                 + CAST(1999.99 AS DOUBLE) AS hi
             |             FROM region) r
             |    ON s.s_acctbal >= r.lo AND s.s_acctbal <= r.hi) t
             |WHERE rn = 1 ORDER BY s_suppkey""".stripMargin)),

    // ---- bucketed range join: the large-ranges scale path ----
    // Same supplier×region containment as q20 but through
    // RangeJoin.bucketed: both sides expand to coarse 2000-wide
    // buckets and equi-join on the bucket (a shuffled hash join, no
    // broadcast ceiling on the ranges side). Inner-join semantics —
    // suppliers with negative acctbal fall outside every range and
    // drop; the catalog's ranges are disjoint so no first-match dedup
    // is needed and s_suppkey stays unique (total order).
    Q("q46_range_join_bucketed",
      (s, dir) => {
        val ranges = Tables.load(s, dir, "region").select(
          col("r_name"),
          (col("r_regionkey") * lit(2000.0)).as("lo"),
          (col("r_regionkey") * lit(2000.0) + lit(1999.99)).as("hi"))
        val sup = Tables.load(s, dir, "supplier")
        RangeJoin.bucketed(
            sup, ranges, col("s_acctbal"), col("lo"), col("hi"),
            bucketOf = v => floor(v / lit(2000.0)).cast("long"),
            bucketsOf = (lo, hi) => sequence(
              floor(lo / lit(2000.0)).cast("long"),
              floor(hi / lit(2000.0)).cast("long")))
          .select(col("s_suppkey"), col("r_name"), col("lo"))
          .orderBy(col("s_suppkey"))
      },
      Some("""SELECT s.s_suppkey, r.r_name, r.lo
             |FROM supplier s
             |JOIN (SELECT r_name,
             |        r_regionkey * CAST(2000.0 AS DOUBLE) AS lo,
             |        r_regionkey * CAST(2000.0 AS DOUBLE)
             |          + CAST(1999.99 AS DOUBLE) AS hi
             |      FROM region) r
             |  ON s.s_acctbal >= r.lo AND s.s_acctbal <= r.hi
             |ORDER BY s_suppkey""".stripMargin)),

    // ---- priority dedup (W1): keep one row per key by priority ----
    Q("q21_priority_dedup",
      (s, dir) => PriorityDedup(
          Tables.load(s, dir, "orders"),
          keys = Seq("o_custkey"),
          priority = Seq(col("o_orderstatus").desc, col("o_orderkey").asc))
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderstatus"))
        .orderBy(col("o_custkey")),
      Some("""SELECT o_custkey, o_orderkey, o_orderstatus FROM (
             |  SELECT o_custkey, o_orderkey, o_orderstatus,
             |    row_number() OVER (PARTITION BY o_custkey
             |      ORDER BY o_orderstatus DESC, o_orderkey) AS rn
             |  FROM orders) t
             |WHERE rn = 1 ORDER BY o_custkey""".stripMargin)),

    // ---- join with differing key names + null coalesce (J2/P6) ----
    Q("q22_enrich_coalesce",
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
        val c = Tables.load(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        o.join(broadcast(c), o("o_custkey") === c("c_custkey"), "left")
          .select(
            col("o_orderkey"),
            coalesce(col("c_name"), lit("UNKNOWN")).as("cust_name"),
            coalesce(col("c_mktsegment"), lit("NONE")).as("segment"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey,
             |  COALESCE(c_name, 'UNKNOWN') AS cust_name,
             |  COALESCE(c_mktsegment, 'NONE') AS segment
             |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
             |ORDER BY o_orderkey""".stripMargin)),

    // ---- multi-table star join + top-k by aggregate (TPC-H Q3 shape) ----
    Q("q23_revenue_topk",
      (s, dir) => {
        val c = Tables.load(s, dir, "customer")
          .filter(col("c_mktsegment") === "BUILDING")
        val o = Tables.load(s, dir, "orders")
        val l = Tables.load(s, dir, "lineitem")
        c.join(o, c("c_custkey") === o("o_custkey"))
          .join(l, o("o_orderkey") === l("l_orderkey"))
          .groupBy(col("o_orderkey"), col("o_orderdate"))
          .agg(drevenueCol(col("l_extendedprice"), col("l_discount"))
            .as("revenue"))
          .orderBy(col("revenue").desc, col("o_orderkey"))
          .limit(10)
      },
      Some(s"""SELECT o_orderkey, o_orderdate,
              |  ${Catalog.drevenue("l_extendedprice", "l_discount")} AS revenue
              |FROM customer
              |JOIN orders ON c_custkey = o_custkey
              |JOIN lineitem ON o_orderkey = l_orderkey
              |WHERE c_mktsegment = 'BUILDING'
              |GROUP BY o_orderkey, o_orderdate
              |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin))
  )
}

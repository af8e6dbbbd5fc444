package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.OpsUtil._

/** Star-schema relational surface (EXT per SURVEY.md §2.3): scans,
  * filters, joins, aggregations, sorts/top-k, set ops, window shapes.
  *
  * Scale stance (100 TB): lineitem/orders are the fact tables — every
  * plan keeps them on the probe side; dimension tables (region,
  * nation, customer, supplier, part — KBs to low GBs even at SF100k)
  * are explicitly `broadcast()` so fact tables are never shuffled for
  * a dim join. Fact⋈fact (lineitem⋈orders) is a shuffle hash/sort-merge
  * join on the shared key — at scale both sides would be bucketed by
  * orderkey to make it shuffle-free; AQE handles skew splits.
  */
object RelationalOps {

  /** TPC-H Q1 shape: pricing summary over lineitem with a pushed-down
    * date filter. Single shuffle (groupBy), map-side partials; the
    * 6 aggregate expressions all ride the same shuffle. */
  def q1Pricing(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        count("*").as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  def q1PricingSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q3 shape: fact⋈fact join + group + top-k revenue.
    * customer is broadcast; lineitem⋈orders shuffles on orderkey. */
  def q3TopRevenue(spark: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(spark, d).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(spark, d)
    val l = Tables.lineitem(spark, d)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  def q3TopRevenueSql: String =
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  /** TPC-H Q5 shape: snowflake join chain through supplier→nation→
    * region with all three dims broadcast — the fact table never
    * shuffles for the dims, only for the final groupBy. */
  def q5RegionRevenue(spark: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(spark, d)
    val s = Tables.supplier(spark, d)
    val n = Tables.nation(spark, d)
    val r = Tables.region(spark, d)
    l.join(broadcast(s), l("l_suppkey") === s("s_suppkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        count("*").as("n_items"))
      .orderBy("r_name", "n_name")
  }

  def q5RegionRevenueSql: String =
    """SELECT r_name, n_name,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  /** Semi-join: customers that have at least one open order. */
  def semiJoinCustomers(spark: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(spark, d)
    val o = Tables.orders(spark, d).filter(col("o_orderstatus") === "O")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
  }

  def semiJoinCustomersSql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
      |ORDER BY c_custkey""".stripMargin

  /** Anti-join: customers that never placed an urgent order. */
  def antiJoinCustomers(spark: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(spark, d)
    val o = Tables.orders(spark, d).filter(col("o_orderpriority") === "1-URGENT")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  def antiJoinCustomersSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  /** Outer join + null handling: per-customer order stats including
    * customers with no orders (COALESCE'd zeros). */
  def outerJoinOrderStats(spark: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(spark, d)
    val o = Tables.orders(spark, d)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        coalesce(dsum(col("o_totalprice")), lit(0.0)).as("total_spent"))
      .orderBy("c_custkey")
  }

  def outerJoinOrderStatsSql: String =
    """SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders,
      |  COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 0.0) AS total_spent
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin

  /** Aggregate breadth: min/max/avg/count distinct + HAVING. */
  def aggStatsByPriority(spark: SparkSession, d: String): DataFrame =
    Tables.orders(spark, d)
      .groupBy("o_orderpriority")
      .agg(
        count("*").as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        davg(col("o_totalprice")).as("avg_price"))
      .filter(col("n_orders") > 0)
      .orderBy("o_orderpriority")

  def aggStatsByPrioritySql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_orders,
      |  COUNT(DISTINCT o_custkey) AS n_customers,
      |  MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(o_totalprice) AS avg_price
      |FROM orders GROUP BY o_orderpriority
      |HAVING COUNT(*) > 0 ORDER BY o_orderpriority""".stripMargin

  /** TPC-H Q14 shape: conditional aggregation over a broadcast
    * part-dimension join — promo revenue share per month. Covers the
    * `part` table + CASE-inside-aggregate. */
  def promoRevenue(spark: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(spark, d)
    val p = Tables.part(spark, d)
    l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .groupBy(year(col("l_shipdate")).as("yr"), month(col("l_shipdate")).as("mo"))
      .agg(
        dsum(when(col("p_type").startsWith("PROMO"),
          col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(0.0))
          .as("promo_revenue"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("total_revenue"),
        count("*").as("n_items"))
      .orderBy("yr", "mo")
  }

  def promoRevenueSql: String =
    """SELECT year(l_shipdate) AS yr, month(l_shipdate) AS mo,
      |  CAST(SUM(CAST(CASE WHEN p_type LIKE 'PROMO%'
      |       THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE) AS promo_revenue,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY 1, 2 ORDER BY yr, mo""".stripMargin

  /** TPC-H Q4 shape through the SQL-TEXT route — orders per priority
    * having at least one lineitem shipped more than 60 days after the
    * order date, written as a correlated `EXISTS` and handed to
    * `spark.sql` verbatim. Every other declared query is DataFrame-
    * built; this one deliberately exercises the other half of the
    * user surface end-to-end under the hash gate: the SQL parser and
    * Catalyst's RewritePredicateSubquery, which decorrelates the
    * EXISTS into a left-semi join on (orderkey, shipdate > orderdate
    * + 60d) — the same plan the DataFrame `left_semi` would declare,
    * proving the two APIs converge. Views are name-prefixed and
    * per-call replaced: registration is idempotent, so the bench/
    * verify concurrency (same session, same dir) is safe. */
  def lateShipExists(spark: SparkSession, d: String): DataFrame = {
    Tables.orders(spark, d).createOrReplaceTempView("graft_sql_orders")
    Tables.lineitem(spark, d).createOrReplaceTempView("graft_sql_lineitem")
    spark.sql(
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM graft_sql_orders o
        |WHERE EXISTS (
        |  SELECT 1 FROM graft_sql_lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey
        |    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAYS)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  def lateShipExistsSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_orders
      |FROM orders o
      |WHERE EXISTS (
      |  SELECT 1 FROM lineitem l
      |  WHERE l.l_orderkey = o.o_orderkey
      |    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** TPC-H Q11 shape through the SQL-text surface — brands whose
    * revenue share clears a threshold of the corpus total, written
    * with an uncorrelated SCALAR subquery in the HAVING clause (the
    * other subquery rewrite, complementing [[lateShipExists]]'s
    * correlated EXISTS): Catalyst plans the total as a 1-row subquery
    * broadcast into the having-filter — at any scale the "compare
    * every group to the global total" pattern is one extra 1-row
    * exchange, never a second corpus pass per group. Revenue sums are
    * decimal-exact on both engines, and the share division uses the
    * same two exact operands, so the filter and output bits match. */
  def brandRevenueShare(spark: SparkSession, d: String): DataFrame = {
    Tables.lineitem(spark, d).createOrReplaceTempView("graft_sql_lineitem")
    Tables.part(spark, d).createOrReplaceTempView("graft_sql_part")
    spark.sql(
      """SELECT p_brand,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) /
        |    (SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
        |     FROM graft_sql_lineitem) AS share
        |FROM graft_sql_lineitem JOIN graft_sql_part ON p_partkey = l_partkey
        |GROUP BY p_brand
        |HAVING CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) /
        |    (SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
        |     FROM graft_sql_lineitem) > 0.03
        |ORDER BY p_brand""".stripMargin)
  }

  def brandRevenueShareSql: String =
    """SELECT p_brand,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) /
      |    (SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
      |     FROM lineitem) AS share
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |GROUP BY p_brand
      |HAVING CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) /
      |    (SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
      |     FROM lineitem) > 0.03
      |ORDER BY p_brand""".stripMargin

  /** Explicit GROUPING SETS with grouping_id — the third SQL-text
    * query: unlike cube/rollup (which the DataFrame API exposes and
    * `cube_revenue`/`rollup_revenue` already gate), an ARBITRARY set
    * list plus the grouping-id bitvector is SQL-only surface. The
    * set list here is rollup-shaped but written explicitly; gid uses
    * each engine's spelling (Spark `grouping_id()`, DuckDB
    * `GROUPING(a, b)`) — both put the leftmost grouping column in
    * the most significant bit, and the hash gate proves it. Ordering
    * pins NULLS FIRST explicitly in the oracle because DuckDB
    * defaults NULLS LAST where Spark defaults NULLS FIRST. */
  def groupingSetsRevenue(spark: SparkSession, d: String): DataFrame = {
    Tables.lineitem(spark, d).createOrReplaceTempView("graft_sql_lineitem")
    spark.sql(
      """SELECT l_returnflag, l_linestatus, grouping_id() AS gid,
        |  COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
        |FROM graft_sql_lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin)
  }

  def groupingSetsRevenueSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  GROUPING(l_returnflag, l_linestatus) AS gid,
      |  COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  /** TPC-H Q21 shape — "suppliers who kept orders waiting": for each
    * supplier, count the finished orders where THIS supplier shipped
    * late (>60 days after the order date, the [[lateShipExists]]
    * lateness predicate — this schema has no commit/receipt dates)
    * while at least one OTHER supplier was on the order (EXISTS) and
    * no OTHER supplier was late (NOT EXISTS). The double-correlated
    * EXISTS + NOT EXISTS over the same fact table is the hardest
    * subquery-rewrite shape in the TPC-H suite: Catalyst decorrelates
    * both into left-semi / left-anti self-joins of lineitem keyed on
    * l_orderkey — at 100 TB that is two co-partitioned shuffles on
    * the join key (AQE merges the exchange), never a per-row probe.
    * The `<>` supplier inequality rides the semi/anti join as a
    * non-equi conjunct on already-key-matched rows, so no cross
    * product materializes. */
  def waitingSuppliers(spark: SparkSession, d: String): DataFrame = {
    Tables.orders(spark, d).createOrReplaceTempView("graft_sql_orders")
    Tables.lineitem(spark, d).createOrReplaceTempView("graft_sql_lineitem")
    Tables.supplier(spark, d).createOrReplaceTempView("graft_sql_supplier")
    spark.sql(
      """SELECT s_name, COUNT(*) AS numwait
        |FROM graft_sql_supplier s
        |JOIN graft_sql_lineitem l1 ON s.s_suppkey = l1.l_suppkey
        |JOIN graft_sql_orders o ON o.o_orderkey = l1.l_orderkey
        |WHERE o.o_orderstatus = 'F'
        |  AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAYS
        |  AND EXISTS (
        |    SELECT 1 FROM graft_sql_lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM graft_sql_lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAYS)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 20""".stripMargin)
  }

  def waitingSuppliersSql: String =
    """SELECT s_name, COUNT(*) AS numwait
      |FROM supplier s
      |JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
      |JOIN orders o ON o.o_orderkey = l1.l_orderkey
      |WHERE o.o_orderstatus = 'F'
      |  AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem l2
      |    WHERE l2.l_orderkey = l1.l_orderkey
      |      AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM lineitem l3
      |    WHERE l3.l_orderkey = l1.l_orderkey
      |      AND l3.l_suppkey <> l1.l_suppkey
      |      AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 20""".stripMargin

  /** TPC-H Q22 shape — "dormant high-balance customers": per nation,
    * count and total balance of customers above the global positive-
    * balance average with no order in the trailing 180 days of the
    * dataset (every sf customer HAS orders, so the classic no-orders
    * anti-join is vacuous here; dormancy keeps the anti-join
    * non-trivial and is what a real churn query asks anyway).
    * Composes the two subquery rewrites the earlier SQL-text queries
    * exercise separately, plus one more: an uncorrelated scalar
    * (global average — one broadcast row), a correlated NOT EXISTS
    * (→ left-anti join on o_custkey), and a scalar NESTED INSIDE the
    * anti-join's predicate (the dataset's max order date — evaluated
    * once, not per probe). At scale: customer anti-joins recent
    * orders — the 180-day slice prunes the orders scan before the
    * shuffle. Balance sums go through DECIMAL(18,6) for exact,
    * order-independent totals. */
  def dormantCustomers(spark: SparkSession, d: String): DataFrame = {
    Tables.orders(spark, d).createOrReplaceTempView("graft_sql_orders")
    Tables.customer(spark, d).createOrReplaceTempView("graft_sql_customer")
    Tables.nation(spark, d).createOrReplaceTempView("graft_sql_nation")
    spark.sql(
      """SELECT n_name, COUNT(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS totacctbal
        |FROM graft_sql_customer c
        |JOIN graft_sql_nation n ON c.c_nationkey = n.n_nationkey
        |WHERE c.c_acctbal > (SELECT AVG(c_acctbal)
        |                     FROM graft_sql_customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM graft_sql_orders o
        |    WHERE o.o_custkey = c.c_custkey
        |      AND o.o_orderdate > (SELECT MAX(o_orderdate) - INTERVAL 180 DAYS
        |                           FROM graft_sql_orders))
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin)
  }

  def dormantCustomersSql: String =
    """SELECT n_name, COUNT(*) AS numcust,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS totacctbal
      |FROM customer c
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |WHERE c.c_acctbal > (SELECT AVG(c_acctbal)
      |                     FROM customer WHERE c_acctbal > 0)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c.c_custkey
      |      AND o.o_orderdate > (SELECT MAX(o_orderdate) - INTERVAL 180 DAY
      |                           FROM orders))
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  /** TPC-H Q7 shape — "volume shipping between nation pairs": revenue
    * flowing between two specific nations (either direction) per ship
    * year. The two-sided-dimension pattern: supplier AND customer each
    * carry a nation, so the fact row's nationality pair is only known
    * after BOTH dimension joins — the pair filter therefore splits
    * into (a) per-side IN-filters pushed into each broadcast dim
    * (prunes to the two nations before any join) and (b) the
    * cross-side "not the same nation" residual after. Fact-side cost:
    * lineitem ⋈ orders on orderkey, re-key once onto custkey —
    * the same two shuffles ANY customer-attributed lineitem query
    * pays; everything else is broadcast. */
  def q7NationVolume(spark: SparkSession, d: String): DataFrame = {
    val pair = Seq("NATION_20", "NATION_11")
    val sn = Tables.supplier(spark, d)
      .join(broadcast(Tables.nation(spark, d)
        .where(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("sn_key"))
      .select(col("s_suppkey"), col("supp_nation"))
    val cn = Tables.customer(spark, d)
      .join(broadcast(Tables.nation(spark, d)
        .where(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))),
        col("c_nationkey") === col("cn_key"))
      .select(col("c_custkey"), col("cust_nation"))
    Tables.lineitem(spark, d)
      .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, d), col("l_orderkey") === col("o_orderkey"))
      .join(cn, col("o_custkey") === col("c_custkey"))
      .where(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("yr"))
      .agg(count(lit(1)).as("n_items"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("volume"))
      .orderBy("supp_nation", "cust_nation", "yr")
  }

  def q7NationVolumeSql: String =
    """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
      |  year(l_shipdate) AS yr, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS volume
      |FROM lineitem
      |JOIN supplier ON s_suppkey = l_suppkey
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |JOIN nation sn ON sn.n_nationkey = s_nationkey
      |JOIN nation cn ON cn.n_nationkey = c_nationkey
      |WHERE ((sn.n_name = 'NATION_20' AND cn.n_name = 'NATION_11')
      |    OR (sn.n_name = 'NATION_11' AND cn.n_name = 'NATION_20'))
      |GROUP BY 1, 2, 3 ORDER BY supp_nation, cust_nation, yr""".stripMargin

  /** TPC-H Q8 shape — "market share": the fraction of an entire
    * region's customer revenue supplied by one nation, per order
    * year. Numerator and denominator ride the SAME aggregate — a
    * conditional decimal sum inside the group, one fact pass — never
    * two scans joined back. The region filter prunes the customer-
    * side snowflake (nation ⋈ region broadcast) before the fact
    * joins; the supplier side attaches broadcast just to tag rows
    * with the would-be-numerator nation. One double division on two
    * exact decimal sums, rounded to 9. */
  def q8MarketShare(spark: SparkSession, d: String): DataFrame = {
    val supNation = Tables.supplier(spark, d)
      .join(broadcast(Tables.nation(spark, d)
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("sn_key"))
      .select(col("s_suppkey"), col("supp_nation"))
    val custInRegion = Tables.customer(spark, d)
      .join(broadcast(Tables.nation(spark, d)
        .join(Tables.region(spark, d).where(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("cn_key"))),
        col("c_nationkey") === col("cn_key"))
      .select(col("c_custkey"))
    val dec = (col("l_extendedprice") * (lit(1) - col("l_discount")))
      .cast("decimal(18,6)")
    Tables.lineitem(spark, d)
      .join(broadcast(supNation), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, d), col("l_orderkey") === col("o_orderkey"))
      .join(custInRegion, col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(count(lit(1)).as("n_items"),
        round(
          sum(when(col("supp_nation") === "NATION_3", dec)
            .otherwise(lit(0).cast("decimal(18,6)"))).cast("double") /
          sum(dec).cast("double"), 9).as("share"))
      .orderBy("yr")
  }

  def q8MarketShareSql: String =
    """SELECT year(o_orderdate) AS yr, COUNT(*) AS n_items,
      |  round(
      |    CAST(SUM(CASE WHEN sn.n_name = 'NATION_3'
      |      THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
      |      ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) /
      |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE),
      |    9) AS share
      |FROM lineitem
      |JOIN supplier ON s_suppkey = l_suppkey
      |JOIN nation sn ON sn.n_nationkey = s_nationkey
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |JOIN nation cn ON cn.n_nationkey = c_nationkey
      |JOIN region ON r_regionkey = cn.n_regionkey
      |WHERE r_name = 'ASIA'
      |GROUP BY 1 ORDER BY yr""".stripMargin

  /** TPC-H Q15 shape — "top supplier": suppliers whose total revenue
    * equals the global maximum (the view + scalar-subquery query,
    * written as its decorrelation): the per-supplier revenue
    * aggregate is computed ONCE, its 1-row max broadcasts back onto
    * itself, and the equality filter keeps the argmax row(s) — ties
    * all surface, as the spec requires. Equality compares exact
    * DECIMALS, not doubles: the one formulation where a sum must be
    * compared for equality, which is precisely why every revenue sum
    * in this engine is decimal-first. Supplier attaches broadcast
    * for the name. */
  def q15TopSupplier(spark: SparkSession, d: String): DataFrame = {
    // the revenue aggregate feeds BOTH the max probe and the equality
    // join; lazy-checkpoint the (|suppliers|-row) result so the
    // lineitem scan+shuffle under it runs once, not once per branch
    val rev = Tables.lineitem(spark, d)
      .groupBy(col("l_suppkey"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,6)")).as("total"))
      .localCheckpoint(false)
    val top = rev.agg(max(col("total")).as("max_total"))
    rev.join(broadcast(top), col("total") === col("max_total"))
      .join(broadcast(Tables.supplier(spark, d)),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("total").cast("double").as("total_revenue"))
      .orderBy("s_suppkey")
  }

  def q15TopSupplierSql: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS total
      |  FROM lineitem GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, CAST(total AS DOUBLE) AS total_revenue
      |FROM supplier JOIN rev ON s_suppkey = l_suppkey
      |WHERE total = (SELECT MAX(total) FROM rev)
      |ORDER BY s_suppkey""".stripMargin

  /** TPC-H Q20 shape — "suppliers over the threshold": suppliers whose
    * shipped quantity of name-matched parts clears the average
    * per-supplier quantity, written through the SQL-text surface as
    * `IN (aggregating subquery HAVING (scalar subquery))` — an IN
    * whose subquery is itself gated by a nested uncorrelated scalar,
    * the remaining subquery NESTING pattern after [[dormantCustomers]]
    * put a scalar inside NOT EXISTS. Catalyst plans the IN as a
    * left-semi on the HAVING-filtered aggregate and evaluates the
    * scalar once. Quantity sums go through DECIMAL so the threshold
    * comparison feeds identical exact inputs in both engines. */
  def q20ThresholdSuppliers(spark: SparkSession, d: String): DataFrame = {
    Tables.lineitem(spark, d).createOrReplaceTempView("graft_sql_lineitem")
    Tables.part(spark, d).createOrReplaceTempView("graft_sql_part")
    Tables.supplier(spark, d).createOrReplaceTempView("graft_sql_supplier")
    spark.sql(
      """SELECT s_name, s_acctbal FROM graft_sql_supplier WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM graft_sql_lineitem
        |  JOIN graft_sql_part ON p_partkey = l_partkey
        |  WHERE p_name LIKE '%red%'
        |  GROUP BY l_suppkey
        |  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) > (
        |    SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
        |             / COUNT(DISTINCT l_suppkey)
        |    FROM graft_sql_lineitem
        |    JOIN graft_sql_part ON p_partkey = l_partkey
        |    WHERE p_name LIKE '%red%'))
        |ORDER BY s_name""".stripMargin)
  }

  def q20ThresholdSuppliersSql: String =
    """SELECT s_name, s_acctbal FROM supplier WHERE s_suppkey IN (
      |  SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
      |  WHERE p_name LIKE '%red%'
      |  GROUP BY l_suppkey
      |  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) > (
      |    SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
      |             / COUNT(DISTINCT l_suppkey)
      |    FROM lineitem JOIN part ON p_partkey = l_partkey
      |    WHERE p_name LIKE '%red%'))
      |ORDER BY s_name""".stripMargin

  /** TPC-H Q12 shape — "shipping-class priority audit" (adapted: this
    * schema has no l_shipmode/commitdate, so the class axis is
    * late-vs-ontime under the house 60-day lateness rule): per class,
    * how many lineitems belong to critical-priority orders vs not —
    * the canonical conditional-count (CASE-inside-SUM) pattern over
    * one fact join. One orderkey shuffle; priorities evaluate
    * row-local; no second pass for the complement count. */
  def q12ShipClass(spark: SparkSession, d: String): DataFrame = {
    val late = col("l_shipdate") >
      col("o_orderdate") + expr("INTERVAL 60 DAYS")
    Tables.orders(spark, d)
      .join(Tables.lineitem(spark, d), col("o_orderkey") === col("l_orderkey"))
      .groupBy(when(late, "late").otherwise("ontime").as("ship_class"))
      .agg(count(lit(1)).as("n_items"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
      .orderBy("ship_class")
  }

  def q12ShipClassSql: String =
    """SELECT CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
      |    THEN 'late' ELSE 'ontime' END AS ship_class,
      |  COUNT(*) AS n_items,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY ship_class""".stripMargin

  /** TPC-H Q2 shape — "cheapest supplier per part" (adapted: no
    * partsupp table, so observed lineitem unit prices stand in for
    * ps_supplycost): for each size-10 part, the supplier(s) whose
    * minimum unit price equals the part's global minimum — the
    * per-group-argmin pattern, written as its decorrelation (the
    * correlated `= (SELECT MIN ...)` subquery becomes one per-key min
    * aggregate joined back on the grouping key + exact price
    * equality). Unit prices round to 6 BEFORE any min so both
    * engines compare identical doubles; ties keep every witness, as
    * the spec demands. Scale: both aggregates ride one
    * (part, supplier)-keyed shuffle; the part filter prunes via a
    * broadcast semi-join before the heavy aggregate; supplier
    * attaches broadcast for the name. */
  def q2MinCost(spark: SparkSession, d: String): DataFrame = {
    val sized = Tables.part(spark, d).where(col("p_size") === 10)
      .select(col("p_partkey"))
    // feeds both the per-part min and the equality join back — lazy
    // checkpoint so the fact scan+shuffle under it runs once
    val price = Tables.lineitem(spark, d)
      .join(broadcast(sized), col("l_partkey") === col("p_partkey"), "left_semi")
      .where(col("l_quantity") > 0)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(round(col("l_extendedprice") / col("l_quantity"), 6)).as("unit_price"))
      .localCheckpoint(false)
    val best = price.groupBy(col("l_partkey").as("b_partkey"))
      .agg(min(col("unit_price")).as("best_price"))
    price.join(best, col("l_partkey") === col("b_partkey") &&
        col("unit_price") === col("best_price"))
      .join(broadcast(Tables.supplier(spark, d)),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("l_partkey").as("partkey"), col("s_name"), col("unit_price"))
      .orderBy("partkey", "s_name")
  }

  def q2MinCostSql: String =
    """WITH price AS (
      |  SELECT l_partkey, l_suppkey,
      |    MIN(round(l_extendedprice / l_quantity, 6)) AS unit_price
      |  FROM lineitem
      |  WHERE l_quantity > 0
      |    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_size = 10)
      |  GROUP BY 1, 2),
      |best AS (
      |  SELECT l_partkey, MIN(unit_price) AS best_price FROM price GROUP BY 1)
      |SELECT p.l_partkey AS partkey, s_name, p.unit_price
      |FROM price p
      |JOIN best b ON p.l_partkey = b.l_partkey AND p.unit_price = b.best_price
      |JOIN supplier ON s_suppkey = p.l_suppkey
      |ORDER BY partkey, s_name""".stripMargin

  /** TPC-H Q16 shape — "supplier diversity per part class": distinct
    * suppliers per (brand, size) excluding a brand and a supplier
    * BLACKLIST expressed as `NOT IN (subquery)` — the last missing
    * subquery rewrite after EXISTS ([[lateShipExists]]), NOT EXISTS
    * ([[waitingSuppliers]]/[[dormantCustomers]]) and scalars: NOT IN
    * has three-valued NULL semantics (one NULL in the subquery makes
    * every row's predicate UNKNOWN), so Catalyst must plan a
    * NULL-AWARE anti join, not the plain left-anti the others get —
    * a distinct plan shape under the gate. At scale the blacklist is
    * a filtered dimension (6 rows here): the null-aware anti join
    * broadcasts it; the count-distinct rides the one fact shuffle. */
  def q16PartSuppliers(spark: SparkSession, d: String): DataFrame = {
    Tables.lineitem(spark, d).createOrReplaceTempView("graft_sql_lineitem")
    Tables.part(spark, d).createOrReplaceTempView("graft_sql_part")
    Tables.supplier(spark, d).createOrReplaceTempView("graft_sql_supplier")
    spark.sql(
      """SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM graft_sql_lineitem JOIN graft_sql_part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#1'
        |  AND l_suppkey NOT IN (
        |    SELECT s_suppkey FROM graft_sql_supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_size
        |LIMIT 20""".stripMargin)
  }

  def q16PartSuppliersSql: String =
    """SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand <> 'Brand#1'
      |  AND l_suppkey NOT IN (
      |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_size
      |LIMIT 20""".stripMargin

  /** TPC-H Q17 shape — "small-quantity revenue": per brand, the count
    * and weekly-averaged revenue of lineitems whose quantity is under
    * 20% of their PART's average quantity. The reference formulation
    * is a correlated scalar subquery (`l_quantity < (SELECT 0.2 *
    * avg(l_quantity) FROM lineitem l2 WHERE l2.l_partkey =
    * p_partkey)`); this writes the plan Catalyst's decorrelation
    * produces directly — a per-partkey threshold aggregate joined
    * back on the grouping key — which is also the only shape that
    * scales: one co-keyed shuffle join (threshold table is
    * |parts| rows, partial agg map-side) instead of a per-row
    * subquery, then a broadcast of the part dimension. Threshold
    * arithmetic is [[graft.ops.OpsUtil.davg]]-exact (decimal sum ÷
    * count, then one double multiply), so both engines compare
    * l_quantity against bit-identical thresholds. */
  def smallQuantityRevenue(spark: SparkSession, d: String): DataFrame = {
    import graft.ops.OpsUtil.davg
    val li = Tables.lineitem(spark, d)
    val thr = li.groupBy(col("l_partkey").as("t_partkey"))
      .agg((lit(0.2) * davg(col("l_quantity"))).as("thr"))
    li.join(thr, col("l_partkey") === col("t_partkey"))
      .where(col("l_quantity") < col("thr"))
      .join(broadcast(Tables.part(spark, d)), col("p_partkey") === col("l_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_small"),
        (dsum(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"))
      .orderBy("p_brand")
  }

  def smallQuantityRevenueSql: String =
    """WITH thr AS (
      |  SELECT l_partkey AS t_partkey,
      |    0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
      |           / COUNT(l_quantity)) AS thr
      |  FROM lineitem GROUP BY l_partkey)
      |SELECT p_brand, COUNT(*) AS n_small,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0 AS avg_yearly
      |FROM lineitem
      |JOIN thr ON t_partkey = l_partkey
      |JOIN part ON p_partkey = l_partkey
      |WHERE l_quantity < thr
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  /** Equi-width histogram of `l_quantity` (fixed domain [1, 50],
    * width 5 → 10 buckets) with per-bucket revenue — the
    * data-profiling complement to [[percentiles]]. The fixed domain
    * keeps it a SINGLE corpus pass (a data-driven min/max would need
    * a second scan or a broadcast pre-aggregate, the DSIR two-pass
    * shape); bucket assignment is integer arithmetic, so both engines
    * agree exactly and the map-side partial aggregation reduces each
    * partition to ≤10 rows before the one tiny shuffle. */
  def histQuantity(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .select(floor((col("l_quantity") - 1) / 5).cast("int").as("bucket"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_items"), dsum(col("rev")).as("revenue"))
      .select(col("bucket"), (col("bucket") * 5 + 1).as("lo"),
        (col("bucket") * 5 + 5).as("hi"), col("n_items"), col("revenue"))
      .orderBy("bucket")

  def histQuantitySql: String =
    """SELECT bucket, bucket * 5 + 1 AS lo, bucket * 5 + 5 AS hi,
      |  COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM (SELECT CAST(floor((l_quantity - 1) / 5) AS INT) AS bucket,
      |        l_extendedprice, l_discount
      |      FROM lineitem)
      |GROUP BY bucket ORDER BY bucket""".stripMargin

  /** Log₂-bucketed (HDR-style) histogram of order totals — the
    * long-tailed-metric profile [[histQuantity]]'s equi-width buckets
    * can't give (prices span decades of magnitude; equi-width puts
    * 99% of rows in bucket 0). Bucket = bit length of
    * floor(price) — integer arithmetic end to end (Spark `conv` /
    * DuckDB `printf('%b')` both render binary without leading
    * zeros), so the two engines agree exactly with no float log2
    * boundary flakiness. Same single-pass map-side-combine shape as
    * [[histQuantity]]: ≤64 possible buckets. */
  def logBuckets(spark: SparkSession, d: String): DataFrame =
    Tables.orders(spark, d)
      .select(col("o_totalprice").as("p"),
        length(conv(floor(col("o_totalprice")).cast("long").cast("string"),
          10, 2)).cast("long").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        round(min(col("p")), 2).as("lo"),
        round(max(col("p")), 2).as("hi"),
        dsum(col("p")).as("total"))
      .orderBy("bucket")

  def logBucketsSql: String =
    """SELECT CAST(length(printf('%b', CAST(floor(o_totalprice) AS BIGINT))) AS BIGINT)
      |    AS bucket,
      |  COUNT(*) AS n_orders,
      |  round(MIN(o_totalprice), 2) AS lo, round(MAX(o_totalprice), 2) AS hi,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
      |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin

  /** TPC-H Q6-shape revenue forecast, expressed as PURE SQL TEXT via
    * `spark.sql` over a registered temp view — the declared-query
    * proof that the engine's SQL entry path (not just the Column API)
    * carries the same plans, pushdown and decimal-exact numerics.
    * The filters reach the parquet scan exactly as in the DataFrame
    * queries (Catalyst doesn't care which front end built the plan).
    * The view name embeds the sanitized data dir PLUS a short hash of
    * the raw path — sanitization alone maps distinct dirs differing
    * only in non-alphanumerics (`a-b` vs `a_b`) onto one slot, which
    * would reintroduce the concurrent-runs race the naming exists to
    * prevent. */
  def q6Forecast(spark: SparkSession, d: String): DataFrame = {
    val view = "lineitem_" + d.replaceAll("[^A-Za-z0-9]", "_") +
      "_" + java.lang.Long.toHexString(
        java.security.MessageDigest.getInstance("MD5").digest(
          d.getBytes("UTF-8")).take(8).foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL)))
    Tables.lineitem(spark, d).createOrReplaceTempView(view)
    spark.sql(
      s"""SELECT round(CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE), 6) AS revenue,
         |  COUNT(*) AS n_items
         |FROM $view
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |  AND l_shipdate <  TIMESTAMP '1997-01-01'
         |  AND l_discount BETWEEN 0.05 AND 0.07
         |  AND l_quantity < 24""".stripMargin)
  }

  def q6ForecastSql: String =
    """SELECT round(CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE), 6) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate <  TIMESTAMP '1997-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin

  /** Pearson correlation per group, built from decimal-exact moments
    * (Σx, Σy, Σxy, Σx², Σy²) instead of the built-in corr() — the
    * built-ins use engine-specific update formulas (Welford vs naive)
    * that drift in the last ulps; exact moments cast to double give
    * bit-identical results on both engines. */
  def corrQtyPrice(spark: SparkSession, d: String): DataFrame = {
    def m(c: org.apache.spark.sql.Column) = sum(c.cast("decimal(28,6)")).cast("double")
    Tables.lineitem(spark, d)
      .groupBy("l_returnflag")
      .agg(
        count("*").cast("double").as("n"),
        m(col("l_quantity")).as("sx"),
        m(col("l_extendedprice")).as("sy"),
        m(col("l_quantity") * col("l_extendedprice")).as("sxy"),
        m(col("l_quantity") * col("l_quantity")).as("sxx"),
        m(col("l_extendedprice") * col("l_extendedprice")).as("syy"))
      .select(col("l_returnflag"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 9).as("corr_qty_price"),
        col("n").cast("long").as("n_rows"))
      .orderBy("l_returnflag")
  }

  def corrQtyPriceSql: String =
    """WITH moments AS (
      |  SELECT l_returnflag,
      |    CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS syy
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag,
      |  round((n * sxy - sx * sy) /
      |        (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 9) AS corr_qty_price,
      |  CAST(n AS BIGINT) AS n_rows
      |FROM moments ORDER BY l_returnflag""".stripMargin

  /** Data validation: constraint-violation counts over the fact
    * table — the ingest-gate operator every training pipeline runs
    * before accepting a batch. One scan, conditional sums. */
  def validateLineitem(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d).agg(
      count("*").as("n_rows"),
      sum(when(col("l_quantity") <= 0, 1).otherwise(0)).as("bad_quantity"),
      sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1).otherwise(0)).as("bad_discount"),
      sum(when(col("l_tax") < 0, 1).otherwise(0)).as("bad_tax"),
      sum(when(col("l_extendedprice") <= 0, 1).otherwise(0)).as("bad_price"),
      sum(when(col("l_shipdate").isNull, 1).otherwise(0)).as("null_shipdate"),
      sum(when(col("l_orderkey").isNull, 1).otherwise(0)).as("null_orderkey"))

  def validateLineitemSql: String =
    """SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS bad_quantity,
      |  CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT) AS bad_discount,
      |  CAST(SUM(CASE WHEN l_tax < 0 THEN 1 ELSE 0 END) AS BIGINT) AS bad_tax,
      |  CAST(SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS bad_price,
      |  CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_shipdate,
      |  CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_orderkey
      |FROM lineitem""".stripMargin

  /** Referential-integrity audit across every FK edge of the star
    * schema: orphan counts per relationship (child keys with no
    * parent), one row per edge — the data-quality companion to
    * [[validateLineitem]]'s value constraints. Each edge is a
    * LEFT ANTI join counted: the fact side streams once per edge,
    * dimension key sets broadcast (customer/part/supplier are
    * broadcast-sized at any SF; orders⋈lineitem is the one
    * fact⋈fact anti-join and shuffles on the key). At 100 TB this
    * report is the ingest gate that catches a partial dimension
    * load before a day of joins silently drops rows. */
  def validateFk(spark: SparkSession, d: String): DataFrame = {
    def orphans(name: String, child: DataFrame, childKey: String,
        parent: DataFrame, parentKey: String, bcast: Boolean): DataFrame = {
      val p = parent.select(col(parentKey).as(childKey)).distinct()
      child.select(col(childKey))
        .join(if (bcast) broadcast(p) else p, Seq(childKey), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
        .select(lit(name).as("fk_edge"), col("n_orphans"))
    }
    val l = Tables.lineitem(spark, d)
    val o = Tables.orders(spark, d)
    orphans("lineitem.orderkey->orders", l, "l_orderkey",
        o, "o_orderkey", bcast = false)
      .unionAll(orphans("lineitem.partkey->part", l, "l_partkey",
        Tables.part(spark, d), "p_partkey", bcast = true))
      .unionAll(orphans("lineitem.suppkey->supplier", l, "l_suppkey",
        Tables.supplier(spark, d), "s_suppkey", bcast = true))
      .unionAll(orphans("orders.custkey->customer", o, "o_custkey",
        Tables.customer(spark, d), "c_custkey", bcast = true))
      .unionAll(orphans("customer.nationkey->nation",
        Tables.customer(spark, d), "c_nationkey",
        Tables.nation(spark, d), "n_nationkey", bcast = true))
      .orderBy("fk_edge")
  }

  def validateFkSql: String =
    """SELECT * FROM (
      |  SELECT 'lineitem.orderkey->orders' AS fk_edge,
      |    (SELECT COUNT(*) FROM lineitem l LEFT JOIN orders o
      |      ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL) AS n_orphans
      |  UNION ALL SELECT 'lineitem.partkey->part',
      |    (SELECT COUNT(*) FROM lineitem l LEFT JOIN part p
      |      ON l.l_partkey = p.p_partkey WHERE p.p_partkey IS NULL)
      |  UNION ALL SELECT 'lineitem.suppkey->supplier',
      |    (SELECT COUNT(*) FROM lineitem l LEFT JOIN supplier s
      |      ON l.l_suppkey = s.s_suppkey WHERE s.s_suppkey IS NULL)
      |  UNION ALL SELECT 'orders.custkey->customer',
      |    (SELECT COUNT(*) FROM orders o LEFT JOIN customer c
      |      ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL)
      |  UNION ALL SELECT 'customer.nationkey->nation',
      |    (SELECT COUNT(*) FROM customer c LEFT JOIN nation n
      |      ON c.c_nationkey = n.n_nationkey WHERE n.n_nationkey IS NULL))
      |ORDER BY fk_edge""".stripMargin

  /** Exact percentiles (sort-based `percentile`, linear interpolation
    * — the same definition as DuckDB's quantile_cont) + an
    * approx_percentile cross-check exercised in ScalaTest only
    * (sketch internals differ per engine). */
  def percentiles(spark: SparkSession, d: String): DataFrame =
    Tables.orders(spark, d)
      .groupBy("o_orderpriority")
      .agg(
        expr("percentile(o_totalprice, 0.5)").as("median_price"),
        expr("percentile(o_totalprice, 0.95)").as("p95_price"))
      .orderBy("o_orderpriority")

  def percentilesSql: String =
    """SELECT o_orderpriority,
      |  quantile_cont(o_totalprice, 0.5) AS median_price,
      |  quantile_cont(o_totalprice, 0.95) AS p95_price
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Equi-DEPTH histogram — the quantile-bucketed companion to
    * [[histQuantity]]'s equi-width profile: 8 buckets holding equal
    * row counts, built the way it scales — exact percentile cutpoints
    * from ONE aggregate (a 7-double row), broadcast back, each row
    * bucketed by counting cutpoints strictly below it (ties go left).
    * No `ntile`: an unpartitioned ranking window is a global sort of
    * the corpus, while the cutpoint join is a map-side broadcast +
    * one re-aggregate onto 8 keys. Cutpoints are interpolated doubles
    * computed from identical exact inputs in both engines
    * (agg_percentiles pins percentile ≡ quantile_cont) and then
    * rounded to 9 decimals BEFORE the comparison bucketing — the
    * repo's standard cross-engine float recipe: a last-ulp divergence
    * in the two interpolation arithmetics would otherwise flip the
    * bucket of any value landing between the two cutpoint versions. */
  def equidepthPrice(spark: SparkSession, d: String): DataFrame = {
    val cuts = Tables.orders(spark, d)
      .agg(expr(
        "transform(percentile(o_totalprice, array(0.125,0.25,0.375,0.5,0.625,0.75,0.875)), x -> round(x, 9))")
        .as("c"))
    Tables.orders(spark, d).crossJoin(broadcast(cuts))
      .select((size(filter(col("c"), x => x < col("o_totalprice"))) + 1)
        .cast("long").as("bucket"), col("o_totalprice"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        round(min(col("o_totalprice")), 2).as("lo"),
        round(max(col("o_totalprice")), 2).as("hi"))
      .orderBy("bucket")
  }

  def equidepthPriceSql: String =
    """WITH cuts AS (
      |  SELECT list_transform(quantile_cont(o_totalprice,
      |    [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]),
      |    x -> round(x, 9)) AS c FROM orders)
      |SELECT CAST(1 + len(list_filter(cuts.c, x -> x < o_totalprice)) AS BIGINT) AS bucket,
      |  COUNT(*) AS n_orders,
      |  round(MIN(o_totalprice), 2) AS lo,
      |  round(MAX(o_totalprice), 2) AS hi
      |FROM orders, cuts GROUP BY 1 ORDER BY bucket""".stripMargin

  /** Approximate sketches — HLL++ distinct counts and quantile
    * sketches, scored against their exact companions IN the query:
    * the output carries the exact answers plus within-bound flags
    * (|approx-exact|/exact ≤ 15% resp. 5%). Sketch internals are
    * engine-specific, so the DuckDB oracle recomputes the exact
    * columns and asserts the flags TRUE — a sketch drifting out of
    * bound is a hash mismatch, which makes this approximate operator
    * driver-scored (SketchSpec additionally bounds the raw values).
    * At 100 TB the sketches replace their exact companions: HLL state
    * is KBs per group vs a full distinct shuffle. */
  def approxSketches(spark: SparkSession, d: String): DataFrame =
    Tables.orders(spark, d)
      .groupBy("o_orderpriority")
      .agg(
        countDistinct(col("o_custkey")).as("exact_customers"),
        expr("percentile(o_totalprice, 0.5)").as("exact_median"),
        approx_count_distinct(col("o_custkey")).as("__hll"),
        expr("approx_percentile(o_totalprice, 0.5, 1000)").as("__amed"))
      // bounds = 3σ of the sketch parameters (HLL default rsd 5% →
      // 15%; measured errors sit at ≤ 9.7% / ≤ 0.2%) — tight enough to
      // catch a broken sketch, wide enough that the flag can't flake
      .select(col("o_orderpriority"), col("exact_customers"), col("exact_median"),
        (abs(col("__hll") - col("exact_customers")).cast("double")
          / col("exact_customers") <= 0.15).as("hll_within_15pct"),
        (abs(col("__amed") - col("exact_median"))
          / col("exact_median") <= 0.05).as("median_within_5pct"))
      .orderBy("o_orderpriority")

  def approxSketchesSql: String =
    """SELECT o_orderpriority,
      |  COUNT(DISTINCT o_custkey) AS exact_customers,
      |  quantile_cont(o_totalprice, 0.5) AS exact_median,
      |  TRUE AS hll_within_15pct,
      |  TRUE AS median_within_5pct
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Scalar-function surface: date (year/month/date_trunc), math
    * (revenue expression), string (concat/substr), conditional
    * (CASE WHEN) — monthly order rollup. */
  def monthlyOrders(spark: SparkSession, d: String): DataFrame =
    Tables.orders(spark, d)
      .select(
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        col("o_totalprice"),
        when(col("o_totalprice") > 200000, "big")
          .when(col("o_totalprice") > 100000, "mid")
          .otherwise("small").as("bucket"))
      .groupBy("yr", "mo", "bucket")
      .agg(count("*").as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("yr", "mo", "bucket")

  def monthlyOrdersSql: String =
    """SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
      |  CASE WHEN o_totalprice > 200000 THEN 'big'
      |       WHEN o_totalprice > 100000 THEN 'mid'
      |       ELSE 'small' END AS bucket,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
      |FROM orders GROUP BY 1, 2, 3 ORDER BY yr, mo, bucket""".stripMargin

  /** Top-k with deterministic tie-break (orderBy + limit → Spark
    * TakeOrderedAndProject: O(k) memory, no global sort). */
  def topOrders(spark: SparkSession, d: String): DataFrame =
    Tables.orders(spark, d)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(25)

  def topOrdersSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin

  /** Set operations: union / intersect / except over customer keys by
    * segment, tagged so one result exercises all three. */
  def setOpsSegments(spark: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(spark, d)
    val big = c.filter(col("c_acctbal") > 5000).select(col("c_custkey"))
    val building = c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val both = big.intersect(building).withColumn("tag", lit("both"))
    val onlyBig = big.except(building).withColumn("tag", lit("rich_only"))
    val either = big.union(building).distinct().withColumn("tag", lit("either"))
    both.union(onlyBig).union(either).orderBy("tag", "c_custkey")
  }

  def setOpsSegmentsSql: String =
    """WITH big AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000),
      |     building AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      |SELECT c_custkey, 'both' AS tag FROM (SELECT * FROM big INTERSECT SELECT * FROM building)
      |UNION ALL
      |SELECT c_custkey, 'rich_only' AS tag FROM (SELECT * FROM big EXCEPT SELECT * FROM building)
      |UNION ALL
      |SELECT DISTINCT c_custkey, 'either' AS tag FROM (SELECT * FROM big UNION SELECT * FROM building)
      |ORDER BY tag, c_custkey""".stripMargin

  /** Rollup (grouping sets) over the region→nation hierarchy. */
  def rollupRevenue(spark: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(spark, d)
    val s = Tables.supplier(spark, d)
    val n = Tables.nation(spark, d)
    val r = Tables.region(spark, d)
    l.join(broadcast(s), l("l_suppkey") === s("s_suppkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count("*").as("n_items"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
  }

  def rollupRevenueSql: String =
    """SELECT r_name, n_name, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)
      |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin

  /** Full-outer join: per-nation customer vs supplier presence,
    * including nations with only one side (null-coalesced). */
  def fullOuterNation(spark: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(spark, d).groupBy(col("c_nationkey").as("nationkey"))
      .agg(count("*").as("n_customers"))
    val s = Tables.supplier(spark, d).groupBy(col("s_nationkey").as("nationkey"))
      .agg(count("*").as("n_suppliers"))
    c.join(s, Seq("nationkey"), "full_outer")
      .select(col("nationkey"),
        coalesce(col("n_customers"), lit(0L)).as("n_customers"),
        coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
      .orderBy("nationkey")
  }

  def fullOuterNationSql: String =
    """WITH c AS (SELECT c_nationkey AS nationkey, COUNT(*) AS n_customers
      |           FROM customer GROUP BY 1),
      |     s AS (SELECT s_nationkey AS nationkey, COUNT(*) AS n_suppliers
      |           FROM supplier GROUP BY 1)
      |SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
      |  COALESCE(n_customers, 0) AS n_customers,
      |  COALESCE(n_suppliers, 0) AS n_suppliers
      |FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
      |ORDER BY nationkey""".stripMargin

  /** Pivot: yearly order totals spread across order-status columns.
    * DuckDB mirror uses conditional aggregation (the portable pivot
    * form), which is also exactly what Spark's pivot lowers to. */
  def pivotStatus(spark: SparkSession, d: String): DataFrame =
    Tables.orders(spark, d)
      .groupBy(year(col("o_orderdate")).as("yr"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(dsum(col("o_totalprice")))
      .select(col("yr"),
        coalesce(col("F"), lit(0.0)).as("total_f"),
        coalesce(col("O"), lit(0.0)).as("total_o"),
        coalesce(col("P"), lit(0.0)).as("total_p"))
      .orderBy("yr")

  def pivotStatusSql: String =
    """SELECT year(o_orderdate) AS yr,
      |  COALESCE(CAST(SUM(CAST(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END AS DECIMAL(18,6))) AS DOUBLE), 0.0) AS total_f,
      |  COALESCE(CAST(SUM(CAST(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END AS DECIMAL(18,6))) AS DOUBLE), 0.0) AS total_o,
      |  COALESCE(CAST(SUM(CAST(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END AS DECIMAL(18,6))) AS DOUBLE), 0.0) AS total_p
      |FROM orders GROUP BY 1 ORDER BY yr""".stripMargin

  /** Window functions over the fact table: per-customer order ranking
    * + running spend (one shuffle on the partition key). */
  def windowOrderRank(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, d)
      .select(
        col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).as("order_seq"),
        sum(col("o_totalprice").cast("decimal(18,6)")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("running_spend"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"))
      .orderBy("o_custkey", "order_seq")
  }

  def windowOrderRankSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice,
      |  ROW_NUMBER() OVER w AS order_seq,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER
      |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
      |  LAG(o_totalprice, 1) OVER w AS prev_price
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, order_seq""".stripMargin

  /** CUBE over (region, return flag) with an explicit grouping_id
    * face — completes the grouping-set family next to
    * [[rollupRevenue]]. Same scale shape: all three dims broadcast,
    * the fact shuffles once for the expanded grouping (Spark expands
    * CUBE into a single Expand + hash aggregate, not 4 scans).
    * grouping_id bit order (first grouping column = MSB) matches the
    * SQL-standard GROUPING(a, b) the oracle uses. */
  def cubeRevenue(spark: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(spark, d)
    val s = Tables.supplier(spark, d)
    val n = Tables.nation(spark, d)
    val r = Tables.region(spark, d)
    l.join(broadcast(s), l("l_suppkey") === s("s_suppkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .cube(col("r_name"), col("l_returnflag"))
      .agg(grouping_id().cast("long").as("gid"),
        count("*").as("n_items"),
        dsum(col("l_extendedprice")).as("revenue"))
      .orderBy(col("gid"),
        col("r_name").asc_nulls_first, col("l_returnflag").asc_nulls_first)
  }

  def cubeRevenueSql: String =
    """SELECT r_name, l_returnflag,
      |  CAST(GROUPING(r_name, l_returnflag) AS BIGINT) AS gid,
      |  COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY CUBE (r_name, l_returnflag)
      |ORDER BY gid, r_name ASC NULLS FIRST, l_returnflag ASC NULLS FIRST""".stripMargin

  /** Wide → long via Dataset.unpivot (the melt face, inverse of
    * [[pivotStatus]]): per-returnflag totals unpivoted to
    * (flag, metric, value) rows. The unpivot itself is a zero-shuffle
    * per-row Expand over the already-aggregated frame, so at scale its
    * cost is the upstream aggregate, never the reshape. */
  def unpivotRevenue(spark: SparkSession, d: String): DataFrame = {
    val agg = Tables.lineitem(spark, d)
      .groupBy(col("l_returnflag"))
      .agg(dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"),
        count("*").cast("double").as("n_items"))
    agg.unpivot(
      Array(col("l_returnflag")),
      Array(col("sum_qty"), col("sum_price"), col("n_items")),
      "metric", "value")
      .orderBy("l_returnflag", "metric")
  }

  // Oracle deliberately spells the reshape as UNION ALL (the portable
  // relational expansion), not DuckDB's UNPIVOT sugar — independent
  // expression of the same semantics.
  def unpivotRevenueSql: String =
    """WITH agg AS (
      |  SELECT l_returnflag,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price,
      |    CAST(COUNT(*) AS DOUBLE) AS n_items
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM agg
      |UNION ALL
      |SELECT l_returnflag, 'sum_price' AS metric, sum_price AS value FROM agg
      |UNION ALL
      |SELECT l_returnflag, 'n_items' AS metric, n_items AS value FROM agg
      |ORDER BY l_returnflag, metric""".stripMargin

  /** Per-group mode (most frequent order status per priority) with a
    * DETERMINISTIC tie-break (higher count, then lexicographically
    * smallest value) — built-in `mode()` is tie-arbitrary, which can
    * never sit under a hash gate. Two shuffles: count per (group,
    * value), then a tiny window over the distinct pairs — the window
    * input is |groups|×|values|, already reduced, so the rank never
    * sees fact-table cardinality. */
  def modeOrderStatus(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.orders(spark, d)
      .groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count("*").as("cnt"))
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("cnt").desc, col("o_orderstatus"))
    counts.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("o_orderpriority"),
        col("o_orderstatus").as("mode_status"), col("cnt").as("mode_n"))
      .orderBy("o_orderpriority")
  }

  def modeOrderStatusSql: String =
    """WITH counts AS (
      |  SELECT o_orderpriority, o_orderstatus, COUNT(*) AS cnt
      |  FROM orders GROUP BY 1, 2),
      |ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
      |    ORDER BY cnt DESC, o_orderstatus) AS rk
      |  FROM counts)
      |SELECT o_orderpriority, o_orderstatus AS mode_status, cnt AS mode_n
      |FROM ranked WHERE rk = 1 ORDER BY o_orderpriority""".stripMargin

  /** Distribution window functions over per-customer spend: quartile
    * (ntile), percent_rank, cume_dist, and first/last order price per
    * customer — the remaining window family next to
    * [[windowOrderRank]]'s ranking/offset functions. One shuffle on
    * the partition key; the frame for last_value is pinned to the
    * FULL partition (the default running frame silently returns the
    * current row). */
  def windowNtile(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(spark, d)
      .select(col("o_custkey"), col("o_orderkey"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 9).as("pct_rank"),
        round(cume_dist().over(w), 9).as("cum_dist"),
        first(col("o_totalprice")).over(full).as("first_price"),
        last(col("o_totalprice")).over(full).as("last_price"))
      .orderBy("o_custkey", "o_orderkey")
  }

  def windowNtileSql: String =
    """SELECT o_custkey, o_orderkey,
      |  NTILE(4) OVER w AS quartile,
      |  round(PERCENT_RANK() OVER w, 9) AS pct_rank,
      |  round(CUME_DIST() OVER w, 9) AS cum_dist,
      |  FIRST_VALUE(o_totalprice) OVER wf AS first_price,
      |  LAST_VALUE(o_totalprice) OVER wf AS last_price
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
      |  wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Inter-order gaps via `lag` — the offset-function slot of the
    * window family ([[windowOrderRank]] ranks, [[windowNtile]]
    * distributes; this one reaches BACK a row). Per customer, each
    * order's days-since-previous-order (lag over (custkey, date,
    * orderkey) — the key tiebreak makes equal-date neighbors
    * deterministic), then rolled up per market segment: purchase
    * cadence per segment. Scale: one shuffle on o_custkey for the
    * window, map-side-combined re-aggregation onto the tiny segment
    * key, customer dimension attaches broadcast. Average goes through
    * decimal sum ÷ count so both engines divide identical exact
    * inputs. */
  def windowLagGap(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val gaps = Tables.orders(spark, d)
      .select(col("o_custkey"),
        datediff(col("o_orderdate").cast("date"),
          lag(col("o_orderdate").cast("date"), 1).over(w)).as("gap_days"))
      .where(col("gap_days").isNotNull)
    gaps.join(broadcast(Tables.customer(spark, d)),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap_days").cast("long")).as("sum_gap_days"),
        round(sum(col("gap_days").cast("decimal(18,6)")).cast("double") /
          count(lit(1)), 9).as("avg_gap_days"),
        max(col("gap_days")).cast("long").as("max_gap_days"))
      .orderBy("c_mktsegment")
  }

  def windowLagGapSql: String =
    """WITH g AS (
      |  SELECT o_custkey,
      |    datediff('day',
      |      lag(CAST(o_orderdate AS DATE)) OVER
      |        (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
      |      CAST(o_orderdate AS DATE)) AS gap_days
      |  FROM orders)
      |SELECT c_mktsegment, COUNT(*) AS n_gaps,
      |  CAST(SUM(gap_days) AS BIGINT) AS sum_gap_days,
      |  round(CAST(SUM(CAST(gap_days AS DECIMAL(18,6))) AS DOUBLE)
      |    / COUNT(*), 9) AS avg_gap_days,
      |  CAST(MAX(gap_days) AS BIGINT) AS max_gap_days
      |FROM g JOIN customer ON o_custkey = c_custkey
      |WHERE gap_days IS NOT NULL
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** TPC-H Q9 shape — "product-type profit": revenue of parts matching
    * a name pattern, attributed to the SUPPLIER's nation per order
    * year. The four-way star join in the right order for 100 TB: the
    * two filtered/dimension sides (part name-LIKE-pruned, supplier ⋈
    * broadcast nation) broadcast onto lineitem — the fact table never
    * shuffles for them — and the one genuinely big⋈big edge
    * (lineitem ⋈ orders for the year) is the single key shuffle.
    * The LIKE filter lands on the part SCAN (pushdown), so the
    * broadcast side is the filtered remnant, not the full dim. */
  def q9Profit(spark: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(spark, d)
    val p = Tables.part(spark, d).where(col("p_name").like("%red%"))
    val s = Tables.supplier(spark, d)
      .join(broadcast(Tables.nation(spark, d)),
        col("s_nationkey") === col("n_nationkey"))
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("yr"))
      .agg(count(lit(1)).as("n_items"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("profit"))
      .orderBy(col("nation"), col("yr").desc)
  }

  def q9ProfitSql: String =
    """SELECT n_name AS nation, year(o_orderdate) AS yr, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS profit
      |FROM lineitem
      |JOIN part ON p_partkey = l_partkey
      |JOIN supplier ON s_suppkey = l_suppkey
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE p_name LIKE '%red%'
      |GROUP BY 1, 2 ORDER BY nation, yr DESC""".stripMargin

  /** TPC-H Q10 shape — "returned-item customers": revenue of
    * return-flagged lineitems per customer, top 20. Scale posture:
    * the `l_returnflag = 'R'` filter reaches the parquet scan
    * (~25% selectivity BEFORE any join), lineitem ⋈ orders shuffles
    * on the order key, the result re-keys once onto custkey for the
    * customer join (customer is corpus-proportional — NO broadcast
    * hint; AQE may still elect one at small SF, which is exactly the
    * decision being delegated), nation attaches broadcast, and the
    * final top-20 is TakeOrderedAndProject — per-partition heaps +
    * one 20-row driver merge, never a global sort. */
  def q10Returned(spark: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(spark, d).where(col("l_returnflag") === "R")
    li.join(Tables.orders(spark, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, d)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  def q10ReturnedSql: String =
    """SELECT c_custkey, c_name, n_name,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |GROUP BY 1, 2, 3
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  /** TPC-H Q13 shape — "customer order-count distribution": how many
    * customers placed exactly N orders, INCLUDING the zero-order tail
    * (LEFT OUTER join — an inner join silently drops the most
    * interesting bucket). Two-level aggregation: the first groupBy
    * rides the same custkey hash as the outer join (no extra
    * exchange); the second collapses onto the tiny c_count key space
    * with map-side combine, so the distribution costs one real
    * shuffle of orders however large the corpus. */
  def q13CountDist(spark: SparkSession, d: String): DataFrame = {
    val perCust = Tables.customer(spark, d)
      .join(Tables.orders(spark, d),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
    perCust.groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  def q13CountDistSql: String =
    """WITH c_orders AS (
      |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
      |  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
      |  GROUP BY c_custkey)
      |SELECT c_count, COUNT(*) AS custdist
      |FROM c_orders GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** TPC-H Q19 shape — "disjunctive-predicate revenue": three OR'd
    * (brand × quantity-range × size-range) clauses per brand. The
    * scale point is what a smart user must do by hand: the raw
    * disjunction straddles both tables, so Catalyst can't push any of
    * it to either scan — but its brand/size projection onto the part
    * side (`p_brand IN (...) AND p_size BETWEEN lo∪hi`) is implied,
    * and writing it explicitly prunes part BEFORE the broadcast while
    * the full disjunction stays as the post-join residual. Per-brand
    * output keeps the result a distribution, not one opaque row. */
  def q19Disjunct(spark: SparkSession, d: String): DataFrame = {
    val p = Tables.part(spark, d)
      .where(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3") &&
        col("p_size").between(1, 15))
    val li = Tables.lineitem(spark, d)
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .where(
        (col("p_brand") === "Brand#1" && col("l_quantity").between(1, 11) &&
          col("p_size").between(1, 5)) ||
        (col("p_brand") === "Brand#2" && col("l_quantity").between(10, 20) &&
          col("p_size").between(1, 10)) ||
        (col("p_brand") === "Brand#3" && col("l_quantity").between(20, 30) &&
          col("p_size").between(1, 15)))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy("p_brand")
  }

  def q19DisjunctSql: String =
    """SELECT p_brand, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
      |   OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
      |   OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  /** TPC-H Q18 shape (large-volume customers): aggregate the fact
    * table, filter on the aggregate (HAVING), then join the surviving
    * ~0.1% of keys BACK to orders+customer. Scale posture: the heavy
    * aggregate rides one shuffle of lineitem; the having-filtered key
    * set is tiny, so the join back to orders is a broadcast of the
    * AGGREGATE side (hinted — the filtered agg's stats under-estimate
    * without it at real scale), and customer attaches broadcast as
    * usual. The fact table is never shuffled for either join. */
  def q18LargeVolume(spark: SparkSession, d: String): DataFrame = {
    val bigOrders = Tables.lineitem(spark, d)
      .groupBy(col("l_orderkey"))
      .agg(dsum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 300)
    val o = Tables.orders(spark, d)
    val c = Tables.customer(spark, d)
    o.join(broadcast(bigOrders), o("o_orderkey") === bigOrders("l_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .select(col("c_name"), col("o_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
  }

  def q18LargeVolumeSql: String =
    """WITH big AS (
      |  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
      |  FROM lineitem GROUP BY 1
      |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,6))) > 300)
      |SELECT c_name, o_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
      |FROM orders
      |JOIN big ON o_orderkey = big.l_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_totalprice DESC, o_orderkey""".stripMargin

  /** 2-D skyline (Pareto frontier) of orders on (recency, price) —
    * the maximal-vector operator relational engines ship as SKYLINE
    * and Spark lacks natively: an order survives iff no other order
    * is at least as recent AND at least as expensive with one strict.
    *
    * Shape chosen the hard way: the textbook per-row window form
    * (`MAX(p) OVER (ORDER BY dms RANGE 1 FOLLOWING..∞)`) is
    * quadratic IN SPARK — an unbounded-FOLLOWING range frame
    * re-scans its frame for every row (91 s on 150k orders in one
    * scan partition, measured r12). The scalable identity: dominance
    * only ever needs per-DATE maxima, so (1) aggregate max(p) per
    * date — one map-side-combined shuffle onto calendar-bounded
    * keys; (2) one O(|dates|) running max over the per-date table
    * sorted date-desc (a ROWS frame — streaming, not re-scanning;
    * unpartitioned but over DATES, which grow with years, not data);
    * (3) join each order back to its date row (calendar-bounded
    * broadcast) and keep rows with p > strictly-later-max and
    * p = own-date max (ties on the frontier survive — neither
    * strictly dominates). The result is partitioning-invariant by
    * construction (PlanSpec proves it on a crafted frontier).
    * Prices compare as exact decimals; the emitted double is a cast
    * of the stored value. */
  def skylineOrders(spark: SparkSession, d: String): DataFrame =
    skylineOn(Tables.orders(spark, d)
      .select(col("o_orderkey"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("dms"),
        col("o_totalprice").cast("decimal(18,6)").as("p")))

  /** Skyline core over (o_orderkey, dms, p) — exposed so frontier
    * correctness and partitioning invariance are testable directly. */
  private[ops] def skylineOn(o: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perDate = o.groupBy(col("dms")).agg(max(col("p")).as("dmax"))
    val wPrev = Window.orderBy(col("dms").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val dated = perDate.withColumn("later_max", max(col("dmax")).over(wPrev))
    o.join(broadcast(dated), Seq("dms"))
      .where((col("later_max").isNull || col("p") > col("later_max")) &&
        col("p") === col("dmax"))
      .select(col("o_orderkey"), col("dms").as("date_ms"),
        col("p").cast("double").as("price"))
      .orderBy(col("date_ms").desc, col("o_orderkey"))
  }

  def skylineOrdersSql: String =
    """WITH o AS (
      |  SELECT o_orderkey, epoch_ms(o_orderdate) AS dms,
      |    CAST(o_totalprice AS DECIMAL(18,6)) AS p
      |  FROM orders),
      |m AS (
      |  SELECT o_orderkey, dms, p,
      |    MAX(p) OVER (ORDER BY dms
      |      RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS later_max,
      |    MAX(p) OVER (PARTITION BY dms) AS sd_max
      |  FROM o)
      |SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
      |  CAST(dms AS BIGINT) AS date_ms, CAST(p AS DOUBLE) AS price
      |FROM m WHERE (later_max IS NULL OR p > later_max) AND p = sd_max
      |ORDER BY date_ms DESC, o_orderkey""".stripMargin

  /** Market-basket lift over order contents — association-rule mining,
    * the analytics family (frequent itemsets) the relational suite
    * lacked: for the 20 most co-purchased part pairs, support counts
    * and lift = P(a∧b) / (P(a)·P(b)) (lift ≫ 1 ⇒ genuinely bought
    * together, not just both popular). Scale shape: the basket
    * self-join is an equi-join on l_orderkey whose per-order fan-out
    * is bounded by (items per order)² — TPC-H orders hold ≤ 7 lines,
    * so the pair stream is a small constant × |lineitem| — and pair
    * counts re-aggregate map-side onto the co-purchased key space;
    * the part-marginal joins are plain equi-joins — deliberately NOT
    * broadcast-hinted, because the marginal table is CATALOG-sized
    * (TPC-H part = SF×200k rows: a forced broadcast is exactly the
    * kind of hint that dies at 100 TB), and AQE already picks a
    * broadcast at small SF from runtime stats; top-20 is TakeOrdered.
    * Lift divides exact counts once, rounded to 9. */
  def basketLift(spark: SparkSession, d: String): DataFrame = {
    // r16 opt (guide §2.3/§2.4), same rewrite as [[itemCosine]]: one
    // shuffle of lineitem by order into sorted per-order part-sets
    // (collect_set dedupes map-side — this exchange replaces the old
    // distinct + the order-keyed self-join's two sorted sides), then
    // the ≤(7 choose 2) pairs per order come from a codegen'd in-array
    // expansion instead of a join. The basket count and per-part
    // frequencies are derived from the same checkpointed set table, so
    // the old COUNT(DISTINCT l_orderkey) expand disappears too.
    // fanOut (guide §2.5): single-row-group fixture → one-task scan;
    // the collect_set partials are the whole map pass.
    val sets = fanOut(Tables.lineitem(spark, d)
        .select(col("l_orderkey"), col("l_partkey")))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .localCheckpoint(false) // read by total, freq, and the pair path
    // one row per order → the basket count is a plain count
    val total = sets.agg(count(lit(1)).cast("double").as("total"))
    // arrays are per-order sets → count over the explode = the old
    // distinct-incidence per-part frequency
    val freq = sets.select(explode(col("ps")).as("l_partkey"))
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
    // two chained codegen'd Generates — see the itemCosine pair-stage
    // comment (the nested-lambda expansion this replaces was
    // interpreted per element)
    val pairs = sets
      .select(col("ps"), posexplode(col("ps")).as(Seq("i", "pa")))
      .select(col("pa"),
        explode(slice(col("ps"), col("i") + lit(2), size(col("ps")))).as("pb"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("n_both"))
    pairs
      .join(freq.select(col("l_partkey").as("pa"), col("n").as("n_a")), Seq("pa"))
      .join(freq.select(col("l_partkey").as("pb"), col("n").as("n_b")), Seq("pb"))
      .crossJoin(broadcast(total))
      .select(col("pa"), col("pb"), col("n_both"), col("n_a"), col("n_b"),
        round(col("n_both") * col("total") /
          (col("n_a").cast("double") * col("n_b")), 9).as("lift"))
      .orderBy(col("n_both").desc, col("pa"), col("pb")).limit(20)
  }

  def basketLiftSql: String =
    """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |n_orders AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS total FROM items),
      |freq AS (SELECT l_partkey, COUNT(*) AS n FROM items GROUP BY l_partkey),
      |pairs AS (
      |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS n_both
      |  FROM items a JOIN items b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2)
      |SELECT pa, pb, CAST(n_both AS BIGINT) AS n_both,
      |  CAST(fa.n AS BIGINT) AS n_a, CAST(fb.n AS BIGINT) AS n_b,
      |  round((n_both * (SELECT total FROM n_orders)) /
      |    (CAST(fa.n AS DOUBLE) * fb.n), 9) AS lift
      |FROM pairs JOIN freq fa ON fa.l_partkey = pa JOIN freq fb ON fb.l_partkey = pb
      |ORDER BY n_both DESC, pa, pb LIMIT 20""".stripMargin

  /** RANGE-interval window frame — the VALUE-based frame the rest of
    * the window family ([[windowOrderRank]] / [[windowNtile]] /
    * [[windowLagGap]] — all ROWS or running frames) doesn't cover:
    * for every order, the same customer's order count and revenue
    * within ±30 CALENDAR days, regardless of how many rows that
    * spans. The date is projected to an integer day number because a
    * RANGE frame needs a numeric ordering key with numeric bounds
    * (both engines agree on the 1992-01-01 epoch). The 1996 output
    * filter is applied AFTER the window so frames still reach into
    * neighboring years — filter-after-window semantics, not a
    * pushed-down scan filter. Revenue sums through DECIMAL(18,6)
    * (the dsum recipe) so frame sums are order-independent. Scale:
    * one shuffle on o_custkey; each frame is bounded by a customer's
    * 61-day order density, never by table size. */
  def windowRangeDays(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("d"))
      .rangeBetween(-30, 30)
    Tables.orders(spark, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        datediff(col("o_orderdate").cast("date"), lit("1992-01-01").cast("date")).as("d"),
        col("o_totalprice"))
      .withColumn("win_cnt", count(lit(1)).over(w))
      .withColumn("win_rev",
        sum(col("o_totalprice").cast("decimal(18,6)")).over(w).cast("double"))
      .where(year(col("o_orderdate")) === 1996)
      .select(col("o_orderkey"), col("o_custkey"), col("win_cnt"), col("win_rev"))
      .orderBy("o_orderkey")
  }

  def windowRangeDaysSql: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_custkey, o_orderdate,
      |    datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS d,
      |    o_totalprice
      |  FROM orders),
      |win AS (
      |  SELECT o_orderkey, o_custkey, o_orderdate,
      |    COUNT(*) OVER w AS win_cnt,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER w AS DOUBLE) AS win_rev
      |  FROM base
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY d
      |               RANGE BETWEEN 30 PRECEDING AND 30 FOLLOWING))
      |SELECT o_orderkey, o_custkey, win_cnt, win_rev
      |FROM win WHERE year(o_orderdate) = 1996 ORDER BY o_orderkey""".stripMargin

  /** Moving ORDER-STATISTIC window — a 7-day trailing median of daily
    * revenue. Spark has no native `median` window function, so the
    * frame's values ride `collect_list` → `sort_array` →
    * `element_at`, entirely codegen'd builtins (no UDF): an odd frame
    * takes the middle element exactly, an even frame averages the two
    * middles — which is precisely DuckDB's interpolating median at
    * the 0.5 quantile, and (a+b)/2 over doubles is the same double in
    * both engines. Daily revenue itself goes through the dsum decimal
    * recipe first, so the values being ranked are already exact.
    * Scale: the windowed relation is days-of-history-sized (the daily
    * pre-aggregation did the data-sized work map-side); the single
    * unpartitioned window task holds only that calendar-sized frame,
    * the [[EventOps.ewmaDaily]] stance. */
  def windowMovingMedian(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(spark, d)
      .groupBy(col("o_orderdate").cast("date").as("day"))
      .agg(dsum(col("o_totalprice")).as("rev"))
    val w = Window.orderBy(col("day")).rowsBetween(-6, 0)
    daily
      .withColumn("vals", sort_array(collect_list(col("rev")).over(w)))
      .select(col("day"), col("rev"),
        expr("""CASE WHEN size(vals) % 2 = 1
                |  THEN element_at(vals, CAST(size(vals) DIV 2 + 1 AS INT))
                |  ELSE (element_at(vals, CAST(size(vals) DIV 2 AS INT))
                |      + element_at(vals, CAST(size(vals) DIV 2 + 1 AS INT))) / 2
                |END""".stripMargin).as("med7"))
      .orderBy("day")
  }

  /** Higher statistical moments — population variance, skewness, and
    * Pearson (non-excess) kurtosis of l_quantity per return flag —
    * from EXACT integer power sums: l_quantity is whole-valued (cast
    * to BIGINT faults loudly if that ever breaks under ANSI), so
    * Σx, Σx², Σx³, Σx⁴ accumulate in DECIMAL(38,0) with zero rounding
    * at ANY corpus size (x ≤ 50 ⇒ x⁴ ≤ 6.25e6; 10³¹ rows of headroom)
    * and in any aggregation order — the one-pass,
    * shuffle-light alternative to a sort-based two-pass moment
    * computation. Each exact sum is cast to double ONCE (both engines
    * round-to-nearest the same integer, hence identical bits) and the
    * moment formulas are written in the identical association order
    * cross-engine, rounded to 9. Plan: one map-side-combined
    * aggregate — no second pass, no window, no join. */
  def aggMoments(spark: SparkSession, d: String): DataFrame = {
    val ps = Tables.lineitem(spark, d)
      .select(col("l_returnflag").as("flag"), col("l_quantity").cast("long").as("x"))
      .groupBy(col("flag"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,0)")).as("s1"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("s2"),
        sum((col("x") * col("x") * col("x")).cast("decimal(38,0)")).as("s3"),
        sum((col("x") * col("x") * col("x") * col("x")).cast("decimal(38,0)")).as("s4"))
    ps.select(col("flag"), col("n"),
        (col("s1").cast("double") / col("n")).as("mean"),
        (col("s2").cast("double") / col("n")).as("m2r"),
        (col("s3").cast("double") / col("n")).as("m3r"),
        (col("s4").cast("double") / col("n")).as("m4r"))
      .select(col("flag"), col("n"),
        round(col("mean"), 9).as("mean"),
        round(col("m2r") - col("mean") * col("mean"), 9).as("variance"),
        round((col("m3r") - lit(3.0) * col("mean") * col("m2r")
            + lit(2.0) * col("mean") * col("mean") * col("mean"))
          / pow(col("m2r") - col("mean") * col("mean"), 1.5), 9).as("skewness"),
        round((col("m4r") - lit(4.0) * col("mean") * col("m3r")
            + lit(6.0) * col("mean") * col("mean") * col("m2r")
            - lit(3.0) * col("mean") * col("mean") * col("mean") * col("mean"))
          / pow(col("m2r") - col("mean") * col("mean"), 2.0), 9).as("kurtosis"))
      .orderBy("flag")
  }

  def aggMomentsSql: String =
    """WITH base AS (
      |  SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS x FROM lineitem),
      |ps AS (
      |  SELECT flag, COUNT(*) AS n,
      |    SUM(CAST(x AS DECIMAL(38,0))) AS s1,
      |    SUM(CAST(x*x AS DECIMAL(38,0))) AS s2,
      |    SUM(CAST(x*x*x AS DECIMAL(38,0))) AS s3,
      |    SUM(CAST(x*x*x*x AS DECIMAL(38,0))) AS s4
      |  FROM base GROUP BY flag),
      |m AS (
      |  SELECT flag, n,
      |    CAST(s1 AS DOUBLE) / n AS mean,
      |    CAST(s2 AS DOUBLE) / n AS m2r,
      |    CAST(s3 AS DOUBLE) / n AS m3r,
      |    CAST(s4 AS DOUBLE) / n AS m4r
      |  FROM ps)
      |SELECT flag, n, round(mean, 9) AS mean,
      |  round(m2r - mean * mean, 9) AS variance,
      |  round((m3r - 3.0 * mean * m2r + 2.0 * mean * mean * mean)
      |    / pow(m2r - mean * mean, 1.5), 9) AS skewness,
      |  round((m4r - 4.0 * mean * m3r + 6.0 * mean * mean * m2r
      |      - 3.0 * mean * mean * mean * mean)
      |    / pow(m2r - mean * mean, 2.0), 9) AS kurtosis
      |FROM m ORDER BY flag""".stripMargin

  def windowMovingMedianSql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS rev
      |  FROM orders GROUP BY 1)
      |SELECT day, rev,
      |  median(rev) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med7
      |FROM daily ORDER BY day""".stripMargin

  /** Granule width for the interval-join bucket decomposition: a power
    * of two so granule assignment is exact double math, sized so each
    * band spans 3 granules over the TPC-H price domain (~900..105000). */
  private val RangeGranule = 8192L
  private val RangeBands   = 13

  /** Interval (range) join via bucket decomposition — the inequality
    * join the relational suite lacked. Joins every lineitem to each
    * OVERLAPPING price band `[k·8192, (k+3)·8192)` (bands overlap 3×,
    * so this is a genuine interval join, not a bucketing CASE) and
    * aggregates count + revenue per band.
    *
    * Scale shape: a naive `lo <= p AND p < hi` theta-join is a
    * BroadcastNestedLoopJoin — every probe row tests every interval,
    * which dies when the interval table outgrows a broadcast. Instead
    * the value domain is granulated at [[RangeGranule]]: each row maps
    * to `floor(price / W)`, each band explodes into the 3 granules it
    * covers, and the join becomes a hash EQUI-join on the granule key
    * with a residual containment filter — shuffle-partitionable on
    * both sides at any interval-table size (the standard decomposition
    * Flink/Trino apply to event-interval joins). PlanSpec pins the
    * absence of a nested-loop join. Revenue sums through DECIMAL
    * ([[OpsUtil.dsum]]); band bounds are exact integer-valued doubles. */
  def rangeJoinRevenue(spark: SparkSession, d: String): DataFrame = {
    val w = RangeGranule
    val bands = spark.range(0, RangeBands.toLong)
      .select(col("id").cast("int").as("band_id"),
        (col("id") * w).cast("double").as("lo"),
        ((col("id") + 3) * w).cast("double").as("hi"))
    // granules covered by band k: k, k+1, k+2
    val bandGranules = bands.select(col("band_id"), col("lo"), col("hi"),
      explode(sequence(col("band_id").cast("long"),
        col("band_id").cast("long") + 2)).as("granule"))
    val items = Tables.lineitem(spark, d)
      .select(col("l_extendedprice"), col("l_discount"),
        floor(col("l_extendedprice") / w).cast("long").as("granule"))
    items.join(bandGranules, Seq("granule"))
      .where(col("l_extendedprice") >= col("lo") &&
        col("l_extendedprice") < col("hi"))
      .groupBy(col("band_id"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("n_items"),
        OpsUtil.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
      .orderBy(col("band_id"))
  }

  def rangeJoinRevenueSql: String =
    s"""WITH bands AS (
       |  SELECT CAST(k AS INT) AS band_id,
       |    CAST(k * $RangeGranule AS DOUBLE) AS lo,
       |    CAST((k + 3) * $RangeGranule AS DOUBLE) AS hi
       |  FROM range(0, $RangeBands) t(k))
       |SELECT band_id, lo, hi,
       |  COUNT(*) AS n_items,
       |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
       |    AS DOUBLE) AS revenue
       |FROM lineitem l JOIN bands b
       |  ON l.l_extendedprice >= b.lo AND l.l_extendedprice < b.hi
       |GROUP BY 1, 2, 3 ORDER BY band_id""".stripMargin

  /** Columns profiled by `profile_columns` — pinned so the Spark agg,
    * the long-format stack, and the DuckDB oracle enumerate the same
    * list in the same declaration order. */
  private val ProfileCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")

  /** Top-3 suppliers per nation by lineitem revenue — the rank-per-
    * group idiom (`row_number` + `rnk <= K` filter) that every
    * reporting layer runs; the global-top-N face is `top_orders`,
    * this is the grouped face.
    *
    * Scale shape: revenue aggregates FIRST (lineitem-scale shuffle
    * onto (nation, supplier) keys — supplier-catalog-sized output),
    * so the rank window runs on the aggregate, partitioned by nation
    * (never a global sort). Catalyst's WindowGroupLimit rewrites the
    * rank-filter to keep only K rows per partition BEFORE the window
    * exchange (the `sample_stratified` plan guard covers the same
    * mechanism). Revenue through DECIMAL; ranks break ties by
    * supplier id. */
  def topPerGroup(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rev = Tables.lineitem(spark, d)
      .join(Tables.supplier(spark, d).select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey").as("nation"), col("l_suppkey").as("supp"))
      .agg(OpsUtil.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
    rev.withColumn("rnk", row_number().over(
        Window.partitionBy(col("nation")).orderBy(col("revenue").desc, col("supp"))))
      .where(col("rnk") <= 3)
      .orderBy(col("nation"), col("rnk"))
  }

  def topPerGroupSql: String =
    """WITH rev AS (
      |  SELECT s.s_nationkey AS nation, l.l_suppkey AS supp,
      |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
      |      AS DOUBLE) AS revenue
      |  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |  GROUP BY 1, 2)
      |SELECT nation, supp, revenue, rnk FROM (
      |  SELECT *, row_number() OVER (PARTITION BY nation
      |    ORDER BY revenue DESC, supp) AS rnk FROM rev)
      |WHERE rnk <= 3 ORDER BY nation, rnk""".stripMargin

  /** Relative-rank windows (percent_rank + cume_dist) over per-nation
    * customer spend: for each nation's top-3 spenders, where they sit
    * in their nation's distribution — "this whale is the 98.7th
    * percentile of DE customers", the per-cohort normalization
    * [[topPerGroup]]'s absolute ranks can't express. The window ORDER
    * BY is (spend DESC, custkey), so ties rank deterministically and
    * both rank functions are replayable bit-for-bit; rank fractions
    * divide exact integers (n−1 / n denominators), rounded 9.
    *
    * Scale shape: one lineitem-sized aggregation onto customer keys,
    * then a nation-partitioned window (customers/nation rows per
    * partition — the window never sees lineitem cardinality) and a
    * rank≤3 filter. */
  def windowCume(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spend = Tables.orders(spark, d)
      .join(Tables.customer(spark, d).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nation"), col("c_custkey").as("cust"))
      .agg(OpsUtil.dsum(col("o_totalprice")).as("spend"))
    val w = Window.partitionBy(col("nation"))
      .orderBy(col("spend").desc, col("cust"))
    spend.select(col("nation"), col("cust"), col("spend"),
        row_number().over(w).as("rnk"),
        round(percent_rank().over(w), 9).as("pct_rank"),
        round(cume_dist().over(w), 9).as("cume"))
      .where(col("rnk") <= 3)
      .orderBy(col("nation"), col("rnk"))
  }

  def windowCumeSql: String =
    """WITH spend AS (
      |  SELECT c.c_nationkey AS nation, c.c_custkey AS cust,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS spend
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |  GROUP BY 1, 2)
      |SELECT nation, cust, spend, rnk, pct_rank, cume FROM (
      |  SELECT nation, cust, spend,
      |    row_number() OVER w AS rnk,
      |    round(percent_rank() OVER w, 9) AS pct_rank,
      |    round(cume_dist() OVER w, 9) AS cume
      |  FROM spend
      |  WINDOW w AS (PARTITION BY nation ORDER BY spend DESC, cust))
      |WHERE rnk <= 3 ORDER BY nation, rnk""".stripMargin

  /** Deequ-style column profiler — the data-quality pass a pipeline
    * runs before trusting a new drop: per column of `orders`, row
    * count, null count, and EXACT distinct count, in long format.
    *
    * Scale shape: ONE scan and one aggregation node for all six
    * columns — the multi-`count(DISTINCT …)` agg plans as a single
    * Expand (rows × 6) through one shuffle, not six scans (the oracle
    * unions six SELECTs; Spark must not). The long format comes from
    * exploding the 1-row wide aggregate, driver-free. At 100 TB the
    * exact distincts on key-like columns are the honest cost of a
    * profile; the sketch variant (HLL, `agg_hll_merge`) is the
    * documented swap-in when ±2 % suffices. */
  def profileColumns(spark: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(spark, d)
    val aggs = count(lit(1)).as("n_rows") +:
      ProfileCols.flatMap { c =>
        Seq(count(col(c)).as(s"nn_$c"), countDistinct(col(c)).as(s"nd_$c"))
      }
    val wide = o.agg(aggs.head, aggs.tail: _*)
    val entries = ProfileCols.map { c =>
      struct(lit(c).as("column_name"), col("n_rows"),
        (col("n_rows") - col(s"nn_$c")).as("n_null"),
        col(s"nd_$c").as("n_distinct"))
    }
    wide.select(explode(array(entries: _*)).as("e"))
      .select(col("e.column_name"), col("e.n_rows"), col("e.n_null"),
        col("e.n_distinct"))
      .orderBy(col("column_name"))
  }

  /** Item-item collaborative filtering over the customer × part
    * purchase incidence — "customers who bought X also bought Y",
    * scored by cosine over binary customer vectors
    * (co / √(n₁·n₂)); top 20 pairs with co-support ≥ 2. Customer-
    * level incidence (not order-level like `basket_lift`): the CF
    * signal is WHO buys, not what ships together in one box.
    *
    * Scale shape: the incidence distincts to (customer, part) FIRST,
    * then the pair join is a self-equi-join on customer — bounded by
    * (parts per customer)² per key, the same budget argument as
    * `basket_lift`, with the HAVING-≥2 prune applied at the pair
    * aggregate before any join. Marginals are part-catalog-sized and
    * deliberately NOT broadcast-hinted (the `basket_lift` precedent —
    * a catalog is not a dimension at 100 TB). Final top-20 is
    * TakeOrdered. Cosine divides exact integers, rounded 9. */
  def itemCosine(spark: SparkSession, d: String): DataFrame = {
    val inc = Tables.lineitem(spark, d)
      .select(col("l_orderkey"), col("l_partkey"))
      .join(Tables.orders(spark, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
    // r16 opt (guide §2.3/§2.4): the old shape was distinct → semi-join
    // prune → SELF-JOIN on cust → pair groupBy — the full incidence
    // crossed an exchange for the distinct, again for the semi-join,
    // and again (sorted, twice-canonically) for the self-join. Here
    // the incidence is shuffled by cust exactly ONCE into per-customer
    // sorted part-sets (collect_set dedupes map-side, so the exchange
    // carries partially-deduped sets, not raw rows), and the quadratic
    // pair stage is a codegen'd in-array expansion — no join. Pair
    // volume is identical (same (parts-per-customer)² bound); the
    // single-buyer prune is preserved below.
    // fanOut (guide §2.5): the incidence scan is one task on the
    // single-row-group fixture, so the collect_set partials — the
    // whole 600k-row map pass — ran on one core.
    val sets0 = fanOut(inc).groupBy(col("cust"))
      .agg(sort_array(collect_set(col("part"))).as("ps"))
      .localCheckpoint(false) // read by the marginals AND the pair path
    // marginals: n = number of customers holding the part — arrays are
    // per-cust sets, so a plain count over the explode IS the distinct
    // count (identical to the old distinct→groupBy marg).
    val marg = sets0.select(explode(col("ps")).as("part"))
      .groupBy(col("part")).agg(count(lit(1)).as("n"))
    // single-buyer items can never reach co ≥ 2 — prune them BEFORE
    // the quadratic pair stage (marginals for the cosine stay
    // unpruned, so results are identical). On a real catalog the
    // rare-item long tail is most of the volume; without the prune the
    // pair expansion would still emit their (basket-size) pairs only
    // to drop every one at the co ≥ 2 filter.
    // r17 opt (guide §2.5, bisect with COLD per-rep construction):
    // AQE coalesces the regroup's cust exchange by BYTES (the
    // per-customer sets are ~MBs → 2 partitions), handing
    // the quadratic pair expansion to 2 tasks. A localCheckpoint here
    // (the first r17 cut) makes it WORSE — it PINS the coalesced
    // 2-partition layout into the materialized RDD and pays the
    // materialization besides (full query 15.6 s ckpt vs 8.1 s bare
    // vs 5.1 s repartitioned). The right pin is an explicit
    // round-robin repartition to session parallelism: bytes-tiny,
    // compute-heavy downstream — the fanOut rationale applied to an
    // intermediate rather than a scan. Scale-adaptive by construction
    // (defaultParallelism) and partitioning-independent in result
    // (pair groupBy re-shuffles by (p1, p2)).
    val sets = sets0.select(col("cust"), explode(col("ps")).as("part"))
      .join(marg.where(col("n") >= 2).select(col("part")), Seq("part"), "left_semi")
      .groupBy(col("cust")).agg(sort_array(collect_set(col("part"))).as("ps"))
      .repartition(spark.sparkContext.defaultParallelism)
    // all ordered pairs (p1 < p2) within each sorted set, as TWO
    // chained Generates: posexplode picks p1 at 0-based index i,
    // explode(slice(ps, i+2, …)) pairs it with every later element
    // (slice is 1-based and clamps at the end). Both explodes are
    // codegen'd operators — the first cut of this stage built the
    // pairs with nested transform/slice/flatten lambdas, and that
    // interpreted O(set²) struct churn measured ~2× the whole query
    // (13.3 s vs the 7.1 s pre-rewrite record; this shape benches
    // ~4 s). Pair volume is unchanged.
    val co = sets
      .select(col("ps"), posexplode(col("ps")).as(Seq("i", "p1")))
      .select(col("p1"),
        explode(slice(col("ps"), col("i") + lit(2), size(col("ps")))).as("p2"))
      .groupBy(col("p1"), col("p2"))
      .agg(count(lit(1)).as("co"))
      .where(col("co") >= 2)
    co.join(marg.select(col("part").as("p1"), col("n").as("n1")), Seq("p1"))
      .join(marg.select(col("part").as("p2"), col("n").as("n2")), Seq("p2"))
      .select(col("p1"), col("p2"), col("co"),
        round(col("co") / sqrt(col("n1").cast("double") * col("n2")), 9)
          .as("cosine"))
      .orderBy(col("cosine").desc, col("p1"), col("p2")).limit(20)
  }

  def itemCosineSql: String =
    """WITH inc AS (
      |  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |marg AS (SELECT part, COUNT(*) AS n FROM inc GROUP BY 1),
      |co AS (
      |  SELECT a.part AS p1, b.part AS p2, COUNT(*) AS co
      |  FROM inc a JOIN inc b ON a.cust = b.cust AND a.part < b.part
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
      |SELECT p1, p2, co,
      |  round(co / sqrt(CAST(m1.n AS DOUBLE) * m2.n), 9) AS cosine
      |FROM co JOIN marg m1 ON m1.part = co.p1 JOIN marg m2 ON m2.part = co.p2
      |ORDER BY cosine DESC, p1, p2 LIMIT 20""".stripMargin

  def profileColumnsSql: String =
    ProfileCols.map { c =>
      s"""SELECT '$c' AS column_name, COUNT(*) AS n_rows,
         |  COUNT(*) - COUNT($c) AS n_null,
         |  COUNT(DISTINCT $c) AS n_distinct FROM orders""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")

  // ---------------------------------------------------------------
  // rec_als: rank-2 alternating least squares, trained in-engine
  // ---------------------------------------------------------------

  private val AlsLambda = 0.1
  private val AlsIters = 2 // full user+item rounds; oracle unrolls exactly 2

  private def alsQ6(c: org.apache.spark.sql.Column) =
    floor(c * lit(1e6) + lit(0.5)) / lit(1e6)

  /** One ALS half-step: re-solve the `outKey` side's rank-2 factors
    * against the fixed `factors` table (keyed by `joinKey`). Normal
    * equations per key are FIVE quantized sums (the 2×2 Gram matrix +
    * the 2-vector), then the closed-form regularized solve — pure
    * column arithmetic, replayed verbatim by the oracle. */
  private def alsSolve(ratings: DataFrame, factors: DataFrame,
      joinKey: String, outKey: String): DataFrame = {
    def qi(c: org.apache.spark.sql.Column) = sum(floor(c * lit(1e6) + lit(0.5)))
    // broadcast the FACTOR side (r16 opt, guide §3.1): rank-2 factors
    // are 3 numbers per entity; un-hinted, the checkpointed tables
    // have unknown stats and every half-step sort-merge-joined —
    // shuffling + sorting the RATINGS table four times per run. With
    // the hint, ratings never move: each half-step is a broadcast
    // probe + one partial-aggregated exchange of ≤|entities| rows.
    // 100 TB stance: rank-2 factors fit the 8 GB broadcast cap to
    // ~300 M entities; past that you add MLlib's in/out-block routing
    // (see recAls scaladoc) — the algebra here is unchanged by it.
    val s = ratings.join(broadcast(factors), Seq(joinKey))
      .groupBy(col(outKey))
      .agg(
        (qi(col("f1") * col("f1")).cast("double") / lit(1e6)).as("a11"),
        (qi(col("f1") * col("f2")).cast("double") / lit(1e6)).as("a12"),
        (qi(col("f2") * col("f2")).cast("double") / lit(1e6)).as("a22"),
        (qi(col("r") * col("f1")).cast("double") / lit(1e6)).as("b1"),
        (qi(col("r") * col("f2")).cast("double") / lit(1e6)).as("b2"))
    val l = lit(AlsLambda)
    val det = (col("a11") + l) * (col("a22") + l) - col("a12") * col("a12")
    s.select(col(outKey),
        alsQ6((col("b1") * (col("a22") + l) - col("b2") * col("a12")) / det)
          .as("f1"),
        alsQ6((col("b2") * (col("a11") + l) - col("b1") * col("a12")) / det)
          .as("f2"))
      .localCheckpoint(false) // bound the 4-half-step lineage (logreg stance)
  }

  /** Declared query `rec_als`: RANK-2 ALTERNATING LEAST SQUARES
    * matrix factorization trained inside the engine over the
    * customer×part purchase matrix (r = ln(1+Σqty), decimal-summed) —
    * the collaborative-filtering TRAINER to [[itemCosine]]'s
    * neighborhood scorer, and the classic Spark workload shape (ALS
    * was MLlib's flagship): [[AlsIters]] alternating rounds from a
    * deterministic hash-seeded item init, each half-step one
    * join + one grouped aggregate solving every row's 2×2 normal
    * equations in closed form. Output: matrix dimensions and the
    * training RMSE.
    *
    * Cross-engine determinism (the [[graft.ops.EventOps.logreg]]
    * discipline): every Gram/moment term floor-quantizes to an
    * integer at 1e-6 scale and sums as BIGINT (order-independent);
    * factor solves and the final RMSE are identical IEEE double
    * expressions over those exact sums, re-quantized at 1e-6 per
    * factor so drift cannot compound across rounds.
    *
    * Scale shape: factors live DISTRIBUTED keyed by their id — no
    * driver-side model, no O(users·rank) collect (contrast logreg's
    * 4-scalar gradient: here the model IS big data). A half-step is
    * shuffle-on-joinKey + shuffle-on-outKey, both linear in ratings —
    * the same movement MLlib's blocked ALS optimizes with in/out-
    * block routing tables; at 100 TB you'd add that blocking, the
    * algebra is already this. */
  def recAls(spark: SparkSession, d: String): DataFrame = {
    val ratings = Tables.lineitem(spark, d)
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      .join(Tables.orders(spark, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("cust"), col("l_partkey").as("part"))
      .agg(alsQ6(log(lit(1.0) +
        sum(col("l_quantity").cast("decimal(18,6)")).cast("double"))).as("r"))
      .localCheckpoint(false) // one ratings build feeds all half-steps
    val itemF0 = ratings.select(col("part")).distinct()
      .select(col("part"), lit(1.0).as("f1"),
        alsQ6((col("part") * lit(2654435761L) % 1000).cast("double")
          / lit(1000.0) - lit(0.5)).as("f2"))
    val (userF, itemF) = (1 to AlsIters).foldLeft((null: DataFrame, itemF0)) {
      case ((_, itF), _) =>
        val uF = alsSolve(ratings, itF, "part", "cust")
        val iF = alsSolve(ratings, uF, "cust", "part")
        (uF, iF)
    }
    val joined = ratings
      .join(broadcast(userF.select(col("cust"), col("f1").as("uf1"), col("f2").as("uf2"))),
        Seq("cust"))
      .join(broadcast(itemF.select(col("part"), col("f1").as("if1"), col("f2").as("if2"))),
        Seq("part"))
      .select(col("cust"), col("part"),
        (col("r") - ((col("uf1") * col("if1")) + (col("uf2") * col("if2"))))
          .as("resid"))
    // n_users/n_items WITHOUT countDistinct over the ratings (r16 opt):
    // the two distinct counts planned as an Expand (×3 row blowup) +
    // a (cust, part, gid)-keyed shuffle of the whole ratings table.
    // But both inner joins above are key-covering by construction —
    // userF groups the same ratings by cust, itemF by part, so every
    // rating survives and every factor row appears — hence
    // COUNT(DISTINCT cust) ≡ |userF| and COUNT(DISTINCT part) ≡
    // |itemF|: three scalar aggregates cross-joined, no Expand, no
    // wide shuffle. Oracle equivalence: identical values by the
    // covering argument; the oracle SQL keeps its COUNT(DISTINCT)
    // form and the hash gate proves the numbers match.
    joined.agg(
        count(lit(1)).as("n_ratings"),
        (floor(sqrt(sum(floor(col("resid") * col("resid") * lit(1e6) + lit(0.5)))
            .cast("double") / lit(1e6) / count(lit(1))) * lit(1e9) + lit(0.5))
          / lit(1e9)).as("rmse"))
      .crossJoin(broadcast(userF.agg(count(lit(1)).as("n_users"))))
      .crossJoin(broadcast(itemF.agg(count(lit(1)).as("n_items"))))
      .select(col("n_users"), col("n_items"), col("n_ratings"), col("rmse"))
  }

  /** DuckDB replay: the identical ratings build, hash-seeded init,
    * and [[AlsIters]] unrolled rounds of materialized solve CTEs with
    * the same quantized algebra. */
  def recAlsSql: String = {
    def q6(e: String) = s"floor(($e) * 1e6 + 0.5) / 1e6"
    def qiSum(e: String) =
      s"CAST(SUM(CAST(floor(($e) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6"
    def solve(out: String, outKey: String, inKey: String, fT: String) = {
      val det = s"((a11 + $AlsLambda) * (a22 + $AlsLambda) - a12 * a12)"
      s"""${out}_s AS MATERIALIZED (
         |  SELECT r.$outKey,
         |    ${qiSum("f.f1 * f.f1")} AS a11,
         |    ${qiSum("f.f1 * f.f2")} AS a12,
         |    ${qiSum("f.f2 * f.f2")} AS a22,
         |    ${qiSum("r.r * f.f1")} AS b1,
         |    ${qiSum("r.r * f.f2")} AS b2
         |  FROM ratings r JOIN $fT f ON r.$inKey = f.$inKey
         |  GROUP BY r.$outKey),
         |$out AS MATERIALIZED (
         |  SELECT $outKey,
         |    ${q6(s"(b1 * (a22 + $AlsLambda) - b2 * a12) / $det")} AS f1,
         |    ${q6(s"(b2 * (a11 + $AlsLambda) - b1 * a12) / $det")} AS f2
         |  FROM ${out}_s)""".stripMargin
    }
    val rounds = (1 to AlsIters).map { k =>
      val prevItem = if (k == 1) "itemF0" else s"itemF${k - 1}"
      solve(s"userF$k", "cust", "part", prevItem) + ",\n" +
        solve(s"itemF$k", "part", "cust", s"userF$k")
    }.mkString(",\n")
    s"""WITH ratings AS MATERIALIZED (
       |  SELECT o.o_custkey AS cust, l.l_partkey AS part,
       |    ${q6("ln(1.0 + CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,6))) AS DOUBLE))")} AS r
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  GROUP BY 1, 2),
       |itemF0 AS MATERIALIZED (
       |  SELECT part, CAST(1.0 AS DOUBLE) AS f1,
       |    ${q6("CAST((part * 2654435761) % 1000 AS DOUBLE) / 1000.0 - 0.5")} AS f2
       |  FROM (SELECT DISTINCT part FROM ratings)),
       |$rounds,
       |res AS (
       |  SELECT r.cust, r.part,
       |    r.r - ((u.f1 * i.f1) + (u.f2 * i.f2)) AS resid
       |  FROM ratings r
       |  JOIN userF$AlsIters u ON r.cust = u.cust
       |  JOIN itemF$AlsIters i ON r.part = i.part)
       |SELECT CAST(COUNT(DISTINCT cust) AS BIGINT) AS n_users,
       |  CAST(COUNT(DISTINCT part) AS BIGINT) AS n_items,
       |  COUNT(*) AS n_ratings,
       |  floor(sqrt(CAST(SUM(CAST(floor(resid * resid * 1e6 + 0.5) AS BIGINT))
       |      AS DOUBLE) / 1e6 / COUNT(*)) * 1e9 + 0.5) / 1e9 AS rmse
       |FROM res""".stripMargin
  }
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** TPC-H-shaped headline queries — the bench workload (SURVEY.md §6).
  *
  * These exercise multi-way joins + aggregation the way a production
  * workload would. Scale posture: dimension tables (region, nation,
  * customer, supplier) carry explicit `broadcast()` hints — at 100 TB the
  * fact tables (lineitem, orders) shuffle on their join keys once and all
  * dim joins are map-side. Revenue sums are DECIMAL for oracle exactness.
  */
object Tpch {

  import Money.dec
  private def revenue: org.apache.spark.sql.Column =
    (dec("l_extendedprice") * (lit(1).cast("decimal(18,4)") - dec("l_discount")))
      .cast("decimal(18,8)")

  /** Q3: shipping priority — join customer⋈orders⋈lineitem, top revenue. */
  def qTpch3(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).where(col("l_shipdate") > to_timestamp(lit("1995-03-15")))
      .join(
        Tables.orders(s, d).where(col("o_orderdate") < to_timestamp(lit("1995-03-15"))),
        col("l_orderkey") === col("o_orderkey"))
      .join(
        broadcast(Tables.customer(s, d).where(col("c_mktsegment") === "BUILDING")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(revenue).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)

  /** Q5: local supplier volume — 6-way join, one fact shuffle, dims broadcast. */
  def qTpch5(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d)
        .where(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
               col("o_orderdate") < to_timestamp(lit("1997-01-01"))),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.customer(s, d)),
        col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d).where(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(revenue).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))

  /** Q6: forecast revenue — selective scan, filters must push to parquet. */
  def qTpch6(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .where(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
             col("l_shipdate") < to_timestamp(lit("1997-01-01")) &&
             col("l_discount") >= 0.04 && col("l_discount") <= 0.06 &&
             col("l_quantity") < 24.0)
      .agg(sum((dec("l_extendedprice") * dec("l_discount")).cast("decimal(18,8)"))
        .cast("double").as("revenue"))

  /** Q10: returned-item report — join + group + top 20 by lost revenue. */
  def qTpch10(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).where(col("l_returnflag") === "R")
      .join(Tables.orders(s, d)
        .where(col("o_orderdate") >= to_timestamp(lit("1995-10-01")) &&
               col("o_orderdate") < to_timestamp(lit("1996-01-01"))),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(sum(revenue).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)

  /** Q14: promotion effect — selective fact scan ⋈ broadcast part dim,
    * conditional aggregate ratio. */
  def qTpch14(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .where(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
             col("l_shipdate") < to_timestamp(lit("1996-07-01")))
      .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
      .agg(round(
        sum(when(col("p_type") === "PROMO", revenue)
          .otherwise(lit(0).cast("decimal(18,8)"))).cast("double") * 100.0 /
          sum(revenue).cast("double"), 6).as("promo_revenue"))

  /** Q18: large-volume customers — aggregate-then-join with a HAVING
    * threshold; the heavy groupBy runs on the fact before any join. */
  def qTpch18(s: SparkSession, d: String): DataFrame = {
    val bigOrders = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sum(dec("l_quantity")).cast("double").as("sum_qty"))
      .where(col("sum_qty") > 300.0)
    Tables.orders(s, d)
      .join(bigOrders, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
  }

  /** Q2-shaped: correlated SCALAR subquery against an aggregate —
    * "suppliers offering each small part at its corpus-minimum price"
    * (the testdata has no partsupp, so lineitem plays the
    * part-supplier cost relation). Declared as SQL so Catalyst's
    * RewriteCorrelatedScalarSubquery decorrelates it: the optimized
    * plan is a per-part min aggregate joined back to the fact —
    * exactly the plan you'd hand-write, one fact shuffle, no per-row
    * subquery execution anywhere. */
  def qTpch2(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    Tables.part(s, d).createOrReplaceTempView("part")
    Tables.supplier(s, d).createOrReplaceTempView("supplier")
    s.sql("""
      SELECT DISTINCT p_partkey, p_name, s_suppkey, s_name,
        l_extendedprice AS min_price
      FROM lineitem l
      JOIN part ON p_partkey = l.l_partkey
      JOIN supplier ON s_suppkey = l.l_suppkey
      WHERE p_size <= 5
        AND l_extendedprice = (SELECT MIN(l2.l_extendedprice)
                               FROM lineitem l2
                               WHERE l2.l_partkey = l.l_partkey)
      ORDER BY p_partkey, s_suppkey""")
  }

  /** Q21-shaped: EXISTS + NOT EXISTS correlated subqueries —
    * "suppliers who were the ONLY supplier with a returned line on a
    * multi-supplier finished order" (l_returnflag = 'R' stands in for
    * Q21's receipt-after-commit lateness; the testdata has no
    * receipt/commit dates). Catalyst decorrelates EXISTS into a
    * left-semi and NOT EXISTS into a left-anti join on l_orderkey —
    * both shuffle-on-key, no nested-loop anywhere. */
  def qTpch21(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    Tables.orders(s, d).createOrReplaceTempView("orders")
    Tables.supplier(s, d).createOrReplaceTempView("supplier")
    s.sql("""
      SELECT s_name, COUNT(*) AS numwait
      FROM lineitem l1
      JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
      JOIN supplier ON s_suppkey = l1.l_suppkey
      WHERE l1.l_returnflag = 'R'
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_returnflag = 'R')
      GROUP BY s_name
      ORDER BY numwait DESC, s_name""")
  }

  /** Q4-shaped: order-priority checking — EXISTS against the fact
    * (orders in a quarter that had at least one returned line).
    * Written as an explicit left-semi join: the shape Catalyst
    * decorrelates EXISTS into anyway. One fact shuffle on the join
    * key, then a 5-group aggregate — scales linearly. */
  def qTpch4(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .where(col("o_orderdate") >= to_timestamp(lit("1995-01-01")) &&
             col("o_orderdate") < to_timestamp(lit("1995-07-01")))
      .join(Tables.lineitem(s, d).where(col("l_returnflag") === "R"),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))

  /** Q12-shaped: shipping-mode priority split — fact⋈fact join with
    * conditional aggregation (high- vs low-priority line counts per
    * return flag; l_linestatus stands in for Q12's shipmode list).
    * Both conditional sums come out of ONE hash aggregate pass. */
  def qTpch12(s: SparkSession, d: String): DataFrame = {
    val hi = col("o_orderpriority") === "1-URGENT" ||
      col("o_orderpriority") === "2-HIGH"
    Tables.lineitem(s, d)
      .where(col("l_linestatus") === "F" &&
             col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
             col("l_shipdate") < to_timestamp(lit("1997-01-01")))
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
           sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy(col("l_returnflag"))
  }

  /** Q15-shaped: top supplier — revenue view + scalar MAX subquery
    * over it ("the supplier(s) with the quarter's maximum revenue").
    * The view aggregates the fact once; the MAX is a 1-row broadcast
    * scalar; equality re-joins against the tiny aggregate, not the
    * fact. DECIMAL sums keep the MAX equality exact cross-engine. */
  def qTpch15(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    Tables.supplier(s, d).createOrReplaceTempView("supplier")
    s.sql(q15Sql)
  }

  /** Q17-shaped: small-quantity-order revenue — correlated scalar AVG
    * per part ("lines under 20% of their part's average quantity").
    * Catalyst's RewriteCorrelatedScalarSubquery turns the per-row
    * subquery into a per-part AVG aggregate joined back: one extra
    * fact aggregate, no nested-loop. l_quantity is integer-valued so
    * the AVG is an exact double in any summation order — the 0.2×avg
    * threshold compare is bit-stable across engines. */
  def qTpch17(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    Tables.part(s, d).createOrReplaceTempView("part")
    s.sql(q17Sql)
  }

  /** Q19-shaped: discounted revenue under DISJUNCTIVE brand/size/qty
    * predicates — the classic partial-pushdown test. Catalyst
    * extracts the common conjunct (the join key) and pushes the
    * per-table prefixes of the OR branches into both scans; the
    * residual disjunction evaluates post-join inside codegen. */
  def qTpch19(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
      .where(
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20, 30)))
      .agg(sum(revenue).cast("double").as("revenue"))

  /** Q22-shaped: global-acctbal customers who went quiet — a global
    * scalar AVG threshold plus NOT EXISTS against recent orders.
    * The AVG is a 1-row broadcast; the NOT EXISTS decorrelates to a
    * left-anti join on o_custkey (shuffle-on-key, no nested loop).
    * Threshold is ROUND(avg,4) on both sides: balances sum in
    * different orders across engines, so compare at fixed scale. */
  def qTpch22(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d).createOrReplaceTempView("customer")
    Tables.orders(s, d).createOrReplaceTempView("orders")
    s.sql(q22Sql)
  }

  /** Q7: volume shipping between two nations, both directions, by ship
    * year. The two nation joins are broadcasts against distinct alias
    * projections; the only shuffle is lineitem⋈orders on the order key. */
  def qTpch7(s: SparkSession, d: String): DataFrame = {
    val n1 = broadcast(Tables.nation(s, d)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation")))
    val n2 = broadcast(Tables.nation(s, d)
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation")))
    Tables.lineitem(s, d)
      .where(year(col("l_shipdate")).isin(1996, 1997))
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(n1, col("s_nationkey") === col("s_nk"))
      .join(n2, col("c_nationkey") === col("c_nk"))
      .where((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
             (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .withColumn("l_year", year(col("l_shipdate")))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(sum(revenue).cast("double").as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** Q8: national market share — fraction of a region's ECONOMY-part
    * revenue supplied by one nation, by order year. Numerator and
    * denominator come out of ONE aggregate pass (conditional DECIMAL
    * sum), so the fact is scanned and shuffled exactly once. */
  def qTpch8(s: SparkSession, d: String): DataFrame = {
    val custNation = broadcast(Tables.nation(s, d)
      .select(col("n_nationkey").as("c_nk"), col("n_regionkey")))
    val suppNation = broadcast(Tables.nation(s, d)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation")))
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d).where(col("p_type") === "ECONOMY")),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(s, d)
        .where(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
               col("o_orderdate") < to_timestamp(lit("1998-01-01"))),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .join(custNation, col("c_nationkey") === col("c_nk"))
      .join(broadcast(Tables.region(s, d).where(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .join(suppNation, col("s_nationkey") === col("s_nk"))
      .withColumn("o_year", year(col("o_orderdate")))
      .groupBy(col("o_year"))
      .agg(round(
        sum(when(col("supp_nation") === "NATION_3", revenue)
          .otherwise(lit(0).cast("decimal(18,8)"))).cast("double") /
          sum(revenue).cast("double"), 6).as("mkt_share"))
      .orderBy(col("o_year"))
  }

  /** Q9: product-type profit by supplier nation and order year. The
    * testdata has no partsupp, so the per-line cost surrogate is
    * p_retailprice × l_quantity — all DECIMAL so the profit sum is
    * exact and order-independent cross-engine. */
  def qTpch9(s: SparkSession, d: String): DataFrame = {
    val suppNation = broadcast(Tables.nation(s, d)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("nation")))
    val cost = (dec("p_retailprice") * dec("l_quantity")).cast("decimal(18,8)")
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d).where(col("p_name").like("%red%"))),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .join(suppNation, col("s_nationkey") === col("s_nk"))
      .withColumn("o_year", year(col("o_orderdate")))
      .groupBy(col("nation"), col("o_year"))
      .agg(sum(revenue - cost).cast("double").as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** Q11: important stock — per-part inventory value (lineitem plays
    * the partsupp relation) of a nation group's suppliers, kept when
    * above a fraction of the global total. Declared as SQL so the
    * scalar subquery broadcasts as a 1-row threshold; the per-part
    * aggregate shuffles the fact once per reference (the classic Q11
    * double-scan — at 100 TB you'd cache `pv`, noted inline). */
  def qTpch11(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    Tables.supplier(s, d).createOrReplaceTempView("supplier")
    s.sql(q11Sql)
  }

  /** Q13: customer order-count distribution — aggregate the fact per
    * customer FIRST (one shuffle), left-join customers against the
    * counts so zero-order customers survive, then the tiny second
    * aggregate over counts. */
  def qTpch13(s: SparkSession, d: String): DataFrame = {
    val ordCnt = Tables.orders(s, d)
      .where(col("o_orderpriority") =!= "1-URGENT")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("_n"))
    Tables.customer(s, d)
      .join(ordCnt, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(coalesce(col("_n"), lit(0L)).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** Q16: supplier diversity per part group — COUNT(DISTINCT supplier)
    * over the distinct (part, supplier) link pairs in lineitem,
    * excluding flagged suppliers (negative balance stands in for Q16's
    * complaint comments) via a broadcast anti-join. */
  def qTpch16(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)
          .where(col("p_brand") =!= "Brand#5" && col("p_type") =!= "PROMO" &&
                 col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(s, d).where(col("s_acctbal") < 0.0)),
        col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))

  /** Q20: potential part promotion — suppliers who moved real volume
    * of a named part family in a window. Nested IN subqueries declared
    * as SQL: Catalyst turns both into left-semi joins (part filter
    * broadcast into the fact aggregate, supplier list semi-joined) —
    * no correlated execution anywhere. */
  def qTpch20(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    Tables.supplier(s, d).createOrReplaceTempView("supplier")
    Tables.part(s, d).createOrReplaceTempView("part")
    s.sql(q20Sql)
  }

  private val q11Sql =
    """WITH pv AS (
      |  SELECT l_partkey,
      |    SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_quantity AS DECIMAL(18,4)) AS DECIMAL(18,8))) AS v
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |  WHERE s_nationkey < 5
      |  GROUP BY l_partkey)
      |SELECT l_partkey, CAST(v AS DOUBLE) AS part_value
      |FROM pv
      |WHERE CAST(v AS DOUBLE) > (SELECT ROUND(CAST(SUM(v) AS DOUBLE) * 0.001, 4) FROM pv)
      |ORDER BY part_value DESC, l_partkey""".stripMargin

  private val q20Sql =
    """SELECT s_suppkey, s_name
      |FROM supplier
      |WHERE s_nationkey < 10
      |  AND s_suppkey IN (
      |    SELECT l_suppkey FROM lineitem
      |    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
      |      AND l_shipdate >= TIMESTAMP '1996-01-01'
      |      AND l_shipdate < TIMESTAMP '1998-01-01'
      |    GROUP BY l_suppkey, l_partkey
      |    HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 50.0)
      |ORDER BY s_suppkey""".stripMargin

  private val q15Sql =
    """WITH rev AS (
      |  SELECT l_suppkey AS supplier_no,
      |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(18,8))) AS DOUBLE) AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1996-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_revenue
      |FROM supplier JOIN rev ON s_suppkey = supplier_no
      |WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
      |ORDER BY s_suppkey""".stripMargin

  private val q17Sql =
    """SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0, 4) AS avg_yearly
      |FROM lineitem
      |JOIN part ON p_partkey = l_partkey
      |WHERE p_brand = 'Brand#13'
      |  AND l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
      |                    FROM lineitem l2
      |                    WHERE l2.l_partkey = l_partkey)""".stripMargin

  private val q22Sql =
    """SELECT c_mktsegment, COUNT(*) AS numcust,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
      |FROM customer
      |WHERE c_acctbal > (SELECT ROUND(AVG(c_acctbal), 4)
      |                   FROM customer WHERE c_acctbal > 0.0)
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c_custkey
      |                    AND o.o_orderdate >= TIMESTAMP '2000-06-01')
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_tpch2" -> (qTpch2 _),
    "q_tpch7" -> (qTpch7 _),
    "q_tpch8" -> (qTpch8 _),
    "q_tpch9" -> (qTpch9 _),
    "q_tpch11" -> (qTpch11 _),
    "q_tpch13" -> (qTpch13 _),
    "q_tpch16" -> (qTpch16 _),
    "q_tpch20" -> (qTpch20 _),
    "q_tpch4" -> (qTpch4 _),
    "q_tpch12" -> (qTpch12 _),
    "q_tpch15" -> (qTpch15 _),
    "q_tpch17" -> (qTpch17 _),
    "q_tpch19" -> (qTpch19 _),
    "q_tpch21" -> (qTpch21 _),
    "q_tpch22" -> (qTpch22 _),
    "q_tpch3" -> (qTpch3 _),
    "q_tpch5" -> (qTpch5 _),
    "q_tpch6" -> (qTpch6 _),
    "q_tpch10" -> (qTpch10 _),
    "q_tpch14" -> (qTpch14 _),
    "q_tpch18" -> (qTpch18 _))

  private val revSql =
    "SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(18,8)))"

  def oracles: Map[String, String] = Map(
    "q_tpch7" ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |  CAST(YEAR(l_shipdate) AS INT) AS l_year,
         |  CAST($revSql AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
         |  AND YEAR(l_shipdate) IN (1996, 1997)
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q_tpch8" ->
      s"""SELECT CAST(YEAR(o_orderdate) AS INT) AS o_year,
         |  ROUND(CAST(SUM(CASE WHEN sn.n_name = 'NATION_3'
         |    THEN CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(18,8))
         |    ELSE CAST(0 AS DECIMAL(18,8)) END) AS DOUBLE) /
         |  CAST($revSql AS DOUBLE), 6) AS mkt_share
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation cn ON c_nationkey = cn.n_nationkey
         |JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
         |JOIN nation sn ON s_nationkey = sn.n_nationkey
         |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_tpch9" ->
      s"""SELECT sn.n_name AS nation, CAST(YEAR(o_orderdate) AS INT) AS o_year,
         |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(18,8)) -
         |           CAST(CAST(p_retailprice AS DECIMAL(18,4)) * CAST(l_quantity AS DECIMAL(18,4)) AS DECIMAL(18,8))) AS DOUBLE) AS sum_profit
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation sn ON s_nationkey = sn.n_nationkey
         |GROUP BY 1, 2 ORDER BY 1, 2 DESC""".stripMargin,
    "q_tpch11" -> q11Sql,
    "q_tpch13" ->
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |    AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey) t
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q_tpch16" ->
      """SELECT p_brand, p_type, p_size,
        |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                        WHERE s_acctbal < 0.0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q_tpch20" -> q20Sql,
    "q_tpch4" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o_orderdate < TIMESTAMP '1995-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q_tpch12" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_linestatus = 'F'
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q_tpch15" -> q15Sql,
    "q_tpch17" -> q17Sql,
    "q_tpch19" ->
      s"""SELECT CAST($revSql AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
         |       AND l_quantity BETWEEN 1 AND 11)
         |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
         |       AND l_quantity BETWEEN 10 AND 20)
         |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
         |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q_tpch22" -> q22Sql,
    "q_tpch2" ->
      """SELECT DISTINCT p_partkey, p_name, s_suppkey, s_name,
        |  l_extendedprice AS min_price
        |FROM lineitem l
        |JOIN part ON p_partkey = l.l_partkey
        |JOIN supplier ON s_suppkey = l.l_suppkey
        |WHERE p_size <= 5
        |  AND l_extendedprice = (SELECT MIN(l2.l_extendedprice)
        |                         FROM lineitem l2
        |                         WHERE l2.l_partkey = l.l_partkey)
        |ORDER BY p_partkey, s_suppkey""".stripMargin,
    "q_tpch21" ->
      """SELECT s_name, COUNT(*) AS numwait
        |FROM lineitem l1
        |JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
        |JOIN supplier ON s_suppkey = l1.l_suppkey
        |WHERE l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name""".stripMargin,
    "q_tpch3" ->
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
         |  CAST($revSql AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE l_shipdate > TIMESTAMP '1995-03-15'
         |  AND o_orderdate < TIMESTAMP '1995-03-15'
         |  AND c_mktsegment = 'BUILDING'
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q_tpch5" ->
      s"""SELECT n_name, CAST($revSql AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1997-01-01'
         |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "q_tpch6" ->
      """SELECT CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(18,4)) AS DECIMAL(18,8))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.04 AND l_discount <= 0.06
        |  AND l_quantity < 24.0""".stripMargin,
    "q_tpch14" ->
      s"""SELECT ROUND(
         |  CAST(SUM(CASE WHEN p_type = 'PROMO'
         |    THEN CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(18,8))
         |    ELSE CAST(0 AS DECIMAL(18,8)) END) AS DOUBLE) * 100.0 /
         |  CAST($revSql AS DOUBLE), 6) AS promo_revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |  AND l_shipdate < TIMESTAMP '1996-07-01'""".stripMargin,
    "q_tpch18" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |  FROM lineitem GROUP BY 1 HAVING sum_qty > 300.0)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
        |FROM orders
        |JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey""".stripMargin,
    "q_tpch10" ->
      s"""SELECT c_custkey, c_name, c_acctbal, n_name,
         |  CAST($revSql AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |  AND o_orderdate >= TIMESTAMP '1995-10-01'
         |  AND o_orderdate < TIMESTAMP '1996-01-01'
         |GROUP BY c_custkey, c_name, c_acctbal, n_name
         |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)
}

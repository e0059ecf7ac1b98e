package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryDef
import graft.core.Tables

/** Relational core: scan → filter → aggregate → join → sort → limit.
  *
  * Mirrors the reference pipeline stage order in
  * InterpreterSelectQuery.cpp:430-673 (FetchColumns → WHERE → partial
  * AGGREGATE → merge → ORDER → DISTINCT → LIMIT BY → LIMIT), but
  * declared as DataFrame plans so Catalyst plans partial/final
  * aggregation, broadcast vs shuffle joins, and limit pushdown itself
  * (SURVEY.md §3.3: WithMergeableState ≡ Partial/Final agg modes).
  *
  * Money columns are cast to DECIMAL(18,2) before SUM so results are
  * exact and order-independent — at 100 TB a double sum's value depends
  * on partition merge order; decimal aggregation is deterministic and
  * matches the oracle bit-for-bit.
  */
object CoreQueries {
  /** Exact money arithmetic (order-independent at any scale). */
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Canonical rendering of a FINAL decimal aggregate. The aggregation
    * itself stays decimal (exact, merge-order-independent); only the
    * output value is converted to double so both engines surface one
    * representation — Spark's widened DECIMAL(28,2) arrives in the
    * driver harness as `Decimal('2058.20')` (trailing zero preserved)
    * while DuckDB's sum arrives as float64 `2058.2`, which hash-compare
    * treats as different even though the values are equal.
    */
  def decOut(c: Column): Column = c.cast("double")

  // ---------------------------------------------------------------
  // q01 pricing summary — flagship (TPC-H Q1 shape; reference
  // benchmark Q3-style sum+count+avg, queries.sql:3).
  // ---------------------------------------------------------------
  def q01(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .filter(to_date(col("l_shipdate")) <= lit("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        decOut(sum(dec2(col("l_extendedprice")))).as("sum_base_price"),
        decOut(sum(dec2(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec2(col("l_discount")))))
          .as("sum_disc_price"),
        (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private val q01Sql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |  sum(l_quantity) / count(*) AS avg_qty,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------
  // q02 filtered count (benchmark Q2 `count() WHERE`, queries.sql:2).
  // ---------------------------------------------------------------
  def q02(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R" && col("l_quantity") > 25)
      .agg(count(lit(1)).as("cnt"))

  private val q02Sql =
    "SELECT count(*) AS cnt FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > 25"

  // ---------------------------------------------------------------
  // q03 single-key GROUP BY + ORDER BY count DESC (benchmark Q8 shape).
  // ---------------------------------------------------------------
  def q03(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), decOut(sum(dec2(col("value")))).as("sum_value"))
      .orderBy(col("cnt").desc, col("event_type"))

  private val q03Sql =
    """SELECT event_type, count(*) AS cnt,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type ORDER BY cnt DESC, event_type""".stripMargin

  // ---------------------------------------------------------------
  // q04 broadcast hash join (reference hash join, Interpreters/Join.cpp;
  // small dim side broadcast ≡ GLOBAL JOIN shipping the RHS,
  // ExpressionAnalyzer.cpp:423-479).
  // ---------------------------------------------------------------
  def q04(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
    val c = Tables(s, dir, "customer")
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), decOut(sum(dec2(col("o_totalprice")))).as("revenue"))
      .orderBy(col("c_mktsegment"))
  }

  private val q04Sql =
    """SELECT c_mktsegment, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------
  // q05 multi-way join (TPC-H Q5 shape): shuffle join on the fact
  // table, broadcast on dims; Catalyst + AQE pick the physical mix.
  // ---------------------------------------------------------------
  def q05(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    val o = Tables(s, dir, "orders")
    val c = Tables(s, dir, "customer")
    val su = Tables(s, dir, "supplier")
    val n = Tables(s, dir, "nation")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(su, li("l_suppkey") === su("s_suppkey") && c("c_nationkey") === su("s_nationkey"))
      .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
      // sargable range, not year()=N: the raw-column comparison
      // reaches the parquet scan as PushedFilters, so row-group
      // min/max stats and partition pruning fire at scale — a
      // function-wrapped predicate prunes nothing
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1997-01-01"))
      .groupBy(col("n_name"))
      .agg(decOut(sum(dec2(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec2(col("l_discount")))))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  private val q05Sql =
    """SELECT n_name,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE year(o_orderdate) = 1996
      |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin

  // ---------------------------------------------------------------
  // q06 LEFT JOIN with null-producing side (TPC-H Q13 shape):
  // customer × orders distribution.
  // ---------------------------------------------------------------
  def q06(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    val o = Tables(s, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  private val q06Sql =
    """SELECT c_count, count(*) AS custdist FROM (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |  GROUP BY c_custkey)
      |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin

  // ---------------------------------------------------------------
  // q07 anti join ≡ reference `NOT IN (subquery)` via Set
  // (Interpreters/Set.cpp; SURVEY.md §2.7).
  // ---------------------------------------------------------------
  def q07(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    val o = Tables(s, dir, "orders").select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_customers_without_orders"))
  }

  private val q07Sql =
    """SELECT count(*) AS n_customers_without_orders FROM customer
      |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)""".stripMargin

  // ---------------------------------------------------------------
  // q08 semi join ≡ reference `IN (subquery)` (SURVEY.md §2.7).
  // ---------------------------------------------------------------
  def q08(s: SparkSession, dir: String): DataFrame = {
    val p = Tables(s, dir, "part")
    val li = Tables(s, dir, "lineitem").filter(col("l_quantity") >= 48).select(col("l_partkey"))
    p.join(li, p("p_partkey") === li("l_partkey"), "left_semi")
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"))
      .orderBy(col("p_brand"))
  }

  private val q08Sql =
    """SELECT p_brand, count(*) AS n_parts FROM part
      |WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 48)
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // ---------------------------------------------------------------
  // q09 CROSS JOIN (reference block-nested-loop, Join.h:168,419).
  // ---------------------------------------------------------------
  def q09(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "region").crossJoin(Tables(s, dir, "nation"))
      .select(col("r_name"), col("n_name"))
      .orderBy(col("r_name"), col("n_name"))

  private val q09Sql =
    "SELECT r_name, n_name FROM region CROSS JOIN nation ORDER BY r_name, n_name"

  // ---------------------------------------------------------------
  // q10 ANY LEFT JOIN (reference strictness ANY: ≤1 match per left
  // row, "first wins" — ASTTablesInSelectQuery.h:74-78, Join.h:352).
  // Deterministic "first" = min (l_orderkey, l_linenumber,
  // l_quantity) per key — the synthetic lineitem can repeat
  // (orderkey, linenumber), so the payload joins the ordering to keep
  // the tiebreak TOTAL (any row is a valid ANY answer; a total order
  // is what makes the DuckDB oracle row-identical) —
  // realized as min_by over a groupBy — unlike a row_number window
  // (which must shuffle + sort EVERY fact row before filtering), a
  // declarative aggregate gets map-side partial aggregation: each
  // task folds to one candidate row per key locally, so the exchange
  // carries |keys| rows instead of |fact| rows. The dedup shrinks the
  // shuffled RHS, exactly what ANY is for.
  // ---------------------------------------------------------------
  def q10(s: SparkSession, dir: String): DataFrame = {
    val su = Tables(s, dir, "supplier")
    // ONE lexicographic struct-min instead of min_by(payload-struct,
    // ordering-struct): the ordering (l_orderkey, l_linenumber,
    // l_quantity) is a TOTAL order containing both payload columns, so
    // min(struct(ordering)) is the same winning row and the payload
    // projects out of it — half the per-row struct allocations in the
    // partial aggregate, which dominates this query's fact-side scan
    // (guide §4: per-row work in the hot loop).
    val anyLine = Tables(s, dir, "lineitem")
      .groupBy(col("l_suppkey"))
      .agg(min(struct(col("l_orderkey"), col("l_linenumber"), col("l_quantity")))
        .as("__first"))
      .select(col("l_suppkey"),
        col("__first").getField("l_orderkey").as("l_orderkey"),
        col("__first").getField("l_quantity").as("l_quantity"))
    su.join(anyLine, su("s_suppkey") === anyLine("l_suppkey"), "left")
      .select(col("s_suppkey"), col("s_name"), col("l_orderkey"), col("l_quantity"))
      .orderBy(col("s_suppkey"))
  }

  private val q10Sql =
    """SELECT s_suppkey, s_name, l_orderkey, l_quantity
      |FROM supplier LEFT JOIN (
      |  SELECT * FROM (
      |    SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
      |      row_number() OVER (PARTITION BY l_suppkey ORDER BY l_orderkey, l_linenumber, l_quantity) AS rn
      |    FROM lineitem) WHERE rn = 1
      |) ON s_suppkey = l_suppkey
      |ORDER BY s_suppkey""".stripMargin

  // ---------------------------------------------------------------
  // q11 DISTINCT (DataStreams/DistinctBlockInputStream.cpp).
  // ---------------------------------------------------------------
  def q11(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"))
      .distinct()
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private val q11Sql =
    """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------
  // q12 UNION ALL chain (InterpreterSelectQuery.cpp:364-410).
  // ---------------------------------------------------------------
  def q12(s: SparkSession, dir: String): DataFrame = {
    val a = Tables(s, dir, "orders").groupBy(col("o_orderstatus").as("k"))
      .agg(count(lit(1)).as("cnt")).withColumn("src", lit("orders"))
    val b = Tables(s, dir, "lineitem").groupBy(col("l_returnflag").as("k"))
      .agg(count(lit(1)).as("cnt")).withColumn("src", lit("lineitem"))
    a.unionByName(b).select(col("src"), col("k"), col("cnt"))
      .orderBy(col("src"), col("k"))
  }

  private val q12Sql =
    """SELECT * FROM (
      |  SELECT 'orders' AS src, o_orderstatus AS k, count(*) AS cnt FROM orders GROUP BY 2
      |  UNION ALL
      |  SELECT 'lineitem' AS src, l_returnflag AS k, count(*) AS cnt FROM lineitem GROUP BY 2)
      |ORDER BY src, k""".stripMargin

  // ---------------------------------------------------------------
  // q13 LIMIT n BY key (DataStreams/LimitByBlockInputStream.cpp;
  // SURVEY.md §2.5) — top-3 orders per priority class.
  // ---------------------------------------------------------------
  def q13(s: SparkSession, dir: String): DataFrame =
    graft.operators.LimitBy(
      Tables(s, dir, "orders"),
      n = 3,
      partitionCols = Seq(col("o_orderpriority")),
      orderCols = Seq(col("o_totalprice").desc, col("o_orderkey")))
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderpriority"), col("o_orderkey"))

  private val q13Sql =
    """SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
      |  SELECT *, row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) WHERE rn <= 3
      |ORDER BY o_orderpriority, o_orderkey""".stripMargin

  // ---------------------------------------------------------------
  // q14 ORDER BY + LIMIT = top-K (reference threads the limit hint
  // into PartialSorting, InterpreterSelectQuery.cpp:1051-1064; Spark
  // plans TakeOrderedAndProject — no global sort materialized).
  // ---------------------------------------------------------------
  def q14(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(100)

  private val q14Sql =
    """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
      |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin

  // ---------------------------------------------------------------
  // q15 HAVING (InterpreterSelectQuery.cpp:1004-1010).
  // ---------------------------------------------------------------
  def q15(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= 20)
      .orderBy(col("n_orders").desc, col("o_custkey"))

  private val q15Sql =
    """SELECT o_custkey, count(*) AS n_orders FROM orders
      |GROUP BY o_custkey HAVING count(*) >= 20
      |ORDER BY n_orders DESC, o_custkey""".stripMargin

  // ---------------------------------------------------------------
  // q16 WITH TOTALS (TotalsHavingBlockInputStream.cpp) — the grand-
  // total row via rollup(); the reference's only super-aggregate.
  // ---------------------------------------------------------------
  def q16(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .rollup(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"), decOut(sum(dec2(col("o_totalprice")))).as("total"))
      .orderBy(col("o_orderstatus").asc_nulls_first)

  private val q16Sql =
    """SELECT o_orderstatus, count(*) AS cnt,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY ROLLUP(o_orderstatus)
      |ORDER BY o_orderstatus NULLS FIRST""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q01_agg_pricing_summary", q01, Some(q01Sql)),
    QueryDef("q02_filter_count", q02, Some(q02Sql)),
    QueryDef("q03_groupby_orderby", q03, Some(q03Sql)),
    QueryDef("q04_join_broadcast", q04, Some(q04Sql)),
    QueryDef("q05_join_multiway", q05, Some(q05Sql)),
    QueryDef("q06_join_left_distribution", q06, Some(q06Sql)),
    QueryDef("q07_join_anti_notin", q07, Some(q07Sql)),
    QueryDef("q08_join_semi_in", q08, Some(q08Sql)),
    QueryDef("q09_join_cross", q09, Some(q09Sql)),
    QueryDef("q10_join_any_left", q10, Some(q10Sql)),
    QueryDef("q11_distinct", q11, Some(q11Sql)),
    QueryDef("q12_union_all", q12, Some(q12Sql)),
    QueryDef("q13_limit_by", q13, Some(q13Sql)),
    QueryDef("q14_topk_order_limit", q14, Some(q14Sql)),
    QueryDef("q15_having", q15, Some(q15Sql)),
    QueryDef("q16_with_totals_rollup", q16, Some(q16Sql)))
}

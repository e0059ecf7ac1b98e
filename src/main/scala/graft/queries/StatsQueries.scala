package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables
import graft.functions.ch

/** Remaining operator-inventory rows: outer joins with non-joined-row
  * recovery, statistical aggregates (varSamp/stddevPop/covar/corr),
  * set operations, -Array combinator (per-element aggregation), geo
  * distance, and arrayEnumerateUniq (SURVEY.md §2.3, §2.4, §2.5,
  * §2.7, §2.9).
  */
object StatsQueries {
  // ---------------------------------------------------------------
  // q74 FULL OUTER JOIN — both-side non-joined rows survive with
  // NULLs (reference streams unmatched RHS rows in a second pass,
  // Join.h:254). Orders in a month window vs high-value customers.
  // ---------------------------------------------------------------
  def q74(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
      .filter(year(col("o_orderdate")) === 1997 && month(col("o_orderdate")) === 1)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_jan97"))
    val c = Tables(s, dir, "customer").filter(col("c_custkey") % 100 === 0)
      .select(col("c_custkey"), col("c_mktsegment"))
    o.join(c, o("o_custkey") === c("c_custkey"), "full")
      .select(
        coalesce(col("o_custkey"), col("c_custkey")).as("custkey"),
        col("n_jan97"), col("c_mktsegment"))
      .orderBy(col("custkey"))
  }

  private val q74Sql =
    """SELECT coalesce(o_custkey, c_custkey) AS custkey, n_jan97, c_mktsegment
      |FROM (SELECT o_custkey, count(*) AS n_jan97 FROM orders
      |      WHERE year(o_orderdate) = 1997 AND month(o_orderdate) = 1
      |      GROUP BY o_custkey) o
      |FULL JOIN (SELECT c_custkey, c_mktsegment FROM customer
      |           WHERE c_custkey % 100 = 0) c
      |ON o.o_custkey = c.c_custkey
      |ORDER BY custkey""".stripMargin

  // ---------------------------------------------------------------
  // q75 statistical aggregates — varSamp/varPop/stddevSamp/covarPop/
  // corr (AggregateFunctionsStatistics; all Spark built-ins). Rounded
  // to 6 decimals for cross-engine float agreement.
  // ---------------------------------------------------------------
  def q75(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(var_samp(col("l_quantity")), 6).as("var_samp_qty"),
        round(var_pop(col("l_quantity")), 6).as("var_pop_qty"),
        round(stddev_samp(col("l_quantity")), 6).as("stddev_qty"),
        round(covar_pop(col("l_quantity"), col("l_extendedprice")), 4).as("covar_qp"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"))
      .orderBy(col("l_returnflag"))

  private val q75Sql =
    """SELECT l_returnflag,
      |  round(var_samp(l_quantity), 6) AS var_samp_qty,
      |  round(var_pop(l_quantity), 6) AS var_pop_qty,
      |  round(stddev_samp(l_quantity), 6) AS stddev_qty,
      |  round(covar_pop(l_quantity, l_extendedprice), 4) AS covar_qp,
      |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qp
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------
  // q76 INTERSECT / EXCEPT — absent in the reference (SURVEY §2.7:
  // "free in Spark"); customers in both/only-one of two order years.
  // ---------------------------------------------------------------
  def q76(s: SparkSession, dir: String): DataFrame = {
    // one LAZY plan (a cross join of two 1-row aggregates) — eager
    // .count() calls here would run jobs at plan-build time, which
    // breaks composability and bench timing
    // sargable range, not year()=N — the raw-column comparison lands
    // in PushedFilters so the orders scan prunes row groups at scale
    // each year's distinct custkey set is consumed TWICE (once by
    // INTERSECT, once by EXCEPT); the lazy checkpoint materializes the
    // scan+dedup once per year instead of once per set operation
    // (12 scheduling-floor jobs → the set ops plan against leaves).
    // The INTERSECT/EXCEPT operators themselves are unchanged — they
    // are this query's coverage point.
    def custs(y: Int) = Tables(s, dir, "orders")
      .filter(col("o_orderdate") >= lit(s"$y-01-01") &&
        col("o_orderdate") < lit(s"${y + 1}-01-01"))
      .select(col("o_custkey")).distinct()
      .localCheckpoint(eager = false)
    val c96 = custs(1996)
    val c97 = custs(1997)
    val both = c96.intersect(c97)
      .agg(count(lit(1)).as("n_both_years"))
    val only96 = c96.except(c97)
      .agg(count(lit(1)).as("n_only_1996"))
    both.crossJoin(only96)
  }

  private val q76Sql =
    """SELECT
      |  (SELECT count(*) FROM (
      |     SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
      |     INTERSECT
      |     SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997)) AS n_both_years,
      |  (SELECT count(*) FROM (
      |     SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
      |     EXCEPT
      |     SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997)) AS n_only_1996""".stripMargin

  // ---------------------------------------------------------------
  // q77 -Array combinator + arrayEnumerateUniq — aggregate over array
  // elements (sumArray ≡ explode-free `aggregate`), and the per-value
  // occurrence index within an array (FunctionsArray.h
  // arrayEnumerateUniq), realized without any shuffle.
  // ---------------------------------------------------------------
  def q77(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"), expr("split(text, ' ')").as("ws"))
      .select(col("doc_id"),
        expr("aggregate(ws, 0L, (a, w) -> a + length(w))").as("sum_array_lens"),
        // occurrence index of each word at its position: count of equal
        // words in the prefix up to i (1-based), max over the doc =
        // the highest repetition count
        expr("""array_max(transform(sequence(1, size(ws)),
                 i -> size(filter(slice(ws, 1, i), w -> w = element_at(ws, i)))))""")
          .as("max_enum_uniq"))
      .filter(col("doc_id") < 50)
      .orderBy(col("doc_id"))

  private val q77Sql =
    """SELECT doc_id,
      |  CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT) AS sum_array_lens,
      |  CAST(list_max(list_transform(generate_series(1, len(ws)),
      |    i -> len(list_filter(ws[1:i], w -> w = ws[i])))) AS BIGINT) AS max_enum_uniq
      |FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
      |WHERE doc_id < 50 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q78 geo + formatting — greatCircleDistance (haversine) between
  // synthetic coordinates and formatReadableSize over byte counts.
  // ---------------------------------------------------------------
  def q78(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        (pmod(col("doc_id") * 7, lit(360)) - 180).cast("double").as("lon"),
        (pmod(col("doc_id") * 13, lit(180)) - 90).cast("double").as("lat"))
    d.select(col("doc_id"),
      round(ch.greatCircleDistance(col("lon"), col("lat"), lit(0.0), lit(0.0)) / 1000, 1)
        .as("km_to_origin"),
      ch.formatReadableSize(col("n_chars") * 1024).as("readable_size"))
      .orderBy(col("doc_id"))
  }

  private val q78Sql =
    """SELECT doc_id,
      |  round(2 * 6372797.560856 * asin(sqrt(
      |    sin(radians(0 - lat) / 2) * sin(radians(0 - lat) / 2) +
      |    cos(radians(lat)) * cos(radians(0)) *
      |    sin(radians(0 - lon) / 2) * sin(radians(0 - lon) / 2))) / 1000, 1) AS km_to_origin,
      |  CASE WHEN n_chars * 1024 < 1048576
      |       THEN format('{:.2f}', (n_chars * 1024) / 1024.0) || ' KiB'
      |       ELSE format('{:.2f}', (n_chars * 1024) / 1048576.0) || ' MiB' END AS readable_size
      |FROM (SELECT doc_id, n_chars,
      |        CAST((doc_id * 7) % 360 - 180 AS DOUBLE) AS lon,
      |        CAST((doc_id * 13) % 180 - 90 AS DOUBLE) AS lat
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q83 UInt64-exact summation — SURVEY §7.4 hard part 2: unsigned
  // 64-bit sums overflow Long, so value-exact aggregation uses
  // DECIMAL(20,0) (the benchmark's sum(UserID) case).
  // ---------------------------------------------------------------
  def q83(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .agg(
        // scale-0 string render keeps the full 64-bit exactness the
        // decimal buffer provides (a double output would lose it >2^53)
        sum(col("user_id").cast(org.apache.spark.sql.types.DecimalType(20, 0)))
          .cast("string").as("sum_uint64"),
        count(lit(1)).as("cnt"))

  private val q83Sql =
    """SELECT CAST(sum(CAST(user_id AS DECIMAL(20,0))) AS VARCHAR) AS sum_uint64, count(*) AS cnt
      |FROM events""".stripMargin


  // ---------------------------------------------------------------
  // q114 cumulative distinct users by day — the running-total-of-
  // uniques idiom, computed the scalable way: cumulative distinct =
  // running sum of FIRST-APPEARANCE counts (one groupBy(user) for
  // first days, one groupBy(day), then a window over the ~#days
  // aggregate — the global-order window runs over day rows, never
  // event rows, so the single-partition sort is O(#days)).
  // ---------------------------------------------------------------
  def q114(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val firstDay = Tables(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .groupBy(col("user_id")).agg(min(col("d")).as("day"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    firstDay.groupBy(col("day")).agg(count(lit(1)).as("new_users"))
      .withColumn("cumulative_users", sum(col("new_users")).over(w))
      .select(col("day").cast("string").as("day"),
        col("new_users"), col("cumulative_users"))
      .orderBy(col("day"))
  }

  private val q114Sql =
    """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS day
      |  FROM events GROUP BY 1),
      |d AS (SELECT day, CAST(count(*) AS BIGINT) AS new_users FROM f GROUP BY 1)
      |SELECT CAST(day AS VARCHAR) AS day, new_users,
      |  CAST(sum(new_users) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
      |    AS cumulative_users
      |FROM d ORDER BY day""".stripMargin

  // ---------------------------------------------------------------
  // q115 DAU/WAU over a sliding window, exactly, with BOUNDED state:
  // raw events reduce ONCE into the distinct (day, user) frame; DAU
  // is a count per day; WAU replicates each (day, user) row onto the
  // ≤7 window days it serves (a range join against the ~30-row day
  // spine, broadcast) and counts distinct per window day — Spark
  // plans that as a two-phase keyed aggregate, so no task ever holds
  // a day's full user set. The r10 spelling collected each day's
  // users into ONE collect_set row (~800 MB for a 10⁸-user day — the
  // supernode OOM the ConnectedComponents doc warns about); ≤7× row
  // replication is the price of exactness, and the reference's own
  // approximate spelling (uniqState per day + merge) is q79's path.
  // ---------------------------------------------------------------
  def q115(s: SparkSession, dir: String): DataFrame = {
    val a = Tables(s, dir, "events")
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
    val dau = a.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val spine = dau.select(col("day").as("wday"))
    val wau = a.join(broadcast(spine),
        datediff(col("wday"), col("day")).between(0, 6))
      .groupBy(col("wday"))
      .agg(countDistinct(col("user_id")).as("wau"))
    dau
      .join(wau, col("day") === col("wday"))
      .select(col("day").cast("string").as("day"), col("dau"), col("wau"))
      .orderBy(col("day"))
  }

  private val q115Sql =
    """WITH a AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      |d AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM a GROUP BY 1),
      |w AS (SELECT s.day, CAST(count(DISTINCT a.user_id) AS BIGINT) AS wau
      |  FROM (SELECT DISTINCT day FROM a) s
      |  JOIN a ON a.day BETWEEN s.day - 6 AND s.day
      |  GROUP BY 1)
      |SELECT CAST(d.day AS VARCHAR) AS day, dau, wau
      |FROM d JOIN w ON w.day = d.day ORDER BY day""".stripMargin

  // ---------------------------------------------------------------
  // q117 volume anomaly flags — per (event_type, day) counts compared
  // to the trailing 7 days: a day is anomalous when its count exceeds
  // 2× the trailing mean or falls under half of it. The comparison is
  // pure integers (7·n vs 2·trailing_sum), so no float/stddev
  // algorithm drift can split the engines; days without a full
  // 7-day history emit flag -1 (an integer sentinel: a nullable
  // boolean column round-trips differently through the comparator's
  // pandas frames on the two engines).
  //
  // Scale shape: events reduce to (type, day) counts first — the
  // window pass runs over ~types×days rows, partitioned by type.
  // ---------------------------------------------------------------
  def q117(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-7, -1)
    Tables(s, dir, "events")
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("trailing_sum", sum(col("n")).over(w))
      .withColumn("trailing_n", count(col("n")).over(w))
      .withColumn("anomaly",
        when(col("trailing_n") < 7, lit(-1L))
          .otherwise((col("n") * 7 > col("trailing_sum") * 4 ||
            col("n") * 14 < col("trailing_sum")).cast("long")))
      .select(col("event_type"), col("day").cast("string").as("day"),
        col("n"), coalesce(col("trailing_sum"), lit(0L)).as("trailing_sum"),
        col("anomaly"))
      .orderBy(col("event_type"), col("day"))
  }

  private val q117Sql =
    """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |t AS (SELECT event_type, day, n,
      |    CAST(coalesce(sum(n) OVER w, 0) AS BIGINT) AS trailing_sum,
      |    count(n) OVER w AS trailing_n
      |  FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
      |SELECT event_type, CAST(day AS VARCHAR) AS day, n, trailing_sum,
      |  CASE WHEN trailing_n < 7 THEN -1
      |       ELSE CAST(n * 7 > trailing_sum * 4 OR n * 14 < trailing_sum AS BIGINT)
      |       END AS anomaly
      |FROM t ORDER BY event_type, day""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q83_uint64_decimal_sum", q83, Some(q83Sql)),
    QueryDef("q74_join_full_outer", q74, Some(q74Sql)),
    QueryDef("q75_stats_aggregates", q75, Some(q75Sql)),
    QueryDef("q76_intersect_except", q76, Some(q76Sql)),
    QueryDef("q77_array_combinator_enum", q77, Some(q77Sql)),
    QueryDef("q78_geo_formatting", q78, Some(q78Sql)),
    QueryDef("q114_cumulative_users", q114, Some(q114Sql)),
    QueryDef("q115_dau_wau_state_merge", q115, Some(q115Sql)),
    QueryDef("q117_volume_anomaly", q117, Some(q117Sql)))
}

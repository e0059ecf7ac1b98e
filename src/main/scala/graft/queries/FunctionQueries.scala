package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables
import graft.queries.CoreQueries.{dec2, decOut}

/** Scalar-function and window-idiom surface (SURVEY.md §2.5, §2.9):
  * conditional / date-time / string / search / math / JSON families,
  * plus the reference's running* idioms (runningDifference,
  * runningAccumulate — Functions/FunctionsMiscellaneous.cpp) restated
  * as Spark window functions, and the aggregate-function families
  * (quantile*, uniq*, argMin/argMax — SURVEY.md §2.4).
  */
object FunctionQueries {
  // ---------------------------------------------------------------
  // q17 conditional family: if / multiIf / CASE
  // (Functions/FunctionsConditional.h).
  // ---------------------------------------------------------------
  def q17(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .withColumn("qty_bucket",
        when(col("l_quantity") < 10, "low")
          .when(col("l_quantity") < 30, "mid")
          .otherwise("high"))
      .groupBy(col("qty_bucket"))
      .agg(count(lit(1)).as("cnt"), decOut(sum(dec2(col("l_extendedprice")))).as("sum_price"))
      .orderBy(col("qty_bucket"))

  private val q17Sql =
    """SELECT CASE WHEN l_quantity < 10 THEN 'low'
      |            WHEN l_quantity < 30 THEN 'mid'
      |            ELSE 'high' END AS qty_bucket,
      |  count(*) AS cnt, CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem GROUP BY 1 ORDER BY qty_bucket""".stripMargin

  // ---------------------------------------------------------------
  // q18 transform(x, from, to, default)
  // (Functions/FunctionsTransform.cpp) via graft.functions.
  // ---------------------------------------------------------------
  def q18(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .withColumn("status_name",
        graft.functions.ch.transform(col("o_orderstatus"),
          Seq("O", "F", "P"), Seq("open", "finished", "pending"), "other"))
      .groupBy(col("status_name"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("status_name"))

  private val q18Sql =
    """SELECT CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'finished'
      |            WHEN 'P' THEN 'pending' ELSE 'other' END AS status_name,
      |  count(*) AS cnt
      |FROM orders GROUP BY 1 ORDER BY status_name""".stripMargin

  // ---------------------------------------------------------------
  // q19 date/time family: toYear/toMonth/toStartOfMonth
  // (Functions/FunctionsDateTime.h).
  // ---------------------------------------------------------------
  def q19(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .groupBy(
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"))
      .agg(count(lit(1)).as("cnt"), decOut(sum(dec2(col("o_totalprice")))).as("total"))
      .orderBy(col("yr"), col("mo"))

  private val q19Sql =
    """SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
      |  CAST(month(o_orderdate) AS INTEGER) AS mo,
      |  count(*) AS cnt, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY 1, 2 ORDER BY yr, mo""".stripMargin

  // ---------------------------------------------------------------
  // q20 per-minute time bucketing (benchmark Q43 shape, toStartOfMinute)
  // over the events stream table.
  // ---------------------------------------------------------------
  def q20(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .filter(col("event_type") === "click")
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("h"))

  private val q20Sql =
    """SELECT date_trunc('hour', ts) AS h, count(*) AS n FROM events
      |WHERE event_type = 'click' GROUP BY 1 ORDER BY h""".stripMargin

  // ---------------------------------------------------------------
  // q21 string family: lower/upper/length/substring/concat
  // (Functions/FunctionsString.h).
  // ---------------------------------------------------------------
  def q21(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "part")
      .select(
        col("p_partkey"),
        lower(col("p_name")).as("lname"),
        upper(col("p_brand")).as("ubrand"),
        length(col("p_name")).cast("long").as("name_len"),
        substring(col("p_type"), 1, 5).as("type_prefix"),
        concat(col("p_brand"), lit("#"), col("p_type")).as("brand_type"))
      .orderBy(col("p_partkey"))

  private val q21Sql =
    """SELECT p_partkey, lower(p_name) AS lname, upper(p_brand) AS ubrand,
      |  CAST(length(p_name) AS BIGINT) AS name_len,
      |  substring(p_type, 1, 5) AS type_prefix,
      |  concat(p_brand, '#', p_type) AS brand_type
      |FROM part ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------
  // q22 string search: like / match(re2) / position
  // (Functions/FunctionsStringSearch.cpp).
  // ---------------------------------------------------------------
  def q22(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "part")
      .agg(
        sum(when(col("p_type").like("%BRASS%"), 1L).otherwise(0L)).as("n_like"),
        sum(when(col("p_type").rlike("STEEL|COPPER"), 1L).otherwise(0L)).as("n_regex"),
        sum(when(instr(col("p_name"), "red") > 0, 1L).otherwise(0L)).as("n_pos"))

  private val q22Sql =
    """SELECT
      |  CAST(sum(CASE WHEN p_type LIKE '%BRASS%' THEN 1 ELSE 0 END) AS BIGINT) AS n_like,
      |  CAST(sum(CASE WHEN regexp_matches(p_type, 'STEEL|COPPER') THEN 1 ELSE 0 END) AS BIGINT) AS n_regex,
      |  CAST(sum(CASE WHEN strpos(p_name, 'red') > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
      |FROM part""".stripMargin

  // ---------------------------------------------------------------
  // q23 replaceAll / replaceRegexpAll
  // (Functions/FunctionsStringSearch.cpp replace* family).
  // ---------------------------------------------------------------
  def q23(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "nation")
      .select(
        col("n_nationkey").cast("int").as("n_nationkey"),
        regexp_replace(col("n_name"), "[AEIOU]", "_").as("devoweled"),
        translate(col("n_name"), "AN", "an").as("translated"))
      .orderBy(col("n_nationkey"))

  private val q23Sql =
    """SELECT n_nationkey, regexp_replace(n_name, '[AEIOU]', '_', 'g') AS devoweled,
      |  translate(n_name, 'AN', 'an') AS translated
      |FROM nation ORDER BY n_nationkey""".stripMargin

  // ---------------------------------------------------------------
  // q24 math/rounding family (FunctionsMath.h, FunctionsRound.h):
  // integer-exact parts only; transcendentals are property-tested in
  // ScalaTest instead (libm differences across engines).
  // ---------------------------------------------------------------
  def q24(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "part")
      .select(
        col("p_partkey"),
        floor(col("p_retailprice")).cast("long").as("price_floor"),
        ceil(col("p_retailprice")).cast("long").as("price_ceil"),
        abs(col("p_size") - 25).cast("long").as("size_dist"),
        pmod(col("p_partkey"), lit(7)).cast("long").as("key_mod"))
      .orderBy(col("p_partkey"))

  private val q24Sql =
    """SELECT p_partkey,
      |  CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
      |  CAST(ceil(p_retailprice) AS BIGINT) AS price_ceil,
      |  CAST(abs(p_size - 25) AS BIGINT) AS size_dist,
      |  CAST(p_partkey % 7 AS BIGINT) AS key_mod
      |FROM part ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------
  // q25 JSON extraction ≡ visitParamExtractUInt
  // (Functions/FunctionsVisitParam.cpp) over events.props.
  // ---------------------------------------------------------------
  def q25(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      // from_json with an explicit schema: one Jackson parse per row
      // vs get_json_object's per-path scan — ~10× on wide scans.
      .withColumn("k",
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")).getField("k"))
      .groupBy((col("k") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("cnt"), max(col("k")).as("max_k"))
      .orderBy(col("k_bucket"))

  private val q25Sql =
    """SELECT CAST(k % 10 AS BIGINT) AS k_bucket, count(*) AS cnt, max(k) AS max_k
      |FROM (SELECT CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS BIGINT) AS k FROM events)
      |GROUP BY 1 ORDER BY k_bucket""".stripMargin

  // ---------------------------------------------------------------
  // q26 runningDifference (FunctionsMiscellaneous.cpp) ≡ lag() —
  // reference resets per block; we define per-key windows, the
  // scalable semantics (SURVEY.md §7.4.7).
  // ---------------------------------------------------------------
  def q26(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        (col("value") - lag(col("value"), 1).over(w)).as("delta"))
      .orderBy(col("user_id"), col("event_id"))
  }

  private val q26Sql =
    """SELECT user_id, event_id,
      |  value - lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
      |FROM events ORDER BY user_id, event_id""".stripMargin

  // ---------------------------------------------------------------
  // q27 runningAccumulate ≡ cumulative sum over an unbounded-
  // preceding window; decimal buffer keeps it exact at any scale.
  // ---------------------------------------------------------------
  def q27(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        decOut(sum(dec2(col("value"))).over(w)).as("running_value"))
      .orderBy(col("user_id"), col("event_id"))
  }

  private val q27Sql =
    """SELECT user_id, event_id,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
      |FROM events ORDER BY user_id, event_id""".stripMargin

  // ---------------------------------------------------------------
  // q28 quantile family (AggregateFunctionsQuantile; exact variant —
  // quantileExact) via percentile(); approx variants are rows-only.
  // ---------------------------------------------------------------
  def q28(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        percentile(col("l_quantity"), lit(0.5)).as("p50"),
        percentile(col("l_quantity"), lit(0.9)).as("p90"),
        min(col("l_quantity")).as("qmin"),
        max(col("l_quantity")).as("qmax"))
      .orderBy(col("l_returnflag"))

  private val q28Sql =
    """SELECT l_returnflag,
      |  quantile_cont(l_quantity, 0.5) AS p50,
      |  quantile_cont(l_quantity, 0.9) AS p90,
      |  min(l_quantity) AS qmin, max(l_quantity) AS qmax
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------
  // q29 uniqExact ≡ count(DISTINCT) (AggregateFunctionUniq.h).
  // ---------------------------------------------------------------
  def q29(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("uniq_users"),
        count(lit(1)).as("cnt"))
      .orderBy(col("event_type"))

  private val q29Sql =
    """SELECT event_type, count(DISTINCT user_id) AS uniq_users, count(*) AS cnt
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------
  // q30 uniq — the reference's adaptive-sampling sketch ported as a
  // native aggregate (UniquesHashSet.h / UniqSketch.scala): ≤256 KB
  // state per group at any cardinality, exact below 2^16 distinct
  // hashes. Algorithm-specific values above that, so rows-only (no
  // DuckDB oracle); exactness + merge invariance pinned in
  // UniqSketchSpec.
  // ---------------------------------------------------------------
  def q30(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(org.apache.spark.sql.graftbridge.Bridge.column(
        graft.functions.UniqSketch(
          org.apache.spark.sql.graftbridge.Bridge.expression(col("user_id")))
          .toAggregateExpression()).as("approx_uniq_users"))
      .orderBy(col("event_type"))

  // ---------------------------------------------------------------
  // q31 argMax / argMin (AggregateFunctionsArgMinMax.h) ≡
  // max_by/min_by with a struct tiebreak for determinism.
  // ---------------------------------------------------------------
  def q31(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        // user_id joins the ordering so the tiebreak is TOTAL w.r.t.
        // the output even if (value, event_id) ever repeats across
        // users in regenerated testdata
        max_by(col("user_id"),
          struct(col("value"), col("event_id"), col("user_id"))).as("top_user"),
        max(col("value")).as("top_value"),
        min_by(col("user_id"),
          struct(col("value"), col("event_id"), col("user_id"))).as("bottom_user"),
        min(col("value")).as("bottom_value"))
      .orderBy(col("event_type"))

  private val q31Sql =
    """SELECT a.event_type, a.user_id AS top_user, a.value AS top_value,
      |  b.user_id AS bottom_user, b.value AS bottom_value
      |FROM (SELECT event_type, user_id, value,
      |        row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id DESC, user_id DESC) AS rn
      |      FROM events) a
      |JOIN (SELECT event_type, user_id, value,
      |        row_number() OVER (PARTITION BY event_type ORDER BY value ASC, event_id ASC, user_id ASC) AS rn
      |      FROM events) b ON a.event_type = b.event_type
      |WHERE a.rn = 1 AND b.rn = 1
      |ORDER BY a.event_type""".stripMargin

  // ---------------------------------------------------------------
  // q32 groupArray / groupUniqArray (AggregateFunctionGroupArray.h) ≡
  // sorted collect_list/collect_set (sorted for determinism).
  // ---------------------------------------------------------------
  def q32(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "nation")
      .groupBy(col("n_regionkey").cast("int").as("n_regionkey"))
      .agg(
        // string render: the driver's pandas harness can't hash a raw
        // array column (numpy.ndarray is unhashable in sort_values)
        concat_ws(",", array_sort(collect_list(col("n_name")))).as("nations"),
        concat_ws(",", array_sort(collect_set(substring(col("n_name"), 1, 1)))).as("initials"))
      .orderBy(col("n_regionkey"))

  private val q32Sql =
    """SELECT n_regionkey,
      |  array_to_string(list_sort(list(n_name)), ',') AS nations,
      |  array_to_string(list_sort(list(DISTINCT substring(n_name, 1, 1))), ',') AS initials
      |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin

  // ---------------------------------------------------------------
  // q33 aggregate combinators -If / -Array analogs
  // (AggregateFunctions/AggregateFunction{If,Array}.cpp):
  // sumIf/countIf ≡ agg over when().
  // ---------------------------------------------------------------
  def q33(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(
        decOut(sum(when(col("event_type") === "purchase", dec2(col("value"))))).as("purchase_value"),
        count(when(col("event_type") === "click", lit(1))).as("n_clicks"))
      .filter(col("n_clicks") >= 5)
      .orderBy(col("user_id"))

  private val q33Sql =
    """SELECT user_id,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'purchase') AS DOUBLE) AS purchase_value,
      |  count(*) FILTER (WHERE event_type = 'click') AS n_clicks
      |FROM events GROUP BY user_id HAVING count(*) FILTER (WHERE event_type = 'click') >= 5
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------
  // q89 split/extract family under the CH names (splitByChar,
  // splitByString, alphaTokens, extractAll — FunctionsStringArray.h:
  // 20,112; FunctionsStringSearch extractAll). Arrays stringified for
  // the harness hash; DuckDB string_split/regexp_extract_all oracle.
  // ---------------------------------------------------------------
  def q89(s: SparkSession, dir: String): DataFrame = {
    graft.sql.ChSql.registerChFunctions(s)
    Tables(s, dir, "part")
      .selectExpr(
        "p_partkey",
        "concat_ws('|', splitByChar(' ', p_name)) AS by_char",
        "concat_ws('|', splitByString('la', p_name)) AS by_str",
        "concat_ws('|', alphaTokens(p_name)) AS alpha",
        "concat_ws('|', extractAll(p_name, '([a-z]+)o')) AS ext")
      .orderBy(col("p_partkey"))
  }

  private val q89Sql =
    """SELECT p_partkey,
      |  array_to_string(string_split(p_name, ' '), '|') AS by_char,
      |  array_to_string(string_split(p_name, 'la'), '|') AS by_str,
      |  array_to_string(regexp_extract_all(p_name, '[a-zA-Z]+'), '|') AS alpha,
      |  coalesce(array_to_string(regexp_extract_all(p_name, '([a-z]+)o', 1), '|'), '') AS ext
      |FROM part ORDER BY p_partkey""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q89_split_functions", q89, Some(q89Sql)),
    QueryDef("q17_conditional_multiif", q17, Some(q17Sql)),
    QueryDef("q18_transform_map", q18, Some(q18Sql)),
    QueryDef("q19_date_functions", q19, Some(q19Sql)),
    QueryDef("q20_time_bucket", q20, Some(q20Sql)),
    QueryDef("q21_string_functions", q21, Some(q21Sql)),
    QueryDef("q22_string_search", q22, Some(q22Sql)),
    QueryDef("q23_string_replace", q23, Some(q23Sql)),
    QueryDef("q24_math_rounding", q24, Some(q24Sql)),
    QueryDef("q25_json_extract", q25, Some(q25Sql)),
    QueryDef("q26_running_difference", q26, Some(q26Sql)),
    QueryDef("q27_running_accumulate", q27, Some(q27Sql)),
    QueryDef("q28_quantile_exact", q28, Some(q28Sql)),
    QueryDef("q29_uniq_exact", q29, Some(q29Sql)),
    QueryDef("q30_uniq_approx_hll", q30, None),
    QueryDef("q31_argmax_argmin", q31, Some(q31Sql)),
    QueryDef("q32_group_array", q32, Some(q32Sql)),
    QueryDef("q33_agg_combinator_if", q33, Some(q33Sql)))
}

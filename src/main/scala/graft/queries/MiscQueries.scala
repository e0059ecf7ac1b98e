package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables
import graft.functions.ch

/** URL family, coding (IPv4), conversion functions, dictionary
  * lookups and PREWHERE-style scans (SURVEY.md §2.9 URL/Coding/
  * Conversion families, §2.2 PREWHERE, FunctionsExternalDictionaries).
  */
object MiscQueries {
  // ---------------------------------------------------------------
  // q66 URL family (FunctionsURL.h: protocol/domain/path/queryString/
  // extractURLParameter/topLevelDomain/cutWWW…) — URLs synthesized
  // from document attributes, then decomposed with parse_url-backed
  // helpers; the oracle recomputes components from the same parts.
  // ---------------------------------------------------------------
  def q66(s: SparkSession, dir: String): DataFrame = {
    val urls = Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"),
        concat(lit("https://www."), col("source"), lit(".example.com/"),
          col("lang"), lit("/p"), pmod(col("doc_id"), lit(100)),
          lit("?q="), col("lang"), lit("&id="), col("doc_id")).as("url"))
    // URL kernels above the presentation sort (TextQueries q40's
    // range-sampling note): the sampling pass builds the url column
    // but not the 8 extraction kernels
    urls.select(col("doc_id"), col("url"))
      .orderBy(col("doc_id"))
      .select(
        col("doc_id"),
        ch.protocol(col("url")).as("proto"),
        ch.domain(col("url")).as("host"),
        ch.domainWithoutWWW(col("url")).as("host_nowww"),
        ch.topLevelDomain(col("url")).as("tld"),
        ch.path(col("url")).as("path"),
        ch.queryString(col("url")).as("qs"),
        ch.extractURLParameter(col("url"), "id").as("id_param"),
        ch.cutQueryString(col("url")).as("no_qs"))
  }

  private val q66Sql =
    """SELECT doc_id,
      |  'https' AS proto,
      |  'www.' || source || '.example.com' AS host,
      |  source || '.example.com' AS host_nowww,
      |  'com' AS tld,
      |  '/' || lang || '/p' || (doc_id % 100) AS path,
      |  'q=' || lang || '&id=' || doc_id AS qs,
      |  CAST(doc_id AS VARCHAR) AS id_param,
      |  'https://www.' || source || '.example.com/' || lang || '/p' || (doc_id % 100) AS no_qs
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q67 IPv4 coding (FunctionsCoding.h IPv4NumToString /
  // IPv4StringToNum) — pure bit arithmetic, roundtrip-checked.
  // ---------------------------------------------------------------
  def q67(s: SparkSession, dir: String): DataFrame = {
    // ipstr and the split-parts array are PlanBarrier-wrapped (the q46
    // idiom): un-barriered, PushDownPredicates pushed the roundtrip
    // filter below both projections with the FULL concat_ws+split
    // chain inlined once per element_at — four format+parse passes per
    // row in the pushed condition (the committed before-plan shows
    // it), plus the ipstr recompute above. Barriered: format once,
    // split once, compare attributes. Same rows, same aggregate.
    def pb(c: org.apache.spark.sql.Column) =
      org.apache.spark.sql.graftbridge.Bridge.column(
        graft.functions.PlanBarrier(
          org.apache.spark.sql.graftbridge.Bridge.expression(c)))
    val ip = pmod(col("user_id") * 2654435761L, lit(4294967296L))
    Tables(s, dir, "events")
      .select(col("event_id"), ip.as("ipnum"))
      .select(col("event_id"), col("ipnum"),
        pb(concat_ws(".",
          shiftright(col("ipnum"), 24).bitwiseAND(255),
          shiftright(col("ipnum"), 16).bitwiseAND(255),
          shiftright(col("ipnum"), 8).bitwiseAND(255),
          col("ipnum").bitwiseAND(255))).as("ipstr"))
      .withColumn("parts", pb(split(col("ipstr"), "\\.")))
      .withColumn("roundtrip",
        (element_at(col("parts"), 1).cast("long") * 16777216L +
          element_at(col("parts"), 2).cast("long") * 65536L +
          element_at(col("parts"), 3).cast("long") * 256L +
          element_at(col("parts"), 4).cast("long")))
      .filter(col("roundtrip") === col("ipnum"))
      .agg(count(lit(1)).as("n_roundtrip_ok"), max(col("ipstr")).as("max_ip"))
  }

  private val q67Sql =
    """SELECT count(*) AS n_roundtrip_ok, max(ipstr) AS max_ip FROM (
      |  SELECT ipnum,
      |    ((ipnum // 16777216) % 256) || '.' || ((ipnum // 65536) % 256) || '.' ||
      |    ((ipnum // 256) % 256) || '.' || (ipnum % 256) AS ipstr
      |  FROM (SELECT ((user_id * 2654435761) % 4294967296) AS ipnum FROM events))""".stripMargin

  // ---------------------------------------------------------------
  // q68 conversion family (FunctionsConversion.h) — toUInt8 wraps
  // mod 256, toString/toDate/toFixedString(rpad), parse-from-string.
  // ---------------------------------------------------------------
  def q68(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .select(col("o_orderkey"),
        pmod(col("o_orderkey"), lit(256)).cast("int").as("to_uint8"),
        col("o_totalprice").cast("long").as("to_int64"),
        concat(col("o_orderkey").cast("string"), lit("#"), col("o_orderstatus")).as("to_string"),
        to_date(col("o_orderdate")).cast("string").as("to_date_str"),
        rpad(col("o_orderstatus"), 4, " ").as("to_fixed4"),
        substring(col("o_orderdate").cast("string"), 1, 4).cast("int").as("parsed_year"))
      .orderBy(col("o_orderkey")).limit(1000)

  private val q68Sql =
    """SELECT o_orderkey,
      |  CAST(o_orderkey % 256 AS INTEGER) AS to_uint8,
      |  CAST(trunc(o_totalprice) AS BIGINT) AS to_int64,
      |  o_orderkey || '#' || o_orderstatus AS to_string,
      |  CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS to_date_str,
      |  rpad(o_orderstatus, 4, ' ') AS to_fixed4,
      |  CAST(substring(CAST(o_orderdate AS VARCHAR), 1, 4) AS INTEGER) AS parsed_year
      |FROM orders ORDER BY o_orderkey LIMIT 1000""".stripMargin

  // ---------------------------------------------------------------
  // q69 dictGet ≡ broadcast map lookup — the nation "dictionary"
  // (25 entries) collected once and shipped as a literal map, exactly
  // the reference's in-RAM flat dictionary layout
  // (Interpreters/DictionaryFactory.cpp flat). At 1000 executors the
  // map rides the closure — no join, no shuffle.
  // ---------------------------------------------------------------
  def q69(s: SparkSession, dir: String): DataFrame = {
    val dict: Map[Long, String] = Tables(s, dir, "nation")
      .select(col("n_nationkey").cast("long"), col("n_name"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    Tables(s, dir, "customer")
      .select(col("c_custkey"),
        element_at(typedLit(dict), col("c_nationkey").cast("long")).as("nation_name"))
      .groupBy(col("nation_name"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("nation_name"))
  }

  private val q69Sql =
    """SELECT n.n_name AS nation_name, count(*) AS n_customers
      |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      |GROUP BY 1 ORDER BY nation_name""".stripMargin

  // ---------------------------------------------------------------
  // q70 PREWHERE-style scan (MergeTreeWhereOptimizer) — a cheap
  // selective predicate plus narrow projection; on Spark the filter
  // and the 2-column ReadSchema reach the parquet scan (verified by
  // PlanShapeSpec via explain), which IS the prewhere effect: late
  // materialization of untouched columns.
  // ---------------------------------------------------------------
  def q70(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .filter(col("l_quantity") === 50)
      .select(col("l_orderkey"), col("l_quantity"))
      .agg(count(lit(1)).as("cnt"), sum(col("l_orderkey")).as("key_sum"))

  private val q70Sql =
    """SELECT count(*) AS cnt, CAST(sum(l_orderkey) AS BIGINT) AS key_sum
      |FROM lineitem WHERE l_quantity = 50""".stripMargin

  // ---------------------------------------------------------------
  // q93 embedded region dictionary
  // (FunctionsEmbeddedDictionaries.cpp:9-11): regionTo*/regionIn/
  // dictGetHierarchy walk a broadcast parent-pointer hierarchy. The
  // synthetic fixture is arithmetic in the id (city 1000+k → area
  // 100+k/5 → country 10+k/10 → continent 1+(k/10)%2), so DuckDB
  // re-derives every walk exactly.
  // ---------------------------------------------------------------
  def q93(s: SparkSession, dir: String): DataFrame = {
    graft.GraftFunctions.register(s)
    Tables(s, dir, "customer")
      .select(col("c_nationkey").cast("long").as("k")).distinct()
      .withColumn("city_id", col("k") + 1000L)
      .selectExpr(
        "k",
        "regionToCity(city_id) AS city",
        "regionToArea(city_id) AS area",
        "regionToCountry(city_id) AS country",
        "regionToContinent(city_id) AS continent",
        "CAST(regionIn(city_id, CAST(1 AS BIGINT)) AS BIGINT) AS in_continent1",
        "concat_ws('/', CAST(dictGetHierarchy('regions', city_id) AS ARRAY<STRING>)) AS chain")
      .orderBy(col("k"))
  }

  private val q93Sql =
    """SELECT k, 1000 + k AS city, 100 + k // 5 AS area, 10 + k // 10 AS country,
      |  1 + (k // 10) % 2 AS continent,
      |  CAST(CASE WHEN (k // 10) % 2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS in_continent1,
      |  CAST(1000 + k AS VARCHAR) || '/' || CAST(100 + k // 5 AS VARCHAR) || '/' ||
      |    CAST(10 + k // 10 AS VARCHAR) || '/' || CAST(1 + (k // 10) % 2 AS VARCHAR) AS chain
      |FROM (SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS k FROM customer)
      |ORDER BY k""".stripMargin

  // ---------------------------------------------------------------
  // q124 range_hashed dictionary (Dictionaries/RangeHashedDictionary,
  // DictionaryFactory.cpp range_hashed): per-id date-range entries;
  // dictGetT(id, date) returns the first containing range's value.
  // The dictionary derives from the nation table — for each key k,
  // the four quarters of 1996 carry rate k·10+quarter and an OPEN
  // upper bound from 1997-01-01 carries k·10+9 — so the DuckDB oracle
  // re-derives every lookup arithmetically. Broadcast per-row probe:
  // the orders scan never shuffles for the lookup.
  // ---------------------------------------------------------------
  def q124(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.RangeHashedDict
    val quarters = Seq(
      (1, "1996-01-01", "1996-03-31"), (2, "1996-04-01", "1996-06-30"),
      (3, "1996-07-01", "1996-09-30"), (4, "1996-10-01", "1996-12-31"))
    val qdf = s.createDataFrame(quarters).toDF("q", "lo", "hi")
    val nations = Tables(s, dir, "nation").select(col("n_nationkey").cast("long").as("id"))
    val src = nations.crossJoin(qdf)
      .select(col("id"), to_date(col("lo")).as("lower"),
        to_date(col("hi")).as("upper"),
        (col("id") * 10 + col("q")).as("value"))
      .unionByName(nations.select(col("id"),
        to_date(lit("1997-01-01")).as("lower"),
        lit(null).cast("date").as("upper"),
        (col("id") * 10 + lit(9)).as("value")))
    val dict = RangeHashedDict.build(src, "id", "lower", "upper", "value")
    Tables(s, dir, "orders")
      .select(pmod(col("o_custkey"), lit(25)).cast("long").as("k"),
        to_date(col("o_orderdate")).as("od"))
      .select(col("k"),
        RangeHashedDict.dictGet(dict, col("k"), col("od"), 0L).as("rate"))
      .groupBy(col("k"))
      .agg(sum(col("rate")).as("rate_sum"), count(lit(1)).as("n"))
      .orderBy(col("k"))
  }

  private val q124Sql =
    """SELECT o_custkey % 25 AS k,
      |  CAST(SUM(CASE WHEN o_orderdate >= DATE '1996-01-01' AND o_orderdate <= DATE '1996-12-31'
      |             THEN (o_custkey % 25) * 10 + quarter(o_orderdate)
      |           WHEN o_orderdate >= DATE '1997-01-01'
      |             THEN (o_custkey % 25) * 10 + 9
      |           ELSE 0 END) AS BIGINT) AS rate_sum,
      |  COUNT(*) AS n
      |FROM orders GROUP BY 1 ORDER BY k""".stripMargin

  // ---------------------------------------------------------------
  // q125 metadata-only aggregate (operators/MetadataAggregate):
  // count()/min/max over an unfiltered parquet relation answered from
  // the file footers — the reference's part-metadata count. Routed
  // through the dialect (ChDdl) so the footer path itself is what the
  // DuckDB oracle checks.
  // ---------------------------------------------------------------
  def q125(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "orders").createOrReplaceTempView("orders_meta")
    val df = graft.sql.ChDdl.execute(s,
      "SELECT count() AS n, min(o_orderkey) AS kmin, max(o_orderkey) AS kmax, " +
        "min(o_custkey) AS cmin, max(o_custkey) AS cmax FROM orders_meta").get
    df
  }

  private val q125Sql =
    """SELECT count(*) AS n, min(o_orderkey) AS kmin, max(o_orderkey) AS kmax,
      |  min(o_custkey) AS cmin, max(o_custkey) AS cmax FROM orders""".stripMargin

  // ---------------------------------------------------------------
  // q126 complex_key_hashed dictionary
  // (Dictionaries/ComplexKeyHashedDictionary.cpp; factory
  // Interpreters/DictionaryFactory.cpp): composite (String, Int) key
  // → Long attribute. The dictionary is min(p_partkey) per
  // (p_brand, p_size); the probe shifts size by +1 so part of the
  // keys MISS and take the configured default (-1) — both paths
  // re-derivable in DuckDB as a LEFT JOIN + COALESCE. Broadcast
  // per-row probe: the part scan never shuffles for the lookup.
  // ---------------------------------------------------------------
  def q126(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.ComplexKeyHashedDict
    val part = Tables(s, dir, "part")
    val dictSrc = part.groupBy(col("p_brand"), col("p_size"))
      .agg(min(col("p_partkey")).cast("long").as("v"))
    val dict = ComplexKeyHashedDict.build(
      dictSrc, Seq("p_brand", "p_size"), "v",
      org.apache.spark.sql.types.LongType)
    part.select(col("p_brand").as("brand"),
        ComplexKeyHashedDict.dictGet(dict,
          Seq(col("p_brand"), col("p_size") + lit(1)), lit(-1L)).as("v"))
      .groupBy(col("brand"))
      .agg(sum(col("v")).as("vsum"), count(lit(1)).as("n"))
      .orderBy(col("brand"))
  }

  private val q126Sql =
    """WITH d AS (
      |  SELECT p_brand, p_size, CAST(MIN(p_partkey) AS BIGINT) AS v
      |  FROM part GROUP BY 1, 2)
      |SELECT p.p_brand AS brand,
      |  CAST(SUM(COALESCE(d.v, -1)) AS BIGINT) AS vsum,
      |  COUNT(*) AS n
      |FROM part p
      |LEFT JOIN d ON d.p_brand = p.p_brand AND d.p_size = p.p_size + 1
      |GROUP BY 1 ORDER BY brand""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q66_url_functions", q66, Some(q66Sql)),
    QueryDef("q67_ipv4_coding", q67, Some(q67Sql)),
    QueryDef("q68_conversions", q68, Some(q68Sql)),
    QueryDef("q69_dict_get_broadcast", q69, Some(q69Sql)),
    QueryDef("q70_prewhere_pushdown", q70, Some(q70Sql)),
    QueryDef("q93_region_dict", q93, Some(q93Sql)),
    QueryDef("q124_range_hashed_dict", q124, Some(q124Sql)),
    QueryDef("q125_metadata_minmax", q125, Some(q125Sql)),
    QueryDef("q126_complex_key_dict", q126, Some(q126Sql)))
}

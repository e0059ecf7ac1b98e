package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Seeded synthetic `hits` table with the 93 columns of the reference
  * benchmark schema. The column recipe follows graft's Bench43
  * generator (same marginals, so the 43 queries select rows), but it
  * lives here and every hash is salted with the seed: the same seed
  * always gives the same files, another seed gives other data, and no
  * edit to graft's own generator can move the benchmark's input. */
object HitsGen {

  /** Rows per output file; files are range-partitioned by
    * (CounterID, EventDate) so the date-range queries can prune. */
  val RowsPerFile = 40000L

  def generate(spark: SparkSession, path: String, rows: Long, seed: Long): Unit = {
    val exampleRuHash = graft.functions.HashFns.halfMD5(
      "http://example.ru/".getBytes("UTF-8"))
    def h(k: Int) = xxhash64(col("id"), lit(seed), lit(k))
    def p(k: Int, m: Long) = pmod(h(k), lit(m))
    def pick[T](k: Int, xs: Seq[T]) =
      element_at(array(xs.map(lit): _*), (p(k, xs.size) + 1).cast("int"))
    val files = math.max(8L, rows / RowsPerFile).toInt
    spark.sparkContext.hadoopConfiguration
      .setInt("parquet.page.row.count.limit", 8192)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val df = spark.range(0, rows, 1, files)
      .withColumn("WatchID", h(1))
      .withColumn("JavaEnable", p(2, 2).cast("int"))
      .withColumn("Title",
        when(p(3, 100) < 2, concat(lit("Яндекс страница "), p(4, 100000)))
          .otherwise(concat(lit("Title "), p(4, 100000))))
      .withColumn("GoodEvent", lit(1))
      .withColumn("EventTime", to_timestamp(lit("2013-07-01 00:00:00"))
        + make_dt_interval(lit(0), lit(0), lit(0), p(5, 31L * 86400).cast("double")))
      .withColumn("EventDate", to_date(col("EventTime")))
      .withColumn("CounterID", when(p(6, 100) < 5, 34L).otherwise(p(7, 5000)))
      .withColumn("ClientIP", p(8, 1L << 32))
      .withColumn("RegionID", p(9, 1000))
      .withColumn("UserID", xxhash64(pmod(h(10), lit(rows / 6 + 1)), lit(seed)))
      .withColumn("CounterClass", lit(0))
      .withColumn("OS", p(11, 100).cast("int"))
      .withColumn("UserAgent", p(12, 100).cast("int"))
      .withColumn("URL",
        when(p(13, 100) < 8,
          concat(lit("http://yandex.ru/metrika/page/"), p(14, 100000)))
          .when(p(13, 100) < 13,
            concat(lit("http://m.yandex.ru/page/"), p(14, 1000000)))
          .when(p(13, 100) < 14, lit(""))
          .otherwise(concat(lit("http://example.com/page/"), p(14, 1000000))))
      .withColumn("Referer",
        when(p(15, 2) === 0, lit(""))
          .otherwise(concat(lit("http://www.r"), p(16, 100000),
            lit(".example.org/ref/"), p(17, 1000))))
      .withColumn("Refresh", (p(18, 50) === 0).cast("int"))
      .withColumn("RefererCategoryID", p(19, 100).cast("int"))
      .withColumn("RefererRegionID", p(20, 1000))
      .withColumn("URLCategoryID", p(21, 100).cast("int"))
      .withColumn("URLRegionID", p(22, 1000))
      .withColumn("ResolutionWidth",
        pick(23, Seq(1366, 1920, 1280, 1024, 768, 360, 1440, 1600)).cast("int"))
      .withColumn("ResolutionHeight",
        pick(23, Seq(768, 1080, 800, 768, 1024, 640, 900, 1200)).cast("int"))
      .withColumn("ResolutionDepth", lit(24))
      .withColumn("FlashMajor", p(24, 12).cast("int"))
      .withColumn("FlashMinor", p(25, 10).cast("int"))
      .withColumn("FlashMinor2", lit(""))
      .withColumn("NetMajor", lit(0)).withColumn("NetMinor", lit(0))
      .withColumn("UserAgentMajor", p(26, 30).cast("int"))
      .withColumn("CookieEnable", lit(1))
      .withColumn("JavascriptEnable", lit(1))
      .withColumn("IsMobile", (p(27, 4) === 0).cast("int"))
      .withColumn("MobilePhone", p(28, 10).cast("int"))
      .withColumn("MobilePhoneModel",
        when(p(29, 100) < 5,
          pick(30, Seq("iPhone 5", "Galaxy S4", "Lumia 920", "Nexus 4")))
          .otherwise(lit("")))
      .withColumn("Params", lit(""))
      .withColumn("IPNetworkID", p(31, 100000))
      .withColumn("TraficSourceID", (p(32, 12) - 1).cast("int"))
      .withColumn("SearchEngineID", p(33, 50).cast("int"))
      .withColumn("SearchPhrase",
        when(p(34, 100) < 10, concat(lit("search phrase "), p(35, 100000)))
          .otherwise(lit("")))
      .withColumn("AdvEngineID",
        when(p(36, 100) < 2, (p(37, 20) + 1).cast("int")).otherwise(lit(0)))
      .withColumn("IsArtifical", (p(38, 100) === 0).cast("int"))
      .withColumn("WindowClientWidth",
        pick(23, Seq(1366, 1903, 1263, 1008, 751, 360, 1423, 1583)).cast("int"))
      .withColumn("WindowClientHeight",
        pick(23, Seq(667, 955, 700, 668, 923, 560, 800, 1100)).cast("int"))
      .withColumn("ClientTimeZone", lit(-180))
      .withColumn("ClientEventTime", col("EventTime"))
      .withColumn("SilverlightVersion1", lit(0))
      .withColumn("SilverlightVersion2", lit(0))
      .withColumn("SilverlightVersion3", lit(0L))
      .withColumn("SilverlightVersion4", lit(0))
      .withColumn("PageCharset", lit("utf-8"))
      .withColumn("CodeVersion", p(39, 1000))
      .withColumn("IsLink", (p(40, 10) === 0).cast("int"))
      .withColumn("IsDownload", (p(41, 100) === 0).cast("int"))
      .withColumn("IsNotBounce", (p(42, 3) === 0).cast("int"))
      .withColumn("FUniqID", h(43))
      .withColumn("OriginalURL", lit(""))
      .withColumn("HID", h(44))
      .withColumn("IsOldCounter", lit(0))
      .withColumn("IsEvent", lit(0))
      .withColumn("IsParameter", lit(0))
      .withColumn("DontCountHits", (p(45, 20) === 0).cast("int"))
      .withColumn("WithHash", lit(0))
      .withColumn("HitColor", pick(46, Seq("K", "G", "P")))
      .withColumn("LocalEventTime", col("EventTime"))
      .withColumn("Age", p(47, 80).cast("int"))
      .withColumn("Sex", p(48, 2).cast("int"))
      .withColumn("Income", p(49, 10).cast("int"))
      .withColumn("Interests", p(50, 1000).cast("int"))
      .withColumn("Robotness", (p(51, 50) === 0).cast("int"))
      .withColumn("RemoteIP", p(52, 1L << 32))
      .withColumn("WindowName", lit(-1))
      .withColumn("OpenerName", lit(-1))
      .withColumn("HistoryLength", p(53, 30).cast("int"))
      .withColumn("SocialNetwork", lit(""))
      .withColumn("SocialAction", lit(""))
      .withColumn("HTTPError", lit(0))
      .withColumn("SendTiming", p(54, 1000))
      .withColumn("DNSTiming", p(55, 200))
      .withColumn("ConnectTiming", p(56, 300))
      .withColumn("ResponseStartTiming", p(57, 800))
      .withColumn("ResponseEndTiming", p(58, 1500))
      .withColumn("FetchTiming", p(59, 2000))
      .withColumn("SocialSourceNetworkID", lit(0))
      .withColumn("SocialSourcePage", lit(""))
      .withColumn("ParamPrice", lit(0))
      .withColumn("ParamOrderID", lit(""))
      .withColumn("OpenstatServiceName", lit(""))
      .withColumn("OpenstatCampaignID", lit(""))
      .withColumn("OpenstatAdID", lit(""))
      .withColumn("OpenstatSourceID", lit(""))
      .withColumn("UTMSource", lit(""))
      .withColumn("UTMMedium", lit(""))
      .withColumn("UTMCampaign", lit(""))
      .withColumn("UTMContent", lit(""))
      .withColumn("UTMTerm", lit(""))
      .withColumn("FromTag", lit(""))
      .withColumn("HasGCLID", lit(0))
      .withColumn("RefererHash",
        when(p(60, 1000) === 0, lit(exampleRuHash)).otherwise(h(61)))
      .withColumn("URLHash",
        when(p(62, 1000) === 0, lit(exampleRuHash)).otherwise(h(63)))
      .withColumn("CLID", p(64, 100000))
      .drop("id")
    // Range layout without sampling (repartitionByRange samples with a
    // seed taken from the RDD id, which is not stable): CounterID 34 gets
    // two files split by day of month, the other counters are cut into
    // equal ranges. Each file number is mapped to a key that Spark's hash
    // partitioning sends to exactly that partition.
    val slot = spark.range(0, 100000).select(col("id"),
        pmod(hash(col("id").cast("int")), lit(files)).as("p")).collect()
      .map(r => r.getInt(1) -> r.getLong(0).toInt).groupBy(_._1)
      .map { case (part, ids) => part -> ids.map(_._2).min }
    val fileOf = when(col("CounterID") === 34,
        when(dayofmonth(col("EventDate")) <= 15, 0).otherwise(1))
      .otherwise(floor(col("CounterID") * (files - 2) / 5000).cast("int") + 2)
    val key = element_at(array((0 until files).map(i => lit(slot(i))): _*), fileOf + 1)
    df.withColumn("_file", key).repartition(files, col("_file")).drop("_file")
      .sortWithinPartitions("CounterID", "EventDate", "WatchID")
      .write.mode("overwrite").option("compression", "snappy").parquet(path)
  }
}

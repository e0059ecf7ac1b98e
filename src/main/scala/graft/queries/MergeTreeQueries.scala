package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables
import graft.queries.CoreQueries.{dec2, decOut}

/** MergeTree-family table semantics restated as read-views
  * (SURVEY.md §2.1): Replacing / Summing / Collapsing fold rows with
  * equal sort key at merge time; on Spark the same semantics are a
  * declarative read-view (window-dedup / groupBy-sum), and the
  * background merge becomes an OPTIMIZE-style compaction job writing
  * the folded result back (graft.operators.Compaction).
  *
  * Scale note: every view here shuffles exactly once on the sort key —
  * the same data movement a distributed merge would do — and all
  * aggregation is partial/final (map-side combine), so the plans hold
  * at 1000-executor scale.
  */
object MergeTreeQueries {
  // ---------------------------------------------------------------
  // q34 ReplacingMergeTree FINAL — keep the max-version row per sort
  // key (reference: ReplacingSortedBlockInputStream.h:11-15). Key =
  // (user_id, event_type), version = (ts, event_id).
  // ---------------------------------------------------------------
  // max_by over a groupBy, not a row_number window: a declarative
  // aggregate gets map-side partial aggregation (one candidate per
  // key per task into the exchange), where a window must shuffle and
  // sort every event row first. (ts, event_id) is unique per key, so
  // "last" is deterministic.
  def q34(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy(col("user_id"), col("event_type"))
      // value joins the version so the tiebreak is TOTAL w.r.t. the
      // output even if (ts, event_id) ever repeats in regenerated data
      .agg(max_by(struct(col("event_id"), col("value")),
        struct(col("ts"), col("event_id"), col("value"))).as("__last"))
      .select(col("user_id"), col("event_type"),
        col("__last").getField("event_id").as("last_event_id"),
        col("__last").getField("value").as("last_value"))
      .orderBy(col("user_id"), col("event_type"))

  private val q34Sql =
    """SELECT user_id, event_type, event_id AS last_event_id, value AS last_value
      |FROM (SELECT *, row_number() OVER (
      |        PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC, value DESC) AS rn
      |      FROM events) WHERE rn = 1
      |ORDER BY user_id, event_type""".stripMargin

  // ---------------------------------------------------------------
  // q35 SummingMergeTree — rows with equal sort key folded by summing
  // numeric columns; zero-sum rows dropped (reference:
  // SummingSortedBlockInputStream.h:17-21).
  // ---------------------------------------------------------------
  def q35(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(decOut(sum(dec2(col("value")))).as("sum_value"), count(lit(1)).as("n_rows"))
      .filter(col("sum_value") =!= 0)
      .orderBy(col("user_id"))

  private val q35Sql =
    """SELECT user_id, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value, count(*) AS n_rows
      |FROM events GROUP BY user_id
      |HAVING sum(CAST(value AS DECIMAL(18,2))) <> 0
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------
  // q36 CollapsingMergeTree — a ±1 sign column cancels row pairs at
  // merge; FINAL read keeps keys whose sign-sum is positive
  // (reference: CollapsingSortedBlockInputStream.h:14-22). Sign
  // derived here: 'error' events cancel, everything else asserts.
  // ---------------------------------------------------------------
  def q36(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .withColumn("sign", when(col("event_type") === "error", -1).otherwise(1))
      .groupBy(col("user_id"))
      .agg(sum(col("sign")).cast("long").as("net_sign"),
        decOut(sum(col("sign") * dec2(col("value")))).as("net_value"))
      .filter(col("net_sign") > 0)
      .orderBy(col("user_id"))

  private val q36Sql =
    """SELECT user_id, CAST(sum(sign) AS BIGINT) AS net_sign,
      |  CAST(sum(sign * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS net_value
      |FROM (SELECT user_id, value,
      |        CASE WHEN event_type = 'error' THEN -1 ELSE 1 END AS sign
      |      FROM events)
      |GROUP BY user_id HAVING CAST(sum(sign) AS BIGINT) > 0
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------
  // q37 deterministic SAMPLE — the reference rewrites `SAMPLE 0.1`
  // into a range predicate on a hash of the sampling key
  // (MergeTreeDataSelectExecutor.cpp:279-437): deterministic and
  // subset-composable, unlike row-random df.sample(). Knuth
  // multiplicative hash keeps both engines bit-identical.
  // (At real UInt64 key scale the multiply is done in modular 2^32
  // arithmetic — pmod here bounds the product first.)
  // ---------------------------------------------------------------
  def q37(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .filter(pmod(pmod(col("l_orderkey"), lit(4294967296L)) * 40503L, lit(65536L)) <
        lit(6554L))
      .agg(count(lit(1)).as("sample_rows"),
        sum(col("l_quantity").cast("long")).as("sample_qty"))

  private val q37Sql =
    """SELECT count(*) AS sample_rows,
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sample_qty
      |FROM lineitem
      |WHERE ((l_orderkey % 4294967296) * 40503) % 65536 < 6554""".stripMargin

  // ---------------------------------------------------------------
  // q38 Merge engine — union over tables matching a pattern with a
  // `_table` virtual column (reference: StorageMerge.cpp,
  // VirtualColumnFactory.cpp:30-33).
  // ---------------------------------------------------------------
  def q38(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
      .select(lit("customer").as("_table"), col("c_custkey").as("key"),
        col("c_name").as("name"), col("c_nationkey").as("nationkey"))
    val su = Tables(s, dir, "supplier")
      .select(lit("supplier").as("_table"), col("s_suppkey").as("key"),
        col("s_name").as("name"), col("s_nationkey").as("nationkey"))
    c.unionByName(su)
      .groupBy(col("_table"), col("nationkey"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("_table"), col("nationkey"))
  }

  private val q38Sql =
    """SELECT _table, nationkey, count(*) AS cnt FROM (
      |  SELECT 'customer' AS _table, c_nationkey AS nationkey FROM customer
      |  UNION ALL
      |  SELECT 'supplier' AS _table, s_nationkey AS nationkey FROM supplier)
      |GROUP BY _table, nationkey ORDER BY _table, nationkey""".stripMargin

  // ---------------------------------------------------------------
  // q39 month-partition key — MergeTree partitions parts by
  // toYYYYMM(date) (MergeTreeData.h:59-61); on Spark the same column
  // is the partitionBy key enabling partition pruning.
  // ---------------------------------------------------------------
  def q39(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .groupBy(graft.functions.ch.toYYYYMM(col("o_orderdate")).as("yyyymm"))
      .agg(count(lit(1)).as("cnt"), decOut(sum(dec2(col("o_totalprice")))).as("total"))
      .orderBy(col("yyyymm"))

  private val q39Sql =
    """SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INTEGER) AS yyyymm,
      |  count(*) AS cnt, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY 1 ORDER BY yyyymm""".stripMargin

  // ---------------------------------------------------------------
  // q97 GraphiteMergeTree retention rollup
  // (GraphiteRollupSortedBlockInputStream.h:29-82) — the events table
  // viewed as a (Path, Time, Value, Version) series: click/purchase
  // metrics roll up under `max`, everything else under `min`, with a
  // two-rung age ladder (hour/2-hour buckets for data younger than 45
  // days at merge time, day buckets beyond). The merge reference time
  // is max(Time) + 30 days, so the ladder boundary falls mid-data and
  // BOTH tiers appear in the result. The single-row max(Time) lookup
  // mirrors the reference's time_of_merge scalar (a merge-job
  // parameter, not a per-row value); the rollup itself is the
  // two-hash-agg GraphiteRollup fold — no windows, no driver state.
  // Version = event_id, so the max-version dedup of second-resolution
  // collisions is deterministic in both engines.
  // ---------------------------------------------------------------
  def q97(s: SparkSession, dir: String): DataFrame = {
    import graft.storage.GraphiteRollup
    val series = Tables(s, dir, "events").select(
      col("event_type").as("Path"),
      col("ts").cast("long").as("Time"),
      col("value").as("Value"),
      col("event_id").cast("long").as("Version"))
    // time_of_merge from parquet FOOTER stats when they answer max(ts)
    // exactly (MetadataAggregate — the same metadata-only path q125
    // pins), falling back to the scan job otherwise. The aggregate
    // runs over the RAW relation (Tables' ts normalization adds a
    // Project that blocks the relation match) and the normalization —
    // nanos div 1000 → µs, or NTZ reinterpreted in the UTC session
    // zone, exactly Tables' branches — applies to the ONE max row:
    // both conversions and the epoch-seconds cast are monotone, so
    // they commute with max. The head() on the rewritten
    // LocalRelation is driver-only — no Spark job.
    val rawEvents = Tables.read(s, s"$dir/events.parquet")
    val rawMax = rawEvents.agg(max(col("ts")).as("m"))
    val maxDf = graft.operators.MetadataAggregate.maybeRewrite(s, rawMax)
      .getOrElse(rawMax)
    val tMerge = (rawEvents.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        maxDf.select(expr("timestamp_micros(m div 1000)").cast("long"))
      case _ =>
        maxDf.select(col("m").cast("timestamp").cast("long"))
    }).head().getLong(0) + 2592000L
    val params = GraphiteRollup.Params(
      pathCol = "Path", timeCol = "Time", valueCol = "Value",
      versionCol = "Version",
      patterns = Seq(
        GraphiteRollup.Pattern(Some("^(click|purchase)"), "max",
          Seq(GraphiteRollup.Retention(0, 3600),
            GraphiteRollup.Retention(3888000, 86400))),
        GraphiteRollup.Pattern(None, "min",
          Seq(GraphiteRollup.Retention(0, 7200),
            GraphiteRollup.Retention(3888000, 86400)))))
    GraphiteRollup.rollup(series, params, tMerge)
      .select(col("Path").as("path"), col("Time").as("time"),
        col("Value").as("value"))
      .orderBy(col("path"), col("time"))
  }

  private val q97Sql =
    """WITH base AS (
      |  SELECT event_type AS path, CAST(floor(epoch(ts)) AS BIGINT) AS t,
      |    arg_max(value, event_id) AS value
      |  FROM events GROUP BY 1, 2),
      |tm AS (SELECT max(t) + 2592000 AS tmerge FROM base),
      |r AS (SELECT path, value,
      |    CASE WHEN (SELECT tmerge FROM tm) - t >= 3888000 THEN t - t % 86400
      |         WHEN regexp_matches(path, '^(click|purchase)') THEN t - t % 3600
      |         ELSE t - t % 7200 END AS time,
      |    regexp_matches(path, '^(click|purchase)') AS is_max
      |  FROM base)
      |SELECT path, time,
      |  CASE WHEN bool_and(is_max) THEN max(value) ELSE min(value) END AS value
      |FROM r GROUP BY path, time ORDER BY path, time""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q97_graphite_rollup", q97, Some(q97Sql)),
    QueryDef("q34_replacing_final", q34, Some(q34Sql)),
    QueryDef("q35_summing_merge", q35, Some(q35Sql)),
    QueryDef("q36_collapsing_sign", q36, Some(q36Sql)),
    QueryDef("q37_sample_deterministic", q37, Some(q37Sql)),
    QueryDef("q38_merge_engine_union", q38, Some(q38Sql)),
    QueryDef("q39_month_partition_key", q39, Some(q39Sql)))
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables
import graft.operators.{AsOfJoin, SaltedJoin}

/** Driver-checked queries for the standalone join operators
  * ([[graft.operators.AsOfJoin]], [[graft.operators.SaltedJoin]]).
  * Both are beyond-the-reference extensions (SURVEY.md §2.3 "absent")
  * that a training-data pipeline needs: point-in-time feature lookup
  * and hot-key-safe joins.
  */
object OperatorQueries {
  // ---------------------------------------------------------------
  // q84 as-of join — every click event picks up the most recent
  // (ts' <= ts) purchase value of the same user. Single shuffle on
  // the key, linear window pass (AsOfJoin.scala). The right side is
  // pre-aggregated per (user, ts) so ties are deterministic on both
  // engines.
  // ---------------------------------------------------------------
  def q84(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("last_purchase_value"))
    AsOfJoin(clicks, purchases, key = "user_id",
      leftTime = "ts", rightTime = "ts",
      rightVals = Seq("last_purchase_value"))
      .select(col("user_id"), col("event_id"), col("last_purchase_value"))
      .orderBy(col("user_id"), col("event_id"))
  }

  // DuckDB's ASOF LEFT JOIN picks the greatest r.ts <= l.ts — the same
  // right-row-visible-at-equal-instant semantics as AsOfJoin's
  // right-before-left tie order.
  private val q84Sql =
    """SELECT l.user_id, l.event_id, r.last_purchase_value
      |FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click') l
      |ASOF LEFT JOIN (
      |  SELECT user_id, ts, max(value) AS last_purchase_value
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts) r
      |ON l.user_id = r.user_id AND l.ts >= r.ts
      |ORDER BY l.user_id, l.event_id""".stripMargin

  // ---------------------------------------------------------------
  // q85 skew-salted join — lineitem×supplier through SaltedJoin
  // (8 salt buckets spread any hot l_suppkey over 8 reducers; the
  // supplier side replicates 8×). Results must equal the plain join.
  // ---------------------------------------------------------------
  def q85(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .select(col("l_suppkey"), col("l_quantity"))
    val su = Tables(s, dir, "supplier")
      .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
    SaltedJoin(li, su, keys = Seq("l_suppkey"), buckets = 8)
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast("long")).as("sum_qty"))
      .orderBy(col("s_nationkey"))
  }

  private val q85Sql =
    """SELECT s_nationkey, count(*) AS n_lines,
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin

  // ---------------------------------------------------------------
  // q113 retention cohorts — the classic product-analytics rollup the
  // reference's event workloads are built around: users grouped by
  // first-activity week (their cohort), then per (cohort, week-offset)
  // counts of users still active, alongside the cohort size.
  //
  // Scale shape: weekly activity de-dups per (user, week) FIRST (the
  // big reduction — events collapse to at most users×weeks rows
  // before anything joins), then the cohort join and the rollup
  // co-partition on user_id / (cohort, offset). Day-level event
  // volume never reaches the join.
  // ---------------------------------------------------------------
  def q113(s: SparkSession, dir: String): DataFrame = {
    val activity = Tables(s, dir, "events")
      .select(col("user_id"),
        to_date(date_trunc("week", col("ts"))).as("wk"))
      .distinct()
    val cohorts = activity.groupBy(col("user_id"))
      .agg(min(col("wk")).as("cohort_week"))
    val sizes = cohorts.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("cohort_size"))
    activity.join(cohorts, "user_id")
      .select(col("cohort_week"),
        (datediff(col("wk"), col("cohort_week")) / 7).cast("long")
          .as("week_offset"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(sizes, "cohort_week")
      // date rendered as a string: the oracle comparator stringifies
      // frames, and pandas renders SQL DATE as a midnight timestamp
      .select(col("cohort_week").cast("string").as("cohort_week"),
        col("week_offset"), col("n_active"), col("cohort_size"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  private val q113Sql =
    """WITH a AS (SELECT DISTINCT user_id,
      |    CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
      |f AS (SELECT user_id, min(wk) AS cohort_week FROM a GROUP BY 1),
      |c AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
      |  FROM f GROUP BY 1),
      |j AS (SELECT f.cohort_week,
      |    CAST((a.wk - f.cohort_week) // 7 AS BIGINT) AS week_offset
      |  FROM a JOIN f USING(user_id)),
      |r AS (SELECT cohort_week, week_offset, CAST(count(*) AS BIGINT) AS n_active
      |  FROM j GROUP BY 1, 2)
      |SELECT CAST(r.cohort_week AS VARCHAR) AS cohort_week,
      |  week_offset, n_active, cohort_size
      |FROM r JOIN c ON c.cohort_week = r.cohort_week
      |ORDER BY cohort_week, week_offset""".stripMargin

  // ---------------------------------------------------------------
  // q116 funnel conversion — view → click → purchase, each step the
  // EARLIEST qualifying event after the previous step and inside a
  // 24-hour window from the funnel start (the min-timestamp-chain
  // semantics of a windowFunnel; the reference's sequenceMatch q65
  // answers per-user pattern existence, this answers the per-step
  // conversion rollup).
  //
  // Scale shape: three conditional min-aggregations co-partitioned on
  // user_id (the step joins reuse the same key), then one global
  // 3-counter fold — event volume collapses to one row per user
  // after the first aggregation.
  // ---------------------------------------------------------------
  def q116(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"))
    val t1 = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val t2 = ev.filter(col("event_type") === "click").join(t1, "user_id")
      .where(col("ts") > col("t1") &&
        col("ts") <= col("t1") + expr("INTERVAL 24 HOURS"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val t3 = ev.filter(col("event_type") === "purchase")
      .join(t1, "user_id").join(t2, "user_id")
      .where(col("ts") > col("t2") &&
        col("ts") <= col("t1") + expr("INTERVAL 24 HOURS"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    t1.join(t2, Seq("user_id"), "left").join(t3, Seq("user_id"), "left")
      .agg(count(col("t1")).as("n_viewed"),
        count(col("t2")).as("n_clicked"),
        count(col("t3")).as("n_purchased"))
  }

  private val q116Sql =
    """WITH t1 AS (SELECT user_id, min(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |t2 AS (SELECT e.user_id, min(ts) AS t2
      |  FROM events e JOIN t1 USING(user_id)
      |  WHERE event_type = 'click' AND ts > t1
      |    AND ts <= t1 + INTERVAL 24 HOURS GROUP BY 1),
      |t3 AS (SELECT e.user_id, min(ts) AS t3
      |  FROM events e JOIN t1 USING(user_id) JOIN t2 USING(user_id)
      |  WHERE event_type = 'purchase' AND ts > t2
      |    AND ts <= t1 + INTERVAL 24 HOURS GROUP BY 1)
      |SELECT CAST(count(t1.t1) AS BIGINT) AS n_viewed,
      |  CAST(count(t2.t2) AS BIGINT) AS n_clicked,
      |  CAST(count(t3.t3) AS BIGINT) AS n_purchased
      |FROM t1 LEFT JOIN t2 USING(user_id) LEFT JOIN t3 USING(user_id)""".stripMargin

  // ---------------------------------------------------------------
  // q98 gap-based sessionization (batch spelling of the
  // flatMapGroupsWithState streaming operator, streaming/Sessionize
  // .scala) — per-user activity sessions with a 10-minute gap: two
  // window functions over ONE keyed partitioning (lag → session-break
  // flag → running sum = session id), then one aggregate. DECIMAL
  // sums keep total_value exact and order-independent; the gap test
  // compares floor-epoch seconds in both engines.
  // ---------------------------------------------------------------
  def q98(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Sessionize.sessionsBatch(
      Tables(s, dir, "events")
        .select(col("user_id"), col("ts"),
          col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("v")),
      "user_id", "ts", "v", gapSeconds = 600)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("total_value").cast("double").as("total_value"))
      // localCheckpoint before the presentation sort (guide §1.2): the
      // range exchange's bound-sampling pass re-runs everything above
      // the user_id hash exchange — here BOTH window passes and the
      // session aggregate ran twice per invocation (two identical
      // reduce-side jobs in the profile). The checkpoint materializes
      // the per-SESSION rows once (already aggregated — far smaller
      // than the event stream the sort would otherwise resample);
      // per-invocation state, dropped with the DataFrame.
      .localCheckpoint(eager = false)
      .orderBy(col("user_id"), col("session_start"))

  private val q98Sql =
    """WITH e AS (
      |  SELECT user_id, ts, CAST(value AS DECIMAL(18,6)) AS v,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |      OR CAST(floor(epoch(ts)) AS BIGINT)
      |         - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 600
      |      THEN 1 ELSE 0 END AS brk
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
      |        ROWS UNBOUNDED PRECEDING) AS sid FROM e)
      |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
      |  count(*) AS n_events, CAST(sum(v) AS DOUBLE) AS total_value
      |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin

  // ---------------------------------------------------------------
  // q99 near-dup CLUSTERING — the transitive-closure step a dedup
  // pipeline needs after pair finding: similar pairs (exact n-gram
  // Jaccard ≥ 0.2 on consecutive docs, the oracle-checkable analog of
  // the q47 LSH candidates) become edges; ConnectedComponents
  // (large-star/small-star) folds chains of pairwise-similar docs
  // into clusters; the smallest doc_id is kept as canonical. The
  // DuckDB oracle recomputes the components with a recursive CTE.
  // ---------------------------------------------------------------
  def q99(s: SparkSession, dir: String): DataFrame = {
    graft.GraftFunctions.register(s)
    val d = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    val a = d.select((col("doc_id") + 1).as("pair"), col("text").as("text_a"))
    val b = d.select(col("doc_id").as("pair"), col("text").as("text_b"))
    val edges = a.join(b, "pair")
      .where(round(expr("ngram_jaccard(text_a, text_b, 5)"), 4) >= 0.2)
      .select((col("pair") - 1).as("d1"), col("pair").as("d2"))
    val comp = graft.operators.ConnectedComponents(edges, "d1", "d2")
      .withColumnRenamed("node", "doc_id")
    Tables(s, dir, "documents").select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster"))
      .withColumn("keep", col("doc_id") === col("cluster"))
      .orderBy(col("doc_id"))
  }

  private val q99Sql =
    """WITH RECURSIVE sh AS (SELECT doc_id,
      |    unnest(list_distinct(list_transform(
      |      generate_series(1, greatest(length(text) - 4, 1)),
      |      i -> substr(text, i, 5)))) AS g
      |  FROM documents),
      |c AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
      |  FROM sh a JOIN sh b ON a.g = b.g AND b.doc_id = a.doc_id + 1
      |  GROUP BY 1, 2),
      |pairs AS (SELECT d1, d2 FROM inter
      |  JOIN c ca ON ca.doc_id = d1 JOIN c cb ON cb.doc_id = d2
      |  WHERE round(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 4) >= 0.2),
      |edges AS (SELECT d1 AS u, d2 AS v FROM pairs
      |  UNION SELECT d2, d1 FROM pairs),
      |reach AS (
      |  SELECT u, u AS comp FROM (SELECT DISTINCT u FROM edges)
      |  UNION
      |  SELECT e.v, r.comp FROM reach r JOIN edges e ON e.u = r.u),
      |cc AS (SELECT u AS doc_id, min(comp) AS cluster FROM reach GROUP BY u)
      |SELECT d.doc_id, COALESCE(cc.cluster, d.doc_id) AS cluster,
      |  COALESCE(cc.cluster, d.doc_id) = d.doc_id AS keep
      |FROM documents d LEFT JOIN cc ON cc.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q84_asof_join", q84, Some(q84Sql)),
    QueryDef("q85_salted_join", q85, Some(q85Sql)),
    QueryDef("q98_sessionize", q98, Some(q98Sql)),
    QueryDef("q113_retention_cohorts", q113, Some(q113Sql)),
    QueryDef("q116_funnel_conversion", q116, Some(q116Sql)),
    QueryDef("q99_neardup_clusters", q99, Some(q99Sql)))
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables

/** Queries exercising the custom Catalyst surface (native
  * expressions + TypedImperativeAggregates registered through
  * [[graft.GraftExtensions]]): sipHash64, uniqUpTo, anyHeavy —
  * SURVEY.md §7.3's "needs custom code" rows.
  */
object ExtensionQueries {
  // ---------------------------------------------------------------
  // q55 sipHash64 — ClickHouse's canonical string hash as a native
  // codegen'd expression; exact values are pinned by spec-vector unit
  // tests (no DuckDB parity → rows-only driver check).
  // ---------------------------------------------------------------
  def q55(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "part")
      .selectExpr("p_partkey", "siphash64(p_name) AS h",
        "pmod(siphash64(p_name), 16) AS shard")
      .orderBy(col("p_partkey"))

  // ---------------------------------------------------------------
  // q56 uniqUpTo(N) — saturating distinct count (O(N) state/group;
  // reference AggregateFunctionUniqUpTo.h). Oracle: the saturating
  // CASE over exact distinct.
  // ---------------------------------------------------------------
  def q56(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(expr("uniq_upto(user_id, 50)").as("u50"),
        expr("uniq_upto(pmod(user_id, 7), 50)").as("u_small"))
      .orderBy(col("event_type"))

  private val q56Sql =
    """SELECT event_type,
      |  CAST(CASE WHEN count(DISTINCT user_id) <= 50
      |       THEN count(DISTINCT user_id) ELSE 51 END AS BIGINT) AS u50,
      |  CAST(CASE WHEN count(DISTINCT user_id % 7) <= 50
      |       THEN count(DISTINCT user_id % 7) ELSE 51 END AS BIGINT) AS u_small
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------
  // q57 anyHeavy — Boyer-Moore heavy hitter (O(1) state/group).
  // The returned value is only contractual when a majority exists, so
  // the query reports the vote over a majority-skewed derivation:
  // 'common' rows are >50% by construction (l_quantity spans 1..50).
  // ---------------------------------------------------------------
  def q57(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .withColumn("cls", when(col("l_quantity") <= 35, "common").otherwise(concat(lit("rare_"), col("l_linestatus"))))
      .groupBy(col("l_returnflag"))
      .agg(expr("any_heavy(cls)").as("heavy"), count(lit(1)).as("cnt"))
      .orderBy(col("l_returnflag"))

  private val q57Sql =
    """SELECT l_returnflag, 'common' AS heavy, count(*) AS cnt
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------
  // q79 -State/-Merge combinators — per-(type, day) partial states
  // (binary AggregateFunction column), then a second-level merge per
  // type. The merge level reads |keys| state rows, not raw data: the
  // AggregatingMergeTree rollup pattern (SURVEY.md §7.4 hard part 1).
  // Oracle: saturating CASE over the raw rows — state+merge must
  // agree with direct aggregation exactly.
  // ---------------------------------------------------------------
  def q79(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(expr("uniq_upto_state(user_id, 50)").as("state"))
    daily.groupBy(col("event_type"))
      .agg(expr("uniq_upto_merge(state, 50)").as("u50"),
        count(lit(1)).as("n_days"))
      .orderBy(col("event_type"))
  }

  private val q79Sql =
    """SELECT event_type,
      |  CAST(CASE WHEN count(DISTINCT user_id) <= 50
      |       THEN count(DISTINCT user_id) ELSE 51 END AS BIGINT) AS u50,
      |  count(DISTINCT CAST(ts AS DATE)) AS n_days
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------
  // q80 quantileTiming — deterministic bounded-histogram quantiles
  // (exact <1024 ms, 16 ms bins to 30 s, clamped above). The oracle
  // reproduces the binning + cumulative-count rule in SQL, so the
  // sketch is value-verified, not rows-only.
  // ---------------------------------------------------------------
  def q80(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .withColumn("ms", (col("value") * 1000).cast("long"))
      .groupBy(col("event_type"))
      .agg(
        expr("quantile_timing(ms, CAST(0.5 AS DOUBLE))").as("p50_raw"),
        expr("quantile_timing(ms, CAST(0.9 AS DOUBLE))").as("p90_raw"),
        count(lit(1)).as("cnt"))
      // The large regime (count > 5672) reports each 16 ms bucket via a
      // jittered representative (indexInBigToValue's intHash32 term,
      // jitter ∈ [−8, +7]) that DuckDB can't reproduce — the gate
      // recovers the bucket base (values ≥ 1032 round unambiguously;
      // the dialect surface stays jittered). Medium-regime results are
      // raw values and pass through untouched.
      .select(col("event_type"),
        expr("""CASE WHEN cnt > 5672 AND p50_raw >= 1032 AND p50_raw < 30000
                THEN CAST(1024 + round((p50_raw - 1024) / 16.0) * 16 AS BIGINT)
                ELSE p50_raw END""").as("p50_timing"),
        expr("""CASE WHEN cnt > 5672 AND p90_raw >= 1032 AND p90_raw < 30000
                THEN CAST(1024 + round((p90_raw - 1024) / 16.0) * 16 AS BIGINT)
                ELSE p90_raw END""").as("p90_timing"),
        col("cnt"))
      .orderBy(col("event_type"))

  // Medium regime (count ≤ 5672) = raw clamped values under the
  // floor-index rule (QuantileTimingMedium::get); large = 16 ms
  // buckets under ceil(level·count) (QuantileTimingLarge::get), with
  // the engine-side jitter recovered to the bucket base above.
  private val q80Sql =
    """WITH r AS (SELECT event_type,
      |    CASE WHEN ms < 0 THEN 0 WHEN ms > 30000 THEN 30000 ELSE ms END AS v
      |  FROM (SELECT event_type, CAST(trunc(value * 1000) AS BIGINT) AS ms FROM events)),
      |g AS (SELECT event_type, v, count(*) AS cnt FROM r GROUP BY 1, 2),
      |c AS (SELECT event_type, v, cnt,
      |        sum(cnt) OVER (PARTITION BY event_type ORDER BY v) AS cum,
      |        sum(cnt) OVER (PARTITION BY event_type) AS total
      |      FROM g),
      |med AS (SELECT event_type,
      |    min(CASE WHEN cum > floor(0.5 * total) THEN v END) AS p50m,
      |    min(CASE WHEN cum > floor(0.9 * total) THEN v END) AS p90m,
      |    max(total) AS total, CAST(sum(cnt) AS BIGINT) AS cnt
      |  FROM c GROUP BY 1),
      |bg AS (SELECT event_type,
      |    CASE WHEN v < 1024 THEN v WHEN v >= 30000 THEN 30000
      |         ELSE 1024 + ((v - 1024) // 16) * 16 END AS bucket,
      |    sum(cnt) AS cnt
      |  FROM g GROUP BY 1, 2),
      |bc AS (SELECT event_type, bucket, cnt,
      |        sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
      |        sum(cnt) OVER (PARTITION BY event_type) AS total
      |      FROM bg),
      |lg AS (SELECT event_type,
      |    min(CASE WHEN cum >= ceil(0.5 * total) THEN bucket END) AS p50l,
      |    min(CASE WHEN cum >= ceil(0.9 * total) THEN bucket END) AS p90l
      |  FROM bc GROUP BY 1)
      |SELECT med.event_type,
      |  CASE WHEN med.total <= 5672 THEN med.p50m ELSE lg.p50l END AS p50_timing,
      |  CASE WHEN med.total <= 5672 THEN med.p90m ELSE lg.p90l END AS p90_timing,
      |  med.cnt
      |FROM med JOIN lg USING (event_type) ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------
  // q81 quantileTDigest — t-digest sketch (QuantileTDigest.h): O(δ)
  // mergeable state, tight tails. Approximate and merge-order-
  // dependent → rows-only here; 1%-rank-error bound property-tested.
  // ---------------------------------------------------------------
  def q81(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        expr("quantile_tdigest(l_extendedprice, CAST(0.5 AS DOUBLE))").as("p50_price"),
        expr("quantile_tdigest(l_extendedprice, CAST(0.99 AS DOUBLE))").as("p99_price"),
        count(lit(1)).as("cnt"))
      .orderBy(col("l_returnflag"))

  // ---------------------------------------------------------------
  // q91 quantileExactWeighted + quantileTimingWeighted
  // (AggregateFunctionQuantileExactWeighted.cpp:44;
  // AggregateFunctionsQuantileTiming.h weighted variant). Both have
  // exact, SQL-expressible fold rules: smallest value whose
  // cumulative weight reaches ceil(level × Σw) — re-derived in
  // DuckDB with window functions, so the oracle checks values.
  // ---------------------------------------------------------------
  def q91(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .withColumn("w", col("l_linenumber").cast("long"))
      .withColumn("cs", (col("l_quantity") * 100).cast("long"))
      .groupBy(col("l_returnflag"))
      .agg(
        expr("quantile_exact_weighted(CAST(l_quantity AS DOUBLE), w, CAST(0.5 AS DOUBLE))").as("p50_w"),
        expr("quantile_exact_weighted(CAST(l_quantity AS DOUBLE), w, CAST(0.9 AS DOUBLE))").as("p90_w"),
        expr("quantile_timing_weighted(cs, w, CAST(0.5 AS DOUBLE))").as("p50_tw_raw"),
        sum(col("w")).as("tw"),
        count(lit(1)).as("cnt"))
      // Weighted timing is large-regime once Σw > 31 and reports the
      // intHash32-jittered bucket representative (Float32); the gate
      // recovers the bucket base for the DuckDB compare (jitter ∈
      // [−8, +7] rounds back unambiguously for values ≥ 1032). The
      // dialect surface stays jittered and Float32.
      .select(col("l_returnflag"), col("p50_w"), col("p90_w"),
        expr("""CASE WHEN tw > 31 AND p50_tw_raw >= 1032 AND p50_tw_raw < 30000
                THEN CAST(1024 + round((p50_tw_raw - 1024) / 16.0) * 16 AS BIGINT)
                ELSE CAST(p50_tw_raw AS BIGINT) END""").as("p50_tw"),
        col("cnt"))
      .orderBy(col("l_returnflag"))

  // Weighted timing never uses the medium regime
  // (QuantileTiming::insertWeighted → tinyToLarge): tiny (Σw ≤ 31) =
  // raw clamped values under the floor rule; otherwise the large
  // histogram under ceil(level·Σw), modeled as plain bucket bases
  // (the engine side recovers bases from the jitter above).
  private val q91Sql =
    """WITH g AS (SELECT l_returnflag, CAST(l_quantity AS DOUBLE) AS v,
      |    CAST(l_linenumber AS BIGINT) AS w,
      |    CAST(l_quantity * 100 AS BIGINT) AS cs
      |  FROM lineitem),
      |a AS (SELECT l_returnflag, v, sum(w) AS w FROM g GROUP BY 1, 2),
      |c AS (SELECT l_returnflag, v, w,
      |        sum(w) OVER (PARTITION BY l_returnflag ORDER BY v) AS cum,
      |        sum(w) OVER (PARTITION BY l_returnflag) AS total
      |      FROM a),
      |tr AS (SELECT l_returnflag,
      |    CASE WHEN cs < 0 THEN 0 WHEN cs > 30000 THEN 30000 ELSE cs END AS tv, w
      |  FROM g),
      |trc AS (SELECT l_returnflag, tv, w,
      |        sum(w) OVER (PARTITION BY l_returnflag ORDER BY tv) AS cum,
      |        sum(w) OVER (PARTITION BY l_returnflag) AS total
      |      FROM (SELECT l_returnflag, tv, sum(w) AS w FROM tr GROUP BY 1, 2)),
      |tiny AS (SELECT l_returnflag,
      |    min(CASE WHEN cum > floor(0.5 * total) THEN tv END) AS p50t,
      |    max(total) AS total
      |  FROM trc GROUP BY 1),
      |ta AS (SELECT l_returnflag,
      |    CASE WHEN tv < 1024 THEN tv WHEN tv >= 30000 THEN 30000
      |         ELSE 1024 + ((tv - 1024) // 16) * 16 END AS bucket,
      |    sum(w) AS w
      |  FROM tr GROUP BY 1, 2),
      |tc AS (SELECT l_returnflag, bucket, w,
      |        sum(w) OVER (PARTITION BY l_returnflag ORDER BY bucket) AS cum,
      |        sum(w) OVER (PARTITION BY l_returnflag) AS total
      |      FROM ta),
      |q AS (SELECT l_returnflag,
      |    min(CASE WHEN cum >= ceil(0.5 * total) THEN v END) AS p50_w,
      |    min(CASE WHEN cum >= ceil(0.9 * total) THEN v END) AS p90_w
      |  FROM c GROUP BY 1),
      |tq AS (SELECT l_returnflag,
      |    min(CASE WHEN cum >= ceil(0.5 * total) THEN bucket END) AS p50l
      |  FROM tc GROUP BY 1),
      |n AS (SELECT l_returnflag, count(*) AS cnt FROM g GROUP BY 1)
      |SELECT q.l_returnflag, q.p50_w, q.p90_w,
      |  CASE WHEN tiny.total <= 31 THEN tiny.p50t ELSE tq.p50l END AS p50_tw,
      |  n.cnt
      |FROM q JOIN tq USING (l_returnflag) JOIN tiny USING (l_returnflag)
      |     JOIN n USING (l_returnflag)
      |ORDER BY q.l_returnflag""".stripMargin

  // ---------------------------------------------------------------
  // q92 quantileDeterministic — deterministic-sampling quantile
  // (AggregateFunctionsQuantileDeterministic.cpp:88;
  // ReservoirSamplerDeterministic.h). Groups here fit the 8192-slot
  // reservoir, so the interpolated sample quantile IS the exact
  // continuous quantile — DuckDB quantile_cont oracle.
  // ---------------------------------------------------------------
  def q92(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .filter(col("user_id") < 200)
      .groupBy(col("user_id"), col("event_type"))
      .agg(
        expr("quantile_deterministic(value, user_id, CAST(0.5 AS DOUBLE))").as("p50_det"),
        count(lit(1)).as("cnt"))
      .orderBy(col("user_id"), col("event_type"))

  private val q92Sql =
    """SELECT user_id, event_type,
      |  quantile_cont(value, 0.5) AS p50_det, count(*) AS cnt
      |FROM events WHERE user_id < 200
      |GROUP BY user_id, event_type ORDER BY user_id, event_type""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q55_siphash64_native", q55, None),
    QueryDef("q56_uniq_upto", q56, Some(q56Sql)),
    QueryDef("q57_any_heavy", q57, Some(q57Sql)),
    QueryDef("q79_agg_state_merge", q79, Some(q79Sql)),
    QueryDef("q80_quantile_timing", q80, Some(q80Sql)),
    QueryDef("q81_quantile_tdigest", q81, None),
    QueryDef("q91_quantile_exact_weighted", q91, Some(q91Sql)),
    QueryDef("q92_quantile_deterministic", q92, Some(q92Sql)))
}

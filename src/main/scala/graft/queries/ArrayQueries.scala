package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables

/** ARRAY JOIN and the array/higher-order function surface
  * (SURVEY.md §2.8, §2.9: FunctionsArray.h 26 fns,
  * FunctionsHigherOrder.h 11 fns, ARRAY JOIN via IColumn::replicate).
  *
  * Spark-first: `explode`/`posexplode`/`explode_outer` are the ARRAY
  * JOIN family; `transform/filter/exists/forall/aggregate/array_sort`
  * are 1:1 with arrayMap/arrayFilter/arrayExists/arrayAll/arraySum/
  * arraySort. All are per-row narrow operations — no shuffle until
  * the aggregate that consumes them.
  */
object ArrayQueries {
  private val words = "split(text, ' ')"

  // ---------------------------------------------------------------
  // q58 ARRAY JOIN ≡ explode — unnest words, count global word
  // frequencies (reference: ExpressionActions ARRAY_JOIN action).
  // ---------------------------------------------------------------
  def q58(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(explode(expr(words)).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w"))
      .limit(20)

  private val q58Sql =
    """SELECT w, count(*) AS cnt FROM (
      |  SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |GROUP BY w ORDER BY cnt DESC, w LIMIT 20""".stripMargin

  // ---------------------------------------------------------------
  // q59 LEFT ARRAY JOIN ≡ explode_outer — keep rows whose array is
  // empty (Parsers/ASTTablesInSelectQuery.h:113-119).
  // Long words (>8 chars) are rare, so many docs hit the empty case.
  // ---------------------------------------------------------------
  def q59(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        explode_outer(expr(s"filter($words, w -> length(w) > 8)")).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("w").asc_nulls_first)

  private val q59Sql =
    """SELECT w, count(*) AS cnt FROM (
      |  SELECT doc_id,
      |    unnest(CASE WHEN len(list_filter(string_split(text, ' '), w -> length(w) > 8)) = 0
      |           THEN [NULL]
      |           ELSE list_filter(string_split(text, ' '), w -> length(w) > 8) END) AS w
      |  FROM documents)
      |GROUP BY w ORDER BY w NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------
  // q60 arrayEnumerate ≡ posexplode — element with its 1-based
  // position (FunctionsArray.h arrayEnumerate).
  // ---------------------------------------------------------------
  def q60(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "nation")
      .select(col("n_nationkey").cast("int").as("n_nationkey"),
        posexplode(split(col("n_name"), "")).as(Seq("pos0", "ch")))
      .select(col("n_nationkey"), (col("pos0") + 1).as("pos"), col("ch"))
      .filter(col("pos") <= 3)
      .orderBy(col("n_nationkey"), col("pos"))

  private val q60Sql =
    """SELECT * FROM (
      |  SELECT n_nationkey, unnest(generate_series(1, length(n_name))) AS pos,
      |         unnest(string_split(n_name, '')) AS ch
      |  FROM nation)
      |WHERE pos <= 3 ORDER BY n_nationkey, pos""".stripMargin

  // ---------------------------------------------------------------
  // q61 lockstep unnest of parallel arrays (Nested type semantics,
  // DataTypeNested.cpp) ≡ arrays_zip + explode.
  // ---------------------------------------------------------------
  def q61(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"), expr(words).as("ws"),
        expr(s"transform($words, w -> length(w))").as("ls"))
      .select(col("doc_id"), explode(arrays_zip(col("ws"), col("ls"))).as("z"))
      .select(col("doc_id"), col("z.ws").as("w"), col("z.ls").cast("long").as("wlen"))
      .filter(col("wlen") >= 8)
      .groupBy(col("w"), col("wlen"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("w"))

  private val q61Sql =
    """SELECT w, wlen, count(*) AS cnt FROM (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
      |         unnest(list_transform(string_split(text, ' '), w -> length(w))) AS wlen
      |  FROM documents)
      |WHERE wlen >= 8 GROUP BY w, wlen ORDER BY w""".stripMargin

  // ---------------------------------------------------------------
  // q62 higher-order family — arrayMap/arrayFilter/arraySum/
  // arraySort/arrayExists/arrayAll (FunctionsHigherOrder.h) ≡
  // transform/filter/aggregate/array_sort/exists/forall.
  // ---------------------------------------------------------------
  // higher-order kernels ABOVE the presentation sort: a range
  // exchange samples its child, so kernels below the sort run twice
  // (see TextQueries q40's note)
  // the token array is projected ONCE and the five consumers reference
  // the attribute: spelled inline, split(text) appeared five times in
  // the one Project (tokenize + allocate per output column).
  // CollapseProject does not re-inline a non-cheap expression
  // referenced more than once, so the two-step projection survives.
  def q62(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id"))
      .select(col("doc_id"), expr(words).as("ws"))
      .select(col("doc_id"),
        expr("aggregate(ws, 0L, (acc, w) -> acc + length(w))").as("sum_len"),
        expr("size(filter(ws, w -> w LIKE 's%'))").cast("long").as("n_s_words"),
        expr("exists(ws, w -> w = 'the')").as("has_the"),
        expr("forall(ws, w -> length(w) < 20)").as("all_short"),
        expr("element_at(array_sort(array_distinct(ws)), 1)").as("first_word"))

  private val q62Sql =
    """SELECT doc_id,
      |  CAST(list_sum(list_transform(string_split(text, ' '), w -> length(w))) AS BIGINT) AS sum_len,
      |  CAST(len(list_filter(string_split(text, ' '), w -> w LIKE 's%')) AS BIGINT) AS n_s_words,
      |  len(list_filter(string_split(text, ' '), w -> w = 'the')) > 0 AS has_the,
      |  len(list_filter(string_split(text, ' '), w -> length(w) >= 20)) = 0 AS all_short,
      |  list_sort(list_distinct(string_split(text, ' ')))[1] AS first_word
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q63 array function family — has/indexOf/countEqual/arrayUniq/
  // arrayStringConcat/range (FunctionsArray.h, FunctionsStringArray).
  // ---------------------------------------------------------------
  // token array + its distinct projected once each (see q62): split
  // appeared five times and array_distinct twice in the one Project
  def q63(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id"))
      .select(col("doc_id"), expr(words).as("ws"))
      .select(col("doc_id"), col("ws"),
        expr("array_distinct(ws)").as("uw"))
      .select(col("doc_id"),
        array_contains(col("ws"), "data").as("has_data"),
        expr("array_position(ws, 'data')").cast("long").as("idx_data"),
        expr("size(filter(ws, w -> w = 'the'))").cast("long").as("count_the"),
        expr("size(uw)").cast("long").as("n_uniq"),
        expr("array_join(slice(array_sort(uw), 1, 3), ',')").as("first3"))

  private val q63Sql =
    """SELECT doc_id,
      |  list_contains(string_split(text, ' '), 'data') AS has_data,
      |  CAST(coalesce(list_position(string_split(text, ' '), 'data'), 0) AS BIGINT) AS idx_data,
      |  CAST(len(list_filter(string_split(text, ' '), w -> w = 'the')) AS BIGINT) AS count_the,
      |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq,
      |  array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:3], ',') AS first3
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q64 system.numbers ≡ spark.range — the reference's infinite
  // integer generator (StorageSystemNumbers.cpp), bounded here.
  // ---------------------------------------------------------------
  def q64(s: SparkSession, dir: String): DataFrame =
    s.range(100000).toDF("number")
      .filter(pmod(col("number"), lit(7)) === 3)
      .agg(count(lit(1)).as("cnt"), sum(col("number")).as("total"),
        max(col("number")).as("mx"))

  private val q64Sql =
    """SELECT count(*) AS cnt, CAST(sum(n) AS BIGINT) AS total, max(n) AS mx
      |FROM range(100000) t(n) WHERE n % 7 = 3""".stripMargin

  // ---------------------------------------------------------------
  // q65 sequenceMatch('(?1).*(?2)') analog
  // (AggregateFunctionSequenceMatch.h) — per-user ordered event-type
  // initials collapse to a string; the sequence pattern becomes a
  // regex. groupBy+sort_array keeps it one shuffle; the per-user
  // event list is bounded by user activity, not table size.
  // ---------------------------------------------------------------
  def q65(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(expr(
        "array_join(transform(array_sort(collect_list(struct(ts, event_id, substring(event_type, 1, 1) AS c))), x -> x.c), '')")
        .as("seq"))
      .select(
        sum(when(col("seq").rlike("s.*p"), 1L).otherwise(0L)).as("n_signup_then_purchase"),
        sum(when(col("seq").rlike("e"), 1L).otherwise(0L)).as("n_with_error"),
        count(lit(1)).as("n_users"))

  private val q65Sql =
    """SELECT
      |  CAST(sum(CASE WHEN regexp_matches(seq, 's.*p') THEN 1 ELSE 0 END) AS BIGINT) AS n_signup_then_purchase,
      |  CAST(sum(CASE WHEN regexp_matches(seq, 'e') THEN 1 ELSE 0 END) AS BIGINT) AS n_with_error,
      |  count(*) AS n_users
      |FROM (SELECT user_id,
      |        string_agg(substring(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
      |      FROM events GROUP BY user_id)""".stripMargin

  // ---------------------------------------------------------------
  // q94 native sequenceMatch with a (?t<=N) time condition
  // (AggregateFunctionSequenceMatch.h:137-499) — per-user event lists
  // aggregate through the TypedImperativeAggregate (partial/final,
  // one shuffle; state bounded by per-user activity). Timestamps are
  // made strictly unique (µs + event_id) so the sorted sequence is a
  // total order and the SQL-pair oracle is exact.
  // ---------------------------------------------------------------
  def q94(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .withColumn("mts",
        expr("unix_timestamp(ts) * 1000000L + event_id"))
      .groupBy(col("user_id"))
      .agg(expr(
        "sequence_match('(?1)(?t<=3600000000)(?2)', mts, event_type = 'signup', event_type = 'purchase')")
        .as("m"))
      .agg(
        sum(col("m")).cast("long").as("n_users_matched"),
        count(lit(1)).as("n_users"))

  private val q94Sql =
    """SELECT
      |  CAST(count(DISTINCT CASE WHEN matched THEN user_id END) AS BIGINT) AS n_users_matched,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM (
      |  SELECT u.user_id,
      |         EXISTS (
      |           SELECT 1 FROM events e1, events e2
      |           WHERE e1.user_id = u.user_id AND e2.user_id = u.user_id
      |             AND e1.event_type = 'signup' AND e2.event_type = 'purchase'
      |             AND (epoch(e2.ts) * 1000000 + e2.event_id) > (epoch(e1.ts) * 1000000 + e1.event_id)
      |             AND (epoch(e2.ts) * 1000000 + e2.event_id) - (epoch(e1.ts) * 1000000 + e1.event_id) <= 3600000000
      |         ) AS matched
      |  FROM (SELECT DISTINCT user_id FROM events) u)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q58_array_join_explode", q58, Some(q58Sql)),
    QueryDef("q59_left_array_join", q59, Some(q59Sql)),
    QueryDef("q60_array_enumerate", q60, Some(q60Sql)),
    QueryDef("q61_arrays_zip_lockstep", q61, Some(q61Sql)),
    QueryDef("q62_higher_order_fns", q62, Some(q62Sql)),
    QueryDef("q63_array_fns", q63, Some(q63Sql)),
    QueryDef("q64_numbers_table", q64, Some(q64Sql)),
    QueryDef("q65_sequence_match", q65, Some(q65Sql)),
    QueryDef("q94_sequence_match_time", q94, Some(q94Sql)))
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.QueryDef
import graft.core.Tables

/** Driver-checked queries over the hash family
  * (dbms/src/Functions/FunctionsHashing.h — halfMD5 here; cityHash64/
  * intHash/URLHash are pinned against vendored-library vectors in
  * HashCodingSpec since DuckDB has no parity) and the coding family
  * (FunctionsCoding.h — CH-style hex, unhex, bitmaskToList).
  */
object HashQueries {
  // ---------------------------------------------------------------
  // q86 halfMD5 + hex/unhex over documents. halfMD5 is the big-endian
  // read of the first 8 MD5 bytes, so its %016x rendering equals the
  // first 16 chars of the md5 hex digest — DuckDB-verifiable.
  // ---------------------------------------------------------------
  def q86(s: SparkSession, dir: String): DataFrame = {
    graft.GraftFunctions.register(s)
    // hash kernels above the sort — see TextQueries q40's
    // range-sampling note
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id"))
      .selectExpr(
        "doc_id",
        "format_string('%016x', halfmd5(text)) AS half_md5_hex",
        "hex(substring(text, 1, 8)) AS hex_prefix",
        "CAST(unhex_ch(hex(substring(text, 1, 8))) AS STRING) AS roundtrip")
  }

  private val q86Sql =
    """SELECT doc_id,
      |  substr(md5(text), 1, 16) AS half_md5_hex,
      |  hex(substr(text, 1, 8)) AS hex_prefix,
      |  substr(text, 1, 8) AS roundtrip
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q87 coding family over the distinct user ids: bitmaskToList and
  // CH-style whole-byte hex (hex(257)='0101'), both re-derived in
  // DuckDB SQL.
  // ---------------------------------------------------------------
  def q87(s: SparkSession, dir: String): DataFrame = {
    graft.GraftFunctions.register(s)
    val chHex = Bridge.column(graft.functions.ChHexExpr(
      Bridge.expression(col("user_id"))))
    Tables(s, dir, "events")
      .select(col("user_id")).distinct()
      .select(col("user_id"),
        expr("bitmask_to_list(user_id)").as("bits"),
        chHex.as("hx"))
      .orderBy(col("user_id"))
  }

  private val q87Sql =
    """SELECT user_id,
      |  (SELECT coalesce(string_agg(CAST((CAST(1 AS BIGINT) << i) AS VARCHAR), ',' ORDER BY i), '')
      |   FROM generate_series(0, 62) t(i) WHERE (user_id >> i) & 1 = 1) AS bits,
      |  CASE WHEN length(upper(printf('%x', user_id))) % 2 = 1
      |       THEN '0' || upper(printf('%x', user_id)) ELSE upper(printf('%x', user_id)) END AS hx
      |FROM (SELECT DISTINCT user_id FROM events)
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------
  // q88 cityHash64 sharding — the reference's canonical string hash
  // distributes rows over shards (Distributed sharding_key); no
  // DuckDB parity (vectors in HashCodingSpec), so rows-only: the
  // shard histogram must cover all 16 shards ≈ uniformly.
  // ---------------------------------------------------------------
  def q88(s: SparkSession, dir: String): DataFrame = {
    graft.GraftFunctions.register(s)
    Tables(s, dir, "documents")
      .selectExpr("pmod(cityhash64(text), 16) AS shard")
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("shard"))
  }

  // ---------------------------------------------------------------
  // q90 hash-parity tail — farmHash64, metroHash64, sipHash128
  // (FunctionsHashing.h:852,861,139). No DuckDB counterparts
  // (vendored-library vectors pinned in HashCodingSpec), so
  // rows-only: per-shard histograms over each hash must agree in
  // total and spread across all 8 buckets.
  // ---------------------------------------------------------------
  def q90(s: SparkSession, dir: String): DataFrame = {
    graft.GraftFunctions.register(s)
    Tables(s, dir, "documents")
      .selectExpr(
        "pmod(farmhash64(text), 8) AS farm_shard",
        "pmod(metrohash64(text), 8) AS metro_shard",
        // 128-bit digest folded via its low word for the histogram
        "pmod(cityhash64(siphash128(text)), 8) AS sip_shard")
      .groupBy(col("farm_shard"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("metro_shard")).as("metro_spread"),
        countDistinct(col("sip_shard")).as("sip_spread"))
      .orderBy(col("farm_shard"))
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q86_halfmd5_hex", q86, Some(q86Sql)),
    QueryDef("q87_coding_bitmask_hex", q87, Some(q87Sql)),
    QueryDef("q88_cityhash_sharding", q88, None),
    QueryDef("q90_hash_parity_tail", q90, None))
}

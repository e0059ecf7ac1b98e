package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables
import graft.multimodal.Media

/** Multimodal pipeline queries over the derived media table (binary
  * content + typed metadata; decode stubbed deterministically — see
  * [[graft.multimodal.Media]]).
  */
object MultimodalQueries {
  private def media(s: SparkSession, dir: String): DataFrame =
    Media.fromDocuments(Tables(s, dir, "documents"))

  // ---------------------------------------------------------------
  // q71 metadata aggregation over opaque binary columns — the
  // "catalog scan" of a media lake: no decode touches the payload.
  // ---------------------------------------------------------------
  def q71(s: SparkSession, dir: String): DataFrame =
    media(s, dir)
      .groupBy(col("kind"))
      .agg(
        count(lit(1)).as("n"),
        sum(length(col("content"))).as("total_bytes"),
        sum(col("width").cast("long")).as("sum_width"),
        sum(col("duration_ms").cast("long")).as("sum_duration_ms"))
      .orderBy(col("kind"))

  private val q71Sql =
    """SELECT kind, count(*) AS n,
      |  CAST(sum(length(text)) AS BIGINT) AS total_bytes,
      |  CAST(sum((doc_id % 4) * 320 + 320) AS BIGINT) AS sum_width,
      |  CAST(sum(length(text) * 10) AS BIGINT) AS sum_duration_ms
      |FROM (SELECT doc_id, text,
      |        ['image', 'audio', 'video'][(doc_id % 3) + 1] AS kind
      |      FROM documents)
      |GROUP BY kind ORDER BY kind""".stripMargin

  // ---------------------------------------------------------------
  // q72 feature extraction (decode stub) — Array[Float] embedding per
  // media row from the binary payload; rows-only (hash-derived).
  // ---------------------------------------------------------------
  def q72(s: SparkSession, dir: String): DataFrame =
    Media.decodeFeatures(media(s, dir), dim = 16)
      .select(col("media_id"), col("kind"),
        expr("aggregate(features, CAST(0.0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")
          .as("feat_norm2"))
      .orderBy(col("media_id"))

  // ---------------------------------------------------------------
  // q73 frame sampling via mapPartitions — one row per sampled frame
  // (stride 64, frame 32 bytes); per-kind frame counts are a pure
  // function of payload length, so the oracle recomputes them.
  // ---------------------------------------------------------------
  def q73(s: SparkSession, dir: String): DataFrame =
    Media.sampleFrames(s, media(s, dir), stride = 64, frameLen = 32)
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_frames"),
        countDistinct(col("media_id")).as("n_media"))
      .orderBy(col("kind"))

  private val q73Sql =
    """SELECT kind,
      |  CAST(sum(CASE WHEN length(text) >= 32
      |       THEN (length(text) - 32) // 64 + 1 ELSE 0 END) AS BIGINT) AS n_frames,
      |  count(CASE WHEN length(text) >= 32 THEN 1 END) AS n_media
      |FROM (SELECT text, ['image', 'audio', 'video'][(doc_id % 3) + 1] AS kind
      |      FROM documents)
      |GROUP BY kind ORDER BY kind""".stripMargin

  // ---------------------------------------------------------------
  // q112 media near-dup by perceptual hash — decode (real JDK path,
  // fallback features for the synthetic payloads), 64-bit dHash, LSH
  // band bucketing, Hamming verify — the image analog of the q47
  // text path, in the same bucket-aggregate shape: ONE shuffle keyed
  // (band, key), pairs via a bounded nested explode inside buckets
  // capped at 2..64 items. Output: every item's phash plus how many
  // near-dup candidates it hit. Rows-only (the phash rides on the JVM
  // decoder); FormatsMediaSpec pins the semantics on genuine PNGs
  // (one-pixel-edit pairs flagged, distinct images not).
  // ---------------------------------------------------------------
  def q112(s: SparkSession, dir: String): DataFrame = {
    graft.GraftFunctions.register(s)
    // ONE decode pass, physically: both consumers below read the SAME
    // (band, key) bucket aggregation, so its shuffle exchange — and
    // the expensive decode mapPartitions under it — is planned once
    // and reused (ReusedExchange), not re-executed per consumer (the
    // r10 shape ran the decode three times: twice in a band self-join
    // plus once for the report join).
    val buckets = Media.bandBuckets(Media.phashes(s, media(s, dir), dim = 64))
    val pairs = Media.pairsFromBuckets(buckets, maxHamming = 6)
    // ONE consumer of `pairs`: both endpoints explode from the same
    // row (a per-side select + union would clone the whole pairing
    // subtree, and with it the decode, into each union branch)
    val hits = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as("media_id"))
      .groupBy(col("media_id")).agg(count(lit(1)).as("n_candidates"))
    // per-item phash frame from the SAME unfiltered bucket frame —
    // every item sits in 4 buckets, so a keyed first-per-id recovers
    // it. Deliberately NOT `filter(band === 0)`: band is a grouping
    // key, so Catalyst would push that filter BELOW the aggregate,
    // making this exchange subtree differ from the pairing branch's
    // and defeating the runtime stage reuse that makes the decode
    // run once.
    val items = buckets
      .select(explode(col("items")).as("a"))
      .select(col("a.media_id").as("media_id"), col("a.ph").as("ph"))
      .groupBy(col("media_id")).agg(max(col("ph")).as("ph"))
    items
      .join(hits, Seq("media_id"), "left")
      .select(col("media_id"), col("ph"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"))
      .orderBy(col("media_id"))
  }

  // ---------------------------------------------------------------
  // q127 media near-dup over MATERIALIZED features — q112 with the
  // decode moved to WRITE time (Media.materializeFeatures, the
  // reference's MATERIALIZED column semantics): the pairing reads the
  // persisted phash column, so the query itself decodes NOTHING and
  // its cost is independent of payload size. First run per corpus
  // pays the one-time ingest; q112 stayed alongside as the
  // decode-inline form. Rows-only (phash rides the JVM decoder);
  // FormatsMediaSpec pins q127 ≡ q112 row-for-row.
  // ---------------------------------------------------------------
  def q127(s: SparkSession, dir: String): DataFrame = {
    graft.GraftFunctions.register(s)
    val path = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_media_features_" + Integer.toHexString(dir.hashCode)).getPath
    Media.materializeFeatures(s, media(s, dir), path, dim = 64)
    val buckets = Media.bandBuckets(
      Tables.read(s, path).select(col("media_id"), col("ph")))
    val pairs = Media.pairsFromBuckets(buckets, maxHamming = 6)
    val hits = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as("media_id"))
      .groupBy(col("media_id")).agg(count(lit(1)).as("n_candidates"))
    val items = buckets
      .select(explode(col("items")).as("a"))
      .select(col("a.media_id").as("media_id"), col("a.ph").as("ph"))
      .groupBy(col("media_id")).agg(max(col("ph")).as("ph"))
    items
      .join(hits, Seq("media_id"), "left")
      .select(col("media_id"), col("ph"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"))
      .orderBy(col("media_id"))
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q71_media_metadata", q71, Some(q71Sql)),
    QueryDef("q72_media_features_stub", q72, None),
    QueryDef("q73_media_frame_sampling", q73, Some(q73Sql)),
    QueryDef("q112_media_neardup_phash", q112, None),
    QueryDef("q127_media_neardup_materialized", q127, None))
}

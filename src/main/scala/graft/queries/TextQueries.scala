package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables

/** Training-data text pipeline over the `documents` table: token
  * counting, quality scoring, language-ID heuristics, exact and
  * near-duplicate detection (shingles → MinHash → LSH banding, and
  * SimHash), and document fingerprinting.
  *
  * All of this rides on the reference's string/hash function surface
  * (dbms/src/Functions/FunctionsString.h, FunctionsStringSearch.cpp,
  * FunctionsHashing.h) restated as Catalyst higher-order functions —
  * every expression here is codegen'd, no UDFs, so each query is one
  * narrow map stage (plus one shuffle where a groupBy/join is
  * semantically required). Per-document work is O(len × k), fully
  * data-parallel: the same plans hold at 100 TB.
  */
object TextQueries {
  /** doc_id + 16-perm MinHash signature (shared by q45/q47), via the
    * native [[graft.functions.MinHashSigExpr]] kernel: the whole
    * signature is ONE codegen'd call per document — a narrow
    * projection, no generator rows, no aggregate, no shuffle. (The
    * previous shape — explode shingle hashes + 16 min-aggregates —
    * was already linear but materialized ~len rows per doc through a
    * hash aggregate; at 100 TB that is pure waste.)
    */
  private def minhashSig(s: SparkSession, dir: String): DataFrame = {
    graft.GraftFunctions.register(s)
    Tables(s, dir, "documents")
      .select(col("doc_id"), expr("minhash_sig(text, 16, 5)").as("sig"))
  }

  // ---------------------------------------------------------------
  // q40 token counting — whitespace tokenization; the BPE-ish regex
  // variant splits on non-alphanumerics.
  // ---------------------------------------------------------------
  // kernel ABOVE the presentation sort (here and in q44/q45/q46/q49/
  // q103/q108/q119/q120 etc.): a range exchange SAMPLES its child to
  // pick bounds, so any expensive projection below the sort runs
  // twice — once in the sampling pass, once for real (measured on
  // q119: two equal single-task jobs). Sorting the raw rows first and
  // projecting after runs each kernel exactly once; rows and order
  // are unchanged.
  def q40(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id"))
      .select(
        col("doc_id"),
        expr("size(split(text, ' '))").cast("long").as("n_tokens"),
        expr("size(filter(split(text, '[^a-z0-9]+'), x -> x != ''))").cast("long")
          .as("n_tokens_re"),
        length(col("text")).cast("long").as("len"))

  private val q40Sql =
    """SELECT doc_id,
      |  CAST(length(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |  CAST(length(list_filter(string_split_regex(text, '[^a-z0-9]+'), x -> x != '')) AS BIGINT) AS n_tokens_re,
      |  CAST(length(text) AS BIGINT) AS len
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q41 quality scoring per language: token totals, stopword ratio,
  // mean token length — integer sums (exact) with one final division
  // so both engines round identically.
  // ---------------------------------------------------------------
  def q41(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("lang"),
        expr("size(split(text, ' '))").cast("long").as("toks"),
        expr("size(filter(split(text, ' '), w -> w IN ('the', 'a')))").cast("long").as("stops"),
        length(col("text")).cast("long").as("chars"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("toks")).as("total_tokens"),
        round(sum(col("stops")).cast("double") / sum(col("toks")), 4).as("stop_ratio"),
        round(sum(col("chars")).cast("double") / sum(col("toks")), 4).as("mean_tok_len"))
      .orderBy(col("lang"))

  private val q41Sql =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(toks) AS BIGINT) AS total_tokens,
      |  round(CAST(sum(stops) AS DOUBLE) / sum(toks), 4) AS stop_ratio,
      |  round(CAST(sum(chars) AS DOUBLE) / sum(toks), 4) AS mean_tok_len
      |FROM (SELECT lang,
      |        length(string_split(text, ' ')) AS toks,
      |        length(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) AS stops,
      |        length(text) AS chars
      |      FROM documents)
      |GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------
  // q42 exact deduplication — hash-groupBy on a content digest
  // (reference DISTINCT machinery, DistinctBlockInputStream.cpp;
  // digest = md5 as in FunctionsHashing.h).
  // ---------------------------------------------------------------
  def q42(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(md5(col("text").cast("binary")).as("h"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("h")).as("n_unique"),
        (count(lit(1)) - countDistinct(col("h"))).as("n_exact_dups"))

  private val q42Sql =
    """SELECT count(*) AS n_docs, count(DISTINCT md5(text)) AS n_unique,
      |  count(*) - count(DISTINCT md5(text)) AS n_exact_dups
      |FROM documents""".stripMargin

  // ---------------------------------------------------------------
  // q43 language-ID heuristic — stopword-density classifier (the
  // n-gram/stopword approach; deterministic, SQL-expressible), scored
  // against the labeled `lang` column.
  // ---------------------------------------------------------------
  def q43(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("lang"),
        when(expr("size(filter(split(text, ' '), w -> w IN ('the', 'a')))") >=
          expr("size(split(text, ' '))") * 0.08, "stopword_heavy")
          .otherwise("stopword_light").as("predicted"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("lang"), col("predicted"))

  private val q43Sql =
    """SELECT lang,
      |  CASE WHEN length(list_filter(string_split(text, ' '), w -> w IN ('the', 'a')))
      |            >= length(string_split(text, ' ')) * 0.08
      |       THEN 'stopword_heavy' ELSE 'stopword_light' END AS predicted,
      |  count(*) AS cnt
      |FROM documents GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin

  // ---------------------------------------------------------------
  // q44 shingle statistics — distinct char-5-gram count per doc (the
  // input cardinality MinHash estimates).
  // ---------------------------------------------------------------
  def q44(s: SparkSession, dir: String): DataFrame = {
    graft.GraftFunctions.register(s)
    // kernel above the sort — see q40's range-sampling note
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id"))
      .select(col("doc_id"),
        expr("ngram_distinct_count(text, 5)").as("n_shingles"))
  }

  private val q44Sql =
    """SELECT doc_id,
      |  CAST(length(list_distinct(list_transform(
      |    generate_series(1, greatest(length(text) - 4, 1)),
      |    i -> substr(text, i, 5)))) AS BIGINT) AS n_shingles
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q45 MinHash signatures — 16 permutations h_i(g) = (a_i·xxh(g)+b_i)
  // mod p over char-5-gram shingles, min per permutation. xxhash64 is
  // Spark-native (and ClickHouse-style 64-bit hashing,
  // FunctionsHashing.h) — no DuckDB parity, so rows-only check;
  // accuracy is property-tested in ScalaTest.
  // ---------------------------------------------------------------
  def q45(s: SparkSession, dir: String): DataFrame = {
    graft.GraftFunctions.register(s)
    // kernel above the sort — see q40's range-sampling note
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id"))
      // string render: the driver's pandas harness can't hash a raw
      // array column (numpy.ndarray is unhashable in sort_values)
      .select(col("doc_id"),
        array_join(expr("minhash_sig(text, 16, 5)"), ",").as("minhash_sig"))
  }

  // ---------------------------------------------------------------
  // q46 exact n-gram Jaccard between consecutive doc pairs —
  // |A∩B| / |A∪B| over distinct shingle sets. The verifiable core of
  // near-dup detection (q47 approximates it with LSH).
  // ---------------------------------------------------------------
  def q46(s: SparkSession, dir: String): DataFrame = {
    // Pair the texts (one equi-join shuffle of 1 row/doc — for this
    // demo the pair source is consecutive ids; the production pair
    // source is the q47 LSH bucket join), then ONE codegen'd
    // ngram_jaccard call per pair. The previous shape shuffled the
    // exploded distinct (doc, shingle) multiset — ~len rows per doc —
    // through two aggregates; this shuffles only the documents.
    graft.GraftFunctions.register(s)
    val d = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    val a = d.select((col("doc_id") + 1).as("pair"), col("text").as("text_a"))
    val b = d.select(col("doc_id").as("pair"), col("text").as("text_b"))
    // kernel + filter ABOVE the sort (q40's range-sampling note), with
    // the kernel wrapped in PlanBarrier (guide §4.4): without it,
    // PushDownPredicates substitutes the kernel into the JOIN
    // CONDITION (the r17 plan shows `Join condition:
    // round(ngram_jaccard(..)) >= 0.05`), where it evaluates once in
    // the range-sampling pass, once in the real pass, and AGAIN in
    // the output projection — 3-4 ngram-set builds per pair. Barriered
    // it evaluates exactly once, above the sort; the filter above the
    // sort preserves the sorted order and the same rows.
    val jac = org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.PlanBarrier(org.apache.spark.sql.graftbridge.Bridge
        .expression(round(expr("ngram_jaccard(text_a, text_b, 5)"), 4))))
    a.join(b, "pair")
      .select((col("pair") - 1).as("d1"), col("pair").as("d2"),
        col("text_a"), col("text_b"))
      .orderBy(col("d1"))
      .select(col("d1"), col("d2"), jac.as("jaccard"))
      .filter(col("jaccard") >= 0.05)
  }

  // ---------------------------------------------------------------
  // q120 n-gram containment — the ASYMMETRIC companion of q46's
  // Jaccard (Broder 1997): containment(a in b) = |A∩B| / |A| scores
  // ~1.0 when a short document is quoted inside a long one, where
  // Jaccard stays near |A|/|B| and misses it. The quote/subset
  // detector of the dedup suite; same pair source and ONE codegen'd
  // kernel call per pair as q46.
  // ---------------------------------------------------------------
  def q120(s: SparkSession, dir: String): DataFrame = {
    graft.GraftFunctions.register(s)
    val d = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    val a = d.select((col("doc_id") + 1).as("pair"), col("text").as("text_a"))
    val b = d.select(col("doc_id").as("pair"), col("text").as("text_b"))
    // kernel + filter above the sort, PlanBarrier-wrapped — see q46
    val cont = org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.PlanBarrier(org.apache.spark.sql.graftbridge.Bridge
        .expression(round(expr("ngram_containment(text_a, text_b, 5)"), 4))))
    a.join(b, "pair")
      .select((col("pair") - 1).as("d1"), col("pair").as("d2"),
        col("text_a"), col("text_b"))
      .orderBy(col("d1"))
      .select(col("d1"), col("d2"), cont.as("containment"))
      .filter(col("containment") >= 0.1)
  }

  private val q120Sql =
    """WITH sh AS (SELECT doc_id,
      |    unnest(list_distinct(list_transform(
      |      generate_series(1, greatest(length(text) - 4, 1)),
      |      i -> substr(text, i, 5)))) AS g
      |  FROM documents),
      |c AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
      |  FROM sh a JOIN sh b ON a.g = b.g AND b.doc_id = a.doc_id + 1
      |  GROUP BY 1, 2)
      |SELECT d1, d2, round(CAST(i AS DOUBLE) / ca.n, 4) AS containment
      |FROM inter JOIN c ca ON ca.doc_id = d1
      |WHERE round(CAST(i AS DOUBLE) / ca.n, 4) >= 0.1
      |ORDER BY d1""".stripMargin

  private val q46Sql =
    """WITH sh AS (SELECT doc_id,
      |    unnest(list_distinct(list_transform(
      |      generate_series(1, greatest(length(text) - 4, 1)),
      |      i -> substr(text, i, 5)))) AS g
      |  FROM documents),
      |c AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
      |  FROM sh a JOIN sh b ON a.g = b.g AND b.doc_id = a.doc_id + 1
      |  GROUP BY 1, 2)
      |SELECT d1, d2,
      |  round(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 4) AS jaccard
      |FROM inter
      |JOIN c ca ON ca.doc_id = d1
      |JOIN c cb ON cb.doc_id = d2
      |WHERE round(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 4) >= 0.05
      |ORDER BY d1""".stripMargin

  // ---------------------------------------------------------------
  // q47 near-dup candidates via MinHash + LSH banding — 4 bands × 4
  // rows from the q45 signature; docs colliding in any band become a
  // candidate pair (P(candidate) ≈ 1-(1-j⁴)⁴: steep around j≈0.6, so
  // low-similarity pairs stay out). The band-explode + self-join is
  // the linear-scale path (no all-pairs compare): shuffle keyed on
  // (band, band_hash).
  // ---------------------------------------------------------------
  def q47(s: SparkSession, dir: String): DataFrame = {
    val sig = minhashSig(s, dir)
    val bandStructs = (0 until 4).map { b =>
      s"struct($b AS band, xxhash64(element_at(sig, ${4 * b + 1}), element_at(sig, ${4 * b + 2}), " +
        s"element_at(sig, ${4 * b + 3}), element_at(sig, ${4 * b + 4})) AS bh)"
    }.mkString(", ")
    val bands = sig.select(col("doc_id"),
      expr(s"explode(array($bandStructs))").as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
    // ONE shuffle keyed (band, bh): bucket membership as a
    // collect_list, then pairs via a bounded nested explode inside
    // each bucket. The round-3 band SELF-JOIN recomputed the whole
    // MinHash scan on its broadcast side (exchange reuse doesn't
    // apply across hash/broadcast exchange kinds) — this shape runs
    // the signature kernel exactly once by construction.
    // Hot-bucket cap: a degenerate bucket of B docs (boilerplate,
    // empty strings) would emit B² candidate pairs; buckets larger
    // than 64 are skipped, singletons pair with nothing.
    val buckets = bands.groupBy(col("band"), col("bh"))
      .agg(collect_list(col("doc_id")).as("docs"))
      .filter(size(col("docs")).between(2, 64))
    buckets
      .select(explode(col("docs")).as("d1"), col("docs"))
      .select(col("d1"), explode(col("docs")).as("d2"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2")).distinct()
      .orderBy(col("d1"), col("d2"))
  }

  // ---------------------------------------------------------------
  // q48 SimHash — 64-bit similarity-preserving fingerprint over
  // whitespace tokens: bit i is the sign of Σ±1 across token hashes.
  // Near-dup docs differ in few bits (hamming distance).
  // ---------------------------------------------------------------
  def q48(s: SparkSession, dir: String): DataFrame = {
    // one codegen'd SimHash kernel call per document (SimHashExpr) —
    // a narrow projection; the previous shape exploded every token
    // through 64 conditional-sum aggregates and a shuffle.
    graft.GraftFunctions.register(s)
    Tables(s, dir, "documents")
      .select(col("doc_id"), expr("simhash64(text)").as("simhash"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------
  // q123 SimHash near-dup pairing — the Manku, Jarlin & Sarma
  // (WWW'07, "Detecting Near-Duplicates for Web Crawling") design
  // that q48's fingerprints feed: band the 64 SimHash bits into four
  // 16-bit keys; by pigeonhole, any pair within Hamming distance 3
  // agrees on at least one full band, so bucketing on (band, key)
  // finds ALL such pairs with ONE shuffle and the Hamming verify is
  // a codegen'd bit_count(xor) inside buckets — never all-pairs.
  // Rows-only: SimHash is the library's own kernel (spec-pinned in
  // MinHashPropertySpec / here by the q48 oracle-adjacent tests);
  // output is every doc's simhash + its near-dup candidate count.
  // ---------------------------------------------------------------
  def q123(s: SparkSession, dir: String): DataFrame = {
    graft.GraftFunctions.register(s)
    // q47's bucket-aggregate shape: ONE kernel call site by
    // construction (a band self-JOIN would recompute the simhash
    // scan on each side); buckets over 64 docs are skipped like q47's
    // hot-bucket cap
    val banded = Tables(s, dir, "documents")
      .select(col("doc_id"), expr("simhash64(text)").as("sh"))
      .select(col("doc_id"), col("sh"),
        explode(expr(
          "transform(sequence(0, 3), b -> named_struct(" +
            "'band', b, 'key', CAST(shiftright(sh, b * 16) & 65535 AS INT)))"))
          .as("bk"))
      .select(col("doc_id"), col("sh"), col("bk.band"), col("bk.key"))
    val buckets = banded.groupBy(col("band"), col("key"))
      .agg(collect_list(struct(col("doc_id"), col("sh"))).as("docs"))
      .filter(size(col("docs")).between(2, 64))
    buckets
      .select(explode(col("docs")).as("a"), col("docs"))
      .select(col("a"), explode(col("docs")).as("b"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        expr("CAST(bit_count(a.sh ^ b.sh) AS INT)").as("hamming"))
      .where(col("hamming") <= 3)
      .distinct()
      .orderBy(col("id_a"), col("id_b"))
  }

  // ---------------------------------------------------------------
  // q49 document fingerprint — position-weighted rolling digest
  // Σ ord(c_i)·i: order-sensitive (anagram-proof), exact integer
  // arithmetic so it is oracle-verifiable cross-engine.
  // ---------------------------------------------------------------
  def q49(s: SparkSession, dir: String): DataFrame = {
    // one codegen'd pass per document (CharWeightedFingerprintExpr) —
    // same oracle-verifiable Σ ord(c_i)·i value, but a narrow
    // projection instead of the per-character explode + aggregate
    // (the most wasteful plan in the round-2 tree).
    graft.GraftFunctions.register(s)
    // kernel above the sort — see q40's range-sampling note
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id"))
      .select(col("doc_id"),
        expr("char_weighted_fingerprint(text)").as("fingerprint"))
  }

  private val q49Sql =
    """SELECT doc_id,
      |  CAST(list_sum(list_transform(generate_series(1, length(text)),
      |    i -> ord(substr(text, i, 1)) * i)) AS BIGINT) AS fingerprint
      |FROM documents ORDER BY doc_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q40_token_count", q40, Some(q40Sql)),
    QueryDef("q41_text_quality", q41, Some(q41Sql)),
    QueryDef("q42_exact_dedup", q42, Some(q42Sql)),
    QueryDef("q43_langid_heuristic", q43, Some(q43Sql)),
    QueryDef("q44_shingle_stats", q44, Some(q44Sql)),
    QueryDef("q45_minhash_signature", q45, None),
    QueryDef("q46_ngram_jaccard", q46, Some(q46Sql)),
    QueryDef("q120_ngram_containment", q120, Some(q120Sql)),
    QueryDef("q123_simhash_neardup", q123, None),
    QueryDef("q47_neardup_minhash_lsh", q47, None),
    QueryDef("q48_simhash", q48, None),
    QueryDef("q49_doc_fingerprint", q49, Some(q49Sql)))
}

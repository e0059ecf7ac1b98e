package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryDef
import graft.core.Tables

/** Similarity search over the `embeddings` table (Array[Float], 64-d):
  * brute-force cosine top-k as the exact baseline, and a sign-bit LSH
  * bucketing as the scale path (candidates shrink from N to N/2^bits
  * before any distance is computed).
  *
  * All vector math is Catalyst higher-order functions
  * (`zip_with`/`aggregate`) — codegen'd, no UDF, no driver collect.
  * The query vector joins in via `broadcast`, so at 1000 executors the
  * scan stays embarrassingly parallel and top-k is a
  * TakeOrderedAndProject (per-partition heaps + driver merge of k
  * rows, never a global sort).
  */
object SimilarityQueries {
  /** ONE driver job fetching vec_id 0..16 in order: row 0 is the
    * query vector, rows 1..16 the deterministic codebook sample.
    * q100/q107 previously ran TWO collect jobs (the codebook sample
    * and the query row) per invocation; the rows are the same, only
    * the job count changes (guide §2.4: remove redundant actions). */
  private def headVectors(e: DataFrame): (Seq[Float], Seq[Seq[Float]]) = {
    val rows = e.filter(col("vec_id").between(0, 16))
      .orderBy(col("vec_id")).select(col("vec_id"), col("embedding"))
      .collect()
    require(rows.length == 17 &&
      rows.head.getAs[Number](0).longValue == 0L,
      s"expected vec_id 0..16, got ${rows.length} rows")
    (rows.head.getSeq[Float](1), rows.tail.map(_.getSeq[Float](1)).toSeq)
  }

  /** round(cosine, 4) via the codegen'd [[graft.functions.CosineSimExpr]]
    * kernel — one static call per pair; accumulators add in ascending
    * index order, bit-identical to the former
    * `aggregate(zip_with(...))` spelling and the DuckDB oracles. */
  private def cosineCol: Column =
    round(expr("cosine_sim(embedding, qe)"), 4)

  /** Sign-bit LSH bucket from the first 8 dimensions (hyperplanes =
    * coordinate axes; deterministic, no stored model). Unrolled to a
    * straight-line CASE chain — fully inside whole-stage codegen,
    * where an aggregate() lambda would evaluate interpreted per bit. */
  private val bucketE =
    (1 to 8).map(i =>
      s"CASE WHEN CAST(element_at(embedding, $i) AS DOUBLE) > 0.0 THEN ${1 << (i - 1)} ELSE 0 END")
      .mkString("(", " + ", ")")

  private val bucketSql =
    """(CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END
      | + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
      | + CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END
      | + CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END
      | + CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END
      | + CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END
      | + CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END
      | + CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END)""".stripMargin.replace("\n", "")

  // ---------------------------------------------------------------
  // q50 brute-force cosine top-k against the vec_id=0 query vector —
  // exact ANN baseline: one broadcast, one narrow map, TakeOrdered k.
  // ---------------------------------------------------------------
  def q50(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), cosineCol.as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)
  }

  private val q50Sql =
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |d AS (SELECT e.vec_id, unnest(e.embedding) AS x, unnest((SELECT qe FROM q)) AS y
      |      FROM embeddings e WHERE e.vec_id <> 0)
      |SELECT vec_id,
      |  round(sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) /
      |    (sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) *
      |     (SELECT sqrt(sum(CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
      |      FROM (SELECT unnest(qe) AS v FROM q))), 4) AS cosine
      |FROM d GROUP BY vec_id ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin

  // ---------------------------------------------------------------
  // q51 vector-norm stats per label — DECIMAL(18,6) sums keep the
  // aggregation exact and order-independent at any scale.
  // ---------------------------------------------------------------
  def q51(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .select(col("label"),
        sqrt(expr("vec_norm2(embedding)")).cast(DecimalType(18, 6)).as("nrm"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("nrm")).cast("double").as("sum_norm"))
      .orderBy(col("label"))

  private val q51Sql =
    """SELECT label, count(*) AS n_vecs,
      |  CAST(sum(CAST(sqrt(list_sum(list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS DECIMAL(18,6))) AS DOUBLE) AS sum_norm
      |FROM embeddings GROUP BY label ORDER BY label""".stripMargin

  // ---------------------------------------------------------------
  // q52 LSH bucket histogram — the candidate-set size distribution of
  // the bucketed ANN path (q53): ~N/256 candidates per probe.
  // ---------------------------------------------------------------
  def q52(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .select(expr(bucketE).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_vecs"))
      .orderBy(col("bucket"))

  private val q52Sql =
    s"""SELECT $bucketSql AS bucket, count(*) AS n_vecs
       |FROM embeddings GROUP BY 1 ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------
  // q53 LSH-bucketed ANN top-k — probe only the query's bucket, then
  // exact cosine within it. This is the IVF/LSH scale path: the
  // bucket column is a partition key at 100 TB, so the probe prunes
  // to 1/256 of the data before any vector math runs.
  // ---------------------------------------------------------------
  def q53(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings").withColumn("bucket", expr(bucketE))
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"), col("bucket").as("qb"))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .filter(col("bucket") === col("qb"))
      .select(col("vec_id"), cosineCol.as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(5)
  }

  private val q53Sql =
    s"""WITH b AS (SELECT vec_id, embedding, $bucketSql AS bucket FROM embeddings),
       |q AS (SELECT embedding AS qe, bucket AS qb FROM b WHERE vec_id = 0),
       |d AS (SELECT e.vec_id, unnest(e.embedding) AS x, unnest((SELECT qe FROM q)) AS y
       |      FROM b e WHERE e.vec_id <> 0 AND e.bucket = (SELECT qb FROM q))
       |SELECT vec_id,
       |  round(sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) /
       |    (sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) *
       |     (SELECT sqrt(sum(CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
       |      FROM (SELECT unnest(qe) AS v FROM q))), 4) AS cosine
       |FROM d GROUP BY vec_id ORDER BY cosine DESC, vec_id LIMIT 5""".stripMargin

  // ---------------------------------------------------------------
  // q54 embedding near-dup pairs — cosine between consecutive vec_ids
  // over a threshold (the embedding-cosine dedup primitive; on real
  // data the pair source is the LSH bucket join, not consecutive ids).
  // ---------------------------------------------------------------
  def q54(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val a = e.select(col("vec_id").as("v1"), col("embedding").as("embedding"))
    val b = e.select(col("vec_id").as("v2"), col("embedding").as("qe"))
    a.join(b, col("v2") === col("v1") + 1)
      .select(col("v1"), col("v2"), cosineCol.as("cosine"))
      .filter(col("cosine") >= 0.2)
      .orderBy(col("v1"))
  }

  private val q54Sql =
    """WITH d AS (SELECT a.vec_id AS v1, b.vec_id AS v2,
      |    unnest(a.embedding) AS x, unnest(b.embedding) AS y
      |  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1)
      |SELECT v1, v2,
      |  round(sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) /
      |    (sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) *
      |     sqrt(sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))), 4) AS cosine
      |FROM d GROUP BY v1, v2
      |HAVING round(sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) /
      |    (sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) *
      |     sqrt(sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))), 4) >= 0.2
      |ORDER BY v1""".stripMargin

  // ---------------------------------------------------------------
  // q95 multi-probe LSH ANN — q53 probes only the query's own
  // bucket, so a true neighbor whose vector sits just across one
  // hyperplane is unreachable; standard multi-probe LSH (Lv et al.,
  // VLDB'07) also probes the buckets at Hamming distance 1 (each
  // single sign-bit flip): 9 of 256 buckets ≈ 3.5% of the data,
  // recall strictly ≥ single-probe. The probe set broadcasts with
  // the query vector, so the fact scan stays ONE pass + ONE
  // broadcast join — not 9 separate probe queries — and at 100 TB
  // with `bucket` as a partition key it prunes to the 9 partitions.
  // ---------------------------------------------------------------
  def q95(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings").withColumn("bucket", expr(bucketE))
    val probes = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"), col("bucket").as("qb"))
      .select(col("qe"), explode(expr(
        "transform(sequence(0, 8), i -> CASE WHEN i = 0 THEN qb " +
          "ELSE int(qb ^ shiftleft(1, i - 1)) END)")).as("probe"))
    e.filter(col("vec_id") =!= 0)
      .join(broadcast(probes), col("bucket") === col("probe"))
      .select(col("vec_id"), cosineCol.as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(5)
  }

  private val q95Sql =
    s"""WITH b AS (SELECT vec_id, embedding, $bucketSql AS bucket FROM embeddings),
       |q AS (SELECT embedding AS qe, bucket AS qb FROM b WHERE vec_id = 0),
       |p AS (SELECT unnest([qb, xor(qb,1), xor(qb,2), xor(qb,4), xor(qb,8),
       |        xor(qb,16), xor(qb,32), xor(qb,64), xor(qb,128)]) AS probe FROM q),
       |d AS (SELECT e.vec_id, unnest(e.embedding) AS x, unnest((SELECT qe FROM q)) AS y
       |      FROM b e WHERE e.vec_id <> 0 AND e.bucket IN (SELECT probe FROM p))
       |SELECT vec_id,
       |  round(sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) /
       |    (sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) *
       |     (SELECT sqrt(sum(CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
       |      FROM (SELECT unnest(qe) AS v FROM q))), 4) AS cosine
       |FROM d GROUP BY vec_id ORDER BY cosine DESC, vec_id LIMIT 5""".stripMargin

  // ---------------------------------------------------------------
  // q96 QUERY-DIRECTED multi-probe ANN (Lv et al., VLDB'07 proper):
  // q95's probe set is blind (every 1-bit flip); here the 8
  // signature bits come from deterministic ±1 hyperplanes over ALL
  // 64 dimensions (sign matrix from an integer LCG — no stored
  // model, reproducible in any engine), and the probe set is the 32
  // of 256 perturbation masks with the SMALLEST summed flipped-bit
  // margins |projᵢ| — flip first the hyperplanes the query sits
  // closest to, where a true neighbor most likely lands across.
  // Measured on the sf0.1 vectors this probes ~12% of the data for
  // ~5× the recall of q95's 3.5%-data 1-bit-flip set (0.50 vs 0.10
  // averaged over 50 query points — AnnRecallSpec pins the floor).
  // The probe set still broadcasts with the query vector: ONE fact
  // scan + ONE broadcast join, and `bucket` partition-prunes to 32
  // of 256 partitions at 100 TB.
  // ---------------------------------------------------------------
  /** 8 full-dimension hyperplane projections — the codegen'd
    * [[graft.functions.HyperplaneProjExpr]] kernel (one static call
    * per row; an equivalent higher-order-lambda spelling is
    * interpreted per element in Spark and cost ~4 s at sf0.1). Sign
    * s(i,j) is bit 16 of an integer LCG of (plane i, 1-based dim j) —
    * exact in both JVM and DuckDB integer arithmetic, and the kernel
    * adds in ascending-j order so the doubles match the oracle's
    * grouped sum bit-for-bit. */
  private val projE = "hyperplane_proj(embedding)"

  private val bucketFromProjE =
    (1 to 8).map(i =>
      s"CASE WHEN element_at(proj, $i) > CAST(0.0 AS DOUBLE) THEN ${1 << (i - 1)} ELSE 0 END")
      .mkString("(", " + ", ")")

  def q96(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables(s, dir, "embeddings")
      .withColumn("proj", expr(projE))
      .withColumn("bucket", expr(bucketFromProjE))
    // probe-set construction is QUERY PLANNING, not a scan: fetch the
    // one query row, rank the 256 perturbation masks by summed
    // flipped-bit margin on the driver (the step an ANN index does at
    // query time), and broadcast the 32 winning buckets with the
    // query vector. The fact side stays one scan + one broadcast join
    // with zero lambdas.
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding"), col("proj"), col("bucket")).collect()(0)
    val qe = q.getSeq[Float](0)
    val margins = q.getSeq[Double](1).map(math.abs)
    val qb = q.getInt(2)
    val probeSet = (0 until 256)
      .sortBy(m => ((0 until 8).collect {
        case i if (m >> i & 1) == 1 => margins(i) }.sum, m))
      .take(32).map(m => qb ^ m)
    val probes = broadcast(probeSet.map(p => (qe, p)).toDF("qe", "probe"))
    e.filter(col("vec_id") =!= 0)
      .join(probes, col("bucket") === col("probe"))
      .select(col("vec_id"), cosineCol.as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(5)
  }

  private val q96Sql =
    """WITH dims AS (
      |  SELECT vec_id, j, CAST(embedding[j] AS DOUBLE) AS x
      |  FROM embeddings, generate_series(1, 64) AS g(j)),
      |proj AS (
      |  SELECT vec_id, i,
      |    sum(CASE WHEN (((i*73 + j*179) * 2654435761) % 4294967296) // 65536 % 2 = 1
      |        THEN x ELSE -x END) AS p
      |  FROM dims, generate_series(0, 7) AS gi(i)
      |  GROUP BY vec_id, i),
      |buck AS (
      |  SELECT vec_id, CAST(sum(CASE WHEN p > 0 THEN 1 << i ELSE 0 END) AS INT) AS bucket
      |  FROM proj GROUP BY vec_id),
      |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |masks AS (
      |  SELECT m, sum(CASE WHEN (m >> i) % 2 = 1 THEN abs(p) ELSE 0 END) AS score
      |  FROM generate_series(0, 255) AS gm(m),
      |       (SELECT i, p FROM proj WHERE vec_id = 0) qp
      |  GROUP BY m),
      |probes AS (
      |  SELECT xor((SELECT bucket FROM buck WHERE vec_id = 0), m) AS probe
      |  FROM masks ORDER BY score, m LIMIT 32),
      |d AS (SELECT e.vec_id, unnest(e.embedding) AS x, unnest((SELECT qe FROM q)) AS y
      |      FROM embeddings e JOIN buck b ON b.vec_id = e.vec_id
      |      WHERE e.vec_id <> 0 AND b.bucket IN (SELECT probe FROM probes))
      |SELECT vec_id,
      |  round(sum(x * y) /
      |    (sqrt(sum(x * x)) *
      |     (SELECT sqrt(sum(CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
      |      FROM (SELECT unnest(qe) AS v FROM q))), 4) AS cosine
      |FROM d GROUP BY vec_id ORDER BY cosine DESC, vec_id LIMIT 5""".stripMargin

  // ---------------------------------------------------------------
  // q82 element-wise vector aggregation — the -ForEach combinator
  // (AggregateFunctionForEach.cpp: apply an aggregate per array
  // element) in its scalable form: posexplode + groupBy(label, pos),
  // i.e. per-label embedding centroids. DECIMAL(18,6) per-element
  // sums keep the result exact and order-independent.
  // ---------------------------------------------------------------
  def q82(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      // slice BEFORE posexplode: exploding all 64 dims then filtering
      // pos < 8 generates 8× the rows for nothing
      .select(col("label"), posexplode(slice(col("embedding"), 1, 8)).as(Seq("pos0", "x")))
      .groupBy(col("label"), (col("pos0") + 1).as("pos"))
      .agg(round(sum(col("x").cast(DecimalType(18, 6))).cast("double"), 4).as("sum_x"),
        count(lit(1)).as("n"))
      .orderBy(col("label"), col("pos"))

  private val q82Sql =
    """SELECT label, pos,
      |  round(CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_x,
      |  count(*) AS n
      |FROM (SELECT label, unnest(embedding) AS x,
      |        unnest(generate_series(1, len(embedding))) AS pos
      |      FROM embeddings)
      |WHERE pos <= 8
      |GROUP BY label, pos ORDER BY label, pos""".stripMargin

  // ---------------------------------------------------------------
  // q100 IVF ANN (operators/IvfAnn.scala) — the coarse-quantizer
  // index structure (faiss IndexIVFFlat shape): vectors are assigned
  // to their nearest of 16 coarse centroids, the query probes its 4
  // nearest cells, exact cosine only inside them (~25% of the data
  // before any ranking). The deterministic data-sampled quantizer
  // (vectors 1..16) keeps the whole path DuckDB-reproducible; the
  // MLlib-trained quantizer (IvfAnn.train) is the production variant,
  // recall-pinned in AnnRecallSpec. Plan: ONE scan, narrow codegen'd
  // assignment (16 cosine_sim kernel calls), literal IN probe filter
  // decided at query-planning time, TakeOrderedAndProject — no
  // shuffle, no join; `ivf_cell` partition-prunes at rest at 100 TB.
  // ---------------------------------------------------------------
  def q100(s: SparkSession, dir: String): DataFrame = {
    graft.GraftFunctions.register(s)
    val e = Tables(s, dir, "embeddings")
    // same sample rows as IvfAnn.sampled(vec_id 1..16) + the query
    // row, fetched in ONE job instead of two
    val (qe, sample) = headVectors(e)
    val model = graft.operators.IvfAnn.Model(sample)
    graft.operators.IvfAnn.topK(
      e.filter(col("vec_id") =!= 0), "embedding", model, qe,
      k = 10, nProbe = 4)
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)
      .select(col("vec_id"), col("cosine"))
  }

  private val q100Sql =
    """WITH cent AS (SELECT vec_id AS cid, embedding AS ce
      |  FROM embeddings WHERE vec_id BETWEEN 1 AND 16),
      |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |ac AS (SELECT vec_id, cid,
      |    round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 4) AS cs
      |  FROM (SELECT e.vec_id, c.cid,
      |          CAST(unnest(e.embedding) AS DOUBLE) AS x,
      |          CAST(unnest(c.ce) AS DOUBLE) AS y
      |        FROM embeddings e CROSS JOIN cent c WHERE e.vec_id <> 0)
      |  GROUP BY vec_id, cid),
      |cell AS (SELECT vec_id, (array_agg(cid ORDER BY cs DESC, cid))[1] AS cell
      |  FROM ac GROUP BY vec_id),
      |qc AS (SELECT cid,
      |    round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 4) AS cs
      |  FROM (SELECT c.cid, CAST(unnest((SELECT qe FROM q)) AS DOUBLE) AS y,
      |          CAST(unnest(c.ce) AS DOUBLE) AS x
      |        FROM cent c)
      |  GROUP BY cid ORDER BY cs DESC, cid LIMIT 4),
      |d AS (SELECT e.vec_id, unnest(e.embedding) AS x,
      |        unnest((SELECT qe FROM q)) AS y
      |      FROM embeddings e JOIN cell ON cell.vec_id = e.vec_id
      |      WHERE e.vec_id <> 0 AND cell.cell IN (SELECT cid FROM qc))
      |SELECT vec_id,
      |  round(sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) /
      |    (sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) *
      |     (SELECT sqrt(sum(CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
      |      FROM (SELECT unnest(qe) AS v FROM q))), 4) AS cosine
      |FROM d GROUP BY vec_id ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin

  // ---------------------------------------------------------------
  // q107 product-quantization ANN (operators/PqAnn.scala) — vectors
  // stored as m=8 centroid ids over 16-entry per-subspace codebooks;
  // the query scores rows by ADC: 8 integer lookups + adds per row
  // against a driver-built LUT. Codebooks here are the deterministic
  // sampled quantizer (subvector slices of vec_id 1..16) so DuckDB
  // reproduces encode and ADC bit-for-bit; distances are ×10⁴
  // integers end-to-end, so no float-order drift can break the
  // oracle. One narrow scan + TakeOrderedAndProject — no shuffle.
  // ---------------------------------------------------------------
  def q107(s: SparkSession, dir: String): DataFrame = {
    graft.GraftFunctions.register(s)
    val e = Tables(s, dir, "embeddings")
    // same sample rows as PqAnn.sampled(vec_id 1..16) + the query
    // row, fetched in ONE job instead of two
    val (qe, sample) = headVectors(e)
    val model = graft.operators.PqAnn.fromVectors(sample, m = 8, ks = 16)
    graft.operators.PqAnn.topK(
      e.filter(col("vec_id") =!= 0), "embedding", model, qe)
      .orderBy(col("adc_x1e4").asc, col("vec_id"))
      .limit(10)
      .select(col("vec_id"), col("adc_x1e4"))
  }

  private val q107Sql =
    """WITH cb AS (SELECT vec_id AS c, j, embedding[j*8+1 : j*8+8] AS ce
      |  FROM embeddings, unnest(range(0, 8)) AS u(j)
      |  WHERE vec_id BETWEEN 1 AND 16),
      |q AS (SELECT j, embedding[j*8+1 : j*8+8] AS qs
      |  FROM embeddings, unnest(range(0, 8)) AS u(j) WHERE vec_id = 0),
      |fd AS (SELECT vec_id, j, c,
      |    CAST(round(sum((x - y) * (x - y)) * 10000, 0) AS BIGINT) AS d
      |  FROM (SELECT e.vec_id, cb.j, cb.c,
      |          CAST(unnest(e.embedding[cb.j*8+1 : cb.j*8+8]) AS DOUBLE) AS x,
      |          CAST(unnest(cb.ce) AS DOUBLE) AS y
      |        FROM embeddings e CROSS JOIN cb WHERE e.vec_id <> 0)
      |  GROUP BY vec_id, j, c),
      |enc AS (SELECT vec_id, j, (array_agg(c ORDER BY d, c))[1] AS code
      |  FROM fd GROUP BY vec_id, j),
      |lut AS (SELECT j, c,
      |    CAST(round(sum((x - y) * (x - y)) * 10000, 0) AS BIGINT) AS d
      |  FROM (SELECT cb.j, cb.c,
      |          CAST(unnest(q.qs) AS DOUBLE) AS x,
      |          CAST(unnest(cb.ce) AS DOUBLE) AS y
      |        FROM cb JOIN q ON q.j = cb.j)
      |  GROUP BY j, c)
      |SELECT enc.vec_id, CAST(sum(lut.d) AS BIGINT) AS adc_x1e4
      |FROM enc JOIN lut ON lut.j = enc.j AND lut.c = enc.code
      |GROUP BY enc.vec_id
      |ORDER BY adc_x1e4, vec_id LIMIT 10""".stripMargin

  // ---------------------------------------------------------------
  // q110 corpus cartography — profile embedding-space clusters by
  // document metadata: assign every vector to its nearest coarse
  // centroid (the deterministic sampled IVF quantizer, so DuckDB
  // reproduces the assignment), join the documents table on id, and
  // report per-cell document counts, total chars, and the dominant
  // source. The "what is actually IN each region of my corpus"
  // report that guides mixing and filtering decisions.
  //
  // Scale shape: assignment is a narrow projection (16 codegen'd
  // cosine kernels per row); the embeddings-documents join shuffles
  // both sides on the id — the one legitimately unavoidable shuffle
  // (bucketed storage co-locates it at rest); the per-cell rollups
  // are partial/final aggregations over 16·|sources| groups.
  // ---------------------------------------------------------------
  def q110(s: SparkSession, dir: String): DataFrame = {
    graft.GraftFunctions.register(s)
    val e = Tables(s, dir, "embeddings")
    val docs = Tables(s, dir, "documents")
    val model = graft.operators.IvfAnn.sampled(
      e.filter(col("vec_id").between(1, 16)), "vec_id", "embedding", 16)
    val cells = e
      .withColumn("cell",
        graft.operators.IvfAnn.cellCol(model, "embedding").cast("long"))
      .select(col("vec_id"), col("cell"))
    val j = cells.join(docs, cells("vec_id") === docs("doc_id"))
      .select(col("cell"), col("source"), col("n_chars"))
    // ONE pass over the join: per-(cell, source) partials carry both
    // the doc count and the char sum, then one keyed re-aggregation
    // derives the totals AND the dominant source (max (count, source)
    // struct — ties take the lexicographically greatest source,
    // mirrored in the oracle). Values are identical to the previous
    // two-branch shape (n_docs = Σ per-source counts, sum_chars =
    // Σ per-source long sums — associative integer adds), but the
    // join subtree executes ONCE and the cell-keyed shuffle happens
    // once instead of twice.
    val bySource = j.groupBy(col("cell"), col("source"))
      .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("sc"))
    bySource.groupBy(col("cell"))
      .agg(sum(col("cnt")).as("n_docs"), sum(col("sc")).as("sum_chars"),
        max(struct(col("cnt"), col("source"))).as("m"))
      .select(col("cell"), col("n_docs"), col("sum_chars"),
        col("m.source").as("top_source"), col("m.cnt").as("top_source_docs"))
      .orderBy(col("cell"))
  }

  private val q110Sql =
    """WITH cent AS (SELECT vec_id AS cid, embedding AS ce
      |  FROM embeddings WHERE vec_id BETWEEN 1 AND 16),
      |ac AS (SELECT vec_id, cid,
      |    round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 4) AS cs
      |  FROM (SELECT e.vec_id, c.cid,
      |          CAST(unnest(e.embedding) AS DOUBLE) AS x,
      |          CAST(unnest(c.ce) AS DOUBLE) AS y
      |        FROM embeddings e CROSS JOIN cent c)
      |  GROUP BY vec_id, cid),
      |cell AS (SELECT vec_id, (array_agg(cid ORDER BY cs DESC, cid))[1] AS cell
      |  FROM ac GROUP BY vec_id),
      |j AS (SELECT cell.cell, d.source, d.n_chars
      |  FROM cell JOIN documents d ON d.doc_id = cell.vec_id),
      |sc AS (SELECT cell, source, count(*) AS cnt FROM j GROUP BY 1, 2),
      |top AS (SELECT cell,
      |    (array_agg(source ORDER BY cnt DESC, source DESC))[1] AS top_source,
      |    CAST((array_agg(cnt ORDER BY cnt DESC, source DESC))[1] AS BIGINT) AS top_source_docs
      |  FROM sc GROUP BY 1),
      |tot AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(n_chars) AS BIGINT) AS sum_chars FROM j GROUP BY 1)
      |SELECT tot.cell AS cell, n_docs, sum_chars, top_source, top_source_docs
      |FROM tot JOIN top ON top.cell = tot.cell ORDER BY cell""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q100_ivf_ann", q100, Some(q100Sql)),
    QueryDef("q107_pq_ann", q107, Some(q107Sql)),
    QueryDef("q110_corpus_cartography", q110, Some(q110Sql)),
    QueryDef("q50_cosine_brute_topk", q50, Some(q50Sql)),
    QueryDef("q51_norm_by_label", q51, Some(q51Sql)),
    QueryDef("q52_lsh_bucket_histogram", q52, Some(q52Sql)),
    QueryDef("q53_ann_lsh_topk", q53, Some(q53Sql)),
    QueryDef("q54_embedding_neardup", q54, Some(q54Sql)),
    QueryDef("q82_sum_foreach_centroid", q82, Some(q82Sql)),
    QueryDef("q95_ann_multiprobe", q95, Some(q95Sql)),
    QueryDef("q96_ann_query_directed", q96, Some(q96Sql)))
}

package graft

import org.apache.spark.sql.functions._

/** Dev tool: scale the sf0.1 test tables ~Nx by unioning key-offset
  * copies (dims stay as-is), preserving referential integrity per
  * copy — the input for the sf1 scaling probe (BENCH_sf1): every
  * query must scale ~linearly in data size, or it hides a quadratic.
  *
  * Key offsets use a stride that is a multiple of 1392 = 16·3·29 so
  * the `pmod(id, k)` derivations in the document/media queries keep
  * their marginal distributions across copies.
  *
  * Usage: runMain graft.ScaleGen [copies] [outDir] [srcDir]
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val copies = args.lift(0).map(_.toInt).getOrElse(10)
    val out = args.lift(1).getOrElse("target/sf1")
    val src = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession(GraftSession.cpusFromEnv(32))

    val offsetCols: Map[String, Seq[String]] = Map(
      "region" -> Seq.empty,
      "nation" -> Seq.empty,
      "customer" -> Seq("c_custkey"),
      "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "events" -> Seq("event_id", "user_id"),
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"))

    // ONE stride shared by every offset column across every table:
    // an FK (o_custkey, l_partkey, ...) must shift by exactly the
    // same amount as the PK it references or copies 1..N-1 point at
    // dangling/wrong-copy dim rows. Global max over all key columns,
    // rounded up to a multiple of 1392, guarantees both referential
    // integrity per copy and disjoint key ranges between copies.
    val globalMaxKey = offsetCols.collect { case (name, keys) if keys.nonEmpty =>
      val base = graft.core.Tables(spark, src, name)
      val maxes = keys.map(k => max(col(k)))
      val m = if (maxes.length == 1) maxes.head else greatest(maxes: _*)
      base.agg(m).collect()(0).getLong(0)
    }.max
    val stride = ((globalMaxKey / 1392) + 1) * 1392

    offsetCols.foreach { case (name, keys) =>
      val base = graft.core.Tables(spark, src, name)
      val scaled =
        if (keys.isEmpty) base
        else {
          (0 until copies).map { i =>
            keys.foldLeft(base)((df, k) =>
              df.withColumn(k, col(k) + lit(i * stride)))
          }.reduce(_ unionByName _)
        }
      scaled.write.mode("overwrite").parquet(s"$out/$name.parquet")
      System.err.println(s"[scalegen] $name x${if (keys.isEmpty) 1 else copies}")
    }
    spark.stop()
  }
}

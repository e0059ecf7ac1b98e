package graft.tools

/** Dev tool: execute one CH-dialect query against a parquet-backed
  * `hits` view and dump the EXECUTED physical plan (plus the
  * LateMaterialization pass plans when that rewrite fired) — the
  * .explain loop the round driver can't give us for rewritten
  * queries, whose interesting plans are the internal passes.
  * Usage: runMain graft.tools.Explain <parquetPath> <query> [cpus]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val path = args(0)
    val query = args(1)
    val cpus = if (args.length > 2) args(2).toInt else 32
    val spark = graft.GraftSession(cpus, aqe = false)
    spark.read.parquet(path).createOrReplaceTempView("hits")
    val reps = sys.env.getOrElse("EXPLAIN_REPEAT", "1").toInt
    // EXPLAIN_RAW=1 bypasses the dialect (and its rewrites): plain
    // spark.sql — for isolating what a rewrite pass costs
    val raw = sys.env.get("EXPLAIN_RAW").contains("1")
    def exec(q: String): Option[org.apache.spark.sql.DataFrame] =
      if (raw) Some(spark.sql(q)) else graft.sql.ChDdl.execute(spark, q)
    var i = 1
    while (i < reps) { // warmups before the reported run
      exec(query)
        .foreach(_.write.format("noop").mode("overwrite").save())
      i += 1
    }
    val t0 = System.nanoTime()
    exec(query) match {
      case Some(df) =>
        df.write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"== elapsed: $sec%.3f s ==")
        println("== executed plan ==")
        println(df.queryExecution.executedPlan.toString)
        if (graft.operators.LateMaterialization.lastPass1Plan.nonEmpty) {
          println("== late-materialization pass 1 ==")
          println(graft.operators.LateMaterialization.lastPass1Plan)
          println("== late-materialization pass 2 ==")
          println(graft.operators.LateMaterialization.lastPass2Plan)
        }
      case None => println("(no result)")
    }
    spark.stop()
  }
}

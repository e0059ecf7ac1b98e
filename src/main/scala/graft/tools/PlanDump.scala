package graft.tools

/** Dev tool: dump `.explain("formatted")` for registry queries to
  * files — the plan evidence the optimization rounds commit under
  * plans/rNN/. Usage:
  *   runMain graft.tools.PlanDump <outDir> <suffix> [q25,q27|all]
  * env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_CPUS. Query names match on the qNN prefix.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val which = args.lift(2).getOrElse("all")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession(graft.GraftSession.cpusFromEnv(32))
    new java.io.File(outDir).mkdirs()
    val wanted: Option[Set[String]] =
      if (which == "all") None
      else Some(which.split(",").map(_.trim).toSet)
    graft.Registry.all.foreach { qd =>
      val short = qd.name.takeWhile(_ != '_')
      if (wanted.forall(w => w.contains(short) || w.contains(qd.name))) {
        try {
          val df = qd.fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          val f = new java.io.File(outDir, s"${qd.name}_$suffix.txt")
          val w = new java.io.PrintWriter(f, "UTF-8")
          try w.println(plan) finally w.close()
          System.err.println(s"[plandump] ${qd.name} -> $f")
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] ${qd.name} FAILED: ${e.getMessage}")
        }
      }
    }
    spark.stop()
  }
}

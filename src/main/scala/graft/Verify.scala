package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val only = args.drop(2).toSet // optional query-name filter (dev runs)
    val spark = GraftSession(GraftSession.cpusFromEnv(4))
    new java.io.File(outDir).mkdirs()
    // fail FAST and by name on a null oracle string (a Scala
    // val-initialization-order bug puts null into a QueryDef whose
    // `defs` val precedes its SQL val) — the NPE otherwise fires
    // after all queries ran, while dumping oracle_sql.json, and takes
    // the whole correctness artifact down with it
    SparkEntry.oracleSql.foreach { case (k, v) =>
      require(v != null, s"oracle SQL for $k is null — QueryDef built before its SQL val (move defs below the SQL vals)")
    }
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // Loud failure: stderr AND a per-query error artifact. A bare
        // stderr line made the driver silently OMIT broken queries from
        // CORRECTNESS_r06 (22 entries vanished when the events fixture
        // changed type) — a gate that can't see red is not a gate.
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(
        s"[verify] ${errors.size} quer${if (errors.size == 1) "y" else "ies"} FAILED: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}

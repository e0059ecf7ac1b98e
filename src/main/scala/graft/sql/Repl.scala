package graft.sql

import java.nio.file.{Files, Paths}

/** Dev tool: run CH-dialect statements through the ChSql/ChDdl
  * pipeline. Each argument is a statement list, or `@file` to read
  * one from a file (a corpus script, say). For each statement it
  * prints a `==STMT==` marker with the statement, the `ChSql.translate`
  * Spark SQL, then the rendered output or the error with its cause
  * chain. See also [[CorpusTriage]].
  *
  * Usage: runMain graft.sql.Repl "SELECT 1" @/path/to/script.sql ...
  */
object Repl {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession(4)
    args.foreach { a =>
      val sql =
        if (a.startsWith("@")) Files.readString(Paths.get(a.drop(1))) else a
      try ChSql.statements(sql).foreach { st =>
        println(s"==STMT== ${st.linesIterator.mkString(" ")}")
        try {
          println(s"==SQL== ${ChSql.translate(st)}")
          ChDdl.executeRendered(spark, st).foreach(println)
        } catch { case e: Throwable => printError(e) }
      } catch { case e: Throwable => printError(e) }
    }
    spark.stop()
  }

  private def printError(e: Throwable): Unit = {
    def msg(t: Throwable, lines: Int) = s"${t.getClass.getSimpleName}: " +
      Option(t.getMessage).getOrElse("").linesIterator.take(lines).mkString(" | ")
    println(s"ERR ${msg(e, 4)}")
    var c = e.getCause
    while (c != null) {
      println(s"  CAUSE ${msg(c, 2)}")
      c = c.getCause
    }
  }
}

package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Keeps every session on the shared settings: GraftSession is the
  * only place a SparkSession is built, and what it builds carries the
  * settings the oracle, the benches and the specs all rely on. */
class GraftSessionSpec extends SparkSpec {
  test("SparkSession is built only in GraftSession") {
    val needle = "SparkSession" + ".builder" // not a match for this file
    val roots = Seq("src/main", "src/test").map(Paths.get(_))
    assert(roots.forall(Files.isDirectory(_)),
      s"run from the repo root (cwd ${Paths.get("").toAbsolutePath})")
    val offenders = roots.flatMap { r =>
      val files = Files.walk(r)
      try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.filter { p: Path =>
      p.getFileName.toString != "GraftSession.scala" &&
        Files.readString(p).contains(needle)
    }
    assert(offenders.isEmpty, s"build sessions with GraftSession: $offenders")
  }

  test("a GraftSession carries the shared settings") {
    val conf = spark.conf
    assert(conf.get("spark.sql.extensions") === "graft.GraftExtensions")
    assert(conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold")
      === "1000000")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.sparkContext.master === "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") === "4")
  }
}

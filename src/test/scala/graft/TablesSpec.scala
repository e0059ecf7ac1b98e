package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.types.TimestampType
import org.apache.spark.sql.functions.{col, count, lit, max, min}

import graft.core.Tables
import graft.storage.MergeTreeTable

/** Regression pins for the table reader (`graft.core.Tables`).
  *
  * The driver regenerates /root/testdata between rounds and has shipped
  * `events.ts` both as parquet TIMESTAMP(NANOS) and as timestamp[us];
  * round 6 lost 22 queries at plan time when the reader assumed one
  * generation. These pins read `events` from every sf dir and assert the
  * normalized schema, so a fixture-type flip fails HERE with a clear
  * message instead of as 22 opaque AnalysisExceptions.
  *
  * The schema catalog cases run on a temp-dir copy of the sf0.001
  * fixtures, so they can rewrite files without touching the shared ones.
  */
class TablesSpec extends SparkSpec {

  private val sfDirs =
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
      .filter(d => new java.io.File(d).isDirectory)

  test("events.ts loads as TimestampType from every sf dir") {
    assert(sfDirs.nonEmpty, "no testdata dirs found")
    sfDirs.foreach { dir =>
      val ev = graft.core.Tables(spark, dir, "events")
      assert(ev.schema("ts").dataType == TimestampType,
        s"$dir/events.parquet: ts loaded as ${ev.schema("ts").dataType}")
      val row = ev.agg(
        count(col("ts")).as("n"), min(col("ts")).as("lo"), max(col("ts")).as("hi")
      ).head()
      assert(row.getLong(0) > 0, s"$dir: events has no non-null ts rows")
      // sane epoch range: the generator writes 2020s-era timestamps; a
      // mis-scaled nanos/micros rebuild lands decades away
      val lo = row.getTimestamp(1).toInstant.atZone(java.time.ZoneOffset.UTC).getYear
      val hi = row.getTimestamp(2).toInstant.atZone(java.time.ZoneOffset.UTC).getYear
      assert(lo >= 2000 && hi <= 2100, s"$dir: ts range out of epoch ($lo..$hi)")
    }
  }

  test("all catalog tables read and are non-empty at sf0.001") {
    graft.core.Tables.names.foreach { n =>
      val df = graft.core.Tables(spark, sfDir, n)
      assert(df.limit(1).count() == 1, s"$n is empty or unreadable")
    }
  }

  /** A fresh copy of the sf0.001 fixtures. */
  private def fixtureCopy(): String = {
    val d = Files.createTempDirectory("graft_tables").toFile
    Tables.names.foreach { n =>
      Files.copy(new File(sfDir, s"$n.parquet").toPath,
        new File(d, s"$n.parquet").toPath)
    }
    d.getPath
  }

  /** Spark jobs started while `body` runs. A marker job flushes the
    * listener bus: events arrive in order, so once its start is seen
    * every earlier job's start has been counted. */
  private def jobsDuring(body: => Unit): Int = {
    val marker = "graft-tables-spec-marker"
    @volatile var jobs = 0
    @volatile var flushed = false
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty("spark.job.description") == marker)) flushed = true
        else if (!flushed) jobs += 1
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      spark.sparkContext.setJobDescription(marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 10000
      while (!flushed && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(flushed, "listener bus did not deliver the marker job")
      jobs
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("a warm Tables.apply starts no Spark job") {
    val dir = fixtureCopy()
    assert(jobsDuring(Tables(spark, dir, "orders")) >= 1,
      "a cold resolution infers the schema with a Spark job")
    Tables.names.foreach(Tables(spark, dir, _))
    val warm = jobsDuring(Tables.names.foreach(Tables(spark, dir, _)))
    assert(warm == 0, s"warm resolution of ${Tables.names.size} tables ran $warm jobs")
    assert(Tables(spark, dir, "events").schema("ts").dataType == TimestampType)
  }

  test("a rewritten table file is resolved again with its new schema") {
    val dir = fixtureCopy()
    val target = new File(dir, "orders.parquet")
    val before = Tables(spark, dir, "orders")
    assert(!before.columns.contains("o_flag"))
    val n = before.count()
    // one parquet file with the extra column, moved over the fixture
    val staging = Files.createTempDirectory("graft_tables_rw").toString
    spark.read.parquet(target.getPath).withColumn("o_flag", lit(7))
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(staging)
    val part = new File(staging).listFiles().filter(_.getName.endsWith(".parquet")).head
    val mtime = target.lastModified()
    Files.move(part.toPath, target.toPath, StandardCopyOption.REPLACE_EXISTING)
    assert(target.setLastModified(mtime + 10000))
    val after = Tables(spark, dir, "orders")
    assert(after.columns.toSeq == before.columns.toSeq :+ "o_flag")
    assert(after.count() == n)
    assert(after.agg(min(col("o_flag")), max(col("o_flag"))).head().toSeq == Seq(7, 7))
  }

  test("MergeTreeTable.read sees an appended part") {
    val path = Files.createTempDirectory("graft_tables_mt").toString + "/t"
    val spec = MergeTreeTable.Spec(Seq("k"), Some("p"))
    def batch(lo: Long) = spark.range(lo, lo + 100)
      .select(col("id").as("k"), (col("id") % 3).cast("int").as("p"))
    MergeTreeTable.write(batch(0), path, spec)
    assert(MergeTreeTable.read(spark, path).count() == 100)
    val first = MergeTreeTable.read(spark, path)
    MergeTreeTable.write(batch(100), path, spec)
    val second = MergeTreeTable.read(spark, path)
    assert(second.schema == first.schema)
    assert(second.count() == 200)
    assert(second.agg(min(col("k")), max(col("k"))).head().toSeq == Seq(0L, 199L))
    assert(second.filter(col("p") === 2).count() ==
      spark.range(0, 200).filter(col("id") % 3 === 2).count())
  }

  test("a self-join of one table read twice resolves and keeps its rows") {
    val dir = fixtureCopy()
    def selfJoin(read: () => org.apache.spark.sql.DataFrame) = {
      val a = read()
      val b = read()
      a.join(b, a("n_regionkey") === b("n_regionkey"))
        .select(a("n_nationkey").as("x"), b("n_nationkey").as("y"))
        .collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
    }
    val raw = selfJoin(() => spark.read.parquet(s"$dir/nation.parquet"))
    Tables(spark, dir, "nation") // warm: both reads below hit the catalog
    val cached = selfJoin(() => Tables(spark, dir, "nation"))
    assert(raw.size == 125)
    assert(cached == raw)
  }
}

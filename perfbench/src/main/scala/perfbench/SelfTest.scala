package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.Row

/** Tests of the benchmark's own code: the digest, the ReplacingMergeTree
  * FINAL calculator and the two seeded generators. Exits non-zero on
  * the first failed check. Run with `python3 perfbench/run.py --selftest`. */
object SelfTest {
  private var checks = 0

  private def check(cond: Boolean, what: String): Unit = {
    checks += 1
    if (!cond) { System.err.println(s"[selftest] FAILED: $what"); sys.exit(1) }
  }

  def run(o: Opts): Unit = {
    digest()
    replacingFinal()
    ingestGen()
    hitsGen(o)
    println(s"[selftest] $checks checks passed")
  }

  private def digest(): Unit = {
    val names = Seq("b", "a")
    val rows = Seq(Row(1L, "x"), Row(2L, "y"), Row(2L, "y"))
    val d = Digest.of(names, rows.iterator)
    check(d == Digest.of(names, rows.reverse.iterator), "digest ignores row order")
    check(d == Digest.of(Seq("a", "b"), rows.map(r => Row(r.get(1), r.get(0))).iterator),
      "digest ignores column order")
    check(d != Digest.of(names, rows.take(2).iterator), "digest counts duplicate rows")
    check(d.startsWith("3:"), "digest carries the row count")
    check(Digest.of(Seq("v"), Iterator(Row(0.1 + 0.2))) == Digest.of(Seq("v"), Iterator(Row(0.3))),
      "floats are rounded before hashing")
    check(Digest.of(Seq("v"), Iterator(Row(0.3))) != Digest.of(Seq("v"), Iterator(Row(0.30001))),
      "rounding keeps 8 significant digits")
    check(Digest.canon(12L) == Digest.canon(12.0), "an integral double equals the integer")
    check(Digest.canon(new java.math.BigDecimal("12.50")) == Digest.canon(12.5), "decimals equal doubles")
    check(Digest.canon(Seq(1, null)) == "[1e0,\\N]", "arrays and nulls render")
    check(Digest.canon(1234567890123L) == "1234567890123e0", "large integers keep every digit")
  }

  private def replacingFinal(): Unit = {
    val d = java.time.LocalDate.of(2020, 1, 5)
    val f = new ReplacingFinal
    f.add(Seq(IngestRow(d, 1, 1, 10), IngestRow(d, 2, 1, 20)))
    f.add(Seq(IngestRow(d, 1, 2, 11)))
    f.add(Seq(IngestRow(d, 2, 0, 99)))
    check(f.expectedTsv == "2\t404002\t31\t3\n", s"FINAL keeps the max version (${f.expectedTsv})")
    f.add(Seq(IngestRow(d, 2, 1, 21)))
    check(f.expectedTsv == "2\t404002\t32\t3\n", "a version tie keeps the last insert")
    f.add(Seq(IngestRow(java.time.LocalDate.of(2020, 3, 1), 7, 1, 5)))
    check(f.expectedTsv == "3\t606005\t37\t4\n", "a new key adds its month")
  }

  private def ingestGen(): Unit = {
    def batches(seed: Long) = {
      val g = new IngestGen(seed, 100, 0.3)
      (1 to 5).map(_ => g.nextBatch())
    }
    check(batches(1) == batches(1), "ingest batches repeat for a seed")
    check(batches(1) != batches(2), "ingest batches change with the seed")
    val bs = batches(3)
    check(bs.forall(b => b.map(_.k).distinct.size == b.size), "keys are distinct within a batch")
    val seen = collection.mutable.Set.empty[Long]
    val reused = bs.map { b => val n = b.count(r => seen(r.k)); seen ++= b.map(_.k); n }
    check(reused == Seq(0, 30, 30, 30, 30), s"each batch reuses 30% earlier keys ($reused)")
    check(bs.flatten.groupBy(_.k).values.forall(_.map(_.d).distinct.size == 1),
      "a key always lands in one partition")
  }

  private def hitsGen(o: Opts): Unit = {
    val spark = Main.session(o, Nil)
    val base = Files.createTempDirectory(new File(o("work")).toPath, "hitsgen").toFile
    def gen(name: String, seed: Long): Seq[Seq[Byte]] = {
      val dir = new File(base, name)
      HitsGen.generate(spark, dir.getPath, 20000L, seed)
      Main.parquetFiles(dir).map(f => Files.readAllBytes(f.toPath).toSeq)
    }
    val a = gen("a", 1)
    check(a.nonEmpty, "hits generator writes parquet files")
    check(a == gen("b", 1), "hits files are byte-identical for a seed")
    check(a != gen("c", 2), "hits files change with the seed")
    spark.stop()
  }
}

package perfbench

import java.io.File
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker

/** One timed statement. Window times are epoch millis: `t0Ms` start,
  * `t1Ms` end of query construction, `t2Ms` end. */
final class Sample(val name: String, val kind: String, val pass: Int, val traced: Boolean) {
  var wall = 0.0
  var ok = true
  var error = ""
  var t0Ms = 0L
  var t1Ms = 0L
  var t2Ms = 0L
  /** End of the last Catalyst phase run after `t1Ms` (traced reads). */
  var execPhasesEndMs = 0L
  val f = mutable.LinkedHashMap.empty[String, Double]
  def add(k: String, v: Double): Unit = f(k) = f.getOrElse(k, 0.0) + v
}

/** Command-line options; see `perfbench/run.py`, which passes them. */
final case class Opts(args: Map[String, String]) {
  def apply(k: String): String = args.getOrElse(k, sys.error(s"missing --$k"))
  def get(k: String): Option[String] = args.get(k)
  def seed: Long = apply("seed").toLong
  def seconds: Double = apply("seconds").toDouble
  def trace: Boolean = get("trace").contains("1")
  def cpus: Int = get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
}

object Opts {
  def parse(a: Array[String]): Opts =
    Opts(a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap)
}

/** State shared by a run's statements. */
final class Ctx(val spark: SparkSession) {
  val samples = mutable.ArrayBuffer.empty[Sample]
  /** Statements whose output was wrong or that failed: name -> reason. */
  val failures = mutable.ArrayBuffer.empty[(String, String)]
  /** Set for the traced run: every read statement then runs twice, once
    * traced and once untraced, in alternating order. */
  var tracer: Option[Tracer] = None
  /** Set during the warm-up lap, whose samples no metric uses. */
  var warming = false
  var pass = 0
  private var reads = 0L

  private val fileCounts = mutable.Map.empty[String, Long]

  /** Parquet files under a scan's root path. */
  private def filesIn(root: String): Long =
    fileCounts.getOrElseUpdate(root, Main.parquetFiles(new File(new URI(root).getPath)).size.toLong)

  def fail(name: String, why: String): Unit = {
    failures += name -> why
    System.err.println(s"[perfbench] FAILED $name: $why")
  }

  /** Runs one read statement: `build` constructs the DataFrame, the
    * client collects its rows, and `check` (outside the clock) returns
    * an error when they are wrong. */
  def read(name: String,
      check: (Seq[String], Array[Row]) => Option[String])(build: => DataFrame): Unit =
    tracer match {
      case None => once(name, check, traced = false)(build)
      case Some(_) =>
        reads += 1
        val tracedFirst = reads % 2 == 0
        once(name, check, traced = tracedFirst)(build)
        once(name, check, traced = !tracedFirst)(build)
    }

  private def once(name: String,
      check: (Seq[String], Array[Row]) => Option[String], traced: Boolean)(
      build: => DataFrame): Unit = {
    val s = newSample(name, "read", traced)
    s.t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val df = build
      val t1 = System.nanoTime()
      s.t1Ms = System.currentTimeMillis()
      val rows = df.collect()
      val t2 = System.nanoTime()
      s.t2Ms = System.currentTimeMillis()
      s.wall = (t2 - t0) / 1e9
      if (traced) {
        val qe = df.queryExecution
        // each Catalyst phase counts against the window it ran in; SQL
        // parsing (ChDdl's statements) stays part of construction
        val phases = qe.tracker.phases.toSeq
          .filter(p => Set("analysis", "optimization", "planning")(p._1))
        val (inBuild, inExec) = phases.partition(_._2.endTimeMs <= s.t1Ms)
        def secs(ps: Seq[(String, QueryPlanningTracker.PhaseSummary)]) =
          ps.map(p => (p._2.endTimeMs - p._2.startTimeMs) / 1e3).sum
        phases.foreach { case (ph, p) => s.add(s"$ph.s", (p.endTimeMs - p.startTimeMs) / 1e3) }
        s.add("build.s", (t1 - t0) / 1e9 - secs(inBuild))
        // exec.s is measured by the listener (Tracer.attribute), not
        // as the rest of the window, so the layers can miss the wall
        s.execPhasesEndMs = (inExec.map(_._2.endTimeMs) :+ s.t1Ms).max
        s.add("graft_rules.s", Tracer.graftRuleSec(qe))
        Tracer.operatorMetrics(qe.executedPlan, filesIn).foreach { case (k, v) => s.add(k, v) }
      }
      check(df.schema.fieldNames.toSeq, rows).foreach { why =>
        s.ok = false
        s.error = why
        fail(name, why)
      }
    } catch {
      case e: Throwable =>
        s.ok = false
        s.error = Option(e.getMessage).getOrElse(e.toString).linesIterator.nextOption().getOrElse("")
        s.wall = (System.nanoTime() - t0) / 1e9
        s.t1Ms = math.max(s.t1Ms, s.t0Ms)
        s.t2Ms = System.currentTimeMillis()
        fail(name, s.error)
    }
    samples += s
  }

  /** A sample of the current pass; a warm-up lap's samples are of kind
    * `warmup`. */
  def newSample(name: String, kind: String, traced: Boolean): Sample =
    new Sample(name, if (warming) "warmup" else kind, pass, traced)

  /** Latency samples measured so far. */
  def readSamples: Int = samples.count(_.kind == "read")
}

/** A benchmark workload: what one run sets up, checks and times. */
trait Workload {
  def conf: Seq[(String, String)] = Nil
  def setup(spark: SparkSession): Unit
  def teardown(spark: SparkSession): Unit = ()
  /** One pass over the workload's statements, each checked. */
  def pass(ctx: Ctx): Unit
  /** Traced-run probes outside the pass (name -> value). */
  def probes(ctx: Ctx): Map[String, Double] = Map.empty
}

object Main {
  /** Latency samples a run measures at least: 10 lie beyond p90. */
  val MinReads = 100

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    o("mode") match {
      case "run" => run(o)
      case "gen-hits" => HitsWorkload.generate(o)
      case "selftest" => SelfTest.run(o)
      case "oracle-sql" => Golden.save(o("out"), graft.SparkEntry.oracleSql)
      case m => sys.error(s"unknown mode $m")
    }
  }

  def session(o: Opts, conf: Seq[(String, String)]): SparkSession = {
    val work = new File(o("work")).getAbsoluteFile
    val b = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
    val spark = conf.foldLeft(b) { case (x, (k, v)) => x.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def workload(o: Opts): Workload = o("workload") match {
    case "suite" => new SuiteWorkload(o)
    case "hits" => new HitsWorkload(o)
    case w => sys.error(s"unknown workload $w")
  }

  def run(o: Opts): Unit = {
    val w = workload(o)
    val setups = 3
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (1 to setups).foreach { i =>
      val t0 = System.nanoTime()
      spark = session(o, w.conf)
      w.setup(spark)
      setupS += (System.nanoTime() - t0) / 1e9
      if (i < setups) { w.teardown(spark); spark.stop() }
    }
    val probe = graft.tools.HostProbe.reading()
    val ctx = new Ctx(spark)
    val passS = mutable.ArrayBuffer.empty[Double]
    var probes = Map.empty[String, Double]
    // an untimed lap warms the JIT and codegen caches up; a full
    // collection before every pass (outside its clock) lets each start
    // from a compacted heap, so the resident set follows the live data
    // rather than when the old generation was last collected
    System.gc()
    ctx.warming = true
    w.pass(ctx)
    ctx.warming = false
    ctx.pass += 1
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    if (o.trace) {
      val tr = new Tracer(spark)
      tr.install()
      ctx.tracer = Some(tr)
      System.gc()
      w.pass(ctx)
      tr.drain()
      tr.attribute(ctx.samples.filter(_.traced).toSeq)
      tr.uninstall()
      ctx.tracer = None
      probes = w.probes(ctx)
    } else {
      // whole passes until --seconds and MinReads samples are measured
      while (ctx.readSamples < MinReads || elapsed < o.seconds) {
        System.gc()
        val t0 = System.nanoTime()
        w.pass(ctx)
        passS += (System.nanoTime() - t0) / 1e9
        ctx.pass += 1
      }
    }
    val measuredS = elapsed
    w.teardown(spark)
    writeArtifact(o, Map(
      "workload" -> o("workload"), "seed" -> o.seed, "trace" -> o.trace,
      "cpus" -> o.cpus, "setup_s" -> setupS.toSeq, "host_probe_s" -> probe,
      "pass_s" -> passS.toSeq, "measured_s" -> measuredS,
      "peak_rss_mb" -> peakRssMb(), "probes" -> probes,
      "failures" -> ctx.failures.map { case (n, why) => Map("name" -> n, "error" -> why) }.toSeq,
      "samples" -> ctx.samples.map(s => Map(
        "name" -> s.name, "kind" -> s.kind, "pass" -> s.pass, "traced" -> s.traced,
        "wall_s" -> s.wall, "ok" -> s.ok, "error" -> s.error, "layers" -> s.f.toMap)).toSeq))
    spark.stop()
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)

  def writeArtifact(o: Opts, m: Map[String, Any]): Unit =
    Files.write(Paths.get(o("out")), Json(m).getBytes(UTF_8))

  /** Bytes of every regular file under `f`. */
  def du(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(du).sum).getOrElse(0L)

  /** Parquet data files directly or indirectly under `dir`. */
  def parquetFiles(dir: File): Seq[File] =
    if (dir.isFile) (if (dir.getName.endsWith(".parquet")) Seq(dir) else Nil)
    else Option(dir.listFiles).map(_.toSeq.sortBy(_.getName).flatMap(parquetFiles)).getOrElse(Nil)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    (s(s.size / 2) + s((s.size - 1) / 2)) / 2
  }

  /** Median wall time of `n` calls of `body`. */
  def medianTime(n: Int)(body: => Any): Double =
    median((1 to n).map { _ =>
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    })

  /** Seeded permutation. */
  def shuffled[T](xs: Seq[T], seed: Long): Seq[T] =
    new scala.util.Random(new java.util.Random(seed)).shuffle(xs)
}

/** Minimal JSON rendering of maps, sequences, strings, numbers. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** The registered queries `--queries` lists (all of them without it)
  * over the committed sf0.01 fixtures, in an order the seed permutes. */
final class SuiteWorkload(o: Opts) extends Workload {
  private val dir = new File(o("data")).getAbsolutePath
  private val listed = o.get("queries").map(p =>
    scala.io.Source.fromFile(p)(scala.io.Codec.UTF8).getLines()
      .filterNot(_.startsWith("#")).map(_.split("\t")(0)).toSet)
  private val queries =
    graft.SparkEntry.queries.toSeq.filter(q => listed.forall(_(q._1))).sortBy(_._1)
  listed.foreach { l =>
    val unknown = l -- queries.map(_._1)
    require(unknown.isEmpty, s"not registered queries: ${unknown.toSeq.sorted.mkString(", ")}")
  }
  private val golden = Golden.load(o("golden"))
  private val record = o.get("record").contains("1")
  /** Digests seen in this run, for `--record 1`. */
  val seen = mutable.Map.empty[String, String]

  def setup(spark: SparkSession): Unit = {
    graft.tools.CacheKeeper.pin(Seq(dir))
    graft.core.Tables.registerAll(spark, dir)
  }

  override def teardown(spark: SparkSession): Unit = {
    graft.tools.CacheKeeper.unpin()
    if (record) Golden.save(o("golden"), seen.toMap)
  }

  private def check(name: String)(cols: Seq[String], rows: Array[Row]): Option[String] = {
    val d = Digest.of(cols, rows.iterator)
    seen(name) = d
    if (record) None
    else golden.get(name) match {
      case Some(g) if g == d => None
      case Some(g) => Some(s"digest $d, expected $g")
      case None => Some("no golden digest")
    }
  }

  def pass(ctx: Ctx): Unit =
    Main.shuffled(queries, o.seed * 1000003L + ctx.pass).foreach { case (name, fn) =>
      ctx.read(name, check(name))(fn(ctx.spark, dir))
    }

  /** Median warm `Tables.apply` over the fixture tables. */
  override def probes(ctx: Ctx): Map[String, Double] = {
    val ts = graft.core.Tables.names.map { n =>
      graft.core.Tables(ctx.spark, dir, n)
      Main.medianTime(1)(graft.core.Tables(ctx.spark, dir, n))
    }
    Map("resolve.s" -> Main.median(ts))
  }
}

/** Golden digest files: a JSON object of name -> digest. */
object Golden {
  def load(path: String): Map[String, String] = {
    val f = new File(path)
    if (!f.exists) Map.empty
    else "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r
      .findAllMatchIn(new String(Files.readAllBytes(f.toPath), UTF_8))
      .map(m => m.group(1) -> m.group(2)).toMap
  }

  def save(path: String, m: Map[String, String]): Unit = {
    val body = m.toSeq.sortBy(_._1).map { case (k, v) => s"  ${Json.quote(k)}: ${Json.quote(v)}" }
      .mkString("{\n", ",\n", "\n}\n")
    Files.write(Paths.get(path), body.getBytes(UTF_8))
  }
}

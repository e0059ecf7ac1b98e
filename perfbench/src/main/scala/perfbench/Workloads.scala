package perfbench

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Row, SparkSession}

/** The reference's 43 benchmark queries, in ClickHouse dialect through
  * `ChDdl.execute`, over a seeded `hits` table; each pass ends with an
  * [[IngestSegment]] of HTTP inserts, FINAL reads and merges. */
final class HitsWorkload(o: Opts) extends Workload {
  private val dir = new File(o("hits"), "table").getAbsolutePath
  private val queries = HitsWorkload.load(o("queries"))
  private val ingest = new IngestSegment(o.seed)

  // the reference runs one query at a time on resident data; AQE off as
  // in graft's own 43-query bench
  override def conf: Seq[(String, String)] = Seq("spark.sql.adaptive.enabled" -> "false")

  def setup(spark: SparkSession): Unit = {
    graft.tools.CacheKeeper.pin(Seq(dir))
    graft.operators.FooterStats.writeSidecars(spark.sessionState.newHadoopConf(), dir)
    spark.read.parquet(dir).createOrReplaceTempView("hits")
    ingest.setup(spark)
  }

  override def teardown(spark: SparkSession): Unit = {
    ingest.teardown()
    graft.tools.CacheKeeper.unpin()
  }

  private val want = Golden.load(new File(o("hits"), HitsWorkload.DigestFile).getPath)

  def pass(ctx: Ctx): Unit = {
    Main.shuffled(queries, o.seed * 1000003L + ctx.pass).foreach { case (name, check, sql) =>
      ctx.read(name,
        (cols, rows) => {
          val got = HitsWorkload.digest(check, cols, rows)
          if (want.get(name).contains(got)) None
          else Some(s"digest $got, expected ${want.getOrElse(name, "none")}")
        })(graft.sql.ChDdl.execute(ctx.spark, sql).get)
    }
    ingest.pass(ctx)
  }

  /** Median warm resolution of the hits table (the workload's one
    * relation, resolved once per session), and the ingest figures. */
  override def probes(ctx: Ctx): Map[String, Double] =
    ingest.probes(ctx) + ("resolve.s" -> Main.medianTime(5)(ctx.spark.read.parquet(dir)))
}

object HitsWorkload {
  val DigestFile = "digests.json"

  /** (name, check, sql) of every line of the query file. */
  def load(path: String): Seq[(String, String, String)] =
    scala.io.Source.fromFile(path)(scala.io.Codec.UTF8).getLines()
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty).zipWithIndex
      .map { case (l, i) =>
        val Array(check, sql) = l.split("\t", 2)
        (f"q${i + 1}%02d", check, sql)
      }.toSeq

  /** Output digest of one query as its check mode asks: `full`,
    * `col:N` (only the 1-based column N) or `rows` (row count). */
  def digest(check: String, cols: Seq[String], rows: Array[Row]): String = check match {
    case "full" => Digest.of(cols, rows.iterator)
    case "rows" => s"rows:${rows.length}"
    case c if c.startsWith("col:") =>
      val i = c.drop(4).toInt - 1
      Digest.of(Seq(cols(i)), rows.iterator.map(r => Row(r.get(i))))
  }

  /** Writes the seeded table and the digests of the 43 queries computed
    * with graft's sketch aggregation off. */
  def generate(o: Opts): Unit = {
    val spark = Main.session(o, Nil)
    val dir = new File(o("hits"), "table").getAbsolutePath
    HitsGen.generate(spark, dir, o("rows").toLong, o.seed)
    spark.read.parquet(dir).createOrReplaceTempView("hits")
    val digests = graft.perfbench.GenericPlans {
      load(o("queries")).map { case (name, check, sql) =>
        val df = graft.sql.ChDdl.execute(spark, sql).get
        name -> digest(check, df.schema.fieldNames.toSeq, df.collect())
      }
    }
    Golden.save(new File(o("hits"), DigestFile).getPath, digests.toMap)
    spark.stop()
  }
}

/** ReplacingMergeTree inserts and FINAL reads through an in-process
  * HTTP endpoint: each pass of the hits workload ends with `rounds`
  * rounds of one seeded `INSERT … FORMAT TabSeparated` batch and one
  * `SELECT … FINAL` aggregate, with an `OPTIMIZE TABLE` every
  * `optimizeEvery` rounds. The table lives for the whole run, so its
  * parts pile up between merges. Every FINAL result is checked against
  * the generator's fold. */
final class IngestSegment(seed: Long) {
  private val rounds = 8
  private val batchRows = 2000
  private val optimizeEvery = 4
  private val tmp = new File(System.getProperty("java.io.tmpdir"))
  private var endpoint: graft.server.HttpEndpoint = _
  private var port = 0
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private var gen: IngestGen = _
  private var want: ReplacingFinal = _
  private var round = 0
  private var sentBytes = 0L
  private var bytesBefore = 0L

  /** Starts the endpoint on an ephemeral port and creates an empty table. */
  def setup(spark: SparkSession): Unit = {
    graft.sql.ChDdl.reset(spark)
    endpoint = new graft.server.HttpEndpoint(spark, 0)
    port = endpoint.start()
    post("", s"DROP TABLE IF EXISTS ${ReplacingFinal.Table}")
    post("", ReplacingFinal.Create)
    gen = new IngestGen(seed, batchRows, 0.3)
    want = new ReplacingFinal
    round = 0
    sentBytes = 0L
    bytesBefore = Main.du(tmp)
  }

  def teardown(): Unit = endpoint.stop()

  private def post(query: String, body: String): String = {
    val q = if (query.isEmpty) "" else "?query=" + java.net.URLEncoder.encode(query, "UTF-8")
    val r = client.send(
      HttpRequest.newBuilder(new URI(s"http://127.0.0.1:$port/$q"))
        .POST(HttpRequest.BodyPublishers.ofString(body, UTF_8)).build(),
      HttpResponse.BodyHandlers.ofString(UTF_8))
    if (r.statusCode != 200) throw new RuntimeException(r.body.trim)
    r.body
  }

  private def stmt(ctx: Ctx, name: String, kind: String)(body: => Unit): Unit = {
    val traced = ctx.tracer.isDefined
    val s = ctx.newSample(name, kind, traced)
    s.t0Ms = System.currentTimeMillis()
    s.t1Ms = s.t0Ms
    val t0 = System.nanoTime()
    try body catch {
      case e: Throwable =>
        s.ok = false
        s.error = String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")
        ctx.fail(name, s.error)
    }
    s.wall = (System.nanoTime() - t0) / 1e9
    s.t2Ms = System.currentTimeMillis()
    if (traced) s.add(kind match {
      case "insert" => "http.insert_s"
      case "read" => "http.select_s"
      case _ => "optimize.s"
    }, s.wall)
    ctx.samples += s
  }

  def pass(ctx: Ctx): Unit = (1 to rounds).foreach { _ =>
    round += 1
    val rows = gen.nextBatch()
    val data = rows.iterator.map(_.tsv).mkString
    sentBytes += data.getBytes(UTF_8).length
    want.add(rows)
    stmt(ctx, f"insert$round%03d", "insert") {
      post(s"INSERT INTO ${ReplacingFinal.Table} FORMAT TabSeparated", data)
    }
    stmt(ctx, f"final$round%03d", "read") {
      val got = post("", ReplacingFinal.Query)
      val exp = want.expectedTsv
      if (got != exp) throw new RuntimeException(
        s"FINAL returned ${got.replace("\n", "|")}, expected ${exp.replace("\n", "|")}")
    }
    if (round % optimizeEvery == 0) stmt(ctx, f"optimize$round%03d", "optimize") {
      post("", s"OPTIMIZE TABLE ${ReplacingFinal.Table}")
    }
  }

  /** Traced-run figures: median INSERT and OPTIMIZE round trips, the
    * bytes under the run's temp dir after the last OPTIMIZE and the
    * bytes the table added there per byte of TSV sent. */
  def probes(ctx: Ctx): Map[String, Double] = {
    def p50(kind: String) =
      Main.median(ctx.samples.filter(s => s.traced && s.kind == kind).map(_.wall).toSeq)
    val disk = Main.du(tmp)
    Map("insert_p50_s" -> p50("insert"), "optimize_p50_s" -> p50("optimize"),
      "disk.bytes" -> disk.toDouble,
      "stored_bytes_per_input_byte" -> (disk - bytesBefore).toDouble / sentBytes)
  }
}

package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // shuffle/spill on RAM-backed temp — see CacheKeeper.benchLocalDir
    val spark = GraftSession(GraftSession.cpusFromEnv(4),
      localDir = tools.CacheKeeper.benchLocalDir())
    // Keep the inputs page-cache-resident for the WHOLE run: the
    // container pairs an ~11 MB/s cold-read device with a proactive
    // reclaimer that evicts cold pages mid-run; a one-shot warm-up is
    // not enough (the r13 suite ran uniformly ~1.4× inflated). See
    // CacheKeeper's header.
    locally {
      val bytes = tools.CacheKeeper.pin(Seq(sfDir))
      System.err.println(f"[bench] pinned ${bytes / 1e9}%.2f GB from $sfDir")
    }
    // Untimed JIT pre-lap: run EVERY query once (noop sink) before the
    // clock starts. A fresh JVM spends its first dozens of queries
    // JIT-compiling the dialect/codegen/reader paths, inflating
    // early-suite minimums ~3×; the reference baseline is AOT-compiled
    // C++ whose warm-run minimum never includes compiling the engine.
    locally {
      val t0 = System.nanoTime()
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        spark.sparkContext.setJobDescription(s"prelap: $name")
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
      }
      System.err.println(
        f"[bench] JIT pre-lap done in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    // Host-weather gate (r16 verdict #1): the container's CPU windows
    // swing a fixed single-thread probe 1.5-3× for minutes; a suite
    // scored inside such a window records weather (BENCH_r16: 1.31×
    // over r15 with 27 self-flagged unmeasured rows on untouched
    // code). Wait — BOUNDED — for a quiet streak before the scored
    // pass, then sample the probe through the run so every per-query
    // row carries the reading for its window. GRAFT_PROBE_WAIT=0
    // disables the wait (the sampling stays).
    val probeWait =
      sys.env.get("GRAFT_PROBE_WAIT").map(_.toDouble).getOrElse(300.0)
    val gate =
      if (probeWait <= 0) (false, Double.NaN)
      else {
        val t0 = System.nanoTime()
        val g = tools.HostProbe.awaitQuiet(probeWait)
        System.err.println(f"[bench] probe gate: quiet=${g._1} last=${g._2}%.2f s " +
          f"(waited ${(System.nanoTime() - t0) / 1e9}%.0f s)")
        g
      }
    val sampler = new tools.HostProbe.Sampler()
    // noop sink: forces full evaluation of every output column
    // (count() would let Catalyst prune unused projections and
    // under-measure map-heavy queries).
    // Protocol (r14): three runs per query, scored min-of-three —
    // after the cache pin + JIT pre-lap every run is warm by
    // construction, matching the reference's warm-minimum-on-resident-
    // data convention. Single-run timings could not distinguish a plan
    // regression from scheduler noise; triples make round-over-round
    // deltas meaningful. A failed query records -1, NOT its
    // (milliseconds-fast) time-to-throw: phantom 0.07s "timings" for
    // broken queries deflated the r6 total.
    // r17 addition: a query whose triple spans >2× (the `unmeasured`
    // flag) gets ONE retake triple after the suite, behind a second
    // bounded probe gate — the scored stats come from whichever triple
    // has the smaller spread, the min is min over ALL runs, and both
    // triples stay in the artifact (runs ++ retake_runs).
    def triple(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame):
        (Seq[Double], Double) = {
      spark.sparkContext.setJobDescription(name)
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val w0 = System.nanoTime()
      val runs = Seq(once(), once(), once())
      (runs, sampler.windowMedian(w0, System.nanoTime()))
    }
    case class Res(name: String, sec: Double, runs: Seq[Double],
        probe: Double, retakeRuns: Seq[Double] = Nil,
        retakeProbe: Double = Double.NaN)
    def median(runs: Seq[Double]): Double = {
      val s = runs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    def spread(runs: Seq[Double]): Double =
      if (runs.isEmpty || runs.min <= 0) -1.0 else runs.max / runs.min
    // min <= 0 = a sub-resolution run: the timer was measured, not the
    // query — unmeasured, same as a >2x spread (the -1 sentinel must
    // not slip past the spread<=2 filter)
    def unmeasurable(runs: Seq[Double]): Boolean =
      runs.nonEmpty && (runs.min <= 0 || runs.max / runs.min > 2.0)
    val first = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      try {
        val (runs, probe) = triple(name, fn)
        Res(name, runs.min, runs, probe)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        Res(name, -1.0, Nil, Double.NaN)
      }
    }
    // Retake pass: only for spread-flagged queries, behind a second
    // bounded gate (a mid-run storm is the usual cause). Skipped
    // entirely when nothing is flagged or the probe wait is disabled.
    val flagged = first.count(r => r.sec >= 0 && unmeasurable(r.runs))
    val results =
      if (flagged == 0 || probeWait <= 0) first
      else {
        System.err.println(s"[bench] retaking $flagged spread-flagged queries")
        tools.HostProbe.awaitQuiet(math.min(probeWait, 180.0))
        first.map { r =>
          if (r.sec < 0 || !unmeasurable(r.runs)) r
          else {
            val fn = SparkEntry.queries(r.name)
            try {
              val (runs2, probe2) = triple(r.name, fn)
              r.copy(sec = math.min(r.sec, runs2.min),
                retakeRuns = runs2, retakeProbe = probe2)
            } catch { case _: Throwable => r }
          }
        }
      }
    sampler.stop()
    // scoring triple = the one with the smaller spread (ties: retake)
    def scoringRuns(r: Res): Seq[Double] =
      if (r.retakeRuns.isEmpty) r.runs
      else if (spread(r.retakeRuns) > 0 &&
        (spread(r.runs) <= 0 || spread(r.retakeRuns) <= spread(r.runs)))
        r.retakeRuns
      else r.runs
    val failed = results.collect { case r if r.sec < 0 => r.name }
    val total = results.map(_.sec).filter(_ >= 0).sum
    // Variance is part of the artifact: min-of-N alone scores noise
    // when a query's runs span >2× (the container has noisy-host
    // windows — see CacheKeeper's header). Each query reports its
    // median and spread (max/min); spread > 2 marks it UNMEASURED —
    // readers should treat its min as a lower bound, not a score.
    val unmeasured = results.collect {
      case r if r.sec >= 0 && unmeasurable(scoringRuns(r)) => r.name
    }
    // Full-name per-query timings (with the raw warm runs + variance
    // + the probe reading for each window) go to a file: the driver's
    // stdout capture keeps only the last 2000 chars, which truncates a
    // 127-query line mid-JSON. The stdout line uses the short qNN ids
    // (unique prefixes of the full names) + 3-decimal seconds so it
    // fits the window and parses.
    def fmtRuns(rs: Seq[Double]): String =
      rs.map(t => f"$t%.3f").mkString("[", ",", "]")
    def fmtProbe(p: Double): String =
      if (p.isNaN) "null" else f"$p%.2f"
    val fullQs = results.map { r =>
      val sc = scoringRuns(r)
      val variance =
        if (sc.isEmpty) ""
        else f""","med":${median(sc)}%.3f,"spread":${spread(sc)}%.2f""" +
          (if (unmeasurable(sc)) ""","unmeasured":true""" else "")
      val retake =
        if (r.retakeRuns.isEmpty) ""
        else s""","retake_runs":${fmtRuns(r.retakeRuns)}""" +
          s""","retake_probe":${fmtProbe(r.retakeProbe)}"""
      s"\"" + r.name + "\":{\"sec\":" + r.sec + ",\"runs\":" + fmtRuns(r.runs) +
        s""","probe":${fmtProbe(r.probe)}""" + retake + variance + "}"
    }.mkString("{", ",", "}")
    val detail = new java.io.File("bench_full.json").getAbsolutePath
    val w = new java.io.PrintWriter(detail, "UTF-8")
    val errArr = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val unmArr = unmeasured.map("\"" + _ + "\"").mkString("[", ",", "]")
    val gateJson =
      s""""probe_gate":{"quiet":${gate._1},"last":${fmtProbe(gate._2)},""" +
        s""""threshold":${tools.HostProbe.quietThreshold}}"""
    try w.println(
      s"""{"metric":"total_min_warm","value":$total,"unit":"sec","protocol":"JIT pre-lap + 3 runs, min-of-3, inputs cache-pinned; probe-gated (r17): bounded quiet-window wait + per-row host-probe reading + one gated retake triple for spread>2 rows, scored by the lower-spread triple; spread=max/min, spread>2 = unmeasured",$gateJson,"queries":$fullQs,"errors":$errArr,"unmeasured":$unmArr,"sf":"$sfDir"}""")
    finally w.close()
    val shortQs = results.map { r =>
      "\"" + r.name.takeWhile(_ != '_') + "\":" + math.rint(r.sec * 1000) / 1000 }
      .mkString("{", ",", "}")
    val line = s"""{"metric":"total_min_warm","value":$total,"unit":"sec","queries":$shortQs,"errors":${failed.size},"unmeasured":${unmeasured.size},"probe_quiet":${gate._1},"sf":"$sfDir","detail":"$detail"}"""
    // the exact stdout summary line also lands in its own file so the
    // round artifact can parse it without scraping the sbt log tail
    val sw = new java.io.PrintWriter(
      new java.io.File("bench_summary.json").getAbsolutePath, "UTF-8")
    try sw.println(line) finally sw.close()
    println(line)
    tools.CacheKeeper.unpin()
    spark.stop()
  }
}

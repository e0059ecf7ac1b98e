package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built. Every entry point and
  * the spec base share these settings, so a correctness check always
  * runs the plan the benches time:
  *  - `local[cpus]` with `cpus` shuffle partitions;
  *  - graft's Catalyst extensions;
  *  - the ObjectHashAggregate sort-based fallback raised to 1M groups:
  *    the 128-group default silently sorts whole inputs for
  *    TypedImperativeAggregate GROUP BYs (uniq/quantile*), and its
  *    sort scrambles per-group input order, which order-sensitive
  *    sampler goldens observe (corpus 00273);
  *  - parquet TIMESTAMP(NANOS) read as Long (`nanosAsLong`), which
  *    [[graft.core.Tables]] turns into µs timestamps: some `events`
  *    fixture generations are written in nanos, and Spark rejects
  *    those files without it;
  *  - UTC session time zone, UI off, WARN logging.
  *
  * Parameters cover only what callers really differ on: the core
  * count, AQE (off for the single-node bench43 runs, whose stage
  * barriers and re-planning cost 0.1-10 s per query and buy nothing
  * without skew), and the shuffle/spill dir. */
object GraftSession {
  /** Core count from `SPARK_GRAFT_CPUS`, else `default`. */
  def cpusFromEnv(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** Bounded shuffle workspace under the JVM temp dir, emptied here:
    * a full-corpus sweep once left 55 GB of orphaned blockmgr dirs in
    * /tmp and failed unrelated work with ENOSPC. */
  def sweptLocalDir(): String = {
    val d = new java.io.File(sys.props("java.io.tmpdir"), "graft-spark-local")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    Option(d.listFiles()).foreach(_.foreach(rm))
    d.mkdirs()
    d.getAbsolutePath
  }

  def apply(cpus: Int, aqe: Boolean = true,
      localDir: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "1000000")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val withAqe = if (aqe) b else b.config("spark.sql.adaptive.enabled", "false")
    val spark = localDir.fold(withAqe)(d => withAqe.config("spark.local.dir", d))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

package graft.core

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Table catalog over the driver's parquet datasets (TESTDATA.md).
  *
  * The reference models tables as engine-typed `IStorage` instances
  * registered in a `Database` namespace (reference:
  * dbms/src/Storages/IStorage.h, dbms/src/Databases/), and keeps each
  * table's structure there instead of re-deriving it per query. Here
  * every table is a parquet scan — Catalyst supplies column pruning,
  * predicate pushdown and partition pruning on top (SURVEY.md §2.1),
  * so the "engine" distinction collapses to read-view semantics
  * implemented in [[graft.storage.MergeTreeTable]].
  *
  * Every graft read of a parquet table path goes through [[read]],
  * which keeps the catalog's one piece of state: a process-wide map
  * from a table to its schema. `spark.read.parquet(path)` infers the
  * schema with a footer-reading Spark job on every call (50-75 ms warm
  * on a 4-core VM); with the schema supplied the read starts no job
  * (~7 ms there). The key is
  *  - the path;
  *  - the `(file, length, mtime)` of every data file under it, so an
  *    appended part or a rewritten file is inferred again;
  *  - the session's parquet schema-inference settings (nanosAsLong and
  *    friends), which change the inferred types.
  * Only the `StructType` is cached, never the DataFrame or its plan:
  * each call still builds a fresh relation with fresh exprIds (which
  * self-joins and the [[graft.operators.FilePruning]] rewrite need),
  * lists the files again, and scans the data when run.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session confs that change the schema parquet inference yields. */
  private val schemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  private type Key = (String, Seq[Option[String]], Seq[(String, Long, Long)])

  /** LRU-bounded: every OPTIMIZE snapshot is a new path. */
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[Key, StructType](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Key, StructType]): Boolean = size() > 1024
    })

  /** `(file, length, mtime)` of every data file under `path`, skipping
    * the names Spark's listing skips (`_SUCCESS`, `.crc`, the
    * `_graft_stats.json` sidecars) but not `k=v` partition dirs. Empty
    * when the path does not exist, so [[read]] infers and fails with
    * Spark's own error. */
  private def dataFiles(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def hidden(n: String) =
      (n.startsWith("_") && !n.contains("=")) || n.startsWith(".")
    def walk(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq
        .filterNot(s => hidden(s.getPath.getName)).flatMap(walk)
    val files =
      try walk(fs.getFileStatus(root))
      catch { case _: java.io.FileNotFoundException => Nil }
    files.map(s => (s.getPath.toString, s.getLen, s.getModificationTime))
      .sortBy(_._1)
  }

  /** Read the parquet table at `path`, inferring its schema only when
    * the catalog has none for the files now there. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val files = dataFiles(spark, path)
    val key: Key = (path, schemaConfs.map(spark.conf.getOption), files)
    Option(schemas.get(key)) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        if (files.nonEmpty) schemas.put(key, df.schema)
        df
    }
  }

  /** Read one table from an sf directory.
    *
    * `events.ts` has shipped as parquet TIMESTAMP(NANOS) in some fixture
    * generations (which Spark's reader rejects unless the legacy
    * nanosAsLong conf is on; [[graft.GraftSession]] sets it on every
    * session) and plain timestamp[us] in others. Branch on the type the
    * reader actually produced — rebuild from nanos when Long, cast to
    * the session TimestampType otherwise — so both generations yield an
    * identical µs-granular TimestampType column.
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val df = read(spark, s"$dir/$name.parquet")
    if (name == "events") df.schema("ts").dataType match {
      case LongType =>
        // integer division: `/` would promote to double, whose 256 ns ulp
        // at 2024-epoch magnitudes shifts ~2% of timestamps by 1 µs
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType => df
      case _ => // TimestampNTZType: wall-clock fields are what the engine's
        // DateTime semantics read, so reinterpret in the session zone (UTC)
        df.withColumn("ts", col("ts").cast(TimestampType))
    } else df
  }

  /** Register every table as a temp view (the `Database` analog). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
}

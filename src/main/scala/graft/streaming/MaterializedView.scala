package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Insert-triggered materialized views and the Buffer table analog
  * (SURVEY.md §2.10).
  *
  * The reference's MV is a pipeline attached to INSERT: each inserted
  * block flows through the view's SELECT into a target table
  * (StorageMaterializedView.cpp; PushingToViewsBlockOutputStream.h,
  * wired in InterpreterInsertQuery.cpp:93-106). `StorageBuffer`
  * micro-batches inserts on row/time thresholds (StorageBuffer.cpp).
  *
  * Structured Streaming is the superset: a streaming source plays the
  * INSERT stream, `foreachBatch` is the per-block push, and the
  * trigger interval is the Buffer flush threshold. The aggregating MV
  * below keeps a *mergeable-state* target (the AggregatingMergeTree
  * idea): each batch partial-aggregates, then merges with the target
  * by re-aggregation — so the target stays one row per key no matter
  * how many inserts arrived, and the merge is a partial/final
  * aggregate at any cluster size.
  */
object MaterializedView {

  /** Start a summing MV: `source` (streaming) → per-batch partial
    * aggregate appended to a parquet *state log* at `targetPath` →
    * `targetView` registered as the lazy final aggregation over the
    * log (the AggregatingMergeTree read path: states merge at read).
    *
    * Scale + recovery properties (the round-2 version collected the
    * whole state to the driver every batch and double-counted on
    * replay):
    *  - the per-batch write is a map-side-combined partial aggregate,
    *    written distributed — nothing flows through the driver;
    *  - the log is partitioned by `__batch_id` and each batch
    *    dynamically overwrites only its own partition, so a replayed
    *    batch (at-least-once foreachBatch after failure recovery)
    *    rewrites identical content instead of double-appending —
    *    idempotent with an O(1) footprint, no scan of the growing
    *    log per batch;
    *  - `checkpoint` is required, so restarts resume offsets instead
    *    of re-reading the source from scratch;
    *  - readers pay a partial/final aggregate over one row per
    *    (key, batch) — [[compact]] folds the log back to one row per
    *    key (the background-merge analog).
    */
  def startSumming(
      spark: SparkSession,
      source: DataFrame,
      keys: Seq[String],
      sumCols: Seq[String],
      targetView: String,
      targetPath: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery = {
    require(source.isStreaming, "source must be a streaming DataFrame")
    def sums = sumCols.map(c => sum(col(c)).as(c))
    def registerView(): Unit =
      graft.core.Tables.read(spark, targetPath)
        .groupBy(keys.map(col): _*)
        .agg(sums.head, sums.tail: _*)
        .createOrReplaceTempView(targetView)
    source.writeStream
      .outputMode("update")
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // Replay idempotence without scanning the log: the state log
        // is partitioned by __batch_id and each micro-batch
        // dynamically overwrites ONLY its own partition — a replayed
        // batch rewrites identical content instead of double-
        // appending (and heals a partial write), and the old
        // O(log-files) per-batch replay probe disappears entirely.
        batch.groupBy(keys.map(col): _*)
          .agg(sums.head, sums.tail: _*)
          .withColumn("__batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("__batch_id")
          .parquet(targetPath)
        registerView()
        ()
      }
      .start()
  }

  /** Fold the state log back to one row per key (OPTIMIZE analog for
    * the MV target). Safe to run while readers use `targetView` —
    * the view re-registers over the compacted log afterwards. */
  def compact(spark: SparkSession, targetPath: String,
      keys: Seq[String], sumCols: Seq[String]): Unit = {
    val sums = sumCols.map(c => sum(col(c)).as(c))
    val folded = graft.core.Tables.read(spark, targetPath)
      .groupBy(keys.map(col): _*)
      .agg(sums.head, sums.tail: _*)
      .withColumn("__batch_id", lit(-1L))
    val tmp = targetPath + "__compacting"
    // keep the __batch_id partition layout so post-compaction batches
    // land in the same directory scheme
    folded.write.mode("overwrite").partitionBy("__batch_id").parquet(tmp)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(targetPath)
    fs.delete(dst, true)
    fs.rename(new org.apache.hadoop.fs.Path(tmp), dst)
  }

  /** Event-time tumbling-window aggregation with a watermark — the
    * capability superset over the reference's timeSlot bucketing
    * (SURVEY.md §2.10: the reference has no event time, no late-data
    * handling; Structured Streaming supplies both). Returns the
    * windowed count/sum frame ready for `writeStream`.
    */
  def eventTimeWindow(
      source: DataFrame,
      tsCol: String,
      window_ : String,
      watermark: String,
      valueCol: String): DataFrame = {
    require(source.isStreaming, "source must be a streaming DataFrame")
    source
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("total"))
      .select(col("window.start").as("win_start"), col("n"), col("total"))
  }

  /** Buffer analog: forward micro-batches into an append-only parquet
    * target on a processing-time threshold (StorageBuffer flush). */
  def startBuffer(
      source: DataFrame,
      targetPath: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery =
    source.writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .format("parquet")
      .option("path", targetPath)
      .start()
}

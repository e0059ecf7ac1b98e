package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Spark listener of the traced run. It keeps every job's span and
  * stages, and every task's span and metrics; [[Tracer.attribute]]
  * later assigns them to statements by time window, which also covers
  * jobs the HTTP server thread submits. Only public listener events
  * are read. */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  @volatile private var started = 0L
  @volatile private var ended = 0L
  @volatile private var stagesDone = Map.empty[Int, Int].withDefaultValue(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val resolve = e.stageInfos.exists(_.details.contains("graft.core.Tables$.apply"))
    jobs.add(JobRec(e.jobId, e.time, e.stageIds.toSet, resolve))
    synchronized(started += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobEnds.put(e.jobId, e.time)
    synchronized(ended += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stagesDone = stagesDone.updated(e.stageInfo.stageId, stagesDone(e.stageInfo.stageId) + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = Option(e.taskMetrics)
    tasks.add(TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.map(_.executorRunTime).getOrElse(0L),
      m.map(_.executorCpuTime).getOrElse(0L),
      m.map(_.jvmGCTime).getOrElse(0L),
      m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L),
      m.map(_.inputMetrics.bytesRead).getOrElse(0L)))
  }

  /** Block until every started job has ended on the listener bus. */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var quiet = 0
    while (System.currentTimeMillis() < deadline && quiet < 3) {
      quiet = if (synchronized(started == ended)) quiet + 1 else 0
      Thread.sleep(20)
    }
  }

  def install(): Unit = spark.sparkContext.addSparkListener(this)

  def uninstall(): Unit = spark.sparkContext.removeSparkListener(this)

  /** Adds the scheduling and execution counters of every job started
    * inside a sample's window to that sample. Its `exec.s` is the time
    * after query construction during which one of its jobs ran, plus
    * the hand-over of the result after the last job and the last
    * Catalyst phase ended. */
  def attribute(samples: Seq[Sample]): Unit = {
    val timed = samples.filter(_.t0Ms > 0).sortBy(_.t0Ms).toArray
    val stageOwner = collection.mutable.HashMap.empty[Int, Sample]
    val execJobs = collection.mutable.HashMap.empty[Sample, collection.mutable.ArrayBuffer[(Long, Long)]]
    jobs.asScala.foreach { j =>
      val i = java.util.Arrays.binarySearch(timed.map(_.t0Ms), j.time) match {
        case k if k >= 0 => k
        case k => -k - 2
      }
      if (i >= 0 && j.time <= timed(i).t2Ms) {
        val s = timed(i)
        s.add("jobs", 1)
        if (j.time < timed(i).t1Ms) {
          s.add("build.jobs", 1)
          if (j.resolve) s.add("resolve.jobs", 1)
        } else {
          execJobs.getOrElseUpdate(s, collection.mutable.ArrayBuffer.empty) +=
            ((j.time, Option(jobEnds.get(j.id)).fold(s.t2Ms)(_.longValue)))
        }
        j.stages.foreach { st =>
          stageOwner(st) = s
          if (stagesDone(st) > 0) s.add("stages", 1)
        }
      }
    }
    val spans = collection.mutable.HashMap.empty[Sample, collection.mutable.ArrayBuffer[(Long, Long)]]
    tasks.asScala.foreach { t =>
      stageOwner.get(t.stageId).foreach { s =>
        s.add("tasks", 1)
        s.add("executor_run.s", t.runMs / 1e3)
        s.add("executor_cpu.s", t.cpuNs / 1e9)
        s.add("gc.s", t.gcMs / 1e3)
        s.add("shuffle_read.bytes", t.shuffleRead.toDouble)
        s.add("shuffle_write.bytes", t.shuffleWrite.toDouble)
        s.add("spill.bytes", t.spill.toDouble)
        s.add("input.bytes", t.input.toDouble)
        spans.getOrElseUpdate(s, collection.mutable.ArrayBuffer.empty) += ((t.launch, t.finish))
      }
    }
    timed.foreach { s =>
      s.add("sched.idle_s",
        idleMs(spans.get(s).map(_.toSeq).getOrElse(Nil), s.t1Ms, s.t2Ms) / 1e3)
      val js = execJobs.get(s).map(_.toSeq).getOrElse(Nil)
      val running = (s.t2Ms - s.t1Ms) - idleMs(js, s.t1Ms, s.t2Ms)
      val handOver = s.t2Ms - (js.map(_._2) :+ s.execPhasesEndMs :+ s.t1Ms).max
      s.add("exec.s", (running + math.max(0L, handOver)) / 1e3)
    }
  }
}

object Tracer {
  final case class JobRec(id: Int, time: Long, stages: Set[Int], resolve: Boolean)
  final case class TaskRec(stageId: Int, launch: Long, finish: Long, runMs: Long,
      cpuNs: Long, gcMs: Long, shuffleRead: Long, shuffleWrite: Long,
      spill: Long, input: Long)

  /** Catalyst rule time of graft's own injected rules. */
  def graftRuleSec(qe: QueryExecution): Double =
    qe.tracker.rules.collect {
      case (name, s) if name.startsWith("graft.") => s.totalTimeNs / 1e9
    }.sum

  private object Plans extends AdaptiveSparkPlanHelper

  /** SQL metrics the executed plan exports: files read by parquet scans
    * (and the files their tables hold), and SketchAgg's bypass
    * counters. */
  def operatorMetrics(plan: SparkPlan, filesIn: String => Long): Map[String, Double] = {
    val out = collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    Plans.foreach(plan) { node =>
      node match {
        case s: FileSourceScanExec =>
          s.metrics.get("numFiles").foreach(m => out("scan.files_read") += m.value)
          // a pruned scan lists the kept files themselves: count the
          // files of the Spark-written dataset directory they came from
          out("scan.files_total") += s.relation.location.rootPaths
            .map(p => if (isDatasetFile(p)) p.getParent else p)
            .distinct.map(p => filesIn(p.toString)).sum
        case _ =>
      }
      node.metrics.get("bypassTasks").foreach(m => out("sketch.bypass_tasks") += m.value)
      node.metrics.get("bypassRows").foreach(m => out("sketch.bypass_rows") += m.value)
    }
    out.toMap
  }

  private def isDatasetFile(p: org.apache.hadoop.fs.Path): Boolean =
    p.getName.endsWith(".parquet") &&
      new java.io.File(new java.net.URI(p.getParent.toString).getPath, "_SUCCESS").exists

  /** Wall time inside [t0, t1] (epoch ms) not covered by any span. */
  def idleMs(spans: Seq[(Long, Long)], t0: Long, t1: Long): Long = {
    var busy = 0L
    var cur = t0
    spans.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > cur) { busy += b - math.max(a, cur); cur = b }
      }
    math.max(0L, (t1 - t0) - busy)
  }
}

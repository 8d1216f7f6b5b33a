package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfBusAccess, SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Layer names for call sites: each graft source file maps to its module
  * (`graft/osm/OsmPbf.scala` -> `graft.osm`, a top-level
  * `graft/ChangegenPipeline.scala` -> `graft.ChangegenPipeline`). Any other
  * file is the benchmark's own code, layer `bench`. */
object Layers {
  /** Modules the benchmark opens spans around: `layer.<m>.self_s`. */
  val Spanned: Seq[String] = Seq(
    "graft.ChangegenPipeline", "graft.osm", "graft.spatial", "graft.operators",
    "graft.functions", "graft.queries")
  /** Modules whose files are the call site of jobs in the workloads'
    * operations: `layer.<m>.job_s`. */
  val JobSites: Seq[String] = Seq(
    "graft.ChangegenPipeline", "graft.osm", "graft.operators", "graft.text",
    "graft.sample", "graft.similarity", "graft.queries")

  def fileMap(root: String): Map[String, String] = {
    val base = Paths.get(root, "src", "main", "scala", "graft")
    val walk = Files.walk(base)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).map { p =>
      val rel = base.relativize(p)
      val layer =
        if (rel.getNameCount == 1) "graft." + rel.toString.stripSuffix(".scala")
        else "graft." + rel.getName(0).toString
      p.getFileName.toString -> layer
    }.toMap
    finally walk.close()
  }

  /** `save at PerfChangegen.scala:120` -> `PerfChangegen.scala`. */
  def fileOf(callSite: String): String =
    callSite.split(" at ").lastOption.map(_.split(':').head.trim).getOrElse("")
}

/** Span recorder plus a SparkListener that attributes jobs, stages and
  * tasks to the innermost span active when each job was submitted. All
  * records stay in memory; [[dumpJson]] renders them once at the end. */
final class Tracer(sc: SparkContext, nproc: Int, fileLayer: Map[String, String]) extends SparkListener {
  import Tracer._

  private val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  private var trace = 0
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val tasks = mutable.ArrayBuffer[Task]()
  private val executionSite = mutable.HashMap[Long, String]()

  def attach(): Unit = sc.addSparkListener(this)
  def detach(): Unit = { settle(); sc.removeSparkListener(this) }

  /** Starts a new trace id: one per traced iteration. */
  def newTrace(): Int = { trace += 1; trace }

  def span[T](name: String, layer: String)(f: => T): T = {
    val s = Span(spans.size, name, layer, stack.headOption.map(_.id).getOrElse(-1), trace,
      System.currentTimeMillis(), gcMillis())
    spans += s
    stack = s :: stack
    try f finally {
      s.end = System.currentTimeMillis()
      s.gcEnd = gcMillis()
      stack = stack.tail
    }
  }

  /** Waits until the listener has handled every event posted so far. */
  def settle(): Unit = PerfBusAccess.drain(sc)

  // ---- listener --------------------------------------------------------

  // a SQL execution's jobs (including the ones adaptive execution submits
  // from its own threads) take the call site of the action that started it
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { executionSite(s.executionId) = s.description }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => executionSite.get(id.toLong))
      .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
      .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
    val file = Layers.fileOf(site)
    jobs(e.jobId) = Job(e.jobId, e.time, site, file, fileLayer.getOrElse(file, "bench"))
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j => j.end = e.time; j.ok = e.jobResult == JobSucceeded }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    tasks += Task(stageJob.getOrElse(e.stageId, -1), i.launchTime, i.finishTime,
      m.map(_.executorRunTime).getOrElse(0L), e.reason == Success,
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
      m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L))
  }

  // ---- queries (call after settle) -------------------------------------

  private def current: Seq[Span] = spans.filter(_.trace == trace).toSeq

  /** Spans of the current trace named `name`. */
  def spansNamed(name: String): Seq[Span] = current.filter(_.name == name)

  /** Total seconds of the current trace's spans named `name`. */
  def seconds(name: String): Double = spansNamed(name).map(_.seconds).sum

  /** Jobs submitted while any span named `name` of the current trace was open. */
  def jobsIn(name: String): Seq[Job] = synchronized {
    val ws = spansNamed(name)
    jobs.values.filter(j => ws.exists(s => j.start >= s.start && j.start <= s.end)).toSeq
  }

  /** Spark-side totals over the jobs submitted inside the spans named `name`. */
  def stats(name: String): Stats = {
    val ws = spansNamed(name)
    val wall = ws.map(_.seconds).sum
    val gc = ws.map(s => (s.gcEnd - s.gcStart) / 1000.0).sum
    statsOf(jobsIn(name), wall, gc, ws.map(s => (s.start, s.end)))
  }

  private def statsOf(js: Seq[Job], wall: Double, gcS: Double, windows: Seq[(Long, Long)]): Stats = synchronized {
    val ids = js.map(_.id).toSet
    val ts = tasks.filter(t => ids(t.job)).toSeq
    val busy = ts.map(_.runMs).sum / 1000.0
    // time a launched task spent before (and around) running its body
    val wait = ts.map(t => math.max(0L, (t.finish - t.launch) - t.runMs)).sum / 1000.0
    val jobCover = windows.map { case (a, b) =>
      union(js.filter(j => j.start >= a && j.start <= b).map(j => (math.max(j.start, a), math.min(j.endOr(b), b))))
    }.sum / 1000.0
    Stats(js.size, js.map(_.stages).sum, ts.size, busy, wait,
      ts.map(_.shuffleW).sum, ts.map(_.shuffleR).sum, ts.map(_.spill).sum, gcS,
      if (ts.isEmpty) 0.0 else ts.map(t => t.finish - t.launch).max / 1000.0,
      ts.count(!_.ok),
      if (wall > 0) busy / (wall * nproc) else 0.0, math.max(0.0, wall - jobCover))
  }

  /** Self seconds per layer over the current trace: each span's duration
    * minus the part its direct children cover. */
  def selfByLayer(): Map[String, Double] = {
    val cur = current
    val kids = cur.groupBy(_.parent)
    cur.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
      s.layer -> (s.end - s.start - covered) / 1000.0
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def dumpJson(): Json.Raw = synchronized {
    val kidsJobs = jobs.values.map(j => j -> owner(j)).toSeq
    val sp = spans.map { s =>
      Json.obj("id" -> s.id, "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent,
        "trace" -> s.trace, "start_ms" -> s.start, "end_ms" -> s.end, "gc_ms" -> (s.gcEnd - s.gcStart))
    }
    val jb = kidsJobs.map { case (j, o) =>
      Json.obj("id" -> j.id, "start_ms" -> j.start, "end_ms" -> j.end, "call_site" -> j.callSite,
        "layer" -> j.layer, "stages" -> j.stages, "ok" -> j.ok, "span" -> o)
    }
    Json.obj("spans" -> Json.arr(sp.toSeq), "jobs" -> Json.arr(jb))
  }

  /** Innermost span open when the job was submitted (-1: none). */
  private def owner(j: Job): Int =
    spans.filter(s => j.start >= s.start && j.start <= s.end)
      .sortBy(s => (s.start, s.id)).lastOption.map(_.id).getOrElse(-1)
}

object Tracer {
  final case class Span(id: Int, name: String, layer: String, parent: Int, trace: Int,
                        start: Long, gcStart: Long) {
    var end: Long = -1L
    var gcEnd: Long = gcStart
    def seconds: Double = (end - start) / 1000.0
  }

  final case class Job(id: Int, start: Long, callSite: String, file: String, layer: String) {
    var end: Long = -1L
    var ok: Boolean = false
    var stages: Int = 0
    def endOr(t: Long): Long = if (end < 0) t else end
    def seconds: Double = (endOr(start) - start) / 1000.0
  }

  final case class Task(job: Int, launch: Long, finish: Long, runMs: Long, ok: Boolean,
                        shuffleW: Long, shuffleR: Long, spill: Long)

  final case class Stats(jobs: Int, stages: Int, tasks: Int, busyS: Double, schedWaitS: Double,
                         shuffleW: Long, shuffleR: Long, spill: Long, gcS: Double, maxTaskS: Double,
                         failedTasks: Int, coreUtil: Double, driverSerialS: Double) {
    def metrics: Map[String, Double] = Map(
      "spark.jobs" -> jobs, "spark.stages" -> stages, "spark.tasks" -> tasks,
      "spark.task_busy_s" -> busyS, "spark.sched_wait_s" -> schedWaitS,
      "spark.shuffle_write_bytes" -> shuffleW.toDouble, "spark.shuffle_read_bytes" -> shuffleR.toDouble,
      "spark.spill_bytes" -> spill.toDouble, "spark.gc_s" -> gcS, "spark.max_task_s" -> maxTaskS,
      "spark.failed_tasks" -> failedTasks, "spark.core_util" -> coreUtil,
      "driver.serial_s" -> driverSerialS)
  }

  /** Length of the union of [a, b] intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}

package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One timed operation of a workload: its wall seconds and how many
  * operations it attempted. */
final case class Op(wall: Double, attempted: Int, cpu: Double = 0.0)

trait Workload {
  /** Span name of the operation `iterate` runs. */
  def opName: String
  /** Operations the warm-up runs, the first on the first session and each
    * later one on a rebuilt session. */
  def warmUpOps: Int
  /** Runs the operation once; `tr` is given on traced iterations. The
    * warm-up run may keep what its full check needs. */
  def iterate(tr: Option[Tracer], warmUp: Boolean = false): Op
  /** Checks the last operation's output; `full` adds the expensive checks. */
  def check(full: Boolean): Seq[String]
  /** Per-layer metrics of the current traced iteration, after the traced operation. */
  def decompose(tr: Tracer): Map[String, Double]
}

/** Benchmark process: builds an nproc-sized session, generates (or
  * reuses) the workload's inputs, sets up and warms up, then measures
  * for the requested seconds. Writes one result file; `run.py` turns it
  * into the result line.
  *
  * Usage: graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --root CHECKOUT --work DIR --cache DIR --nproc P --result FILE
  *   [--trace-out FILE] [--record FILE] */
object Main {
  /** Timed operations per run, at least (each on its own session). */
  private val MinTimed = 2

  def main(argv: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val nproc = a("nproc").toInt
    val root = a("root")
    val work = Paths.get(a("work"))
    Files.createDirectories(work)

    var spark = session(nproc, work)
    val tGen = System.nanoTime()
    val (fixDir, make) = fixture(workload, seed, root, a("cache"), work, spark)
    val genS = (System.nanoTime() - tGen) / 1e9
    System.err.println(f"[perfbench] fixture ready in $genS%.1f s")
    var wl = make(spark)

    val problems = ArrayBuffer[String]()
    var attempted = 0
    var failed = 0
    var checkS = 0.0
    def runOnce(full: Boolean, tr: Option[Tracer] = None): Option[Op] = {
      val c0 = cpuNanos()
      val op = try Right(wl.iterate(tr, warmUp = full)) catch { case e: Exception => Left(e) }
      val cpu = (cpuNanos() - c0) / 1e9
      op match {
        case Left(e) =>
          attempted += 1; failed += 1
          problems += s"operation threw ${e.getClass.getName}: ${e.getMessage}"
          e.printStackTrace()
          None
        case Right(o) =>
          attempted += o.attempted
          val t = System.nanoTime()
          val p = wl.check(full)
          checkS += (System.nanoTime() - t) / 1e9
          if (p.nonEmpty) { failed += math.min(o.attempted, p.size); problems ++= p }
          Some(o.copy(cpu = cpu))
      }
    }

    def freshSession(): Unit = {
      spark.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      spark = session(nproc, work)
      wl = make(spark)
    }

    // set-up: process start until the warm-up is done, fixture generation
    // and checks excluded
    runOnce(full = true)
    for (_ <- 1 until wl.warmUpOps if problems.isEmpty) { freshSession(); runOnce(full = false) }
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0 - genS - checkS
    a.get("record").foreach { path =>
      val lines = RegistryWorkload.Slice.map(q =>
        s"  ${Json.str(q)}: ${Json.str(RegistryWorkload.fingerprint(
          graft.SparkEntry.queries(q)(spark, fixDir.toString).collect()))}")
      Files.write(Paths.get(path), lines.mkString("{\n", ",\n", "\n}\n").getBytes(StandardCharsets.UTF_8))
      spark.stop()
      return
    }

    val values = scala.collection.mutable.LinkedHashMap[String, Double]()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    if (problems.isEmpty && !traced) {
      // each timed round rebuilds the session and runs one operation on
      // it, as a CLI invocation does
      val walls = ArrayBuffer[Double]()
      val cpus = ArrayBuffer[Double]()
      while (problems.isEmpty && (walls.size < MinTimed || elapsed < seconds)) {
        freshSession()
        runOnce(full = false).foreach { o => walls += o.wall; cpus += o.cpu }
      }
      System.err.println(f"[perfbench] $workload seed=$seed setup_s $setupS%.3f" +
        s"; wall_s n=${walls.size} " + walls.map(x => f"$x%.3f").mkString(" ") +
        s"; cpu_s " + cpus.map(x => f"$x%.3f").mkString(" "))
      if (walls.nonEmpty) {
        values("setup_s") = setupS
        values("wall_s") = median(walls.toSeq)
        values("cpu_s") = median(cpus.toSeq)
      }
    } else if (problems.isEmpty) {
      val tr = new Tracer(spark.sparkContext, nproc, Layers.fileMap(root))
      val rows = ArrayBuffer[Map[String, Double]]()
      if (!resetPeakRss()) System.err.println("[perfbench] peak RSS could not be reset; it includes set-up")
      // the traced operation sits between two untraced ones; their mean is
      // the baseline, so the JIT's warming over the run cancels out of the
      // overhead
      while (problems.isEmpty && (rows.isEmpty || elapsed < seconds)) {
        runOnce(full = false).map(_.wall).foreach { before =>
          tr.attach()
          tr.newTrace()
          val op = tr.span(wl.opName, "op")(wl.iterate(Some(tr)))
          val layers = wl.decompose(tr)
          tr.settle()
          val opJobs = tr.jobsIn(wl.opName)
          val self = tr.selfByLayer()
          val row = layers ++ tr.stats(wl.opName).metrics ++
            Layers.Spanned.map(m => s"layer.$m.self_s" -> self.getOrElse(m, 0.0)) ++
            Layers.JobSites.map(m => s"layer.$m.job_s" -> opJobs.filter(_.layer == m).map(_.seconds).sum)
          tr.detach()
          runOnce(full = false).map(_.wall).foreach { after =>
            val overhead = op.wall - (before + after) / 2
            rows += row + ("trace.overhead_s" -> overhead)
            System.err.println(f"[perfbench] $workload traced ${op.wall}%.3f s, untraced $before%.3f and " +
              f"$after%.3f s, overhead $overhead%.3f s")
          }
        }
      }
      rows.flatMap(_.keys).distinct.foreach(k => values(k) = median(rows.map(_.getOrElse(k, 0.0)).toSeq))
      if (rows.nonEmpty) values("mem.peak_rss_mb") = peakRssMb()
      a.get("trace-out").foreach(p => Files.write(Paths.get(p), tr.dumpJson().s.getBytes(StandardCharsets.UTF_8)))
    }
    spark.stop()

    problems.foreach(p => System.err.println(s"[perfbench] CHECK FAILED: $p"))
    val result = Json.obj("correct" -> (problems.isEmpty && failed == 0), "attempted" -> math.max(1, attempted),
      "failed" -> math.max(failed, if (problems.nonEmpty) 1 else 0), "values" -> values.toMap)
    Files.write(Paths.get(a("result")), result.s.getBytes(StandardCharsets.UTF_8))
  }

  /** Generates or reuses the workload's fixture; returns its directory
    * and the workload factory for a (re)built session. */
  private def fixture(workload: String, seed: Long, root: String, cache: String, work: Path,
                      spark: SparkSession): (Path, SparkSession => Workload) = workload match {
    case "cg_extract" =>
      val (dir, expect) = Fixtures.cached(cache, s"$workload-$seed")(
        Fixtures.genChangegen(spark, _, Fixtures.CgExtract, seed, cap = 500))
      (dir, s => new ChangegenWorkload(s, dir, expect, work))
    case "registry_slice" =>
      // the sf0.1 test-data tables the slice reads, committed with the benchmark
      val dir = Paths.get(root, "perfbench", "data", "sf0.1")
      val file = Paths.get(root, "perfbench", "registry_expected.json")
      val recorded =
        if (Files.exists(file)) Json.parseFlat(new String(Files.readAllBytes(file), StandardCharsets.UTF_8))
        else Map.empty[String, String]
      (dir, s => new RegistryWorkload(s, dir, recorded, seed))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def session(nproc: Int, work: Path): SparkSession = {
    val s = GraftSession.builder(master = s"local[$nproc]", shufflePartitions = nproc)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def cpuNanos(): Long =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Resets VmHWM to the current RSS (Linux `clear_refs` 5). */
  private def resetPeakRss(): Boolean =
    try { Files.write(Paths.get("/proc/self/clear_refs"), "5".getBytes(StandardCharsets.US_ASCII)); true }
    catch { case _: Exception => false }

  private def peakRssMb(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/self/status")), StandardCharsets.US_ASCII)
      .split('\n').find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

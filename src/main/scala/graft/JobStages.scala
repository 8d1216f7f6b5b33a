package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable
import scala.concurrent.Promise
import scala.util.{Failure, Success}

import org.apache.spark.sql.SparkSession

/** Spark job stages of the changegen CLI. Every job a stage fires
  * carries the job tag `graft-cg-<stage>` (see `SparkContext.addJobTag`),
  * so a listener can attribute a run's jobs to its stages.
  *
  * Tags, not job descriptions: Spark copies a job description into the
  * SQL execution's description, which listeners read as the call site.
  * Tags name stages, not runs: two runs sharing one SparkContext at once
  * share them, so a failure in one also cancels the other's jobs of the
  * stages it cancels.
  */
object JobStages {
  val TagPrefix = "graft-cg-"

  /** Runs `body` with this thread's jobs tagged `graft-cg-<stage>`. An
    * enclosing stage's tag is lifted for the duration, so each job
    * carries exactly one stage tag; the thread's tags are restored
    * afterwards, failed or not. */
  def tagged[T](spark: SparkSession, stage: String)(body: => T): T = {
    val sc = spark.sparkContext
    val outer = sc.getJobTags().filter(_.startsWith(TagPrefix))
    sc.removeJobTags(outer)
    sc.addJobTag(TagPrefix + stage)
    try body finally {
      sc.removeJobTag(TagPrefix + stage)
      sc.addJobTags(outer)
    }
  }

  /** Runs each `(stage, body)` at once under [[tagged]] and returns the
    * results in order; see [[Group]]. */
  def concurrently[T](spark: SparkSession, stages: Seq[(String, () => T)]): Seq[T] = {
    val g = new Group(spark)
    val results = stages.map { case (stage, body) => g.start(stage)(body()) }
    g.await()
    results.map(_())
  }

  /** Stages started with [[start]] run at once, each on a new thread
    * under [[tagged]]. A new thread inherits the starting thread's
    * Spark local properties and active session, and holds no property
    * left over from an earlier body. [[await]] waits for all of them. */
  final class Group(spark: SparkSession) {
    private val started = mutable.ArrayBuffer[(String, Promise[Any])]()
    private val finished = new LinkedBlockingQueue[Int]()

    /** Starts `body`; the returned function yields its result once
      * [[await]] has returned. */
    def start[T](stage: String)(body: => T): () => T = {
      val p = Promise[Any]()
      val i = started.size
      started += stage -> p
      val t = new Thread(() => {
        p.complete(try Success(tagged(spark, stage)(body)) catch { case e: Throwable => Failure(e) })
        finished.put(i)
      }, TagPrefix + stage)
      t.setDaemon(true)
      t.start()
      () => p.future.value.get.get.asInstanceOf[T]
    }

    /** Waits for every started body. After the first failure it cancels
      * the other stages' jobs by tag, again until each body has returned
      * (a body may submit a job after a cancel), and then rethrows that
      * first failure. */
    def await(): Unit = {
      val open = mutable.Set(started.indices: _*)
      var failure: Option[Throwable] = None
      while (open.nonEmpty) {
        if (failure.isDefined) open.foreach { i =>
          spark.sparkContext.cancelJobsWithTag(TagPrefix + started(i)._1, "a sibling changegen stage failed")
        }
        Option(finished.poll(100, TimeUnit.MILLISECONDS)).foreach { i =>
          open -= i
          if (failure.isEmpty) failure = started(i)._2.future.value.get.failed.toOption
        }
      }
      failure.foreach(throw _)
    }
  }
}

package graftbench

import java.nio.file.{Path, Paths}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry

/** A slice of the query registry: each query is constructed through
  * `SparkEntry.queries` and forced with a `noop` write, as `Bench` does.
  * The seed sets the order the slice runs in; the tables are those of
  * the sf0.1 test data. Besides the event, multimodal, text and web
  * queries, three training-data queries keep the dedup, sampling and
  * similarity layers in the slice. */
final class RegistryWorkload(spark: SparkSession, fix: Path, expected: Map[String, String], seed: Long)
    extends Workload {
  private val order: Seq[String] = {
    val rnd = new SplittableRandom(seed)
    RegistryWorkload.Slice.map(q => (rnd.nextLong(), q)).sorted.map(_._2)
  }
  val opName = "registry.slice"
  // one pass runs about twice as long as a changegen run and leaves the
  // JIT nearer its steady state
  val warmUpOps = 1

  private var fingerprints = Map.empty[String, String]

  /** The warm-up collects each query's rows instead of writing them to
    * `noop`, so the check reads the same execution. The IVF index that
    * `sim_ann_ivf_disk` keeps under the temp directory is removed first,
    * so every pass times its build as well as its search. */
  def iterate(tr: Option[Tracer], warmUp: Boolean): Op = {
    def span[T](name: String, layer: String)(f: => T): T = tr.fold(f)(_.span(name, layer)(f))
    Fixtures.deleteTree(Paths.get(sys.props("java.io.tmpdir"), "graft_ivf_index"))
    var wall = 0.0
    order.foreach { q =>
      span(s"registry.q.$q", "graft.queries") {
        val t0 = System.nanoTime()
        val df = span("registry.construct", "graft.queries")(SparkEntry.queries(q)(spark, fix.toString))
        if (warmUp) fingerprints += q -> RegistryWorkload.fingerprint(df.collect())
        else span("registry.execute", "spark")(df.write.format("noop").mode("overwrite").save())
        wall += (System.nanoTime() - t0) / 1e9
      }
    }
    Op(wall, order.size)
  }

  /** Row count and content hash of every query against the recorded ones. */
  def check(full: Boolean): Seq[String] = if (!full) Nil else order.flatMap { q =>
    val got = fingerprints(q)
    expected.get(q) match {
      case Some(want) if want == got => None
      case want => Some(s"$q: rows:hash $got, recorded ${want.getOrElse("nothing")}")
    }
  }

  def decompose(tr: Tracer): Map[String, Double] = {
    tr.settle()
    Map("registry.construct_s" -> tr.seconds("registry.construct"),
      "registry.construct_jobs" -> tr.jobsIn("registry.construct").size.toDouble,
      "registry.execute_s" -> tr.seconds("registry.execute")) ++
      order.map(q => s"registry.q.${q}_s" -> tr.seconds(s"registry.q.$q"))
  }
}

object RegistryWorkload {
  val Slice: Seq[String] = Seq("ev_markov_rank", "emb_pca_power", "txt_charlm", "smp_dsir", "ev_sessionize",
    "ev_concurrency", "ev_funnel_time", "ev_rolling_distinct", "mm_scene_cut", "mm_audio_fingerprint",
    "src_wet_roundtrip", "dd_decontaminate", "smp_budget", "sim_ann_ivf_disk")

  /** `rows:md5` over the sorted rendering of every row. */
  def fingerprint(rows: Array[Row]): String =
    s"${rows.length}:${Fixtures.digest(rows.map(render).sorted.toSeq)}"

  private def render(v: Any): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case s: scala.collection.Map[_, _] => s.toSeq.map { case (k, x) => s"${render(k)}->${render(x)}" }.sorted.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case other => other.toString
  }
}

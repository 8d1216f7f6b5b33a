package graftbench

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.zip.GZIPInputStream

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ChangegenPipeline
import graft.operators.{TagOps, WayOps}
import graft.osm.{OsmChangeXml, OsmPbf}
import graft.spatial.DWithinJoin

/** The changegen CLI on a generated conflation fixture: `--existing`,
  * `--deletions`, the default way cap and one gzip file as output. */
final class ChangegenWorkload(spark: SparkSession, fix: Path, expect: Map[String, String], work: Path)
    extends Workload {
  private val pbf = fix.resolve("extract.osm.pbf").toString
  private val cap = expect("cap").toInt
  private val out = work.resolve("out.osc.gz")

  private val argv: Array[String] = Array(fix.toString, out.toString, "--suffix=_new", s"--osmsrc=$pbf",
    "--existing=existing_ways", "--deletions=removed_ways")

  val opName = "cg.run"
  // the first operation after a session rebuild still costs 30-50% more
  // CPU than later ones (the JIT is not done), so one more warms up
  val warmUpOps = 2
  private var digest: Option[String] = None
  private var facts = Map.empty[String, Double]

  def iterate(tr: Option[Tracer], warmUp: Boolean): Op = {
    Files.deleteIfExists(out)
    val t0 = System.nanoTime()
    ChangegenPipeline.run(argv, spark)
    Op((System.nanoTime() - t0) / 1e9, 1)
  }

  // ---- output checks ---------------------------------------------------

  def check(full: Boolean): Seq[String] = {
    val bytes = new GZIPInputStream(Files.newInputStream(out)).readAllBytes()
    val doc = new OscSummary
    doc.parse(bytes)
    val problems = mutable.ArrayBuffer[String]()
    for (sec <- Seq("create", "modify", "delete"); t <- Seq("node", "way", "relation")) {
      val want = expect(s"${sec}_$t").toLong
      val got = doc.count(sec, t)
      if (got != want) problems += s"$sec/$t: $got elements, generator planted $want"
    }
    if (doc.modifyNds != expect("modify_nds").toLong)
      problems += s"modify: ${doc.modifyNds} node refs, expected ${expect("modify_nds")}"
    problems ++= doc.duplicateIds.map(d => s"duplicate id $d")
    val extractNodes = expect("extract_nodes").toLong
    val extractWays = expect("extract_ways").toLong
    val badNd = doc.ndRefs.filter(r => !(r >= 1 && r <= extractNodes) && !doc.createdNodes(r))
    if (badNd.nonEmpty) problems += s"${badNd.size} nd refs resolve to no extract or created node, e.g. ${badNd.head}"
    val badMember = doc.wayMembers.filter(r => !(r >= 1 && r <= extractWays) && !doc.createdWays(r))
    if (badMember.nonEmpty) problems += s"${badMember.size} relation members resolve to no way, e.g. ${badMember.head}"
    if (doc.overCap(cap) > 0) problems += s"${doc.overCap(cap)} created line ways exceed the cap of $cap nodes"
    if (doc.openRings > 0) problems += s"${doc.openRings} area ways are not closed"
    val d = doc.digest
    if (digest.exists(_ != d)) problems += s"sorted-line digest changed within one seed: ${digest.get} -> $d"
    if (digest.isEmpty) { digest = Some(d); System.err.println(s"[perfbench] output digest $d") }
    facts = Map("osm.out_elements" -> doc.elements.toDouble, "osm.out_bytes" -> bytes.length.toDouble)
    problems.toSeq
  }

  // ---- per-layer decomposition -----------------------------------------

  private def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def decompose(tr: Tracer): Map[String, Double] = {
    val CG = "graft.ChangegenPipeline"
    def table(n: String) = spark.read.parquet(fix.resolve(s"$n.parquet").toString)
    // the argument frames `run` derives from the discovered tables: one
    // table per geometry class, so every group id carries ordinal 1
    def keyed(name: String) = (lit(1L << 40) + col("osm_id")).as(name)
    val roads = table("roads_new")
    val buildings = table("buildings_new")
    val pois = table("pois_new")
    val f = tr.span("cg.build", CG) {
      ChangegenPipeline.build(spark, fix.toString, maxNodes = cap, osmSrc = Some(pbf),
        deletionTables = Seq(fix.resolve("removed_ways.parquet").toAbsolutePath.toString),
        polyWkb = Some(buildings.select(keyed("pgroup"), col("wkb_geometry").as("wkb"))),
        lineWkb = Some(roads.select(keyed("lgroup"), col("wkb_geometry").as("wkb"))),
        existingWkb = Some(table("existing_ways").select(col("osm_id").as("eway"), col("wkb_geometry").as("wkb"))),
        pointWkb = Some(pois.select(keyed("pgrp"),
          TagOps.tagsFromColumns(pois, Seq("kind", "osm_id")).as("ptags"), col("wkb_geometry").as("wkb"))))
    }
    val stages = Seq(
      "ids" -> Seq(f.nodes), "ways" -> Seq(f.splitWays),
      "junctions" -> Seq(f.junctionAt), "modify" -> Seq(f.modified), "deletes" -> Seq(f.deleteSet),
      "polygons" -> Seq(f.polyNodes, f.polyWays, f.polyRelations), "points" -> Seq(f.pointNodes))
    stages.foreach { case (s, dfs) => tr.span(s"cg.stage.$s", CG)(dfs.foreach(force)) }

    val side = work.resolve("decomp.osc.gz").toString
    tr.span("osm.write", "graft.osm") {
      OsmChangeXml.write(side, f.nodeXml.unionByName(f.wayXml).unionByName(f.relXml),
        Some(f.modifyXml), Some(f.deleteXml), gzip = true)
    }

    tr.span("osm.pbf_read", "graft.osm") {
      force(OsmPbf.nodes(spark, pbf).toDF())
      force(OsmPbf.ways(spark, pbf).toDF())
    }
    tr.span("fn.wkb_decode", "graft.functions") {
      Seq(roads, buildings, pois).foreach(t =>
        force(t.select(posexplode(call_function("graft_geom_parts", col("wkb_geometry"))))))
    }
    // layer inputs are materialized before their spans open
    val targets = table("targets").persist()
    targets.count()
    val ppPairs = tr.span("spatial.point_point", "graft.spatial") {
      DWithinJoin.pointPoint(f.nodes.select("node_id", "x", "y"), "node_id", "x", "y", targets,
        "enode", "ex", "ey", 0.5).count()
    }
    targets.unpersist()
    val wayLists = WayOps.wayNodeMap(f.nodes.select(col("feat").as("way"), col("vkey").as("seq"),
      col("node_id").as("node")), "way", "seq", "node").persist()
    wayLists.count()
    tr.span("ops.split_way", "graft.operators")(force(WayOps.splitWay(wayLists, "nds", cap, math.max(1, cap - 1))))
    wayLists.unpersist()
    tr.settle()

    // call-site attribution inside the traced CLI run
    val opJobs = tr.jobsIn(opName).sortBy(_.id)
    val seqIds = opJobs.filter(_.file == "SequentialIds.scala")
    val lastWrite = opJobs.filter(_.layer == "graft.osm").map(_.id).maxOption
    val summary = opJobs.filter(j => lastWrite.exists(j.id > _) && j.layer == CG)
    val opEnd = tr.spansNamed(opName).map(_.end).max
    val build = tr.jobsIn("cg.build")
    facts ++ Map(
      "cg.build_s" -> tr.seconds("cg.build"), "cg.build_jobs" -> build.size.toDouble,
      "cg.summary_s" -> summary.headOption.map(j => (opEnd - j.start) / 1000.0).getOrElse(0.0),
      "cg.summary_jobs" -> summary.size.toDouble,
      "osm.pbf_read_s" -> tr.seconds("osm.pbf_read"), "osm.write_s" -> tr.seconds("osm.write"),
      "spatial.point_point_s" -> tr.seconds("spatial.point_point"), "spatial.point_point_pairs" -> ppPairs.toDouble,
      "ops.seq_ids_s" -> seqIds.map(_.seconds).sum, "ops.seq_ids_jobs" -> seqIds.size.toDouble,
      "ops.split_way_s" -> tr.seconds("ops.split_way"),
      "fn.wkb_decode_s" -> tr.seconds("fn.wkb_decode")) ++
      stages.map { case (s, _) => s"cg.stage.${s}_s" -> tr.seconds(s"cg.stage.$s") }
  }
}

/** Streaming summary of one or more OsmChange documents: parsing with
  * StAX doubles as the well-formedness check. */
final class OscSummary {
  private val counts = mutable.HashMap[(String, String), Long]().withDefaultValue(0L)
  private val seen = mutable.HashMap[String, mutable.HashSet[Long]]()
  val duplicateIds = mutable.ArrayBuffer[String]()
  val createdNodes = mutable.HashSet[Long]()
  val createdWays = mutable.HashSet[Long]()
  val ndRefs = mutable.ArrayBuffer[Long]()
  val wayMembers = mutable.ArrayBuffer[Long]()
  private val createdLineWaySizes = mutable.ArrayBuffer[Int]()
  var modifyNds = 0L
  var openRings = 0
  var elements = 0L
  private val lines = mutable.ArrayBuffer[String]()

  def count(section: String, tpe: String): Long = counts((section, tpe))
  def overCap(cap: Int): Int = createdLineWaySizes.count(_ > cap)
  def digest: String = Fixtures.digest(lines.sorted.toSeq)

  def parse(bytes: Array[Byte]): Unit = {
    var section = ""
    new String(bytes, StandardCharsets.UTF_8).split('\n').foreach { l =>
      if (l.startsWith("<create")) section = "create"
      else if (l.startsWith("<modify")) section = "modify"
      else if (l.startsWith("<delete")) section = "delete"
      else if (l.startsWith("<node") || l.startsWith("<way") || l.startsWith("<relation")) lines += s"$section $l"
    }
    val r = javax.xml.stream.XMLInputFactory.newInstance().createXMLStreamReader(new ByteArrayInputStream(bytes))
    var sec = ""
    var elem = ""
    var id = 0L
    var nds = mutable.ArrayBuffer[Long]()
    var tags = Map.empty[String, String]
    try while (r.hasNext) {
      r.next() match {
        case javax.xml.stream.XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case s @ ("create" | "modify" | "delete") => sec = s
            case t @ ("node" | "way" | "relation") =>
              elem = t
              id = r.getAttributeValue(null, "id").toLong
              nds = mutable.ArrayBuffer[Long]()
              tags = Map.empty
            case "nd" => nds += r.getAttributeValue(null, "ref").toLong
            case "member" =>
              if (r.getAttributeValue(null, "type") == "way") wayMembers += r.getAttributeValue(null, "ref").toLong
            case "tag" => tags += r.getAttributeValue(null, "k") -> r.getAttributeValue(null, "v")
            case _ =>
          }
        case javax.xml.stream.XMLStreamConstants.END_ELEMENT if r.getLocalName == elem =>
          elements += 1
          counts((sec, elem)) += 1
          if (!seen.getOrElseUpdate(elem, mutable.HashSet[Long]()).add(id)) duplicateIds += s"$elem $id"
          if (sec == "create" && elem == "node") createdNodes += id
          if (sec == "create" && elem == "way") {
            createdWays += id
            if (tags.get("area").contains("yes")) { if (nds.isEmpty || nds.head != nds.last) openRings += 1 }
            else createdLineWaySizes += nds.size
          }
          if (sec == "modify" && elem == "way") modifyNds += nds.size
          if (elem == "way" && sec != "delete") ndRefs ++= nds
          elem = ""
        case _ =>
      }
    } finally r.close()
  }
}

package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.functions.WkbGeomExpr
import graft.osm.{OsmModel, OsmPbf}

/** Seeded input generators. Each fixture is generated once per
  * (workload, seed) into the cache directory and reused by later runs;
  * generation is never timed. Every generator also writes `expect.json`,
  * the counts the outputs must reproduce. */
object Fixtures {

  /** Returns the fixture directory for `key`, generating it first when
    * absent. A directory without `_COMPLETE` is a torn earlier attempt. */
  def cached(cacheRoot: String, key: String)(gen: Path => Map[String, Any]): (Path, Map[String, String]) = {
    val dir = Paths.get(cacheRoot, key)
    if (!Files.exists(dir.resolve("_COMPLETE"))) {
      deleteTree(dir)
      Files.createDirectories(dir)
      val expect = gen(dir)
      Files.write(dir.resolve("expect.json"), Json.render(expect).getBytes(StandardCharsets.UTF_8))
      Files.createFile(dir.resolve("_COMPLETE"))
    }
    (dir, Json.parseFlat(new String(Files.readAllBytes(dir.resolve("expect.json")), StandardCharsets.UTF_8)))
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.iterator.asScala.toSeq.reverse.foreach(Files.delete) finally walk.close()
  }

  private def writeRows(spark: SparkSession, rows: Seq[Row], schema: StructType, path: Path, parts: Int = 1): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)
      .write.mode("overwrite").parquet(path.toString)

  private def longs(names: String*): StructType =
    StructType(names.map(StructField(_, LongType, nullable = false)))

  // ---- changegen -------------------------------------------------------

  /** Shape of a changegen conflation fixture. Coordinates are planar
    * (lon = x, lat = y); the junction radius of the pipeline is 0.5. */
  final case class CgShape(
      extractX: (Double, Double), extractRows: Int,  // extract region: rows 1.0 apart from y = -80
      wayNodes: (Int, Int),                          // nodes per extract way (0.8 apart)
      existingFrac: Double,                          // share of extract ways in the --existing table
      junctionWays: Int,                             // extract ways a new road runs beside
      deletions: Int,                                // ways named in the --deletions table
      freeRoads: Int, roadVerts: (Int, Int),
      buildings: Int, holeFrac: Double, pois: Int,
      newX: (Double, Double))                        // region for free roads, buildings and POIs

  val CgExtract = CgShape(extractX = (-170, 60), extractRows = 40, wayNodes = (6, 14),
    existingFrac = 0.6, junctionWays = 120, deletions = 80,
    freeRoads = 300, roadVerts = (4, 30),
    buildings = 300, holeFrac = 0.3, pois = 600, newX = (70, 170))

  /** Node-count -> chunk count of `WayOps.splitWay` as the pipeline
    * calls it (segment = cap - 1, split only above the cap). */
  def chunks(n: Int, cap: Int): Int = if (n <= cap) 1 else (n + cap - 2) / (cap - 1)

  def genChangegen(spark: SparkSession, dir: Path, shape: CgShape, seed: Long, cap: Int): Map[String, Any] = {
    val rnd = new SplittableRandom(seed * 7919L + 17L)
    def uni(a: Int, b: Int) = a + rnd.nextInt(b - a + 1)
    def round6(v: Double) = math.rint(v * 1e6) / 1e6

    // extract: rows of straight ways, nodes 0.8 apart, 1.6 between ways
    val ways = ArrayBuffer[(Long, Array[(Long, Double, Double)])]()
    var nextNode = 1L
    for (r <- 0 until shape.extractRows) {
      val y = -80.0 + r
      var x = shape.extractX._1
      var n = uni(shape.wayNodes._1, shape.wayNodes._2)
      while (x + (n - 1) * 0.8 <= shape.extractX._2) {
        val nodes = Array.tabulate(n) { k => val id = nextNode + k; (id, round6(x + k * 0.8), y) }
        nextNode += n
        ways += ((ways.size + 1L, nodes))
        x += (n - 1) * 0.8 + 1.6
        n = uni(shape.wayNodes._1, shape.wayNodes._2)
      }
    }

    // new line features: (feature id, vertices)
    val roads = ArrayBuffer[(Long, Array[(Double, Double)])]()
    def addRoad(pts: Array[(Double, Double)]): Unit = roads += ((roads.size + 1L, pts))

    // ways a new road runs beside: the road tracks a run of the way's
    // nodes at offset (0.15, 0.3). The junction targets straddle the
    // --existing cut: half of them are
    // named there (and get spliced), half are not (and must stay as they are)
    val shuffled = rnd.ints(ways.size.toLong).toArray.zipWithIndex.sortBy(_._1).map(_._2)
    val nExisting = (shape.existingFrac * ways.size).toInt
    val existing = shuffled.take(nExisting).toSet
    val junctionIdx = shuffled.slice(nExisting - shape.junctionWays / 2, nExisting - shape.junctionWays / 2 + shape.junctionWays)
    val deleteIdx = shuffled.takeRight(shape.deletions)
    var modified = 0L
    var modifyNds = 0L
    junctionIdx.foreach { wi =>
      val nodes = ways(wi)._2
      val k0 = rnd.nextInt(nodes.length - 1)
      val m = uni(2, nodes.length - k0)
      addRoad(nodes.slice(k0, k0 + m).map { case (_, x, y) => (round6(x + 0.15), y + 0.3) })
      if (existing(wi)) { modified += 1; modifyNds += nodes.length + m }
    }

    // free roads: random walks in the new-feature region, rows 2.0 apart
    val newW = shape.newX._2 - shape.newX._1
    for (r <- 0 until shape.freeRoads) {
      val n = uni(shape.roadVerts._1, shape.roadVerts._2)
      val x0 = shape.newX._1 + (r % 8) * newW / 8
      val y0 = -78.0 + (r / 8) % 78 * 2
      addRoad(Array.tabulate(n)(k => (round6(x0 + k * newW / 8 / (n + 1)), round6(y0 + 0.5 * math.sin(k)))))
    }

    // buildings: closed rings, some with one hole, on a lattice
    val polyRows = ArrayBuffer[Row]()
    var polyNodes = 0L
    var polyWays = 0L
    var relations = 0L
    for (b <- 0 until shape.buildings) {
      val cx = round6(shape.newX._1 + 0.5 + (b % 40) * newW / 40)
      val cy = round6(-79.25 + (b / 40) % 120 * 1.3)
      def ring(n: Int, rad: Double): Array[(Double, Double)] = {
        val open = Array.tabulate(n)(k =>
          (round6(cx + rad * math.cos(2 * math.Pi * k / n)), round6(cy + rad * math.sin(2 * math.Pi * k / n))))
        open :+ open(0)
      }
      val outer = ring(uni(4, 9), 0.3)
      val rings = if (rnd.nextDouble() < shape.holeFrac) Array(outer, ring(4, 0.1)) else Array(outer)
      polyNodes += rings.map(_.length - 1).sum
      polyWays += rings.length
      if (rings.length > 1) relations += 1
      polyRows += Row(b + 1L, s"b${b % 7}", WkbGeomExpr.encodePolygon(rings))
    }

    val poiRows = (0 until shape.pois).map { p =>
      val x = round6(shape.newX._1 + 0.7 + (p % 50) * newW / 50)
      val y = round6(-79.6 + (p / 50) % 150 * 1.05)
      Row(p + 1L, Seq("cafe", "bench", "shop", "school")(p % 4), WkbGeomExpr.encode(1, Array((x, y))))
    }

    // ---- write ------------------------------------------------------
    OsmPbf.write(dir.resolve("extract.osm.pbf").toString,
      ways.flatMap(_._2).map { case (id, x, y) => OsmModel.Node(id, 1, y, x, Map.empty) }.toSeq,
      ways.map { case (id, nodes) => OsmModel.Way(id, 1, nodes.map(_._1).toSeq, Map("highway" -> "residential")) }.toSeq,
      Nil)
    writeRows(spark, Nil, longs("s_suppkey", "s_nationkey"), dir.resolve("supplier.parquet"))
    writeRows(spark, Nil, longs("l_orderkey", "l_linenumber", "l_partkey"), dir.resolve("lineitem.parquet"))
    writeRows(spark, Nil, longs("o_orderkey"), dir.resolve("orders.parquet"))
    val feat = StructType(Seq(StructField("osm_id", LongType, nullable = false),
      StructField("kind", StringType), StructField("wkb_geometry", BinaryType)))
    writeRows(spark, roads.map { case (id, pts) => Row(id, "path", WkbGeomExpr.encode(2, pts)) }.toSeq,
      feat, dir.resolve("roads_new.parquet"), 4)
    writeRows(spark, polyRows.toSeq, feat, dir.resolve("buildings_new.parquet"), 2)
    writeRows(spark, poiRows, feat, dir.resolve("pois_new.parquet"), 2)
    writeRows(spark, existing.toSeq.sorted.map { wi =>
      val (id, nodes) = ways(wi)
      Row(id, "residential", WkbGeomExpr.encode(2, nodes.map(n => (n._2, n._3))))
    }, feat, dir.resolve("existing_ways.parquet"), 4)
    writeRows(spark, deleteIdx.toSeq.sorted.map(wi => Row(ways(wi)._1)), longs("osm_id"),
      dir.resolve("removed_ways.parquet"))

    // benchmark-side input for the per-layer decomposition: the junction
    // targets the pipeline matches against
    val targets = existing.toSeq.sorted.map(ways(_))
    writeRows(spark, targets.flatMap(_._2).map { case (id, x, y) => Row(id, x, y) },
      StructType(Seq(StructField("enode", LongType, nullable = false),
        StructField("ex", DoubleType, nullable = false), StructField("ey", DoubleType, nullable = false))),
      dir.resolve("targets.parquet"), 4)

    val lineVerts = roads.map(_._2.length.toLong).sum
    val lineWays = roads.map(r => chunks(r._2.length, cap).toLong).sum
    val deleted = deleteIdx.map(ways(_))
    Map(
      "create_node" -> (lineVerts + polyNodes + shape.pois),
      "create_way" -> (lineWays + polyWays),
      "create_relation" -> relations,
      "modify_node" -> 0L, "modify_way" -> modified, "modify_relation" -> 0L,
      "modify_nds" -> modifyNds,
      "delete_node" -> deleted.map(_._2.length.toLong).sum,
      "delete_way" -> deleted.length.toLong, "delete_relation" -> 0L,
      "extract_nodes" -> (nextNode - 1), "extract_ways" -> ways.size.toLong,
      "cap" -> cap.toLong)
  }

  def digest(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    lines.foreach { l => md.update(l.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }
}

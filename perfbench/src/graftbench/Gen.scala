package graftbench

import graft.osmpbf.codec.PbfWriter
import graft.osmpbf.model._

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Seeded input generators. Each keeps its own truth (counts, checksums,
  * polygons, expected rollups, a brute-force kNN sample) and writes it next
  * to the inputs; the program only ever sees the input files.
  *
  *   Gen <workload> <seed> <outDir>
  */
object Gen {

  // ------------------------------------------------------------------ OSM

  final case class OsmSpec(clusters: Int, polysPerCluster: Int, backgroundNodes: Int,
      spread: Double)

  /** Truth of one generated extract. Checksums are plain sums over the
    * decoded fields. */
  final class OsmTruth {
    var nodes = 0L; var nodeIdSum = 0L; var latNdSum = 0L; var lonNdSum = 0L
    var ways = 0L; var wayIdSum = 0L; var wayRefSum = 0L
    var relations = 0L; var relIdSum = 0L; var memberSum = 0L
    val polys = mutable.ArrayBuffer.empty[Geo.Poly]
    val centers = mutable.ArrayBuffer.empty[(Double, Double)]
  }

  private def snapNd(deg: Double): Long = math.round(deg * 1e7) * 100L

  /** Streams a seeded extract through [[PbfWriter]]: per cluster, polygons
    * that are rotated quads, concave stars or holed multipolygon relations
    * (5–200 vertices with the closing one, from well under one res-12 cell
    * to several cells across), open highways, and a DenseNodes background
    * carrying full info. */
  def writeOsm(path: String, seed: Long, spec: OsmSpec): OsmTruth = {
    val rnd = new scala.util.Random(seed)
    val t = new OsmTruth
    // rings as node coordinate arrays (nd), one entry per way to write
    final case class RingWay(id: Long, nodeIds: Array[Long], tags: Map[String, String])
    val ringWays = mutable.ArrayBuffer.empty[RingWay]
    final case class Rel(id: Long, outer: Long, inner: Long)
    val rels = mutable.ArrayBuffer.empty[Rel]
    val vertexNodes = mutable.ArrayBuffer.empty[(Long, Long, Long)] // id, latNd, lonNd
    var nodeId = 0L
    var wayId = 0L
    var relId = 0L
    val polyTags = Vector("building" -> "yes", "landuse" -> "residential",
      "leisure" -> "park", "natural" -> "wood", "amenity" -> "school")

    def ring(cx: Double, cy: Double, n: Int, radius: Int => Double, rot: Double,
        squash: Double): (Array[Long], Array[Double]) = {
      val ids = new Array[Long](n)
      val deg = new Array[Double](2 * n)
      var i = 0
      while (i < n) {
        val a = rot + 2 * math.Pi * i / n
        val r = radius(i)
        val lonNd = snapNd(cx + r * math.cos(a))
        val latNd = snapNd(cy + r * math.sin(a) * squash)
        nodeId += 1
        vertexNodes += ((nodeId, latNd, lonNd))
        ids(i) = nodeId
        deg(2 * i) = lonNd * 1e-9
        deg(2 * i + 1) = latNd * 1e-9
        i += 1
      }
      (ids, deg)
    }

    // sizes, kinds and vertex counts are stratified over the whole extract
    // and shuffled: each seed places and shapes its polygons anew, while
    // their total size and vertex count barely move between seeds
    val nPolys = spec.clusters * spec.polysPerCluster
    def strata(): Array[Double] =
      rnd.shuffle(Array.tabulate(nPolys)(i => (i + rnd.nextDouble()) / nPolys).toSeq).toArray
    val (sizeQ, kindQ, vertexQ, holeQ) = (strata(), strata(), strata(), strata())
    var p = 0
    for (_ <- 0 until spec.clusters) {
      val cLon = -170.0 + rnd.nextDouble() * 340.0
      val cLat = -55.0 + rnd.nextDouble() * 110.0
      t.centers += ((snapNd(cLon) * 1e-9, snapNd(cLat) * 1e-9))
      for (_ <- 0 until spec.polysPerCluster) {
        val cx = cLon + (rnd.nextDouble() - 0.5) * 2 * spec.spread
        val cy = cLat + (rnd.nextDouble() - 0.5) * spec.spread
        val r = 0.004 * math.pow(30.0, sizeQ(p)) // 0.004° .. 0.12°
        val rot = rnd.nextDouble() * 2 * math.Pi
        val squash = 0.5 + rnd.nextDouble() * 0.5
        val kind = (kindQ(p) * 10).toInt
        val vq = vertexQ(p)
        p += 1
        if (kind < 3) { // rotated quad
          val (ids, deg) = ring(cx, cy, 4, _ => r, rot, squash)
          wayId += 1
          ringWays += RingWay(wayId, ids :+ ids(0), Map(polyTags(rnd.nextInt(polyTags.size))))
          t.polys += Geo.Poly("way", wayId, Array(deg))
        } else if (kind < 8) { // concave star
          val n = 4 + (vq * 196).toInt
          val inner = 0.35 + rnd.nextDouble() * 0.35
          val jit = Array.fill(n)(rnd.nextDouble())
          val (ids, deg) = ring(cx, cy, n,
            i => if (i % 2 == 0) r * (0.85 + 0.15 * jit(i)) else r * inner * (0.9 + 0.1 * jit(i)),
            rot, squash)
          wayId += 1
          ringWays += RingWay(wayId, ids :+ ids(0), Map(polyTags(rnd.nextInt(polyTags.size))))
          t.polys += Geo.Poly("way", wayId, Array(deg))
        } else { // holed multipolygon relation: untagged outer + inner ways
          val nOuter = 4 + (vq * 146).toInt
          val nInner = 3 + (holeQ(p - 1) * 38).toInt
          val jit = Array.fill(nOuter)(rnd.nextDouble())
          val holeScale = 0.2 + rnd.nextDouble() * 0.25
          val (oIds, oDeg) = ring(cx, cy, nOuter, i => r * (0.8 + 0.2 * jit(i)), rot, squash)
          val (iIds, iDeg) = ring(cx, cy, nInner, _ => r * holeScale, -rot, squash)
          ringWays += RingWay(wayId + 1, oIds :+ oIds(0), Map.empty)
          ringWays += RingWay(wayId + 2, iIds :+ iIds(0), Map.empty)
          relId += 1
          rels += Rel(relId, wayId + 1, wayId + 2)
          wayId += 2
          t.polys += Geo.Poly("relation", relId, Array(oDeg, iDeg))
        }
      }
    }

    val w = PbfWriter(path)
    w.writeHeader(HeaderMeta(Seq("OsmSchema-V0.6", "DenseNodes"), Nil, "graftbench-gen",
      s"seed=$seed", None, None, None, None))
    def emitNode(id: Long, latNd: Long, lonNd: Long, tags: Map[String, String],
        info: Option[OsmInfo]): Unit = {
      w.addNode(OsmNode(id, latNd, lonNd, latNd * 1e-9, lonNd * 1e-9, tags, info, 0L))
      t.nodes += 1; t.nodeIdSum += id; t.latNdSum += latNd; t.lonNdSum += lonNd
    }
    vertexNodes.foreach { case (id, lat, lon) => emitNode(id, lat, lon, Map.empty, None) }
    // background DenseNodes around the cluster centres, streamed (never held)
    val firstBg = nodeId + 1
    var i = 0
    while (i < spec.backgroundNodes) {
      val (cl, ct) = t.centers(rnd.nextInt(t.centers.size))
      val lon = math.max(-179.9, math.min(179.9, cl + rnd.nextGaussian() * spec.spread))
      val lat = math.max(-89.9, math.min(89.9, ct + rnd.nextGaussian() * spec.spread * 0.5))
      nodeId += 1
      val tags = if (i % 50 == 0) Map("amenity" -> "cafe", "name" -> s"cafe $i") else Map.empty[String, String]
      val info = Some(OsmInfo(1 + i % 7, new java.sql.Timestamp(1600000000000L + i * 1000L),
        100000L + i / 100, 1 + i % 500, s"user${i % 500}", visible = true))
      emitNode(nodeId, snapNd(lat), snapNd(lon), tags, info)
      i += 1
    }
    def emitWay(id: Long, refs: Seq[Long], tags: Map[String, String]): Unit = {
      w.addWay(OsmWay(id, refs, tags, None, 0L))
      t.ways += 1; t.wayIdSum += id; t.wayRefSum += refs.sum
    }
    ringWays.foreach(rw => emitWay(rw.id, rw.nodeIds.toSeq, rw.tags))
    // open highways over background nodes: decoded and joined, never polygons
    val nBg = nodeId - firstBg + 1
    if (nBg > 16) for (_ <- 0 until spec.clusters * 8) {
      val start = firstBg + (rnd.nextDouble() * (nBg - 16)).toLong
      wayId += 1
      emitWay(wayId, (0L until 2L + rnd.nextInt(14)).map(start + _), Map("highway" -> "residential"))
    }
    rels.foreach { r =>
      w.addRelation(OsmRelation(r.id, Seq(RelMember(r.outer, "outer", "way"),
        RelMember(r.inner, "inner", "way")), Map("type" -> "multipolygon", "landuse" -> "forest"),
        None, 0L))
      t.relations += 1; t.relIdSum += r.id; t.memberSum += 2
    }
    w.close()
    t
  }

  // ---------------------------------------------------------------- output

  private def writeProps(path: String, kv: Seq[(String, Any)]): Unit = {
    val w = new java.io.PrintWriter(path)
    try kv.foreach { case (k, v) => w.println(s"$k=$v") } finally w.close()
  }

  private def osmProps(t: OsmTruth): Seq[(String, Any)] = Seq(
    "nodes" -> t.nodes, "node_id_sum" -> t.nodeIdSum, "lat_nd_sum" -> t.latNdSum,
    "lon_nd_sum" -> t.lonNdSum, "ways" -> t.ways, "way_id_sum" -> t.wayIdSum,
    "way_ref_sum" -> t.wayRefSum, "relations" -> t.relations, "rel_id_sum" -> t.relIdSum,
    "member_sum" -> t.memberSum, "polygons" -> t.polys.size,
    "rings" -> t.polys.map(_.rings.length).sum,
    "centers" -> t.centers.map { case (a, b) => s"$a:$b" }.mkString(","))

  /** One line per polygon: src, id, ring count, bbox (exact doubles). */
  private def writePolys(path: String, t: OsmTruth): Unit = {
    val w = new java.io.PrintWriter(path)
    try t.polys.foreach { p =>
      val (a, b, c, d) = p.bbox
      w.println(s"${p.src}\t${p.id}\t${p.rings.length}\t$a\t$b\t$c\t$d")
    } finally w.close()
  }

  private def session(): SparkSession = SparkSession.builder()
    .master(s"local[${Runtime.getRuntime.availableProcessors()}]")
    .appName("graftbench-gen")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  // -------------------------------------------------------------- workloads

  val GraftOsm = OsmSpec(clusters = 8, polysPerCluster = 70, backgroundNodes = 30000, spread = 0.15)
  /** Polygon bboxes covering each hot cell of osm_buckets. */
  val HotCover = 4
  val BucketOsm = OsmSpec(clusters = 4, polysPerCluster = 150, backgroundNodes = 250000, spread = 0.6)

  def graftImages(seed: Long, dir: String, nImages: Long): Unit = {
    val t = writeOsm(s"$dir/extract.osm.pbf", seed, GraftOsm)
    val spark = session()
    import spark.implicits._
    val centers = t.centers.toVector
    // the image index range is offset by the seed, so each seed gets other
    // pixels, captions and positions
    val off = seed * 10000000L
    val images = spark.range(off, off + nImages, 1, 16)
      .mapPartitions(_.map(i => graft.tiles.Images.synthRow(i, centers))).toDF()
    graft.tiles.ImageTable.write(images, s"$dir/images")
    val index = new Geo.PolyIndex(t.polys.toIndexedSeq)
    val roll = new Geo.Rollup
    var i = off
    while (i < off + nImages) {
      val (lon, lat) = graft.tiles.Images.position(i, centers)
      roll.add(lon, lat, 10, index)
      i += 1
    }
    roll.write(s"$dir/tiles.tsv")
    writePolys(s"$dir/polys.tsv", t)
    writeProps(s"$dir/truth.properties", osmProps(t) ++ Seq("rows" -> nImages))
    spark.stop()
  }

  def osmBuckets(seed: Long, dir: String, hotCells: Int, hotPerCell: Int, otherPoints: Int): Unit = {
    val t = writeOsm(s"$dir/extract.osm.pbf", seed, BucketOsm)
    val rnd = new scala.util.Random(seed * 31 + 7)
    val n = hotCells * hotPerCell + otherPoints
    val lons = new Array[Double](n)
    val lats = new Array[Double](n)
    // hot res-12 cells filled past the 100 000-point salting threshold, each
    // one covered by HotCover polygon bboxes (or the nearest count), so the
    // salted join's work in them is the same for every seed
    val cellLon = 360.0 / 4096; val cellLat = 180.0 / 4096
    val cover = mutable.HashMap.empty[(Int, Int), Int]
    t.polys.foreach { p =>
      val (a, b, c, d) = p.bbox
      for (x <- Geo.tileX(a, 12) to Geo.tileX(c, 12); y <- Geo.tileY(d, 12) to Geo.tileY(b, 12))
        cover((x, y)) = cover.getOrElse((x, y), 0) + 1
    }
    val hot = cover.toSeq.sortBy(c => (math.abs(c._2 - HotCover), c._1)).take(hotCells).map(_._1)
    var k = 0
    for ((x, y) <- hot) {
      val (minLon, minLat, _, _) = Geo.tileBounds(x, y, 12)
      for (_ <- 0 until hotPerCell) {
        lons(k) = minLon + (0.001 + 0.998 * rnd.nextDouble()) * cellLon
        lats(k) = minLat + (0.001 + 0.998 * rnd.nextDouble()) * cellLat
        k += 1
      }
    }
    while (k < n) {
      if (rnd.nextInt(10) < 6) { // near a polygon
        val (a, b, c, d) = t.polys(rnd.nextInt(t.polys.size)).bbox
        lons(k) = (a + c) / 2 + rnd.nextGaussian() * (c - a)
        lats(k) = (b + d) / 2 + rnd.nextGaussian() * (d - b)
      } else { // anywhere in a cluster's box
        val (cl, ct) = t.centers(rnd.nextInt(t.centers.size))
        lons(k) = cl + (rnd.nextDouble() - 0.5) * 4 * BucketOsm.spread
        lats(k) = ct + (rnd.nextDouble() - 0.5) * 2 * BucketOsm.spread
      }
      k += 1
    }
    val spark = session()
    import spark.implicits._
    val pts = (0 until n).map(i => (i.toLong, lons(i), lats(i)))
    graft.tiles.ImageTable.write(
      spark.createDataset(pts).toDF("image_id", "lon", "lat").repartition(8), s"$dir/points")
    val index = new Geo.PolyIndex(t.polys.toIndexedSeq)
    val roll = new Geo.Rollup
    (0 until n).foreach(i => roll.add(lons(i), lats(i), 10, index))
    roll.write(s"$dir/tiles.tsv")
    writePolys(s"$dir/polys.tsv", t)
    writeProps(s"$dir/truth.properties", osmProps(t) ++ Seq("rows" -> n, "hot_cells" -> hotCells))
    spark.stop()
  }

  /** POIs: 70 % in 40 clusters, 28 % uniform over |lat| ≤ 60, 2 % in a
    * sparse band at 60–85° north. Query points: 60 % around the same
    * clusters, 35 % uniform background, 5 % in the sparse band at 62–82°,
    * where the ring expansion has to run far. */
  def knnPoi(seed: Long, dir: String, nPois: Int, nPoints: Int, sample: Int): Unit = {
    val rnd = new scala.util.Random(seed * 17 + 3)
    val centers = Array.fill(40)((-170.0 + rnd.nextDouble() * 340.0, -50.0 + rnd.nextDouble() * 100.0))
    def clamp(v: Double, lo: Double, hi: Double) = math.max(lo, math.min(hi, v))
    val pois = Array.tabulate(nPois) { i =>
      val u = rnd.nextInt(100)
      if (u < 70) {
        val (cl, ct) = centers(rnd.nextInt(centers.length))
        (i.toLong, clamp(cl + rnd.nextGaussian() * 3.0, -180, 180), clamp(ct + rnd.nextGaussian() * 3.0, -60, 60))
      } else if (u < 98) (i.toLong, -180.0 + rnd.nextDouble() * 360.0, -60.0 + rnd.nextDouble() * 120.0)
      else (i.toLong, -180.0 + rnd.nextDouble() * 360.0, 60.0 + rnd.nextDouble() * 25.0)
    }
    val pts = Array.tabulate(nPoints) { i =>
      val u = rnd.nextInt(100)
      if (u < 60) {
        val (cl, ct) = centers(rnd.nextInt(centers.length))
        (i.toLong, clamp(cl + rnd.nextGaussian() * 2.0, -180, 180), clamp(ct + rnd.nextGaussian() * 2.0, -89, 89))
      } else if (u < 95) (i.toLong, -180.0 + rnd.nextDouble() * 360.0, -60.0 + rnd.nextDouble() * 120.0)
      else (i.toLong, -180.0 + rnd.nextDouble() * 360.0, 62.0 + rnd.nextDouble() * 20.0)
    }
    val spark = session()
    import spark.implicits._
    spark.createDataset(pois.toSeq).toDF("poi_id", "lon", "lat").repartition(4)
      .write.parquet(s"$dir/pois")
    spark.createDataset(pts.toSeq).toDF("pt_id", "lon", "lat").repartition(8)
      .write.parquet(s"$dir/points")
    spark.stop()
    // brute-force top-2 for a seeded sample (ties by poi_id; poi_id = index)
    val poiLon = pois.map(_._2)
    val poiLat = pois.map(_._3)
    val k = 2 // the top-2 pass below is written for k = 2
    val w = new java.io.PrintWriter(s"$dir/knn.tsv")
    try {
      val pick = new scala.util.Random(seed * 13 + 5)
      val chosen = mutable.LinkedHashSet.empty[Int]
      while (chosen.size < sample) chosen += pick.nextInt(nPoints)
      chosen.toSeq.sorted.foreach { p =>
        val (pid, lon, lat) = pts(p)
        // top-2 by (distance, poi_id) in one pass
        var d1 = Double.MaxValue; var i1 = Long.MaxValue
        var d2 = Double.MaxValue; var i2 = Long.MaxValue
        var j = 0
        while (j < nPois) {
          val d = Geo.haversineM(lon, lat, poiLon(j), poiLat(j))
          val id = j.toLong
          if (d < d1 || (d == d1 && id < i1)) { d2 = d1; i2 = i1; d1 = d; i1 = id }
          else if (d < d2 || (d == d2 && id < i2)) { d2 = d; i2 = id }
          j += 1
        }
        val best = Seq((d1, i1), (d2, i2))
        best.zipWithIndex.foreach { case ((d, id), r) => w.println(s"$pid\t${r + 1}\t$id\t$d") }
      }
    } finally w.close()
    writeProps(s"$dir/truth.properties", Seq("rows" -> nPoints, "pois" -> nPois, "k" -> k))
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, dir) = args
    val seed = seedS.toLong
    new java.io.File(dir).mkdirs()
    workload match {
      case "graft_images" => graftImages(seed, dir, Sizes.images)
      case "osm_buckets" => osmBuckets(seed, dir, Sizes.hotCells, Sizes.hotPerCell, Sizes.bucketPoints)
      case "knn_poi" => knnPoi(seed, dir, Sizes.pois, Sizes.knnPoints, Sizes.knnSample)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }
}

/** Input sizes, in one place. Generated inputs are cached under the
  * build's stamp of the sources, so changing a size regenerates them. */
object Sizes {
  val images = 30000L
  val hotCells = 1
  val hotPerCell = 101000
  val bucketPoints = 25000
  val pois = 20000
  val knnPoints = 30000
  val knnSample = 1000
}

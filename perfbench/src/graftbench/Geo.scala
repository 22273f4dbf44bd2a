package graftbench

/** The benchmark's own geometry: tile math, even-odd ray casting, haversine
  * and a bbox grid index. Written apart from graft's `CellMath`/`GeomEval`
  * so that the checks compare the program against an independent
  * computation, not against itself. */
object Geo {

  /** Equirectangular tile column/row at zoom z (row 0 at lat +90). */
  def tileX(lon: Double, z: Int): Int = {
    val n = 1 << z
    val x = ((lon + 180.0) / 360.0 * n).toInt
    math.max(0, math.min(n - 1, x))
  }
  def tileY(lat: Double, z: Int): Int = {
    val n = 1 << z
    val y = ((90.0 - lat) / 180.0 * n).toInt
    math.max(0, math.min(n - 1, y))
  }
  def tileKey(lon: Double, lat: Double, z: Int): Long =
    (tileX(lon, z).toLong << 32) | tileY(lat, z).toLong
  def keyX(key: Long): Int = (key >>> 32).toInt
  def keyY(key: Long): Int = (key & 0xFFFFFFFFL).toInt

  /** Bounds (minLon, minLat, maxLon, maxLat) of tile (x, y) at zoom z. */
  def tileBounds(x: Int, y: Int, z: Int): (Double, Double, Double, Double) = {
    val n = (1 << z).toDouble
    (x / n * 360.0 - 180.0, 90.0 - (y + 1) / n * 180.0,
      (x + 1) / n * 360.0 - 180.0, 90.0 - y / n * 180.0)
  }

  /** Even-odd ray cast over open rings (no repeated closing vertex), edge
    * (i, i-1) as in the classic PNPOLY loop. */
  def inside(lon: Double, lat: Double, rings: Array[Array[Double]]): Boolean = {
    var in = false
    var r = 0
    while (r < rings.length) {
      val ring = rings(r) // x0, y0, x1, y1, ...
      val n = ring.length / 2
      var i = 0
      var j = n - 1
      while (i < n) {
        val xi = ring(2 * i); val yi = ring(2 * i + 1)
        val xj = ring(2 * j); val yj = ring(2 * j + 1)
        if (((yi > lat) != (yj > lat)) && (lon < (xj - xi) * (lat - yi) / (yj - yi) + xi)) in = !in
        j = i
        i += 1
      }
      r += 1
    }
    in
  }

  def haversineM(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val k = math.Pi / 180.0
    val sLat = math.sin((lat2 - lat1) * k / 2)
    val sLon = math.sin((lon2 - lon1) * k / 2)
    val a = sLat * sLat + math.cos(lat1 * k) * math.cos(lat2 * k) * sLon * sLon
    2 * 6371000.0 * math.asin(math.min(1.0, math.sqrt(a)))
  }

  /** A polygon as the generator made it: rings in degrees, outer first. */
  final case class Poly(src: String, id: Long, rings: Array[Array[Double]]) {
    lazy val bbox: (Double, Double, Double, Double) = {
      var a = Double.MaxValue; var b = Double.MaxValue
      var c = -Double.MaxValue; var d = -Double.MaxValue
      rings.foreach { ring =>
        var i = 0
        while (i < ring.length) {
          a = math.min(a, ring(i)); c = math.max(c, ring(i))
          b = math.min(b, ring(i + 1)); d = math.max(d, ring(i + 1))
          i += 2
        }
      }
      (a, b, c, d)
    }
  }

  /** Uniform grid over polygon bboxes: a point only ray-casts the polygons
    * whose bbox covers its grid cell. */
  final class PolyIndex(val polys: IndexedSeq[Poly], step: Double = 0.05) {
    private val cells = scala.collection.mutable.HashMap.empty[Long, scala.collection.mutable.ArrayBuffer[Int]]
    private def key(ix: Int, iy: Int): Long = (ix.toLong << 32) | (iy & 0xFFFFFFFFL)
    polys.indices.foreach { p =>
      val (a, b, c, d) = polys(p).bbox
      var ix = math.floor(a / step).toInt
      while (ix <= math.floor(c / step).toInt) {
        var iy = math.floor(b / step).toInt
        while (iy <= math.floor(d / step).toInt) {
          cells.getOrElseUpdate(key(ix, iy), scala.collection.mutable.ArrayBuffer.empty) += p
          iy += 1
        }
        ix += 1
      }
    }

    /** Indices of the polygons containing (lon, lat). */
    def hits(lon: Double, lat: Double): Seq[Int] =
      cells.get(key(math.floor(lon / step).toInt, math.floor(lat / step).toInt)) match {
        case None => Nil
        case Some(cands) => cands.filter { p =>
          val (a, b, c, d) = polys(p).bbox
          lon >= a && lon <= c && lat >= b && lat <= d && inside(lon, lat, polys(p).rings)
        }.toSeq
      }
  }

  /** Expected per-tile rollup: tile key → (n_images, n_hits, distinct polys). */
  final class Rollup {
    val images = scala.collection.mutable.HashMap.empty[Long, Long]
    val hits = scala.collection.mutable.HashMap.empty[Long, Long]
    /** Per tile, the distinct polygons hit, as `src:id`. */
    val polys = scala.collection.mutable.HashMap.empty[Long, scala.collection.mutable.HashSet[String]]
    def add(lon: Double, lat: Double, z: Int, index: PolyIndex): Unit = {
      val t = tileKey(lon, lat, z)
      images(t) = images.getOrElse(t, 0L) + 1
      val h = index.hits(lon, lat)
      if (h.nonEmpty) {
        hits(t) = hits.getOrElse(t, 0L) + h.size
        polys.getOrElseUpdate(t, scala.collection.mutable.HashSet.empty) ++=
          h.map(p => s"${index.polys(p).src}:${index.polys(p).id}")
      }
    }
    /** One line per tile: x, y, images, hits, distinct polys, their keys. */
    def write(path: String): Unit = {
      val w = new java.io.PrintWriter(path)
      try images.keys.toSeq.sorted.foreach { t =>
        val ps = polys.get(t).map(_.toSeq.sorted).getOrElse(Nil)
        w.println(s"${keyX(t)}\t${keyY(t)}\t${images(t)}\t${hits.getOrElse(t, 0L)}\t" +
          s"${ps.size}\t${ps.mkString(",")}")
      } finally w.close()
    }
  }
}

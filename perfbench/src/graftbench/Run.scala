package graftbench

import graft.osmpbf.source.OsmPbf
import graft.pipeline.{CheckpointedRunner, GraftJob}
import graft.spatial.geom.Assembly
import graft.spatial.join.SpatialJoin
import graft.tiles.{ImageTable, Tiles}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbench.Internals

import scala.collection.mutable

/** One benchmark JVM.
  *
  *   Run <workload> <dataDir> <cores> <warmSeconds>
  *       <timed|scale|traced|selftest> <launchEpochMs> <resultFile>
  *
  * timed: set-up, one cold job, the workload's untimed warm-up jobs, then
  * warm jobs for `warmSeconds`; the last job's outputs are checked. scale:
  * the same with no warm-up and one warm job. traced: a
  * warm-up job, one untraced and one traced job, per-layer figures
  * (osm_buckets: then a resume). selftest: one job, then each check is run
  * on perturbed copies of its output and must fail. */
object Run {

  final class Ctx(val spark: SparkSession, val dir: String, val cores: Int,
      val tracer: Tracer) {
    val props: Map[String, String] = {
      val src = scala.io.Source.fromFile(s"$dir/truth.properties")
      try src.getLines().map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap
      finally src.close()
    }
    def long(k: String): Long = props(k).toLong
    val errors = mutable.ArrayBuffer.empty[String]
    def check(ok: Boolean, msg: => String): Unit = if (!ok && errors.size < 20) errors += msg
    /** Layer-specific figures the workload records itself. */
    val extra = mutable.HashMap.empty[String, Double]

    /** Runs `f` as a call into `layer`: its jobs carry the layer's job
      * group and its wall interval is recorded. */
    def span[T](layer: String)(f: => T): T = {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty("spark.jobGroup.id")
      sc.setJobGroup(layer, layer, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try f finally {
        val t1 = System.nanoTime()
        val l = tracer.layer(layer)
        l.synchronized(l.spans += ((t0, t1)))
        if (prev == null) sc.clearJobGroup() else sc.setJobGroup(prev, prev, interruptOnCancel = false)
      }
    }
  }

  /** Expected rollup of one tile. `sketch` is what an HLL++ sketch with
    * relative SD 0.05 (Spark's `approx_count_distinct`, the estimator the
    * rollup uses) reads over the tile's brute-force set of `src:id` keys. */
  final case class TileTruth(images: Long, hits: Long, distinct: Long, sketch: Long)

  /** The generator's per-tile rollup, (x, y) → truth. */
  def readTiles(spark: SparkSession, path: String): Map[(Int, Int), TileTruth] = {
    val src = scala.io.Source.fromFile(path)
    val lines = try src.getLines().map(_.split("\t", -1)).toVector finally src.close()
    import spark.implicits._
    val keys = lines.flatMap(f => f(5).split(',').filter(_.nonEmpty).map(k => (f(0).toInt, f(1).toInt, k)))
    val sketch = keys.toDF("x", "y", "k").groupBy("x", "y").agg(approx_count_distinct(col("k"), 0.05))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    lines.map { f =>
      val xy = (f(0).toInt, f(1).toInt)
      xy -> TileTruth(f(2).toLong, f(3).toLong, f(4).toLong, sketch.getOrElse(xy, 0L))
    }.toMap
  }

  /** Rollup rows (tile_z, tile_x, tile_y, n_images, n_hits, n_distinct_polys)
    * against the brute-force truth. The distinct count must equal the sketch
    * of the brute-force set exactly, so an off-by-one on a small count fails. */
  def checkRollup(ctx: Ctx, what: String, rows: Seq[(Int, Int, Int, Long, Long, Long)],
      truth: Map[(Int, Int), TileTruth]): Unit = {
    ctx.check(rows.size == truth.size, s"$what: ${rows.size} tiles, expected ${truth.size}")
    var hits = 0L
    rows.foreach { case (z, x, y, n, h, d) =>
      hits += h
      truth.get((x, y)) match {
        case None => ctx.check(false, s"$what: unexpected tile ($z,$x,$y)")
        case Some(t) =>
          ctx.check(z == 10, s"$what: tile ($x,$y) has zoom $z")
          ctx.check(n == t.images, s"$what: tile ($x,$y) n_images $n, expected ${t.images}")
          ctx.check(h == t.hits, s"$what: tile ($x,$y) n_hits $h, expected ${t.hits}")
          ctx.check(d == t.sketch, s"$what: tile ($x,$y) n_distinct_polys $d, expected ${t.sketch} " +
            s"(sketch of ${t.distinct} distinct polygons)")
      }
    }
    val expHits = truth.values.map(_.hits).sum
    ctx.check(hits == expHits, s"$what: total n_hits $hits, expected $expHits")
  }

  /** A perturbed copy of a rollup: its first tile's field `i` (4 n_images,
    * 5 n_hits, 6 n_distinct_polys) one higher. */
  def bumped(rows: Seq[(Int, Int, Int, Long, Long, Long)], i: Int): Seq[(Int, Int, Int, Long, Long, Long)] = {
    val h = rows.head
    (i match {
      case 4 => h.copy(_4 = h._4 + 1)
      case 5 => h.copy(_5 = h._5 + 1)
      case 6 => h.copy(_6 = h._6 + 1)
    }) +: rows.tail
  }

  def rollupRows(rows: Seq[Row]): Seq[(Int, Int, Int, Long, Long, Long)] = rows.map { r =>
    (r.getAs[Int]("tile_z"), r.getAs[Int]("tile_x"), r.getAs[Int]("tile_y"),
      r.getAs[Long]("n_images"), r.getAs[Long]("n_hits"), r.getAs[Long]("n_distinct_polys"))
  }

  /** Decoded polygons (src, id, ring count, bbox) against the generator's. */
  def checkPolygons(ctx: Ctx, polys: Seq[(String, Long, Int, Double, Double, Double, Double)]): Unit = {
    val src = scala.io.Source.fromFile(s"${ctx.dir}/polys.tsv")
    val truth = try src.getLines().map { l =>
      val f = l.split('\t')
      (f(0), f(1).toLong) -> (f(2).toInt, f(3).toDouble, f(4).toDouble, f(5).toDouble, f(6).toDouble)
    }.toMap finally src.close()
    ctx.check(polys.size == truth.size, s"polygons: ${polys.size}, expected ${truth.size}")
    polys.foreach { case (s, id, n, a, b, c, d) =>
      ctx.check(truth.get((s, id)).contains((n, a, b, c, d)),
        s"polygon $s/$id: rings=$n bbox=($a,$b,$c,$d), expected ${truth.get((s, id))}")
    }
  }

  def polygonRows(polys: DataFrame): Seq[(String, Long, Int, Double, Double, Double, Double)] =
    polys.select(col("src"), col("id"), size(col("rings")), col("bbox.min_lon"),
      col("bbox.min_lat"), col("bbox.max_lon"), col("bbox.max_lat")).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getDouble(3), r.getDouble(4),
        r.getDouble(5), r.getDouble(6)))

  /** Decoded element counts and checksums, by the generator's names. */
  def decodeFigures(ctx: Ctx, pbf: String): Seq[(String, Long)] = {
    val s = ctx.spark
    val n = OsmPbf.nodes(s, pbf).toDF()
      .agg(count(lit(1)), sum("id"), sum("lat_nd"), sum("lon_nd")).head()
    val w = OsmPbf.ways(s, pbf).toDF()
      .agg(count(lit(1)), sum("id"), sum(aggregate(col("refs"), lit(0L), (a, x) => a + x))).head()
    val r = OsmPbf.relations(s, pbf).toDF()
      .agg(count(lit(1)), sum("id"), sum(size(col("members")))).head()
    Seq(
      "nodes" -> n.getLong(0), "node_id_sum" -> n.getLong(1), "lat_nd_sum" -> n.getLong(2),
      "lon_nd_sum" -> n.getLong(3), "ways" -> w.getLong(0), "way_id_sum" -> w.getLong(1),
      "way_ref_sum" -> w.getLong(2), "relations" -> r.getLong(0), "rel_id_sum" -> r.getLong(1),
      "member_sum" -> r.getLong(2))
  }

  def checkDecode(ctx: Ctx, got: Seq[(String, Long)]): Unit =
    got.foreach { case (k, v) => ctx.check(v == ctx.long(k), s"decode $k=$v, expected ${ctx.long(k)}") }

  // ================================================================ workloads

  trait Workload {
    def rows: Long
    /** Untimed jobs between the cold job and the timed ones. Job walls keep
      * falling over a JVM's first jobs, and each JVM falls at its own pace,
      * so the timed jobs are taken where the slope has flattened. */
    def warmupJobs: Int
    /** Opens the inputs (part of set-up). */
    def open(): Unit
    /** One whole job; every output consumed. Returns its output for checks. */
    def job(traced: Boolean): AnyRef
    def check(out: AnyRef): Unit
    /** Per-job guard: the executed plans must hold the join that carries the work. */
    def guard(): Option[String]
    /** Checks run on perturbed copies of `out`; each must report an error. */
    def perturbations(out: AnyRef): Seq[(String, () => Unit)]
  }

  /** The north-rule job: PBF decode → Assembly.polygons → ImageTable.parity,
    * Tiles.assignPoints → salted pipJoin → GraftJob.tileRollup. */
  final class GraftImages(ctx: Ctx) extends Workload {
    import ctx.spark
    val pbf = s"${ctx.dir}/extract.osm.pbf"
    val rows: Long = ctx.long("rows")
    // one JVM's jobs after the cold one: 4.1, 3.3, 3.1, 2.9, 2.6, 2.5, then
    // 2.2–2.6 s; with four warm-ups the timed jobs of ten runs spread 23 %
    val warmupJobs = 6
    val centers: Seq[(Double, Double)] = ctx.props("centers").split(',').toSeq.map { s =>
      val Array(a, b) = s.split(':'); (a.toDouble, b.toDouble)
    }
    lazy val truth = readTiles(spark, s"${ctx.dir}/tiles.tsv")
    var images: DataFrame = _

    def open(): Unit = {
      val root = s"${ctx.dir}/images"
      images = ImageTable.loadSnapshot(spark, root, ImageTable.currentSnapshot(spark, root))
      OsmPbf.header(spark, pbf)
    }

    final case class Out(parity: (Long, Long, Double), rollup: Seq[(Int, Int, Int, Long, Long, Long)])

    private def parityAgg(df: DataFrame): (Long, Long, Double) = {
      val r = df.agg(count(lit(1)),
        count(when(col("psnr_db") >= 40.0 && col("caption_ok") && col("phash_ok"), lit(1))),
        min("psnr_db")).head()
      (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) 0.0 else r.getDouble(2))
    }

    def job(traced: Boolean): AnyRef = {
      val b = new Boundary(ctx, traced)
      val nodes = b("osmpbf")(OsmPbf.nodes(spark, pbf).toDF())
      val ways = b("osmpbf")(OsmPbf.ways(spark, pbf).toDF())
      val rels = b("osmpbf")(OsmPbf.relations(spark, pbf).toDF())
      val polys = b("geom")(Assembly.polygons(nodes, ways, rels))
      val parity = b.within("tiles")(parityAgg(ImageTable.parity(images, centers)))
      val points = images.select("image_id", "lon", "lat")
      val rollup =
        if (!traced) GraftJob.run(points, polys, z = 10, res = 12, mode = "salted").collect().toSeq
        else {
          // GraftJob.run's body (assignPoints → pipJoin → tileRollup) call by
          // call, with a forced boundary between the layers. The timed jobs
          // call GraftJob.run itself: a change to it has to be made here too,
          // or the per-layer figures stop describing the timed job.
          ctx.extra("tiles.images") = parity._1.toDouble
          val assigned = b("tiles")(Tiles.assignPoints(points, 10))
          val hits = b("join")(SpatialJoin.pipJoin(
            assigned.select("image_id", "lon", "lat", "tile", "tile_z", "tile_x", "tile_y"),
            polys, res = 12, mode = "salted"))
          b.within("pipeline") {
            val r = GraftJob.tileRollup(assigned, hits).collect().toSeq
            b.rowsOut("pipeline", r.size)
            r
          }
        }
      Out(parity, rollupRows(rollup))
    }

    def check(out: AnyRef): Unit = {
      val o = out.asInstanceOf[Out]
      val (n, ok, minPsnr) = o.parity
      ctx.check(n == rows, s"parity: $n rows, expected $rows")
      ctx.check(ok == rows, s"parity: ${rows - ok} rows fail PSNR/caption/phash")
      ctx.check(minPsnr >= 40.0, s"parity: min PSNR $minPsnr dB < 40")
      checkRollup(ctx, "rollup", o.rollup, truth)
    }

    def guard(): Option[String] =
      if (ctx.tracer.sawPipJoin) None else Some("no executed plan held the PIP join")

    def perturbations(out: AnyRef): Seq[(String, () => Unit)] = {
      val o = out.asInstanceOf[Out]
      Seq(
        "parity row failed" -> o.copy(parity = (o.parity._1, o.parity._2 - 1, o.parity._3)),
        "rollup tile dropped" -> o.copy(rollup = o.rollup.tail),
        "n_images off by one" -> o.copy(rollup = bumped(o.rollup, 4)),
        "n_hits off by one" -> o.copy(rollup = bumped(o.rollup, 5)),
        "n_distinct_polys off by one" -> o.copy(rollup = bumped(o.rollup, 6)))
        .map { case (name, p) => name -> (() => check(p)) }
    }
  }

  /** graft.pipeline.Main's path: PBF decode → Assembly.polygons (checkpointed)
    * → shared polygon cover → Tiles.assignPoints → CheckpointedRunner with a
    * salted pipJoin + GraftJob.tileRollup per bucket, parquet out. */
  final class OsmBuckets(ctx: Ctx) extends Workload {
    import ctx.spark
    val pbf = s"${ctx.dir}/extract.osm.pbf"
    val root = s"${ctx.dir}/points"
    val rows: Long = ctx.long("rows")
    val warmupJobs = 2
    lazy val truth = readTiles(spark, s"${ctx.dir}/tiles.tsv")
    val outDir: String = new java.io.File(s"${ctx.dir}/../../work/osm_buckets-${ProcessHandle.current().pid()}")
      .getCanonicalPath
    var snapshot = 0L
    var points: DataFrame = _
    var lastPolys: DataFrame = _
    var lastResults: Seq[CheckpointedRunner.BucketResult] = Nil

    def open(): Unit = {
      snapshot = ImageTable.currentSnapshot(spark, root)
      points = ImageTable.loadSnapshot(spark, root, snapshot)
      OsmPbf.header(spark, pbf)
    }

    private def wipe(): Unit = {
      val f = new java.io.File(outDir)
      if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
    }

    /** The Main path once, over whatever `outDir` holds. */
    private def pipeline(traced: Boolean): Seq[CheckpointedRunner.BucketResult] = {
      val b = new Boundary(ctx, traced)
      val nodes = b("osmpbf")(OsmPbf.nodes(spark, pbf).toDF())
      val ways = b("osmpbf")(OsmPbf.ways(spark, pbf).toDF())
      val rels = b("osmpbf")(OsmPbf.relations(spark, pbf).toDF())
      val polys = b("geom", programCheckpoints = true)(Assembly.polygons(nodes, ways, rels))
      lastPolys = polys
      val polyCells = b.within("join")(SpatialJoin.preparedPolygonCells(polys, 12).localCheckpoint())
      val tiled = Tiles.assignPoints(points.select("image_id", "lon", "lat"), 10)
      val lineage = s"images-snapshot=$snapshot pbf=$pbf z=10 res=12"
      val results = b.within("pipeline")(CheckpointedRunner.run(spark, tiled, outDir,
        slice => {
          val hits = b("join")(SpatialJoin.pipJoin(slice, polys,
            res = 12, mode = "salted", preparedCells = Some(polyCells)))
          // a bucket thread may not inherit the group; the rollup is pipeline work
          if (traced) spark.sparkContext.setJobGroup("pipeline", "pipeline", interruptOnCancel = false)
          GraftJob.tileRollup(slice, hits)
        },
        bucketRes = 2, lineage = lineage, parallelism = 4))
      b.rowsOut("pipeline", results.filterNot(_.skipped).map(_.rows).sum)
      lastResults = results
      results
    }

    def job(traced: Boolean): AnyRef = {
      wipe()
      pipeline(traced)
    }

    /** Buckets whose markers and outputs the resume loses: the largest plus
      * one more picked by a fixed seed, so that with three or more buckets
      * the resume also skips some. */
    def lostBuckets(results: Seq[CheckpointedRunner.BucketResult]): Seq[Long] = {
      val largest = results.maxBy(r => (r.rows, r.bucket)).bucket
      val rest = results.map(_.bucket).filterNot(_ == largest).sorted
      largest +: new scala.util.Random(42).shuffle(rest).take(1)
    }

    private var lost: Seq[Long] = Nil

    /** Loses the markers and outputs of [[lostBuckets]], then runs again. */
    def resume(): Seq[CheckpointedRunner.BucketResult] = {
      lost = lostBuckets(lastResults)
      lost.foreach { b =>
        new java.io.File(CheckpointedRunner.markerPath(outDir, b)).delete()
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$outDir/bucket=$b"))
      }
      pipeline(traced = false)
    }

    private def output(): Seq[(Int, Int, Int, Long, Long, Long)] =
      rollupRows(CheckpointedRunner.readOutput(spark, outDir).collect().toSeq)

    private var decodeChecked = false

    def check(out: AnyRef): Unit = {
      if (!decodeChecked) { checkDecode(ctx, decodeFigures(ctx, pbf)); decodeChecked = true }
      checkPolygons(ctx, polygonRows(lastPolys))
      checkRollup(ctx, "bucket output", output(), truth)
    }

    private def checkRerun(rerun: Seq[Long], expected: Seq[Long]): Unit =
      ctx.check(rerun.sorted == expected.sorted, s"resume re-ran buckets ${rerun.sorted}, expected ${expected.sorted}")

    def checkResume(res: Seq[CheckpointedRunner.BucketResult]): Unit = {
      checkRerun(res.filterNot(_.skipped).map(_.bucket), lost)
      checkRollup(ctx, "resumed output", output(), truth)
    }

    def guard(): Option[String] =
      if (ctx.tracer.sawPipJoin) None else Some("no executed plan held the PIP join")

    /** Perturbations of the program's outputs: a decode checksum, a lost
      * bucket output, a distinct count, a dropped polygon, a shifted bbox,
      * a resume that skipped a lost bucket. */
    def perturbations(out: AnyRef): Seq[(String, () => Unit)] = Seq(
      "decode checksum off by one" -> (() => checkDecode(ctx,
        decodeFigures(ctx, pbf).map { case (k, v) => k -> (if (k == "lon_nd_sum") v + 1 else v) })),
      "n_distinct_polys off by one" -> (() =>
        checkRollup(ctx, "perturbed output", bumped(output(), 6), truth)),
      "resume skipped a lost bucket" -> (() => {
        val lostNow = lostBuckets(lastResults)
        checkRerun(lostNow.tail, lostNow)
      }),
      "bucket output lost" -> (() => {
        val saved = new java.io.File(s"$outDir/bucket=${lostBuckets(lastResults).head}")
        val moved = new java.io.File(s"$outDir-lost-bucket")
        saved.renameTo(moved)
        try checkRollup(ctx, "perturbed output", output(), truth) finally moved.renameTo(saved)
      }),
      "polygon dropped" -> (() => checkPolygons(ctx, polygonRows(lastPolys).tail)),
      "bbox shifted" -> (() => checkPolygons(ctx, {
        val p = polygonRows(lastPolys); p.head.copy(_4 = p.head._4 + 1e-7) +: p.tail
      })))
  }

  /** SpatialJoin.knnJoin, k=2, res 8, maxRadius 16; the result is written to
    * the noop sink. */
  final class KnnPoi(ctx: Ctx) extends Workload {
    import ctx.spark
    val rows: Long = ctx.long("rows")
    // its jobs run 4–6 s, so two already cover as much of the slope as six
    // graft_images jobs; ten runs with two spread 10 %
    val warmupJobs = 2
    var points: DataFrame = _
    var pois: DataFrame = _
    lazy val truth: Map[Long, Seq[(Int, Long, Double)]] = {
      val src = scala.io.Source.fromFile(s"${ctx.dir}/knn.tsv")
      try src.getLines().map(_.split('\t')).toSeq
        .map(f => (f(0).toLong, (f(1).toInt, f(2).toLong, f(3).toDouble)))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sortBy(_._1) }
      finally src.close()
    }

    def open(): Unit = {
      points = spark.read.parquet(s"${ctx.dir}/points")
      pois = spark.read.parquet(s"${ctx.dir}/pois")
    }

    final case class Out(total: Long, sample: Map[Long, Seq[(Int, Long, Double)]])

    def job(traced: Boolean): AnyRef = {
      def run(): DataFrame = {
        val res = SpatialJoin.knnJoin(points, pois, k = 2, res = 8, maxRadius = 16)
        res.write.format("noop").mode("overwrite").save()
        res
      }
      val b = new Boundary(ctx, traced)
      val res = b.within("knn") {
        val r = run()
        b.rowsOut("knn", r.count())
        r
      }
      lastResult = res
      res
    }
    private var lastResult: DataFrame = _

    /** The row count and the sampled points' rows, in one pass over the
      * result (each pass recomputes the whole kNN join). */
    private def collectOut(res: DataFrame): Out = {
      val ids = truth.keySet.toSeq
      val r = res.agg(count(lit(1)), collect_list(when(col("pt_id").isin(ids: _*),
        struct(col("pt_id"), col("rank"), col("poi_id"), col("dist_m"))))).head()
      val sample = r.getSeq[Row](1)
        .map(x => (x.getLong(0), (x.getInt(1), x.getLong(2), x.getDouble(3))))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sortBy(_._1) }
      Out(r.getLong(0), sample)
    }

    def check(out: AnyRef): Unit = checkOut(collectOut(out.asInstanceOf[DataFrame]))

    private def checkOut(o: Out): Unit = {
      ctx.check(o.total == rows * 2, s"knn: ${o.total} rows, expected ${rows * 2}")
      truth.foreach { case (pt, exp) =>
        val got = o.sample.getOrElse(pt, Nil)
        ctx.check(got.size == exp.size, s"knn pt $pt: ${got.size} neighbours, expected ${exp.size}")
        got.zip(exp).foreach { case ((r, id, d), (er, eid, ed)) =>
          // an id may differ only where two expected distances tie
          val tie = exp.exists { case (_, i2, d2) => i2 == id && math.abs(d2 - ed) <= 1e-6 }
          ctx.check(r == er && math.abs(d - ed) <= 1e-6 && (id == eid || tie),
            s"knn pt $pt rank $r: poi $id at $d m, expected poi $eid at $ed m")
        }
      }
    }

    def guard(): Option[String] =
      if (ctx.tracer.sawKnnProbe) None else Some("no executed plan held the kNN probe join")

    def perturbations(out: AnyRef): Seq[(String, () => Unit)] = {
      val o = collectOut(out.asInstanceOf[DataFrame])
      val (pt, ns) = o.sample.head
      Seq(
        "row dropped" -> o.copy(total = o.total - 1),
        "neighbour swapped" -> o.copy(sample = o.sample.updated(pt,
          ns.map { case (r, id, d) => (r, id + 1, d) })),
        "distance off by 1 m" -> o.copy(sample = o.sample.updated(pt,
          ns.map { case (r, id, d) => (r, id, d + 1.0) })))
        .map { case (name, p) => name -> (() => checkOut(p)) }
    }
  }

  // ============================================================== helpers

  /** The layer boundaries of one job. Traced, a call into a layer runs
    * under the layer's job group ([[Ctx.span]]), and a DataFrame it returns
    * is checkpointed and counted, so that the layer's work is attributed to
    * it and not to the next. Untraced, they leave the program's calls as
    * they are. */
  final class Boundary(ctx: Ctx, traced: Boolean) {
    /** `programCheckpoints`: the program checkpoints `df` here itself, so it
      * is checkpointed untraced too. */
    def apply(layer: String, programCheckpoints: Boolean = false)(df: => DataFrame): DataFrame =
      if (traced) within(layer) {
        val d = df.localCheckpoint()
        rowsOut(layer, d.count())
        d
      } else if (programCheckpoints) df.localCheckpoint() else df

    def within[T](layer: String)(f: => T): T = if (traced) ctx.span(layer)(f) else f

    def rowsOut(layer: String, n: => Long): Unit = if (traced) {
      val l = ctx.tracer.layer(layer)
      val c = n
      l.synchronized(l.rowsOut += c)
    }
  }

  /** Drops every cache and checkpoint block so each job starts from its
    * inputs, as a fresh spark-submit would; a GC lets the context cleaner
    * release the previous job's broadcasts and shuffles. */
  def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** Candidate pairs a res-12 bbox-cover equi-join has to ray-cast: per
    * polygon, the points in each cell of its bbox cover. Spark's join
    * metrics cannot give this figure, because graft runs the ray-cast as
    * the join's condition and the join counts only the rows that pass it. */
  def candidatePairs(ctx: Ctx, points: DataFrame): Long = {
    def cell(e: org.apache.spark.sql.Column) =
      least(greatest(floor(e * 4096.0), lit(0L)), lit(4095L)).cast("int")
    val perCell = points
      .select(cell((col("lon") + 180.0) / 360.0).as("x"), cell((lit(90.0) - col("lat")) / 180.0).as("y"))
      .groupBy("x", "y").count().collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val src = scala.io.Source.fromFile(s"${ctx.dir}/polys.tsv")
    try src.getLines().map { l =>
      val f = l.split('\t')
      val (x0, x1) = (Geo.tileX(f(3).toDouble, 12), Geo.tileX(f(5).toDouble, 12))
      val (y0, y1) = (Geo.tileY(f(6).toDouble, 12), Geo.tileY(f(4).toDouble, 12))
      (for (x <- x0 to x1; y <- y0 to y1) yield perCell.getOrElse((x, y), 0L)).sum
    }.sum finally src.close()
  }

  // ================================================================ main

  val Layers = Seq("osmpbf", "geom", "tiles", "join", "knn", "pipeline")

  /** Every per-layer figure; a layer the workload does not call reads 0. */
  def layerFigures(ctx: Ctx, overheadS: Double): mutable.LinkedHashMap[String, Double] = {
    val t = ctx.tracer
    val j = mutable.LinkedHashMap.empty[String, Double]
    def l(name: String) = t.layers.getOrDefault(name, new LayerStats)
    Layers.foreach { name =>
      val s = l(name)
      val wall = s.wallS
      j ++= Seq(s"$name.wall_s" -> wall, s"$name.cpu_s" -> s.cpuNs / 1e9,
        s"$name.stages" -> s.stages.toDouble, s"$name.tasks" -> s.tasks.toDouble,
        s"$name.shuffle_mb" -> s.shuffleWriteBytes / 1048576.0,
        s"$name.rows_out" -> s.rowsOut.toDouble,
        s"$name.gap_s" -> (if (s.spans.isEmpty) 0.0 else wall - s.runMs / 1000.0 / ctx.cores))
    }
    val pbf = l("osmpbf")
    val cand = ctx.extra.getOrElse("join.candidates", 0.0)
    val hits = t.sqlCount("join.hits").toDouble
    j ++= Seq(
      "osmpbf.elements" -> pbf.rowsOut.toDouble,
      "osmpbf.elements_per_s" -> (if (pbf.spans.isEmpty) 0.0 else pbf.rowsOut / pbf.wallS),
      "osmpbf.read_mb" -> pbf.inputBytes / 1048576.0,
      "geom.polygons" -> l("geom").rowsOut.toDouble,
      "join.cover_cells" -> t.sqlCount("join.cover_cells").toDouble,
      "join.candidates" -> cand,
      "join.hits" -> hits,
      "join.acceptance" -> (if (cand > 0) hits / cand else 0.0),
      "join.hot_cells" -> t.sqlCount("join.hot_cells").toDouble,
      "join.task_skew" -> l("join").taskSkew,
      "knn.jobs" -> l("knn").jobs.toDouble,
      "knn.candidates" -> t.sqlCount("knn.candidates").toDouble,
      "pipeline.written_mb" -> l("pipeline").outputBytes / 1048576.0,
      "trace.overhead_s" -> overheadS)
    Seq("knn.stragglers", "tiles.images", "tiles.png_mb", "pipeline.buckets",
      "pipeline.bucket_max_s", "pipeline.resumed_buckets", "pipeline.resume_s")
      .foreach(k => j(k) = ctx.extra.getOrElse(k, 0.0))
    j
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, dir, coresS, warmS, mode, launchS, resultFile) = args
    val launchMs = launchS.toLong
    val cores = coresS.toInt
    val work = new java.io.File(s"$dir/../../work").getCanonicalPath
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    System.err.println(s"[setup] session ready ${System.currentTimeMillis() - launchMs} ms after launch")
    val tracer = new Tracer
    spark.sparkContext.addSparkListener(tracer)
    spark.listenerManager.register(tracer)
    val ctx = new Ctx(spark, dir, cores, tracer)
    val wl: Workload = workload match {
      case "graft_images" => new GraftImages(ctx)
      case "osm_buckets" => new OsmBuckets(ctx)
      case "knn_poi" => new KnnPoi(ctx)
    }
    wl.open()
    val setupS = (System.currentTimeMillis() - launchMs) / 1000.0

    var attempted = 0
    var failed = 0
    val peaks = mutable.ArrayBuffer.empty[Double] // per timed job, MiB

    /** One timed job: guard reset, storage window, wall clock. */
    def timed[T](f: => T): (Double, Option[T]) = {
      reset(spark)
      Internals.drainListeners(spark)
      tracer.resetGuard()
      attempted += 1
      tracer.resetStoragePeak()
      val t0 = System.nanoTime()
      val out = try Some(f) catch {
        case e: Throwable =>
          failed += 1
          ctx.errors += s"job failed: ${e.getClass.getName}: ${e.getMessage}".take(400)
          None
      }
      val wall = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[job] $attempted%d wall=$wall%.3f s")
      Internals.drainListeners(spark)
      peaks += tracer.storagePeak / 1048576.0
      if (out.isDefined) wl.guard().foreach(g => ctx.errors += s"full-consume guard: $g")
      (wall, out)
    }

    val json = mutable.LinkedHashMap[String, Any]("setup_s" -> setupS, "rows" -> wl.rows)
    mode match {
      case "timed" | "scale" =>
        val (cold, coldOut) = timed(wl.job(traced = false))
        // the JIT keeps speeding Spark's job-scheduling path up over the
        // first jobs of a JVM: a fixed number of them runs untimed, so every
        // run takes its warm figure at the same point of that slope ("scale"
        // matches the traced run: its second job is the warm one)
        var lastOut: Option[AnyRef] = coldOut
        for (_ <- 0 until (if (mode == "scale") 0 else wl.warmupJobs) if lastOut.isDefined)
          lastOut = timed(wl.job(traced = false))._2
        peaks.clear()
        val warm = mutable.ArrayBuffer.empty[Double]
        val w0 = System.nanoTime()
        while (lastOut.isDefined && (warm.isEmpty || System.nanoTime() - w0 < warmS.toDouble * 1e9)) {
          val (w, o) = timed(wl.job(traced = false))
          if (o.isDefined) warm += w
          lastOut = o
        }
        // the last job's outputs are checked (osm_buckets: its bucket
        // outputs, re-read from disk); one check per run, because a check
        // of knn_poi recomputes the whole join
        lastOut.foreach(wl.check)
        json ++= Seq("first_job_s" -> cold, "warm_s" -> warm.toSeq, "storage_peak_mb" -> peaks.toSeq)
      case "traced" =>
        timed(wl.job(traced = false)) // warm-up
        val (untraced, _) = timed(wl.job(traced = false))
        tracer.layers.clear()
        tracer.recording = true
        val (traced, out) = timed(wl.job(traced = true))
        Internals.drainListeners(spark)
        tracer.recording = false
        out.foreach(wl.check)
        wl match {
          case ob: OsmBuckets =>
            ctx.extra("join.candidates") = candidatePairs(ctx, ob.points).toDouble
            ctx.extra("pipeline.buckets") = ob.lastResults.size.toDouble
            ctx.extra("pipeline.bucket_max_s") = ob.lastResults.map(_.wallMs).max / 1000.0
            // the resume runs untraced, after the traced full run
            val (rw, ro) = timed(ob.resume())
            ro.foreach(ob.checkResume)
            ctx.extra("pipeline.resume_s") = rw
            ctx.extra("pipeline.resumed_buckets") = ob.lastResults.count(!_.skipped).toDouble
          case _: KnnPoi =>
            ctx.extra("knn.stragglers") = math.max(0L, SpatialJoin.lastKnnStragglerCount).toDouble
          case gi: GraftImages =>
            ctx.extra("join.candidates") = candidatePairs(ctx, gi.images).toDouble
            ctx.extra("tiles.png_mb") = gi.images.agg(sum(length(col("bytes")))).head().getLong(0) / 1048576.0
        }
        json ++= Seq("untraced_s" -> untraced, "traced_s" -> traced,
          "layers" -> layerFigures(ctx, traced - untraced))
      case "selftest" =>
        val (_, out) = timed(wl.job(traced = false))
        out.foreach(wl.check)
        val clean = ctx.errors.isEmpty
        val results = mutable.ArrayBuffer.empty[String]
        wl.perturbations(out.get).foreach { case (name, f) =>
          val before = ctx.errors.size
          f()
          results += s"$name: ${if (ctx.errors.size > before) "caught" else "MISSED"}"
          ctx.errors.remove(before, ctx.errors.size - before)
        }
        if (!clean) ctx.errors += "unperturbed output failed its checks"
        results.filter(_.endsWith("MISSED")).foreach(ctx.errors += _)
        json("selftest") = results.toSeq
    }
    json ++= Seq("attempted" -> attempted, "failed" -> failed, "errors" -> ctx.errors.toSeq)
    val w = new java.io.PrintWriter(resultFile)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    try w.println(mapper.writeValueAsString(json)) finally w.close()
    spark.stop()
  }

}

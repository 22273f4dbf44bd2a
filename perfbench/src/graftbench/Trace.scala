package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FilterExec, GenerateExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.graftbench.Internals
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.execution.QueryExecution

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer counters, attributed through the job group the benchmark sets
  * around each call into a layer. */
final class LayerStats {
  val spans = mutable.ArrayBuffer.empty[(Long, Long)] // call intervals on the calling threads, ns
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var rowsOut = 0L
  val stageRunMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  /** Length of the union of the call intervals (calls may run concurrently). */
  def wallS: Double = {
    var total = 0L; var end = Long.MinValue
    spans.sortBy(_._1).foreach { case (s, e) =>
      if (s >= end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total / 1e9
  }

  /** max ÷ median task run time in the layer's busiest stage. */
  def taskSkew: Double =
    if (stageRunMs.isEmpty) 0.0 else {
      val busiest = stageRunMs.values.maxBy(_.sum)
      val sorted = busiest.sorted
      val median = sorted(sorted.size / 2).toDouble
      sorted.last / math.max(median, 1.0)
    }
}

/** SparkListener + QueryExecutionListener. The listener side attributes
  * stage and task metrics to layers (job groups) while `recording` and
  * tracks cache/checkpoint storage; the query side reads the PIP/kNN join counters off each executed plan's SQL
  * metrics and remembers whether a plan with the PIP join or the kNN probe
  * join ran (the full-consume guard). */
final class Tracer extends SparkListener with QueryExecutionListener {
  @volatile var recording = false
  val layers = new ConcurrentHashMap[String, LayerStats]()
  private val stageLayer = new ConcurrentHashMap[Int, String]()

  def layer(name: String): LayerStats = layers.computeIfAbsent(name, _ => new LayerStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.foreach { g =>
      val l = layer(g)
      l.synchronized(l.jobs += 1)
      e.stageIds.foreach(stageLayer.put(_, g))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageLayer.get(e.stageInfo.stageId)).foreach { g =>
      val l = layer(g)
      l.synchronized { l.stages += 1; l.tasks += e.stageInfo.numTasks }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageLayer.get(e.stageId)).foreach { g =>
      val m = e.taskMetrics
      if (m != null) {
        val l = layer(g)
        l.synchronized {
          l.runMs += m.executorRunTime
          l.cpuNs += m.executorCpuTime
          l.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          l.inputBytes += m.inputMetrics.bytesRead
          l.outputBytes += m.outputMetrics.bytesWritten
          l.stageRunMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
        }
      }
    }

  // ---- cache and checkpoint blocks in storage memory, from block updates
  private val rddBlocks = mutable.HashMap.empty[String, Long]
  private var rddBytes = 0L
  private var rddPeak = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) synchronized {
      rddBytes += b.memSize - rddBlocks.getOrElse(b.blockId.name, 0L)
      if (b.memSize > 0) rddBlocks(b.blockId.name) = b.memSize else rddBlocks.remove(b.blockId.name)
      rddPeak = math.max(rddPeak, rddBytes)
    }
  }

  // dropping an RDD removes its blocks without a block update per block
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val prefix = s"rdd_${e.rddId}_"
    rddBlocks.keys.filter(_.startsWith(prefix)).toList.foreach(k => rddBytes -= rddBlocks.remove(k).get)
  }

  /** Opens a window for [[storagePeak]]. */
  def resetStoragePeak(): Unit = synchronized { rddPeak = rddBytes }
  /** High-water mark of cache + checkpoint bytes in memory since the reset. */
  def storagePeak: Long = synchronized(rddPeak)

  // ---- SQL metrics, keyed by metric id so a node seen twice counts once
  private val sqlCounts = new ConcurrentHashMap[Long, (String, Long)]()
  @volatile var sawPipJoin = false
  @volatile var sawKnnProbe = false

  private def keyNames(j: BaseJoinExec): Seq[String] =
    (j.leftKeys ++ j.rightKeys).flatMap(_.references.map(_.name))

  private def isPip(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
    e.exists(_.prettyName == "point_in_polygon")

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val nodes = Internals.nodes(qe.executedPlan).toVector
    def rows(p: org.apache.spark.sql.execution.SparkPlan): Option[(Long, Long)] =
      p.metrics.get("numOutputRows").map(m => (m.id, m.value))
    nodes.foreach {
      // the ray-cast runs as the cell equi-join's condition, so the join's
      // output rows are the PIP hits
      case j: BaseJoinExec if j.condition.exists(isPip) =>
        sawPipJoin = true
        if (recording) rows(j).foreach { case (id, v) => sqlCounts.put(id, ("join.hits", v)) }
      case f: FilterExec if f.condition.references.exists(_.name == "_n") =>
        if (recording) rows(f).foreach { case (id, v) => sqlCounts.put(id, ("join.hot_cells", v)) }
      case j: BaseJoinExec if j.joinType.toString == "Inner" && keyNames(j).contains("probe") =>
        sawKnnProbe = true
        if (recording) rows(j).foreach { case (id, v) => sqlCounts.put(id, ("knn.candidates", v)) }
      case g: GenerateExec if g.generatorOutput.exists(_.name == "cell") =>
        if (recording) rows(g).foreach { case (id, v) => sqlCounts.put(id, ("join.cover_cells", v)) }
      case _ =>
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def sqlCount(name: String): Long =
    sqlCounts.values().asScala.filter(_._1 == name).map(_._2).sum

  def resetGuard(): Unit = { sawPipJoin = false; sawKnnProbe = false }
}


package perfbench

import java.io.PrintWriter
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{PerfbenchBridge, Success}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The layers the traced run reports, named after the program's modules. */
object Layers {
  val All: Seq[String] = Seq("chunk", "functions", "canon", "link", "app.build",
    "materialize", "qa", "app.load", "app.ask", "operators.retrieval", "operators.dedup")

  /** Per-layer statistics, each with its unit. */
  val Stats: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "task_cpu_s" -> "s", "gc_s" -> "s",
    "shuffle_write_mb" -> "MB", "shuffle_read_mb" -> "MB", "spill_mb" -> "MB",
    "records_in" -> "count", "jobs" -> "count", "failed_tasks" -> "count")
}

/** Task totals of one job group. */
final class GroupTotals {
  var taskCpuS, gcS, shuffleWriteMb, shuffleReadMb, spillMb = 0.0
  var recordsIn, jobs, failedTasks = 0L
}

/** Sums task metrics per Spark job group. The tracer names each job group
  * after the layer whose call is running, so every job a layer call starts
  * (including broadcast and AQE sub-jobs, which inherit the group) is
  * charged to that layer.
  */
final class LayerListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val totals = new ConcurrentHashMap[String, GroupTotals]()

  private def of(group: String): GroupTotals =
    totals.computeIfAbsent(group, _ => new GroupTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.foreach { g =>
      e.stageIds.foreach(stageGroup.putIfAbsent(_, g))
      of(g).synchronized { of(g).jobs += 1 }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    if (g == null) return
    val t = of(g)
    val m = e.taskMetrics
    t.synchronized {
      if (e.reason != Success) t.failedTasks += 1
      if (m != null) {
        t.taskCpuS += m.executorCpuTime / 1e9
        t.gcS += m.jvmGCTime / 1e3
        t.shuffleWriteMb += m.shuffleWriteMetrics.bytesWritten / 1048576.0
        t.shuffleReadMb += m.shuffleReadMetrics.totalBytesRead / 1048576.0
        t.spillMb += (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0
        t.recordsIn += m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      }
    }
  }

  def get(group: String): GroupTotals = of(group)
}

/** One layer call: name, start, end, the span it ran under and its op id. */
final case class Span(id: Int, name: String, call: String, parent: Int, op: Int,
    startNs: Long, endNs: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Records spans in memory around calls into the program and sets the
  * Spark job group to the innermost span's layer, so the listener charges
  * the call's tasks to it. Spans are written out once, when the run ends.
  */
final class Tracer(spark: SparkSession) {
  val listener = new LayerListener
  spark.sparkContext.addSparkListener(listener)
  private val spans = ArrayBuffer[Span]()
  private var stack: List[Span] = Nil

  def span[T](layer: String, op: Int, call: String = "")(body: => T): T = {
    require(Layers.All.contains(layer), s"unknown layer $layer")
    val sc = spark.sparkContext
    val open = Span(spans.size, layer, call, stack.headOption.map(_.id).getOrElse(-1), op,
      System.nanoTime(), 0L)
    spans += open
    stack = open :: stack
    sc.setJobGroup(layer, if (call.isEmpty) layer else call)
    try body
    finally {
      spans(open.id) = open.copy(endNs = System.nanoTime())
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p.name, p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** A span's duration minus the part of it its child spans cover. */
  def selfS(s: Span): Double =
    s.wallS - spans.filter(_.parent == s.id).map(_.wallS).sum

  /** Sum of the top-level span walls of one op: the share of the op's wall
    * that some layer accounts for.
    */
  def coveredS(op: Int): Double = spans.filter(s => s.op == op && s.parent < 0).map(_.wallS).sum

  /** `<layer>.<stat>` for every layer, 0 for a layer this run did not call. */
  def layerMetrics(): Seq[Metric] = {
    PerfbenchBridge.drainListeners(spark.sparkContext)
    Layers.All.flatMap { layer =>
      val t = listener.get(layer)
      val self = spans.filter(_.name == layer).map(selfS).sum
      val values = Map(
        "wall_s" -> self, "task_cpu_s" -> t.taskCpuS, "gc_s" -> t.gcS,
        "shuffle_write_mb" -> t.shuffleWriteMb, "shuffle_read_mb" -> t.shuffleReadMb,
        "spill_mb" -> t.spillMb, "records_in" -> t.recordsIn.toDouble,
        "jobs" -> t.jobs.toDouble, "failed_tasks" -> t.failedTasks.toDouble)
      Layers.Stats.map { case (stat, unit) => Metric(s"$layer.$stat", values(stat), unit) }
    }
  }

  def write(path: String): Unit = {
    val out = new PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      out.println(Json.obj(Seq("id" -> s.id, "name" -> s.name, "call" -> s.call,
        "parent" -> s.parent, "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_s" -> selfS(s))))
    } finally out.close()
  }
}

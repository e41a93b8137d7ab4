package perfbench

import scala.collection.mutable
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{PerfbenchSql, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into each engine layer, plus Spark's
  * own task and SQL-operator metrics. Off by default: end-to-end metrics are
  * measured untraced, and a separate `--trace 1` run turns this on. Spans
  * and operator metrics are kept in memory and written out once, at exit. */
object Trace {

  final case class Span(id: Int, parent: Int, layer: String, name: String,
                        startNs: Long, endNs: Long)

  @volatile var enabled = false
  var runId = ""
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var started = 0
  private val t0 = System.nanoTime()

  /** Time `body` as one span of `layer`; nested calls record their parent. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      started += 1
      val id = started
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      val start = System.nanoTime()
      try body
      finally {
        open = open.tail
        spans += Span(id, parent, layer, name, start - t0, System.nanoTime() - t0)
      }
    }

  def spansJson: String = spans.sortBy(_.id).map { s =>
    s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"layer":"${s.layer}",""" +
      s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[\n", ",\n", "\n]\n")

  // ---- Spark task metrics ---------------------------------------------

  /** Per-task metrics, summed; task durations kept per stage. */
  final class TaskMetrics extends SparkListener {
    var runMs = 0L; var spillBytes = 0L; var peakExecBytes = 0L
    var shuffleWriteBytes = 0L
    val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    /** Per stage: shuffle bytes read and written. */
    val stageShuffle = mutable.Map.empty[Int, (Long, Long)]
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        runMs += m.executorRunTime
        spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        peakExecBytes = math.max(peakExecBytes, m.peakExecutionMemory)
        shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
        val (r, w) = stageShuffle.getOrElse(e.stageId, (0L, 0L))
        stageShuffle(e.stageId) = (r + m.shuffleReadMetrics.totalBytesRead, w + m.shuffleWriteMetrics.bytesWritten)
      }
    }
    def reset(): Unit = synchronized {
      runMs = 0; spillBytes = 0; peakExecBytes = 0; shuffleWriteBytes = 0
      stageTaskMs.clear(); stageShuffle.clear()
    }
    /** One line per stage: tasks, summed task time, max ÷ median task
      * time, shuffle bytes read and written. */
    def stageSummary: Seq[String] = synchronized {
      stageTaskMs.toSeq.sortBy(_._1).map { case (id, ts) =>
        val s = ts.sorted
        val (r, w) = stageShuffle.getOrElse(id, (0L, 0L))
        f"stage $id%d: ${s.size}%d tasks, ${s.sum}%d ms, max/median ${s.last.toDouble / math.max(1L, s(s.size / 2))}%.2f, " +
          s"shuffle read $r B, write $w B"
      }
    }
    /** max ÷ median task time of the reduce side of the largest exchange:
      * the multi-task stage that read the most shuffle bytes. 1 when no
      * such stage ran (a broadcast join has no reduce side). */
    def taskSkew: Double = synchronized {
      stageTaskMs.filter { case (id, ts) => ts.size > 1 && stageShuffle.get(id).exists(_._1 > 0) }
        .maxByOption { case (id, _) => stageShuffle(id)._1 }
        .map { case (_, ts) => ts.max / math.max(1.0, Util.median(ts.map(_.toDouble).toSeq)) }
        .getOrElse(1.0)
    }
  }

  // ---- SQL operator metrics ---------------------------------------------

  /** The executed plan's operators (through AQE stages) with their SQL
    * metric values, for every successful action. */
  final class PlanMetrics extends QueryExecutionListener {
    val actions = mutable.ArrayBuffer.empty[Seq[(String, Map[String, Long])]]
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized { actions += nodes(qe.executedPlan).map(p =>
        p.nodeName -> p.metrics.map { case (k, v) => k -> v.value }) }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    /** One JSON line per action: its operators with their metric values. */
    def json: String = synchronized {
      actions.map(_.filter(_._2.nonEmpty).map { case (node, ms) =>
        val vs = ms.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString(",")
        s"""{"run":"$runId","node":"$node","metrics":{$vs}}"""
      }.mkString("[", ",", "]")).mkString("", "\n", "\n")
    }
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  val tasks = new TaskMetrics
  val plans = new PlanMetrics

  /** Install both listeners on `spark`, check-then-add, so a session that
    * already carries them is left as it is. */
  def install(spark: SparkSession): Unit = {
    if (!PerfbenchBus.hasListener(spark.sparkContext, tasks)) spark.sparkContext.addSparkListener(tasks)
    if (!PerfbenchSql.has(spark, plans)) spark.listenerManager.register(plans)
  }

  def uninstall(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(tasks)
    spark.listenerManager.unregister(plans)
  }

  /** Block until every queued listener event has been delivered. */
  def drain(spark: SparkSession): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** Sum of the JVM heap pools' peak use (MB) since the last reset. */
  def peakHeapMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  }
  /** Total collection time (s) of the JVM's garbage collectors since it
    * started. */
  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1000.0
  }
  def resetPeakHeap(): Unit = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
  }
}

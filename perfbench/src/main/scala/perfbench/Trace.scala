package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.FileScanRDD
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Process-wide counters fed by the two listeners below. Spark builds the
  * listeners itself from the session config (`spark.extraListeners`,
  * `spark.sql.queryExecutionListeners`), so they reach the counters
  * through this object. They are registered in traced runs only.
  */
object Counters {
  val names: Seq[String] = Seq(
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
    "executor.run_ms", "shuffle.read_bytes", "shuffle.write_bytes",
    "shuffle.spill_bytes", "scan.bytes_read", "scan.files_read",
    "scan.files_total", "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms", "catalyst.queries", "jvm.gc_ms")
  private val values = names.map(_ -> new AtomicLong()).toMap

  def add(name: String, v: Long): Unit = { values(name).addAndGet(v); () }

  /** Current totals; the GC time is read from the JVM, which in local
    * mode runs the driver and every executor.
    */
  def snapshot(): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    values.map { case (k, v) => k -> v.get } + ("jvm.gc_ms" -> gc)
  }
}

class TaskListener extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = Counters.add("scheduler.jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Counters.add("scheduler.stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Counters.add("scheduler.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      Counters.add("executor.run_ms", m.executorRunTime)
      Counters.add("shuffle.read_bytes",
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      Counters.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
      Counters.add("shuffle.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      Counters.add("scan.bytes_read", m.inputMetrics.bytesRead)
    }
  }
}

class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      phases.get(p).foreach(s => Counters.add(s"catalyst.${p}_ms", s.durationMs))
    }
    Counters.add("catalyst.queries", 1)
    try scans(qe.executedPlan).foreach { s =>
      val read = s.inputRDDs().collect { case r: FileScanRDD =>
        r.filePartitions.flatMap(_.files.map(_.filePath.toString)).distinct.size
      }.sum
      Counters.add("scan.files_read", read.toLong)
      Counters.add("scan.files_total", s.relation.location.inputFiles.length.toLong)
    } catch { case _: Exception => () } // a plan shape we cannot walk: no scan counts
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** File scans of an executed plan, through adaptive stages. */
  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case s: FileSourceScanExec => Seq(s)
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case r: ReusedExchangeExec => Nil // its scans are counted where they ran
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }
}

/** One span: a call into a layer, with the listener counts it caused. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, endNs: Long, counts: Map[String, Long])

/** In-memory span recorder. Disabled, `span` just runs its body. Enabled,
  * it drains the listener bus and reads the counters at each boundary,
  * so each span carries the jobs, tasks, bytes and plan phases that
  * happened inside it. Spans stay in memory until the run writes them.
  */
final class Tracer(val enabled: Boolean, spark: => SparkSession) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  var op = 0
  /** Time spent draining the bus and reading counters: the recorder's own cost. */
  var bookkeepingNs = 0L

  /** Counter totals once every event sent so far has been counted. */
  def drainedCounts(): Map[String, Long] = counts()

  private def counts(): Map[String, Long] = {
    val t0 = System.nanoTime()
    PerfbenchBus.drain(spark.sparkContext)
    val c = Counters.snapshot()
    bookkeepingNs += System.nanoTime() - t0
    c
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val c0 = counts()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val c1 = counts()
        stack = stack.tail
        spans += Span(id, parent, op, name, t0, t1,
          c1.map { case (k, v) => k -> (v - c0.getOrElse(k, 0L)) })
      }
    }

  def seconds(s: Span): Double = (s.endNs - s.startNs) / 1e9

  /** Self time per layer: each span's duration less the part its child
    * spans cover, summed by the layer prefix of its name.
    */
  def selfSeconds(): Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.name.takeWhile(_ != '.')).map { case (layer, ss) =>
      layer -> ss.map(s => (s.endNs - s.startNs - childNs(s.id)) / 1e9).sum
    }
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
}

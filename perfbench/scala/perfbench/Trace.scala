package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.perfbench.BusSync
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `parent` is 0 for a root span. Times are epoch ms. */
final case class Span(id: Int, parent: Int, kind: String, name: String, startMs: Double, endMs: Double) {
  def toMap: Map[String, Any] =
    Map("id" -> id, "parent" -> parent, "kind" -> kind, "name" -> name,
      "start_ms" -> startMs, "end_ms" -> endMs)
}

/** Running sums the traced run reads before and after each measured step. */
final class Counters {
  val values: mutable.LinkedHashMap[String, Long] = mutable.LinkedHashMap(Counters.Names.map(_ -> 0L): _*)
  def add(name: String, v: Long): Unit = values(name) += v
  def snapshot: Map[String, Long] = values.toMap
}

object Counters {
  val Names: Seq[String] = Seq(
    "jobs", "stages", "tasks", "executor_cpu_ns", "gc_ms",
    "shuffle_write_bytes", "shuffle_records", "shuffle_fetch_wait_ms",
    "partial_agg_ms", "final_agg_ms", "fallback_tasks", "agg_spill_bytes", "scan_ms")

  def delta(after: Map[String, Long], before: Map[String, Long]): Map[String, Long] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
}

/** In-memory span recorder for the traced run: spans of the calling thread
  * (run, iteration, operation, direct library calls) come from [[span]];
  * Spark job and stage spans come from the listener, parented to the span
  * that was open when the job was submitted. SQL operator metrics are read from each
  * executed plan.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val ids = new AtomicInteger(0)
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  private val spans = mutable.ArrayBuffer[Span]()
  private var current = 0
  private val openJobs = mutable.Map[Int, (Int, Int, Double)]()
  private val stageParent = mutable.Map[Int, Int]()
  val counters = new Counters

  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  private def add(s: Span): Unit = synchronized { spans += s }

  def allSpans: Seq[Span] = synchronized { spans.toList }

  def span[A](kind: String, name: String)(body: => A): A = {
    val id = ids.incrementAndGet()
    val parent = current
    val start = nowMs
    current = id
    spark.sparkContext.setLocalProperty(Tracer.SpanKey, id.toString)
    try body
    finally {
      current = parent
      spark.sparkContext.setLocalProperty(Tracer.SpanKey, if (parent == 0) null else parent.toString)
      add(Span(id, parent, kind, name, start, nowMs))
    }
  }

  /** Counters after every event posted so far has been delivered. */
  def read(): Map[String, Long] = {
    BusSync.drain(spark.sparkContext)
    synchronized(counters.snapshot)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(0)
    val id = ids.incrementAndGet()
    openJobs(e.jobId) = (id, parent, e.time.toDouble)
    e.stageIds.foreach(s => stageParent.getOrElseUpdate(s, id))
    counters.add("jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach { case (id, parent, start) =>
      spans += Span(id, parent, "job", s"job ${e.jobId}", start, e.time.toDouble)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    counters.add("stages", 1)
    for (sub <- info.submissionTime; end <- info.completionTime)
      spans += Span(ids.incrementAndGet(), stageParent.getOrElse(info.stageId, 0), "stage",
        s"stage ${info.stageId}", sub.toDouble, end.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    counters.add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      counters.add("executor_cpu_ns", m.executorCpuTime)
      counters.add("gc_ms", m.jvmGCTime)
      counters.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      counters.add("shuffle_records", m.shuffleWriteMetrics.recordsWritten)
      counters.add("shuffle_fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
    }
  }

  /** Adds the SQL metrics of every executed query (collects and writes). */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized(PlanMetrics.addTo(counters, qe.executedPlan))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(queryListener)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** SQL metrics of the sketch aggregates and the parquet scan, read through
  * adaptive query stages.
  */
object PlanMetrics extends AdaptiveSparkPlanHelper {
  def addTo(c: Counters, plan: SparkPlan): Unit = foreach(plan) {
    case a: ObjectHashAggregateExec =>
      def m(name: String) = a.metrics.get(name).map(_.value).getOrElse(0L)
      val partial = a.aggregateExpressions.exists(_.mode == Partial)
      c.add(if (partial) "partial_agg_ms" else "final_agg_ms", m("aggTime"))
      c.add("fallback_tasks", m("numTasksFallBacked"))
      c.add("agg_spill_bytes", m("spillSize"))
    case s: FileSourceScanExec =>
      c.add("scan_ms", s.metrics.get("scanTime").map(_.value).getOrElse(0L))
    case _ =>
  }
}

package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.SparkInternals
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark task totals of one job group (one span, or "" outside spans). */
final class TaskTotals {
  var jobs = 0L
  var tasks = 0L
  var retries = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L

  def +=(o: TaskTotals): Unit = {
    jobs += o.jobs; tasks += o.tasks; retries += o.retries; runMs += o.runMs
    cpuNs += o.cpuNs; shuffleWriteBytes += o.shuffleWriteBytes
    fetchWaitMs += o.fetchWaitMs; spillBytes += o.spillBytes
  }
}

/** One physical plan node with its final SQL metrics. `childRows` holds,
  * per child, the output row count of the nearest node down that child's
  * single-child chain that counts rows: the rows this node consumed from
  * it when no row-changing node sits between them (-1 when unknown).
  */
final case class PlanNode(name: String, detail: String, metrics: Map[String, Long],
                          childRows: Seq[Long])

/** One finished query: the plan nodes, the `observe` counts, its job group. */
final case class QueryRec(executionId: Long, nodes: Seq[PlanNode],
                          observed: Map[String, Long], var group: String = "")

/** Both listeners the benchmark registers. The `SparkListener` half sums
  * task metrics per job group; the `QueryExecutionListener` half keeps
  * every executed plan's SQL metrics. Job-start events carry the job group
  * and the SQL execution id; the execution-end event names the execution
  * id of a `QueryExecution`; together they key each plan to its span.
  */
final class Telemetry extends SparkListener with QueryExecutionListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val execGroup = mutable.Map.empty[Long, String]
  private val totals = mutable.Map.empty[String, TaskTotals]
  private val queries = mutable.ArrayBuffer.empty[QueryRec]
  private val execIds = new java.util.IdentityHashMap[QueryExecution, java.lang.Long]
  private val recs = new java.util.IdentityHashMap[QueryExecution, QueryRec]

  private def totalsOf(g: String): TaskTotals = totals.getOrElseUpdate(g, new TaskTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => execGroup.getOrElseUpdate(id.toLong, group))
    e.stageIds.foreach(stageGroup.update(_, group))
    totalsOf(group).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = totalsOf(stageGroup.getOrElse(e.stageId, ""))
    t.tasks += 1
    if (e.taskInfo.attemptNumber > 0 || e.reason != Success) t.retries += 1
    Option(e.taskMetrics).foreach { m =>
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      t.spillBytes += m.diskBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      val qe = SparkInternals.queryExecution(end)
      if (qe != null) synchronized {
        Option(recs.remove(qe)) match {
          case Some(r) => queries += r.copy(executionId = end.executionId)
          case None => execIds.put(qe, end.executionId)
        }
      }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val nodes = Telemetry.planNodes(qe.executedPlan)
    val observed = qe.observedMetrics.map { case (k, row) => k -> row.getLong(0) }
    synchronized {
      Option(execIds.remove(qe)) match {
        case Some(id) => queries += QueryRec(id.longValue, nodes, observed)
        case None => recs.put(qe, QueryRec(-1L, nodes, observed))
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Task totals per job group, copied. */
  def groupTotals: Map[String, TaskTotals] = synchronized {
    totals.map { case (g, t) => val c = new TaskTotals; c += t; g -> c }.toMap
  }

  /** Finished queries with their job group filled in. */
  def queryRecs: Seq[QueryRec] = synchronized {
    queries.foreach(q => q.group = execGroup.getOrElse(q.executionId, q.group))
    queries.toList
  }

  def reset(): Unit = synchronized {
    stageGroup.clear(); execGroup.clear(); totals.clear(); queries.clear()
    execIds.clear(); recs.clear()
  }
}

object Telemetry {
  private def rowsOf(p: SparkPlan): Option[Long] = p.metrics.get("numOutputRows").map(_.value)

  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
    case s: QueryStageExec => unwrap(s.plan)
    case other => other
  }

  private def children(p: SparkPlan): Seq[SparkPlan] = (p.children ++ p.subqueries).map(unwrap)

  /** First row count found walking down a single-child chain from `c`. */
  private def rowsDown(c: SparkPlan): Long = rowsOf(c).getOrElse(children(c) match {
    case Seq(only) => rowsDown(only)
    case _ => -1L
  })

  def planNodes(root: SparkPlan): Seq[PlanNode] = {
    val out = mutable.ArrayBuffer.empty[PlanNode]
    def walk(p0: SparkPlan): Unit = {
      val p = unwrap(p0)
      out += PlanNode(p.nodeName, p.simpleString(100), p.metrics.map { case (k, m) => k -> m.value },
        children(p).map(rowsDown))
      children(p).foreach(walk)
    }
    walk(root)
    out.toList
  }
}

/** A timed interval around one call into a layer. `layerNs` is the
  * layer's own time: the span's duration, less the input materialization
  * for lazy calls.
  */
final case class Span(id: Int, name: String, parent: Int, run: String, startNs: Long) {
  var endNs: Long = startNs
  var inputNs: Long = 0L
  var gcMs: Long = 0L
  var jitMs: Long = 0L
  def durNs: Long = endNs - startNs
  def layerNs: Long = math.max(0L, durNs - inputNs)
}

/** Spans of the traced pass. When `enabled` is false every method is a
  * plain call, so the untraced pass runs the same code with no spans, no
  * job groups and no extra materialization.
  */
final class Tracer(spark: SparkSession, val telemetry: Telemetry, val runId: String) {
  var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private val sc = spark.sparkContext

  private def setGroup(s: Option[Span]): Unit = s match {
    case Some(p) => sc.setJobGroup(s"pb-${p.id}", p.name, interruptOnCancel = false)
    case None => sc.clearJobGroup()
  }

  /** Run `body` inside a span named `name` (an eager call). */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size + 1, name, stack.headOption.map(_.id).getOrElse(0), runId,
        System.nanoTime())
      val (gc0, jit0) = (Tracer.gcMs, Tracer.jitMs)
      spans += s
      stack = s :: stack
      setGroup(Some(s))
      try body
      finally {
        s.endNs = System.nanoTime()
        s.gcMs = Tracer.gcMs - gc0
        s.jitMs = Tracer.jitMs - jit0
        stack = stack.tail
        setGroup(stack.headOption)
      }
    }

  /** A call that returns a lazy DataFrame. Traced, the call's output is
    * materialized with a `noop` write inside the span (in a child span
    * `trace.output:<name>`, so job counts can leave it out), and the time
    * to materialize `input` (measured first, in its own span) is taken off
    * the layer's time.
    */
  def lazyCall(name: String, input: => DataFrame)(call: => DataFrame): DataFrame =
    if (!enabled) call
    else {
      val in = span(s"trace.input:$name")(Tracer.timeNoop(input, s"in-$name"))
      span(name) {
        stack.head.inputNs = in
        val out = call
        span(s"trace.output:$name")(Tracer.noop(out, s"out-$name"))
        out
      }
    }

  def reset(): Unit = { spans.clear(); stack = Nil }
}

object Tracer {
  private var seq = 0

  /** Milliseconds this JVM has spent in GC, and compiling with the JIT. */
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Materialize every column of `df` with Spark's `noop` sink, counting
    * the rows through an `observe` named `tag`.
    */
  def noop(df: DataFrame, tag: String): Unit = {
    seq += 1
    df.observe(s"$tag#$seq", count(lit(1)).as("rows"))
      .write.format("noop").mode("overwrite").save()
  }

  def timeNoop(df: DataFrame, tag: String): Long = {
    val t0 = System.nanoTime()
    noop(df, tag)
    System.nanoTime() - t0
  }
}

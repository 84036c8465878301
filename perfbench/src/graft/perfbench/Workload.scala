package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed op: its kind, wall time, and the failure if it threw. */
final case class OpRec(kind: String, wallNs: Long, error: Option[String]) {
  def ok: Boolean = error.isEmpty
}

/** Runs each timed op inside its own try, so one failure is counted and
  * reported and the run goes on.
  */
final class Ops {
  val recs = mutable.ArrayBuffer.empty[OpRec]

  def run[T](kind: String)(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    try {
      val r = body
      recs += OpRec(kind, System.nanoTime() - t0, None)
      Some(r)
    } catch {
      case NonFatal(e) =>
        System.err.println(s"perfbench: op $kind failed")
        e.printStackTrace()
        recs += OpRec(kind, System.nanoTime() - t0,
          Some(s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}"))
        None
    }
  }

  def wallNs: Long = recs.map(_.wallNs).sum
}

/** What a workload needs from the run: the session, its seed, sizes, the
  * tracer, and a private working directory inside the checkout.
  */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
                val sizes: Map[String, Double], val tracer: Tracer) {
  def size(key: String): Long =
    sizes.getOrElse(key, throw new IllegalArgumentException(s"missing size '$key'")).toLong
  def param(key: String): Double =
    sizes.getOrElse(key, throw new IllegalArgumentException(s"missing size '$key'"))
  def path(parts: String*): String = parts.foldLeft(work)(_.resolve(_)).toString
}

/** Result of one timed pass. `items` is the workload's unit of work (rows
  * committed, documents curated, queries answered); `opWalls` are the wall
  * times of its repeated op (an export round, an incremental sync, a
  * pipeline run, a query batch), in seconds.
  */
final case class Pass(ops: Ops, items: Long, opWalls: Seq[Double], rounds: Int,
                      info: Map[String, Any] = Map.empty)

trait Workload {
  def name: String

  /** Write the seeded inputs under `dir`, scaled by `scale`. */
  def generate(c: Ctx, dir: String, scale: Double): Unit

  /** Run the timed phase over inputs in `in`, writing outputs under `out`.
    * Untraced passes repeat rounds until `deadlineNs` (at least one); a
    * traced pass replays exactly `rounds` rounds.
    */
  def timed(c: Ctx, in: String, out: String, deadlineNs: Long, rounds: Option[Int]): Pass

  /** Correctness checks over a pass's outputs; returns the failures. */
  def check(c: Ctx, in: String, out: String, p: Pass): Seq[String]

  /** A fingerprint of every output a pass leaves, by name: the content
    * checksum of each sink, the result string the orchestrator gets back,
    * the search recall. Two passes over the same rounds must agree on all.
    */
  def outputs(c: Ctx, in: String, out: String, p: Pass): Map[String, String]

  /** The workload's own named metrics (value, unit), for the artifact. */
  def namedMetrics(c: Ctx, in: String, out: String, p: Pass): Map[String, (Double, String)]

  /** Per-layer metrics from a traced pass. */
  def layerMetrics(v: TraceView, p: Pass): Map[String, Double]
}

object Workload {
  /** Run `round(i)` for i = 0, 1, …: exactly `rounds` times when given,
    * else until `deadlineNs` passes (at least once, at most `maxRounds`).
    */
  def loopUntil(deadlineNs: Long, rounds: Option[Int], maxRounds: Int)(round: Int => Unit): Int = {
    var i = 0
    def more: Boolean = rounds match {
      case Some(n) => i < n
      case None => i < maxRounds && (i == 0 || System.nanoTime() < deadlineNs)
    }
    while (more) { round(i); i += 1 }
    i
  }

  /** Materialize every column of an operator's output that has no sink. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))

  def copyTree(src: Path, dst: Path): Unit =
    Files.walk(src).iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }

  /** Data files (not `_SUCCESS`, not hidden) under `dir`, recursively. */
  def dataFiles(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(f => f.getFileName.toString.startsWith("_") ||
        f.getFileName.toString.startsWith(".")).toList
  }

  def bytesUnder(dir: String): Long = dataFiles(dir).map(Files.size).sum

  /** A [[checksum]] as one string. */
  def digest(t: (Long, Long, Long)): String = s"${t._1}:${t._2}:${t._3}"

  /** (n_rows, checksum, checksum_add) of a frame's content. */
  def checksum(df: DataFrame): (Long, Long, Long) = {
    val r = graft.operators.RowHash.contentChecksum(df).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** p50 and p90 of op walls, p90 only with at least ten samples beyond. */
  def latency(prefix: String, xs: Seq[Double]): Map[String, (Double, String)] =
    Map(s"${prefix}_p50_s" -> (quantile(xs, 0.5), "s"), s"${prefix}_n" -> (xs.size.toDouble, "count")) ++
      (if (xs.size >= 100) Map(s"${prefix}_p90_s" -> (quantile(xs, 0.9), "s")) else Map.empty)
}

/** Read-only view of a traced pass: spans, task totals per span, and
  * queries per span. Totals and queries of a span include its children.
  */
final class TraceView(val spans: Seq[Span], totals: Map[String, TaskTotals],
                      queries: Seq[QueryRec]) {
  private val kids: Map[Int, Seq[Span]] = spans.groupBy(_.parent)
  private val byGroup: Map[String, Seq[QueryRec]] = queries.groupBy(_.group)

  def named(n: String): Seq[Span] = spans.filter(_.name == n)

  def subtree(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(subtree)

  def tasks(ss: Seq[Span]): TaskTotals = {
    val t = new TaskTotals
    ss.flatMap(subtree).distinct.foreach(x => totals.get(s"pb-${x.id}").foreach(t += _))
    t
  }

  def queriesOf(ss: Seq[Span]): Seq[QueryRec] =
    ss.flatMap(subtree).distinct.flatMap(x => byGroup.getOrElse(s"pb-${x.id}", Nil))

  /** Mean layer time per call of spans named `n`, seconds; NaN without
    * such spans, so a missing span reads as missing, not as no work.
    */
  def perCall(n: String): Double = {
    val ss = named(n)
    if (ss.isEmpty) Double.NaN else ss.map(_.layerNs).sum / 1e9 / ss.size
  }

  /** Mean self time per call: duration less the union of child intervals. */
  def selfPerCall(n: String): Double = {
    val ss = named(n)
    if (ss.isEmpty) Double.NaN
    else ss.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)).sortBy(_._1)
      var covered = 0L
      var (lo, hi) = (Long.MinValue, Long.MinValue)
      iv.foreach { case (a, b) =>
        if (a > hi) { if (hi > lo) covered += hi - lo; lo = a; hi = b }
        else hi = math.max(hi, b)
      }
      if (hi > lo) covered += hi - lo
      (s.durNs - covered) / 1e9
    }.sum / ss.size
  }

  private def observed(ss: Seq[Span], tag: String): Double = {
    val counts = queriesOf(ss).flatMap(_.observed.filter(_._1.startsWith(tag)).values)
    if (counts.isEmpty) Double.NaN else counts.sum.toDouble
  }

  /** Rows counted by the `observe` on the output materialized in spans `n`
    * (NaN when none was).
    */
  def outRows(n: String): Double = observed(named(n), s"out-$n#")

  /** Rows counted on the input materialized for spans `n` (NaN when none was). */
  def inRows(n: String): Double = observed(named(s"trace.input:$n"), s"in-$n#")

  def nodes(ss: Seq[Span], pred: PlanNode => Boolean): Seq[PlanNode] =
    queriesOf(ss).flatMap(_.nodes).filter(pred)

  def metricSum(ss: Seq[Span], pred: PlanNode => Boolean, key: String): Long =
    nodes(ss, pred).flatMap(_.metrics.get(key)).sum

  /** Spark jobs of spans `n` and their children, less the tracer's own
    * (`trace.*` spans: materializing a lazy call's output).
    */
  def jobs(n: String): Long =
    named(n).flatMap(subtree).distinct.filterNot(_.name.startsWith("trace."))
      .flatMap(x => totals.get(s"pb-${x.id}")).map(_.jobs).sum
}

object TraceView {
  val isScan: PlanNode => Boolean = _.name.startsWith("Scan ")
  val isWrite: PlanNode => Boolean = n =>
    n.name == "Execute InsertIntoHadoopFsRelationCommand" || n.metrics.contains("numOutputBytes")
}

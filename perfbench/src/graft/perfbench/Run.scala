package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in its own JVM: set-up (session start, the seeded
  * inputs, one discarded warm-up round on them), the timed phase, the
  * correctness checks, and with `--trace 1` a traced replay of the same
  * rounds, whose outputs must equal the timed phase's. Writes the full
  * artifact and the one-line result to the paths it is given.
  *
  * Options: `--workload`, `--seed`, `--seconds`, `--trace 0|1`, `--work
  * <dir>`, `--artifact <file>`, `--result <file>`, `--master`, `--size
  * key=value` (repeatable), `--mode run|inputs` (`inputs` only generates
  * the inputs and writes their checksums to the result file).
  */
object Run {
  val Workloads: Map[String, Workload] =
    Seq(TableSync, LlmCurate).map(w => w.name -> w).toMap

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, artifact: Path, result: Path, master: String,
                        sizes: Map[String, Double], mode: String)

  def parse(argv: Array[String]): Opts = {
    val pairs = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toSeq
    def one(k: String) = pairs.collectFirst { case (`k`, v) => v }
      .getOrElse(throw new IllegalArgumentException(s"missing --$k"))
    val sizes = pairs.collect { case ("size", kv) =>
      val Array(k, v) = kv.split("=", 2); k -> v.toDouble }.toMap
    Opts(one("workload"), one("seed").toLong, one("seconds").toDouble, one("trace") == "1",
      Paths.get(one("work")), Paths.get(one("artifact")), Paths.get(one("result")), one("master"),
      sizes, pairs.collectFirst { case ("mode", v) => v }.getOrElse("run"))
  }

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  private def median(xs: Seq[Double]): Double = Workload.quantile(xs, 0.5)

  /** Host-speed probe: a fixed integer loop on every core, outside Spark
    * and the engine. On a shared machine its wall time follows the share
    * of the CPUs the run gets; the timed metrics are scaled by it (see
    * `canary_ref_s`). Callers quiesce the JVM first ([[quiesce]]), so work
    * the run left behind does not share the CPUs with it.
    */
  private def canaryS(cores: Int, iterations: Long): Double = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    try {
      val t0 = System.nanoTime()
      val jobs = (0 until cores).map { i =>
        pool.submit(new java.util.concurrent.Callable[java.lang.Long] {
          def call(): java.lang.Long = {
            var x = 88172645463325252L + i
            var k = 0L
            while (k < iterations) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; k += 1 }
            x
          }
        })
      }
      jobs.foreach(_.get())
      (System.nanoTime() - t0) / 1e9
    } finally pool.shutdown()
  }

  /** Wait until the JIT compilers have been idle for a moment (at most
    * `maxS` seconds), so the compile backlog of earlier work does not share
    * the CPUs with what follows. Returns the seconds waited.
    */
  private def settleJit(maxS: Double): Double = {
    val t0 = System.nanoTime()
    var before = Tracer.jitMs
    var idle = false
    while (!idle && System.nanoTime() - t0 < maxS * 1e9) {
      Thread.sleep(200)
      val now = Tracer.jitMs
      idle = now - before < 10
      before = now
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Deliver every pending listener event (the benchmark's own listeners
    * included), collect the garbage the run left, let the JIT settle, and
    * run one short discarded probe (the first probe after this was
    * consistently ~10% slower than the next).
    */
  private def quiesce(spark: SparkSession, cores: Int, iterations: Long): Unit = {
    org.apache.spark.sql.perfbench.SparkInternals.drain(spark.sparkContext)
    System.gc()
    settleJit(5.0)
    canaryS(cores, iterations / 4)
  }

  /** Content checksum of every parquet dataset under `dir`. */
  private def inputChecksums(spark: SparkSession, dir: Path): Map[String, String] =
    Files.walk(dir).iterator().asScala.filter(Files.isDirectory(_))
      .filter(d => Files.list(d).iterator().asScala.exists(f =>
        f.getFileName.toString.endsWith(".parquet") && Files.isRegularFile(f)))
      .map { d =>
        dir.relativize(d).toString -> Workload.digest(Workload.checksum(spark.read.parquet(d.toString)))
      }.toMap

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    val w = Workloads.getOrElse(o.workload,
      throw new IllegalArgumentException(s"unknown workload ${o.workload}"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.Engine.session(o.master)
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val telemetry = new Telemetry
    spark.sparkContext.addSparkListener(telemetry)
    spark.listenerManager.register(telemetry)
    val tracer = new Tracer(spark, telemetry, s"${o.workload}-${o.seed}")
    val c = new Ctx(spark, o.work, o.seed, o.sizes, tracer)
    try {
      o.mode match {
        case "inputs" =>
          w.generate(c, c.path("inputs"), o.sizes.getOrElse("scale", 1.0))
          Json.writeAtomic(o.result, Json.render(inputChecksums(spark, o.work.resolve("inputs"))))
        case _ => runBench(o, w, c, sessionS)
      }
    } finally spark.stop()
  }

  private def runBench(o: Opts, w: Workload, c: Ctx, sessionS: Double): Unit = {
    val spark = c.spark
    val scale = o.sizes.getOrElse("scale", 1.0)
    // Set-up: the seeded inputs, then one discarded warm-up round of the
    // op mix on them, where cold codegen and JIT land; it ends when the JIT
    // compilers have caught up with it.
    val in = c.path("in")
    val tGen = System.nanoTime()
    w.generate(c, in, scale)
    val genS = (System.nanoTime() - tGen) / 1e9
    val t0 = System.nanoTime()
    w.timed(c, in, c.path("warm-out"), 0L, Some(1))
    val settleS = settleJit(15.0)
    val warmS = (System.nanoTime() - t0) / 1e9
    Workload.deleteTree(o.work.resolve("warm-out"))
    val setupS = sessionS + genS + warmS

    val cores = spark.sparkContext.defaultParallelism
    val iterations = o.sizes.getOrElse("canary_iterations", 3e8).toLong
    canaryS(cores, iterations / 10) // compiles the loop
    quiesce(spark, cores, iterations)
    val canaryBefore = Seq.fill(2)(canaryS(cores, iterations))

    c.tracer.telemetry.reset()
    val (jit0, gc0) = (Tracer.jitMs, Tracer.gcMs)
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    val pass = w.timed(c, in, c.path("out"), deadline, None)
    val timedS = (System.nanoTime() - deadline) / 1e9 + o.seconds
    val (timedJitS, timedGcS) = ((Tracer.jitMs - jit0) / 1e3, (Tracer.gcMs - gc0) / 1e3)
    quiesce(spark, cores, iterations)
    val canary = canaryBefore ++ Seq.fill(2)(canaryS(cores, iterations))
    // > 1 when the run got less of the machine than the reference run did.
    val slowdown = median(canary) / o.sizes.getOrElse("canary_ref_s", median(canary))
    val cpuS = c.tracer.telemetry.groupTotals.values.map(_.cpuNs).sum / 1e9
    val wallS = pass.ops.wallNs / 1e9
    val tCheck = System.nanoTime()
    var failures = w.check(c, in, c.path("out"), pass)
    val named = w.namedMetrics(c, in, c.path("out"), pass)
    val checkS = (System.nanoTime() - tCheck) / 1e9
    // Times are scaled to the reference host speed; raw values stay in the
    // artifact.
    val raw = Map(
      "setup_s" -> (setupS, "s"),
      "items_per_s" -> (pass.items / wallS, "1/s"),
      "round_p50_s" -> (median(pass.opWalls), "s"))
    val e2e = Map(
      "setup_s" -> (setupS / slowdown, "s"),
      "items_per_s" -> (pass.items / wallS * slowdown, "1/s"),
      "round_p50_s" -> (median(pass.opWalls) / slowdown, "s"),
      "cpu_ms_per_item" -> (cpuS * 1e3 / math.max(1L, pass.items), "ms"),
      "peak_rss_mb" -> (peakRssMb, "MB"))

    var layers = Map.empty[String, Double]
    var spans = Seq.empty[Map[String, Any]]
    var tracedOps = Seq.empty[OpRec]
    if (o.trace) {
      c.tracer.telemetry.reset()
      c.tracer.reset()
      c.tracer.enabled = true
      val traced = try w.timed(c, in, c.path("out-traced"), 0L, Some(pass.rounds))
                   finally c.tracer.enabled = false
      org.apache.spark.sql.perfbench.SparkInternals.drain(spark.sparkContext)
      val view = new TraceView(c.tracer.spans.toList, c.tracer.telemetry.groupTotals,
        c.tracer.telemetry.queryRecs)
      layers = w.layerMetrics(view, traced) ++ Layers.runtime(view) ++
        Map("trace.overhead_s" -> (traced.ops.wallNs - pass.ops.wallNs) / 1e9)
      spans = Layers.perSpan(view)
      tracedOps = traced.ops.recs.toSeq
      failures ++= w.check(c, in, c.path("out-traced"), traced).map("traced: " + _)
      // The traced pass replays the same rounds on the same inputs, so it
      // must leave exactly the timed phase's outputs.
      val (want, got) = (w.outputs(c, in, c.path("out"), pass), w.outputs(c, in, c.path("out-traced"), traced))
      failures ++= (want.keySet ++ got.keySet).toSeq.sorted.filter(k => want.get(k) != got.get(k))
        .map(k => s"traced output $k differs: ${got.get(k)} != ${want.get(k)}")
    }

    val ops = pass.ops.recs.toSeq ++ tracedOps
    val attempted = ops.size
    val failed = ops.count(!_.ok)
    val correct = failures.isEmpty && failed == 0
    val metrics = if (o.trace) layers.map { case (k, v) => k -> (v, "") } else e2e
    Json.writeAtomic(o.artifact, Json.render(Map(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
      "master" -> o.master, "sizes" -> o.sizes, "correct" -> correct, "failures" -> failures,
      "attempted" -> attempted, "failed" -> failed,
      "failed_ratio" -> failed.toDouble / math.max(1, attempted),
      "errors" -> ops.flatMap(r => r.error.map(e => Map("op" -> r.kind, "error" -> e))),
      "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "end_to_end_raw" -> raw.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "canary_s" -> canary, "slowdown" -> slowdown,
      "workload_metrics" -> named.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "setup" -> Map("session_s" -> sessionS, "warmup_s" -> warmS, "jit_settle_s" -> settleS,
        "generate_s" -> genS),
      "timed_phase_s" -> timedS, "timed_jit_s" -> timedJitS, "timed_gc_s" -> timedGcS, "check_s" -> checkS,
      "task_cpu_s" -> cpuS, "timed_wall_s" -> wallS, "rounds" -> pass.rounds, "items" -> pass.items,
      "ops" -> pass.ops.recs.map(r => Map("kind" -> r.kind, "wall_s" -> r.wallNs / 1e9, "ok" -> r.ok)),
      "per_layer" -> layers, "spans" -> spans)))
    Json.writeAtomic(o.result, Json.render(Map(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "workload_metrics" -> named.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "failures" -> failures.take(5))))
  }
}

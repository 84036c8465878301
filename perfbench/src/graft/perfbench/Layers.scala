package graft.perfbench

/** Per-layer metrics shared by several workloads. */
object Layers {
  private def per(x: Double, n: Int): Double = x / math.max(1, n)

  /** `FileSink.write` spans: time and the write command's metrics, per call. */
  def sinkWrites(v: TraceView): Map[String, Double] = {
    val ws = v.named("FileSink.write")
    def m(key: String) = per(v.metricSum(ws, TraceView.isWrite, key), ws.size)
    Map(
      "FileSink.write_s" -> v.perCall("FileSink.write"),
      "FileSink.rows_written" -> m("numOutputRows"),
      "FileSink.bytes_written" -> m("numOutputBytes"),
      "FileSink.files_written" -> m("numFiles"))
  }

  /** Table scans of the export query itself (the scan under each sync's
    * `FileSink.write`), per sync.
    */
  def scans(v: TraceView): Map[String, Double] = {
    val ws = v.named("FileSink.write")
    val n = v.named("Main.run").size
    Map(
      "Tables.scan_bytes" -> per(v.metricSum(ws, TraceView.isScan, "filesSize"), n),
      "Tables.scan_rows" -> per(v.metricSum(ws, TraceView.isScan, "numOutputRows"), n),
      "Tables.scan_files" -> per(v.metricSum(ws, TraceView.isScan, "numFiles"), n))
  }

  /** Spark runtime totals of a traced pass. */
  def runtime(v: TraceView): Map[String, Double] = {
    val top = v.spans.filter(_.parent == 0)
    val t = v.tasks(top)
    Map(
      "spark.jobs" -> t.jobs.toDouble,
      "spark.tasks" -> t.tasks.toDouble,
      "spark.task_retries" -> t.retries.toDouble,
      "spark.executor_run_s" -> t.runMs / 1e3,
      "spark.task_cpu_s" -> t.cpuNs / 1e9,
      "spark.shuffle_write_bytes" -> t.shuffleWriteBytes.toDouble,
      "spark.shuffle_fetch_wait_s" -> t.fetchWaitMs / 1e3,
      "spark.spill_disk_bytes" -> t.spillBytes.toDouble,
      "spark.gc_s" -> top.map(_.gcMs).sum / 1e3,
      "spark.jit_s" -> top.map(_.jitMs).sum / 1e3)
  }

  /** Task totals per span, for the artifact. */
  def perSpan(v: TraceView): Seq[Map[String, Any]] = v.spans.map { s =>
    val t = v.tasks(Seq(s))
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
      "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9, "layer_s" -> s.layerNs / 1e9,
      "jobs" -> t.jobs, "tasks" -> t.tasks, "task_cpu_s" -> t.cpuNs / 1e9,
      "shuffle_write_bytes" -> t.shuffleWriteBytes, "gc_s" -> s.gcMs / 1e3, "jit_s" -> s.jitMs / 1e3)
  }
}

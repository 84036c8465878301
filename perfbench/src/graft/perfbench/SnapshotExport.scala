package graft.perfbench

import java.nio.file.Paths

import org.apache.spark.sql.functions.{col, to_date}

import graft.{Main, Tables}
import graft.operators.RowHash
import graft.sinks.{FileSink, SinkSpec}
import graft.sql.QueryBuilder

/** The export half of [[TableSync]]: the reference's non-CDC sync types
  * through `Main.run`, plus compaction of a Hive-partitioned small-file
  * copy of the table. One round is a `full`, a `time-based` and an
  * `scd-latest` sync followed by one `FileSink.compactPartitioned`.
  */
object SnapshotExport {
  val HashCol = "_row_hash"
  val NonNullable = "event_type,props"
  val SyncTypes: Seq[String] = Seq("full", "time-based", "scd-latest")

  def generate(c: Ctx, dir: String, scale: Double): Unit = {
    val n = math.max(1000L, (c.size("rows") * scale).toLong)
    Gen.events(c.spark, n, c.seed).write.parquet(s"$dir/catalog/events.parquet")
    // The small-file copy: every task writes one file into every day, as
    // a stream of appends leaves a partitioned table.
    c.spark.read.parquet(s"$dir/catalog/events.parquet")
      .withColumn("dt", to_date(col("ts")))
      .repartition(c.size("compact_files_per_day").toInt)
      .write.partitionBy("dt").parquet(s"$dir/compact_pristine")
    Json.writeAtomic(Paths.get(s"$dir/meta.json"), Json.render(Map("rows" -> n)))
  }

  private def rowsIn(in: String): Long =
    """"rows": (\d+)""".r.findFirstMatchIn(
      new String(java.nio.file.Files.readAllBytes(Paths.get(s"$in/meta.json")))).get.group(1).toLong

  /** The orchestrator's arguments for one sync type. */
  def argv(in: String, out: String, syncType: String, c: Ctx): Array[String] = {
    val n = rowsIn(in)
    val common = Seq(
      "--catalog", s"$in/catalog", "--schema_name", "bench", "--table", "events",
      "--sync_type", syncType,
      "--validate_row_count", (n * 2).toString,
      "--computed_hash_column", HashCol,
      "--non_nullable_columns", NonNullable,
      "--bucket", s"file:$out", "--prefix", syncType,
      "--export_format", "json",
      "--max_records_per_file", c.size("max_records_per_file").toString)
    val extra = syncType match {
      case "time-based" => Seq("--updated_time_column", "ts",
        "--time_cutoff_ms", Gen.eventMs(n, 0.5).toString,
        "--delay_ms", "60000", "--now_ms", Gen.eventMs(n, 1.0).toString)
      case "scd-latest" => Seq("--group_id_column", "user_id", "--scd_time_column", "ts")
      case _ => Nil
    }
    (common ++ extra).toArray
  }

  /** `Main.run` with each call into a layer wrapped in a span: the same
    * calls in the same order as `Main.run` for a non-CDC sync type.
    */
  def tracedRun(c: Ctx, a: Main.Args): String = {
    val tr = c.tracer
    val spark = c.spark
    tr.span("Main.run") {
      tr.span("FileSink.validateRowCount") {
        FileSink.validateRowCount(Tables.load(spark, a.str("catalog"), a.str("table")),
          a.lng("validate_row_count"))
      }
      val built = tr.span("Main.build") {
        val b = Main.build(spark, a)
        b.df.queryExecution.executedPlan
        b
      }
      val layer = "Sync." + a.str("sync_type").replace("-", "_")
      val synced = tr.lazyCall(layer, Tables.load(spark, a.str("catalog"), a.str("table")))(built.df)
      val hashed = tr.lazyCall("RowHash.withHashColumn", synced)(
        RowHash.withHashColumn(synced, a.str("computed_hash_column")))
      tr.span("FileSink.write") {
        FileSink.write(hashed, SinkSpec("json", Main.sinkUri(a.str("bucket"), a.str("prefix")),
          Some(a.lng("max_records_per_file"))))
      }
      Main.resultJson(QueryBuilder.resolveParams(built.query, built.params), built.lastCommitMs)
    }
  }

  /** One export round: the three syncs, then compaction of a fresh copy of
    * the small-file table. Returns the result string of each sync that
    * completed, by sync type, and the compaction's per-leaf file counts.
    */
  def round(c: Ctx, in: String, out: String,
            ops: Ops): (Map[String, String], Option[Seq[(String, Int, Int)]]) = {
    val results = SyncTypes.flatMap { st =>
      ops.run(s"sync:$st") {
        val a = Main.parseArgs(argv(in, out, st, c))
        if (c.tracer.enabled) tracedRun(c, a) else Main.run(c.spark, a)
      }.map(st -> _)
    }.toMap
    // Staging a fresh small-file copy is set-up for the op, not the op.
    val compactDir = Paths.get(out, "compact")
    Workload.deleteTree(compactDir)
    Workload.copyTree(Paths.get(in, "compact_pristine"), compactDir)
    (results, ops.run("compact") {
      c.tracer.span("FileSink.compactPartitioned") {
        FileSink.compactPartitioned(c.spark, compactDir.toString)
      }
    })
  }

  /** The pass over `rounds` export rounds: rows committed per round, read back. */
  def pass(c: Ctx, in: String, out: String, ops: Ops, rounds: Int,
           compactions: Seq[Seq[(String, Int, Int)]], results: Map[String, String]): Pass = {
    // The last round's sink content; the checks compare it with the plan.
    val sinks = SyncTypes.map(st => st -> Workload.checksum(readBack(c, in, out, st))).toMap
    Pass(ops, sinks.values.map(_._1).sum * rounds, Nil, rounds, Map("sinks" -> sinks, "results" -> results,
      "files_before" -> compactions.map(_.map(_._2).sum),
      "files_after" -> compactions.map(_.map(_._3).sum)))
  }

  private def planned(c: Ctx, in: String, out: String, st: String) = {
    val a = Main.parseArgs(argv(in, out, st, c))
    RowHash.withHashColumn(Main.build(c.spark, a).df, HashCol)
  }

  private def readBack(c: Ctx, in: String, out: String, st: String) =
    c.spark.read.schema(planned(c, in, out, st).schema).json(s"$out/$st")

  def check(c: Ctx, in: String, out: String, p: Pass): Seq[String] = {
    val syncs = SyncTypes.flatMap { st =>
      val want = Workload.checksum(planned(c, in, out, st))
      val got = p.info("sinks").asInstanceOf[Map[String, (Long, Long, Long)]](st)
      if (want != got) Some(s"$st sink (rows, xor, sum) $got != planned $want") else None
    }
    val pristine = Workload.checksum(c.spark.read.parquet(s"$in/compact_pristine"))
    val compacted = Workload.checksum(c.spark.read.parquet(s"$out/compact"))
    val filesBefore = Workload.dataFiles(s"$in/compact_pristine").size
    val filesAfter = Workload.dataFiles(s"$out/compact").size
    syncs ++
      (if (pristine != compacted) Seq(s"compaction changed content: $compacted != $pristine") else Nil) ++
      (if (filesAfter >= filesBefore) Seq(s"compaction left $filesAfter files of $filesBefore") else Nil)
  }

  /** The last round's sinks and result strings, and the compacted table. */
  def outputs(c: Ctx, out: String, p: Pass): Map[String, String] =
    p.info("sinks").asInstanceOf[Map[String, (Long, Long, Long)]].map { case (st, t) =>
      s"export/$st" -> Workload.digest(t) } ++
      p.info("results").asInstanceOf[Map[String, String]].map { case (st, r) => s"export/$st.result" -> r } +
      ("export/compact" -> Workload.digest(Workload.checksum(c.spark.read.parquet(s"$out/compact"))))

  def namedMetrics(c: Ctx, in: String, out: String, p: Pass): Map[String, (Double, String)] = {
    val bytesPerRound = SyncTypes.map(st => Workload.bytesUnder(s"$out/$st")).sum.toDouble
    val rowsPerRound = p.items.toDouble / math.max(1, p.rounds)
    Map(
      "export_rows_per_s" -> (p.items / (p.ops.wallNs / 1e9), "rows/s"),
      "export_round_p50_s" -> (Workload.quantile(p.opWalls, 0.5), "s"),
      "sink_bytes_per_row" -> (bytesPerRound / rowsPerRound, "B/row"))
  }

  def layerMetrics(v: TraceView, p: Pass): Map[String, Double] = {
    val compact = v.named("FileSink.compactPartitioned")
    def perCompaction(x: Double) = x / math.max(1, compact.size)
    def mean(key: String) = p.info.get(key).collect { case xs: Seq[_] if xs.nonEmpty =>
      xs.map(_.toString.toDouble).sum / xs.size }.getOrElse(0.0)
    Map(
      "Main.build_s" -> v.perCall("Main.build"),
      "Sync.full_s" -> v.perCall("Sync.full"),
      "Sync.time_based_s" -> v.perCall("Sync.time_based"),
      "Sync.scd_latest_s" -> v.perCall("Sync.scd_latest"),
      "Sync.scd_latest_shuffle_bytes" -> v.tasks(v.named("Sync.scd_latest")).shuffleWriteBytes.toDouble /
        math.max(1, v.named("Sync.scd_latest").size),
      "RowHash.withHashColumn_s" -> v.perCall("RowHash.withHashColumn"),
      "FileSink.validateRowCount_s" -> v.perCall("FileSink.validateRowCount"),
      "FileSink.compactPartitioned_s" -> v.perCall("FileSink.compactPartitioned"),
      "FileSink.bytes_rewritten" -> perCompaction(v.metricSum(compact, TraceView.isWrite, "numOutputBytes")),
      "FileSink.files_before" -> mean("files_before"),
      "FileSink.files_after" -> mean("files_after"),
      "FileSink.compact_jobs" -> v.jobs("FileSink.compactPartitioned").toDouble / compact.size
    ) ++ Layers.sinkWrites(v) ++ Layers.scans(v)
  }
}

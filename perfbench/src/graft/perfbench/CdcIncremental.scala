package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, unix_millis, when}

import graft.{Main, Tables}
import graft.operators.{ChangeLog, RowHash}
import graft.sinks.{FileSink, SinkSpec}
import graft.sources.SqlSource
import graft.sql.QueryBuilder

/** The CDC half of [[TableSync]]: the orchestrator's watermark loop
  * through `Main.run --sync_type cdc`. Set-up writes the first part of a
  * change log as day files and stages the rest as one file per window. The
  * loop runs the first sync (`time_cutoff_ms 0`), then per step appends the
  * next window's file to the log, as a change feed accrues, and runs one
  * incremental sync that passes the previous watermark back as
  * `--time_cutoff_ms` and advances `--now_ms` by one window.
  */
object CdcIncremental {
  val HashCol = "_row_hash"
  val Table = "changes"

  final case class Meta(splitMs: Long, windowMs: Long, windows: Int, keys: Long, spanMs: Long)

  private def meta(in: String): Meta = {
    val txt = new String(Files.readAllBytes(Paths.get(s"$in/meta.json")))
    def f(k: String) = s""""$k": (-?\\d+)""".r.findFirstMatchIn(txt).get.group(1).toLong
    Meta(f("split_ms"), f("window_ms"), f("windows").toInt, f("keys"), f("span_ms"))
  }

  private def logDir(in: String) = Paths.get(in, "catalog", s"$Table.parquet")

  /** Write `df` as one file per value of `key`, then move each file to
    * `dst` named by `name(value, i)`.
    */
  private def writeSplit(df: DataFrame, key: String, tmp: String, dst: java.nio.file.Path,
                         name: (String, Int) => String): Unit = {
    df.repartition(col(key)).sortWithinPartitions(ChangeLog.CommitTs)
      .write.partitionBy(key).parquet(tmp)
    Files.createDirectories(dst)
    Files.list(Paths.get(tmp)).iterator().asScala.filter(Files.isDirectory(_)).foreach { d =>
      val v = d.getFileName.toString.stripPrefix(s"$key=")
      Workload.dataFiles(d.toString).zipWithIndex.foreach { case (f, i) =>
        Files.move(f, dst.resolve(name(v, i)))
      }
    }
    Workload.deleteTree(Paths.get(tmp))
  }

  def generate(c: Ctx, dir: String, scale: Double): Unit = {
    val rows = math.max(2000L, (c.size("log_rows") * scale).toLong)
    val spanMs = c.size("span_days") * Gen.DayMs
    val windows = math.max(4, (c.size("windows") * math.min(1.0, scale * 20)).toInt)
    val windowMs = (spanMs * c.param("window_share")).toLong
    val splitMs = Gen.T0 + spanMs - windows * windowMs
    // ~4.15 rows per key: insert, 1.5 updates of two images, 15% deletes.
    val keys = (rows / 4.15).toLong
    val log = Gen.changeLog(Gen.keyEvents(c.spark, keys, spanMs, c.seed), c.seed)
    val ms = unix_millis(col(ChangeLog.CommitTs))
    val tagged = log
      .withColumn("_w", when(ms <= splitMs, lit(0L)).otherwise(Gen.idiv(ms - splitMs - 1, windowMs) + 1))
      .withColumn("_day", Gen.idiv(ms - Gen.T0, Gen.DayMs))
    writeSplit(tagged.filter(col("_w") === 0).drop("_w"), "_day", s"$dir/tmp_initial",
      logDir(dir), (v, i) => f"part-d${v.toInt}%03d-$i.parquet")
    writeSplit(tagged.filter(col("_w") > 0).drop("_day"), "_w", s"$dir/tmp_stage",
      Paths.get(dir, "stage"), (v, i) => f"w${v.toInt}%05d-$i.parquet")
    Json.writeAtomic(Paths.get(s"$dir/meta.json"), Json.render(Map(
      "split_ms" -> splitMs, "window_ms" -> windowMs, "windows" -> windows, "keys" -> keys,
      "span_ms" -> spanMs)))
  }

  def argv(in: String, out: String, prefix: String, cutoffMs: Long, nowMs: Long,
           c: Ctx): Array[String] = (Seq(
    "--catalog", s"$in/catalog", "--schema_name", "bench", "--table", Table,
    "--sync_type", "cdc", "--time_cutoff_ms", cutoffMs.toString,
    "--cdc_key_columns", "row_id",
    "--computed_hash_column", HashCol,
    "--bucket", s"file:$out", "--prefix", prefix,
    "--export_format", "json",
    "--max_records_per_file", c.size("max_records_per_file").toString) ++
    (if (nowMs > 0) Seq("--now_ms", nowMs.toString) else Nil)).toArray

  /** `Main.run --sync_type cdc` with each call into a layer wrapped in a
    * span: the same calls, in the same order, as `Main.build` and
    * `Main.run` make.
    */
  def tracedRun(c: Ctx, a: Main.Args): String = {
    val tr = c.tracer
    tr.span("Main.run") {
      val log = Tables.load(c.spark, a.str("catalog"), a.str("table"))
      val cutoff = a.lng("time_cutoff_ms")
      val endMs =
        if (cutoff == 0) tr.span("ChangeLog.latestCommitMs")(ChangeLog.latestCommitMs(log))
        else a.lng("now_ms")
      val df0 =
        if (cutoff == 0) ChangeLog.snapshotAsOf(log, Seq(a.str("cdc_key_columns")), endMs)
        else ChangeLog.tableChanges(log, cutoff + 1, endMs)
      val ref = s"${a.str("catalog_name", a.str("catalog"))}.${a.str("schema_name")}.${a.str("table")}"
      val query = tr.span("Main.build") {
        df0.queryExecution.executedPlan
        if (cutoff == 0) QueryBuilder.cdcFirstSync(ref, endMs)
        else QueryBuilder.cdcIncremental(ref, cutoff, endMs)
      }
      val layer = if (cutoff == 0) "ChangeLog.snapshotAsOf" else "ChangeLog.tableChanges"
      val built = tr.lazyCall(layer, log)(df0)
      val hashed = tr.lazyCall("RowHash.withHashColumn", built)(
        RowHash.withHashColumn(built, a.str("computed_hash_column")))
      tr.span("FileSink.write") {
        FileSink.write(hashed, SinkSpec("json", Main.sinkUri(a.str("bucket"), a.str("prefix")),
          Some(a.lng("max_records_per_file"))))
      }
      Main.resultJson(QueryBuilder.resolveParams(query, Map.empty), endMs)
    }
  }

  private val WatermarkRx = """"change_capture_sync_last_commit_ms": (-?\d+)""".r

  /** One sync as the orchestrator sees it: the arguments it passed and the
    * watermark and query it got back.
    */
  final case class SyncRec(prefix: String, cutoffMs: Long, nowMs: Long, watermark: Long,
                           query: String)

  private def sync(c: Ctx, ops: Ops, kind: String, args: Array[String], prefix: String,
                   cutoff: Long, now: Long): Option[SyncRec] =
    ops.run(kind) {
      val a = Main.parseArgs(args)
      if (c.tracer.enabled) tracedRun(c, a) else Main.run(c.spark, a)
    }.map(json => SyncRec(prefix, cutoff, now,
      WatermarkRx.findFirstMatchIn(json).get.group(1).toLong, json))

  /** Loop state: the watermark and the syncs so far. */
  final class State(val meta: Meta) {
    var syncs = Vector.empty[SyncRec]
    var watermark = 0L
  }

  /** Put the log back to its initial files and run the first sync. */
  def start(c: Ctx, in: String, out: String, ops: Ops): State = {
    val st = new State(meta(in))
    Files.list(logDir(in)).iterator().asScala.filter(_.getFileName.toString.startsWith("w"))
      .toList.foreach(Files.delete(_))
    val first = sync(c, ops, "first_sync", argv(in, out, "first", 0L, 0L, c), "first", 0L, 0L)
    st.syncs = first.toVector
    st.watermark = first.map(_.watermark).getOrElse(st.meta.splitMs)
    st
  }

  def windows(in: String): Int = meta(in).windows

  /** Append window `w` to the log and run the incremental sync for it. */
  def step(c: Ctx, in: String, out: String, ops: Ops, st: State, w: Int): Unit = {
    Workload.dataFiles(s"$in/stage").filter(_.getFileName.toString.startsWith(f"w$w%05d-"))
      .foreach(f => Files.copy(f, logDir(in).resolve(f.getFileName)))
    val now = st.meta.splitMs + w * st.meta.windowMs
    val prefix = f"inc-$w%05d"
    sync(c, ops, "sync", argv(in, out, prefix, st.watermark, now, c), prefix, st.watermark, now)
      .foreach { r =>
        st.syncs :+= r
        st.watermark = r.watermark
      }
  }

  def pass(c: Ctx, in: String, out: String, ops: Ops, st: State, steps: Int): Pass = {
    val firstRows = readFirst(c, in, out).count()
    val incremental = if (steps == 0) (0L, 0L, 0L) else Workload.checksum(readIncremental(c, in, out))
    Pass(ops, firstRows + incremental._1, ops.recs.filter(_.kind == "sync").map(_.wallNs / 1e9).toSeq,
      steps, Map("syncs" -> st.syncs, "first_rows" -> firstRows, "incremental" -> incremental))
  }

  private def schemaOf(c: Ctx, in: String, first: Boolean) = {
    val log = Tables.load(c.spark, s"$in/catalog", Table)
    val df = if (first) ChangeLog.snapshotAsOf(log, Seq("row_id"), 0L) else ChangeLog.tableChanges(log, 0L, 0L)
    RowHash.withHashColumn(df, HashCol).schema
  }

  private def readFirst(c: Ctx, in: String, out: String) =
    c.spark.read.schema(schemaOf(c, in, first = true)).json(s"$out/first")

  private def readIncremental(c: Ctx, in: String, out: String) =
    c.spark.read.schema(schemaOf(c, in, first = false)).json(s"$out/inc-*")

  private def syncs(p: Pass): Seq[SyncRec] = p.info("syncs").asInstanceOf[Seq[SyncRec]]

  /** The first sync's and the incremental syncs' sink content, and the
    * result string of every sync.
    */
  def outputs(c: Ctx, in: String, out: String, p: Pass): Map[String, String] =
    Map("cdc/first" -> Workload.digest(Workload.checksum(readFirst(c, in, out))),
      "cdc/incremental" -> Workload.digest(p.info("incremental").asInstanceOf[(Long, Long, Long)])) ++
      syncs(p).map(r => s"cdc/${r.prefix}.result" -> r.query)

  def check(c: Ctx, in: String, out: String, p: Pass): Seq[String] = {
    val rs = syncs(p)
    if (rs.isEmpty || rs.head.prefix != "first") return Seq("first sync did not complete")
    val firstWm = rs.head.watermark
    val m = meta(in)
    val live = Gen.liveKeys(Gen.keyEvents(c.spark, m.keys, m.spanMs, c.seed), firstWm)
    val firstRows = p.info("first_rows").asInstanceOf[Long]
    val contiguity = rs.sliding(2).collect { case Seq(prev, cur) =>
      val start = SqlSource.msToIso(prev.watermark + 1)
      if (cur.cutoffMs != prev.watermark) Some(s"${cur.prefix} cutoff ${cur.cutoffMs} != previous watermark ${prev.watermark}")
      else if (!cur.query.contains(s"'$start'")) Some(s"${cur.prefix} does not start at $start")
      else if (cur.watermark != cur.nowMs) Some(s"${cur.prefix} watermark ${cur.watermark} != now_ms ${cur.nowMs}")
      else None
    }.flatten.toSeq
    val union =
      if (rs.size < 2) Nil
      else {
        val log = Tables.load(c.spark, s"$in/catalog", Table)
        val want = Workload.checksum(RowHash.withHashColumn(
          ChangeLog.tableChanges(log, firstWm + 1, rs.last.watermark), HashCol))
        val got = p.info("incremental").asInstanceOf[(Long, Long, Long)]
        // The generator's own count of change rows committed in the span.
        val planted = Gen.changeLog(Gen.keyEvents(c.spark, m.keys, m.spanMs, c.seed), c.seed)
          .filter(unix_millis(col(ChangeLog.CommitTs)).between(firstWm + 1, rs.last.watermark)).count()
        (if (want != got) Seq(s"incremental outputs (rows, xor, sum) $got != table_changes over the span $want")
         else Nil) ++
          (if (got._1 != planted) Seq(s"incremental outputs hold ${got._1} rows; the span has $planted changes")
           else Nil)
      }
    (if (firstRows != live) Seq(s"first sync wrote $firstRows rows, expected $live live keys") else Nil) ++
      contiguity ++ union ++
      (if (rs.size - 1 != p.rounds) Seq(s"${p.rounds - rs.size + 1} incremental syncs failed") else Nil)
  }

  def namedMetrics(c: Ctx, in: String, out: String, p: Pass): Map[String, (Double, String)] = {
    val bytes = Workload.bytesUnder(out).toDouble
    Map(
      "first_sync_s" -> (p.ops.recs.find(_.kind == "first_sync").map(_.wallNs / 1e9).getOrElse(Double.NaN), "s"),
      "sink_bytes_per_row" -> (bytes / math.max(1L, p.items), "B/row")) ++
      Workload.latency("sync", p.opWalls)
  }

  def layerMetrics(v: TraceView, p: Pass): Map[String, Double] = {
    val tc = v.named("ChangeLog.tableChanges")
    val returned = v.outRows("ChangeLog.tableChanges").toDouble
    val scanned = v.metricSum(tc, TraceView.isScan, "numOutputRows").toDouble
    Map(
      "Main.build_s" -> v.perCall("Main.build"),
      "ChangeLog.latestCommitMs_s" -> v.perCall("ChangeLog.latestCommitMs"),
      "ChangeLog.snapshotAsOf_s" -> v.perCall("ChangeLog.snapshotAsOf"),
      "ChangeLog.snapshot_shuffle_bytes" -> v.tasks(v.named("ChangeLog.snapshotAsOf")).shuffleWriteBytes.toDouble,
      "ChangeLog.tableChanges_s" -> v.perCall("ChangeLog.tableChanges"),
      "ChangeLog.rows_returned" -> returned / math.max(1, tc.size),
      "ChangeLog.selectivity" -> (if (scanned > 0) returned / scanned else 0.0),
      "RowHash.withHashColumn_s" -> v.perCall("RowHash.withHashColumn")
    ) ++ Layers.sinkWrites(v) ++ Layers.scans(v)
  }
}

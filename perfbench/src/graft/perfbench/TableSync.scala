package graft.perfbench

/** The reference export job as an orchestrator runs it over two tables.
  * Before the rounds, the first CDC sync of a change log. Each round then
  * runs the export of an events table ([[SnapshotExport]]: `full`,
  * `time-based` and `scd-latest` syncs, then compaction) and
  * `cdc_syncs_per_round` incremental syncs of the change log
  * ([[CdcIncremental]]), each after the next window of changes lands.
  * The export side is sink, row hash, scd shuffle and compaction; the CDC
  * side scans a growing log for a tiny share of it.
  */
object TableSync extends Workload {
  val name = "table_sync"

  def generate(c: Ctx, dir: String, scale: Double): Unit = {
    SnapshotExport.generate(c, s"$dir/export", scale)
    CdcIncremental.generate(c, s"$dir/cdc", scale)
  }

  def timed(c: Ctx, in: String, out: String, deadlineNs: Long, rounds: Option[Int]): Pass = {
    val (exportOps, cdcOps, all) = (new Ops, new Ops, new Ops)
    val perRound = c.size("cdc_syncs_per_round").toInt
    val st = CdcIncremental.start(c, s"$in/cdc", s"$out/cdc", cdcOps)
    var roundWalls = Vector.empty[Double]
    var compactions = Vector.empty[Seq[(String, Int, Int)]]
    var results = Map.empty[String, String]
    val n = Workload.loopUntil(deadlineNs, rounds,
      maxRounds = CdcIncremental.windows(s"$in/cdc") / perRound) { i =>
      val before = exportOps.wallNs + cdcOps.wallNs
      val (res, compaction) = SnapshotExport.round(c, s"$in/export", s"$out/export", exportOps)
      results = res
      compactions ++= compaction
      (1 to perRound).foreach(j =>
        CdcIncremental.step(c, s"$in/cdc", s"$out/cdc", cdcOps, st, i * perRound + j))
      roundWalls :+= (exportOps.wallNs + cdcOps.wallNs - before) / 1e9
    }
    val export = SnapshotExport.pass(c, s"$in/export", s"$out/export", exportOps, n, compactions,
      results)
      .copy(opWalls = roundWalls)
    val cdc = CdcIncremental.pass(c, s"$in/cdc", s"$out/cdc", cdcOps, st, n * perRound)
    all.recs ++= cdcOps.recs.take(1) ++ exportOps.recs ++ cdcOps.recs.drop(1)
    Pass(all, export.items + cdc.items, roundWalls, n, Map("export" -> export, "cdc" -> cdc))
  }

  private def parts(p: Pass): (Pass, Pass) =
    (p.info("export").asInstanceOf[Pass], p.info("cdc").asInstanceOf[Pass])

  def check(c: Ctx, in: String, out: String, p: Pass): Seq[String] = {
    val (export, cdc) = parts(p)
    SnapshotExport.check(c, s"$in/export", s"$out/export", export) ++
      CdcIncremental.check(c, s"$in/cdc", s"$out/cdc", cdc)
  }

  def outputs(c: Ctx, in: String, out: String, p: Pass): Map[String, String] = {
    val (export, cdc) = parts(p)
    SnapshotExport.outputs(c, s"$out/export", export) ++ CdcIncremental.outputs(c, s"$in/cdc", s"$out/cdc", cdc)
  }

  def namedMetrics(c: Ctx, in: String, out: String, p: Pass): Map[String, (Double, String)] = {
    val (export, cdc) = parts(p)
    SnapshotExport.namedMetrics(c, s"$in/export", s"$out/export", export) ++
      CdcIncremental.namedMetrics(c, s"$in/cdc", s"$out/cdc", cdc).map {
        case ("sink_bytes_per_row", v) => "cdc_sink_bytes_per_row" -> v
        case kv => kv
      }
  }

  def layerMetrics(v: TraceView, p: Pass): Map[String, Double] = {
    val (export, cdc) = parts(p)
    SnapshotExport.layerMetrics(v, export) ++ CdcIncremental.layerMetrics(v, cdc)
  }
}

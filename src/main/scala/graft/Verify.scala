package graft
import java.nio.file.{Files, Paths}
import Main.jsonString
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Timeout robustness (mirrors Bench): oracle_sql.json is written FIRST
  * — it is pure metadata, and writing it last meant a timeout anywhere
  * in the query loop zeroed the whole round's correctness artifact —
  * and queries run cheapest-first (Bench.CostHint), so a truncated run
  * still yields a comparable dump for everything finished.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Engine.session(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // Fixture drift is loud, not silent (the round-8 lesson): one stderr
    // line per contract mismatch, before any query runs.
    FixtureProbe.report(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Dev aid: SPARK_GRAFT_VERIFY_ONLY=q_a,q_b restricts the dump (the
    // driver never sets it). oracle_sql.json stays complete either way.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val ordered = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .sortBy { case (name, _) => (Bench.CostHint.getOrElse(name, 3.0), name) }
    // Episode self-report (VERDICT r13 #5): Bench's warm_regressions
    // field cannot exist here (Verify runs each query once), but a
    // contended or sticky-JIT-episodic verify run used to be invisible
    // in the artifact. Record per-query elapsed plus the same
    // fixed-work canary series Bench uses (probed every 10 queries) →
    // `verify_timing.json` next to the dump: `canary_wave_ratio` ≈ 1
    // certifies a clean window; a query whose elapsed is far above its
    // committed BENCH time in a wave-1 window is the episode signature.
    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    val canaries = scala.collection.mutable.ArrayBuffer[Double]()
    def probeCanary(): Unit = {
      val t0 = System.nanoTime()
      spark.range(256L * 1000 * 1000).selectExpr("bit_xor(xxhash64(id))").head()
      canaries += (System.nanoTime() - t0) / 1e9
    }
    ordered.zipWithIndex.foreach { case ((name, fn), idx) =>
      if (idx % 10 == 0) probeCanary()
      val t0 = System.nanoTime()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      timings(name) = (System.nanoTime() - t0) / 1e9
    }
    // warm_regressions (VERDICT r14 #5): Bench's field, same definition
    // (worst WARM pass ≥2x the cold pass AND ≥2 s — the state-left-
    // behind / sticky-JIT episode signature), measurable here only by a
    // second pass. Re-running all 260 gates would double the dump, so
    // the probe re-runs just the expensive tail (cold ≥ 2 s — the only
    // gates that can trip the absolute bound) into a scratch dir that
    // is deleted afterwards, leaving the driver-facing dump bit-
    // identical to the single-pass artifact.
    val warmRatios = scala.collection.mutable.LinkedHashMap[String, Double]()
    locally {
      val tail = ordered.filter { case (n, _) => timings.getOrElse(n, 0.0) >= 2.0 }
      // Scratch OUTSIDE outDir (r16, ADVICE): the probe re-runs the
      // most expensive gates, which is exactly when a crash/OOM is
      // likeliest — partial probe output must never be able to pollute
      // the driver-facing dump, and the finally covers the crash path
      // a post-loop delete did not.
      val scratch = Files.createTempDirectory("graft_warmprobe").toString
      try {
        tail.foreach { case (name, fn) =>
          val t0 = System.nanoTime()
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$scratch/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] warm probe $name failed: ${e.getMessage}")
          }
          val warm = (System.nanoTime() - t0) / 1e9
          val cold = math.max(timings(name), 1e-9)
          if (warm >= 2 * cold && warm >= 2.0) warmRatios(name) = warm / cold
        }
      } finally {
        val p = new org.apache.hadoop.fs.Path(scratch)
        p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
      }
    }
    locally {
      def num(v: Double) =
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      // max/median over the steady tail (first probe carries JIT warmup)
      // — the Bench canary_wave_ratio definition.
      val steady = canaries.drop(1)
      val wave =
        if (steady.size >= 3) {
          val sorted = steady.sorted
          sorted.last / math.max(sorted(sorted.size / 2), 1e-9)
        } else 1.0
      val qs = timings.map { case (k, v) => s"${jsonString(k)}:${num(v)}" }
        .mkString("{", ",", "}")
      val cs = canaries.map(num).mkString("[", ",", "]")
      val wr = warmRatios.map { case (k, v) =>
        s"${jsonString(k)}:${String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))}"
      }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/verify_timing.json"),
        s"""{"queries":$qs,"canary":$cs,"canary_wave_ratio":${num(wave)},"warm_regressions":$wr}""" + "\n")
    }
    spark.stop()
  }
}

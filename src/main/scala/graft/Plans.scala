package graft
import java.nio.file.{Files, Paths}
/** Plan dumper: writes `explain("formatted")` for the named queries to
  * one file each — the plan-evidence artifacts the optimization rounds
  * commit (`plans/r<N>/<query>_<tag>.txt`), so plan claims can be
  * checked without running Spark.
  *
  * Each query runs before its plan is dumped, so the file holds the
  * FINAL adaptive plan (isFinalPlan=true, ReusedExchange visible) — the
  * shape to audit, not the pre-AQE initial plan. With no query names the
  * headline list is dumped.
  *
  * Usage: runMain graft.Plans <dataDir> <outDir> <tag> [q1 q2 ...]
  *   → <outDir>/<q1>_<tag>.txt ...
  */
object Plans {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: Plans <dataDir> <outDir> <tag> [q1 q2 ...]")
    val spark = Engine.session("local[4]", 4)
    spark.sparkContext.setLogLevel("ERROR")
    val d = args(0)
    val outDir = Paths.get(args(1))
    val tag = args(2)
    Files.createDirectories(outDir)
    val headline = Seq("q_time_based", "q_join_revenue", "q_scd_latest", "q_scd_latest_maxby",
      "q_ann_bruteforce", "q_dedup_minhash_lsh", "q_dedup_exact", "q_topk_orders", "q_mm_decode",
      "q_funnel", "q_dedup_embedding_lsh", "q_dedup_simhash", "q_ann_ivf", "q_sessionize",
      "q_pipeline_prep", "q_emb_quantize", "q_asof_join", "q_range_join",
      "q_quality_gopher", "q_decontaminate", "q_chunk_dedup", "q_pii_redact",
      "q_split_assign", "q_stratified_sample", "q_seq_pack", "q_idf_score",
      "q_pipeline_curate", "q_ann_ivf_kmeans",
      "q_hll_distinct", "q_cms_topk", "q_tfidf_pairs", "q_rolling_daily", "q_mm_phash",
      "q_bloom_prune", "q_skew_join", "q_perplexity", "q_mixture_weights",
      "q_len_quantiles",
      "q_kmv_jaccard", "q_pmi_colloc", "q_cube_stats", "q_group_sample",
      "q_incr_dedup", "q_ngram_novelty",
      "q_boilerplate_strip", "q_winnow_overlap", "q_rand_proj", "q_pca_power",
      "q_source_drift", "q_quality_classifier", "q_dup_span",
      "q_row_hash", "q_entry_flagship", "q_quality_bins", "q_dedup_edit",
      "q_dedup_keepbest", "q_passage_chunk", "q_epoch_shuffle",
      "q_ann_topk_agg", "q_pipeline_spans",
      // round-11 continuation headliners
      "q_quality_topp", "q_quantile_norm", "q_bootstrap_ci",
      "q_mahalanobis", "q_adamic_adar", "q_emb_alignment",
      "q_confident_joint", "q_isotonic",
      // round-16 tiered oracle twins
      "q_scd_latest_tiered", "q_scd_latest_keys", "q_cdc_sync_tiered",
      "q_dedup_minhash_tiered", "q_hll_tiered")
    val names = if (args.length > 3) args.toSeq.drop(3) else headline
    names.foreach { n =>
      val out = outDir.resolve(s"${n}_$tag.txt")
      try {
        val df = SparkEntry.queries(n)(spark, d)
        spark.sparkContext.runJob(df.queryExecution.toRdd,
          (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => it.size)
        Files.writeString(out, df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        println(s"WROTE $out")
      } catch { case e: Throwable =>
        Files.writeString(out, s"ERROR $e")
        println(s"ERROR $n: $e")
      }
    }
    spark.stop()
  }
}

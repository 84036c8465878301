package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, round}

import graft.functions.TextAnalysis
import graft.operators.{Dedup, Pipeline, SemDedup, Similarity}
import graft.sinks.{FileSink, SinkSpec}

/** Corpus curation, then retrieval over the curated corpus. One round:
  * `Pipeline.prepCorpus` (language and quality scoring, exact dedup,
  * MinHash-LSH pairs, connected components), `SemDedup.dedup` over the
  * survivors' embeddings, the manifest through `FileSink.write`; then an
  * IVF and a PQ index over the manifest's embeddings and
  * `search_batches` query batches against them ([[VectorSearch]]).
  */
object LlmCurate extends Workload {
  val name = "llm_curate"
  val Lang = "en"
  val MinQuality = 0.7
  val ManifestCols: Seq[String] = Seq("doc_id", "lang_pred", "quality", "n_tokens")

  def generate(c: Ctx, dir: String, scale: Double): Unit = {
    val docs = math.max(500L, (c.size("docs") * scale).toLong)
    // 1.24 documents per group on average (see Gen.corpusGroups).
    val groups = Gen.corpusGroups(c.spark, (docs / 1.24).toLong, c.seed)
    val corpus = Gen.corpus(groups, c.size("dim").toInt, c.size("topics").toInt, c.param("spread"),
      c.seed)
    corpus.select("doc_id", "text", "embedding").write.parquet(s"$dir/corpus.parquet")
    corpus.select("doc_id", "class", "group").write.parquet(s"$dir/truth.parquet")
    VectorSearch.generateQueries(c, dir)
  }

  private def k(c: Ctx) = c.size("sem_cells").toInt
  private def iters(c: Ctx) = c.size("kmeans_iters").toInt
  private def threshold(c: Ctx) = c.param("sem_threshold")

  /** `Pipeline.prepCorpus` with a span around each call into a layer: the
    * same calls, in the same order, with the same checkpoint barriers.
    */
  private def prepTraced(c: Ctx, docs: DataFrame): DataFrame = {
    val tr = c.tracer
    tr.span("Pipeline.prepCorpus") {
      val scored = tr.lazyCall("TextAnalysis.score", docs)(
        Dedup.rebalance(docs)
          .withColumn("_w", TextAnalysis.tokens(col("text")))
          .withColumn("lang_pred", TextAnalysis.langIdOf(col("_w")))
          .withColumn("quality", TextAnalysis.qualityScoreOf(col("text"), col("_w")))
          .withColumn("n_tokens", TextAnalysis.tokenCountOf(col("_w")))
          .drop("_w"))
        .localCheckpoint()
        .filter(col("lang_pred") === Lang && col("quality") >= MinQuality)
      val exact = tr.lazyCall("Dedup.exact", scored)(Dedup.exact(scored, "text", "doc_id"))
        .localCheckpoint()
      val pairs = tr.lazyCall("Dedup.minhashLshPairs", exact)(
        Dedup.minhashLshPairs(exact, "text", "doc_id", 3, 42, 3, 0.5))
      tr.lazyCall("Dedup.resolvePairs", pairs)(
        Dedup.resolvePairs(exact, pairs, "doc_id")
          .select(col("doc_id"), col("lang_pred"), col("quality"), col("n_tokens")))
    }
  }

  /** `SemDedup.dedup` with spans around k-means and the pair search: the
    * same calls `SemDedup.dedup` and `SemDedup.pairs` make.
    */
  private def semTraced(c: Ctx, df: DataFrame): DataFrame = {
    val tr = c.tracer
    tr.lazyCall("SemDedup.dedup", df) {
      val cells = tr.lazyCall("Similarity.kmeansCells", df)(
        Similarity.kmeansCells(df, "embedding", "doc_id", k(c), iters(c)))
      val pairs = tr.lazyCall("SemDedup.pairs", cells) {
        val m = df.select(col("doc_id").as("id"), col("embedding").as("_v"))
          .join(cells.select(col("doc_id").as("id"), col("cell")), Seq("id"))
        val capped = Dedup.capBuckets(m, Seq("cell"), SemDedup.MaxCellSize)
        capped.as("a").join(capped.as("b"), col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
          .withColumn("cosine", round(Similarity.dot(col("a._v"), col("b._v")), 6))
          .filter(col("cosine") >= threshold(c))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cosine"))
      }
      val losers = pairs.select(col("id_b").as("_loser")).distinct()
      df.join(losers, df("doc_id") === losers("_loser"), "left_anti")
    }
  }

  private def curate(c: Ctx, in: String, uri: String): Unit = {
    val docs = c.spark.read.parquet(s"$in/corpus.parquet")
    val text = docs.select("doc_id", "text")
    val kept =
      if (c.tracer.enabled) prepTraced(c, text)
      else Pipeline.prepCorpus(text, "text", "doc_id", Lang, MinQuality)
    val withEmb = kept.join(docs.select("doc_id", "embedding"), "doc_id")
    val survivors =
      if (c.tracer.enabled) semTraced(c, withEmb)
      else SemDedup.dedup(withEmb, "embedding", "doc_id", k(c), iters(c), threshold(c))
    c.tracer.span("FileSink.write") {
      FileSink.write(survivors.select(ManifestCols.map(col): _*), SinkSpec("json", uri))
    }
  }

  def timed(c: Ctx, in: String, out: String, deadlineNs: Long, rounds: Option[Int]): Pass = {
    val ops = new Ops
    val queries = VectorSearch.queries(c, in)
    val batches = c.size("search_batches").toInt
    var index = Option.empty[VectorSearch.Index]
    var roundWalls = Vector.empty[Double]
    val n = Workload.loopUntil(deadlineNs, rounds, maxRounds = 1000) { _ =>
      val before = ops.wallNs
      ops.run("curate")(curate(c, in, s"file:$out/manifest"))
      index.foreach(_.codes.unpersist())
      index = ops.run("index") {
        val kept = c.spark.read.schema("doc_id BIGINT").json(s"$out/manifest")
        val vectors = kept.join(c.spark.read.parquet(s"$in/corpus.parquet")
          .select("doc_id", "embedding"), "doc_id")
        VectorSearch.build(c, vectors, out)
      }
      index.foreach(ix => (0 until batches).foreach(b =>
        ops.run("search")(VectorSearch.search(c, ix, VectorSearch.batch(c, queries, b)))))
      roundWalls :+= (ops.wallNs - before) / 1e9
    }
    val docs = c.spark.read.parquet(s"$in/corpus.parquet").count()
    val recall = index.map(VectorSearch.recall(c, _, queries))
    index.foreach(_.codes.unpersist())
    Pass(ops, docs * ops.recs.count(r => r.kind == "curate" && r.ok), roundWalls, n,
      Map("kmeans_iters" -> iters(c), "pq_iters" -> c.size("pq_iters").toInt, "recall" -> recall))
  }

  private def recallOf(p: Pass): Option[(Double, Double)] =
    p.info("recall").asInstanceOf[Option[(Double, Double)]]

  /** The manifest is exactly the expected survivor set: every planted
    * exact or near-duplicate cluster keeps its first member only, every
    * background doc survives, the foreign and short docs do not, and
    * `SemDedup` keeps the first member of each planted semantic pair (whose
    * members share one embedding) and drops the second. IVF recall meets
    * the floor.
    */
  def check(c: Ctx, in: String, out: String, p: Pass): Seq[String] = {
    val truth = c.spark.read.parquet(s"$in/truth.parquet")
    def ids(df: DataFrame): Set[Long] = df.select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = ids(truth.filter(col("class") === Gen.Background ||
      (col("class").isin(Gen.ExactDup, Gen.NearDup, Gen.SemPair) && col("doc_id") % 4 === 0)))
    val manifest = ids(c.spark.read.schema("doc_id BIGINT").json(s"$out/manifest"))
    val byClass = truth.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def sample(xs: Set[Long]) = xs.toSeq.sorted.take(5).map(i => s"$i(${byClass.getOrElse(i, "?")})")
      .mkString(", ")
    val extra = manifest -- expected
    val missing = expected -- manifest
    val floor = c.param("recall_floor")
    Seq(
      extra.headOption.map(_ => s"manifest kept ${extra.size} documents it should drop: ${sample(extra)}"),
      missing.headOption.map(_ => s"manifest lost ${missing.size} documents it should keep: ${sample(missing)}"),
      recallOf(p) match {
        case None => Some("index build failed")
        case Some((r, _)) if r < floor => Some(f"IVF recall@10 $r%.4f is below the floor $floor%.4f")
        case _ => None
      }
    ).flatten
  }

  /** The manifest's content and both recalls. */
  def outputs(c: Ctx, in: String, out: String, p: Pass): Map[String, String] =
    Map("manifest" -> Workload.digest(Workload.checksum(c.spark.read.json(s"$out/manifest"))),
      "recall" -> recallOf(p).toString)

  def namedMetrics(c: Ctx, in: String, out: String, p: Pass): Map[String, (Double, String)] = {
    val docs = c.spark.read.parquet(s"$in/corpus.parquet").count()
    val manifest = c.spark.read.schema("doc_id BIGINT").json(s"$out/manifest").count()
    def walls(kind: String) = p.ops.recs.filter(_.kind == kind).map(_.wallNs / 1e9).toSeq
    Map(
      "curate_docs_per_s" -> (docs * walls("curate").size / walls("curate").sum, "docs/s"),
      "manifest_share" -> (manifest.toDouble / docs, "ratio"),
      "index_build_s" -> (Workload.quantile(walls("index"), 0.5), "s"),
      "recall_at_10" -> (recallOf(p).map(_._1).getOrElse(Double.NaN), "ratio")) ++
      Workload.latency("search", walls("search"))
  }

  def layerMetrics(v: TraceView, p: Pass): Map[String, Double] = {
    val lsh = v.named("Dedup.minhashLshPairs")
    // Every LSH candidate pair enters the exact-Jaccard verification (a
    // filter, or a join condition once the optimizer pushes it there) on
    // its first input.
    val verify = v.nodes(lsh, _.detail.contains("graft_jaccard_sorted"))
    val candidates = verify.flatMap(_.childRows.headOption).filter(_ >= 0).sum.toDouble
    val pairs = v.outRows("Dedup.minhashLshPairs").toDouble
    val calls = math.max(1, v.named("Pipeline.prepCorpus").size)
    val km = v.named("Similarity.kmeansCells")
    val semIn = v.inRows("SemDedup.dedup").toDouble
    Map(
      "TextAnalysis.score_s" -> v.perCall("TextAnalysis.score"),
      "TextAnalysis.kept_ratio" -> v.inRows("Dedup.exact").toDouble / math.max(1L, v.outRows("TextAnalysis.score")),
      "Dedup.exact_s" -> v.perCall("Dedup.exact"),
      "Dedup.exact_dropped" -> (v.inRows("Dedup.exact") - v.outRows("Dedup.exact")).toDouble / calls,
      "Dedup.minhashLshPairs_s" -> v.perCall("Dedup.minhashLshPairs"),
      "Dedup.lsh_candidates" -> candidates / calls,
      "Dedup.lsh_pairs" -> pairs / calls,
      "Dedup.lsh_precision" -> (if (candidates > 0) pairs / candidates else 0.0),
      "Dedup.resolvePairs_s" -> v.perCall("Dedup.resolvePairs"),
      "Dedup.cc_jobs" -> v.jobs("Dedup.resolvePairs").toDouble / calls,
      // The CC input is the verified pair set (already distinct, id_a < id_b).
      "Dedup.cc_edges" -> pairs / calls,
      "Pipeline.prepCorpus_self_s" -> v.selfPerCall("Pipeline.prepCorpus"),
      "SemDedup.dedup_s" -> v.perCall("SemDedup.dedup"),
      "SemDedup.pairs" -> v.outRows("SemDedup.pairs").toDouble / calls,
      "SemDedup.dropped" -> (semIn - v.outRows("SemDedup.dedup")) / calls,
      "Similarity.kmeansCells_s" -> v.perCall("Similarity.kmeansCells"),
      "Similarity.kmeans_jobs_per_iter" ->
        v.jobs("Similarity.kmeansCells").toDouble / km.size / p.info("kmeans_iters").asInstanceOf[Int]
    ) ++ Layers.sinkWrites(v) ++ VectorSearch.layerMetrics(v, p.info("kmeans_iters").asInstanceOf[Int],
      p.info("pq_iters").asInstanceOf[Int], recallOf(p))
  }
}

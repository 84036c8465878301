package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

import graft.operators.{Pq, Similarity}

/** The retrieval half of [[LlmCurate]]: an IVF index (`Similarity.kmeansCells`,
  * the cell-labelled vectors written as parquet, `Similarity.centroidsOf`)
  * and a PQ codebook (`Pq.pqModel`, codes materialized) built over the
  * curated documents' embeddings, then query batches answered with
  * `Similarity.ivfTopKWith` and `Pq.pqTopKFromIndex`.
  */
object VectorSearch {
  val K = 10
  /** Query ids start here, so no query is a corpus vector. */
  val QueryIdBase = 1000000000L

  /** Query vectors from the corpus's topic centres, `search_batches` ×
    * `batch_queries` of them.
    */
  def generateQueries(c: Ctx, dir: String): Unit =
    Gen.vectors(c.spark, c.size("search_batches") * c.size("batch_queries"), c.size("dim").toInt,
      c.size("topics").toInt, c.param("spread"), c.seed, QueryIdBase, salt = 1).drop("cluster")
      .write.parquet(s"$dir/queries.parquet")

  /** What the build leaves for the queries. */
  final case class Index(vectors: DataFrame, cells: DataFrame, centroids: DataFrame,
                         codes: DataFrame, codebook: Pq.Codebook)

  private def dim(c: Ctx) = c.size("dim").toInt
  private def m(c: Ctx) = c.size("pq_m").toInt

  /** Build both indexes over `vectors` (`doc_id`, `embedding`). */
  def build(c: Ctx, vectors: DataFrame, out: String): Index = {
    val tr = c.tracer
    val spark = c.spark
    val cells = tr.lazyCall("Similarity.kmeansCells", vectors)(
      Similarity.kmeansCells(vectors, "embedding", "doc_id", c.size("ivf_cells").toInt,
        c.size("kmeans_iters").toInt))
    // The IVF index: the vectors with their cell label, stored once.
    vectors.join(cells, "doc_id").write.mode("overwrite").parquet(s"$out/ivf_index")
    val indexed = spark.read.parquet(s"$out/ivf_index")
    val centroids = tr.span("Similarity.centroidsOf") {
      val cs = Similarity.centroidsOf(indexed, "embedding", "cell")
      spark.createDataFrame(cs.collect().toSeq.asJava, cs.schema)
    }
    val (codes, codebook) = tr.span("Pq.pqModel") {
      val (codes, cb) = Pq.pqModel(vectors, "embedding", "doc_id", dim(c), m(c),
        c.size("pq_ksub").toInt, c.size("pq_iters").toInt)
      // Encodes the vectors and fills the codes cache.
      tr.span("trace.output:Pq.pqModel")(Workload.noop(codes))
      (codes, cb)
    }
    Index(vectors, indexed, centroids, codes, codebook)
  }

  /** Query rows in batch order, and their schema. */
  def queries(c: Ctx, in: String): (Seq[Row], StructType) = {
    val q = c.spark.read.parquet(s"$in/queries.parquet").withColumnRenamed("vec_id", "doc_id")
    (q.orderBy("doc_id").collect().toSeq, q.schema)
  }

  def batch(c: Ctx, q: (Seq[Row], StructType), b: Int): DataFrame = {
    val per = c.size("batch_queries").toInt
    c.spark.createDataFrame(q._1.slice(b * per, (b + 1) * per).asJava, q._2)
  }

  private def ivf(c: Ctx, ix: Index, q: DataFrame): DataFrame =
    Similarity.ivfTopKWith(ix.cells, q, ix.centroids, "embedding", "doc_id", "cell", K,
      c.size("n_probe").toInt)

  private def pq(c: Ctx, ix: Index, q: DataFrame): DataFrame =
    Pq.pqTopKFromIndex(ix.codes, ix.codebook, q, "embedding", "doc_id", dim(c), m(c), K)

  /** Answer one batch by IVF and by PQ, materializing both answers. */
  def search(c: Ctx, ix: Index, q: DataFrame): Unit =
    if (c.tracer.enabled) {
      c.tracer.lazyCall("Similarity.ivfTopK", q)(ivf(c, ix, q))
      c.tracer.lazyCall("Pq.pqTopKFromIndex", q)(pq(c, ix, q))
    } else {
      Workload.noop(ivf(c, ix, q))
      Workload.noop(pq(c, ix, q))
    }

  /** Mean recall@K of IVF and of PQ answers against exact search over all
    * query batches.
    */
  def recall(c: Ctx, ix: Index, q: (Seq[Row], StructType)): (Double, Double) = {
    val all = c.spark.createDataFrame(q._1.asJava, q._2)
    def answers(df: DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "vec_id").collect().groupBy(_.getLong(0))
        .map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
    val exact = answers(Similarity.bruteForceTopK(ix.vectors, all, "embedding", "doc_id", K))
    def score(got: Map[Long, Set[Long]]) =
      exact.map { case (qid, want) => (got.getOrElse(qid, Set.empty) & want).size.toDouble / want.size }
        .sum / math.max(1, exact.size)
    (score(answers(ivf(c, ix, all))), score(answers(pq(c, ix, all))))
  }

  def layerMetrics(v: TraceView, kmeansIters: Int, pqIters: Int,
                   recall: Option[(Double, Double)]): Map[String, Double] = {
    val ivfSpans = v.named("Similarity.ivfTopK")
    // Rows out of the probe join are the (query, candidate) pairs scored.
    val scored = v.metricSum(ivfSpans, _.name == "BroadcastHashJoin", "numOutputRows").toDouble
    val queries = v.inRows("Similarity.ivfTopK").toDouble
    val pqm = v.named("Pq.pqModel")
    Map(
      "Similarity.ivfTopK_s" -> v.perCall("Similarity.ivfTopK"),
      "Similarity.scored_per_query" -> (if (queries > 0) scored / queries else 0.0),
      "Similarity.recall_at_10" -> recall.map(_._1).getOrElse(0.0),
      "Pq.pqModel_s" -> v.perCall("Pq.pqModel"),
      "Pq.jobs_per_iter" -> v.jobs("Pq.pqModel").toDouble / pqm.size / pqIters,
      "Pq.pqTopKFromIndex_s" -> v.perCall("Pq.pqTopKFromIndex"),
      "Pq.recall_at_10" -> recall.map(_._2).getOrElse(0.0))
  }
}

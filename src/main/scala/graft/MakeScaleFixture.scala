package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic corpus generator for SCALE REHEARSAL: emits
  * `documents.parquet` + `embeddings.parquet` shaped like the driver
  * fixtures (same schema, vocabulary, length/lang/source distributions,
  * planted exact-dup and near-dup rates, label-clustered unit
  * embeddings) at any multiplier — so the heavy queries can be timed at
  * 1× vs 10× with the FIXTURE generator held constant and the ratio is
  * a pure data-scaling measurement, not a fixture-difference artifact.
  *
  * Everything is expression-level (xxhash64-seeded word/noise picks over
  * `spark.range`), so generation itself is distributed and
  * deterministic: no driver-side row building, no RNG state — the same
  * (id, multiplier) always yields the same row on any partitioning.
  *
  * [[MakeSf]] writes these tables at every SF (base sizes: 5000
  * documents / 2000 embeddings, the sf0.1 shape).
  */
object MakeScaleFixture {

  /** The driver fixtures' 31-word vocabulary (TESTDATA.md corpora). */
  val Vocab: Seq[String] = Seq(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")

  private def h(cols: Column*): Column = xxhash64(cols: _*)

  /** Word-salad text for a seed column: 8–92 words drawn by hash, the
    * sf0.1 length regime (avg ≈ 50 words ≈ 290 chars).
    */
  private def textOf(seed: Column): Column = {
    val vocabArr = array(Vocab.map(lit): _*)
    val nWords = (pmod(h(seed, lit(0)), lit(85)) + 8).cast("int")
    array_join(
      transform(sequence(lit(1), nWords),
        i => element_at(vocabArr, pmod(h(seed, i), lit(Vocab.size)).cast("int") + 1)),
      " ")
  }

  /** Documents: per-mille 2 exact duplicates (seed = id − 2, byte-equal
    * text) and per-cent 1 near duplicates (seed = id − 1 plus one
    * appended word → high-Jaccard pair), matching the sf0.1 planted
    * rates; lang/source assignment mirrors the observed mix (~41% en,
    * the rest even across zh/es/fr/de; 20 sources).
    */
  def documents(spark: SparkSession, n: Long): DataFrame = {
    val id = col("id")
    val exactDup = pmod(id, lit(500)) === 499
    val nearDup = !exactDup && pmod(id, lit(100)) === 99
    val seed = when(exactDup, id - 2).when(nearDup, id - 1).otherwise(id)
    val baseText = textOf(seed)
    val text = when(nearDup,
        concat(baseText, lit(" "),
          element_at(array(Vocab.map(lit): _*),
            pmod(h(id, lit(7)), lit(Vocab.size)).cast("int") + 1)))
      .otherwise(baseText)
    val langPick = pmod(h(id, lit(1)), lit(100))
    val lang = when(langPick < 41, "en").when(langPick < 56, "zh")
      .when(langPick < 71, "es").when(langPick < 86, "fr").otherwise("de")
    spark.range(n).select(
      id.as("doc_id"),
      text.as("text"),
      lang.as("lang"),
      concat(lit("src"), pmod(h(id, lit(2)), lit(20))).as("source"),
      length(text).cast("long").as("n_chars"))
  }

  /** Embeddings: 10 hash-derived unit-ish cluster centers, members =
    * normalize(center + 0.5 · noise) — unit-norm 64-d vectors with real
    * cluster structure, like the driver fixture's labeled corpus.
    */
  def embeddings(spark: SparkSession, n: Long, dim: Int = 64): DataFrame = {
    val id = col("id")
    val label = pmod(h(id, lit(3)), lit(10)).cast("int")
    def coef(seedA: Column, seedB: Column): Column =
      pmod(h(seedA, seedB), lit(2000001L)).cast("double") / 1000000.0 - 1.0
    val raw = transform(sequence(lit(0), lit(dim - 1)),
      i => coef(label.cast("long") * 1000 + 7, i) + coef(id, i + 100000) * 0.5)
    val norm = sqrt(aggregate(raw, lit(0.0), (acc, v) => acc + v * v))
    spark.range(n).select(
      id.as("vec_id"),
      transform(raw, v => (v / norm).cast("float")).as("embedding"),
      label.as("label"))
  }
}

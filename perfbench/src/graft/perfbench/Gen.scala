package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is an xxhash64 of (seed, row id,
  * salt), so generation is distributed and the same seed gives the same
  * rows on any partitioning. The engine only ever sees the parquet files
  * these frames are written to.
  */
object Gen {
  /** 2023-11-14T22:13:20Z, the epoch of every generated timeline. */
  val T0 = 1700000000000L
  val DayMs = 86400000L
  val CommitMs = 60000L

  def h(seed: Long, cs: Column*): Column = xxhash64((lit(seed) +: cs): _*)
  def pick(seed: Long, n: Long, cs: Column*): Column = pmod(h(seed, cs: _*), lit(n))
  private def s(i: Int): Column = lit(i)
  /** Floor division of a non-negative long column. */
  def idiv(a: Column, b: Long): Column = ((a - pmod(a, lit(b))) / b).cast("long")

  // ---------------------------------------------------------------- events

  val EventTypes: Seq[String] = Seq("view", "click", "purchase", "signup", "share")

  /** Events-shaped table: unique ms timestamps one second apart (so
    * `scd-latest` has no ties), ~3% null-or-empty `event_type` (removed by
    * the non-nullable filter), 5% null `value`, a JSON-ish `props` string.
    */
  def events(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val id = col("id")
    val users = math.max(1L, n / 10)
    val nullPick = pick(seed, 100, id, s(4))
    spark.range(n).select(
      id.as("event_id"),
      timestamp_millis(lit(T0) + id * 1000L + pick(seed, 1000, id, s(2))).as("ts"),
      pick(seed, users, id, s(1)).as("user_id"),
      when(nullPick < 2, lit(null).cast("string")).when(nullPick < 3, lit(""))
        .otherwise(element_at(array(EventTypes.map(lit): _*),
          pick(seed, EventTypes.size, id, s(3)).cast("int") + 1)).as("event_type"),
      when(pick(seed, 100, id, s(5)) < 5, lit(null).cast("double"))
        .otherwise(pick(seed, 100000, id, s(6)).cast("double") / 100.0).as("value"),
      concat(lit("{\"page\":\"/p/"), pick(seed, 500, id, s(7)).cast("string"),
        lit("\",\"ref\":\"r"), pick(seed, 40, id, s(8)).cast("string"),
        lit("\",\"qty\":"), pick(seed, 9, id, s(9)).cast("string"), lit("}")).as("props"))
  }

  /** Event time `frac` of the way through an `n`-row events table. */
  def eventMs(n: Long, frac: Double): Long = T0 + (n * frac).toLong * 1000L

  // ------------------------------------------------------------ change log

  val Statuses: Seq[String] = Seq("new", "active", "paused", "closed")

  /** Per-key change history. Each key is inserted at a uniform time in the
    * span, then gets 0–3 updates (a pre/post image pair each) and, for 15%
    * of keys, a final delete; events past the span are cut. A key's events
    * lie at least an hour apart, so they never share a commit. Commits fall on one-minute slots with a per-commit
    * ms offset; every row of a commit has the same `_commit_timestamp`.
    * Returns one row per change event: (row_id, j, kind, cts) where
    * `cts` is the commit time in ms and `j` the payload version.
    */
  def keyEvents(spark: SparkSession, keys: Long, spanMs: Long, seed: Long): DataFrame = {
    val k = col("id")
    val nUpd = pick(seed, 4, k, s(1))
    val del = when(pick(seed, 100, k, s(2)) < 15, 1).otherwise(0)
    val tIns = lit(T0) + pick(seed, spanMs, k, s(3))
    val gap = lit(3600000L) + pick(seed, 3 * DayMs, k, s(4))
    val lastSlot = spanMs / CommitMs - 1
    spark.range(keys)
      .select(k.as("row_id"), nUpd.as("n_upd"), del.as("del"), tIns.as("t_ins"), gap.as("gap"))
      .select(col("*"), explode(sequence(lit(0), col("n_upd") + col("del"))).as("j"))
      .withColumn("slot", idiv(col("t_ins") + col("j") * col("gap") - T0, CommitMs))
      .filter(col("slot") < lastSlot)
      .select(col("row_id"), col("j"),
        when(col("j") === 0, "insert").when(col("j") <= col("n_upd"), "update")
          .otherwise("delete").as("kind"),
        (lit(T0) + col("slot") * CommitMs + pick(seed, 997, col("slot"), s(5))).as("cts"))
  }

  /** Delta-CDF-shaped change log from [[keyEvents]]: data columns plus
    * `_change_type` and `_commit_timestamp`. An update emits its pre-image
    * (payload j−1) and post-image (payload j); a delete carries the last
    * payload.
    */
  def changeLog(events: DataFrame, seed: Long): DataFrame = {
    val ct = explode(when(col("kind") === "update",
        array(lit("update_preimage"), lit("update_postimage")))
      .otherwise(array(col("kind"))))
    val rows = events.select(col("row_id"), col("j"), col("cts"), ct.as("_change_type"))
    val v = when(col("_change_type") === "update_preimage" || col("_change_type") === "delete",
      col("j") - 1).otherwise(col("j"))
    rows.select(
      col("row_id"),
      concat(lit("user-"), col("row_id").cast("string")).as("name"),
      (pick(seed, 1000000, col("row_id"), v, s(6)).cast("double") / 100.0).as("amount"),
      element_at(array(Statuses.map(lit): _*),
        pick(seed, Statuses.size, col("row_id"), v, s(7)).cast("int") + 1).as("status"),
      timestamp_millis(col("cts")).as("updated_at"),
      col("_change_type"),
      timestamp_millis(col("cts")).as("_commit_timestamp"))
  }

  /** Keys live at `tMs` by the generator's own event list: inserted at or
    * before `tMs` and not deleted at or before it.
    */
  def liveKeys(events: DataFrame, tMs: Long): Long =
    events.groupBy("row_id")
      .agg(min(when(col("kind") === "insert", col("cts"))).as("ins"),
        max(when(col("kind") === "delete", col("cts"))).as("del"))
      .filter(col("ins") <= tMs && (col("del").isNull || col("del") > tMs))
      .count()

  // ---------------------------------------------------------------- corpus

  /** The repo fixtures' 31-word English vocabulary. */
  val Vocab: Seq[String] = graft.MakeScaleFixture.Vocab
  /** Words with Spanish markers and no English marker. */
  val Foreign: Seq[String] = Seq("el", "los", "una", "datos", "tabla", "fila", "clave",
    "valor", "rapido", "lento", "grupo", "orden")

  val Background = "background"
  val ExactDup = "exact"
  val NearDup = "near"
  val SemPair = "semantic"
  val ForeignLang = "foreign"
  val Short = "short"

  /** Document groups: `group` g yields `size` documents with ids
    * g·4 + member. Classes by the group's hash (per mille):
    *   - 30 foreign (one doc; Spanish markers, dropped by the language filter),
    *   - 20 short (one doc of 8–12 words, dropped by the quality floor),
    *   - 40 exact (2–4 byte-identical docs),
    *   - 60 near (2–4 docs: one base text, each member other than the first
    *     substitutes one word, so any two members share ≥ 0.86 of their
    *     word 3-grams),
    *   - 40 semantic (2 docs with unrelated texts and one embedding),
    *   - the rest background (one doc).
    * Texts start with "the" so the language is English, and have 60–100
    * words, so their quality is ≥ 0.75. Unrelated texts share a few
    * 3-grams out of ~30k, far below the 0.5 Jaccard threshold.
    */
  def corpusGroups(spark: SparkSession, groups: Long, seed: Long): DataFrame = {
    val g = col("id")
    val b = pick(seed, 1000, g, s(1))
    val cls = when(b < 30, ForeignLang).when(b < 50, Short).when(b < 90, ExactDup)
      .when(b < 150, NearDup).when(b < 190, SemPair).otherwise(Background)
    val size = when(cls.isin(ExactDup, NearDup), pick(seed, 3, g, s(2)) + 2)
      .when(cls === SemPair, 2).otherwise(1)
    spark.range(groups).select(g.as("group"), cls.as("class"), size.cast("int").as("size"))
  }

  private def words(seed: Long, vocab: Seq[String], n: Column, key: Column*): Column = {
    val arr = typedLit(vocab.toArray)
    transform(sequence(lit(1), n), i => element_at(arr, pick(seed, vocab.size, (key :+ i): _*)
      .cast("int") + 1))
  }

  def corpus(groups: DataFrame, dim: Int, topics: Int, spread: Double, seed: Long): DataFrame = {
    val g = col("group")
    val m = col("member")
    val docs = groups.select(col("*"), explode(sequence(lit(0), col("size") - 1)).as("member"))
    // Keys are doc ids: duplicate clusters share their first member's text,
    // every other doc has its own.
    val textKey = when(col("class").isin(ExactDup, NearDup), g * 4).otherwise(g * 4 + m)
    val nWords = when(col("class") === Short, pick(seed, 5, textKey, s(10)) + 8)
      .otherwise(pick(seed, 41, textKey, s(10)) + 60).cast("int")
    val base = words(seed, Vocab, nWords, textKey, s(11))
    val subPos = (pick(seed, 1000003, g, m, s(12)) % (nWords - 1)).cast("int") + 2
    val subWord = element_at(typedLit(Vocab.toArray), pick(seed, Vocab.size, g, m, s(13))
      .cast("int") + 1)
    val edited = when(col("class") === NearDup && m > 0,
      transform(base, (w, i) => when(i + 1 === subPos, subWord).otherwise(w))).otherwise(base)
    val foreignWords = words(seed, Foreign, nWords, textKey, s(14))
    val text = when(col("class") === ForeignLang, array_join(foreignWords, " "))
      .otherwise(concat(lit("the "), array_join(edited, " ")))
    // Embedding: the doc's topic centre plus `spread` of per-doc noise (the
    // same centres as [[vectors]]); both members of a semantic pair have the
    // same vector, so they share a k-means cell whatever the centroids.
    val embKey = when(col("class") === SemPair, g * 4).otherwise(g * 4 + m)
    val raw = transform(sequence(lit(0), lit(dim - 1)), i =>
      coef(seed, pick(seed, topics, embKey, s(15)), i, 21) + coef(seed, embKey, i, 22) * spread)
    withUnit(docs.select((g * 4 + m).as("doc_id"), text.as("text"), col("class"), col("group"),
      raw.as("_emb_raw")), col("_emb_raw"), "embedding").drop("_emb_raw")
  }

  /** Uniform in [-1, 1] from a hash. */
  private def coef(seed: Long, key: Column, i: Column, salt: Int): Column =
    pmod(h(seed, key, i, s(salt)), lit(2000001L)).cast("double") / 1000000.0 - 1.0

  /** `raw` scaled to unit length, as floats. Add it with [[withUnit]]: the
    * norm must be bound to a column first, or the lambda recomputes it per
    * component.
    */
  def withUnit(df: DataFrame, raw: Column, name: String): DataFrame =
    df.withColumn("_raw", raw)
      .withColumn("_norm", sqrt(aggregate(col("_raw"), lit(0.0), (acc, v) => acc + v * v)))
      .withColumn(name, transform(col("_raw"), v => (v / col("_norm")).cast("float")))
      .drop("_raw", "_norm")

  // --------------------------------------------------------------- vectors

  /** Clustered unit vectors: `clusters` hash-derived centres, each member
    * normalize(centre + spread · noise). Ids from `idBase`, cluster by hash.
    */
  def vectors(spark: SparkSession, n: Long, dim: Int, clusters: Int, spread: Double,
              seed: Long, idBase: Long = 0L, salt: Int = 0): DataFrame = {
    val id = col("id") + idBase
    val c = pick(seed, clusters, id, s(20 + salt))
    val raw = transform(sequence(lit(0), lit(dim - 1)), i =>
      coef(seed, c, i, 21) + coef(seed, id, i, 22 + salt) * spread)
    withUnit(spark.range(n).select(id.as("vec_id"), c.cast("int").as("cluster"), raw.as("_r")),
      col("_r"), "embedding").select("vec_id", "embedding", "cluster")
  }
}

package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators with the schemas of the engine's `events`,
  * `documents` and `embeddings` tables, and their distributions as
  * measured on the sf0.1 tables (100,000 events, 5,000 documents, 2,000
  * embeddings; the figures are listed in perfbench/README.md). The same
  * seed gives the same rows in the same files; the seed also sets the
  * row-to-file order. */
object Gen {

  val EventTypes = Seq("view", "click", "purchase", "signup", "error")
  private val Jan1Micros = 1704067200L * 1000000L
  private val MonthMicros = 30L * 86400L * 1000000L
  /** sf0.1 has 1,500 users over 100,000 events. */
  val UsersPerEvent = 0.015
  /** sf0.1 event values are exponential with mean 50. */
  val MeanValue = 50.0

  /** `n` events: ids in arrival order over 30 days (ts rises with the
    * id), users and event types uniform, values exponential, one of 100
    * item keys in `props`. */
  def events(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    def h(salt: Int) = xxhash64(col("id"), lit(seed), lit(salt))
    def unit(salt: Int) = pmod(h(salt), lit(Util.Prime)).cast("double") / Util.Prime.toDouble
    val users = math.max(1L, math.round(n * UsersPerEvent))
    spark.range(n).select(
      col("id").as("event_id"),
      timestamp_micros(lit(Jan1Micros) +
        floor((col("id").cast("double") + unit(1)) * (MonthMicros.toDouble / n))).as("ts"),
      pmod(h(2), lit(users)).as("user_id"),
      element_at(array(EventTypes.map(lit): _*), (pmod(h(3), lit(5L)) + 1).cast("int"))
        .as("event_type"),
      round(-log1p(-unit(4)) * MeanValue, 2).as("value"),
      concat(lit("{\"k\": "), pmod(h(5), lit(100L)).cast("string"), lit("}")).as("props"))
  }

  /** Write `df` as `files` parquet files whose row order and row-to-file
    * assignment depend on `seed`. */
  def writeShuffled(df: DataFrame, path: String, files: Int, seed: Long, key: String): Unit =
    df.withColumn("__o", xxhash64(col(key), lit(seed), lit(77)))
      .repartition(files, pmod(col("__o"), lit(files.toLong)))
      .sortWithinPartitions("__o").drop("__o")
      .write.mode("overwrite").parquet(path)

  /** The 30 words sf0.1's documents are drawn from, uniformly. */
  val Vocab: IndexedSeq[String] = ("spark window merge table column vector stream value " +
    "data small join filter big group hash customer sort order slow line part fast row " +
    "the agg key query a scan batch").split(" ").toIndexedSeq
  /** sf0.1's language mix: 41% en, about 15% each of the others. */
  val Langs: Seq[(String, Double)] = Seq("en" -> 0.40, "zh" -> 0.15, "es" -> 0.15, "fr" -> 0.15,
    "de" -> 0.15)
  /** sf0.1's share of documents that copy another one and append " dup". */
  val DupShare = 0.05

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  /** Documents of 10 to 99 words; 5% are another document's text with
    * " dup" appended, so two of them can also be exact duplicates. */
  def documents(spark: SparkSession, n: Int, seed: Long): DataFrame = {
    val rnd = new scala.util.Random(seed * 31 + 5)
    val base = Array.fill(n)(Seq.fill(10 + rnd.nextInt(90))(Vocab(rnd.nextInt(Vocab.size))).mkString(" "))
    val dup = Array.fill(n)(rnd.nextDouble() < DupShare)
    val originals = (0 until n).filterNot(dup).toIndexedSeq
    val texts = (0 until n).map(i => if (dup(i)) base(originals(rnd.nextInt(originals.size))) + " dup" else base(i))
    def lang(): String = {
      val u = rnd.nextDouble()
      Langs.scanLeft(("", 0.0)) { case ((_, acc), (l, p)) => (l, acc + p) }.tail
        .find(_._2 > u).map(_._1).getOrElse(Langs.head._1)
    }
    spark.createDataFrame((0 until n).map { i =>
      Doc(i.toLong, texts(i), lang(), s"src${i % 20}", texts(i).length.toLong)
    })
  }

  final case class Vec(vec_id: Long, embedding: Array[Float], label: Int)

  /** Unit embeddings of dimension 64 in uniformly random directions, with
    * a label from 0 to 9 that, as in sf0.1, carries no cluster structure
    * (sf0.1's nearest-neighbour cosine has median 0.41 and no pair above
    * 0.9). */
  def embeddings(spark: SparkSession, n: Int, seed: Long, dim: Int = 64): DataFrame = {
    val rnd = new scala.util.Random(seed * 17 + 3)
    spark.createDataFrame((0 until n).map { i =>
      val v = Array.fill(dim)(rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Vec(i.toLong, v.map(x => (x / norm).toFloat), rnd.nextInt(10))
    })
  }
}

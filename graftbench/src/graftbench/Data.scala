package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic inputs with the testdata schema, so the
  * benchmark needs no data from outside its checkout. Every value is a
  * hash of its row id; nothing depends on the run's seed.
  *
  *  - events: 100,000 rows over 30 UTC days, the sf0.1 shape that
  *    graft's marketing ETL reads (five event types, 2,000 users,
  *    `{"k": n}` props), which consolidates to about 12,000 metric keys;
  *  - documents: 5,000 word-bag texts over a 40-word vocabulary, with
  *    planted exact copies, near-duplicates and low-quality rows;
  *  - embeddings: 2,000 64-dim float vectors around 32 centres.
  */
object Data {
  val FirstDay = "2024-01-01"
  val Days = 30
  val BaseEvents = 100000L
  val BaseDocs = 5000
  val BaseVectors = 2000L

  private val dayMicros = 86400L * 1000000L
  private val startMicros =
    java.time.Instant.parse(s"${FirstDay}T00:00:00Z").getEpochSecond * 1000000L

  private def h(salt: Int): org.apache.spark.sql.Column =
    xxhash64(col("id"), lit(salt))

  def events(spark: SparkSession, n: Long = BaseEvents): DataFrame = {
    val t = pmod(h(5), lit(100))
    spark.range(n).select(
      col("id").as("event_id"),
      timestamp_micros(lit(startMicros) + pmod(h(1), lit(Days * dayMicros))).as("ts"),
      pmod(h(2), lit(2000L)).as("user_id"),
      when(t < 50, "view").when(t < 75, "click").when(t < 87, "signup")
        .when(t < 95, "error").otherwise("purchase").as("event_type"),
      (pmod(h(3), lit(20000L)) / 100.0).as("value"),
      concat(lit("{\"k\": "), pmod(h(4), lit(100L)).cast("string"), lit("}")).as("props"))
  }

  private val vocab: Array[String] = Array(
    "batch", "part", "spark", "line", "column", "order", "small", "sort", "fast",
    "value", "scan", "hash", "slow", "group", "agg", "filter", "big", "key",
    "window", "row", "table", "stream", "merge", "data", "query", "join",
    "vector", "customer", "the", "a", "index", "page", "shard", "token", "cache",
    "plan", "stage", "task", "file", "store")

  private def wordsText(r: java.util.SplittableRandom, n: Int): String =
    Seq.fill(n)(vocab(r.nextInt(vocab.length))).mkString(" ")

  /** (doc_id, text, lang, source, n_chars). Every 10th doc (i % 10 == 7)
    * is a near-duplicate of doc i−7 (two words replaced), every 50th
    * (i % 50 == 23) an exact copy of doc i−3, and every 40th
    * (i % 40 == 11) a low-quality digit run. */
  def documentRows(n: Int = BaseDocs): Seq[(Long, String, String, String, Long)] = {
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val r = new java.util.SplittableRandom(7919L * i + 17)
      val text =
        if (i % 10 == 7) {
          val w = texts(i - 7).split(" ")
          w(r.nextInt(w.length)) = "nova"
          w(r.nextInt(w.length)) = "delta"
          w.mkString(" ")
        } else if (i % 50 == 23) texts(i - 3)
        else if (i % 40 == 11) Seq.fill(8 + r.nextInt(8))(r.nextInt(1000).toString).mkString(" ")
        else wordsText(r, 12 + r.nextInt(60))
      texts(i) = text
      val langs = Array("en", "fr", "de", "zh")
      (i.toLong, text, langs(i % 4), s"src${i % 5}", text.length.toLong)
    }
  }

  def documents(spark: SparkSession, n: Int = BaseDocs): DataFrame = {
    import spark.implicits._
    documentRows(n).toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** The vec_id of the i-th vector of a [[graft.ScaleData]] copy set of
    * [[embeddings]]: copy c shifts ids by c·10^4, the power of ten above
    * the largest base id. */
  def vecId(i: Long): Long = (i / BaseVectors) * 10000L + i % BaseVectors

  def embeddings(spark: SparkSession, n: Long = BaseVectors): DataFrame = {
    val centre = "(pmod(xxhash64(label * 64 + k, 9), 2001) - 1000) / 1000.0"
    val noise = "(pmod(xxhash64(id * 64 + k, 11), 2001) + " +
      "pmod(xxhash64(id * 64 + k, 12), 2001) - 2000) / 1000.0"
    spark.range(n)
      .select(col("id"), pmod(h(8), lit(32L)).cast("int").as("label"))
      .select(col("id").as("vec_id"),
        expr(s"transform(sequence(0, 63), k -> cast($centre + $noise as float))")
          .as("embedding"),
        col("label"))
  }

  /** Write `df` as the single-file table `dir/name.parquet`. */
  def writeTable(df: DataFrame, dir: String, name: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
}

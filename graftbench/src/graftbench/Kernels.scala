package graftbench

import graft.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ns per row of graft's expression kernels, each timed over a workload's
  * own input: the projection with the kernel minus the same projection
  * with a plain column in its place, median of three noop-sink runs. The
  * kernels timed per workload are the graft expressions its executed
  * plans contain. */
object Kernels {
  val Names: Seq[String] = Seq("FeedKeyLong", "SumScaled", "HmacSha256", "DotF32",
    "DotDecimal", "IvfCells", "HashedShingles", "MinHashShingled", "WindowHashes", "TextStats")

  private def timeNs(df: DataFrame): Double = {
    val runs = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0).toDouble
    }
    Stats.median(runs)
  }

  private def nsPerRow(input: DataFrame, rows: Long, kernel: Column, plain: Column): Double = {
    timeNs(input.select(plain)) // warm both plans' code generation
    timeNs(input.select(kernel))
    math.max(0.0, (timeNs(input.select(kernel)) - timeNs(input.select(plain))) / rows)
  }

  private def nsPerRowAgg(input: DataFrame, rows: Long, kernel: Column, plain: Column): Double = {
    timeNs(input.agg(plain)); timeNs(input.agg(kernel))
    math.max(0.0, (timeNs(input.agg(kernel)) - timeNs(input.agg(plain))) / rows)
  }

  private def cached(df: DataFrame): (DataFrame, Long) = {
    val c = df.persist()
    (c, c.count())
  }

  /** The consolidation and export kernels over an events table. */
  private def etlKernels(spark: SparkSession, eventsDir: String): Map[String, Double] = {
    val (ev, n) = cached(graft.sources.Tables.events(spark, eventsDir))
    try Map(
      "FeedKeyLong" -> nsPerRow(ev, n, FeedKey.feed_key_long(col("ts"), col("user_id"),
        col("props"), col("event_type")), col("user_id")),
      "SumScaled" -> nsPerRowAgg(ev, n, SumScaled.sum_scaled(col("value"), 4), count(lit(1))),
      "HmacSha256" -> nsPerRow(ev, n, HmacSha256.hmac_sha256(col("props"),
        lit(graft.etl.EtlQueries.ExportSecret)), col("props")))
    finally ev.unpersist(blocking = true)
  }

  def forWorkload(spark: SparkSession, workload: String, dir: String): Map[String, Double] = {
    val timed: Map[String, Double] = workload match {
      case "api_serve" =>
        val (emb, n) = cached(graft.sources.Tables.embeddings(spark, s"$dir/emb"))
        val r = new java.util.SplittableRandom(5)
        val nlist = graft.operators.Ivf.autoNlist(n)
        val cents = Array.fill(nlist * 64)((r.nextDouble() - 0.5).toFloat)
        val vec = try Map(
          "DotF32" -> nsPerRow(emb, n, DotF32.dot_f32(col("embedding"), col("embedding")), col("vec_id")),
          "DotDecimal" -> nsPerRow(emb, n, DotDecimal.dot_decimal(col("embedding"), col("embedding")),
            col("vec_id")),
          "IvfCells" -> nsPerRow(emb, n, IvfCells.ivf_cells(col("embedding"), cents, 64, 1),
            col("vec_id")))
        finally emb.unpersist(blocking = true)
        // the store build and the export endpoint run the ETL kernels
        vec ++ etlKernels(spark, s"$dir/raw")
      case "corpus_arrival" =>
        val (docs, n) = cached(graft.sources.Tables.documents(spark, s"$dir/docs")
          .select(col("doc_id"), col("text"), split(col("text"), " ").as("wd")))
        try Map(
          "HashedShingles" -> nsPerRow(docs, n, HashedShingles.hashed_shingles(col("wd"), 3), col("wd")),
          "MinHashShingled" -> nsPerRow(docs, n, MinHashShingled.minhash_shingled(col("wd"), 3, 64),
            col("wd")),
          "WindowHashes" -> nsPerRow(docs, n, WindowHashes.window_hashes(col("wd"), 16), col("wd")),
          "TextStats" -> nsPerRow(docs, n, TextStats.text_stats(col("text")), col("text")))
        finally docs.unpersist(blocking = true)
    }
    Names.map(k => s"functions.$k.ns_per_row" -> timed.getOrElse(k, 0.0)).toMap
  }
}

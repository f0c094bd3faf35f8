package graftbench

import scala.jdk.CollectionConverters._

import graft.Caches
import graft.operators.Pipeline
import graft.sources.Tables
import graft.streaming.EventStream
import org.apache.spark.sql.functions._

/** The documents arrive as contiguous doc_id batches through the
  * composed corpus arrival loop ([[EventStream.arrivalCorpus]]'s per-batch
  * function: dedup → quality → split → decontaminate); each batch probes
  * the standing stores and writes seven batch directories. One closed-loop
  * producer: the next batch arrives only after the previous one is
  * committed.
  */
final class CorpusArrival(ctx: Ctx) extends Workload {
  val name = "corpus_arrival"
  private val spark = ctx.spark
  /** Batches the 5,000 documents are cut into; more than a run uses. */
  val Batches = 20
  /** The first cut batches, pushed at warm-up. */
  private val WarmupBatches = 2

  private var docsDir, storeDir = ""
  private lazy val cuts = Plan.batchCuts(ctx.seed, Data.BaseDocs, Batches)
  private var next = 0
  /** Store (files, bytes) after each traced batch, by op group. */
  private val storeAfter = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
  private var accepted = Double.NaN
  private var trainMs = Double.NaN
  private var corpusFullS = Double.NaN
  private var checkedRows = 0

  def inputs(dir: String): Unit = {
    docsDir = s"$dir/docs"; storeDir = s"$dir/store"
    Data.writeTable(Data.documents(spark), docsDir, "documents")
  }

  /** Docs [lo, hi) arrive as batch `id` of `store`. */
  private def push(store: String, id: Int, lo: Int, hi: Int): Long = {
    val batch = Tables.documents(spark, docsDir)
      .select(col("doc_id"), col("source"), col("text"))
      .filter(col("doc_id") >= lo && col("doc_id") < hi)
    ctx.tracer.span("streaming.batch")(graft.benchaccess.ArrivalBatch.corpus(batch, store, id))
    (hi - lo).toLong
  }

  /** The first two cut batches, outside the window: the first takes the
    * empty-store path, the second the standing-store path, so both have
    * their code generated and every timed batch probes a standing store. */
  def warmup(): Unit =
    (0 until WarmupBatches).foreach { i => push(storeDir, i, cuts(i), cuts(i + 1)); next += 1 }

  def run(deadline: Long): Seq[OpRec] = {
    Workload.loop(deadline, () => next < Batches) {
      val i = next
      val rec = ctx.op("batch")(_ => push(storeDir, i, cuts(i), cuts(i + 1)))
      if (ctx.traced) storeAfter.put(rec.group, storeSize())
      next += 1
      rec
    }
  }

  private def storeSize(): (Long, Long) = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(storeDir))
    try files.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p))
      .foldLeft((0L, 0L))((a, p) => (a._1 + 1, a._2 + java.nio.file.Files.size(p)))
    finally files.close()
  }

  def primary(recs: Seq[OpRec]): Seq[OpRec] = recs
  def inputRows(recs: Seq[OpRec]): Long = recs.filter(_.ok).map(_.rows).sum

  def check(): CheckResult = {
    val arrived = if (next == 0) 0 else cuts(next)
    val arrivedDir = s"${ctx.root}/arrived"
    Tables.documents(spark, docsDir).filter(col("doc_id") < arrived)
      .write.mode("overwrite").parquet(s"$arrivedDir/documents.parquet")
    val t0 = System.nanoTime()
    val got = Caches.withScope(EventStream.arrivalCorpusTrain(spark, storeDir).collect().toSeq)
    trainMs = (System.nanoTime() - t0) / 1e6
    val t1 = System.nanoTime()
    val want = Caches.withScope(Pipeline.corpusFull(spark, arrivedDir).collect().toSeq)
    corpusFullS = (System.nanoTime() - t1) / 1e9
    checkedRows = want.length
    val clean = if (next == 0) 0L
      else spark.read.parquet(s"$storeDir/clean").select("doc_id").distinct().count()
    accepted = if (arrived == 0) Double.NaN else clean.toDouble / arrived
    CheckResult.one(Checks.sameOrderedRows(got, want),
      s"arrivalCorpusTrain vs corpusFull over $arrived docs")
  }

  def detail(recs: Seq[OpRec]): Map[String, (Double, String)] = Map(
    "batch_p50_ms" -> (Stats.median(recs.filter(_.ok).map(_.ms)), "ms"),
    "batches" -> (recs.length.toDouble, "count"),
    "docs_arrived" -> ((if (next == 0) 0 else cuts(next)).toDouble, "count"),
    "train_rows" -> (checkedRows.toDouble, "count"))

  def layers(recs: Seq[OpRec]): Map[String, Double] = {
    val c = ctx.probes.get.collector
    val n = math.max(1, recs.length).toDouble
    val aggs = recs.map(r => c.agg(r.group))
    def per(k: String) = aggs.map(_.get(k)).sum / n
    val sizes = recs.flatMap(r => Option(storeAfter.get(r.group)))
    val files = CorpusArrival.OperatorFiles.flatMap { f =>
      Seq(s"operators.$f.jobs" -> per(s"file.$f.jobs"),
        s"operators.$f.task_ms" -> per(s"file.$f.task_ms"))
    } ++ CorpusArrival.StreamingFiles.map(f => s"streaming.$f.jobs" -> per(s"file.$f.jobs"))
    (files ++ Seq(
      "streaming.jobs" -> per("jobs"),
      "streaming.unattributed_jobs" -> (per("jobs") - CorpusArrival.AllFiles.map(f =>
        per(s"file.$f.jobs")).sum),
      "streaming.store_read_bytes" -> per("input_bytes"),
      "streaming.store_write_bytes" -> per("output_bytes"),
      "streaming.store_files" -> (if (sizes.isEmpty) 0.0 else sizes.last._1.toDouble),
      "streaming.store_bytes" -> (if (sizes.isEmpty) 0.0 else sizes.last._2.toDouble),
      "streaming.accepted_ratio" -> accepted,
      "streaming.train_ms" -> trainMs,
      "operators.Pipeline.corpusFull_s" -> corpusFullS)).toMap
  }
}

object CorpusArrival {
  val OperatorFiles: Seq[String] = Seq("Dedup", "Curation", "Clusters", "TextAnalysis", "Bpe")
  val StreamingFiles: Seq[String] = Seq("EventStream", "ArrivalStore")
  val AllFiles: Seq[String] = OperatorFiles ++ StreamingFiles
}

package graft.benchaccess

import org.apache.spark.sql.DataFrame

/** The benchmark drives the corpus arrival loop one batch at a time, as
  * graft.ArrivalBench does, through the loop's `private[graft]` per-batch
  * function: called on the benchmark's own thread, every Spark job a batch
  * runs keeps the call site of the graft file that ran it. */
object ArrivalBatch {
  def corpus(batch: DataFrame, storeDir: String, batchId: Long): Unit =
    graft.streaming.EventStream.corpusArrivalBatch(batch, storeDir, batchId,
      minQuality = 0.5, tau = 0.8, w = 16)
}

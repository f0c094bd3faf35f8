package graftbench

/** Figures of the consolidate-and-write step, read from the executed
  * plans of the write commands run since the probes were last drained. */
object EtlFigures {
  def fromLog(probes: Probes, sourceDir: String): Map[String, Double] = {
    probes.settle()
    val write = probes.qes.drain().map(_._2.executedPlan).filter(p => Plans.written(p)._1 > 0)
    val (files, bytes, _) = write.map(Plans.written).foldLeft((0L, 0L, 0L)) {
      case ((a, b, c), (x, y, z)) => (a + x, b + y, c + z) }
    val scans = write.flatMap(Plans.scans).filter(s => Plans.scanRoot(s).contains(sourceDir))
    val aggs = write.flatMap(Plans.aggregates)
    Map(
      "files_written" -> files.toDouble, "bytes_written" -> bytes.toDouble,
      "scan_ms" -> scans.map(Plans.metric(_, "scanTime")).sum.toDouble,
      "scan_bytes" -> scans.map(Plans.metric(_, "filesSize")).sum.toDouble,
      "scan_rows" -> scans.map(Plans.metric(_, "numOutputRows")).sum.toDouble,
      "agg_ms" -> aggs.map(Plans.metric(_, "aggTime")).sum.toDouble,
      // the top aggregate is consolidation's final one: one row per key
      "agg_rows_out" -> aggs.headOption.map(Plans.metric(_, "numOutputRows")).getOrElse(0L).toDouble)
  }

  def layers(figs: Seq[Map[String, Double]], writeMs: Double): Map[String, Double] = {
    def mean(k: String) = if (figs.isEmpty) 0.0 else figs.map(_(k)).sum / figs.length
    Map(
      "sources.Tables.scan_ms" -> mean("scan_ms"),
      "sources.Tables.scan_bytes" -> mean("scan_bytes"),
      "sources.Tables.scan_rows" -> mean("scan_rows"),
      "sources.MetricsStore.write_ms" -> writeMs,
      "sources.MetricsStore.files_written" -> mean("files_written"),
      "sources.MetricsStore.bytes_written" -> mean("bytes_written"),
      "etl.Consolidate.agg_ms" -> mean("agg_ms"),
      "etl.Consolidate.rows_in" -> mean("scan_rows"),
      "etl.Consolidate.rows_out" -> mean("agg_rows_out"))
  }
}

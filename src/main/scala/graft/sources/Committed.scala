package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Committed parquet stores resolved once per session: the serving
  * paths' relation memo.
  *
  * `spark.read.parquet` over a store root does two pieces of work before
  * the query it feeds can plan: it lists every leaf file (a distributed
  * listing job once the root holds more than
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` directories,
  * e.g. an IVF store's `cell=` tree) and infers the schema from a footer
  * (one more job). A serving path reads the same unchanged store on every
  * request, so it paid both per request. The DataFrame returned here
  * keeps its `InMemoryFileIndex`, so a reused one lists nothing and
  * infers nothing, while partition filters still prune through the
  * index's `listFiles(partitionFilters)`.
  *
  * Memo contract: a relation is keyed by the session and its stamp — the
  * sorted roots with each root's `_SUCCESS` length and modification
  * time — and is reused until a root's `_SUCCESS` changes. Every writer
  * of these stores (an overwrite, an arrival batch or its replay, a
  * compaction, a retrain cutover) commits a fresh `_SUCCESS`, so it is a
  * new stamp by construction. Files changed out of band without a new
  * `_SUCCESS` are not seen by this session; that needs a new session,
  * the same as Spark's `REFRESH TABLE`. The stamp assumes that two
  * commits of one root are at least one mtime tick of its filesystem
  * apart, or differ in marker length: 1 ms on a local filesystem and on
  * HDFS, 1 s on object stores such as S3. A root without `_SUCCESS` is
  * not memoized: it is read with a plain `spark.read` every time.
  */
object Committed {

  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** The relation over `roots` (read with `basePath` when given, so
    * partition columns above the roots survive), memoized as above. */
  def read(spark: SparkSession, roots: Seq[String],
           basePath: Option[String] = None): DataFrame = {
    def resolve(): DataFrame =
      basePath.fold(spark.read)(b => spark.read.option("basePath", b))
        .parquet(roots: _*)
    stamp(spark, roots) match {
      case None => resolve()
      case Some(s) =>
        if (memo.size > 64) memo.clear() // retired stamps
        memo.computeIfAbsent((spark, basePath.getOrElse("") + "\n" + s),
          _ => resolve())
    }
  }

  /** Sorted roots with each root's `_SUCCESS` length and mtime; None
    * when some root has no `_SUCCESS`. */
  private[graft] def stamp(spark: SparkSession, roots: Seq[String]): Option[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val marks = roots.sorted.map { r =>
      val marker = new org.apache.hadoop.fs.Path(r, "_SUCCESS")
      try {
        val s = marker.getFileSystem(conf).getFileStatus(marker)
        Some(s"$r:${s.getLen}:${s.getModificationTime}")
      } catch { case _: java.io.FileNotFoundException => None }
    }
    if (marks.forall(_.isDefined)) Some(marks.flatten.mkString("\n")) else None
  }
}

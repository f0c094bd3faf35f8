package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded around the benchmark's calls into each graft layer,
  * kept in memory until the run ends. Disabled, [[span]] is a plain call,
  * so untraced runs pay nothing for it.
  */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Long, parent: Long, name: String, request: Long,
                        start: Long, end: Long)

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue: List[Long] = Nil
  }
  private val request = new ThreadLocal[Long] {
    override def initialValue: Long = -1L
  }

  /** Run `body` as request `id`: spans opened inside carry it. */
  def forRequest[A](id: Long)(body: => A): A = {
    val prev = request.get()
    request.set(id)
    try body finally request.set(prev)
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, request.get(), t0, System.nanoTime()))
        stack.set(stack.get().tail)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Per span name: (spans, total ms, self ms). */
  def summary: Map[String, (Int, Double, Double)] = {
    val s = all
    val self = Stats.selfTimes(s.map(x => Stats.Interval(x.id, x.parent, x.start, x.end)))
    s.groupBy(_.name).map { case (n, xs) =>
      n -> (xs.length, xs.map(x => x.end - x.start).sum / 1e6, xs.map(x => self(x.id)).sum / 1e6)
    }
  }

  /** Total wall time in ms of the spans named `name`. */
  def totalMs(name: String): Double =
    all.filter(_.name == name).map(x => x.end - x.start).sum / 1e6
}

/** Counters folded from Spark listener events, keyed by the op that
  * caused them: its job group, or `batch=<id>` for jobs a streaming
  * micro-batch runs. Each job is also attributed to the source file of
  * its call site (the first frame outside Spark and Scala), which names
  * the graft file that ran an eager job.
  */
final class Collector extends SparkListener {
  final class Agg {
    val c = new ConcurrentHashMap[String, Double]()
    def add(k: String, v: Double): Unit = c.merge(k, v, (a: Double, b: Double) => a + b)
    def get(k: String): Double = c.getOrDefault(k, 0.0)
    def max(k: String, v: Double): Unit = c.merge(k, v, (a: Double, b: Double) => math.max(a, b))
  }

  private final case class JobInfo(key: String, file: String, submit: Long,
                                   listing: Boolean, var firstLaunch: Long = -1L)

  private val aggs = new ConcurrentHashMap[String, Agg]()
  private val jobs = new ConcurrentHashMap[Int, JobInfo]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val sqlSite = new ConcurrentHashMap[Long, String]()
  private val CallSite = """at ([A-Za-z0-9_$]+)\.scala:\d+""".r.unanchored

  // A SQL execution's description is the call site of the action on the
  // caller's thread; its broadcast and subquery jobs run on pool threads
  // whose own call site names no graft file.
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      sqlSite.put(s.executionId, s.description)
    case _ =>
  }

  def agg(key: String): Agg = aggs.computeIfAbsent(key, _ => new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    // a stream runs every batch under one job group (its run id), so the
    // batch id, when present, is the finer key
    val key = prop("streaming.sql.batchId").map("batch=" + _)
      .orElse(prop("spark.jobGroup.id"))
      .getOrElse("none")
    val site = prop("spark.sql.execution.id").flatMap(id => Option(sqlSite.get(id.toLong)))
      .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
    val file = site match {
      case CallSite(f) => f
      case _ => "unattributed"
    }
    val listing = prop("spark.job.description").exists(_.startsWith("Listing leaf files"))
    jobs.put(e.jobId, JobInfo(key, file, e.time, listing))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    val a = agg(key)
    a.add("jobs", 1)
    a.add("stages", e.stageInfos.size)
    a.add(s"file.$file.jobs", 1)
    if (listing) a.add("listing_jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      val a = agg(j.key)
      if (j.listing) a.add("listing_ms", e.time - j.submit)
      if (j.firstLaunch >= 0) a.add("job_wait_ms", j.firstLaunch - j.submit)
    }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id))).foreach { j =>
      j.synchronized { if (j.firstLaunch < 0) j.firstLaunch = e.taskInfo.launchTime }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
    val a = agg(j.map(_.key).getOrElse("none"))
    val m = e.taskMetrics
    val dur = e.taskInfo.finishTime - e.taskInfo.launchTime
    a.add("tasks", 1)
    if (m != null) {
      a.add("task_run_ms", m.executorRunTime)
      a.add("task_cpu_ms", m.executorCpuTime / 1e6)
      a.add("gc_ms", m.jvmGCTime)
      a.add("scheduler_delay_ms", math.max(0L, dur - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime))
      a.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      a.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      a.add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      a.max("peak_exec_mem_bytes", m.peakExecutionMemory)
      a.add("input_bytes", m.inputMetrics.bytesRead)
      a.add("output_bytes", m.outputMetrics.bytesWritten)
      j.foreach(x => a.add(s"file.${x.file}.task_ms", m.executorRunTime))
    }
  }
}

/** Query executions as the session reports them; drained after each op. */
final class QeLog extends QueryExecutionListener {
  val done = new ConcurrentLinkedQueue[(String, QueryExecution)]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    done.add((funcName, qe))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def drain(): Seq[(String, QueryExecution)] =
    Iterator.continually(done.poll()).takeWhile(_ != null).toSeq
}

/** Both listeners, attached to one session for a traced window. */
final class Probes(spark: SparkSession) {
  val collector = new Collector
  val qes = new QeLog
  def attach(): Unit = {
    spark.sparkContext.addSparkListener(collector)
    spark.listenerManager.register(qes)
  }
  /** Wait until every event posted so far has been folded. */
  def settle(): Unit = org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
}

/** Metric reads over executed physical plans (AQE off, so the executed
  * plan is the final one). */
object Plans {
  import org.apache.spark.sql.execution.FileSourceScanExec
  import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
  import org.apache.spark.sql.execution.command.DataWritingCommandExec

  def nodes(p: SparkPlan): Seq[SparkPlan] = p.collect { case x => x } ++
    p.collect { case x => x.subqueries }.flatten.flatMap(nodes)

  def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  def scans(p: SparkPlan): Seq[FileSourceScanExec] =
    nodes(p).collect { case s: FileSourceScanExec => s }

  def scanRoot(s: FileSourceScanExec): String =
    s.relation.location.rootPaths.headOption.map(_.toString).getOrElse("")

  def aggregates(p: SparkPlan): Seq[BaseAggregateExec] =
    nodes(p).collect { case a: BaseAggregateExec => a }

  /** (files, bytes, rows) written by a write command's plan. */
  def written(p: SparkPlan): (Long, Long, Long) =
    nodes(p).collect { case w: DataWritingCommandExec => w.cmd.metrics }
      .foldLeft((0L, 0L, 0L)) { case ((f, b, r), m) =>
        def v(k: String) = m.get(k).map(_.value).getOrElse(0L)
        (f + v("numFiles"), b + v("numOutputBytes"), r + v("numOutputRows"))
      }
}

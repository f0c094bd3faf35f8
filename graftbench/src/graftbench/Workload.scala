package graftbench

import org.apache.spark.sql.SparkSession

/** One timed operation: a request or a batch. */
final case class OpRec(kind: String, group: String, start: Long, end: Long,
                       ok: Boolean, rows: Long) {
  def ms: Double = (end - start) / 1e6
}

/** What every workload shares: the session, its temp root, the seed, and
  * the tracing state of the current window. */
final class Ctx(val spark: SparkSession, val root: String, val seed: Long,
                val nproc: Int) {
  @volatile var tracer: Tracer = new Tracer(false)
  @volatile var probes: Option[Probes] = None
  private val opIds = new java.util.concurrent.atomic.AtomicLong(0)

  def traced: Boolean = probes.isDefined

  /** Run one op under its own job group, timed; failures are recorded,
    * not thrown. */
  def op(kind: String)(body: String => Long): OpRec = {
    val id = opIds.incrementAndGet()
    val group = s"op-$id-$kind"
    val sc = spark.sparkContext
    // no job description: a SQL execution then takes its caller's call
    // site as its description, which attributes its pool-thread jobs
    sc.setJobGroup(group, null, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val (ok, rows) =
      try tracer.forRequest(id)(tracer.span(kind)((true, body(group))))
      catch {
        case e: Exception =>
          System.err.println(s"graftbench: $kind failed: $e")
          (false, 0L)
      } finally sc.clearJobGroup()
    OpRec(kind, group, t0, System.nanoTime(), ok, rows)
  }
}

/** The result of the output checks: answers checked and answers wrong. */
final case class CheckResult(attempted: Int, failures: Seq[String]) {
  def ++(o: CheckResult): CheckResult = CheckResult(attempted + o.attempted, failures ++ o.failures)
}
object CheckResult {
  def one(failure: Option[String], what: String): CheckResult =
    CheckResult(1, failure.map(f => s"$what: $f").toSeq)
}

trait Workload {
  def name: String

  /** Generate the workload's inputs under `dir`. */
  def inputs(dir: String): Unit

  /** Build the stores and indexes the ops read under `dir`, from the
    * inputs; returns the seconds per part (setup.store_build_s,
    * setup.index_build_s). Runs several times, each into a fresh `dir`. */
  def build(dir: String): Map[String, Double] = Map.empty

  /** Run once, untimed, what the first timed op would otherwise pay for:
    * code generation, class loading, first listings. */
  def warmup(): Unit

  /** Run ops until `deadline` (System.nanoTime), at least one; called
    * once per window and continuing where the previous window stopped. */
  def run(deadline: Long): Seq[OpRec]

  /** Ops whose latency is `op_p50_ms`. */
  def primary(recs: Seq[OpRec]): Seq[OpRec]

  /** Input rows (events or documents) consumed by `recs`; 0 for requests,
    * which consume no input stream. */
  def inputRows(recs: Seq[OpRec]): Long

  /** Output checks, outside the timed window. */
  def check(): CheckResult

  /** Workload-specific end-to-end figures (name -> (value, unit)). */
  def detail(recs: Seq[OpRec]): Map[String, (Double, String)]

  /** Per-layer metrics of the traced ops. */
  def layers(recs: Seq[OpRec]): Map[String, Double]
}

object Workload {
  /** `body`'s result and its wall time in seconds. */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Ops from `next` until `deadline` passes, at least one, while `more`. */
  def loop(deadline: Long, more: () => Boolean = () => true)(next: => OpRec): Seq[OpRec] = {
    val out = Seq.newBuilder[OpRec]
    do out += next while (System.nanoTime() < deadline && more())
    out.result()
  }
}

package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.jdk.CollectionConverters._

/** What Spark's listeners report while a block runs: the executed plans
  * of its queries, or the jobs it launched. Listener buses deliver
  * asynchronously, so a capture is read once it stops growing (bounded
  * wait).
  */
object Listened {

  /** One job: its `spark.job.description` (null unless set) and the
    * names of its stages (`<method> at <file>:<line>`). */
  final case class Job(description: String, stages: Seq[String]) {
    /** InMemoryFileIndex's distributed leaf-file listing. */
    def listing: Boolean = Option(description).exists(_.startsWith("Listing leaf files"))
    /** A `spark.read.parquet` footer read for the schema — the job whose
      * call site is the reader's `parquet` method. */
    def schemaInference: Boolean = !listing && stages.exists(_.startsWith("parquet at "))
  }

  /** Executed plans of every query `body` ran. */
  def plans(spark: SparkSession)(body: => Unit): Seq[SparkPlan] = {
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = captured.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; settle(captured.size) }
    finally spark.listenerManager.unregister(listener)
    captured.asScala.toSeq
  }

  /** Jobs `body` launched from this thread, including the broadcast and
    * listing jobs its queries spawn (they inherit the job group). */
  def jobs(spark: SparkSession)(body: => Unit): Seq[Job] = {
    val sc = spark.sparkContext
    val group = s"listened-${java.util.UUID.randomUUID()}"
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        if (p.exists(_.getProperty("spark.jobGroup.id") == group))
          captured.add(Job(p.get.getProperty("spark.job.description"),
            e.stageInfos.map(_.name)))
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try { body; settle(captured.size) }
    finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
    captured.asScala.toSeq
  }

  private def settle(size: => Int): Unit = {
    var last = -1
    var spins = 0
    while (size != last && spins < 60) {
      last = size; spins += 1; Thread.sleep(500)
    }
  }
}

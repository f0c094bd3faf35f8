package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.Caches
import graft.etl.{Consolidate, EtlQueries, Marketing, MetricsQueries}
import graft.operators.Ivf
import graft.sources.{MetricsStore, Tables}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Serving over stores built at set-up: the marketing endpoints from a
  * date-partitioned [[MetricsStore]], `/debug/matches` from the raw feed,
  * and k=10 ANN lookups from an arrival-grown IVF store. Two closed-loop
  * clients each send the [[Plan.Deck]] mix. Every answer is small, so
  * planning, scheduling, listing and partition pruning dominate.
  */
final class ApiServe(ctx: Ctx) extends Workload {
  val name = "api_serve"
  private val spark = ctx.spark
  private val Clients = 2
  private val K = 10
  private val VecFactor = 10
  private val ArrivalBatches = 1
  private val nVectors = Data.BaseVectors * VecFactor

  private var raw, store, emb, ann = ""
  private var nlist = 0
  private lazy val streams = (0 until Clients).map(c => Plan.requests(ctx.seed, c, nVectors))

  private val exports = new ConcurrentLinkedQueue[Seq[(String, String)]]()
  private val annAnswers = new ConcurrentLinkedQueue[(Long, Seq[Row])]()
  /** Traced per-op figures, keyed by op group. */
  private val opFigures = new java.util.concurrent.ConcurrentHashMap[String, Map[String, Double]]()
  private var recall = Double.NaN

  private val metricCols = Consolidate.keyCols ++ Seq(
    "clicks", "impressions", "cost", "leads", "opportunities", "closed_won",
    "revenue", "cpc", "cpa", "cvr_lead_to_opp", "cvr_opp_to_won", "roas")

  def inputs(dir: String): Unit = {
    raw = s"$dir/raw"; emb = s"$dir/emb"
    Data.writeTable(Data.events(spark), raw, "events")
    Data.writeTable(Data.embeddings(spark), s"$dir/embbase", "embeddings")
    Data.writeTable(graft.ScaleData.scaledEmbeddings(spark, s"$dir/embbase", VecFactor),
      emb, "embeddings")
  }

  override def build(dir: String): Map[String, Double] = {
    store = s"$dir/store"; ann = s"$dir/ann"
    val (_, storeS) = Workload.timed {
      MetricsStore.write(MetricsQueries.metrics(spark, raw), store)
    }
    val (_, index) = Workload.timed {
      nlist = Ivf.autoNlist(nVectors)
      // quantizer training registers its sample with Caches.scoped
      (0 until ArrivalBatches).foreach(i => Caches.withScope {
        val batch = Tables.embeddings(spark, emb).select(col("vec_id"), col("embedding"))
          .filter(pmod(xxhash64(col("vec_id")), lit(ArrivalBatches)) === i)
        Ivf.vectorArrivalBatch(batch, ann, i.toLong, nlist)
      })
    }
    Map("setup.store_build_s" -> storeS, "setup.index_build_s" -> index)
  }

  /** The store rows of [from, to] (to = None: open-ended), filtered in
    * date space so the range becomes partition pruning, then presented in
    * the metrics schema. */
  private def fromStore(from: String, to: Option[String]): DataFrame = {
    val d = col("date")
    val lo = lit(from).cast("date")
    MetricsStore.read(spark, store)
      .filter(to.fold(d >= lo)(t => d.between(lo, lit(t).cast("date"))))
      .withColumn("date", d.cast("string"))
      .select(metricCols.map(col): _*)
  }

  private def fromRaw(from: String, to: Option[String]): DataFrame =
    MetricsQueries.metricsForDays(spark, raw, from, to)

  private def frame(r: Plan.Request, src: (String, Option[String]) => DataFrame): DataFrame =
    r match {
      case Plan.Channel(ch, f, t, limit, offset) =>
        MetricsQueries.channelQuery(src(f, Some(t)), ch, f, t, limit, offset)
      case Plan.Funnel(c, f, t) => MetricsQueries.funnelQuery(src(f, Some(t)), c, f, t)
      case Plan.Export(d) =>
        EtlQueries.signExportRows(MetricsQueries.exportDaily(src(d, Some(d)), d))
          .select(col("channel"), col("campaign_id"), col("utm_campaign"),
            col("payload"), col("signature"))
      case Plan.Since(d) => MetricsQueries.filterSince(src(d, None), d)
      case Plan.Matches(c) =>
        MetricsQueries.matches(Marketing.adsFeed(spark, raw), Marketing.crmFeed(spark, raw), c)
      case Plan.Ann(_) => sys.error("ann is not a marketing request")
    }

  /** Days of the data a request's date range covers. */
  private def daysInRange(r: Plan.Request): Double = {
    def idx(d: String) = java.time.LocalDate.parse(Data.FirstDay).until(
      java.time.LocalDate.parse(d), java.time.temporal.ChronoUnit.DAYS).toDouble
    r match {
      case Plan.Channel(_, f, t, _, _) => idx(t) - idx(f) + 1
      case Plan.Funnel(_, f, t) => idx(t) - idx(f) + 1
      case Plan.Export(_) => 1
      case Plan.Since(d) => Data.Days - idx(d)
      case _ => 0
    }
  }

  private def annQueries(ids: Seq[Long]): DataFrame =
    Tables.embeddings(spark, emb).filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id").as("query_id"), col("embedding"))

  private def serve(r: Plan.Request, group: String): Long = {
    val t = ctx.tracer
    r match {
      case Plan.Ann(v) =>
        val rows = Caches.withScope {
          val df = t.span("operators.Ivf.plan")(Ivf.arrivalAnnServe(spark, ann, annQueries(Seq(v)), k = K))
          val out = t.span("operators.Ivf.exec")(df.collect().toSeq)
          if (ctx.traced) {
            val scan = Plans.scans(df.queryExecution.executedPlan)
              .filter(s => Plans.scanRoot(s).contains("/ann/"))
            opFigures.put(group, Map(
              "cells_probed" -> scan.map(Plans.metric(_, "numPartitions")).sum.toDouble,
              "candidate_rows" -> scan.map(Plans.metric(_, "numOutputRows")).sum.toDouble,
              "bytes_scanned" -> scan.map(Plans.metric(_, "filesSize")).sum.toDouble))
          }
          out
        }
        annAnswers.add(v -> rows)
        rows.length
      case _ =>
        Caches.withScope {
          val df = t.span(s"etl.${r.kind}.plan")(frame(r, fromStore))
          val rows = t.span(s"etl.${r.kind}.exec")(df.collect().toSeq)
          if (r.kind == "export")
            exports.add(rows.map(x => (x.getString(3), x.getString(4))))
          if (ctx.traced && r.kind != "matches") {
            val scans = Plans.scans(df.queryExecution.executedPlan)
            opFigures.put(group, Map(
              "partitions_read" -> scans.map(Plans.metric(_, "numPartitions")).sum.toDouble,
              "days_in_range" -> daysInRange(r)))
          }
          rows.length.toLong
        }
    }
  }

  /** `client(c)` on a thread of its own for every client; their ops. */
  private def onClients(client: Int => Seq[OpRec]): Seq[OpRec] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(streams.length)
    try {
      val fs = streams.indices.map { c =>
        pool.submit(new java.util.concurrent.Callable[Seq[OpRec]] {
          def call(): Seq[OpRec] = client(c)
        })
      }
      fs.flatMap(_.get())
    } finally pool.shutdown()
  }

  /** Half a deck per client, both at once, untimed: the planner and the
    * endpoints' code take several seconds of load to reach steady
    * latency. The two half decks hold every request kind. */
  def warmup(): Unit = onClients { c =>
    val it = streams(c)
    (0 until Plan.Deck.length / 2).foreach { _ => serve(it.next(), "warmup") }
    Nil
  }

  def run(deadline: Long): Seq[OpRec] = onClients { c =>
    val it = streams(c)
    Workload.loop(deadline) { val r = it.next(); ctx.op(r.kind)(serve(r, _)) }
  }

  def primary(recs: Seq[OpRec]): Seq[OpRec] = recs.filter(r => Plan.MarketingKinds.contains(r.kind))
  def inputRows(recs: Seq[OpRec]): Long = 0

  private var checkTimes = Map.empty[String, Double]

  def check(): CheckResult = {
    val sample = Plan.checkSample(ctx.seed, 1, nVectors)
    val (endpoints, endpointsS) = Workload.timed(sample.map { r =>
      val got = Caches.withScope(frame(r, fromStore).collect().toSeq)
      val want = Caches.withScope(r match {
        case Plan.Matches(c) => matchesOracle(c)
        case _ => frame(r, fromRaw).collect().toSeq
      })
      CheckResult.one(Checks.sameRows(got, want, if (r.kind == "matches") 1e-9 else 1e-12),
        s"$r store-served answer")
    }.reduce(_ ++ _))
    val sigs = exports.asScala.toSeq.map(e =>
      CheckResult.one(Checks.signatures(e, EtlQueries.ExportSecret), "export"))
      .foldLeft(CheckResult(0, Nil))(_ ++ _)
    val shapes = annAnswers.asScala.toSeq.map { case (v, rows) =>
      CheckResult.one(Checks.annShape(rows, Seq(v), K), s"ann $v")
    }.foldLeft(CheckResult(0, Nil))(_ ++ _)
    val ids = Plan.recallQueries(ctx.seed, 20, nVectors)
    val t0 = System.nanoTime()
    val approx = Caches.withScope(Ivf.arrivalAnnServe(spark, ann, annQueries(ids), k = K).collect().toSeq)
    val exact = bruteForceTopK(ids)
    checkTimes = Map("check.endpoints_s" -> endpointsS, "check.recall_s" -> (System.nanoTime() - t0) / 1e9)
    val recallShape = CheckResult.one(Checks.annShape(approx, ids, K), "recall queries")
    recall = ids.map { q =>
      val a = approx.filter(_.getLong(0) == q).map(_.getLong(2)).toSet
      (a intersect exact(q)).size.toDouble / K
    }.sum / ids.length
    val leaks = spark.sparkContext.getPersistentRDDs.values.map(_.toDebugString.linesIterator.next())
    val persisted = CheckResult.one(
      if (leaks.isEmpty) None else Some(s"persisted RDDs remain: ${leaks.mkString("; ")}"),
      "cache hygiene")
    endpoints ++ sigs ++ shapes ++ recallShape ++ persisted
  }

  /** Exact top-k neighbours by cosine over every stored vector, on the
    * driver: the answer a full-probe serve (nprobe = nlist, margin = n)
    * returns, which StreamingSpec pins equal to brute force. */
  private def bruteForceTopK(ids: Seq[Long]): Map[Long, Set[Long]] = {
    val all = Tables.embeddings(spark, emb).select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    def norm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
    val byId = all.toMap
    ids.map { q =>
      val qv = byId(q)
      val qn = norm(qv)
      q -> all.iterator.filter(_._1 != q).map { case (id, v) =>
        var dot = 0.0
        var i = 0
        while (i < v.length) { dot += v(i) * qv(i); i += 1 }
        (-(dot / (qn * norm(v))), id)
      }.toSeq.sorted.take(K).map(_._2).toSet
    }.toMap
  }

  /** /debug/matches recomputed from the raw events with plain Spark
    * functions, independent of graft's feed kernels. */
  private def matchesOracle(campaign: String): Seq[Row] = {
    val ev = Tables.events(spark, raw)
      .withColumn("camp", concat(lit("camp_"),
        (regexp_extract(col("props"), "[0-9]+", 0).cast("long") % 20).cast("string")))
      .filter(col("camp") === campaign)
    def side(name: String, types: Seq[String]) =
      ev.filter(col("event_type").isin(types: _*))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
        .select(lit(name).as("side"), col("n"), col("total_value"))
    side("ads", Seq("view", "click"))
      .unionByName(side("crm", Seq("signup", "error", "purchase"))).collect().toSeq
  }

  def detail(recs: Seq[OpRec]): Map[String, (Double, String)] = {
    val annMs = recs.filter(r => r.kind == "ann" && r.ok).map(_.ms)
    val lat = primary(recs).filter(_.ok).map(_.ms)
    val tail = Stats.tail(lat)
    Map(
      "ann_p50_ms" -> (if (annMs.isEmpty) Double.NaN else Stats.median(annMs), "ms"),
      "ann_samples" -> (annMs.length.toDouble, "count"),
      "recall_at_10" -> (recall, "ratio"),
      "op_samples" -> (lat.length.toDouble, "count")) ++
      checkTimes.map { case (k, v) => k -> (v, "s") } ++
      tail.map { case (p, v) => "op_tail_ms" -> (v, "ms") }.toSeq ++
      tail.map { case (p, _) => "op_tail_percentile" -> (p.toDouble, "pct") }.toSeq
  }

  /** The store build once more, traced: the consolidate-and-write layer
    * figures behind `setup.store_build_s`. */
  private def storeBuildLayers(): Map[String, Double] = {
    val probes = ctx.probes.get
    probes.settle()
    probes.qes.drain()
    val (_, s) = Workload.timed(MetricsStore.write(MetricsQueries.metrics(spark, raw),
      s"${ctx.root}/probe-store"))
    EtlFigures.layers(Seq(EtlFigures.fromLog(probes, "/raw/")), s * 1000)
  }

  def layers(recs: Seq[OpRec]): Map[String, Double] = storeBuildLayers() ++ {
    val col = ctx.probes.get.collector
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.length
    val perKind = Plan.MarketingKinds.flatMap { k =>
      val rs = recs.filter(_.kind == k)
      val n = math.max(1, rs.length).toDouble
      Seq(
        s"etl.$k.plan_ms" -> ctx.tracer.totalMs(s"etl.$k.plan") / n,
        s"etl.$k.exec_ms" -> ctx.tracer.totalMs(s"etl.$k.exec") / n,
        s"etl.$k.jobs" -> rs.map(r => col.agg(r.group).get("jobs")).sum / n,
        s"etl.$k.rows_out" -> rs.map(_.rows.toDouble).sum / n)
    }
    val fig = recs.flatMap(r => Option(opFigures.get(r.group)).map(r -> _))
    val served = fig.filter(_._2.contains("days_in_range"))
    val read = served.map(_._2("partitions_read")).sum
    val inRange = served.map(_._2("days_in_range")).sum
    val anns = recs.filter(_.kind == "ann")
    val annFig = fig.filter(_._1.kind == "ann").map(_._2)
    val nAnn = math.max(1, anns.length).toDouble
    (perKind ++ Seq(
      "sources.MetricsStore.partitions_read" -> (if (served.isEmpty) 0.0 else read / served.length),
      "sources.MetricsStore.prune_ratio" -> (if (inRange == 0) 0.0 else read / inRange),
      "operators.Ivf.plan_ms" -> ctx.tracer.totalMs("operators.Ivf.plan") / nAnn,
      "operators.Ivf.exec_ms" -> ctx.tracer.totalMs("operators.Ivf.exec") / nAnn,
      "operators.Ivf.eager_jobs" -> anns.map { r =>
        val a = col.agg(r.group); a.get("jobs") - a.get("file.ApiServe.jobs") }.sum / nAnn,
      "operators.Ivf.cells_probed" -> mean(annFig.map(_("cells_probed"))),
      "operators.Ivf.candidate_rows" -> mean(annFig.map(_("candidate_rows"))),
      "operators.Ivf.bytes_scanned" -> mean(annFig.map(_("bytes_scanned"))))).toMap
  }
}

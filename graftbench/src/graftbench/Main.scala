package graftbench

import org.apache.spark.sql.SparkSession

/** One benchmark run: generate a workload's inputs, build its stores
  * (several times, for a steady `setup_s`), warm it up, run it for the
  * window, check its answers, and print a detail line and then the result
  * line. `setup_s` = session start + inputs + median build + warm-up.
  *
  * Untraced (--trace 0), the result carries the end-to-end metrics. Traced
  * (--trace 1), the first half of the window runs untraced and the second
  * with spans and Spark listeners attached; the result carries the
  * per-layer metrics of the traced half plus the tracing overhead against
  * the untraced half.
  */
object Main {
  val SetupReps = 2

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "ops_per_s" -> "1/s", "heap_retained_mb" -> "MB")

  private val Engine: Seq[String] = Seq("jobs", "stages", "tasks", "job_wait_ms",
    "scheduler_delay_ms", "task_run_ms", "task_cpu_ms", "gc_ms", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "peak_exec_mem_bytes")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val code =
      if (args.contains("--selftest")) SelfTest.run()
      else try run(a) catch {
        case e: Throwable =>
          System.err.println("graftbench: run failed")
          e.printStackTrace()
          3
      } finally clean(a.get("root"))
    System.exit(code)
  }

  private def clean(root: Option[String]): Unit =
    root.map(new java.io.File(_)).filter(_.isDirectory).foreach { r =>
      Option(r.listFiles()).getOrElse(Array.empty).foreach(f =>
        org.apache.commons.io.FileUtils.deleteQuietly(f))
    }

  private def oneJobMs(spark: SparkSession): Seq[Double] = (0 until 5).map { _ =>
    val t0 = System.nanoTime()
    spark.range(1).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e6
  }

  private def heapRetainedMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  private def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.sum.toDouble)
  }

  def run(a: Map[String, String]): Int = {
    val root = a("root")
    val nproc = a("nproc").toInt
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val traceRun = a("trace") == "1"

    val (spark, sessionS) = Workload.timed(graft.Sessions.driver(nproc, s"$root/data"))
    val floorStart = oneJobMs(spark)
    val ctx = new Ctx(spark, root, seed, nproc)
    val wl: Workload = name match {
      case "api_serve" => new ApiServe(ctx)
      case "corpus_arrival" => new CorpusArrival(ctx)
    }

    val inputsDir = s"$root/data/inputs"
    val (_, inputsS) = Workload.timed(wl.inputs(inputsDir))
    val builds = (0 until SetupReps).map { i =>
      val (parts, s) = Workload.timed(wl.build(s"$root/data/setup-$i"))
      if (i > 0) org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$root/data/setup-${i - 1}"))
      (parts, s)
    }
    val (_, warmS) = Workload.timed(wl.warmup())
    val setupS = sessionS + inputsS + Stats.median(builds.map(_._2)) + warmS

    val window = seconds * 1000000000L
    val t0 = System.nanoTime()
    val (plain, traced, cg) =
      if (!traceRun) (wl.run(t0 + window), Nil, (0L, 0.0))
      else {
        val p = wl.run(t0 + window / 2)
        val probes = new Probes(spark)
        probes.attach()
        ctx.tracer = new Tracer(true)
        ctx.probes = Some(probes)
        val cg0 = codegen()
        val t = wl.run(t0 + window)
        val cg1 = codegen()
        probes.settle()
        (p, t, (cg1._1 - cg0._1, cg1._2 - cg0._2))
      }
    val recs = plain ++ traced
    val (checks, checkS) = Workload.timed(wl.check())
    val floorEnd = oneJobMs(spark)

    def e2e(rs: Seq[OpRec]): Map[String, Double] = {
      val lat = wl.primary(rs).filter(_.ok).map(_.ms)
      val span = if (rs.isEmpty) 1.0 else (rs.map(_.end).max - rs.map(_.start).min) / 1e9
      Map("op_p50_ms" -> (if (lat.isEmpty) Double.NaN else Stats.median(lat)),
        "ops_per_s" -> rs.count(_.ok) / span,
        "rows_per_s" -> wl.inputRows(rs) / span)
    }
    val layers: Map[String, Double] =
      if (!traceRun) Map.empty
      else {
        val c = ctx.probes.get.collector
        val keys = traced.map(_.group)
        val n = math.max(1, traced.length).toDouble
        val engine = Engine.map { k =>
          val v = keys.map(g => c.agg(g).get(k))
          s"spark.$k" -> (if (k == "peak_exec_mem_bytes") (0.0 +: v).max else v.sum / n)
        }
        val sources = Seq(
          "sources.listing_jobs" -> keys.map(g => c.agg(g).get("listing_jobs")).sum / n,
          "sources.listing_ms" -> keys.map(g => c.agg(g).get("listing_ms")).sum / n)
        val setupParts = ("setup.scale_s" -> inputsS) +:
          Seq("setup.store_build_s", "setup.index_build_s")
            .map(k => k -> Stats.median(builds.map(_._1.getOrElse(k, 0.0))))
        val (u, t) = (e2e(plain), e2e(traced))
        val overhead = Seq("op_p50_ms", "ops_per_s").map(k =>
          s"trace.overhead.$k" -> (t(k) / u(k) - 1.0))
        (engine ++ sources ++ setupParts ++ overhead ++ Seq(
          "setup.session_s" -> sessionS,
          "setup.warmup_s" -> warmS,
          "floor.one_job_ms" -> Stats.median(floorStart ++ floorEnd),
          "functions.codegen_compiles" -> cg._1 / n,
          "functions.codegen_ms" -> cg._2 / n,
          "trace.spans" -> ctx.tracer.all.length.toDouble) ++
          wl.layers(traced) ++ Kernels.forWorkload(spark, name, inputsDir)).toMap
      }
    val heapMb = heapRetainedMb()

    val opFailed = recs.count(!_.ok)
    val attempted = recs.length + checks.attempted
    val failed = opFailed + checks.failures.length
    val correct = failed == 0 && recs.nonEmpty
    checks.failures.foreach(f => System.err.println(s"graftbench: wrong answer: $f"))

    val u = e2e(plain)
    val endToEnd = Map("setup_s" -> setupS, "op_p50_ms" -> u("op_p50_ms"),
      "ops_per_s" -> u("ops_per_s"), "heap_retained_mb" -> heapMb)
    val spans = ctx.tracer.summary.toSeq.flatMap { case (n, (count, total, self)) =>
      Seq(s"span.$n.count" -> (count.toDouble, "count"),
        s"span.$n.total_ms" -> (total, "ms"), s"span.$n.self_ms" -> (self, "ms"))
    }
    val detail = wl.detail(plain) ++ spans ++
      (if (u("rows_per_s") > 0) Seq("rows_per_s" -> (u("rows_per_s"), "1/s")) else Nil) ++ Map(
      "failed_frac" -> (failed.toDouble / math.max(1, attempted), "ratio"),
      "floor.one_job_ms.start" -> (Stats.median(floorStart), "ms"),
      "floor.one_job_ms.end" -> (Stats.median(floorEnd), "ms"),
      "setup.session_s" -> (sessionS, "s"),
      "setup.warmup_s" -> (warmS, "s"),
      "setup.inputs_s" -> (inputsS, "s"),
      "setup.build_s.median" -> (Stats.median(builds.map(_._2)), "s"),
      "check_s" -> (checkS, "s"))
    val host = Map(
      "nproc" -> nproc.toString,
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
      "spark" -> spark.version,
      "jdk" -> System.getProperty("java.version"),
      "commit" -> System.getProperty("graftbench.commit", "unknown"),
      "workload" -> name, "seed" -> seed.toString, "seconds" -> seconds.toString,
      "trace" -> (if (traceRun) "1" else "0"))
    println(Json.obj(Seq(
      "host" -> Json.strs(host),
      "detail" -> Json.metrics(detail),
      "end_to_end" -> Json.metrics(endToEnd.map { case (k, v) =>
        k -> (v, EndToEnd.toMap.apply(k)) }),
      "wrong_answers" -> Json.arr(checks.failures.map(Json.str)))))
    val metrics =
      if (!traceRun) EndToEnd.map { case (k, unit) => k -> (endToEnd(k), unit) }
      else Layers.All.map { case (k, unit) =>
        val v = layers.getOrElse(k, 0.0)
        k -> (if (v.isNaN || v.isInfinite) 0.0 else v, unit)
      }
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.metrics(metrics.toMap, metrics.map(_._1)))))
    spark.stop()
    if (correct) 0 else 1
  }
}

/** Just enough JSON for the two output lines. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
  def strs(m: Map[String, String]): String = obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> str(v) })
  def metrics(m: Map[String, (Double, String)], order: Seq[String] = Nil): String = {
    val keys = if (order.nonEmpty) order else m.keys.toSeq.sorted
    obj(keys.map { k =>
      val (v, u) = m(k)
      k -> obj(Seq("value" -> num(v), "unit" -> str(u)))
    })
  }
}

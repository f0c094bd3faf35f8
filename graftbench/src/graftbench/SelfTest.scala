package graftbench

import org.apache.spark.sql.Row

/** The benchmark's own tests: generators, order statistics and the output
  * checks (each fed a corrupted answer). No Spark session is needed. Run
  * with `python3 graftbench/run.py --selftest`. */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def assert(cond: Boolean, msg: => String = "assertion failed"): Unit =
    if (!cond) throw new AssertionError(msg)

  def run(): Int = {
    failures = 0

    test("request streams are deterministic per seed") {
      val a = Plan.requests(7, 0, 20000).take(200).toSeq
      assert(a == Plan.requests(7, 0, 20000).take(200).toSeq)
      assert(a != Plan.requests(8, 0, 20000).take(200).toSeq, "seed does not change requests")
      assert(a != Plan.requests(7, 1, 20000).take(200).toSeq, "clients share a stream")
      assert(Plan.checkSample(7, 2, 20000) == Plan.checkSample(7, 2, 20000))
      assert(Plan.recallQueries(7, 20, 20000) == Plan.recallQueries(7, 20, 20000))
    }

    test("request mix and date ranges stay inside the data") {
      val rs = Plan.requests(3, 0, 20000).take(20 * 200).toSeq
      Seq("channel" -> 7, "funnel" -> 4, "export" -> 3, "since" -> 2, "matches" -> 1, "ann" -> 3)
        .foreach { case (k, n) =>
          // every deck holds the exact mix
          rs.grouped(20).foreach(d => assert(d.count(_.kind == k) == n, s"$k in $d")) }
      // the range lengths of every deck are the deck's; the seed moves the ranges
      val lengths = (seed: Long) => Plan.requests(seed, 0, 20000).take(20).collect {
        case Plan.Channel(_, f, t, _, _) => (f, t)
        case Plan.Funnel(_, f, t) => (f, t)
      }.map { case (f, t) => java.time.LocalDate.parse(f).until(java.time.LocalDate.parse(t)).getDays }.toSeq
      assert(lengths(3) == lengths(4), s"${lengths(3)} vs ${lengths(4)}")
      assert(lengths(3).min == 0 && lengths(3).max == Data.Days - 1, s"${lengths(3)}")
      val last = Plan.day(Data.Days - 1)
      rs.foreach {
        case Plan.Channel(_, f, t, _, _) => assert(f >= Plan.day(0) && f <= t && t <= last, s"$f..$t")
        case Plan.Funnel(_, f, t) => assert(f >= Plan.day(0) && f <= t && t <= last, s"$f..$t")
        case Plan.Ann(v) => assert(v >= 0 && v < 100000 && v % 10000 < Data.BaseVectors, s"vec $v")
        case _ =>
      }
    }

    test("batch cuts are deterministic, contiguous and near-equal") {
      val c = Plan.batchCuts(5, 5000, 40)
      assert(c == Plan.batchCuts(5, 5000, 40))
      assert(c != Plan.batchCuts(6, 5000, 40), "seed does not move the cuts")
      assert(c.head == 0 && c.last == 5000 && c.length == 41)
      val sizes = c.sliding(2).map { case Seq(a, b) => b - a }.toSeq
      assert(sizes.forall(s => s >= 75 && s <= 175), s"batch sizes $sizes")
    }

    test("synthetic documents are deterministic") {
      assert(Data.documentRows(300) == Data.documentRows(300))
    }

    test("tail rule picks the highest percentile with 10 samples beyond it") {
      assert(Stats.tailPercentile(19).isEmpty)
      assert(Stats.tailPercentile(20).contains(50))
      assert(Stats.tailPercentile(39).contains(50))
      assert(Stats.tailPercentile(40).contains(75))
      assert(Stats.tailPercentile(100).contains(90))
      assert(Stats.tailPercentile(199).contains(90))
      assert(Stats.tailPercentile(200).contains(95))
      assert(Stats.tailPercentile(1000).contains(99))
      val xs = (1 to 100).map(_.toDouble)
      assert(Stats.tail(xs).exists { case (p, v) => p == 90 && math.abs(v - 90.1) < 1e-9 },
        s"${Stats.tail(xs)}")
      assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
    }

    test("self time subtracts the union of child intervals") {
      import Stats.Interval
      val spans = Seq(
        Interval(1, 0, 0, 100),
        Interval(2, 1, 10, 30), Interval(3, 1, 20, 50), // overlapping children: 40
        Interval(4, 1, 90, 120), // clipped to the parent: 10
        Interval(5, 2, 12, 18)) // a grandchild only counts against its parent
      val s = Stats.selfTimes(spans)
      assert(s(1) == 50, s"root self ${s(1)}")
      assert(s(2) == 14, s"child self ${s(2)}")
      assert(s(3) == 30 && s(4) == 30 && s(5) == 6, s"$s")
    }

    val metricsRow = (cost: Double) =>
      Row("2024-01-02", "google_ads", "C-101", "camp_1", "google", "cpc", 10L, 40L, cost,
        2L, 1L, 1L, 5.5)

    test("endpoint check rejects one flipped cost") {
      val want = Seq(metricsRow(12.5), metricsRow(7.25).copy())
      assert(Checks.sameRows(want.reverse, want).isEmpty, "order must not matter")
      assert(Checks.sameRows(Seq(metricsRow(12.5), metricsRow(-7.25)), want).isDefined)
      assert(Checks.sameRows(Seq(metricsRow(12.5)), want).isDefined, "dropped row accepted")
    }

    test("signature check rejects one bad signature") {
      val secret = "admira_secret_example"
      val p = """{"channel":"google_ads","clicks":3}"""
      val good = Seq(p -> Checks.hmacHex(p, secret), "x" -> Checks.hmacHex("x", secret))
      assert(Checks.signatures(good, secret).isEmpty)
      val sig = good.head._2
      val bad = (sig.head match { case '0' => '1'; case _ => '0' }) + sig.tail
      assert(Checks.signatures(Seq(p -> bad) ++ good.tail, secret).isDefined)
      // RFC 4231 test case 2
      assert(Checks.hmacHex("what do ya want for nothing?", "Jefe") ==
        "5bdcc146bf60754e6a042426089575c75a003f089d2739839dec58b964ec3843")
    }

    test("corpus check rejects one dropped row") {
      val want = (0 until 5).map(i => Row(i.toLong, "src0", s"text $i", 2L, 0L))
      assert(Checks.sameOrderedRows(want, want).isEmpty)
      assert(Checks.sameOrderedRows(want.patch(2, Nil, 1), want).isDefined)
      assert(Checks.sameOrderedRows(want.reverse, want).isDefined, "order must matter")
    }

    test("ann check rejects a short answer") {
      val rows = (1 to 10).map(r => Row(7L, r.toLong, 100L + r, 0.5))
      assert(Checks.annShape(rows, Seq(7L), 10).isEmpty)
      assert(Checks.annShape(rows.init, Seq(7L), 10).isDefined)
      assert(Checks.annShape(rows, Seq(7L, 8L), 10).isDefined)
    }

    test("metric lists match BENCHMARK.json") {
      val manifest = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(System.getProperty("graftbench.manifest")))
      def listed(key: String) = {
        val it = manifest.get(key).elements()
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq
      }
      assert(listed("per_layer") == Layers.All, "per_layer differs from Layers.All")
      assert(listed("end_to_end") == Main.EndToEnd, "end_to_end differs from Main.EndToEnd")
      assert(Layers.All.map(_._1).distinct.length == Layers.All.length)
    }

    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    if (failures == 0) 0 else 1
  }
}

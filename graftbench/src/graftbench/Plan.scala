package graftbench

/** Seeded request and batch generators. The seed chooses request
  * parameters and batch cuts only; the data (see [[Data]]) never depends
  * on it. Every generator is a pure function of its arguments.
  */
object Plan {

  sealed trait Request { def kind: String }
  final case class Channel(channel: String, from: String, to: String,
                           limit: Int, offset: Int) extends Request { val kind = "channel" }
  final case class Funnel(campaign: String, from: String, to: String)
      extends Request { val kind = "funnel" }
  final case class Export(date: String) extends Request { val kind = "export" }
  final case class Since(date: String) extends Request { val kind = "since" }
  final case class Matches(campaign: String) extends Request { val kind = "matches" }
  final case class Ann(vecId: Long) extends Request { val kind = "ann" }

  /** The marketing endpoints, whose latency is `op_p50_ms`; `ann` is
    * reported apart from them. */
  val MarketingKinds: Seq[String] = Seq("channel", "funnel", "export", "since", "matches")

  val Channels: Seq[String] =
    Seq("google_ads", "facebook_ads", "tiktok_ads", "linkedin_ads",
      "newsletter_cpc", "newsletter_social")

  def day(i: Int): String = java.time.LocalDate.parse(Data.FirstDay).plusDays(i).toString

  /** One request slot of the deck: its kind and, for channel and funnel,
    * the days its date range spans, for since the days it reads. */
  final case class Card(kind: String, days: Int = 1)

  /** The mix as a deck of 20 cards: channel 7, funnel 4, export 3, since 2,
    * matches 1 and ann 3 (the 35/20/15/10/5/15 % weights). The order and
    * the range lengths are fixed and the kinds interleaved, so every
    * stretch of a client's requests holds close to the deck's mix and
    * range lengths whatever the seed: a window holds less than one deck
    * per client, and an ANN lookup or a 30-day range costs several 1-day
    * requests. The lengths span 1 to 30 days. */
  val Deck: Seq[Card] = Seq(
    Card("channel", 1), Card("funnel", 12), Card("export"), Card("ann"),
    Card("channel", 30), Card("since", 5), Card("channel", 8), Card("funnel", 3),
    Card("matches"), Card("channel", 22), Card("ann"), Card("export"),
    Card("funnel", 28), Card("channel", 15), Card("since", 20), Card("channel", 4),
    Card("ann"), Card("funnel", 18), Card("export"), Card("channel", 26))

  private def rng(seed: Long, stream: Long) =
    new java.util.SplittableRandom(seed * 1000003L + stream)

  /** A `len`-day date range at a random place inside the data's span. */
  private def range(r: java.util.SplittableRandom, len: Int): (String, String) = {
    val start = r.nextInt(Data.Days - len + 1)
    (day(start), day(start + len - 1))
  }

  /** The request of `card`, its remaining parameters drawn from `r`. */
  private def request(card: Card, r: java.util.SplittableRandom, nVectors: Long): Request =
    card.kind match {
      case "channel" =>
        val (f, t) = range(r, card.days)
        Channel(Channels(r.nextInt(Channels.length)), f, t, 30, 10 * r.nextInt(4))
      case "funnel" =>
        val (f, t) = range(r, card.days)
        Funnel(s"camp_${r.nextInt(20)}", f, t)
      case "export" => Export(day(r.nextInt(Data.Days)))
      case "since" => Since(day(Data.Days - card.days))
      case "matches" => Matches(s"camp_${r.nextInt(20)}")
      case "ann" => Ann(Data.vecId(r.nextLong(nVectors)))
    }

  /** The request sequence of one closed-loop client: the deck over and
    * over, client c starting at card 10·c so that the two clients are half
    * a deck apart. */
  def requests(seed: Long, client: Int, nVectors: Long): Iterator[Request] = {
    val r = rng(seed, 1 + client)
    val start = (Deck.length / 2 * client) % Deck.length
    Iterator.continually(Deck.drop(start) ++ Deck.take(start)).flatten.map(request(_, r, nVectors))
  }

  /** `perKind` requests of every marketing kind, for the output check. */
  def checkSample(seed: Long, perKind: Int, nVectors: Long): Seq[Request] = {
    val r = rng(seed, 101)
    MarketingKinds.flatMap(k => Seq.fill(perKind)(request(Card(k, 1 + r.nextInt(Data.Days)), r, nVectors)))
  }

  /** Query vector ids for the recall measurement. */
  def recallQueries(seed: Long, n: Int, nVectors: Long): Seq[Long] = {
    val r = rng(seed, 202)
    Iterator.continually(Data.vecId(r.nextLong(nVectors))).distinct.take(n).toSeq.sorted
  }

  /** Cut doc ids [0, n) into `k` contiguous, near-equal batches whose
    * boundaries are jittered by up to ±20 % of a batch. Returns the k+1
    * ascending cut points, first 0 and last n. */
  def batchCuts(seed: Long, n: Int, k: Int): Seq[Int] = {
    require(k >= 1 && n >= k, s"cannot cut $n docs into $k batches")
    val r = rng(seed, 404)
    val size = n.toDouble / k
    val jitter = (size * 0.2).toInt
    val inner = (1 until k).map { i =>
      val c = (i * size).round.toInt
      if (jitter == 0) c else c + r.nextInt(2 * jitter + 1) - jitter
    }
    (0 +: inner :+ n)
  }
}

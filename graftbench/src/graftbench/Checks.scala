package graftbench

import org.apache.spark.sql.Row

/** Output checks over collected answers. Each returns None when the
  * answer is right and Some(reason) when it is not; none needs Spark, so
  * the self-test can feed them corrupted answers directly.
  */
object Checks {

  private def cellEq(a: Any, b: Any, relTol: Double): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || math.abs(x - y) <= relTol * math.max(math.abs(x), math.abs(y))
    case (x: Row, y: Row) => rowEq(x, y, relTol)
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.length == y.length && x.zip(y).forall { case (p, q) => cellEq(p, q, relTol) }
    case _ => a == b
  }

  private def rowEq(a: Row, b: Row, relTol: Double): Boolean =
    a.length == b.length && (0 until a.length).forall(i => cellEq(a.get(i), b.get(i), relTol))

  /** Same multiset of rows, compared cell by cell after sorting both sides
    * on their printed form; doubles within `relTol` relative. */
  def sameRows(got: Seq[Row], want: Seq[Row], relTol: Double = 1e-12): Option[String] = {
    val g = got.sortBy(_.toString)
    val w = want.sortBy(_.toString)
    if (g.length != w.length) Some(s"${g.length} rows, expected ${w.length}")
    else g.zip(w).find { case (x, y) => !rowEq(x, y, relTol) }
      .map { case (x, y) => s"row $x, expected $y" }
  }

  /** Same rows in the same order (corpus and ANN answers are ordered). */
  def sameOrderedRows(got: Seq[Row], want: Seq[Row]): Option[String] =
    if (got.length != want.length) Some(s"${got.length} rows, expected ${want.length}")
    else got.zip(want).zipWithIndex.find { case ((x, y), _) => !rowEq(x, y, 0.0) }
      .map { case ((x, y), i) => s"row $i is $x, expected $y" }

  def hmacHex(payload: String, secret: String): String = {
    val mac = javax.crypto.Mac.getInstance("HmacSHA256")
    mac.init(new javax.crypto.spec.SecretKeySpec(secret.getBytes("UTF-8"), "HmacSHA256"))
    mac.doFinal(payload.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Every (payload, signature) pair re-signed with javax.crypto. */
  def signatures(rows: Seq[(String, String)], secret: String): Option[String] =
    rows.find { case (p, s) => hmacHex(p, secret) != s }
      .map { case (p, s) => s"signature $s does not sign $p" }

  /** An ANN answer (query_id, rank, vec_id, cosine) holds exactly k ranked
    * rows, 1..k, for every query asked. */
  def annShape(rows: Seq[Row], queries: Seq[Long], k: Int): Option[String] = {
    val byQ = rows.groupBy(_.getLong(0))
    queries.find { q =>
      val rs = byQ.getOrElse(q, Nil)
      rs.length != k || rs.map(_.getLong(1)).sorted != (1L to k.toLong) ||
        rs.exists(_.isNullAt(2))
    }.map(q => s"query $q has ${byQ.getOrElse(q, Nil).length} ranked rows, expected $k")
  }
}

package graftbench

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Response checks. Each returns None when the served JSON equals the
  * reference answer, or Some(reason) when it does not.
  */
object Checks {

  private def parse(s: String): JValue = JsonMethods.parse(s)

  private def rows(resp: String): List[JValue] = parse(resp) \ "rows" match {
    case JArray(rs) => rs
    case other => throw new IllegalArgumentException(s"no rows in response: ${resp.take(200)}")
  }

  private def num(v: JValue): Double = v match {
    case JInt(i) => i.toDouble
    case JLong(l) => l.toDouble
    case JDouble(d) => d
    case JDecimal(d) => d.toDouble
    case JString(s) => s.toDouble // NaN / Infinity are served as strings
    case JNull => Double.NaN
    case other => throw new IllegalArgumentException(s"not a number: $other")
  }

  private def long(v: JValue): Long = v match {
    case JInt(i) => i.toLong
    case JLong(l) => l
    case other => throw new IllegalArgumentException(s"not an integer: $other")
  }

  private def str(v: JValue): String = v match {
    case JString(s) => s
    case JInt(i) => i.toString
    case JLong(l) => l.toString
    case other => throw new IllegalArgumentException(s"not a string: $other")
  }

  /** Relative closeness for the floating aggregates (the reference sums
    * decimals exactly, as the server does; the rest is double math).
    */
  private def close(a: Double, b: Double): Boolean =
    (a.isNaN && b.isNaN) || math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** Runs a check, turning a malformed response into a failure. */
  private def guard(what: String)(f: => Option[String]): Option[String] =
    try f catch { case e: Exception => Some(s"$what: unreadable response (${e.getMessage})") }

  def cohortCount(resp: String, expected: Long): Option[String] = guard("cohort count") {
    val got = long(parse(resp) \ "n_subjects")
    if (got == expected) None else Some(s"cohort count $got, expected $expected")
  }

  def commitVersion(resp: String, expected: Long): Option[String] = guard("commit") {
    val got = long(parse(resp) \ "version")
    if (got == expected) None else Some(s"commit published v$got, expected v$expected")
  }

  def atomCounts(resp: String, expected: Seq[Long]): Option[String] = guard("atom counts") {
    val got = rows(resp).map(r => long(r \ "atom").toInt -> long(r \ "n_subjects"))
    val want = expected.zipWithIndex.map { case (n, i) => i -> n }
    if (got == want) None else Some(s"atom counts $got, expected $want")
  }

  /** (group, [min, max, avg, std, median], n) per group, in group order. */
  def itemStats(resp: String, by: String, expected: Seq[(String, Seq[Double], Long)]): Option[String] =
    guard("item stats") {
      val got = rows(resp).map { r =>
        (str(r \ by), Seq("min_q", "max_q", "avg_q", "std_q", "med_q").map(c => num(r \ c)), long(r \ "n_obs"))
      }
      val ok = got.length == expected.length && got.zip(expected).forall { case (g, e) =>
        g._1 == e._1 && g._3 == e._3 && g._2.zip(e._2).forall { case (a, b) => close(a, b) }
      }
      if (ok) None else Some(s"item stats $got, expected $expected")
    }

  def histogram(resp: String, expected: Seq[(Long, Long)]): Option[String] = guard("histogram") {
    val got = rows(resp).map(r => long(r \ "bucket") -> long(r \ "n"))
    if (got == expected) None else Some(s"histogram differs in ${got.diff(expected).take(3)}")
  }

  def frequencies(resp: String, field: String, expected: Seq[(String, Long)]): Option[String] =
    guard("frequencies") {
      val total = expected.map(_._2).sum.toDouble
      val got = rows(resp).map(r => (str(r \ field), long(r \ "n"), num(r \ "share")))
      val ok = got.length == expected.length && got.zip(expected).forall { case ((v, n, s), (ev, en)) =>
        v == ev && n == en && close(s, en / total)
      }
      if (ok) None else Some(s"frequencies $got, expected $expected")
    }

  def metadata(resp: String, expected: Seq[(Long, String, String)]): Option[String] = guard("metadata") {
    val got = rows(resp).map(r => (long(r \ "p_partkey"), str(r \ "p_name"), str(r \ "p_type")))
    if (got == expected) None else Some(s"metadata search ${got.take(3)}, expected ${expected.take(3)}")
  }

  /** An orders row as served: key, customer, status, price, date, priority. */
  type OrderRow = (Long, Long, String, Double, String, String)

  private def orderRow(r: JValue): OrderRow =
    (long(r \ "o_orderkey"), long(r \ "o_custkey"), str(r \ "o_orderstatus"),
      num(r \ "o_totalprice"), str(r \ "o_orderdate"), str(r \ "o_orderpriority"))

  /** `/status` after a maintained atom-count read: the maintained
    * cohort state stands at `tip`. Returns its `built_at_version` and
    * `applied_batches` (the version of its last full build and the
    * deltas advanced over since).
    */
  def cohortState(resp: String, tip: Long): Either[String, (Long, Long)] =
    try {
      val st = parse(resp) \ "cohort_state"
      val v = long(st \ "version")
      if (v != tip) Left(s"maintained cohort state at v$v, expected v$tip")
      else Right((long(st \ "built_at_version"), long(st \ "applied_batches")))
    } catch { case e: Exception => Left(s"status: unreadable response (${e.getMessage})") }

  def storeRead(resp: String, expected: Seq[OrderRow]): Option[String] = guard("store read") {
    val got = rows(resp).map(orderRow)
    if (got == expected) None
    else Some(s"store read of ${got.length} rows differs from the ledger's ${expected.length} " +
      s"at ${got.zipAll(expected, null, null).find(p => p._1 != p._2)}")
  }

  /** Change feed rows: (row, change) with change in insert/update/delete. */
  def changes(resp: String, expected: Seq[(OrderRow, String)]): Option[String] = guard("changes") {
    val got = rows(resp).map(r => orderRow(r) -> str(r \ "_change"))
    if (got == expected) None
    else Some(s"changes ${got.diff(expected).take(2)} not expected; missing ${expected.diff(got).take(2)}")
  }
}

package graftbench

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Seeded input generator. Everything a workload sends is a pure
  * function of `(seed, counts)`: the same seed yields byte-identical
  * request bodies and delta batches, another seed changes them.
  *
  * Request shapes are stratified: each run cycles through the same
  * fixed list of templates (groups, atoms per group, source of each
  * atom), and the seed only picks fields, operators, literals and the
  * order. So every run sends the same mix of query shapes, and a
  * latency median does not flip between shape modes from run to run.
  */
object Gen {

  /** One criterion of the cohort DSL (CohortQuery's field atom). */
  final case class Atom(source: String, field: String, op: String, value: JValue) {
    def json: JValue = JObject(
      "source" -> JString(source), "field" -> JString(field),
      "op" -> JString(op), "value" -> value)
  }

  /** An AND of OR-groups, minus the `not` atoms, over subjects. */
  final case class CohortSpec(groups: Seq[Seq[Atom]], not: Seq[Atom]) {
    def json: String = JsonMethods.compact(JObject(
      List("population" -> JString("subject"),
        "and" -> JArray(groups.map(g => JObject("or" -> JArray(g.map(_.json).toList))).toList)) ++
        (if (not.nonEmpty) List("not" -> JArray(not.map(_.json).toList)) else Nil)))
  }

  final case class AtomCountsSpec(atoms: Seq[Atom]) {
    def json: String = JsonMethods.compact(JObject(
      "population" -> JString("subject"), "atoms" -> JArray(atoms.map(_.json).toList)))
  }

  private def atomOf(v: JValue): Atom = {
    def s(k: String) = v \ k match {
      case JString(x) => x
      case other => throw new IllegalArgumentException(s"atom field $k: $other")
    }
    Atom(s("source"), s("field"), s("op"), v \ "value")
  }

  /** The inverse of `CohortSpec.json`. */
  def parseCohort(json: String): CohortSpec = {
    val j = JsonMethods.parse(json)
    val groups = (j \ "and").children.map(g => (g \ "or").children.map(atomOf))
    CohortSpec(groups, (j \ "not").children.map(atomOf))
  }

  /** The inverse of `AtomCountsSpec.json`. */
  def parseAtomCounts(json: String): AtomCountsSpec =
    AtomCountsSpec((JsonMethods.parse(json) \ "atoms").children.map(atomOf))

  /** Query parameters of a request path. */
  def params(path: String): Map[String, String] =
    path.dropWhile(_ != '?').drop(1).split('&').filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      java.net.URLDecoder.decode(kv.take(i), "UTF-8") -> java.net.URLDecoder.decode(kv.drop(i + 1), "UTF-8")
    }.toMap

  /** A served read: `cls` names its latency class. */
  final case class Request(cls: String, method: String, path: String, body: Option[String])

  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  private def pick[T](r: java.util.Random, xs: Seq[T]): T = xs(r.nextInt(xs.length))
  private def pickN[T](r: java.util.Random, xs: Seq[T], n: Int): Seq[T] = {
    val b = xs.toBuffer
    (0 until n).map(_ => b.remove(r.nextInt(b.length)))
  }
  private def strs(xs: Seq[String]): JValue = JArray(xs.map(JString(_)).toList)
  private def dec(x: Double): JValue = JDouble(BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)

  /** An atom of the given kind: the kind fixes source, field and
    * operator, the seed picks the literal, always from values of about
    * the same selectivity, so a kind costs about the same in every run.
    */
  def atom(r: java.util.Random, kind: String): Atom = kind match {
    case "o.priority" => Atom("orders", "o_orderpriority", "eq", JString(pick(r, priorities)))
    case "o.priorities" => Atom("orders", "o_orderpriority", "in", strs(pickN(r, priorities, 2)))
    case "o.status" => Atom("orders", "o_orderstatus", "eq", JString(pick(r, Seq("F", "O", "P"))))
    case "o.price" => Atom("orders", "o_totalprice", "gt", JInt(10000L * (40 + r.nextInt(6))))
    case "l.flag" => Atom("lineitem", "l_returnflag", "eq", JString(pick(r, Seq("A", "N", "R"))))
    case "l.qty" => Atom("lineitem", "l_quantity", "gt", JInt(43 + r.nextInt(4)))
    case "l.discount" =>
      val lo = r.nextInt(9) / 100.0
      Atom("lineitem", "l_discount", "between", JArray(List(dec(lo), dec(lo + 0.01))))
    case "c.segment" => Atom("customer", "c_mktsegment", "eq", JString(pick(r, segments)))
    case "c.balance" => Atom("customer", "c_acctbal", "gt", JInt(1000L * (5 + r.nextInt(4))))
    case "c.nations" => Atom("customer", "c_nationkey", "in",
      JArray(pickN(r, 0 until 25, 3).sorted.map(k => JInt(k)).toList))
    case other => throw new IllegalArgumentException(s"unknown atom kind $other")
  }

  /** A cohort query shape: OR-groups of atom kinds, and `not` kinds. */
  type Shape = (Seq[Seq[String]], Seq[String])

  /** The served cohort query: two OR-groups over visits, measurements
    * and subjects, minus a subject criterion (5 atoms). One shape, so
    * its latency median is that of one kind of work: a mix of shapes
    * of different cost makes the median jump between their modes.
    */
  val cohortShape: Shape =
    (Seq(Seq("o.priority", "l.flag"), Seq("c.segment", "o.price")), Seq("c.nations"))

  /** The as-of cohort count of the ingest workload: over the store-fed
    * `orders` plus `customer` only.
    */
  val asOfShape: Shape = (Seq(Seq("o.priority", "o.price"), Seq("c.segment")), Seq("c.nations"))

  val atomCountTemplates: Seq[Seq[String]] = Seq(
    Seq("o.priority", "c.segment", "l.flag"),
    Seq("o.price", "o.status", "c.balance", "l.qty"),
    Seq("c.nations", "l.discount", "o.priorities", "c.segment", "o.status"))

  def cohortSpec(r: java.util.Random, t: Shape): CohortSpec =
    CohortSpec(t._1.map(_.map(atom(r, _))), t._2.map(atom(r, _)))

  /** One item-statistics shape: a seeded choice among four fields and
    * two groupings spread its latency from about 1 s to 4 s between
    * runs on 4 cores, and the run's throughput with it.
    */
  val statsPath = "/items/stats?source=lineitem&field=l_quantity&by=l_returnflag"

  private def fillerRequest(r: java.util.Random, i: Int): Request = i % 3 match {
    case 0 => Request("histogram", "GET",
      s"/items/histogram?source=lineitem&field=l_quantity&width=${pick(r, Seq(5, 10))}", None)
    case 1 => Request("frequencies", "GET",
      s"/items/frequencies?source=${pick(r, Seq("orders&field=o_orderpriority", "orders&field=o_orderstatus"))}",
      None)
    case _ => Request("metadata", "GET",
      s"/metadata/search?q=${pick(r, Seq("ring", "bolt", "plate", "blue", "cold", "large"))}&limit=50", None)
  }

  /** The cohort-serve traffic: `counts(cls)` timed requests of each
    * class (cohort, atom_counts, stats, filler), in that fixed order,
    * and one warm-up request per class. The seed draws the literals,
    * not the order: a seeded order paired heavy and light requests
    * differently from run to run.
    */
  def serveTraffic(seed: Long, counts: Map[String, Int]): (Seq[Request], Seq[Request]) = {
    val r = new java.util.Random(seed * 1000003L + 17L)
    def cohort(i: Int) = Request("cohort", "POST", "/cohort/query",
      Some(cohortSpec(r, cohortShape).json))
    def atomCounts(i: Int) = Request("atom_counts", "POST", "/cohort/atom-counts",
      Some(AtomCountsSpec(atomCountTemplates(i % atomCountTemplates.length).map(atom(r, _))).json))
    def stats() = Request("stats", "GET", statsPath, None)
    def n(c: String) = counts.getOrElse(c, 0)
    val warm = Seq(cohort(0), atomCounts(0), stats()) ++ (0 until 3).map(fillerRequest(r, _))
    val timed = (0 until n("cohort")).map(cohort) ++ (0 until n("atom_counts")).map(atomCounts) ++
      (0 until n("stats")).map(_ => stats()) ++ (0 until n("filler")).map(fillerRequest(r, _))
    (warm, timed)
  }

  // ------------------------------------------------------------ ingest

  /** One visit (an `orders` row). `date` indexes the base table row
    * whose o_orderdate the visit carries, so batches stay typed like
    * the table without the generator knowing the date type.
    */
  final case class Visit(key: Long, cust: Long, status: String, price: Double, dateRow: Int, priority: String)

  /** One commit: upserted visits and tombstoned keys. */
  final case class Delta(upserts: Seq[Visit], deletes: Seq[Long]) {
    def render: String =
      (upserts.map(v => s"U ${v.key} ${v.cust} ${v.status} ${v.price} ${v.dateRow} ${v.priority}") ++
        deletes.map(k => s"D $k")).mkString("\n")
  }

  /** `n` delta batches over a base table of `base` visits (keys
    * 0 until base.length in table order). Updates and tombstones fall
    * in the `windows` key ranges that the as-of reads page through,
    * so every read sees the history it checks; inserts take fresh keys
    * above the base. Each batch touches a key at most once, and never
    * a key that is already tombstoned.
    */
  def deltas(seed: Long, base: IndexedSeq[Visit], n: Int, windows: Seq[(Long, Long)],
      updates: Int, deletes: Int, inserts: Int): Seq[Delta] = {
    val r = new java.util.Random(seed * 7919L + 3L)
    val live = scala.collection.mutable.Map[Long, Visit]() ++ base.map(v => v.key -> v)
    var nextKey = base.map(_.key).max
    val maxCust = base.map(_.cust).max
    (0 until n).map { _ =>
      val touched = scala.collection.mutable.LinkedHashSet[Long]()
      def liveKeyInWindow(): Long = {
        var k = -1L
        while (k < 0) {
          val (lo, hi) = pick(r, windows)
          val c = lo + r.nextInt((hi - lo).toInt)
          if (live.contains(c) && !touched(c)) k = c
        }
        touched += k
        k
      }
      val ups = (0 until updates).map { _ =>
        val old = live(liveKeyInWindow())
        old.copy(status = pick(r, Seq("F", "O", "P")),
          price = BigDecimal(1000 + r.nextInt(499000) + r.nextInt(100) / 100.0)
            .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble,
          priority = pick(r, priorities))
      }
      val dels = (0 until deletes).map(_ => liveKeyInWindow())
      val ins = (0 until inserts).map { _ =>
        nextKey += 1
        Visit(nextKey, r.nextInt(maxCust.toInt + 1).toLong, pick(r, Seq("F", "O", "P")),
          BigDecimal(1000 + r.nextInt(499000) + r.nextInt(100) / 100.0)
            .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble,
          r.nextInt(base.length), pick(r, priorities))
      }
      (ups ++ ins).foreach(v => live(v.key) = v)
      dels.foreach(live.remove)
      Delta(ups ++ ins, dels)
    }
  }

  /** Key windows the ingest reads page through: `n` disjoint runs of
    * `width` keys inside [0, nKeys).
    */
  def windows(seed: Long, nKeys: Long, n: Int, width: Int): Seq[(Long, Long)] = {
    val r = new java.util.Random(seed * 31L + 11L)
    val slot = nKeys / n
    (0 until n).map { i =>
      val lo = i * slot + r.nextInt((slot - width).toInt)
      (lo, lo + width)
    }
  }

  /** The ingest workload's per-cycle reads, all fixed by the seed: the
    * key window the versioned read pages through, and the as-of cohort
    * query. Both read one version behind the tip, so the chain a read
    * merges grows the same way in every run.
    */
  final case class IngestReads(window: Int, cohort: CohortSpec)

  def ingestReads(seed: Long, cycles: Int, nWindows: Int): Seq[IngestReads] = {
    val r = new java.util.Random(seed * 104729L + 5L)
    (0 until cycles).map(_ => IngestReads(r.nextInt(nWindows), cohortSpec(r, asOfShape)))
  }

  /** The standing dashboard spec of maintained atom counts: field atoms
    * on the store-fed `orders` source.
    */
  def dashboard(seed: Long): AtomCountsSpec = {
    val r = new java.util.Random(seed * 15485863L + 7L)
    AtomCountsSpec(Seq("o.priority", "o.price", "o.status").map(atom(r, _)))
  }
}

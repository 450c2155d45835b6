package graftbench

import graftbench.Gen.{Atom, AtomCountsSpec, CohortSpec, Visit}
import org.apache.spark.sql.SparkSession
import org.json4s._

/** The tables the served traffic reads, held as plain driver-side
  * arrays, and reference answers computed from them without Spark's
  * query engine. Every response the benchmark receives is checked
  * against these.
  */
final class RefData(
    val visits: IndexedSeq[Visit], // orders, in table order
    val orderDates: IndexedSeq[AnyRef], // o_orderdate as Spark returns it
    val li: RefData.Lineitems,
    val custKey: Array[Long], val custNation: Array[Int],
    val custBal: Array[Double], val custSegment: Array[String],
    val parts: IndexedSeq[(Long, String, String)]) extends Serializable

object RefData {
  final class Lineitems(
      val orderKey: Array[Long], val quantity: Array[Double], val extendedPrice: Array[Double],
      val discount: Array[Double], val tax: Array[Double],
      val returnFlag: Array[String], val lineStatus: Array[String]) extends Serializable {
    def length: Int = orderKey.length
    def column(name: String): Int => Any = name match {
      case "l_quantity" => quantity(_)
      case "l_extendedprice" => extendedPrice(_)
      case "l_discount" => discount(_)
      case "l_tax" => tax(_)
      case "l_returnflag" => returnFlag(_)
      case "l_linestatus" => lineStatus(_)
      case other => throw new IllegalArgumentException(s"unknown lineitem field $other")
    }
  }

  /** `load`, memoized on disk under `cacheDir`, keyed by the tables'
    * paths, sizes and modification times: collecting them through
    * Spark takes several seconds per run.
    */
  def cached(spark: SparkSession, dir: String, cacheDir: java.nio.file.Path): RefData = {
    import java.nio.file.Files
    val key = Seq("orders", "lineitem", "customer", "part").map { t =>
      val p = java.nio.file.Paths.get(dir, s"$t.parquet").toRealPath()
      s"$p:${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}"
    }.mkString("|")
    val digest = java.security.MessageDigest.getInstance("SHA-256").digest(key.getBytes("UTF-8"))
    val file = cacheDir.resolve(digest.take(12).map("%02x".format(_)).mkString + ".bin")
    if (Files.exists(file)) {
      val in = new java.io.ObjectInputStream(new java.io.BufferedInputStream(Files.newInputStream(file)))
      try return in.readObject().asInstanceOf[RefData] finally in.close()
    }
    val d = load(spark, dir)
    Files.createDirectories(cacheDir)
    val tmp = Files.createTempFile(cacheDir, "ref", ".tmp")
    val out = new java.io.ObjectOutputStream(new java.io.BufferedOutputStream(Files.newOutputStream(tmp)))
    try out.writeObject(d) finally out.close()
    Files.move(tmp, file, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    d
  }

  def load(spark: SparkSession, dir: String): RefData = {
    val o = spark.read.parquet(s"$dir/orders.parquet").select(
      "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority").collect()
    val visits = o.indices.map { i =>
      val r = o(i)
      Visit(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3), i, r.getString(5))
    }
    val dates = o.map(_.get(4).asInstanceOf[AnyRef]).toIndexedSeq
    val l = spark.read.parquet(s"$dir/lineitem.parquet").select(
      "l_orderkey", "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus").collect()
    val li = new Lineitems(l.map(_.getLong(0)), l.map(_.getDouble(1)), l.map(_.getDouble(2)),
      l.map(_.getDouble(3)), l.map(_.getDouble(4)), l.map(_.getString(5)), l.map(_.getString(6)))
    val c = spark.read.parquet(s"$dir/customer.parquet")
      .select("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment").collect()
    val p = spark.read.parquet(s"$dir/part.parquet").select("p_partkey", "p_name", "p_type").collect()
    new RefData(visits, dates, li, c.map(_.getLong(0)), c.map(_.getInt(1)), c.map(_.getDouble(2)),
      c.map(_.getString(3)), p.map(r => (r.getLong(0), r.getString(1), r.getString(2))).toIndexedSeq)
  }
}

/** Reference evaluation of the cohort DSL and the item endpoints. */
object Ref {

  private def num(v: JValue): Double = v match {
    case JInt(i) => i.toDouble
    case JLong(l) => l.toDouble
    case JDouble(d) => d
    case JDecimal(d) => d.toDouble
    case other => throw new IllegalArgumentException(s"not a number: $other")
  }

  /** CohortQuery's predicate semantics, compiled once per atom. */
  def predicate(op: String, value: JValue): Any => Boolean = (op, value) match {
    case ("eq", JString(x)) => _ == x
    case ("in", JArray(xs)) if xs.forall(_.isInstanceOf[JString]) =>
      val set = xs.collect { case JString(x) => x: Any }.toSet
      set.contains
    case ("eq", v) => val x = num(v); n => toD(n) == x
    case ("gt", v) => val x = num(v); n => toD(n) > x
    case ("lt", v) => val x = num(v); n => toD(n) < x
    case ("in", JArray(xs)) => val set = xs.map(num).toSet; n => set.contains(toD(n))
    case ("between", JArray(lo :: hi :: Nil)) =>
      val (l, h) = (num(lo), num(hi)); n => { val d = toD(n); d >= l && d <= h }
    case other => throw new IllegalArgumentException(s"unsupported predicate $other")
  }

  private def toD(n: Any): Double = n match {
    case i: Int => i.toDouble
    case l: Long => l.toDouble
    case x: Double => x
    case other => throw new IllegalArgumentException(s"not a number: $other")
  }

  private def visitField(v: Visit, f: String): Any = f match {
    case "o_orderpriority" => v.priority
    case "o_orderstatus" => v.status
    case "o_totalprice" => v.price
    case other => throw new IllegalArgumentException(s"unknown orders field $other")
  }

  /** Reference evaluation over one state of `orders` (the live table,
    * or the store as of a version); atom answers are memoized.
    */
  final class Evaluator(d: RefData, orders: Iterable[Visit]) {
    private lazy val custOf: java.util.HashMap[Long, Long] = {
      val m = new java.util.HashMap[Long, Long]()
      orders.foreach(v => m.put(v.key, v.cust))
      m
    }
    private val memo = scala.collection.mutable.Map[Atom, Set[Long]]()

    /** Subjects (customer keys) matching one atom. */
    def subjects(a: Atom): Set[Long] = memo.getOrElseUpdate(a, {
      val test = predicate(a.op, a.value)
      a.source match {
      case "orders" =>
        orders.iterator.filter(v => test(visitField(v, a.field))).map(_.cust).toSet
      case "customer" =>
        val col: Int => Any = a.field match {
          case "c_mktsegment" => d.custSegment(_)
          case "c_acctbal" => d.custBal(_)
          case "c_nationkey" => d.custNation(_)
          case other => throw new IllegalArgumentException(s"unknown customer field $other")
        }
        d.custKey.indices.iterator.filter(i => test(col(i))).map(d.custKey(_)).toSet
      case "lineitem" =>
        val col = d.li.column(a.field)
        (0 until d.li.length).iterator
          .filter(i => test(col(i)) && custOf.containsKey(d.li.orderKey(i)))
          .map(i => custOf.get(d.li.orderKey(i))).toSet
      case other => throw new IllegalArgumentException(s"unknown source $other")
      }
    })

    def cohortCount(spec: CohortSpec): Long = {
      val base = spec.groups.map(_.map(subjects).reduce(_ union _)).reduce(_ intersect _)
      spec.not.foldLeft(base)((acc, a) => acc diff subjects(a)).size.toLong
    }

    def atomCounts(spec: AtomCountsSpec): Seq[Long] = spec.atoms.map(a => subjects(a).size.toLong)
  }

  /** Cohort.itemStats per group: (group, [min, max, avg, std, median], n).
    * Sums are taken as the server takes them, over values rounded to
    * decimal(28, 2); the served values have two decimals, so the
    * rounded sum is exact in cents.
    */
  def itemStats(d: RefData, field: String, by: String): Seq[(String, Seq[Double], Long)] = {
    val v = d.li.column(field)
    val g = d.li.column(by)
    val groups = scala.collection.mutable.Map[String, scala.collection.mutable.ArrayBuilder.ofDouble]()
    for (i <- 0 until d.li.length)
      groups.getOrElseUpdate(g(i).toString, new scala.collection.mutable.ArrayBuilder.ofDouble) +=
        v(i).asInstanceOf[Double]
    groups.toSeq.sortBy(_._1).map { case (k, b) =>
      val xs = b.result()
      val n = xs.length
      var cents = 0L
      var sq = 0.0
      xs.foreach { x => cents += math.round(x * 100); sq += x * x }
      val s = cents / 100.0
      val std = if (n > 1) math.sqrt(math.max(0.0, sq - s * s / n) / (n - 1)) else Double.NaN
      java.util.Arrays.sort(xs)
      val pos = (n - 1) * 0.5
      val lo = xs(pos.floor.toInt)
      val hi = xs(pos.ceil.toInt)
      (k, Seq(xs.head, xs.last, s / n, std, lo + (hi - lo) * (pos - pos.floor)), n.toLong)
    }
  }

  /** Numeric column of a served table, for histograms. */
  def numericColumn(d: RefData, source: String, field: String): Iterable[Double] = (source, field) match {
    case ("lineitem", f) => (0 until d.li.length).map(i => d.li.column(f)(i).asInstanceOf[Double])
    case other => throw new IllegalArgumentException(s"no reference column $other")
  }

  def histogram(xs: Iterable[Double], width: Double): Seq[(Long, Long)] =
    xs.groupBy(x => math.floor(x / width).toLong).view.mapValues(_.size.toLong).toSeq.sortBy(_._1)

  def frequencies(d: RefData, source: String, field: String): Seq[(String, Long)] = {
    val vs: Iterable[String] = (source, field) match {
      case ("orders", "o_orderpriority") => d.visits.map(_.priority)
      case ("orders", "o_orderstatus") => d.visits.map(_.status)
      case ("customer", "c_mktsegment") => d.custSegment.toSeq
      case other => throw new IllegalArgumentException(s"no reference column $other")
    }
    vs.groupBy(identity).view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
  }

  def metadata(d: RefData, q: String, limit: Int): Seq[(Long, String, String)] =
    d.parts.filter(_._2.contains(q)).sortBy(_._1).take(limit)
}

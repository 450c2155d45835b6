package graft.operators

import graft.Tables
import graft.functions.ParamSlot
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

/** Declarative cohort queries — the JSON query surface of the
  * reference (a query is an AND of OR-groups of criteria, optionally
  * minus exclusion criteria, evaluated against a subject or visit
  * population). A reference user posts a query description and gets a
  * population + count back; this is that endpoint as a library call:
  *
  * {{{
  * {
  *   "population": "subject",          // or "visit"
  *   "and": [
  *     {"or": [ {"source": "orders", "field": "o_orderpriority",
  *               "op": "eq", "value": "1-URGENT"} ]},
  *     {"or": [ {"source": "customer", "field": "c_acctbal",
  *               "op": "gt", "value": 7000} ]}
  *   ],
  *   "not": [ {"source": "lineitem", "field": "l_returnflag",
  *             "op": "eq", "value": "R"} ]
  * }
  * }}}
  *
  * ops: eq ne gt ge lt le like in between. A query is evaluated in
  * one aggregate pass, not as set algebra over per-atom key sets:
  * each source is scanned once, its rows carrying a bitmask of the
  * atoms they match; one `groupBy(key).agg(bit_or)` gives every key's
  * atom membership, and the CNF is one filter over that mask. The
  * answers are the hand-composed [[Cohort]] combinators' (which stay
  * as the independent cross-check), except that a NULL key counts as
  * one member, as in SQL `INTERSECT`/`EXCEPT`. A source no override
  * replaces is scanned from its per-session image, the live frame
  * hash-partitioned on the population key and cached once per table
  * version, so a query over images runs no join and no shuffle before
  * its count.
  */
object CohortQuery {

  /** Named-source frames a caller may substitute for the live tables —
    * the seam the serving layer's instant-addressed cohort queries go
    * through: `sources("orders")`, when present, replaces every
    * resolution of the `orders` source (an as-of store read there
    * makes the whole query "as of instant t", the reference's
    * implicit property). Absent names fall back to the live table.
    */
  type SourceOverrides = Map[String, DataFrame]

  private def resolve(
      over: SourceOverrides, name: String)(live: => DataFrame): DataFrame =
    over.getOrElse(name, live)

  /** The frame a source's atoms scan, and the column that keys its
    * rows to the population: `subject` maps every source to
    * c_custkey, `visit` to o_orderkey, `user` (the event stream's
    * subject axis, the one typed temporal/era atoms key by) to user_id.
    * A pair none of whose tables is overridden scans its [[image]];
    * an override (as-of, tag, speculative import) gets the live frame.
    */
  private def keyed(
      spark: SparkSession, dir: String, population: String, source: String,
      over: SourceOverrides): (DataFrame, Column) = {
    val (tables, key) = (population, source) match {
      case ("subject", "customer") => (Seq("customer"), "c_custkey")
      case ("subject", "orders")   => (Seq("orders"), "o_custkey")
      case ("subject", "lineitem") => (Seq("lineitem", "orders"), "o_custkey")
      case ("visit", "orders")     => (Seq("orders"), "o_orderkey")
      case ("visit", "lineitem")   => (Seq("lineitem"), "l_orderkey")
      case ("user", "events")      => (Seq("events"), "user_id")
      case ("subject" | "visit" | "user", s) =>
        throw new IllegalArgumentException(s"unknown $population source: $s")
      case (p, _) => throw new IllegalArgumentException(s"unknown population: $p")
    }
    def table(name: String): DataFrame = resolve(over, name)(
      if (name == "events") Tables.events(spark, dir) else Tables.load(spark, dir, name))
    def frame: DataFrame = (population, source) match {
      // measurements hang off visits; key them to the visit's subject
      case ("subject", "lineitem") =>
        table("lineitem").join(table("orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
      case _ => table(source)
    }
    val df = if (tables.exists(over.contains)) frame
      else image(spark, dir, population, source, tables, key)(frame)
    (df, col(key))
  }

  // ------------------------------------------------------------ images
  //
  // An image is a (population, source) pair's live frame, hash-
  // partitioned on its key into the session's pinned parallelism and
  // persisted: the lineitem⋈orders join and the orders broadcast run
  // once per table version instead of once per query, scans run one
  // task per partition instead of one per row group, and, since every
  // image of a population shares HashPartitioning(key, n), the
  // membership union needs no shuffle before its `bit_or` aggregate.

  private final case class ImageKey(
      spark: SparkSession, dir: String, population: String, source: String)
  private final case class Image(stamp: String, partitions: Int, frame: DataFrame)

  // Session-scoped like the parquet schema memo; an entry pins its
  // session until Stage.releaseAll drops it.
  private val images = new java.util.concurrent.ConcurrentHashMap[ImageKey, Image]()

  /** The persisted image of `live`: reused while the listing signature
    * of every table it reads and the partition count are unchanged and
    * its cache entry lives (`clearCache()` drops it), and rebuilt
    * otherwise. The stale entry is unpersisted first: its plan names
    * the same files, so the cache manager would substitute its rows
    * into the new image. The persist is lazy: the first query that
    * scans the image fills it, so building a query runs no job.
    */
  private def image(
      spark: SparkSession, dir: String, population: String, source: String,
      tables: Seq[String], key: String)(live: => DataFrame): DataFrame = {
    val n = Tables.pinnedParallelism(spark)
    val stamp = (tables.map(t => graft.sources.Sources.listingSignature(spark, s"$dir/$t.parquet"))
      :+ s"n$n").mkString("|")
    images.compute(ImageKey(spark, dir, population, source), (_, old) =>
      if (old != null && old.stamp == stamp && old.frame.storageLevel != StorageLevel.NONE) old
      else {
        if (old != null) old.frame.unpersist(blocking = false)
        Image(stamp, n, live.repartition(n, col(key)).persist(StorageLevel.MEMORY_AND_DISK))
      }).frame
  }

  /** One live image as `/status` reports it. */
  final case class ImageInfo(population: String, source: String, partitions: Int, cachedBytes: Long)

  /** The live images of `spark` over `dir`, with the bytes their cached
    * blocks hold (memory plus disk; 0 until a scan has filled every
    * partition). Reads the memo and Spark's storage report only; runs no job.
    */
  def imageInfo(spark: SparkSession, dir: String): Seq[ImageInfo] = {
    import scala.jdk.CollectionConverters._
    val stored = spark.sparkContext.getRDDStorageInfo.map(r => r.id -> (r.memSize + r.diskSize)).toMap
    images.asScala.toSeq.collect {
      case (k, img) if (k.spark eq spark) && k.dir == dir &&
          img.frame.storageLevel != StorageLevel.NONE =>
        val bytes = img.frame.queryExecution.withCachedData.collectFirst {
          case r: InMemoryRelation if r.cacheBuilder.isCachedColumnBuffersLoaded =>
            stored.getOrElse(r.cacheBuilder.cachedColumnBuffers.id, 0L)
        }.getOrElse(0L)
        ImageInfo(k.population, k.source, img.partitions, bytes)
    }.sortBy(i => (i.population, i.source))
  }

  /** Unpersist and forget the images of `spark`, or of every session,
    * and the counts prepared over them.
    */
  private[graft] def releaseImages(spark: Option[SparkSession]): Unit = {
    images.entrySet().removeIf { e =>
      val drop = spark.forall(_ eq e.getKey.spark)
      if (drop) e.getValue.frame.unpersist(blocking = false)
      drop
    }
    preparedMemos.keySet().removeIf(k => spark.forall(_ eq k._1))
  }

  private def lit0(v: JValue): Any = v match {
    case JString(s)  => s
    // isValidLong: JInt holds a BigInt and .toLong silently WRAPS past
    // Long range — {"value": 2^64+1} would quietly compare against 1
    case JInt(i) if i.isValidLong => i.toLong
    case JLong(l)    => l
    case JDouble(d)  => d
    case JDecimal(d) => d.toDouble
    case JBool(b)    => b
    case other       => throw new IllegalArgumentException(s"unsupported literal: $other")
  }

  /** The row predicate of a field atom. `bind` turns each of its
    * literals into a Column: `lit` for a frame a caller composes, a
    * [[graft.functions.ParamSlot]] for a prepared count. A `like`
    * pattern stays a constant: a pattern that is not foldable is
    * re-compiled per row.
    */
  private def predicate(field: String, op: String, value: JValue, bind: Any => Column): Column = {
    val c = col(field)
    op match {
      case "eq"   => c === bind(lit0(value))
      case "ne"   => c =!= bind(lit0(value))
      case "gt"   => c > bind(lit0(value))
      case "ge"   => c >= bind(lit0(value))
      case "lt"   => c < bind(lit0(value))
      case "le"   => c <= bind(lit0(value))
      case "like" => c.like(lit0(value).toString)
      case "in" => value match {
        case JArray(vs) => c.isin(vs.map(v => bind(lit0(v))): _*)
        case other      => throw new IllegalArgumentException(s"'in' needs an array, got $other")
      }
      case "between" => value match {
        case JArray(lo :: hi :: Nil) => c >= bind(lit0(lo)) && c <= bind(lit0(hi))
        case other => throw new IllegalArgumentException(s"'between' needs [lo, hi], got $other")
      }
      case other => throw new IllegalArgumentException(s"unknown op: $other")
    }
  }

  private val literal: Any => Column = lit

  private def strField(atom: JValue, name: String): String =
    atom \ name match {
      case JString(s) => s
      case JNothing   => throw new IllegalArgumentException(s"atom is missing '$name': $atom")
      case other      => throw new IllegalArgumentException(s"atom '$name' must be a string, got $other")
    }

  private def numField(atom: JValue, name: String): Long =
    atom \ name match {
      case JInt(i) if i.isValidLong => i.toLong
      case JLong(l) => l
      case JNothing => throw new IllegalArgumentException(s"atom is missing '$name': $atom")
      case other    => throw new IllegalArgumentException(s"atom '$name' must be an integer, got $other")
    }

  /** One parsed criterion: a row predicate over a named source (a
    * `field` atom), or a key set computed on its own (the typed
    * `temporal` and `era` atoms).
    */
  private sealed trait Criterion
  private final case class RowPredicate(source: String, pred: Column) extends Criterion
  private final case class KeySet(keys: DataFrame) extends Criterion

  /** An atom's family: `field` (the default), `temporal` or `era`. */
  private def atomType(atom: JValue): String = atom \ "type" match {
    case JString(t) => t
    case JNothing   => "field"
    case other      => throw new IllegalArgumentException(s"bad atom type: $other")
  }

  /** Parse one criterion. `type` picks the atom family: plain field
    * predicates (default), or the typed event-shape criteria —
    * `temporal` ({first, then, withinDays}, q4c semantics) and `era`
    * ({windowMinutes, minEras}, q4d semantics) — which key by user_id
    * and therefore require the `user` population. `bind` makes a field
    * atom's literals Columns (see [[predicate]]).
    */
  private def criterion(
      spark: SparkSession, dir: String, population: String, atom: JValue,
      over: SourceOverrides, bind: Any => Column): Criterion =
    atomType(atom) match {
      case "field" =>
        RowPredicate(strField(atom, "source"),
          predicate(strField(atom, "field"), strField(atom, "op"), atom \ "value", bind))
      case "temporal" =>
        require(population == "user", "temporal atoms key by user_id — use population 'user'")
        // range-checked BEFORE the narrowing .toInt: an unvalidated
        // 2^32 would wrap to 0 days and silently answer a different
        // question — the same wraparound class every cursor value is
        // already guarded against
        val wd = numField(atom, "withinDays")
        require(wd >= 1 && wd <= 36500,
          s"withinDays must be in [1, 36500] (100 years), got $wd")
        KeySet(Cohort.temporalAtom(resolve(over, "events")(Tables.events(spark, dir)),
          strField(atom, "first"), strField(atom, "then"), wd.toInt).keys)
      case "era" =>
        require(population == "user", "era atoms key by user_id — use population 'user'")
        // bounded so windowMinutes * 60e6 micros cannot overflow Long
        // into a negative window (52.6M minutes ≈ 100 years)
        val wm = numField(atom, "windowMinutes")
        require(wm >= 1 && wm <= 52600000L,
          s"windowMinutes must be in [1, 52600000] (~100 years), got $wm")
        KeySet(Cohort.eraAtom(resolve(over, "events")(Tables.events(spark, dir)),
          wm * 60000000L,
          numField(atom, "minEras")).keys)
      case other => throw new IllegalArgumentException(s"unknown atom type: $other")
    }

  /** `atom` with every literal its predicate binds replaced by the
    * literal's type tag (String, Long, Double, Boolean), an array
    * keeping its arity: atoms of one shape build one plan up to the
    * values bound into it. A `like` pattern is no bound literal.
    */
  private def atomShape(atom: JValue): JValue = {
    def tags(v: JValue): JValue = v match {
      case JArray(vs) => JArray(vs.map(tags))
      case x          => JString(lit0(x).getClass.getSimpleName)
    }
    if (atomType(atom) != "field" || atom \ "op" == JString("like")) atom
    else atom.replace(List("value"), tags(atom \ "value"))
  }

  private def popOf(spec: JValue): String = spec \ "population" match {
    case JString(p) => p
    case JNothing   => "subject"
    case other      => throw new IllegalArgumentException(s"bad population: $other")
  }

  private def maskWords(nAtoms: Int): Int = (nAtoms + 63) / 64

  private def wordCol(w: Int): String = s"m$w"

  /** `m_w & bits != 0` over every word where `bits` (one mask word
    * per word of the membership frame) is non-zero: the subject
    * matches at least one of the atoms the mask names.
    */
  private def hitsAny(bits: Array[Long]): Column =
    bits.zipWithIndex.collect { case (b, w) if b != 0L =>
      (col(wordCol(w)) bitwiseAND lit(b)) =!= lit(0L)
    }.reduce(_ || _)

  private def maskOf(atoms: Seq[Int], nAtoms: Int): Array[Long] = {
    val words = new Array[Long](maskWords(nAtoms))
    atoms.foreach(i => words(i / 64) |= 1L << (i % 64))
    words
  }

  /** Atom membership per population key, in ONE aggregate: every
    * source is scanned once for all of its field atoms, each matching
    * row carrying a bitmask with bit i%64 of word `m{i/64}` set iff
    * atom i's predicate holds on it (a predicate evaluating null sets
    * no bit, exactly the rows a filter would drop); a temporal or era
    * atom contributes its key set with its own bit. The branches meet
    * in one union and one `groupBy(subject).agg(bit_or)`, so the
    * result has one row per key matching any atom — a NULL key
    * included, as one group. When every branch scans an image, the
    * branches share the key's hash partitioning and the aggregate
    * needs no shuffle; a live (overridden) source or a temporal/era
    * key set adds one shuffle on the key, whatever the atom count.
    */
  private def membership(criteria: Seq[Criterion], scanned: Seq[Scan]): DataFrame = {
    val n = criteria.size
    def words(bits: Seq[(Int, Column)]): Seq[Column] =
      (0 until maskWords(n)).map { w =>
        bits.collect { case (i, on) if i / 64 == w =>
          when(on, lit(1L << (i % 64))).otherwise(lit(0L))
        }.reduceOption(_ bitwiseOR _).getOrElse(lit(0L)).as(wordCol(w))
      }
    val indexed = criteria.zipWithIndex
    val rowAtoms = indexed.collect { case (RowPredicate(src, p), i) => (src, i, p) }
    val branches = scanned.map { case Scan(src, df, key) =>
      val bits = rowAtoms.collect { case (`src`, i, p) => (i, p) }
      df.filter(bits.map(_._2).reduce(_ || _))
        .select(key.as("subject") +: words(bits): _*)
    }
    val keySets = indexed.collect { case (KeySet(keys), i) =>
      keys.select(col("subject") +: words(Seq(i -> lit(true))): _*)
    }
    val ws = (0 until maskWords(n)).map(wordCol)
    (branches ++ keySets).reduce(_ unionByName _)
      .groupBy("subject")
      .agg(bit_or(col(ws.head)).as(ws.head), ws.tail.map(w => bit_or(col(w)).as(w)): _*)
  }

  /** A source the row predicates read: the frame it scans and its key. */
  private final case class Scan(source: String, frame: DataFrame, key: Column)

  /** The parsed criteria of `atoms` with literals bound by `bind`, and
    * a [[Scan]] of every source their row predicates read, in first-use
    * order.
    */
  private def parseAtoms(
      spark: SparkSession, dir: String, population: String, atoms: Seq[JValue],
      over: SourceOverrides, bind: Any => Column): (Seq[Criterion], Seq[Scan]) = {
    val criteria = atoms.map(criterion(spark, dir, population, _, over, bind))
    val scanned = criteria.collect { case RowPredicate(src, _) => src }.distinct.map { src =>
      val (df, key) = keyed(spark, dir, population, src, over)
      Scan(src, df, key)
    }
    (criteria, scanned)
  }

  /** A parsed query spec: an AND of OR-groups of atoms, minus the NOT atoms. */
  private final case class Spec(population: String, groups: List[List[JValue]], nots: List[JValue]) {
    def atoms: List[JValue] = groups.flatten ++ nots

    /** The spec with every bound literal replaced by its type tag (see
      * [[atomShape]]): specs of one shape build one plan.
      */
    def shape: String = JsonMethods.compact(JsonMethods.render(
      ("population" -> population) ~
        ("and" -> JArray(groups.map(g => JArray(g.map(atomShape))))) ~
        ("not" -> JArray(nots.map(atomShape)))))
  }

  private def parseSpec(json: String): Spec = {
    val spec = JsonMethods.parse(json)
    val groups = spec \ "and" match {
      case JArray(gs) if gs.nonEmpty => gs.map { g =>
        g \ "or" match {
          // non-empty required: an empty OR-group has no defined
          // semantics (vacuously-false would make the whole AND
          // empty; vacuously-true would drop the criterion)
          case JArray(atoms) if atoms.nonEmpty => atoms
          case JArray(_) =>
            throw new IllegalArgumentException(s"empty 'or' group in: $g")
          case JNothing      => List(g) // bare atom = 1-ary OR
          case other         => throw new IllegalArgumentException(s"bad or-group: $other")
        }
      }
      case JArray(_) =>
        throw new IllegalArgumentException("query needs at least one criterion in 'and'")
      case other => throw new IllegalArgumentException(s"query needs an 'and' array, got $other")
    }
    val nots = spec \ "not" match {
      case JArray(atoms) => atoms
      case JNothing => Nil
      case other    => throw new IllegalArgumentException(s"bad not-list: $other")
    }
    Spec(popOf(spec), groups, nots)
  }

  /** `spec`'s population as one filter over [[membership]]: every
    * AND-group's mask intersects the key's membership and the NOT mask
    * does not.
    */
  private def select(spec: Spec, criteria: Seq[Criterion], scanned: Seq[Scan]): DataFrame = {
    val n = criteria.size
    val starts = spec.groups.scanLeft(0)(_ + _.size)
    val cnf = spec.groups.zip(starts).map { case (g, s) => hitsAny(maskOf(s until s + g.size, n)) }
      .reduce(_ && _)
    val keep = if (spec.nots.isEmpty) cnf else cnf && !hitsAny(maskOf(n - spec.nots.size until n, n))
    membership(criteria, scanned).filter(keep).select("subject")
  }

  /** Evaluate a JSON query spec → distinct population key set, as one
    * filter over [[membership]]: every AND-group's mask intersects the
    * key's membership and the NOT mask does not. Set semantics are
    * SQL `INTERSECT`/`EXCEPT`'s, a NULL key being one member.
    * `sources` substitutes named frames for the live tables (e.g. an
    * as-of store read as `orders` — see [[SourceOverrides]]).
    */
  def population(
      spark: SparkSession, dir: String, json: String,
      sources: SourceOverrides = Map.empty): DataFrame = {
    val spec = parseSpec(json)
    val (criteria, scanned) = parseAtoms(spark, dir, spec.population, spec.atoms, sources, literal)
    select(spec, criteria, scanned)
  }

  /** Evaluate a spec → 1-row count (the reference's query result), as
    * a frame a caller can compose (q4a). Its global aggregate moves one
    * partial count per partition through a `SinglePartition` exchange:
    * one Spark job more than [[populationSize]].
    */
  def count(
      spark: SparkSession, dir: String, json: String,
      sources: SourceOverrides = Map.empty): DataFrame =
    Cohort.countSubjects(population(spark, dir, json, sources))

  // ---------------------------------------------------- prepared counts

  private final case class Prepared(frames: Seq[DataFrame], counts: RDD[Long])

  private final class PreparedMemo {
    val shapes = new java.util.concurrent.ConcurrentHashMap[String, Prepared]()
    val hits = new java.util.concurrent.atomic.AtomicLong()
    val prepares = new java.util.concurrent.atomic.AtomicLong()
  }

  // Session-scoped like the images, and released with them. The like
  // patterns a long-lived server sees are part of the shape, so a
  // memo is dropped whole once it holds PreparedCap shapes.
  private val preparedMemos =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), PreparedMemo]()
  private val PreparedCap = 256

  /** The prepared counts of `spark` over `dir`, as `/status` reports them. */
  final case class PreparedInfo(shapes: Int, hits: Long, prepares: Long)

  /** The prepared shapes held for `spark` over `dir`, and how many
    * counts reused one (hits) or planned one (prepares). Reads
    * counters only; runs no job.
    */
  def preparedInfo(spark: SparkSession, dir: String): PreparedInfo =
    Option(preparedMemos.get((spark, dir))).fold(PreparedInfo(0, 0L, 0L))(m =>
      PreparedInfo(m.shapes.size, m.hits.get, m.prepares.get))

  // walks into AQE plans, not into the images' cached plans
  private object planWalk extends AdaptiveSparkPlanHelper

  private def counting(population: DataFrame): RDD[Long] =
    population.queryExecution.toRdd
      .mapPartitions(rows => Iterator.single(rows.foldLeft(0L)((n, _) => n + 1)))

  /** Evaluate a spec → the number of keys in its [[population]], the
    * answer `POST /cohort/query` serves. Each partition counts its own
    * rows and the driver sums the partial counts: one Spark job over
    * the images, with no exchange and no AQE re-plan after the
    * membership aggregate. An overridden source keeps its membership
    * shuffle but also saves [[count]]'s final job.
    *
    * The plan binds no literal. Its *shape* is the spec with every
    * bound literal replaced by its type tag: population, groups, NOT
    * list, each atom's source, field and op, an `in` list's arity and
    * each literal's JSON type (`gt 7000` and `gt 7000.5` are two
    * shapes; a `like` pattern is part of the shape). Each literal
    * becomes a [[graft.functions.ParamSlot]], and every call walks the
    * spec, records its literals in the calling thread's job-local
    * property [[graft.functions.ParamSlot.Key]] and runs the counting
    * RDD. A slot reads the property once per partition, or on the
    * driver from the calling thread when an optimizer rule folds a
    * filter over a local relation into data; so concurrent calls of
    * one shape each count with their own values.
    *
    * The counting RDD is memoized per (session, data dir, shape) only
    * when no source is overridden, no atom is temporal or era and the
    * plan has no exchange, so that every branch scans an image: a
    * stage that ran (an AQE query stage, a shuffle map stage) or a
    * folded local relation would keep the first call's values. An
    * entry is reused while [[keyed]] hands back the very image frames
    * it scans, so a rewritten table, a new partition count or
    * `clearCache()` prepares it again; [[releaseImages]] forgets it.
    * Any other call plans its slot-bound frame afresh.
    */
  def populationSize(
      spark: SparkSession, dir: String, json: String,
      sources: SourceOverrides = Map.empty): Long = {
    val spec = parseSpec(json)
    val values = scala.collection.mutable.ArrayBuffer.empty[Any]
    val (criteria, scanned) = parseAtoms(spark, dir, spec.population, spec.atoms, sources,
      { v => values += v; ParamSlot.column(values.size - 1, v) })
    val sc = spark.sparkContext
    val prior = sc.getLocalProperty(ParamSlot.Key)
    // set before planning: an overridden plan runs its shuffle inside toRdd
    sc.setLocalProperty(ParamSlot.Key, ParamSlot.encode(values.toSeq))
    try {
      val counts =
        if (sources.nonEmpty || criteria.exists(_.isInstanceOf[KeySet]))
          counting(select(spec, criteria, scanned))
        else prepared(spark, dir, spec.shape, scanned)(select(spec, criteria, scanned))
      counts.collect().sum
    } finally sc.setLocalProperty(ParamSlot.Key, prior)
  }

  /** The memoized counting RDD of `shape` over the frames of `scanned`,
    * planned from `population` when none is held for them.
    */
  private def prepared(spark: SparkSession, dir: String, shape: String, scanned: Seq[Scan])(
      population: => DataFrame): RDD[Long] = {
    val memo = preparedMemos.computeIfAbsent((spark, dir), _ => new PreparedMemo)
    val frames = scanned.map(_.frame)
    memo.shapes.get(shape) match {
      case p if p != null && p.frames.corresponds(frames)(_ eq _) =>
        memo.hits.incrementAndGet()
        p.counts
      case _ =>
        val pop = population
        val counts = counting(pop)
        // images alone still plan an exchange when the union keeps no
        // partitioning (spark.sql.unionOutputPartitioning=false): the
        // stage below it would run once, with this call's values
        if (planWalk.find(pop.queryExecution.executedPlan)(_.isInstanceOf[Exchange]).isEmpty) {
          memo.prepares.incrementAndGet()
          if (memo.shapes.size >= PreparedCap) memo.shapes.clear()
          memo.shapes.put(shape, Prepared(frames, counts))
        }
        counts
    }
  }

  /** Per-atom subject counts — the reference exposes every
    * criterion's own population size next to the query result. Spec
    * shape: `{"population": ..., "atoms": [atom, ...]}` with the same
    * atom grammar as [[population]]. One pass: each atom's count is
    * the number of keys in [[membership]] with its bit set, all
    * counted by one global aggregate; an atom matching nothing
    * reports 0.
    */
  def atomCounts(
      spark: SparkSession, dir: String, json: String,
      sources: SourceOverrides = Map.empty): DataFrame = {
    val spec = JsonMethods.parse(json)
    val pop = popOf(spec)
    val atoms = spec \ "atoms" match {
      case JArray(as) if as.nonEmpty => as
      case other => throw new IllegalArgumentException(
        s"atom-counts needs a non-empty 'atoms' array, got $other")
    }
    val perAtom = atoms.indices.map { i =>
      org.apache.spark.sql.functions.count(when(hitsAny(maskOf(Seq(i), atoms.size)), lit(1)))
    }
    val (criteria, scanned) = parseAtoms(spark, dir, pop, atoms, sources, literal)
    membership(criteria, scanned)
      .agg(array(perAtom: _*).as("n"))
      .select(posexplode(col("n")).as(Seq("atom", "n_subjects")))
      .orderBy("atom")
  }

  /** The demo spec used by the oracle-checked q4a query. */
  val demoSpec: String =
    """{
      |  "population": "subject",
      |  "and": [
      |    {"or": [
      |      {"source": "orders",   "field": "o_orderpriority", "op": "eq", "value": "1-URGENT"},
      |      {"source": "lineitem", "field": "l_returnflag",    "op": "eq", "value": "R"}
      |    ]},
      |    {"or": [
      |      {"source": "customer", "field": "c_mktsegment", "op": "eq", "value": "BUILDING"},
      |      {"source": "customer", "field": "c_acctbal",    "op": "gt", "value": 7000}
      |    ]}
      |  ],
      |  "not": [
      |    {"source": "customer", "field": "c_acctbal", "op": "lt", "value": 0}
      |  ]
      |}""".stripMargin

  /** The event-shape demo spec for q4e: era AND (temporal OR field)
    * NOT field, over the user population — every typed atom family in
    * one declarative query.
    */
  val eventsSpec: String =
    """{
      |  "population": "user",
      |  "and": [
      |    {"type": "era", "windowMinutes": 30, "minEras": 60},
      |    {"or": [
      |      {"type": "temporal", "first": "view", "then": "purchase", "withinDays": 1},
      |      {"source": "events", "field": "value", "op": "between", "value": [250, 300]}
      |    ]}
      |  ],
      |  "not": [
      |    {"source": "events", "field": "value", "op": "gt", "value": 300}
      |  ]
      |}""".stripMargin

  val q4e: graft.Qdef = graft.Qdef(
    "q4e_cohort_dsl_events",
    (s, d) => count(s, d, eventsSpec),
    Some("""WITH e AS (SELECT user_id, event_type, value, event_id, epoch_ns(ts) // 1000 AS us FROM events),
            iv AS (SELECT user_id, event_id, us AS s, us + 1800000000 AS e FROM e),
            m AS (SELECT user_id, event_id, s, e,
                         MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
                  FROM iv),
            g AS (SELECT user_id, s,
                         SUM(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
                           OVER (PARTITION BY user_id ORDER BY s, event_id
                             ROWS UNBOUNDED PRECEDING) AS grp
                  FROM m),
            mg AS (SELECT user_id, grp FROM g GROUP BY 1, 2),
            q AS (SELECT user_id FROM mg GROUP BY user_id HAVING COUNT(*) >= 60),
            t AS (SELECT DISTINCT a.user_id FROM e a WHERE a.event_type = 'view' AND EXISTS (
                    SELECT 1 FROM e b WHERE b.user_id = a.user_id AND b.event_type = 'purchase'
                      AND b.us >= a.us AND b.us <= a.us + CAST(86400000000 AS BIGINT))),
            f AS (SELECT DISTINCT user_id FROM e WHERE value BETWEEN 250 AND 300),
            x AS (SELECT DISTINCT user_id FROM e WHERE value > 300)
            SELECT COUNT(*) AS n_subjects FROM (
              (SELECT user_id FROM q
               INTERSECT
               (SELECT user_id FROM t UNION SELECT user_id FROM f))
              EXCEPT SELECT user_id FROM x) z"""))

  // ------------------------------------------- maintained atom counts
  //
  // The reference answers per-criterion counts next to every query
  // result, and its store is import-fed: at 100 TB those counts must
  // update O(import batch), not O(store re-scan). The state below is
  // the multi-atom generalization of Warehouse.applyBatchToAgg's
  // signed partials: one sparse (atom, subject, n-matching-rows) frame
  // whose per-batch transition touches only batch-sized inputs plus
  // one before-image semi-join — and whose presentation (subjects with
  // n > 0 per atom) is bit-identical to recomputing [[atomCounts]]
  // over the merged store at every version.

  /** Parse `{"population": subject|visit, "atoms": [...]}` where every
    * atom is a FIELD atom on the `orders` source (the store-fed
    * table), to (subject key column, per-atom predicates). Loud on
    * anything the maintained path cannot transition incrementally.
    */
  private[graft] def maintainedSpec(json: String): (String, Seq[Column]) = {
    val spec = JsonMethods.parse(json)
    val subject = popOf(spec) match {
      case "subject" => "o_custkey"
      case "visit"   => "o_orderkey"
      case p => throw new IllegalArgumentException(
        s"maintained atom counts cover the orders store's populations (subject|visit), got '$p'")
    }
    val atoms = spec \ "atoms" match {
      case JArray(as) if as.nonEmpty => as
      case other => throw new IllegalArgumentException(
        s"atom-counts needs a non-empty 'atoms' array, got $other")
    }
    val preds = atoms.map { a =>
      require(atomType(a) == "field" && strField(a, "source") == "orders",
        "maintained atom counts cover field atoms on the store-fed 'orders' source — " +
          s"evaluate other atoms through the normal (recompute) path: $a")
      predicate(strField(a, "field"), strField(a, "op"), a \ "value", literal)
    }
    (subject, preds)
  }

  /** Sparse maintained state of `table`: one row per (atom index,
    * subject) with n = how many table rows match that atom's
    * predicate. ONE scan — the per-row atom indicators ride a single
    * posexplode, so adding atoms never adds passes. A predicate that
    * evaluates null on a row contributes 0 (exactly the rows
    * `filter(pred)` would drop in [[atomCounts]]).
    */
  def atomState(table: DataFrame, subject: Column, preds: Seq[Column]): DataFrame =
    table
      .select(subject.as("subject"),
        posexplode(array(preds.map(p => when(p, 1L).otherwise(0L)): _*)).as(Seq("atom", "m")))
      .filter(col("m") === 1L)
      .groupBy("atom", "subject").agg(sum("m").as("n"))

  /** One import batch applied to a maintained state WITHOUT touching
    * the base table beyond the before-image semi-join (batch keys
    * broadcast): minus the touched keys' previous contributions, plus
    * the surviving batch rows' — the [[graft.operators.Warehouse
    * .applyBatchToAgg]] transition, per atom. Assumes ≤1 row per key
    * per batch (the store's documented contract). Rows whose net n
    * reaches 0 leave the state, so it stays sparse forever.
    */
  def applyBatchToAtomState(
      state: DataFrame, prevTable: DataFrame, batch: DataFrame,
      keys: Seq[String], subject: Column, preds: Seq[Column]): DataFrame = {
    val b = graft.sources.Snapshots.normDeleted(batch)
    val before = prevTable.join(b.select(keys.map(col): _*), keys, "left_semi")
    val neg = atomState(before, subject, preds).withColumn("n", -col("n"))
    val pos = atomState(b.filter(!col("_deleted")).drop("_deleted"), subject, preds)
    state.unionByName(neg).unionByName(pos)
      .groupBy("atom", "subject").agg(sum("n").as("n"))
      .filter(col("n") =!= 0L)
  }

  /** Present a maintained state as [[atomCounts]]'s exact output
    * shape: (atom, n_subjects), zeros included for atoms matching no
    * subject.
    */
  def presentAtomCounts(spark: SparkSession, state: DataFrame, nAtoms: Int): DataFrame =
    spark.range(nAtoms).select(col("id").cast("int").as("atom"))
      .join(broadcast(state.filter(col("n") > 0L)
        .groupBy("atom").agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))),
        Seq("atom"), "left")
      .select(col("atom"), coalesce(col("n"), lit(0L)).as("n_subjects"))
      .orderBy("atom")

  val q4a: graft.Qdef = graft.Qdef(
    "q4a_cohort_json_dsl",
    (s, d) => count(s, d, demoSpec),
    Some("""SELECT COUNT(*) AS n_subjects FROM (
              ((SELECT DISTINCT o_custkey AS subject FROM orders WHERE o_orderpriority = '1-URGENT'
                UNION
                SELECT DISTINCT o_custkey AS subject FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                WHERE l_returnflag = 'R')
               INTERSECT
               (SELECT DISTINCT c_custkey AS subject FROM customer WHERE c_mktsegment = 'BUILDING'
                UNION
                SELECT DISTINCT c_custkey AS subject FROM customer WHERE c_acctbal > 7000))
              EXCEPT
              SELECT DISTINCT c_custkey AS subject FROM customer WHERE c_acctbal < 0) t"""))
}

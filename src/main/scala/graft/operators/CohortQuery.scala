package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
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
  * one member, as in SQL `INTERSECT`/`EXCEPT`.
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
    */
  private def keyed(
      spark: SparkSession, dir: String, population: String, source: String,
      over: SourceOverrides): (DataFrame, Column) = {
    def orders = resolve(over, "orders")(Tables.orders(spark, dir))
    def lineitem = resolve(over, "lineitem")(Tables.lineitem(spark, dir))
    (population, source) match {
      case ("subject", "customer") =>
        (resolve(over, "customer")(Tables.customer(spark, dir)), col("c_custkey"))
      case ("subject", "orders") => (orders, col("o_custkey"))
      case ("subject", "lineitem") =>
        // measurements hang off visits; key them to the visit's subject
        (lineitem.join(orders.select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey")), col("o_custkey"))
      case ("visit", "orders")   => (orders, col("o_orderkey"))
      case ("visit", "lineitem") => (lineitem, col("l_orderkey"))
      case ("user", "events") =>
        (resolve(over, "events")(Tables.events(spark, dir)), col("user_id"))
      case ("subject" | "visit" | "user", s) =>
        throw new IllegalArgumentException(s"unknown $population source: $s")
      case (p, _) => throw new IllegalArgumentException(s"unknown population: $p")
    }
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

  private def predicate(field: String, op: String, value: JValue): Column = {
    val c = col(field)
    op match {
      case "eq"   => c === lit(lit0(value))
      case "ne"   => c =!= lit(lit0(value))
      case "gt"   => c > lit(lit0(value))
      case "ge"   => c >= lit(lit0(value))
      case "lt"   => c < lit(lit0(value))
      case "le"   => c <= lit(lit0(value))
      case "like" => c.like(lit0(value).toString)
      case "in" => value match {
        case JArray(vs) => c.isin(vs.map(lit0): _*)
        case other      => throw new IllegalArgumentException(s"'in' needs an array, got $other")
      }
      case "between" => value match {
        case JArray(lo :: hi :: Nil) => c >= lit(lit0(lo)) && c <= lit(lit0(hi))
        case other => throw new IllegalArgumentException(s"'between' needs [lo, hi], got $other")
      }
      case other => throw new IllegalArgumentException(s"unknown op: $other")
    }
  }

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

  /** Parse one criterion. `type` picks the atom family: plain field
    * predicates (default), or the typed event-shape criteria —
    * `temporal` ({first, then, withinDays}, q4c semantics) and `era`
    * ({windowMinutes, minEras}, q4d semantics) — which key by user_id
    * and therefore require the `user` population.
    */
  private def criterion(
      spark: SparkSession, dir: String, population: String, atom: JValue,
      over: SourceOverrides): Criterion = {
    val typ = atom \ "type" match {
      case JString(t) => t
      case JNothing   => "field"
      case other      => throw new IllegalArgumentException(s"bad atom type: $other")
    }
    typ match {
      case "field" =>
        RowPredicate(strField(atom, "source"),
          predicate(strField(atom, "field"), strField(atom, "op"), atom \ "value"))
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
    * included, as one group — and a query costs one shuffle on the
    * key whatever its atom count.
    */
  private def membership(
      spark: SparkSession, dir: String, population: String, atoms: Seq[JValue],
      over: SourceOverrides): DataFrame = {
    val n = atoms.size
    def words(bits: Seq[(Int, Column)]): Seq[Column] =
      (0 until maskWords(n)).map { w =>
        bits.collect { case (i, on) if i / 64 == w =>
          when(on, lit(1L << (i % 64))).otherwise(lit(0L))
        }.reduceOption(_ bitwiseOR _).getOrElse(lit(0L)).as(wordCol(w))
      }
    val parsed = atoms.map(a => criterion(spark, dir, population, a, over)).zipWithIndex
    val rowAtoms = parsed.collect { case (RowPredicate(src, p), i) => (src, i, p) }
    val scans = rowAtoms.map(_._1).distinct.map { src =>
      val bits = rowAtoms.collect { case (`src`, i, p) => (i, p) }
      val (df, key) = keyed(spark, dir, population, src, over)
      df.filter(bits.map(_._2).reduce(_ || _))
        .select(key.as("subject") +: words(bits): _*)
    }
    val keySets = parsed.collect { case (KeySet(keys), i) =>
      keys.select(col("subject") +: words(Seq(i -> lit(true))): _*)
    }
    val ws = (0 until maskWords(n)).map(wordCol)
    (scans ++ keySets).reduce(_ unionByName _)
      .groupBy("subject")
      .agg(bit_or(col(ws.head)).as(ws.head), ws.tail.map(w => bit_or(col(w)).as(w)): _*)
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
    val spec = JsonMethods.parse(json)
    val pop = popOf(spec)
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
    val atoms = groups.flatten ++ nots
    val n = atoms.size
    val starts = groups.scanLeft(0)(_ + _.size)
    val cnf = groups.zip(starts).map { case (g, s) => hitsAny(maskOf(s until s + g.size, n)) }
      .reduce(_ && _)
    val keep = if (nots.isEmpty) cnf else cnf && !hitsAny(maskOf(n - nots.size until n, n))
    membership(spark, dir, pop, atoms, sources).filter(keep).select("subject")
  }

  /** Evaluate a spec → 1-row count (the reference's query result). */
  def count(
      spark: SparkSession, dir: String, json: String,
      sources: SourceOverrides = Map.empty): DataFrame =
    Cohort.countSubjects(population(spark, dir, json, sources))

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
    membership(spark, dir, pop, atoms, sources)
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
      val typ = a \ "type" match {
        case JString(t) => t; case JNothing => "field"
        case other => throw new IllegalArgumentException(s"bad atom type: $other")
      }
      require(typ == "field" && strField(a, "source") == "orders",
        "maintained atom counts cover field atoms on the store-fed 'orders' source — " +
          s"evaluate other atoms through the normal (recompute) path: $a")
      predicate(strField(a, "field"), strField(a, "op"), a \ "value")
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

package graft

import graft.operators.{Cohort, CohortQuery}
import org.apache.spark.sql.functions._

/** JSON cohort-query DSL semantics (SURVEY §2.5). */
class CohortQuerySpec extends SparkSpec {

  test("DSL CNF equals hand-composed combinators") {
    val json =
      """{"and": [
        |  {"or": [{"source": "orders", "field": "o_orderpriority", "op": "eq", "value": "1-URGENT"}]},
        |  {"or": [{"source": "customer", "field": "c_mktsegment", "op": "eq", "value": "BUILDING"},
        |          {"source": "customer", "field": "c_acctbal", "op": "gt", "value": 7000}]}
        |]}""".stripMargin
    val dsl = CohortQuery.population(spark, sf, json).collect().map(_.getLong(0)).toSet
    val urgent = Cohort.atom("u", Tables.orders(spark, sf),
      col("o_orderpriority") === "1-URGENT", col("o_custkey"))
    val building = Cohort.atom("b", Tables.customer(spark, sf),
      col("c_mktsegment") === "BUILDING", col("c_custkey"))
    val rich = Cohort.atom("r", Tables.customer(spark, sf),
      col("c_acctbal") > 7000, col("c_custkey"))
    val direct = Cohort.and(Seq(urgent.keys, Cohort.or(Seq(building, rich))))
      .collect().map(_.getLong(0)).toSet
    assert(dsl === direct)
  }

  test("bare atom works as a 1-ary OR-group; ops in/between/like parse") {
    val json =
      """{"and": [
        |  {"source": "orders", "field": "o_orderpriority", "op": "in", "value": ["1-URGENT", "2-HIGH"]},
        |  {"source": "customer", "field": "c_acctbal", "op": "between", "value": [0, 5000]},
        |  {"source": "customer", "field": "c_name", "op": "like", "value": "Customer%"}
        |]}""".stripMargin
    val n = CohortQuery.count(spark, sf, json).head().getLong(0)
    assert(n > 0)
    // n > 0 only proves the ops parse — bind their SEMANTICS against
    // directly composed predicates (a 'between' dropping its upper
    // bound or a 'like' doing contains would still count > 0)
    val inKeys = Tables.orders(spark, sf)
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .select(col("o_custkey").as("subject")).distinct()
    val btwKeys = Tables.customer(spark, sf)
      .filter(col("c_acctbal").between(0, 5000))
      .select(col("c_custkey").as("subject")).distinct()
    val likeKeys = Tables.customer(spark, sf)
      .filter(col("c_name").like("Customer%"))
      .select(col("c_custkey").as("subject")).distinct()
    assert(n === Cohort.and(Seq(inKeys, btwKeys, likeKeys)).count(),
      "in/between/like DSL ops diverge from directly composed predicates")
  }

  test("visit population keys atoms by order, not customer") {
    val json =
      """{"population": "visit", "and": [
        |  {"source": "orders", "field": "o_orderpriority", "op": "eq", "value": "1-URGENT"},
        |  {"source": "lineitem", "field": "l_returnflag", "op": "eq", "value": "R"}
        |]}""".stripMargin
    val n = CohortQuery.count(spark, sf, json).head().getLong(0)
    // must equal the hand-built visit cohort q49 minus its date filter superset
    val urgentVisits = Tables.orders(spark, sf).filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("subject")).distinct()
    val returnVisits = Tables.lineitem(spark, sf).filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("subject")).distinct()
    assert(n === Cohort.and(Seq(urgentVisits, returnVisits)).count())
  }

  test("malformed specs fail loudly") {
    intercept[IllegalArgumentException] {
      CohortQuery.population(spark, sf, """{"and": [{"source": "nope", "field": "x", "op": "eq", "value": 1}]}""")
    }
    intercept[IllegalArgumentException] {
      CohortQuery.population(spark, sf, """{"or": []}""") // no 'and' root
    }
    intercept[IllegalArgumentException] {
      CohortQuery.population(spark, sf,
        """{"and": [{"source": "orders", "field": "o_orderkey", "op": "xor", "value": 1}]}""")
    }
    // a JSON integer past Long range must be refused, not WRAPPED:
    // BigInt.toLong would silently turn 2^64+1 into 1 and the query
    // would confidently answer "o_custkey > 1"
    intercept[IllegalArgumentException] {
      CohortQuery.population(spark, sf,
        """{"and": [{"source": "orders", "field": "o_custkey", "op": "gt", "value": 18446744073709551617}]}""")
    }
  }

  test("item surfaces refuse blank and NaN-shaped inputs loudly") {
    import graft.operators.Cohort
    // Some("") would pass an Option presence check and contains("")
    // matches EVERY row — a blank search box must not list the table
    intercept[IllegalArgumentException] {
      Cohort.metadataSearch(Tables.part(spark, sf), Some(""))
    }
    intercept[IllegalArgumentException] {
      Cohort.metadataSearch(Tables.part(spark, sf), None, Some(""))
    }
    // a constant-valued group's stddev is 0, not NaN: the moment
    // difference lands a few double-ulps negative (1.47 - 2.1²/3) and
    // an unclamped sqrt would serve NaN (Spark) or error (DuckDB)
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val const = Seq(("g", 0.70), ("g", 0.70), ("g", 0.70)).toDF("k", "v")
    val std = Cohort.itemStats(const, "v", Some("k")).select("std_q").head().getDouble(0)
    assert(std == 0.0, s"constant group stddev must be exactly 0, got $std")
  }

  test("spec validation: blank patterns, empty groups, and out-of-range windows are typed errors, not wrong answers") {
    import graft.operators.Cohort
    // a blank q= alongside a valid regex must not OR the whole table
    // into the answer (contains("") is true for every row)
    val part = Tables.part(spark, sf)
    val direct = Cohort.metadataSearch(part, None, Some("^small .*(bolt|rod)$")).count()
    val mixed = Cohort.metadataSearch(part, Some(""), Some("^small .*(bolt|rod)$")).count()
    assert(mixed === direct, "a blank substring widened the regex search")
    assert(mixed < part.count(), "search degenerated into a full-table listing")
    intercept[IllegalArgumentException] { Cohort.metadataSearch(part, Some(""), Some("")) }
    // withinDays past Int range would silently wrap to a 0-day window
    intercept[IllegalArgumentException] {
      CohortQuery.population(spark, sf,
        """{"population":"user","and":[{"type":"temporal","first":"view","then":"purchase","withinDays":4294967296}]}""")
    }
    // windowMinutes * 60e6 micros must not overflow Long into a negative window
    intercept[IllegalArgumentException] {
      CohortQuery.population(spark, sf,
        """{"population":"user","and":[{"type":"era","windowMinutes":200000000000000,"minEras":1}]}""")
    }
    // empty or-group / empty and: validation errors, not empty.reduceLeft 500s
    intercept[IllegalArgumentException] {
      CohortQuery.population(spark, sf, """{"and":[{"or":[]}]}""")
    }
    intercept[IllegalArgumentException] {
      CohortQuery.population(spark, sf, """{"and":[]}""")
    }
    // a non-positive era window would invert every era (me < ms)
    // silently instead of erroring (ms-vs-us unit mix-ups)
    intercept[IllegalArgumentException] {
      graft.operators.Relational.mergedEras(Tables.events(spark, sf), windowUs = 0L)
    }
  }

  test("maintained atom counts equal the recompute bit-for-bit across deltas and a compaction") {
    import spark.implicits._
    import graft.sources.Snapshots
    val root = tmpDir("cohort-maintained")
    val specJson =
      """{"population": "subject", "atoms": [
           {"source": "orders", "field": "o_orderpriority", "op": "eq", "value": "1-URGENT"},
           {"source": "orders", "field": "o_totalprice", "op": "gt", "value": 100},
           {"source": "orders", "field": "o_orderpriority", "op": "eq", "value": "NEVER"}]}"""
    val (subjectName, preds) = CohortQuery.maintainedSpec(specJson)
    val subject = col(subjectName)
    val keys = Seq("o_orderkey")
    def recompute(): Seq[(Int, Long)] =
      CohortQuery.atomCounts(spark, sf, specJson,
        sources = Map("orders" -> Snapshots.latest(spark, root, keys)))
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    def present(st: org.apache.spark.sql.DataFrame): Seq[(Int, Long)] =
      CohortQuery.presentAtomCounts(spark, st, preds.size)
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq

    // v1: two subjects, overlapping atom membership (subject 10 holds
    // TWO urgent orders — a later single retraction must NOT drop it)
    Snapshots.commit(Seq(
      (1L, 10L, "1-URGENT", 150.0), (2L, 10L, "1-URGENT", 50.0),
      (3L, 20L, "2-HIGH", 200.0), (4L, 30L, "1-URGENT", 90.0))
      .toDF("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"), root)
    var state = CohortQuery.atomState(Snapshots.latest(spark, root, keys), subject, preds)
    assert(present(state) === recompute())
    assert(present(state) === Seq((0, 2L), (1, 2L), (2, 0L)))

    // v2 delta: retract one of subject 10's urgent orders (membership
    // survives via the other), flip order 3 to urgent, add subject 40
    Snapshots.commitDelta(Seq(
      (1L, 10L, "1-URGENT", 150.0, true),
      (3L, 20L, "1-URGENT", 200.0, false),
      (5L, 40L, "3-LOW", 500.0, false))
      .toDF("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice", "_deleted"), root)
    state = CohortQuery.applyBatchToAtomState(state,
      Snapshots.asOf(spark, root, 1L, keys), Snapshots.read(spark, root, 2L),
      keys, subject, preds)
    assert(present(state) === recompute())
    assert(present(state) === Seq((0, 3L), (1, 2L), (2, 0L)))

    // v3 delta: retract subject 10's LAST urgent order — it must leave
    // atom 0 now (the n-reaches-0 transition)
    Snapshots.commitDelta(Seq((2L, 10L, "1-URGENT", 50.0, true))
      .toDF("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice", "_deleted"), root)
    state = CohortQuery.applyBatchToAtomState(state,
      Snapshots.asOf(spark, root, 2L, keys), Snapshots.read(spark, root, 3L),
      keys, subject, preds)
    assert(present(state) === recompute())
    assert(present(state).head === ((0, 2L)))

    // compaction appends a FULL restating the merged view: rebuilding
    // the state from that full must land exactly where the maintained
    // chain is
    Snapshots.compact(spark, root, keys)
    val fullV = Snapshots.latestVersion(spark, root)
    val rebuilt = CohortQuery.atomState(Snapshots.read(spark, root, fullV), subject, preds)
    assert(present(rebuilt) === present(state))
    assert(present(rebuilt) === recompute())
  }

  // ---------------------------------------------- one-pass evaluator

  private def keysOf(df: org.apache.spark.sql.DataFrame): Set[Option[Long]] =
    df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSet

  test("a NULL subject key is one member, as in SQL INTERSECT/EXCEPT") {
    import spark.implicits._
    val rows = Seq[(Long, Option[Long], String, Double)](
      (1L, None, "1-URGENT", 500.0), (2L, None, "2-HIGH", 50.0),
      (3L, Some(7L), "1-URGENT", 500.0), (4L, Some(8L), "1-URGENT", 50.0),
      (5L, Some(9L), "3-MEDIUM", 900.0))
    val orders = rows.toDF("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
    def atom(field: String, op: String, v: String) =
      s"""{"source": "orders", "field": "$field", "op": "$op", "value": $v}"""
    val urgent = atom("o_orderpriority", "eq", "\"1-URGENT\"")
    val pricey = atom("o_totalprice", "gt", "100")
    val high = atom("o_orderpriority", "eq", "\"2-HIGH\"")
    // the expected sets come from the rows above in plain Scala, with
    // None standing for the NULL key
    def matching(p: ((Long, Option[Long], String, Double)) => Boolean): Set[Option[Long]] =
      rows.filter(p).map(_._2).toSet
    val urgentK = matching(_._3 == "1-URGENT")
    val priceyK = matching(_._4 > 100)
    val highK = matching(_._3 == "2-HIGH")
    val over = Map("orders" -> orders)

    val both = s"""{"and": [$urgent, $pricey]}"""
    val expectBoth = urgentK intersect priceyK
    assert(expectBoth === Set(None, Some(7L)))
    assert(keysOf(CohortQuery.population(spark, sf, both, over)) === expectBoth)
    assert(CohortQuery.count(spark, sf, both, over).head().getLong(0) === expectBoth.size)

    // EXCEPT removes the NULL key when the NOT atom matches it too
    val minus = s"""{"and": [$urgent, $pricey], "not": [$high]}"""
    val expectMinus = expectBoth diff highK
    assert(expectMinus === Set(Some(7L)))
    assert(keysOf(CohortQuery.population(spark, sf, minus, over)) === expectMinus)

    // and every atom counts the NULL key once
    val counts = CohortQuery.atomCounts(spark, sf, s"""{"atoms": [$urgent, $pricey, $high]}""", over)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(counts === Seq((0, urgentK.size.toLong), (1, priceyK.size.toLong), (2, highK.size.toLong)))
  }

  test("70 atoms span two mask words: CNF and atom counts equal a plain-Scala evaluation") {
    val custKeys = Tables.customer(spark, sf).select("c_custkey").collect().map(_.getLong(0)).toSet
    def eq(k: Int) = s"""{"source": "customer", "field": "c_custkey", "op": "eq", "value": $k}"""
    // atoms 0..39 (word 0), 40..68 (word 0 bits 40..63 and word 1),
    // and the NOT atom 69 (word 1)
    val g1 = (1 to 40).map(eq)
    val g2 = (20 to 48).map(eq)
    val spec = s"""{"and": [{"or": [${g1.mkString(",")}]}, {"or": [${g2.mkString(",")}]}],
                  | "not": [${eq(25)}]}""".stripMargin
    val expect = custKeys.filter(k => k >= 1 && k <= 40 && k >= 20 && k <= 48 && k != 25)
    assert(expect.size > 10, "the fixture lost the customers the spec selects")
    assert(keysOf(CohortQuery.population(spark, sf, spec)) === expect.map(Some(_)))
    assert(CohortQuery.count(spark, sf, spec).head().getLong(0) === expect.size)

    val atoms = (1 to 69).map(eq) :+
      """{"source": "customer", "field": "c_acctbal", "op": "gt", "value": 0}"""
    val counts = CohortQuery.atomCounts(spark, sf, s"""{"atoms": [${atoms.mkString(",")}]}""")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    val positive = Tables.customer(spark, sf).filter(col("c_acctbal") > 0)
      .select("c_custkey").distinct().count()
    assert(counts === (1 to 69).map(k => (k - 1, if (custKeys(k.toLong)) 1L else 0L)) :+ ((69, positive)))
  }

  test("atom counts keep a zero row per atom, also when no key matches any atom") {
    val never = """{"source": "orders", "field": "o_orderpriority", "op": "eq", "value": "NEVER"}"""
    val broke = """{"source": "customer", "field": "c_acctbal", "op": "gt", "value": 1.0e12}"""
    val counts = CohortQuery.atomCounts(spark, sf, s"""{"atoms": [$never, $broke]}""")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(counts === Seq((0, 0L), (1, 0L)))
    assert(CohortQuery.count(spark, sf, s"""{"and": [{"or": [$never, $broke]}]}""")
      .head().getLong(0) === 0L)
  }

  test("an orders override reaches every source that reads orders, lineitem's join included") {
    // the override keeps the even visits and moves each to another
    // subject; the expected answer is computed from collected rows
    val live = Tables.orders(spark, sf)
    val over = live.filter(col("o_orderkey") % 2 === 0)
      .withColumn("o_custkey", col("o_custkey") + 100000L)
    val visits = over.select("o_orderkey", "o_custkey", "o_orderpriority").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val returned = Tables.lineitem(spark, sf).filter(col("l_returnflag") === "R")
      .select("l_orderkey").collect().map(_.getLong(0))
    val returnsK = returned.flatMap(visits.get).map(_._1).toSet
    val urgentK = visits.values.collect { case (c, "1-URGENT") => c }.toSet
    val spec =
      """{"and": [
        |  {"source": "lineitem", "field": "l_returnflag", "op": "eq", "value": "R"},
        |  {"source": "orders", "field": "o_orderpriority", "op": "eq", "value": "1-URGENT"}
        |]}""".stripMargin
    val expect = returnsK intersect urgentK
    assert(expect.nonEmpty, "the fixture lost the subjects the spec selects")
    assert(keysOf(CohortQuery.population(spark, sf, spec, Map("orders" -> over))) ===
      expect.map(Some(_)))
  }

  test("Tables.load re-infers the schema after a file at the same path is rewritten") {
    import spark.implicits._
    val dir = tmpDir("tables-memo")
    val path = s"$dir/t.parquet"
    Seq(1L, 2L).toDF("a").write.parquet(path)
    val first = Tables.load(spark, dir, "t")
    assert(first.schema.fieldNames.toSeq === Seq("a"))
    assert(first.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
    Seq(("x", 3)).toDF("a", "b").write.mode("overwrite").parquet(path)
    val second = Tables.load(spark, dir, "t")
    assert(second.schema.map(f => f.name -> f.dataType.simpleString) ===
      Seq("a" -> "string", "b" -> "int"))
    assert(second.collect().map(r => (r.getString(0), r.getInt(1))).toSeq === Seq(("x", 3)))
  }

  test("job pin at sf0.01: a built cohort count runs no job, and at most 4 when executed") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val dir = new java.io.File(sf).getParent + "/sf0.01"
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    // listener delivery is asynchronous; events arrive in order, so once
    // a sentinel job's start is seen, every earlier job's has been too
    def jobsIn(group: String)(body: => Unit): Int = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      val sentinel = s"$group-sentinel"
      sc.setJobGroup(sentinel, sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains(sentinel) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains(sentinel), "listener never saw the sentinel job")
      groups.toArray.count(_ == group)
    }
    sc.addSparkListener(listener)
    try {
      CohortQuery.count(spark, dir, CohortQuery.demoSpec) // first loads infer the schemas
      var df: org.apache.spark.sql.DataFrame = null
      assert(jobsIn("pin-build") { df = CohortQuery.count(spark, dir, CohortQuery.demoSpec) } === 0)
      val executed = jobsIn("pin-exec") { df.collect() }
      assert(executed <= 4, s"a cohort count ran $executed jobs")
    } finally sc.removeSparkListener(listener)
  }
}

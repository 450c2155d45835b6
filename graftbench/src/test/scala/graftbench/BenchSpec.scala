package graftbench

import graftbench.Gen.{Atom, AtomCountsSpec, CohortSpec, Visit}
import org.json4s._
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("a percentile needs ten samples beyond it") {
    val xs = (1 to 19).map(_.toDouble)
    assert(Stats.percentile(xs, 0.5).isEmpty)
    assert(Stats.percentile(xs :+ 20.0, 0.5).contains(10.5))
    assert(Stats.percentile((1 to 99).map(_.toDouble), 0.9).isEmpty)
    assert(Stats.percentile((1 to 100).map(_.toDouble), 0.9).contains(90.0))
    assert(Stats.percentile(Nil, 0.5).isEmpty)
  }

  test("self time subtracts the union of overlapping children, clipped to the parent") {
    assert(Stats.selfTime((0L, 100L), Nil) == 100L)
    assert(Stats.selfTime((0L, 100L), Seq((10L, 30L), (20L, 50L), (90L, 120L))) == 50L)
    assert(Stats.selfTime((0L, 100L), Seq((-50L, 10L), (200L, 300L))) == 90L)
    assert(Stats.selfTime((0L, 100L), Seq((0L, 100L), (10L, 20L))) == 0L)
    assert(Stats.unionLength(Seq((5L, 10L), (0L, 3L), (2L, 4L), (7L, 7L))) == 9L)
  }

  private val base = (0 until 2000).map(i =>
    Visit(i.toLong, (i % 97).toLong, "F", 1000.0 + i, i, "1-URGENT"))
  private val windows = Gen.windows(3L, base.length, 4, 100)

  private def traffic(seed: Long) = Gen.serveTraffic(seed, Map("cohort" -> 20, "stats" -> 5, "atom_counts" -> 4, "filler" -> 3))
  private def rendered(seed: Long) = {
    val (warm, timed) = traffic(seed)
    (warm ++ timed).map(r => s"${r.cls} ${r.method} ${r.path} ${r.body.getOrElse("")}").mkString("\n") + "\n" +
      Gen.deltas(seed, base, 6, windows, 30, 8, 12).map(_.render).mkString("\n---\n") + "\n" +
      Gen.ingestReads(seed, 6, 4).map(r => s"${r.window} ${r.cohort.json}").mkString("\n") +
      Gen.dashboard(seed).json
  }

  test("the generator is a pure function of the seed") {
    assert(rendered(41L) == rendered(41L))
    assert(rendered(41L) != rendered(42L))
    assert(Gen.windows(41L, 150000, 4, 150) == Gen.windows(41L, 150000, 4, 150))
    assert(Gen.windows(41L, 150000, 4, 150) != Gen.windows(42L, 150000, 4, 150))
  }

  test("every run sends the same mix of request shapes") {
    def shapes(seed: Long) = traffic(seed)._2.groupBy(_.cls).view.mapValues(_.length).toMap
    assert(shapes(1L) == shapes(2L))
    val cohorts = traffic(5L)._2.filter(_.cls == "cohort").map(r => Gen.parseCohort(r.body.get))
    def shape(c: CohortSpec) = (c.groups.map(_.map(a => (a.source, a.field, a.op))), c.not.map(a => (a.source, a.field, a.op)))
    val want = shape(Gen.cohortSpec(new java.util.Random(0L), Gen.cohortShape))
    assert(cohorts.length == 20 && cohorts.forall(shape(_) == want))
    assert(cohorts.distinct.length > 1)
  }

  test("request bodies parse back to the specs they were rendered from") {
    val r = new java.util.Random(9L)
    (0 until 50).foreach { i =>
      val spec = Gen.cohortSpec(r, if (i % 2 == 0) Gen.cohortShape else Gen.asOfShape)
      assert(Gen.parseCohort(spec.json) == spec)
    }
    val counts = AtomCountsSpec(Seq("o.price", "c.nations", "l.discount").map(Gen.atom(r, _)))
    assert(Gen.parseAtomCounts(counts.json) == counts)
    assert(Gen.params("/x?a=1&b=c%20d") == Map("a" -> "1", "b" -> "c d"))
  }

  test("deltas touch each key once, only live keys inside the read windows, and insert fresh keys") {
    val ds = Gen.deltas(7L, base, 10, windows, 30, 8, 12)
    var live = base.map(_.key).toSet
    ds.foreach { d =>
      val touched = d.upserts.map(_.key) ++ d.deletes
      assert(touched.distinct.length == touched.length)
      val (updates, inserts) = d.upserts.partition(v => live(v.key))
      assert(updates.length == 30 && inserts.length == 12 && d.deletes.length == 8)
      assert((updates.map(_.key) ++ d.deletes).forall(k => windows.exists { case (lo, hi) => k >= lo && k < hi }))
      assert(d.deletes.forall(live))
      live = live -- d.deletes ++ d.upserts.map(_.key)
    }
  }

  // a three-customer world: orders 10, 11 (customer 1), 12 (customer 2)
  private val tiny = new RefData(
    visits = IndexedSeq(
      Visit(10L, 1L, "F", 500.0, 0, "1-URGENT"),
      Visit(11L, 1L, "O", 900.0, 1, "5-LOW"),
      Visit(12L, 2L, "O", 100.0, 2, "5-LOW")),
    orderDates = IndexedSeq("d0", "d1", "d2"),
    li = new RefData.Lineitems(Array(10L, 12L, 12L), Array(5.0, 45.0, 50.0), Array(1.0, 2.0, 3.0),
      Array(0.01, 0.02, 0.03), Array(0.0, 0.0, 0.0), Array("R", "A", "R"), Array("F", "O", "O")),
    custKey = Array(1L, 2L, 3L), custNation = Array(1, 2, 3),
    custBal = Array(-5.0, 100.0, 9000.0), custSegment = Array("BUILDING", "MACHINERY", "BUILDING"),
    parts = IndexedSeq((1L, "blue ring", "T1"), (2L, "red bolt", "T2"), (3L, "blue bolt", "T3")))

  private def a(source: String, field: String, op: String, v: JValue) = Atom(source, field, op, v)

  test("the reference evaluates the cohort DSL: AND of ORs minus NOT") {
    val ev = new Ref.Evaluator(tiny, tiny.visits)
    val urgent = a("orders", "o_orderpriority", "eq", JString("1-URGENT")) // {1}
    val bigQty = a("lineitem", "l_quantity", "gt", JInt(40)) // {2}
    val building = a("customer", "c_mktsegment", "eq", JString("BUILDING")) // {1, 3}
    val rich = a("customer", "c_acctbal", "between", JArray(List(JInt(50), JInt(10000)))) // {2, 3}
    assert(ev.cohortCount(CohortSpec(Seq(Seq(urgent, bigQty)), Nil)) == 2)
    assert(ev.cohortCount(CohortSpec(Seq(Seq(urgent, bigQty), Seq(building, rich)), Nil)) == 2)
    assert(ev.cohortCount(CohortSpec(Seq(Seq(urgent, bigQty), Seq(rich)), Seq(urgent))) == 1)
    assert(ev.atomCounts(AtomCountsSpec(Seq(urgent, bigQty, building, rich))) == Seq(1L, 1L, 2L, 2L))
  }

  private def rows(cols: (String, JValue)*) = JsonWriter(JObject("rows" -> JArray(List(JObject(cols.toList)))))
  private object JsonWriter { def apply(v: JValue): String = org.json4s.jackson.JsonMethods.compact(v) }

  test("each check accepts the right answer and rejects a wrong one") {
    assert(Checks.cohortCount("""{"n_subjects":5}""", 5).isEmpty)
    assert(Checks.cohortCount("""{"n_subjects":6}""", 5).nonEmpty)
    assert(Checks.cohortCount("""{"error":"boom"}""", 5).nonEmpty)
    assert(Checks.commitVersion("""{"version":3,"mode":"delta"}""", 3).isEmpty)
    assert(Checks.commitVersion("""{"version":4,"mode":"delta"}""", 3).nonEmpty)

    val counts = """{"rows":[{"atom":0,"n_subjects":2},{"atom":1,"n_subjects":0}]}"""
    assert(Checks.atomCounts(counts, Seq(2L, 0L)).isEmpty)
    assert(Checks.atomCounts(counts, Seq(2L, 1L)).nonEmpty)
    assert(Checks.atomCounts(counts, Seq(2L)).nonEmpty)

    val stats = Ref.itemStats(tiny, "l_quantity", "l_returnflag")
    assert(stats.map(s => (s._1, s._3)) == Seq(("A", 1L), ("R", 2L)))
    assert(stats(1)._2 == Seq(5.0, 50.0, 27.5, math.sqrt((5.0 * 5 + 50.0 * 50 - 55.0 * 55 / 2) / 1), 27.5))
    def statsJson(avgR: Double) = JsonWriter(JObject("rows" -> JArray(stats.map { case (g, v, n) =>
      JObject("l_returnflag" -> JString(g), "min_q" -> JDouble(v(0)), "max_q" -> JDouble(v(1)),
        "avg_q" -> JDouble(if (g == "R") avgR else v(2)), "std_q" -> JDouble(v(3)),
        "med_q" -> JDouble(v(4)), "n_obs" -> JInt(n))
    }.toList)))
    assert(Checks.itemStats(statsJson(27.5), "l_returnflag", stats).isEmpty)
    assert(Checks.itemStats(statsJson(27.51), "l_returnflag", stats).nonEmpty)

    val hist = Ref.histogram(Ref.numericColumn(tiny, "lineitem", "l_quantity"), 10)
    assert(hist == Seq((0L, 1L), (4L, 1L), (5L, 1L)))
    val histJson = JsonWriter(JObject("rows" -> JArray(hist.map { case (b, n) =>
      JObject("bucket" -> JInt(b), "n" -> JInt(n)) }.toList)))
    assert(Checks.histogram(histJson, hist).isEmpty)
    assert(Checks.histogram(histJson, hist.map { case (b, n) => (b, n + 1) }).nonEmpty)

    val freq = Ref.frequencies(tiny, "customer", "c_mktsegment")
    assert(freq == Seq(("BUILDING", 2L), ("MACHINERY", 1L)))
    def freqJson(share: Double) = JsonWriter(JObject("rows" -> JArray(List(
      JObject("c_mktsegment" -> JString("BUILDING"), "n" -> JInt(2), "share" -> JDouble(share)),
      JObject("c_mktsegment" -> JString("MACHINERY"), "n" -> JInt(1), "share" -> JDouble(1.0 / 3))))))
    assert(Checks.frequencies(freqJson(2.0 / 3), "c_mktsegment", freq).isEmpty)
    assert(Checks.frequencies(freqJson(0.5), "c_mktsegment", freq).nonEmpty)

    val meta = Ref.metadata(tiny, "blue", 50)
    assert(meta.map(_._1) == Seq(1L, 3L))
    val metaJson = rows("p_partkey" -> JInt(1), "p_name" -> JString("blue ring"), "p_type" -> JString("T1"))
    assert(Checks.metadata(metaJson, meta.take(1)).isEmpty)
    assert(Checks.metadata(metaJson, meta).nonEmpty)

    val order = rows("o_orderkey" -> JInt(10), "o_custkey" -> JInt(1), "o_orderstatus" -> JString("F"),
      "o_totalprice" -> JDouble(500.0), "o_orderdate" -> JString("d0"), "o_orderpriority" -> JString("1-URGENT"))
    val row: Checks.OrderRow = (10L, 1L, "F", 500.0, "d0", "1-URGENT")
    assert(Checks.storeRead(order, Seq(row)).isEmpty)
    assert(Checks.storeRead(order, Seq(row.copy(_4 = 500.01))).nonEmpty)
    assert(Checks.storeRead(order, Seq(row, row.copy(_1 = 11L))).nonEmpty)

    val change = rows("o_orderkey" -> JInt(10), "o_custkey" -> JInt(1), "o_orderstatus" -> JString("F"),
      "o_totalprice" -> JDouble(500.0), "o_orderdate" -> JString("d0"), "o_orderpriority" -> JString("1-URGENT"),
      "_change" -> JString("update"))
    assert(Checks.changes(change, Seq(row -> "update")).isEmpty)
    assert(Checks.changes(change, Seq(row -> "insert")).nonEmpty)
    assert(Checks.changes(change, Nil).nonEmpty)
  }

  test("the maintained-state check reads the state's build and rejects a stale one") {
    val status = """{"cohort_state":{"atoms":4,"version":7,"built_at_version":5,"applied_batches":2}}"""
    assert(Checks.cohortState(status, 7) == Right((5L, 2L)))
    assert(Checks.cohortState(status, 8).isLeft)
    assert(Checks.cohortState("""{"cohort_state":null}""", 7).isLeft)

    val p = new IngestAsOf.Probe
    p.stateReads ++= Seq((5L, 0L, 6.0), (5L, 1L, 5.0), (12L, 0L, 2.0))
    assert(p.builds.map(_._3) == Seq(6.0, 2.0))
    assert(p.advances.map(_._3) == Seq(5.0))
  }
}

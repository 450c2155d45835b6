package graftbench

import graft.serve.WarehouseServer
import graft.sources.Snapshots
import graftbench.Gen.{Delta, Visit}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{BooleanType, StructField, StructType}
import scala.collection.immutable.TreeMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** `ingest-asof`: one client runs a fixed sequence against a snapshot
  * store seeded with the `orders` table. Each cycle commits a staged
  * delta of new, updated and tombstoned visits, then reads the store
  * at an older version; every `compactEvery` cycles the store is
  * compacted and vacuumed. Which version each read sees is fixed by
  * the seed, never by timing.
  *
  * The other store reads — a cohort count as of an older commit time,
  * the maintained atom counts at the tip and the change feed — cost
  * 3-6 s each on 4 cores, so twenty of them do not fit in a run. A
  * traced run makes and checks them for the per-layer figures: the
  * maintained counts before and after the last commit and after the
  * final vacuum, the other two once after the last cycle.
  */
object IngestAsOf {

  val keys = Seq("o_orderkey")
  val nWindows = 4
  val windowRows = 150
  val (updates, deletes, inserts) = (30, 8, 12)

  /** Timed cycles: 20, the least that gives the commit and read
    * classes a median with ten samples beyond it.
    */
  val cycles = 20

  /** One untimed cycle before them, then a compaction: it warms the
    * commit and read paths and leaves the timed reads on a compacted
    * base, like every later read. Without it the reads of the first
    * five cycles, on the base as first committed, ran 0.3 s slower.
    */
  val warmCycles = 1

  /** Cycles between compactions. A read merges the segments since the
    * last compaction, so its cost climbs with the cycle; with a
    * compaction every 5 cycles, four reads of the 20 see each chain
    * length, and the median falls inside one such group rather than on
    * a slope of single samples.
    */
  val compactEvery = 5

  /** The benchmark's own record of what it committed: the table state
    * at every version, when each version became visible, and the
    * oldest version the last vacuum kept.
    */
  final class Ledger(base: TreeMap[Long, Visit], baseMs: Long) {
    val states = ArrayBuffer[TreeMap[Long, Visit]](TreeMap.empty, base)
    val full = ArrayBuffer(false, true)
    val stampMs = ArrayBuffer(0L, baseMs)
    var floor = 1
    def tip: Int = states.length - 1
    def commit(d: Delta, ms: Long): Unit = {
      states += (states.last -- d.deletes) ++ d.upserts.map(v => v.key -> v)
      full += false; stampMs += ms
    }
    def compact(ms: Long): Unit = { states += states.last; full += true; stampMs += ms }
    def baseOf(v: Int): Int = (v to 1 by -1).find(full(_)).get
  }

  private def cursor(after: Long): String =
    java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(
      s"""{"k":["o_orderkey:a"],"v":[$after]}""".getBytes("UTF-8"))

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val ref = RefData.cached(spark, ctx.dataDir, ctx.cacheDir)
    val n = warmCycles + cycles
    val windows = Gen.windows(ctx.seed, ref.visits.length, nWindows, windowRows)
    val deltas = Gen.deltas(ctx.seed, ref.visits, n, windows, updates, deletes, inserts)
    val reads = Gen.ingestReads(ctx.seed, n, nWindows)
    val dash = Gen.dashboard(ctx.seed)
    val (staged, userBytes) = stage(ctx, ref, deltas)
    val base = TreeMap(ref.visits.map(v => v.key -> v): _*)
    Harness.log("reference tables loaded, batches staged")

    // set-up: a fresh store seeded with a full commit of `orders`
    // behind a started server. A set-up is short (0.6 s), so the first
    // two, still warming, are not reported, and the median of five is
    def bringUp(name: String): (WarehouseServer.Running, Http, Path, Ledger, Double) = {
      val root = ctx.workDir.resolve(name)
      Harness.deleteTree(root)
      val t0 = System.nanoTime()
      val server = WarehouseServer.start(spark,
        WarehouseServer.Config(ctx.dataDir, storeRoot = Some(root.toString), threads = 4))
      val http = new Http(server.port)
      val c = http.call("setup", "POST", "/store/commit",
        Some(s"""{"source":"${ctx.dataDir}/orders.parquet","mode":"full"}"""))
      require(c.code == 200, s"base commit failed: ${c.code} ${c.response.take(300)}")
      val ledger = new Ledger(base, System.currentTimeMillis())
      require(http.call("setup", "GET", "/status").code == 200, "status failed")
      (server, http, root, ledger, (System.nanoTime() - t0) / 1e9)
    }
    val nSetups = Harness.setupCount(ctx, cold = 2, timed = 5)
    val ups = (0 until nSetups).map { k =>
      val u = ctx.tracer.span("setup")(_ => bringUp(s"store-setup-$k"))
      if (k < nSetups - 1) { u._1.close(); Harness.deleteTree(u._3) }
      u
    }
    val setupS = Stats.median(ups.drop(2).map(_._5))
    Harness.log(s"set-up done: ${ups.map(u => f"${u._5}%.2f").mkString(" ")}")
    val (server, http, root, ledger, _) = ups.last

    // A traced run makes the same pass as an untraced run, on the
    // set-up's store, with the listener and the probes on; its
    // end-to-end figures (`traced.*`) against an untraced run of the
    // same seed give the tracing overhead.
    val probe = new Probe
    val (pass, jobs, wall, gc, heap) = try {
      def run(p: Option[Probe]) =
        sequence(ctx, http, root, ledger, ref, staged, deltas, windows, reads, dash, p)
      if (ctx.traced) Harness.tracedPhase(ctx)(run(Some(probe)))
      else (ctx.tracer.span("phase.untraced")(_ => run(None)), Nil, 0.0, 0.0, 0.0)
    } finally server.close()
    Harness.log(s"${if (ctx.traced) "traced" else "untraced"} pass done: ${Harness.summary(pass.done)}")
    val e2eExtra = Harness.p50s(pass.done, Seq("commit"), c => s"${c}_p50_s") :+
      (("stored_bytes_per_user_byte", Harness.treeBytes(root) / userBytes.toDouble, "ratio"))

    // The layers both workloads report: the serve layer of the
    // versioned reads ("query") and of the commits ("other"), and the
    // read's construction and planning in-process (`Snapshots.asOf`).
    // The store's own figures go with the extra ones.
    val (layers, layersExtra) = if (!ctx.traced) (Nil, Nil) else {
      val joined = Harness.joinJobs(pass.done, jobs, ctx)
      Harness.requestSpans(joined, ctx)
      val readJobs = probe.constructJobs.map(g => jobs.count(_.group == g).toDouble)
      val layers = Harness.serveLayer(joined, Map("asof_read" -> "query", "commit" -> "other"), ctx) ++ Seq(
        ("operators.construct_s.query", mean(probe.readConstructS), "s"),
        ("operators.construct_jobs.query", mean(readJobs), "count"),
        ("catalyst.plan_s.query", mean(probe.readPlanS), "s")) ++
        Harness.execLayer(jobs, wall, ctx.cores) ++
        Harness.jvmLayer(gc, heap) ++
        Harness.tracedFigures(metrics(pass))
      val rename = Map(
        "serve.self_s.commit" -> "sources.commit_self_s",
        "serve.jobs_per_request.commit" -> "sources.commit_jobs",
        "serve.jobs_per_request.asof_read" -> "sources.read_jobs")
      val perClass = Harness.serveLayer(joined, classes.map(c => c -> c).toMap, ctx)
        .filter(_._1 != "serve.self_s.asof_read")
        .map { case (k, v, u) => (rename.getOrElse(k, k), v, u) }
      (layers, perClass ++ Seq(
        ("sources.chain_segments", mean(probe.chainSegments.map(_.toDouble)), "count"),
        ("sources.compact_s", mean(probe.compactS), "s"),
        ("sources.vacuum_s", mean(probe.vacuumS), "s"),
        ("sources.bytes_written_per_user_byte", probe.bytesWritten / userBytes.toDouble, "ratio"),
        ("cohort_state.rebuilds", probe.builds.length.toDouble, "count"),
        ("cohort_state.rebuild_s", mean(probe.builds.map(_._3)), "s"),
        ("cohort_state.advance_s", mean(probe.advances.map(_._3)), "s")) ++
        Harness.tracedFigures(e2eExtra))
    }
    Outcome(pass.done.length.toLong, pass.failures,
      (("setup_s", setupS, "s") +: metrics(pass)) :+ (("peak_rss_mb", Harness.peakRssMb(), "MB")), layers,
      if (ctx.traced) layersExtra else e2eExtra)
  }

  val classes = Seq("commit", "asof_read", "cohort", "fresh_counts", "changes")

  /** The metrics both workloads report: the median of the versioned
    * reads (`query_p50_s`) and the commits and reads of the cycles
    * answered per second of the pass, the probes of a traced pass not
    * counted.
    */
  def metrics(p: PhaseResult): Seq[(String, Double, String)] = {
    val timed = p.done.filter(d => d.cls == "commit" || d.cls == "asof_read")
    Harness.p50s(timed, Seq("asof_read"), _ => "query_p50_s") :+ (("serve_rps", timed.length / p.wallS, "1/s"))
  }

  private def mean(xs: collection.Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** What a traced pass records beside the requests. */
  final class Probe {
    /** Per maintained atom-count read: the state's built_at_version and
      * applied_batches from /status after it, and its latency.
      */
    val stateReads = ArrayBuffer[(Long, Long, Double)]()
    val readConstructS = ArrayBuffer[Double]()
    val readPlanS = ArrayBuffer[Double]()
    val constructJobs = ArrayBuffer[String]()
    val chainSegments = ArrayBuffer[Int]()
    val compactS = ArrayBuffer[Double]()
    val vacuumS = ArrayBuffer[Double]()
    var bytesWritten = 0L
    val seenSegments = scala.collection.mutable.Set[String]()
    /** The reads after which the state had been built in full (the
      * first, and every one whose built_at_version moved), and those
      * after which it had advanced over new batches instead.
      */
    def builds: Seq[(Long, Long, Double)] = stateReads.indices
      .filter(i => i == 0 || stateReads(i)._1 != stateReads(i - 1)._1).map(stateReads(_)).toSeq
    def advances: Seq[(Long, Long, Double)] = stateReads.indices
      .filter(i => i > 0 && stateReads(i)._1 == stateReads(i - 1)._1 && stateReads(i)._2 > stateReads(i - 1)._2)
      .map(stateReads(_)).toSeq
    def countNewSegments(root: Path): Unit = {
      val s = Files.list(root)
      try s.iterator().asScala.filter(p => Files.isDirectory(p) && p.getFileName.toString.matches("v\\d+-.*"))
        .foreach { p =>
          if (seenSegments.add(p.getFileName.toString)) bytesWritten += Harness.treeBytes(p)
        }
      finally s.close()
    }
  }

  /** The answered requests, the failed checks and the wall time of the
    * pass without the traced pass's probes and extra reads.
    */
  final case class PhaseResult(done: Seq[Done], failures: Seq[String], wallS: Double)

  /** The fixed cycle sequence: `warmCycles` untimed cycles, then
    * `cycles` timed ones.
    */
  def sequence(ctx: Ctx, http: Http, root: Path, ledger: Ledger, ref: RefData, staged: Seq[String],
      deltas: Seq[Delta], windows: Seq[(Long, Long)], reads: Seq[Gen.IngestReads],
      dash: Gen.AtomCountsSpec, probe: Option[Probe]): PhaseResult = {
    val spark = ctx.spark
    val done = ArrayBuffer[Done]()
    val failures = ArrayBuffer[String]()
    def expect(d: Done)(check: => Option[String]): Unit = {
      done += d
      val res = if (d.code != 200) Some(s"HTTP ${d.code} ${d.response.take(300)}") else check
      res.foreach(m => failures += s"${d.cls} ${d.path}: $m")
    }
    def row(v: Visit): Checks.OrderRow =
      (v.key, v.cust, v.status, v.price, String.valueOf(ref.orderDates(v.dateRow)), v.priority)
    // time spent on the traced pass's probes and extra reads, which
    // its wall time leaves out
    var probeNs = 0L
    def probing(f: Probe => Unit): Unit = probe.foreach { p =>
      val t0 = System.nanoTime()
      try f(p) finally probeNs += System.nanoTime() - t0
    }
    var startNs = System.nanoTime()
    probing(_.countNewSegments(root))

    // a maintained atom-count read at the tip, then /status for the
    // state it left (traced runs only)
    def maintained(p: Probe): Unit = {
      val tip = ledger.tip
      val f = http.call("fresh_counts", "POST", "/cohort/atom-counts?maintained=true", Some(dash.json))
      expect(f)(Checks.atomCounts(f.response,
        new Ref.Evaluator(ref, ledger.states(tip).values).atomCounts(dash)))
      val st = http.call("status", "GET", "/status")
      expect(st)(Checks.cohortState(st.response, tip) match {
        case Left(m) => Some(m)
        case Right((built, applied)) => p.stateReads += ((built, applied, f.seconds)); None
      })
    }

    // the traced run's extra reads, over the store as the ledger has it now
    def occasional(rd: Gen.IngestReads, delta: Delta, deltaV: Int): Unit = {
      val tip = ledger.tip
      val vc = math.max(tip - 1, ledger.floor)
      val q = http.call("cohort", "POST", s"/cohort/query?as_of_ts=${ledger.stampMs(vc)}",
        Some(rd.cohort.json))
      expect(q)(Checks.cohortCount(q.response,
        new Ref.Evaluator(ref, ledger.states(vc).values).cohortCount(rd.cohort)))

      probe.foreach(maintained)

      val (prev, cur) = (ledger.states(deltaV - 1), ledger.states(deltaV))
      val wantChanges = (delta.upserts.map(_.key) ++ delta.deletes).sorted.flatMap { k =>
        (prev.get(k), cur.get(k)) match {
          case (None, Some(a)) => Some(row(a) -> "insert")
          case (Some(b), None) => Some(row(b) -> "delete")
          case (Some(b), Some(a)) if a != b => Some(row(a) -> "update")
          case _ => None
        }
      }
      val ch = http.call("changes", "GET", s"/store/changes?keys=o_orderkey&from=${deltaV - 1}&to=$deltaV")
      expect(ch)(Checks.changes(ch.response, wantChanges))
    }

    var lastCompact = 1
    var lastDeltaV = 1
    // A traced pass also reads the maintained atom counts before the
    // last commit (a full build), after it (an advance over one batch)
    // and after the final vacuum (a rebuild: the vacuum trims history).
    val last = deltas.length - 1
    for (i <- deltas.indices) {
      val rd = reads(i)
      val warm = i < warmCycles
      if (i == warmCycles) { startNs = System.nanoTime(); probeNs = 0L }
      if (i == last) probing(maintained)
      val c = http.call(if (warm) "warm_commit" else "commit", "POST", "/store/commit",
        Some(s"""{"source":"${staged(i)}","mode":"delta"}"""))
      val want = ledger.tip + 1
      ledger.commit(deltas(i), System.currentTimeMillis())
      lastDeltaV = ledger.tip
      expect(c)(Checks.commitVersion(c.response, want))
      probing(_.countNewSegments(root))

      val v = math.max(ledger.tip - 1, ledger.floor)
      val (lo, _) = windows(rd.window)
      val r = http.call(if (warm) "warm_read" else "asof_read", "GET",
        s"/store/read?keys=o_orderkey&version=$v&limit=$windowRows&after=${cursor(lo - 1)}")
      expect(r)(Checks.storeRead(r.response, ledger.states(v).rangeFrom(lo).take(windowRows).values.map(row).toSeq))
      if (!warm) probing { p =>
        val g = s"read-construct-$i"
        spark.sparkContext.setJobGroup(g, "as-of read construction")
        val t0 = System.nanoTime()
        val df = Snapshots.asOf(spark, root.toString, v, keys)
        val t1 = System.nanoTime()
        spark.sparkContext.setJobGroup(s"read-plan-$i", "as-of read planning")
        df.queryExecution.executedPlan
        spark.sparkContext.clearJobGroup()
        p.readConstructS += (t1 - t0) / 1e9
        p.readPlanS += (System.nanoTime() - t1) / 1e9
        p.constructJobs += g
        p.chainSegments += v - ledger.baseOf(v) + 1
      }

      if (i == last) probing(maintained)
      if (i + 1 == warmCycles || (!warm && (i + 1 - warmCycles) % compactEvery == 0)) {
        val t0 = System.nanoTime()
        val cv = Snapshots.compact(spark, root.toString, keys)
        val t1 = System.nanoTime()
        ledger.compact(System.currentTimeMillis())
        if (cv != ledger.tip) failures += s"compaction published v$cv, expected v${ledger.tip}"
        Snapshots.vacuum(spark, root.toString, keepAfterVersion = lastCompact)
        val t2 = System.nanoTime()
        ledger.floor = ledger.baseOf(lastCompact)
        lastCompact = ledger.tip
        probing { p =>
          p.compactS += (t1 - t0) / 1e9
          p.vacuumS += (t2 - t1) / 1e9
          p.countNewSegments(root)
        }
        ctx.tracer.add(Span(ctx.tracer.newId(), 0L, "compact", t0, t1))
        ctx.tracer.add(Span(ctx.tracer.newId(), 0L, "vacuum", t1, t2))
      }
    }
    val wallS = (System.nanoTime() - startNs - probeNs) / 1e9
    probing(_ => occasional(reads.last, deltas.last, lastDeltaV))
    PhaseResult(done.toSeq, failures.toSeq, wallS)
  }

  /** Writes every delta batch as parquet under the data directory
    * (in one Spark job, before any timing) and returns the batch paths
    * and the parquet bytes a user commits: the base table plus all
    * batches.
    */
  def stage(ctx: Ctx, ref: RefData, deltas: Seq[Delta]): (Seq[String], Long) = {
    val spark = ctx.spark
    val ordersPath = s"${ctx.dataDir}/orders.parquet"
    val schema = spark.read.parquet(ordersPath).schema
    val full = StructType(schema.fields :+ StructField("_deleted", BooleanType, nullable = false) :+
      StructField("batch", org.apache.spark.sql.types.IntegerType, nullable = false))
    var live = TreeMap(ref.visits.map(v => v.key -> v): _*)
    def r(v: Visit, deleted: Boolean, b: Int): Row = Row(v.key, v.cust, v.status, v.price,
      ref.orderDates(v.dateRow), v.priority, deleted, b)
    val rows = deltas.zipWithIndex.flatMap { case (d, b) =>
      val out = d.upserts.map(r(_, deleted = false, b)) ++ d.deletes.map(k => r(live(k), deleted = true, b))
      live = (live -- d.deletes) ++ d.upserts.map(v => v.key -> v)
      out
    }
    val dir = s"${ctx.dataDir}/staging"
    spark.createDataFrame(rows.asJava, full).coalesce(1)
      .write.partitionBy("batch").mode("overwrite").parquet(dir)
    def parquetBytes(p: String): Long = {
      val s = Files.walk(java.nio.file.Paths.get(p))
      try s.filter(_.toString.endsWith(".parquet")).mapToLong(Files.size(_)).sum() finally s.close()
    }
    val paths = deltas.indices.map(b => s"$dir/batch=$b")
    (paths, parquetBytes(ordersPath) + paths.map(parquetBytes).sum)
  }
}

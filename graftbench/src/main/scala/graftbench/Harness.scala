package graftbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What one run needs: the session, where its data and scratch space
  * are, and the tracing state (present only in a traced run).
  */
final class Ctx(val spark: SparkSession, val dataDir: String, val workDir: java.nio.file.Path,
    val cacheDir: java.nio.file.Path, val seed: Long, val cores: Int, val traced: Boolean) {
  val tracer = new Tracer
  val listener = new JobListener
  /** nanoTime minus epoch-ms × 1e6: maps listener times onto span times. */
  val clockOffsetNs: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def msToNs(ms: Long): Long = ms * 1000000L + clockOffsetNs
}

/** Outcome of one workload run. `e2e` are the end-to-end metrics of an
  * untraced pass and `layers` the per-layer metrics of a traced run:
  * both workloads report the same names, the ones the benchmark's
  * manifest lists. `extra` are the figures only one workload's traffic
  * produces; they are printed on a line of their own.
  */
final case class Outcome(attempted: Long, failures: Seq[String],
    e2e: Seq[(String, Double, String)], layers: Seq[(String, Double, String)],
    extra: Seq[(String, Double, String)] = Nil)

object Harness {

  private val t0 = System.nanoTime()

  /** Set-ups a run makes: the first `cold` ones pay the JIT compilation
    * of a cold JVM, which on a shared box spreads by tens of percent
    * between runs, and are left out; the median of the next `timed` is
    * reported. A traced run reports no set-up time and makes one after
    * the cold ones.
    */
  def setupCount(ctx: Ctx, cold: Int, timed: Int): Int = cold + (if (ctx.traced) 1 else timed)

  /** Progress line on stderr, with seconds since start. */
  def log(msg: String): Unit = System.err.println(f"graftbench ${(System.nanoTime() - t0) / 1e9}%7.1fs $msg")

  /** Per-class sample count, median and latencies in send order, for the log. */
  def summary(done: Seq[Done]): String =
    done.groupBy(_.cls).toSeq.sortBy(_._1).map { case (c, ds) =>
      f"\n  $c n=${ds.length} p50=${Stats.median(ds.map(_.seconds))}%.3f: " +
        ds.sortBy(_.startNs).map(d => f"${d.seconds}%.2f").mkString(" ")
    }.mkString

  /** Closed loop: `clients` threads each send their next request only
    * after the previous answer arrived, taking requests from one
    * shared queue in order.
    */
  def closedLoop(http: Http, reqs: Seq[Gen.Request], clients: Int): Seq[Done] = {
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Done]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        try {
          var i = next.getAndIncrement()
          while (i < reqs.length) {
            val r = reqs(i)
            out.add(http.call(r.cls, r.method, r.path, r.body))
            i = next.getAndIncrement()
          }
        } catch { case e: Throwable => errors.add(e) }
      }, s"graftbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
    out.asScala.toSeq.sortBy(_.startNs)
  }

  /** The median latency of each class, under the percentile rule. */
  def p50s(done: Seq[Done], classes: Seq[String], name: String => String): Seq[(String, Double, String)] =
    classes.flatMap { c =>
      Stats.percentile(done.filter(_.cls == c).map(_.seconds), 0.5).map(v => (name(c), v, "s"))
    }

  /** Resident set high-water mark of this JVM, in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
  }

  /** GC time so far, in seconds. */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0

  def resetHeapPeaks(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType.name == "HEAP").foreach(_.resetPeakUsage())

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType.name == "HEAP")
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

  /** Runs `f` as the traced phase: listener on, heap peaks reset; the
    * listener bus is drained before its records are read.
    */
  def tracedPhase[T](ctx: Ctx, name: String = "phase.traced")(f: => T): (T, Seq[JobRec], Double, Double, Double) = {
    ctx.listener.clear()
    resetHeapPeaks()
    val gc0 = gcSeconds()
    ctx.spark.sparkContext.addSparkListener(ctx.listener)
    val t0 = System.nanoTime()
    val out = try ctx.tracer.span(name)(_ => f) finally {
      org.apache.spark.ListenerBusDrain(ctx.spark.sparkContext)
      ctx.spark.sparkContext.removeSparkListener(ctx.listener)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    (out, ctx.listener.all, wall, gcSeconds() - gc0, heapPeakMb())
  }

  /** Execution-layer totals over the jobs of a traced phase. */
  def execLayer(jobs: Seq[JobRec], wallS: Double, cores: Int): Seq[(String, Double, String)] = {
    val stages = jobs.map(_.stages).sum
    val tasks = jobs.map(_.tasks).sum
    val runS = jobs.map(_.runMs).sum / 1000.0
    val jobTime = jobs.filter(_.endMs >= 0).map(j => (j.endMs - j.startMs) / 1000.0).sum
    Seq(
      ("exec.jobs", jobs.length.toDouble, "count"),
      ("exec.stages", stages.toDouble, "count"),
      ("exec.tasks", tasks.toDouble, "count"),
      ("exec.tasks_per_stage", if (stages > 0) tasks.toDouble / stages else 0.0, "count"),
      ("exec.executor_run_s", runS, "s"),
      ("exec.executor_cpu_s", jobs.map(_.cpuNs).sum / 1e9, "s"),
      ("exec.shuffle_read_bytes", jobs.map(_.shuffleRead).sum.toDouble, "bytes"),
      ("exec.shuffle_write_bytes", jobs.map(_.shuffleWrite).sum.toDouble, "bytes"),
      ("exec.spill_bytes", jobs.map(_.spill).sum.toDouble, "bytes"),
      ("exec.core_busy_ratio", runS / (wallS * cores), "ratio"),
      ("exec.concurrent_jobs_mean", jobTime / wallS, "count"))
  }

  /** Joins answered requests to the Spark jobs of their job group.
    * The server names request n's group `graft-serve-<n>` in arrival
    * order, and the client numbers its sends the same way; a job group
    * is accepted for a request only if all its jobs ran inside the
    * request's interval, else its neighbours are tried (two clients
    * can reach the server in the other order than they sent).
    * Returns per request its jobs (empty when it ran none).
    */
  def joinJobs(done: Seq[Done], jobs: Seq[JobRec], ctx: Ctx): Map[Done, Seq[JobRec]] = {
    val byGroup = jobs.groupBy(_.group)
    val slackNs = 2000000L
    def fits(d: Done, js: Seq[JobRec]): Boolean = js.forall { j =>
      ctx.msToNs(j.startMs) >= d.startNs - slackNs && j.endMs >= 0 && ctx.msToNs(j.endMs) <= d.endNs + slackNs
    }
    val taken = mutable.Set[String]()
    done.sortBy(_.reqNo).map { d =>
      val cands = Seq(0L, -1L, 1L, -2L, 2L).map(o => s"graft-serve-${d.reqNo + o}")
        .filter(g => !taken(g) && byGroup.get(g).exists(fits(d, _)))
      cands.headOption.foreach(taken += _)
      d -> cands.headOption.map(byGroup).getOrElse(Nil)
    }.toMap
  }

  /** Serve-layer metrics per role: mean self time (latency minus the
    * time the request's own jobs cover) and jobs per request over the
    * requests whose class `role` maps to it.
    */
  def serveLayer(joined: Map[Done, Seq[JobRec]], role: Map[String, String], ctx: Ctx): Seq[(String, Double, String)] =
    role.values.toSeq.distinct.sorted.flatMap { r =>
      val mine = joined.toSeq.filter(d => role.get(d._1.cls).contains(r))
      if (mine.isEmpty) Nil
      else {
        val self = mine.map { case (d, js) =>
          Stats.selfTime(d.startNs -> d.endNs, js.map(j => ctx.msToNs(j.startMs) -> ctx.msToNs(j.endMs))) / 1e9
        }
        Seq((s"serve.self_s.$r", self.sum / self.length, "s"),
          (s"serve.jobs_per_request.$r", mine.map(_._2.length).sum.toDouble / mine.length, "count"))
      }
    }

  /** Records each joined request as a span, its Spark jobs as children. */
  def requestSpans(joined: Map[Done, Seq[JobRec]], ctx: Ctx): Unit =
    joined.foreach { case (d, js) =>
      val parent = ctx.tracer.newId()
      ctx.tracer.add(Span(parent, 0L, s"request.${d.cls}", d.startNs, d.endNs,
        Map("path" -> d.path, "req_no" -> d.reqNo.toString)))
      js.foreach(j => ctx.tracer.add(Span(ctx.tracer.newId(), parent, "spark.job",
        ctx.msToNs(j.startMs), ctx.msToNs(j.endMs), Map("job" -> j.id.toString, "group" -> j.group))))
    }

  def jvmLayer(gcS: Double, heapMb: Double): Seq[(String, Double, String)] =
    Seq(("jvm.gc_s", gcS, "s"), ("jvm.heap_peak_mb", heapMb, "MB"))

  /** End-to-end figures of a traced pass, named `traced.<metric>`:
    * minus the metric of an untraced run of the same seed, they give
    * the tracing overhead.
    */
  def tracedFigures(ms: Seq[(String, Double, String)]): Seq[(String, Double, String)] =
    ms.map { case (n, v, u) => (s"traced.$n", v, u) }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => java.nio.file.Files.delete(f))
      finally s.close()
    }

  def treeBytes(p: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
}

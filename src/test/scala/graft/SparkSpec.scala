package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one forked test JVM). */
object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // the graft_* SQL functions normally register on the first
    // Tables.load of the session — register here too so a suite that
    // drives the library over its OWN frames (VacuumSpec's index
    // stores) passes standalone, not only after some other suite
    // happened to touch a table first (run-order isolation)
    graft.functions.VectorExpressions.register(s)
    s
  }

  // job-group id of every job the shared session starts
  private lazy val jobGroups = {
    val q = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    session.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        q.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    })
    q
  }
  private val pins = new java.util.concurrent.atomic.AtomicLong()

  object Walk extends AdaptiveSparkPlanHelper

  /** Runs one sentinel job in group `name` and waits until the
    * listener has seen it. Listener delivery is asynchronous but
    * ordered, so by then every earlier job's start has been seen too.
    */
  private def sentinel(name: String): Unit = {
    val sc = session.sparkContext
    val groups = jobGroups
    sc.setJobGroup(name, name)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30000000000L
    while (!groups.contains(name) && System.nanoTime() < deadline) Thread.sleep(10)
    assert(groups.contains(name), "listener never saw the sentinel job")
  }

  /** `body`'s own job group, and the groups of the Spark jobs started
    * while it runs, in start order and from any thread.
    */
  private def window(label: String)(body: => Unit): (String, Seq[String]) = {
    val group = s"$label-${pins.incrementAndGet()}"
    sentinel(s"$group-from")
    val sc = session.sparkContext
    sc.setJobGroup(group, label)
    try body finally sc.clearJobGroup()
    sentinel(s"$group-to")
    (group, jobGroups.toArray(Array.empty[String]).toSeq
      .dropWhile(_ != s"$group-from").drop(1).takeWhile(_ != s"$group-to"))
  }

  /** The job groups of every Spark job started while `body` runs, from
    * any thread: a server's per-request groups show up here.
    */
  def jobGroupsIn(label: String)(body: => Unit): Seq[String] = window(label)(body)._2

  /** The number of Spark jobs `body` starts on this thread (job-pin specs). */
  def jobsIn(label: String)(body: => Unit): Int = {
    val (group, groups) = window(label)(body)
    groups.count(_ == group)
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf = "/root/testdata/sf0.001"
  def jobsIn(label: String)(body: => Unit): Int = SparkSpec.jobsIn(label)(body)
  def jobGroupsIn(label: String)(body: => Unit): Seq[String] = SparkSpec.jobGroupsIn(label)(body)
  /** `body` with the session confs `kvs` set, each restored after. */
  def withSQLConf[T](kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach { case (k, p) => p.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The frame `body` builds, and the names of the directories it
    * reads: those its plan scans, and those read on the driver while
    * it was built (`Sources.parquetRows`, a small delta chain's merge).
    */
  def readDirs(body: => DataFrame): (DataFrame, Set[String]) = {
    val (df, onDriver) = graft.sources.Sources.recordingDriverReads(body)
    val scanned = SparkSpec.Walk.collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.getName)
    }.flatten
    (df, (scanned ++ onDriver.map(new org.apache.hadoop.fs.Path(_).getName)).toSet)
  }
}

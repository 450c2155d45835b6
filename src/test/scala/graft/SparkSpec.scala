package graft

import org.apache.spark.sql.SparkSession
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

  /** The number of Spark jobs `body` starts on this thread (job-pin
    * specs). Listener delivery is asynchronous but ordered, so once a
    * sentinel job's start is seen, every earlier job's has been too.
    */
  def jobsIn(label: String)(body: => Unit): Int = {
    val sc = session.sparkContext
    val groups = jobGroups // registers the listener before `body` runs
    val group = s"$label-${pins.incrementAndGet()}"
    sc.setJobGroup(group, label)
    try body finally sc.clearJobGroup()
    val sentinel = s"$group-sentinel"
    sc.setJobGroup(sentinel, sentinel)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30000000000L
    while (!groups.contains(sentinel) && System.nanoTime() < deadline) Thread.sleep(10)
    assert(groups.contains(sentinel), "listener never saw the sentinel job")
    groups.toArray.count(_ == group)
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf = "/root/testdata/sf0.001"
  def jobsIn(label: String)(body: => Unit): Int = SparkSpec.jobsIn(label)(body)
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}

package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.json4s._
import org.json4s.jackson.JsonMethods
import scala.jdk.CollectionConverters._

/** A timed interval of the benchmark (nanoTime), with its cause. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long,
    attrs: Map[String, String] = Map.empty)

/** Spans kept in memory while the benchmark runs and written out once
  * at the end. Span ids start at 1; parent 0 means a root span.
  */
final class Tracer {
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def newId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = { spans.add(s); () }

  /** Runs `f` inside a new span and records it. */
  def span[T](name: String, parent: Long = 0L, attrs: Map[String, String] = Map.empty)(f: Long => T): T = {
    val id = newId()
    val t0 = System.nanoTime()
    try f(id) finally add(Span(id, parent, name, t0, System.nanoTime(), attrs))
  }

  def all: Seq[Span] = spans.asScala.toSeq

  def write(path: java.nio.file.Path): Unit = {
    val js = JArray(all.sortBy(_.startNs).map { s =>
      JObject("id" -> JLong(s.id), "parent" -> JLong(s.parent), "name" -> JString(s.name),
        "start_ns" -> JLong(s.startNs), "end_ns" -> JLong(s.endNs),
        "attrs" -> JObject(s.attrs.toList.sorted.map { case (k, v) => k -> JString(v) }))
    }.toList)
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, JsonMethods.compact(js))
    ()
  }
}

/** What one Spark job cost, from listener events. Times are epoch ms. */
final class JobRec(val id: Int, val group: String, val startMs: Long, val stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
  var stages = 0
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
}

/** The benchmark's own SparkListener: attributes jobs, stages, tasks,
  * executor time and shuffle to the job group (`spark.jobGroup.id`)
  * that was set when the job was submitted. WarehouseServer sets one
  * group per request, so this is the per-request Spark cost.
  */
final class JobListener extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val rec = new JobRec(e.jobId, group, e.time, e.stageIds)
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, rec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageJob.get(info.stageId)).foreach { rec =>
      rec.synchronized {
        rec.stages += 1
        rec.tasks += info.numTasks
        Option(info.taskMetrics).foreach { m =>
          rec.runMs += m.executorRunTime
          rec.cpuNs += m.executorCpuTime
          rec.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          rec.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          rec.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  def clear(): Unit = { jobs.clear(); stageJob.clear() }
  def all: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)
}

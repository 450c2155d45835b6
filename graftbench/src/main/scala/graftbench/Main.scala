package graftbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Benchmark entry point: one run of one workload.
  *
  * {{{
  * graftbench.Main --workload cohort-serve|ingest-asof --seed N
  *   --trace 0|1 --data <parquet dir> --work <fresh scratch dir> --cores N
  *   --cache <reference cache dir> --trace-out <spans file>
  * }}}
  *
  * The last line of standard output is the result as one JSON object.
  * With `--trace 0` it holds the end-to-end metrics of an untraced
  * pass; with `--trace 1` the per-layer metrics of a traced pass and
  * its end-to-end figures (`traced.*`), and the spans are written to
  * `--trace-out`. Both workloads report the same metric names; the
  * figures only one workload produces are printed on the line before,
  * prefixed `graftbench extra:`.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Harness.log("start")
    val workload = args("workload")
    val work = Paths.get(args("work")).toAbsolutePath
    val cores = args("cores").toInt
    val traced = args("trace") == "1"
    val dataDir = linkData(Paths.get(args("data")), work.resolve("data"))
    val spark = SparkSession.builder()
      .appName(s"graftbench-$workload")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Harness.log("session up")
    val rt = Runtime.getRuntime
    println(s"graftbench config: workload=$workload seed=${args("seed")} master=local[$cores] " +
      s"spark.sql.shuffle.partitions=${spark.conf.get("spark.sql.shuffle.partitions")} " +
      s"heap_max_mb=${rt.maxMemory / (1 << 20)} data=${args("data")} traced=$traced")
    val ctx = new Ctx(spark, dataDir, work, Paths.get(args("cache")), args("seed").toLong, cores, traced)
    val out =
      try workload match {
        case "cohort-serve" => CohortServe.run(ctx)
        case "ingest-asof" => IngestAsOf.run(ctx)
        case "warm" => warm(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } finally spark.stop()
    Harness.log("done")
    out.failures.take(20).foreach(f => System.err.println(s"FAILED: $f"))
    if (traced) ctx.tracer.write(Paths.get(args("trace-out")))
    def json(ms: Seq[(String, Double, String)]): JObject = JObject(ms.toList.map { case (n, v, u) =>
      n -> JObject("value" -> JDouble(v), "unit" -> JString(u))
    })
    if (out.extra.nonEmpty) println("graftbench extra: " + JsonMethods.compact(json(out.extra)))
    println(JsonMethods.compact(JObject(
      "correct" -> JBool(out.failures.isEmpty),
      "attempted" -> JLong(out.attempted),
      "failed" -> JLong(out.failures.length.toLong),
      "metrics" -> json(if (traced) out.layers else out.e2e))))
  }

  /** One request of each kind, unmeasured: run once per build with
    * `-XX:ArchiveClassesAtExit`, so the classes they load go into the
    * class-data-sharing archive every run then starts from. Also fills
    * the reference cache.
    */
  private def warm(ctx: Ctx): Outcome = {
    RefData.cached(ctx.spark, ctx.dataDir, ctx.cacheDir)
    val root = ctx.workDir.resolve("store")
    val server = graft.serve.WarehouseServer.start(ctx.spark,
      graft.serve.WarehouseServer.Config(ctx.dataDir, storeRoot = Some(root.toString)))
    try {
      val http = new Http(server.port)
      val (warmReqs, _) = Gen.serveTraffic(ctx.seed, Map.empty)
      val done = warmReqs.map(r => http.call(r.cls, r.method, r.path, r.body)) ++ Seq(
        http.call("commit", "POST", "/store/commit",
          Some(s"""{"source":"${ctx.dataDir}/orders.parquet","mode":"full"}""")),
        http.call("read", "GET", "/store/read?keys=o_orderkey&version=1&limit=10"))
      Outcome(done.length, done.filter(_.code != 200).map(d => s"${d.path}: ${d.code}"), Nil, Nil)
    } finally server.close()
  }

  /** The served data directory of a run: links to the source tables,
    * so that staged batches can live beside them.
    */
  private def linkData(src: Path, dst: Path): String = {
    Files.createDirectories(dst)
    val s = Files.list(src)
    try s.filter(_.getFileName.toString.endsWith(".parquet")).forEach { p =>
      Files.createSymbolicLink(dst.resolve(p.getFileName), p.toAbsolutePath)
      ()
    } finally s.close()
    dst.toString
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** r14 stage-isolation probe (TEST scope — never ships): times the
  * pieces of the bench's most expensive composites so optimization
  * targets the measured cost, not the guessed one. Run with
  * `sbt "Test/runMain graft.OptProbe <mode> [names...]"`; mode `query
  * names...` times construct/optimize/exec of each query over 3 runs and
  * prints the last run's executed (final AQE) plan, mode `serve
  * [n]` times n sequential requests per endpoint of an in-process server,
  * mode `asof` the as-of reads of a small store at every version, mode
  * `asof rows...` both merge forms over one delta of each size.
  */
object OptProbe {
  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val s = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  private def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()
  private def t[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime(); val r = f
    println(f"PROBE $label%-40s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
    r
  }

  /** Round-trip times of `n` sequential keep-alive requests per
    * endpoint to an in-process `WarehouseServer` over `d`, after an
    * untimed pass of `n + 1` requests per endpoint (it opens the
    * connection, fills the cohort images and warms the JIT for every
    * label alike). `POST /cohort/query (varied)` sends the demo spec
    * with other literals on every request: one shape, bound afresh.
    */
  private def timeServe(spark: SparkSession, d: String, n: Int): Unit = {
    import java.net.URI
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    val srv = graft.serve.WarehouseServer.start(spark, graft.serve.WarehouseServer.Config(dataDir = d))
    try {
      val client = HttpClient.newHttpClient()
      def at(path: String) = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${srv.port}$path"))
      def cohort(spec: String) = at("/cohort/query").POST(HttpRequest.BodyPublishers.ofString(spec))
      val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      def varied(i: Int): String = operators.CohortQuery.demoSpec
        .replace("\"1-URGENT\"", s"\"${priorities(i % priorities.size)}\"")
        .replace("\"value\": 7000", s"\"value\": ${5000 + 500 * (i % 7)}")
      val calls: Seq[(String, Int => HttpRequest.Builder)] = Seq(
        "GET /health" -> (_ => at("/health").GET()),
        "GET /status" -> (_ => at("/status").GET()),
        "POST /cohort/query" -> (_ => cohort(operators.CohortQuery.demoSpec)),
        "POST /cohort/query (varied)" -> (i => cohort(varied(i))))
      def once(label: String, req: Int => HttpRequest.Builder)(i: Int): Double = {
        val t0 = System.nanoTime()
        val r = client.send(req(i).build(), HttpResponse.BodyHandlers.ofString())
        require(r.statusCode() == 200, s"$label answered ${r.statusCode()}: ${r.body()}")
        (System.nanoTime() - t0) / 1e6
      }
      // one untimed pass of every label first: otherwise the first
      // cohort line absorbs the JIT warm-up of the shared request path
      for ((label, req) <- calls) (0 to n).foreach(once(label, req))
      for ((label, req) <- calls) {
        val ms = (1 to n).map(once(label, req)).sorted
        println(f"PROBE serve $label%-28s n=$n p50 ${ms(n / 2)}%8.2f ms  min ${ms.head}%8.2f ms  max ${ms.last}%8.2f ms")
      }
    } finally srv.close()
  }

  /** p50 of 7 timed runs (after 2 untimed) and the Spark job count of
    * `asOf(v).orderBy(key).limit(1000).collect()` at every version of a
    * store of `orders` plus five deltas of about 50 rows each (updates,
    * tombstones and inserts); the build of the frame is timed apart.
    */
  private def timeAsOf(spark: SparkSession, d: String): Unit = {
    import graft.sources.Snapshots
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    })
    val tmp = java.nio.file.Files.createTempDirectory("graft-probe-asof")
    val root = s"$tmp/store"
    val key = "o_orderkey"
    try {
      val orders = Tables.orders(spark, d)
      Snapshots.commit(orders, root)
      val top = orders.agg(max(key)).head().getLong(0)
      (1 to 5).foreach { i =>
        val touched = orders.filter(col(key) % 3001 === i * 97)
        val upserts = touched.withColumn("o_totalprice", col("o_totalprice") + i)
          .withColumn("_deleted", col(key) % 7 === 0)
        val inserts = touched.limit(12).withColumn(key, col(key) + top * i).withColumn("_deleted", lit(false))
        Snapshots.commitDelta(upserts.unionByName(inserts), root)
      }
      for (v <- 1L to 6L) {
        def once(): (Double, Double) = {
          val t0 = System.nanoTime()
          val df = Snapshots.asOf(spark, root, v, Seq(key))
          val t1 = System.nanoTime()
          df.orderBy(key).limit(1000).collect()
          ((t1 - t0) / 1e6, (System.nanoTime() - t0) / 1e6)
        }
        Seq.fill(2)(once())
        val g = s"probe-asof-v$v"
        spark.sparkContext.setJobGroup(g, g)
        val runs = try Seq.fill(7)(once()) finally spark.sparkContext.clearJobGroup()
        spark.sparkContext.setJobGroup(s"$g-end", "sentinel")
        try spark.sparkContext.parallelize(Seq(1), 1).count() finally spark.sparkContext.clearJobGroup()
        while (!jobs.contains(s"$g-end")) Thread.sleep(10)
        val n = jobs.toArray.count(_ == g) / 7.0
        val build = runs.map(_._1).sorted
        val all = runs.map(_._2).sorted
        println(f"PROBE asof v$v p50 ${all(3)}%8.1f ms  min ${all.head}%8.1f ms  build p50 ${build(3)}%6.1f ms  jobs $n%.1f")
      }
    } finally {
      val p = new org.apache.hadoop.fs.Path(tmp.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      ()
    }
  }

  /** The size at which the driver form of a merging as-of read stops
    * paying: for each delta size in `sizes` (rows), a store of `orders`
    * plus ONE delta of that many rows (the first ≤ |orders| rows update
    * existing keys, the rest insert new ones), read as of the delta's
    * version on one key (`o_orderkey`) and on two (`o_orderkey`,
    * `o_custkey`), in both physical forms, over all nine columns of
    * `orders` and over three (`wide`, `narrow`): the driver form
    * (`spark.sql.autoBroadcastJoinThreshold` = the delta's bytes, the
    * code's own byte cap lifted) and
    * the distributed one (one byte under, so the delta keys still
    * broadcast). Per cell: p50 of 7 timed runs after 1 untimed (1 run
    * only once a build takes over 20 s) of
    * `asOf(v).orderBy(key).limit(1000).collect()`, the build of the
    * frame apart, and the bytes the calling (driver) thread allocated
    * in one run.
    */
  private def sweepAsOf(spark: SparkSession, d: String, sizes: Seq[Int]): Unit = {
    import graft.sources.{Snapshots, Sources}
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val key = "o_orderkey"
    val full = Tables.orders(spark, d)
    val n0 = full.count()
    val top = full.agg(max(key)).head().getLong(0)
    for ((width, orders) <- Seq("wide" -> full, "narrow" -> full.select(key, "o_custkey", "o_totalprice"));
         n <- sizes) {
      val tmp = java.nio.file.Files.createTempDirectory("graft-probe-asof-size")
      val root = s"$tmp/store"
      try {
        Snapshots.commit(orders, root)
        val copies = (0 until ((n + n0 - 1) / n0).toInt).map { i =>
          if (i == 0) orders.withColumn("o_totalprice", col("o_totalprice") + 1)
          else orders.withColumn(key, col(key) + top * i)
        }
        val delta = copies.reduce(_.unionByName(_)).limit(n).withColumn("_deleted", lit(false))
        val v = Snapshots.commitDelta(delta, root)
        val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
        val dir = fs.listStatus(new org.apache.hadoop.fs.Path(root)).map(_.getPath.toString)
          .find(_.split('/').last.startsWith(s"v$v-")).get
        val bytes = Sources.parquetFiles(spark, dir).map(_.getLen).sum
        for (keys <- Seq(Seq(key), Seq(key, "o_custkey")); (form, limit) <- Seq("driver" -> bytes, "distributed" -> (bytes - 1))) {
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", limit.toString)
          def once(): (Double, Double, Long) = {
            val a0 = threads.getCurrentThreadAllocatedBytes
            val t0 = System.nanoTime()
            // the threshold alone picks the form, past the code's byte cap too
            val df = Snapshots.withDriverMergeCap(Long.MaxValue)(Snapshots.asOf(spark, root, v, keys))
            val t1 = System.nanoTime()
            df.orderBy(key).limit(1000).collect()
            ((t1 - t0) / 1e6, (System.nanoTime() - t0) / 1e6, threads.getCurrentThreadAllocatedBytes - a0)
          }
          val first = once()
          val runs = if (first._1 > 20000) Seq(first) else Seq.fill(7)(once())
          val build = runs.map(_._1).sorted
          val all = runs.map(_._2).sorted
          println(f"PROBE asof-size $width%-6s rows $n%8d bytes $bytes%9d keys ${keys.size} $form%-11s " +
            f"p50 ${all(all.size / 2)}%9.1f ms  build p50 ${build(build.size / 2)}%9.1f ms  " +
            f"alloc ${runs.head._3 / 1e6}%8.1f MB  runs ${runs.size}")
        }
      } finally {
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        val p = new org.apache.hadoop.fs.Path(tmp.toString)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
        ()
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = session()
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mode = args.headOption.getOrElse("query")
    if (mode != "serve" && mode != "asof") {
      // warm like Bench: table scans only
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").foreach { tn =>
        try noop(Tables.load(spark, d, tn)) catch { case _: Throwable => () }
      }
      try operators.Warehouse.warm(spark, d) catch { case _: Throwable => () }
    }
    mode match {
      case "serve" => timeServe(spark, d, args.lift(1).fold(30)(_.toInt))
      case "asof" if args.length > 1 => sweepAsOf(spark, d, args.drop(1).map(_.toInt).toSeq)
      case "asof" => timeAsOf(spark, d)
      case "query" =>
        for (n <- args.drop(1); r <- 1 to 3) {
          spark.catalog.clearCache()
          val df = t(s"$n r$r construct")(SparkEntry.queries(n)(spark, d))
          t(s"$n r$r optimize")(df.queryExecution.optimizedPlan)
          // executes df's OWN plan (a noop write would run a derived
          // one), so after the last run its AQE plan is the final one
          t(s"$n r$r exec")(df.queryExecution.toRdd.foreach(_ => ()))
          if (r == 3) df.explain("formatted")
        }
      case "qa2" =>
        for (r <- 1 to 3) {
          spark.catalog.clearCache()
          val docs = Tables.documents(spark, d)
          val emb = Tables.embeddings(spark, d)
          val c = t(s"qa2 r$r stage(curated)")(graft.Stage(operators.Curate.curated(docs)))
          val survivors = emb.select(col("vec_id"), col("embedding"))
            .join(c.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
          val verdicts = t(s"qa2 r$r semanticDedup construct+actions") {
            dedup.Dedup.semanticDedup(survivors, 0.4, 0, iters = 0, maxCell = 0, md5Seed = true)
              .select(col("vec_id").as("doc_id"), col("cell"), col("dup_of"), col("keep"))
          }
          val out = c.join(verdicts, Seq("doc_id"), "left")
            .filter(col("keep").isNull || col("keep")).drop("keep")
            .groupBy("split", "source")
            .agg(count(lit(1)).as("n_docs"), sum("n_bpe_tokens").as("sum_tokens"),
              Tables.dsum(col("quality"), 6).as("sum_q"))
            .orderBy("split", "source")
          t(s"qa2 r$r final exec")(noop(out))
        }
      case "q6d" =>
        for (r <- 1 to 3) {
          spark.catalog.clearCache()
          val (corpus, b1, b2) = dedup.Dedup.q6dSplit(Tables.embeddings(spark, d))
          val tmp = java.nio.file.Files.createTempDirectory("graft-probe-vecidx")
          val root = s"$tmp/idx"
          try {
            t(s"q6d r$r build")(dedup.Dedup.commitVecIndex(corpus, root, probe1 = true))
            val v1 = t(s"q6d r$r ingest1+commit")(
              dedup.Dedup.ingestAndCommitVec(b1, corpus, root))
            val corpus2 = corpus.unionByName(
              b1.join(v1.filter(col("keep")).select("vec_id"), Seq("vec_id"), "left_semi"))
            val out = t(s"q6d r$r ingest2 construct")(
              dedup.Dedup.ingestAgainstVecIndex(b2, corpus2, root).orderBy("vec_id"))
            t(s"q6d r$r ingest2 exec+cut")(graft.Stage.cut(out))
          } finally {
            val p = new org.apache.hadoop.fs.Path(tmp.toString)
            p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
            ()
          }
        }
      case "qa3" =>
        for (r <- 1 to 3) {
          spark.catalog.clearCache()
          val cur = operators.Curate.curated(Tables.documents(spark, d))
          t(s"qa3 r$r curated alone exec")(noop(cur))
          spark.catalog.clearCache()
          val full = SparkEntry.queries("qa3_training_run")(spark, d)
          t(s"qa3 r$r full exec")(noop(full))
        }
      case "micro" =>
        for (r <- 1 to 3) {
          spark.catalog.clearCache()
          val li = Tables.lineitem(spark, d)
          t(s"micro r$r q03 as-is") {
            noop(li.filter(col("l_shipdate") <= lit("2000-09-02").cast("timestamp"))
              .groupBy("l_returnflag", "l_linestatus")
              .agg(Tables.dsum(col("l_quantity")).as("sum_qty"),
                Tables.dsum(col("l_extendedprice")).as("s2"),
                Tables.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6).as("s3"),
                Tables.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), 6).as("s4"),
                Tables.davg(col("l_quantity")).as("a1"),
                Tables.davg(col("l_extendedprice")).as("a2"),
                Tables.davg(col("l_discount"), 6).as("a3"),
                count(lit(1)).as("n")))
          }
          t(s"micro r$r q03 spread") {
            noop(Tables.spread(li).filter(col("l_shipdate") <= lit("2000-09-02").cast("timestamp"))
              .groupBy("l_returnflag", "l_linestatus")
              .agg(Tables.dsum(col("l_quantity")).as("sum_qty"),
                Tables.dsum(col("l_extendedprice")).as("s2"),
                Tables.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6).as("s3"),
                Tables.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), 6).as("s4"),
                Tables.davg(col("l_quantity")).as("a1"),
                Tables.davg(col("l_extendedprice")).as("a2"),
                Tables.davg(col("l_discount"), 6).as("a3"),
                count(lit(1)).as("n")))
          }
          val docs = Tables.documents(spark, d)
          t(s"micro r$r docs scan only")(noop(docs))
          t(s"micro r$r curated as-is")(noop(operators.Curate.curated(docs)))
          t(s"micro r$r curated spread")(noop(operators.Curate.curated(Tables.spread(docs))))
          t(s"micro r$r q8e as-is")(noop(SparkEntry.queries("q8e_bpe_encode")(spark, d)))
        }
      case "micro2" =>
        for (r <- 1 to 3) {
          spark.catalog.clearCache()
          val docs = Tables.documents(spark, d)
          val li = Tables.lineitem(spark, d)
          t(s"micro2 r$r annotated as-is")(noop(operators.Curate.annotated(docs)))
          t(s"micro2 r$r annotated spread")(noop(operators.Curate.annotated(Tables.spread(docs))))
          t(s"micro2 r$r minhash as-is")(noop(dedup.Dedup.minhashSignatures(docs)))
          t(s"micro2 r$r minhash spread")(noop(dedup.Dedup.minhashSignatures(Tables.spread(docs))))
          t(s"micro2 r$r q34 as-is") {
            noop(li.cube("l_returnflag", "l_linestatus")
              .agg(count(lit(1)).as("n"), Tables.dsum(col("l_quantity")).as("sum_qty")))
          }
          t(s"micro2 r$r q34 spread") {
            noop(Tables.spread(li).cube("l_returnflag", "l_linestatus")
              .agg(count(lit(1)).as("n"), Tables.dsum(col("l_quantity")).as("sum_qty")))
          }
          t(s"micro2 r$r q9e h-subtree") {
            noop(docs.select(col("source"),
              explode_outer(call_function("graft_shingle_strings", col("text"), lit(3))).as("g"))
              .filter(col("g").isNotNull)
              .select(col("source"), md5(col("g")).as("h")).distinct())
          }
          t(s"micro2 r$r q9e h spread") {
            noop(Tables.spread(docs).select(col("source"),
              explode_outer(call_function("graft_shingle_strings", col("text"), lit(3))).as("g"))
              .filter(col("g").isNotNull)
              .select(col("source"), md5(col("g")).as("h")).distinct())
          }
        }
      case "micro3" =>
        for (r <- 1 to 3) {
          spark.catalog.clearCache()
          val docs = Tables.documents(spark, d)
          val orders = Tables.orders(spark, d)
          val merges = operators.TextAnalysis.bpeMerges(docs, 30).map { case (l, rr, _) => (l, rr) }
          t(s"micro3 r$r q8e-enc as-is") {
            noop(operators.TextAnalysis.bpeTokens(docs, merges)
              .select(col("doc_id"), size(col("tokens")).cast("long").as("n"),
                size(array_distinct(col("tokens"))).cast("long").as("nd"))
              .orderBy("doc_id"))
          }
          t(s"micro3 r$r q8e-enc spread") {
            noop(operators.TextAnalysis.bpeTokens(Tables.spread(docs), merges)
              .select(col("doc_id"), size(col("tokens")).cast("long").as("n"),
                size(array_distinct(col("tokens"))).cast("long").as("nd"))
              .orderBy("doc_id"))
          }
          t(s"micro3 r$r q9h as-is")(noop(operators.Warehouse.profile(
            orders, Seq("o_orderkey", "o_custkey", "o_orderstatus",
              "o_totalprice", "o_orderdate", "o_orderpriority"))))
          t(s"micro3 r$r q9h spread")(noop(operators.Warehouse.profile(
            Tables.spread(orders), Seq("o_orderkey", "o_custkey", "o_orderstatus",
              "o_totalprice", "o_orderdate", "o_orderpriority"))))
          t(s"micro3 r$r q63 as-is")(noop(SparkEntry.queries("q63_dedup_simhash")(spark, d)))
          t(s"micro3 r$r q8c as-is")(noop(SparkEntry.queries("q8c_lm_score")(spark, d)))
        }
      case "q6dingest" =>
        val (corpus, b1, _) = dedup.Dedup.q6dSplit(Tables.embeddings(spark, d))
        val tmp = java.nio.file.Files.createTempDirectory("graft-probe-vecidx2")
        val root = s"$tmp/idx"
        try {
          dedup.Dedup.commitVecIndex(corpus, root, probe1 = true)
          for (r <- 1 to 3) {
            spark.catalog.clearCache()
            val (g, segments) = t(s"q6di r$r index open")(dedup.Dedup.openVecIndex(spark, root))
            t(s"q6di r$r index scan")(noop(segments))
            t(s"q6di r$r full ingest")(noop(dedup.Dedup.ingestAgainstVecIndex(b1, corpus, root)))
            println(s"geometry: $g")
          }
        } finally {
          val p = new org.apache.hadoop.fs.Path(tmp.toString)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
          ()
        }
      case "sortcost" =>
        for (r <- 1 to 3) {
          spark.catalog.clearCache()
          t(s"sc r$r q6f nosort")(noop(dedup.Dedup.adaptiveNearDups(
            Tables.embeddings(spark, d), maxBucket = 64, probe1 = true, probeSub2 = true)))
          spark.catalog.clearCache()
          t(s"sc r$r q6f sorted")(noop(SparkEntry.queries("q6f_dedup_adaptive")(spark, d)))
          spark.catalog.clearCache()
          t(s"sc r$r q6f cutsort")(noop(graft.Stage.cut(dedup.Dedup.adaptiveNearDups(
            Tables.embeddings(spark, d), maxBucket = 64, probe1 = true, probeSub2 = true))
            .orderBy("id_a", "id_b")))
          spark.catalog.clearCache()
          val sc8c = SparkEntry.queries("q8c_lm_score")(spark, d)
          t(s"sc r$r q8c sorted")(noop(sc8c))
        }
      case other => sys.error(s"unknown probe mode $other")
    }
    spark.stop()
  }
}

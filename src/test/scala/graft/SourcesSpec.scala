package graft

class CatalogSpec extends SparkSpec {
  test("registerViews exposes the star schema and graft functions to spark.sql") {
    Tables.registerViews(spark, sf)
    val n = spark.sql(
      """SELECT count(*) AS n FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey"""
    ).collect()(0).getLong(0)
    assert(n > 0)
    // graft's codegen functions are callable from SQL text too
    val d = spark.sql(
      "SELECT graft_norm2(embedding) AS nrm FROM embeddings LIMIT 1"
    ).collect()(0).getDouble(0)
    assert(d > 0.0)
  }

  test("events instants are independent of the user session's timezone") {
    // a library user who does NOT pin spark.sql.session.timeZone=UTC
    // must read the same instants: the NTZ wall clock is defined as
    // UTC by the generator, not as whatever zone the session runs in
    val utc = Tables.events(spark, sf)
      .selectExpr("min(unix_micros(ts))").collect()(0).getLong(0)
    val prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val nyc = Tables.events(spark, sf)
        .selectExpr("min(unix_micros(ts))").collect()(0).getLong(0)
      assert(nyc === utc, "event instants shifted with the session timezone")
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }
}

import graft.sources.Sources
import org.apache.spark.sql.functions._

/** io01–io03 — source/sink round-trips (SURVEY §2.11). */
class SourcesSpec extends SparkSpec {

  /** (row count, row set) — the count catches duplicated reads that a
    * bare Set comparison would collapse away.
    */
  private def canon(df: org.apache.spark.sql.DataFrame): (Long, Set[Seq[Any]]) = {
    val cols = df.columns.sorted.toIndexedSeq
    val rows = df.select(cols.map(col): _*).collect().map(_.toSeq)
    (rows.length.toLong, rows.toSet)
  }

  test("io01: partitioned parquet round-trip; partition filter prunes files") {
    val out = tmpDir("io01")
    val nation = Tables.nation(spark, sf)
    Sources.writeParquet(nation, out, partitionCols = Seq("n_regionkey"))
    val back = Sources.readParquet(spark, out)
    assert(canon(back.select(nation.columns.map(col): _*)) === canon(nation))
    // partition pruning: the filtered scan must report a partition filter
    val pruned = back.filter(col("n_regionkey") === 1)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(n_regionkey"), s"no partition filter in:\n$scan")
  }

  test("io02: csv round-trip with explicit schema preserves types and values") {
    val out = tmpDir("io02")
    val region = Tables.region(spark, sf)
    Sources.writeCsv(region, out)
    val back = Sources.readCsv(spark, out, region.schema)
    assert(back.schema === region.schema)
    assert(canon(back) === canon(region))
  }

  test("io04: bucketed tables join with zero shuffle exchanges") {
    val orders = Tables.orders(spark, sf).select("o_orderkey", "o_custkey", "o_totalprice")
    val lineitem = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    orders.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("io04_orders")
    lineitem.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("io04_lineitem")
    try {
      val joined = spark.table("io04_orders")
        .join(spark.table("io04_lineitem").hint("merge"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_custkey").agg(sum("l_quantity").as("q"))
      val plan = joined.queryExecution.executedPlan.toString
      // co-located bucketed join: the join itself needs no exchange —
      // the only shuffle allowed is the final groupBy aggregation
      val joinPart = plan.split("HashAggregate").last
      assert(!joinPart.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      assert(joined.count() === Tables.orders(spark, sf)
        .join(Tables.lineitem(spark, sf), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_custkey").count().count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS io04_orders")
      spark.sql("DROP TABLE IF EXISTS io04_lineitem")
    }
  }

  test("io05: orc round-trip with predicate pushdown") {
    val out = tmpDir("io05")
    val supplier = Tables.supplier(spark, sf)
    Sources.writeOrc(supplier, out)
    val back = Sources.readOrc(spark, out)
    assert(canon(back) === canon(supplier))
    val plan = back.filter(col("s_nationkey") === 3).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(s_nationkey"), s"no orc pushdown:\n$plan")
  }

  test("io03: json-lines round-trip with explicit schema") {
    val out = tmpDir("io03")
    val customer = Tables.customer(spark, sf).select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
    Sources.writeJsonLines(customer, out)
    val back = Sources.readJsonLines(spark, out, customer.schema)
    assert(back.schema === customer.schema)
    assert(canon(back) === canon(customer))
  }

  test("io06: z-order layout co-locates multi-column range filters in few files") {
    val events = Tables.events(spark, sf).select("event_id", "user_id", "value")
    val zOut = tmpDir("io06_z")
    val nOut = tmpDir("io06_n")
    Sources.zorderWrite(events, Seq("user_id", "value"), zOut, numFiles = 16)
    events.repartition(16).write.mode("overwrite").parquet(nOut) // round-robin baseline
    def filesHit(path: String): (Long, Long) = {
      val hit = spark.read.parquet(path)
        .filter(col("user_id") <= 2 && col("value") <= 30.0)
      (hit.count(), hit.select(input_file_name()).distinct().count())
    }
    val (zRows, zFiles) = filesHit(zOut)
    val (nRows, nFiles) = filesHit(nOut)
    assert(zRows === nRows, "layout must not change query results")
    assert(zRows > 0, "filter selects nothing — locality check is vacuous")
    // both dimensions constrained: a z-sorted layout confines the
    // matches to a corner of z-space; round-robin spreads them evenly
    assert(zFiles < nFiles, s"z-order hit $zFiles files vs round-robin $nFiles")
    assert(zFiles <= 4, s"z-order locality too weak: $zFiles of 16 files")
    // round-trip completeness
    assert(canon(spark.read.parquet(zOut)) === canon(events))
  }

  test("io06: a non-finite cell cannot poison the z-order scaling") {
    import spark.implicits._
    // one ±Inf cell used to set mx/mn to infinity, collapsing EVERY
    // finite row of that dimension into one bucket — no crash, no
    // fallback, layout silently destroyed; and a NaN cell reaching
    // the ANSI double→long cast would fail the whole write
    val base = (0 until 4000).map(i => ((i % 100).toDouble, (i / 100).toDouble))
    val poison = Seq(
      (Double.PositiveInfinity, 1.0), (Double.NegativeInfinity, 2.0), (Double.NaN, 3.0))
    val df = (base ++ poison).toDF("x", "y")
    val out = tmpDir("io06_inf")
    Sources.zorderWrite(df, Seq("x", "y"), out, numFiles = 16)
    val back = spark.read.parquet(out)
    assert(back.count() === df.count(), "rows lost through the z-order write")
    // the finite corner must still be confined to few files — if the
    // Inf cell had poisoned the x scaling, x would contribute nothing
    // and the corner would spread across the y-only layout
    val hit = back.filter(col("x") <= 10.0 && col("y") <= 10.0)
    // +1: the (-Inf, 2.0) poison row itself satisfies the corner
    // filter (layout may place it anywhere; results must include it)
    assert(hit.count() === base.count(t => t._1 <= 10.0 && t._2 <= 10.0) + 1)
    val files = hit.select(input_file_name()).distinct().count()
    assert(files <= 4, s"non-finite cell degraded z-order locality: corner hit $files of 16 files")
  }

  test("q8b artifact: sharded shuffle write is one global order across sorted shard files") {
    val docs = Tables.documents(spark, sf)
    val n = docs.count()
    val dir = tmpDir("q8b_shards") + "/shards"
    Sources.shardedShuffleWrite(docs, "s42", dir, numShards = 8)

    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    assert(files.length === 8, s"expected 8 shard files, got ${files.length}")

    // the artifact carries EXACTLY the corpus schema — the shuffle key
    // is derivable (md5 of seed:doc_id) and a schema-strict trainer
    // must not see a helper column (the zorderWrite _z contract)
    assert(spark.read.parquet(dir).schema === docs.schema,
      "shard schema diverged from the corpus schema")

    // shard i strictly precedes shard i+1; rows sorted within each
    // file — verified by RECOMPUTING the key from the rows, since the
    // artifact deliberately does not store it
    var prevMax = ""
    val allKeys = scala.collection.mutable.ArrayBuffer[String]()
    files.foreach { f =>
      val keys = spark.read.parquet(f.getPath)
        .withColumn("shuffle_key", graft.operators.TextAnalysis.shuffleKey("s42"))
        .select("shuffle_key").collect().map(_.getString(0)).toSeq
      assert(keys == keys.sorted, s"${f.getName} not sorted within the shard")
      assert(keys.nonEmpty, s"${f.getName} is an empty shard (range sampling collapsed)")
      assert(prevMax < keys.head, s"${f.getName} overlaps the previous shard's key range")
      prevMax = keys.last
      allKeys ++= keys
    }
    assert(allKeys.length.toLong === n, "shards lost or duplicated rows")

    // streaming the files in name order replays exactly the q8b sample
    val q = SparkEntry.queries("q8b_shuffle")(spark, sf)
      .select("shuffle_key").collect().map(_.getString(0)).toSeq
    assert(allKeys.take(q.length).toSeq === q,
      "shard concatenation diverges from the q8b query order")
  }

  test("zorderWrite refuses a statless z column loudly; an empty frame still writes") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    // a non-numeric z column would silently produce an UN-z-ordered
    // layout (its whole purpose defeated, discovered only as scan
    // degradation much later) — must be a loud caller error naming it
    val e = intercept[IllegalArgumentException] {
      Sources.zorderWrite(df, Seq("id", "name"), tmpDir("io06_bad") + "/z")
    }
    assert(e.getMessage.contains("name"), e.getMessage)
    // all-null numeric is the same refusal through the other door
    val nulls = Seq((1L, Option.empty[Double]), (2L, Option.empty[Double])).toDF("id", "v")
    assert(intercept[IllegalArgumentException] {
      Sources.zorderWrite(nulls, Seq("id", "v"), tmpDir("io06_bad2") + "/z")
    }.getMessage.contains("v"))
    // EMPTY input has nothing to cluster: plain write, not an error
    val out = tmpDir("io06_empty") + "/z"
    Sources.zorderWrite(df.limit(0), Seq("id", "name"), out)
    assert(spark.read.parquet(out).count() === 0L)
  }

  test("listingSignature: stable across relistings, duplicate-stat pairs don't cancel, subdir moves change it") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val dir = tmpDir("lsig")
    val t = FileTime.fromMillis(1700000000000L)
    val a = Paths.get(dir, "x", "part.bin")
    val b = Paths.get(dir, "y", "part.bin")
    Files.createDirectories(a.getParent); Files.createDirectories(b.getParent)
    // identical (leaf name, mtime, length) — the pair a pure XOR fold
    // of name-only per-file mixes cancels to the empty-tree stamp
    Files.write(a, Array[Byte](1, 2, 3)); Files.setLastModifiedTime(a, t)
    Files.write(b, Array[Byte](4, 5, 6)); Files.setLastModifiedTime(b, t)
    val withPair = Sources.listingSignature(spark, dir)
    assert(Sources.listingSignature(spark, dir) === withPair, "relisting an unchanged tree must be stable")
    Files.delete(a); Files.delete(b)
    val empty = Sources.listingSignature(spark, dir)
    assert(empty !== withPair,
      "removing a duplicate-stat pair left the stamp unchanged — stale derived stores would serve silently")
    // moving a file between subdirectories (same leaf stats) must move the stamp
    Files.write(a, Array[Byte](1, 2, 3)); Files.setLastModifiedTime(a, t)
    val inX = Sources.listingSignature(spark, dir)
    Files.move(a, b); Files.setLastModifiedTime(b, t)
    val inY = Sources.listingSignature(spark, dir)
    assert(inX !== inY, "a subdirectory move is invisible to a name-only per-file mix")
    // a missing path stamps as the empty tree, deterministically
    assert(Sources.listingSignature(spark, s"$dir/nope") === Sources.listingSignature(spark, s"$dir/nope2"))
  }

  test("listingSignature: the status walk gives the value of the recursive listFiles stamp") {
    import org.apache.hadoop.fs.Path
    // the stamp as it was computed over FileSystem.listFiles(p, true),
    // so stamps recorded by derived stores do not churn
    def listed(path: String): String = {
      val p = new Path(path)
      val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val rootPrefix = f.makeQualified(p).toUri.getPath
      var hx = 0L
      var hs = 0L
      if (f.exists(p)) {
        val it = f.listFiles(p, true)
        while (it.hasNext) {
          val s = it.next()
          val full = s.getPath.toUri.getPath
          val rel = if (full.startsWith(rootPrefix)) full.substring(rootPrefix.length) else full
          var m = 1125899906842597L
          rel.foreach(c => m = m * 6364136223846793005L + c)
          m = m * 6364136223846793005L + s.getModificationTime
          m = m * 6364136223846793005L + s.getLen
          hx ^= m
          hs += m
        }
      }
      s"f${java.lang.Long.toHexString(hx)}-${java.lang.Long.toHexString(hs)}"
    }
    import spark.implicits._
    val dir = tmpDir("lsig-walk")
    // nested directories, a Spark-written table (with .crc and _SUCCESS siblings) and an empty dir
    Seq((1, "a"), (2, "b")).toDF("id", "name").write.partitionBy("id").parquet(s"$dir/t")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir, "empty", "deeper"))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "top.txt"), "x".getBytes)
    val before = Sources.listingSignature(spark, dir)
    assert(before === listed(dir))
    assert(Sources.listingSignature(spark, s"$dir/t") === listed(s"$dir/t"))
    assert(Sources.listingSignature(spark, s"$dir/top.txt") === listed(s"$dir/top.txt"))
    assert(Sources.listingSignature(spark, s"$dir/nope") === listed(s"$dir/nope"))
    // a rewrite still moves the stamp
    Seq((1, "a"), (3, "c")).toDF("id", "name").write.mode("overwrite").partitionBy("id").parquet(s"$dir/t")
    val after = Sources.listingSignature(spark, dir)
    assert(after === listed(dir))
    assert(after !== before)
  }

  // ------------------------------------------- readParquet schema parity

  /** `Sources.readParquet`'s schema equals Spark's inferred one for
    * `path` under the session's current confs, read from a cold memo.
    */
  private def assertParity(path: String): org.apache.spark.sql.types.StructType = {
    Sources.forgetSchemas(spark)
    val ours = Sources.readParquet(spark, path).schema
    val spark_ = spark.read.parquet(path).schema
    assert(ours === spark_, s"schema of $path: footer read\n${ours.treeString}\ninferred\n${spark_.treeString}")
    ours
  }

  private def withConf[T](k: String, v: String)(body: => T): T = {
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  /** One parquet file written by parquet-mr itself, so its footer has
    * no Spark schema and the type-mapping confs decide the Spark types.
    */
  private def writeRaw(file: String, message: String)(fill: org.apache.parquet.example.data.Group => Unit): Unit = {
    val mt = org.apache.parquet.schema.MessageTypeParser.parseMessageType(message)
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), spark.sparkContext.hadoopConfiguration))
      .withType(mt).build()
    try {
      val g = new org.apache.parquet.example.data.simple.SimpleGroupFactory(mt).newGroup()
      fill(g)
      w.write(g)
    } finally w.close()
  }

  test("readParquet: schema parity with Spark's inference on every sf0.001 table") {
    val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings", "events")
    tables.foreach(t => assertParity(s"$sf/$t.parquet"))
    // the session's nanosAsLong pin is what types events.ts
    withConf("spark.sql.legacy.parquet.nanosAsLong", "false") {
      assertParity(s"$sf/events.parquet")
    }
  }

  test("readParquet: a 4-part segment with a non-nullable column and metadata siblings, in 0 jobs") {
    val seg = tmpDir("rp-seg") + "/seg"
    spark.range(0, 400, 1, 4).select(col("id"), lit(false).as("_deleted"),
      (col("id") % 7).cast("string").as("k")).write.parquet(seg)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(seg, "_graft_stats.json"), "{}")
    assert(new java.io.File(seg, "_SUCCESS").exists())
    assert(new java.io.File(seg).list().count(_.startsWith("part-")) === 4)
    val schema = assertParity(seg)
    assert(schema("_deleted").nullable, "the reader relaxes nullability, as Spark's read does")
    Sources.forgetSchemas(spark)
    var df: org.apache.spark.sql.DataFrame = null
    assert(jobsIn("rp-cold") { df = Sources.readParquet(spark, seg) } === 0)
    assert(jobsIn("rp-inferred") { spark.read.parquet(seg) } >= 1,
      "Spark's inference ran no job — the pin above proves nothing")
    assert(df.count() === 400L)
    // a partitioned directory keeps its inferred partition column
    val parted = tmpDir("rp-parted") + "/t"
    spark.range(0, 20).withColumn("p", col("id") % 3).write.partitionBy("p").parquet(parted)
    assert(assertParity(parted).fieldNames.last === "p")
  }

  test("readParquet: a zero-row delta segment keeps its schema") {
    import spark.implicits._
    val root = tmpDir("rp-empty")
    graft.sources.Snapshots.commit(Seq((1, "a", 10L)).toDF("id", "name", "amount"), root)
    val v = graft.sources.Snapshots.commitDelta(
      Seq.empty[(Int, String, Long, Boolean)].toDF("id", "name", "amount", "_deleted"), root)
    val rel = graft.sources.Snapshots.versions(spark, root).find(_._1 == v).get._3
    val schema = assertParity(s"$root/$rel")
    assert(schema.fieldNames.toSeq === Seq("id", "name", "amount", "_deleted"))
    assert(Sources.readParquet(spark, s"$root/$rel").count() === 0L)
  }

  test("readParquet: binaryAsString and inferTimestampNTZ type the footer as Spark does, on and off") {
    val dir = tmpDir("rp-raw") + "/t"
    new java.io.File(dir).mkdirs()
    writeRaw(s"$dir/part-0.parquet",
      "message m { required binary b; required int64 ts (TIMESTAMP(MICROS,false)); }") { g =>
      g.append("b", org.apache.parquet.io.api.Binary.fromString("x"))
      g.append("ts", 1000000L)
    }
    def typeOf(c: String) = Sources.readParquet(spark, dir).schema(c).dataType
    import org.apache.spark.sql.types._
    // the memo is NOT forgotten between flips: the confs are part of its stamp
    withConf("spark.sql.parquet.binaryAsString", "true")(assertParity(dir))
    withConf("spark.sql.parquet.binaryAsString", "true")(assert(typeOf("b") === StringType))
    withConf("spark.sql.parquet.binaryAsString", "false")(assert(typeOf("b") === BinaryType))
    withConf("spark.sql.parquet.binaryAsString", "false")(assertParity(dir))
    withConf("spark.sql.parquet.inferTimestampNTZ.enabled", "true")(assertParity(dir))
    withConf("spark.sql.parquet.inferTimestampNTZ.enabled", "true")(
      assert(typeOf("ts") === TimestampNTZType))
    withConf("spark.sql.parquet.inferTimestampNTZ.enabled", "false")(
      assert(typeOf("ts") === TimestampType))
    withConf("spark.sql.parquet.inferTimestampNTZ.enabled", "false")(assertParity(dir))
  }

  test("readParquet: mergeSchema=true merges every footer, as Spark does; off, one footer decides") {
    import spark.implicits._
    val dir = tmpDir("rp-merge") + "/t"
    Seq((1L, "x")).toDF("a", "b").write.parquet(dir)
    Seq((2L, 0.5)).toDF("a", "c").write.mode("append").parquet(dir)
    val merged = withConf("spark.sql.parquet.mergeSchema", "true")(assertParity(dir))
    assert(merged.fieldNames.toSet === Set("a", "b", "c"))
    assert(assertParity(dir).fieldNames.length === 2)
  }

  test("readParquet: a directory without a data file, or a missing path, fails as Spark's read does") {
    val dir = tmpDir("rp-nodata") + "/t"
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "_SUCCESS"), "")
    Seq(dir, s"$dir-missing").foreach { p =>
      val theirs = intercept[org.apache.spark.sql.AnalysisException](spark.read.parquet(p))
      val ours = intercept[org.apache.spark.sql.AnalysisException](Sources.readParquet(spark, p))
      assert(ours.getCondition === theirs.getCondition)
    }
  }
}

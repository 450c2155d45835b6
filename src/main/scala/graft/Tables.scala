package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Table loaders for the graft star schema.
  *
  * Subjects ↔ `customer`, visits ↔ `orders`, measurements ↔ `lineitem`,
  * metadata ↔ `part`, incremental-load stream ↔ `events`, plus the
  * LLM-pipeline tables `documents` and `embeddings`.
  *
  * All loads are plain parquet scans so Catalyst predicate pushdown /
  * column pruning apply to every downstream query. At cluster scale the
  * same loaders work unchanged against a directory of many files.
  */
object Tables {

  // Per-session state, created on a session's first load: the graft_*
  // function registration (once per session — every load() used to
  // rewrite ~30 registry entries, contending on the session
  // FunctionRegistry lock under the concurrent serving layer) and the
  // parquet schema memo below. Weak keys: the map must not pin dead
  // sessions.
  private val sessions =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession,
        java.util.concurrent.ConcurrentHashMap[String, (String, StructType)]]())

  // Session confs that change how a parquet footer maps to Spark types
  // (or, for mergeSchema, which footers are read): a memoized schema
  // is only valid under the confs it was inferred with.
  private val schemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** What a memoized schema of `path` was inferred from: the path's
    * length and modification time (for a directory, also those of its
    * direct children, so an added, removed or rewritten part file
    * re-infers) and the type-mapping confs.
    */
  private def schemaStamp(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    val files = if (st.isDirectory) st +: fs.listStatus(p).toSeq else Seq(st)
    (files.map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}") ++
      schemaConfs.map(k => s"$k=${spark.conf.getOption(k).getOrElse("")}")).mkString("|")
  }

  /** Read one table. Parquet schema inference launches a Spark job per
    * read, so the inferred schema is memoized per session and path
    * (see [[schemaStamp]] for what invalidates it) and later reads pass
    * it explicitly. Every call still returns a fresh DataFrame over a
    * fresh file listing.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val memo = sessions.synchronized {
      val m = sessions.get(spark)
      if (m != null) m
      else {
        graft.functions.VectorExpressions.register(spark)
        val fresh = new java.util.concurrent.ConcurrentHashMap[String, (String, StructType)]()
        sessions.put(spark, fresh)
        fresh
      }
    }
    val path = s"$dir/$name.parquet"
    val stamp = schemaStamp(spark, path)
    val schema = memo.get(path) match {
      case (s, schema) if s == stamp => schema
      case _ =>
        val schema = spark.read.parquet(path).schema
        memo.put(path, (stamp, schema))
        schema
    }
    spark.read.schema(schema).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** `events.ts` normalization, adaptive to the generator's schema:
    *
    *  - parquet TIMESTAMP(NANOS): Spark's vectorized reader rejects it;
    *    with `spark.sql.legacy.parquet.nanosAsLong=true` it arrives as
    *    LongType nanos → convert with integer `div` (the raw nanos
    *    exceed 2^53, so double division would corrupt them);
    *  - parquet TIMESTAMP(MICROS) without UTC adjustment: arrives as
    *    TIMESTAMP_NTZ → pinned to the UTC instant by PURE WALL-CLOCK
    *    ARITHMETIC: `timestamp_micros(timestampdiff(MICROSECOND,
    *    NTZ epoch, ts))`. No timezone enters the computation at all,
    *    so the instants are identical under ANY
    *    `spark.sql.session.timeZone` (a bare cast — or
    *    to_utc_timestamp, which first coerces NTZ→LTZ through the
    *    session zone — would silently shift every event by the zone
    *    offset for non-UTC user sessions; CatalogSpec locks this) —
    *    bit-identical to what the nanos path produced, and to
    *    DuckDB's naive `epoch_ns(ts)` view of the same file (the
    *    oracles' reading).
    *
    * Downstream always sees one type (TIMESTAMP) either way.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    // DELIBERATELY session-wide, not scoped set/restore: the flag is
    // consulted again at physical planning/scan time, which happens
    // lazily AFTER this function returns — a restore here would break
    // the very frame being built. Side effect: any later
    // TIMESTAMP(NANOS) parquet read in the session types as LongType
    // nanos instead of failing loudly; the graft entry points
    // (Bench/Verify/server builders) all pin the flag at session build
    // anyway, so in practice this only re-asserts it.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => raw
      case org.apache.spark.sql.types.TimestampNTZType => raw.withColumn("ts", expr(
        "timestamp_micros(timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts))"))
      case other => sys.error(
        s"events.ts has unsupported type $other — the generator's parquet schema changed again; " +
          "check pq.read_schema and extend Tables.events (verify skill: events.ts varies by round)")
    }
  }

  /** Register every warehouse table as a temp view so users can run
    * plain `spark.sql` against the star schema (the reference exposes
    * a query surface over named entities; this is graft's SQL door —
    * the graft_* functions are already registered per session, so SQL
    * text can use them too). Views are lazy: each query still plans
    * straight from the pruned parquet scans.
    */
  def registerViews(s: SparkSession, d: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")
      .foreach(t => load(s, d, t).createOrReplaceTempView(t))
    events(s, d).createOrReplaceTempView("events")
  }

  /** Fan a partition-starved frame out to the session's parallelism.
    *
    * A single parquet file with one row group plans as ONE scan task,
    * and every narrow operator fused onto that scan (banding dot
    * products, shingling, regex annotation) runs single-threaded no
    * matter how many cores the session has — the guide §2.5
    * "unsplittable input" case, which is exactly the shape of the
    * bench/gate datasets. The round-robin exchange costs one pass of
    * the (small, partition-starved by definition) input and spreads
    * the downstream compute across the box; at warehouse scale the
    * input arrives in many splits and this is a NO-OP (the 2× guard:
    * repartitioning from n to ~n buys nothing and costs an exchange).
    * Row order changes, so callers must be order-insensitive
    * downstream (every graft query ends in a total ORDER BY and
    * aggregates are decimal-exact / min-max based; sites that derive
    * a value from scan order — e.g. [[graft.ann.Knn.embDims]]'s
    * first-scorable-row — get the spread frame and simply see a
    * different, equally valid representative on mixed-width corpora).
    */
  def spread(df: DataFrame): DataFrame = {
    val want = pinnedParallelism(df.sparkSession)
    if (df.rdd.getNumPartitions * 2 <= want) df.repartition(want) else df
  }

  /** The partition count for pinned (AQE-uncoalescible) repartitions
    * ahead of huge join fan-outs. `spark.sql.shuffle.partitions` —
    * stable at plan-build time — rather than
    * `sparkContext.defaultParallelism`, which on a dynamic-allocation
    * cluster is evaluated before executors register and can pin
    * exchanges to a tiny count AQE is then forbidden to fix. Every
    * graft entry point sets shuffle.partitions to the session's core
    * count, so the two are identical locally.
    */
  def pinnedParallelism(s: SparkSession): Int =
    s.sessionState.conf.numShufflePartitions

  /** Decimal-exact sum reported as double: `CAST(SUM(CAST(x AS
    * DECIMAL(28,scale))) AS DOUBLE)`. Decimal aggregation is exact, so
    * the result is bit-identical across engines regardless of row
    * order / partial-aggregation tree shape — unlike a double sum,
    * whose low bits depend on reduction order. Used by every oracle-
    * checked float aggregate (SURVEY §5).
    */
  def dsum(c: org.apache.spark.sql.Column, scale: Int = 2): org.apache.spark.sql.Column =
    sum(c.cast(s"decimal(28,$scale)")).cast("double")

  /** Decimal-exact mean as double (exact decimal sum, then one double
    * division — deterministic).
    */
  def davg(c: org.apache.spark.sql.Column, scale: Int = 2): org.apache.spark.sql.Column =
    dsum(c, scale) / count(c)
}

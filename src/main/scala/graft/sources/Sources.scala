package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Literal, UnsafeProjection}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** Source/sink helpers — SURVEY §2.11 (io01–io03).
  *
  * Thin, typed wrappers over the DataFrameReader/Writer API so every
  * read keeps Catalyst's pushdown path (parquet filters + column
  * pruning reach the scan) and every write is cluster-shaped by
  * default: explicit partition columns for parquet, explicit schemas
  * for csv/json (schema inference is a full extra pass over 100 TB —
  * never rely on it in production paths).
  */
object Sources {

  // --------------------------------------------------------- parquet

  /** THE parquet reader of graft: every table load, snapshot-segment
    * read and import-source read goes through here.
    *
    * `spark.read.parquet(path)` without a schema infers one, and that
    * inference launches a Spark job (`mergeSchemasInParallel`) even for
    * a single footer — on an as-of read, one job per segment of the
    * chain before a row is scanned. Here the schema is resolved on the
    * driver instead, from the ONE footer Spark's own inference reads
    * when `mergeSchema` is off (`_common_metadata`, else `_metadata`,
    * else the first data file in path order, hidden `_`/`.` names
    * skipped), converted by Spark's own `readSchemaFromFooter` under the
    * session's type-mapping confs; the frame is then
    * `spark.read.schema(s).parquet(path)`. Same schema, no job.
    *
    * Resolved schemas are memoized per session and path (see
    * [[schemaStamp]] for what invalidates an entry); every call still
    * returns a fresh DataFrame over a fresh file listing.
    *
    * Under `spark.sql.parquet.mergeSchema=true` every footer is merged,
    * so the read keeps Spark's inference. A path that names no file,
    * or a directory without a data file, also goes to Spark's read,
    * which raises its usual error.
    */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled) spark.read.parquet(path)
    else footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** [[readParquet]] under a caller-given schema, for an output
    * directory that may hold no data file (a run that wrote nothing),
    * where there is no footer to resolve a schema from.
    */
  def readParquet(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path)

  /** The schema [[readParquet]] gives `path`, without building a frame:
    * the memoized footer schema, else (schema merging on, or no footer
    * to read) the schema of Spark's own read.
    */
  def parquetSchema(spark: SparkSession, path: String): StructType =
    (if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None else footerSchema(spark, path))
      .getOrElse(readParquet(spark, path).schema)

  /** [[parquetSchema]] and the total length of the path's data files
    * ([[parquetFiles]]), both from the one memoized footer lookup, so a
    * caller that needs the size too (the snapshot store's choice of
    * merge form) lists nothing more.
    */
  def parquetSchemaAndBytes(spark: SparkSession, path: String): (StructType, Long) =
    (if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None else footerEntry(spark, path))
      .getOrElse((readParquet(spark, path).schema, parquetFiles(spark, path).map(_.getLen).sum))

  /** Many parquet directories as one frame, every row tagged with the
    * number its directory maps to in `dirs` (column `tagCol`): the
    * delta-chain read of the snapshot store.
    *
    * Directories whose schemas agree up to nullability (a file read
    * makes every column nullable anyway) share one parquet relation, so
    * a chain that never evolved is one scan however long it is; each
    * further schema adds a relation, and the relations union by name
    * with null fill. Schemas come from the footer memo of
    * [[readParquet]], so building the frame runs no job. A relation
    * takes at most `spark.sql.sources.parallelPartitionDiscovery.threshold`
    * directories, past which Spark would list them in a job.
    *
    * The tag of a row is looked up from its `_metadata.file_path`: the
    * name of the directory holding the file (data files sit directly
    * in each directory), through one map literal, so neither the
    * directory names' form nor the chain's length reaches the
    * generated code. A file outside every given directory fails the
    * read.
    */
  def readParquetTagged(spark: SparkSession, dirs: Seq[(String, Long)], tagCol: String): DataFrame = {
    require(dirs.nonEmpty, "readParquetTagged needs at least one directory")
    // the last path segment as it appears, URL-encoded, in _metadata.file_path
    val names = dirs.map { case (d, t) => new Path(d).toUri.getRawPath.split('/').last -> t }
    require(names.map(_._1).distinct.size == names.size,
      s"directory names must be distinct to tag rows: ${dirs.map(_._1).mkString(", ")}")
    val file = col("_metadata.file_path")
    val tag = coalesce(element_at(typedLit(names.toMap), element_at(split(file, "/"), -2)),
      raise_error(concat(lit(s"no $tagCol for "), file)))
    val merging = spark.sessionState.conf.isParquetSchemaMergingEnabled
    val perRelation = spark.sessionState.conf.parallelPartitionDiscoveryThreshold
    val groups = scala.collection.mutable.LinkedHashMap.empty[Option[StructType], Vector[String]]
    dirs.foreach { case (d, _) =>
      val key = if (merging) None else footerSchema(spark, d).map(_.toNullable)
      groups(key) = groups.getOrElse(key, Vector.empty) :+ d
    }
    groups.toSeq.flatMap {
      // no footer schema: one Spark read per directory, as readParquet
      case (None, ds) => ds.map(readParquet(spark, _))
      case (Some(s), ds) => ds.grouped(perRelation).map(g => spark.read.schema(s).parquet(g: _*))
    }.map(_.withColumn(tagCol, tag))
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** The rows of the parquet files or directories `paths`, in path
    * order, read on the driver by Spark's own parquet reader in each
    * path's footer schema ([[parquetSchema]]) and aligned by column name
    * to `schema`: a column a path lacks reads NULL, one stored under
    * another type is cast to `schema`'s, as a by-name union would.
    * Partition directories are not parsed into columns (a store segment
    * is flat). No Spark job runs, and every row is held in driver
    * memory — for small inputs only (the snapshot store's small delta
    * chains).
    */
  def parquetRows(spark: SparkSession, paths: Seq[String], schema: StructType): Seq[InternalRow] = {
    val conf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConf()
    // one reader per stored schema: building one broadcasts the Hadoop conf
    val readers = scala.collection.mutable.Map.empty[StructType, PartitionedFile => Iterator[InternalRow]]
    paths.flatMap { path =>
      driverReads.value.foreach(_.add(path))
      val stored = parquetSchema(spark, path)
      val read = readers.getOrElseUpdate(stored, new ParquetFileFormat().buildReaderWithPartitionValues(
        spark, stored, new StructType(), stored, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
        hadoopConf))
      val align = UnsafeProjection.create(schema.fields.toIndexedSeq.map { f =>
        stored.fields.indexWhere(s => conf.resolver(s.name, f.name)) match {
          case -1 => Literal(null, f.dataType)
          case i if stored(i).dataType == f.dataType => BoundReference(i, f.dataType, nullable = true)
          case i => Cast(BoundReference(i, stored(i).dataType, nullable = true), f.dataType,
            Some(conf.sessionLocalTimeZone))
        }
      })
      parquetFiles(spark, path).flatMap { f =>
        read(PartitionedFile(InternalRow.empty, SparkPath.fromFileStatus(f), 0, f.getLen,
          modificationTime = f.getModificationTime, fileSize = f.getLen)).map(r => align(r).copy())
      }
    }
  }

  // the paths parquetRows reads on this thread, while a test records them
  private val driverReads =
    new scala.util.DynamicVariable[Option[java.util.concurrent.ConcurrentLinkedQueue[String]]](None)

  /** Test seam: `body`'s result and the paths [[parquetRows]] read on
    * this thread while it ran, in order.
    */
  private[graft] def recordingDriverReads[T](body: => T): (T, Seq[String]) = {
    val read = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val out = driverReads.withValue(Some(read))(body)
    (out, read.asScala.toSeq)
  }

  /** The data files of a parquet path, as Spark's file index lists
    * them: the path itself if it is a file, else the non-empty leaf
    * files below it, hidden `_`/`.` names skipped, in path order.
    */
  def parquetFiles(spark: SparkSession, path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    if (!st.isDirectory) Seq(st)
    else leaves(fs, fs.listStatus(p).toSeq, isDataName).filter(_.getLen > 0).sortBy(_.getPath.toString)
  }

  // Per-session schema memo: path → (stamp, schema, data bytes). Weak keys: the map
  // must not pin dead sessions. Segment paths of a long-lived store
  // accumulate (every commit adds one), so a session's memo is dropped
  // whole once it holds MemoCap paths.
  private val schemaMemos =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession,
        java.util.concurrent.ConcurrentHashMap[String, (String, StructType, Long)]]())
  private val MemoCap = 4096

  private def memoOf(spark: SparkSession)
      : java.util.concurrent.ConcurrentHashMap[String, (String, StructType, Long)] =
    schemaMemos.synchronized {
      val m = schemaMemos.get(spark)
      if (m != null) m
      else {
        val fresh = new java.util.concurrent.ConcurrentHashMap[String, (String, StructType, Long)]()
        schemaMemos.put(spark, fresh)
        fresh
      }
    }

  /** Test seam: drop `spark`'s schema memo, so the next read of every
    * path resolves its footer afresh.
    */
  private[graft] def forgetSchemas(spark: SparkSession): Unit = {
    schemaMemos.remove(spark)
    ()
  }

  // Session confs that change how a parquet footer maps to Spark types:
  // a memoized schema is only valid under the confs it was read with.
  private val schemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  /** What a memoized schema of a path was read from: the path's length
    * and modification time (for a directory, also those of its direct
    * children, so an added, removed or rewritten part file re-reads)
    * and the type-mapping confs.
    */
  private def schemaStamp(spark: SparkSession, st: FileStatus, children: Seq[FileStatus]): String =
    ((st +: children).map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}") ++
      schemaConfs.map(k => s"$k=${spark.conf.getOption(k).getOrElse("")}")).mkString("|")

  /** The schema Spark's inference would give `path`, from one footer
    * read on the driver; None when the path names no file or holds no
    * file to read a footer from.
    */
  private def footerSchema(spark: SparkSession, path: String): Option[StructType] =
    footerEntry(spark, path).map(_._1)

  /** [[footerSchema]] and the total length of the path's data files,
    * memoized together per path.
    */
  private def footerEntry(spark: SparkSession, path: String): Option[(StructType, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st =
      try fs.getFileStatus(p)
      catch { case _: java.io.FileNotFoundException => return None }
    val children = if (st.isDirectory) fs.listStatus(p).toSeq else Nil
    val stamp = schemaStamp(spark, st, children)
    val memo = memoOf(spark)
    memo.get(path) match {
      case (s, schema, bytes) if s == stamp => Some((schema, bytes))
      case _ =>
        footerFile(fs, st, children).map { case (f, bytes) =>
          val conf = spark.sessionState.newHadoopConf()
          val footer = new Footer(f.getPath, ParquetFooterReader.readFooter(
            HadoopInputFile.fromStatus(f, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS))
          val schema = ParquetFileFormat.readSchemaFromFooter(
            footer, new ParquetToSparkSchemaConverter(spark.sessionState.conf))
          if (memo.size >= MemoCap) memo.clear()
          memo.put(path, (stamp, schema, bytes))
          (schema, bytes)
        }
    }
  }

  /** The file whose footer Spark's schema inference reads when
    * `mergeSchema` is off: `_common_metadata`, else `_metadata`, else
    * the first data file by path, over the leaf files Spark's file
    * index lists (names starting with `_` or `.` are hidden, except the
    * two summary files and `_`-names holding `=`, i.e. partition
    * directories); with the total length of the data files listed.
    */
  private def footerFile(fs: FileSystem, st: FileStatus, children: Seq[FileStatus])
      : Option[(FileStatus, Long)] = {
    if (!st.isDirectory) return Some((st, st.getLen))
    def summary(name: String): Boolean =
      name.startsWith(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE) ||
        name.startsWith(ParquetFileWriter.PARQUET_METADATA_FILE)
    val all = leaves(fs, children, n => isDataName(n) || summary(n)).sortBy(_.getPath.toString)
    val bytes = all.filter(f => isDataName(f.getPath.getName)).map(_.getLen).sum
    def named(n: String) = all.find(_.getPath.getName == n)
    named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(all.headOption) // no summary file listed: `all` holds data files only
      .map(_ -> bytes)
  }

  /** A name Spark's file index lists as data: not hidden by a leading
    * `_` (unless it holds `=`, a partition directory) or `.`, and not a
    * file still being copied.
    */
  private def isDataName(name: String): Boolean =
    !((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") || name.endsWith("._COPYING_"))

  /** The leaf files below `entries` whose names, and whose directories'
    * names, `visible` accepts.
    */
  private def leaves(fs: FileSystem, entries: Seq[FileStatus], visible: String => Boolean): Seq[FileStatus] =
    entries.filter(f => visible(f.getPath.getName)).flatMap { f =>
      if (f.isDirectory) leaves(fs, fs.listStatus(f.getPath).toSeq, visible) else Seq(f)
    }

  /** Order-independent freshness signature of a file tree: per-file
    * (path-relative-to-root × mtime × length) mixes folded with BOTH
    * XOR and SUM, so an unchanged tree re-listed in another order
    * yields the same stamp. The relative path (not just the leaf
    * name) means moving a file between subdirectories changes the
    * stamp, and the xor+sum pair is duplicate-sensitive: two files
    * with identical (name, mtime, length) no longer cancel under a
    * pure XOR fold (adding/removing such a pair changes the sum
    * lane). One walk of directory listings, NO Spark job and no
    * process fork — cheap enough to consult per request/call. Used by
    * the ANN serving index's rebuild detection and the derived-store
    * staleness checks; a missing path stamps as the empty tree.
    */
  def listingSignature(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootPrefix = f.makeQualified(p).toUri.getPath
    var hx = 0L
    var hs = 0L
    // plain statuses, walked by hand: `listFiles` returns located
    // statuses, whose construction on the local file system without
    // native Hadoop forks `ls -ld` per file to read its permissions
    def files(st: FileStatus): Iterator[FileStatus] =
      if (st.isDirectory) f.listStatus(st.getPath).iterator.flatMap(files)
      else Iterator.single(st)
    val root =
      try Some(f.getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    root.iterator.flatMap(files).foreach { s =>
      val full = s.getPath.toUri.getPath
      val rel = if (full.startsWith(rootPrefix)) full.substring(rootPrefix.length) else full
      var m = 1125899906842597L
      var i = 0
      while (i < rel.length) { m = m * 6364136223846793005L + rel.charAt(i); i += 1 }
      m = m * 6364136223846793005L + s.getModificationTime
      m = m * 6364136223846793005L + s.getLen
      hx ^= m
      hs += m
    }
    s"f${java.lang.Long.toHexString(hx)}-${java.lang.Long.toHexString(hs)}"
  }

  /** Hive-style partitioned parquet write; `partitionBy` columns become
    * directories, so downstream filters on them prune whole files.
    */
  def writeParquet(df: DataFrame, path: String, partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
  }

  // ------------------------------------------------------------- csv

  /** Schema-explicit csv read (no inference pass, no surprise types). */
  def readCsv(spark: SparkSession, path: String, schema: StructType, header: Boolean = true): DataFrame =
    spark.read.schema(schema).option("header", header.toString).csv(path)

  def writeCsv(df: DataFrame, path: String, header: Boolean = true): Unit =
    df.write.mode("overwrite").option("header", header.toString).csv(path)

  // ------------------------------------------------------------- orc

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String, partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).orc(path)
  }

  // ------------------------------------------------------ json lines

  /** Schema-explicit json-lines read. */
  def readJsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  def writeJsonLines(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  // --------------------------------------------- z-order layout (io06)

  /** Morton (Z-order) key over ≥2 numeric columns, each linearly
    * scaled to `bits` bits between the column's min and max and then
    * bit-interleaved. Rows close in EVERY dimension get close z
    * values, so a range-partitioned, z-sorted layout co-locates them
    * in the same files — multi-column data skipping from one sort
    * order, which single-column sorting cannot give.
    */
  def zorderKey(scaled: Seq[Column], bits: Int): Column = {
    // nonEmpty first: an empty column list would otherwise surface as
    // an opaque "head of empty list" from the reduce (and from
    // zorderWrite's stats row) instead of naming the misuse
    require(scaled.nonEmpty, "z-order needs at least one column (>=2 for it to beat a plain sort)")
    require(scaled.size * bits <= 63, s"z key ${scaled.size}x$bits bits exceeds a long")
    val n = scaled.size
    (0 until bits).flatMap { i =>
      scaled.zipWithIndex.map { case (c, j) =>
        shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), i * n + j)
      }
    }.reduce(_ bitwiseOR _)
  }

  /** Write `df` z-ordered on `cols` into `numFiles` range-partitioned
    * parquet files. Column min/max for the scaling come from one tiny
    * global aggregate (2×|cols| doubles on the driver — bounded at
    * any corpus size, the same stats any layout optimizer collects).
    * Degenerate columns (min == max) scale to 0. Linear scaling keeps
    * the whole key a narrow map; rank-based scaling would resist skew
    * better but costs a per-column sort — the public Delta/Iceberg
    * z-order implementations make the same trade by default.
    */
  def zorderWrite(df: DataFrame, cols: Seq[String], path: String,
      numFiles: Int = 16, bits: Int = 12): Unit = {
    require(cols.nonEmpty, "zorderWrite needs at least one z column")
    // stats exclude non-finite cells: Spark's max() orders NaN above
    // every double (one NaN cell would poison mx and send EVERY row of
    // that column to bucket 0), and a single ±Infinity cell is the
    // same bug through the other door — mx = +Inf makes (x-mn)/(mx-mn)
    // collapse every finite row to bucket 0 (mn = -Inf to the top
    // bucket) with no crash and no empty-input fallback, silently
    // destroying the layout. Excluded cells themselves degrade to
    // bucket 0 via the coalesce below.
    def clean(c: String): Column = {
      // try_cast, not cast: under ANSI (the Spark 4 default) a plain
      // cast on a non-numeric column THROWS mid-stats-job with a raw
      // CAST_INVALID_INPUT — the statless guard below turns the same
      // condition into an actionable error naming the column
      val d = expr(s"try_cast(`$c` AS DOUBLE)")
      when(isnan(d) || !d.between(Double.MinValue, Double.MaxValue), lit(null)).otherwise(d)
    }
    val mins = cols.map(c => min(clean(c)).as(s"mn_$c"))
    val maxs = cols.map(c => max(clean(c)).as(s"mx_$c"))
    val st = df.agg((mins ++ maxs).head, (mins ++ maxs).tail: _*).head()
    val statless = cols.filter(c => st.isNullAt(st.fieldIndex(s"mn_$c")) ||
      st.isNullAt(st.fieldIndex(s"mx_$c")))
    if (statless.nonEmpty) {
      // EMPTY input has no min/max anywhere — write the empty frame
      // as-is (nothing to cluster). But a non-empty frame with a
      // statless z column is a caller error (non-numeric type, or all
      // null/NaN/Inf cells): silently writing an UN-z-ordered layout
      // would defeat the function's whole purpose and only surface as
      // mysterious scan degradation much later — fail loudly instead.
      if (df.isEmpty) {
        df.write.mode("overwrite").parquet(path)
        return
      }
      throw new IllegalArgumentException(
        s"zorderWrite: z column(s) ${statless.mkString(", ")} have no finite numeric " +
          "values (non-numeric type, or every cell null/NaN/Infinity) — an unordered " +
          "write would silently defeat the layout; drop them from cols or clean the data")
    }
    val top = (1L << bits) - 1
    val scaled = cols.map { c =>
      val (mn, mx) = (st.getAs[Double](s"mn_$c"), st.getAs[Double](s"mx_$c"))
      if (mx <= mn) lit(0L)
      // NULL/NaN/±Inf cells scale to bucket 0 rather than nulling the
      // whole interleaved key (stranding those rows in one
      // un-clustered _z=null range) — and the per-row value goes
      // through the same clean() as the stats, or a NaN cell would
      // reach the ANSI double→long cast and fail the whole write
      else coalesce(
        least(lit(top), floor((clean(c) - mn) / (mx - mn) * top)).cast("long"),
        lit(0L))
    }
    df.withColumn("_z", zorderKey(scaled, bits))
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(path)
  }

  // ------------------------------- sharded shuffle write (q8b artifact)

  /** The training-pipeline artifact of q8b's deterministic shuffle:
    * the FULL corpus written as `numShards` range-partitioned parquet
    * files in one global order keyed by
    * [[graft.operators.TextAnalysis.shuffleKey]] — shard i's keys all
    * sort strictly before shard i+1's, rows sorted within each shard,
    * so a trainer streaming part-00000, part-00001, … reads exactly
    * the seed's permutation. `repartitionByRange` samples the key
    * distribution, so shards stay balanced for any seed and corpus
    * size; no task ever holds more than one shard — this scales out
    * where the q8b query form's TakeOrdered sample (top-50 probe)
    * deliberately does not write anything.
    */
  def shardedShuffleWrite(
      docs: DataFrame, seed: String, path: String, numShards: Int = 64): Unit =
    docs
      .withColumn("shuffle_key", graft.operators.TextAnalysis.shuffleKey(seed))
      .repartitionByRange(numShards, col("shuffle_key"))
      .sortWithinPartitions("shuffle_key")
      // the key is derivable (md5 of seed:doc_id) — leaving it in the
      // artifact would add 32 redundant bytes per row at corpus scale
      // and make the shard schema diverge from the corpus schema a
      // schema-strict trainer expects (zorderWrite drops its _z helper
      // for the same reason)
      .drop("shuffle_key")
      .write.mode("overwrite").parquet(path)
}

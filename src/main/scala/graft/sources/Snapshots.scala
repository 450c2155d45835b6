package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Versioned snapshot store: reproducible as-of reads over a mutable
  * warehouse (SURVEY §2.13).
  *
  * The reference warehouse sits on an immutable-database store, so
  * every query there is implicitly "as of transaction t" and re-running
  * a cohort count after new imports still reproduces the old answer.
  * graft gets the same property with a directory-versioning convention
  * (the public Delta/Iceberg idea reduced to its core):
  *
  * ```
  * <root>/_manifest.v<N>   self-contained manifest, publish-sequence
  *                         numbered (N tracks the data version while
  *                         every publish adds a line, but vacuum
  *                         publishes a TRIMMED manifest with no new
  *                         line), one line per live version:
  *                         "<version>\t<full|delta>\t<relative path>"
  * <root>/v1-…/ v2-…/ ...  parquet data per version
  * ```
  *
  * - `commit` writes a FULL snapshot (new base).
  * - `commitDelta` writes only changed/new rows (an incremental import
  *   batch — the reference's "import visit" shape). Optional boolean
  *   `_deleted` column marks tombstones.
  * - `asOf(version)` = latest full snapshot ≤ version, then the delta
  *   chain up to `version` applied key-wise, last writer wins.
  *
  * Scale: an as-of read leaves the full snapshot in place, and the
  * base keeps the rows whose key no delta since it touches. Small
  * delta chains (an incremental import's, up to about 200 KB) are read
  * and resolved last-writer-wins on the driver, and the base scan is
  * filtered by their keys: the read is one Spark job. Larger chains are read as one
  * scan (one per distinct schema), resolved by a window on the merge
  * key over the delta rows only, and anti-joined with the base. A
  * one-segment chain is the base scan alone. A periodic `compact`
  * turns a long chain back into a full snapshot. Manifests and data
  * files are immutable once written
  * (same as any log-structured table format): a commit publishes a NEW
  * `_manifest.v<N>` file and readers resolve the latest by listing, so
  * a reader concurrent with a commit sees the previous complete
  * manifest or the new complete one, never a partial or missing one.
  * The publish itself is a write-to-tmp then hard-link (local fs;
  * link(2) fails atomically on an existing destination) or
  * refuse-existing rename (HDFS-contract stores) — a single-winner
  * CAS when two writers race on the same version number; see
  * [[appendManifest]] for the exact protocol and its fallbacks.
  *
  * Each commit is assumed to carry at most one row per merge key (the
  * reference's import batches do). Duplicate keys within one delta tie
  * in the last-writer-wins rank and one of them survives; duplicate
  * keys within a full snapshot are not deduplicated — a read returns
  * every such row the deltas leave in place.
  */
object Snapshots {

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val ManifestName = "_manifest\\.v(\\d+)".r

  /** Highest manifest format this build reads/writes. 1 = 3/4-field
    * TSV lines; 2 = optional compact-JSON meta 5th field. The format
    * a store NEEDS is stamped in a `_format` sidecar before the first
    * manifest that requires it is published, so every marker-aware
    * reader that is too old for a store fails with a clear "upgrade
    * required" instead of a parse crash deep in the line splitter.
    * (Builds older than the marker itself still die in their own
    * 4-field split on a meta line — that flag day is behind us and
    * documented on [[manifestState]]; the marker closes the SAME trap
    * for every format bump from now on.) Absent marker = format 1,
    * so meta-less stores never churn a sidecar write.
    */
  private val SupportedManifestFormat = 2
  private val FormatMarkerName = "_format"

  private def storedFormat(f: FileSystem, root: String): Option[Int] = {
    val p = new Path(root, FormatMarkerName)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      // an unparseable marker is itself a format we don't know —
      // refuse with the upgrade message, never guess
      raw.toIntOption.orElse(throw new IllegalStateException(
        s"snapshot store $root carries format marker '$raw' this build cannot " +
          s"parse (it reads formats <= $SupportedManifestFormat) — upgrade the " +
          "reader before opening this store"))
    }
  }

  /** Stamp `needed` into the `_format` marker when the store's stamp
    * is lower (monotone — a rollback of the WRITER never downgrades
    * the marker out from under data that still needs it). Tmp+rename
    * so no reader sees a half-written marker; concurrent stampers
    * write identical bytes, so whoever wins is right.
    */
  private def stampFormat(f: FileSystem, root: String, needed: Int): Unit = {
    if (storedFormat(f, root).getOrElse(1) >= needed) return
    val dest = new Path(root, FormatMarkerName)
    val tmp = new Path(root,
      s"$FormatMarkerName.tmp-${java.util.UUID.randomUUID.toString.take(8)}")
    val out = f.create(tmp, true)
    try out.write(needed.toString.getBytes("UTF-8")) finally out.close()
    val qualified = f.makeQualified(dest)
    if (qualified.toUri.getScheme == "file") {
      // atomic replace on posix; markers are monotone so replacing a
      // concurrent stamper's identical (or lower) value is harmless
      java.nio.file.Files.move(
        java.nio.file.Paths.get(f.makeQualified(tmp).toUri),
        java.nio.file.Paths.get(qualified.toUri),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    } else {
      f.delete(dest, false)
      if (!f.rename(tmp, dest)) { f.delete(tmp, false); () }
    }
  }

  /** Newest committed manifest as (file number, path), if any.
    * Immutable files + list-latest means a concurrent commit can never
    * leave a reader with a partial or missing manifest. The FILE
    * number is the publish sequence — it usually tracks the data
    * version (one manifest per commit) but advances independently:
    * [[vacuum]] publishes a trimmed manifest with no new data line.
    */
  private def latestManifest(f: FileSystem, root: String): Option[(Long, Path)] = {
    val dir = new Path(root)
    if (!f.exists(dir)) return None
    f.listStatus(dir).toSeq
      .flatMap(st => st.getPath.getName match {
        case ManifestName(v) => Some((v.toLong, st.getPath))
        case _ => None
      })
      .sortBy(_._1).lastOption
  }

  /** One consistent read of the store's metadata: the latest manifest
    * FILE number together with the lines it carries. Every publish
    * decision (what the next file number is, whether a version is
    * already taken, what a vacuum retains) must come from ONE such
    * read — mixing a fresh file listing with stale lines is exactly
    * the lost-trim/lost-delta window the publish CAS exists to close.
    *
    * A line is (version, kind, relative path, commit epoch-millis,
    * provenance meta). The timestamp is the committer's WALL CLOCK at
    * publish time — advisory, for [[versionAt]]'s instant→version
    * resolution; -1 on lines inherited from manifests written before
    * the field existed (old 3-field TSV lines stay readable forever).
    * `meta` is caller-supplied commit provenance (who imported, which
    * batch, why — the transaction-entity facts of an immutable store),
    * rendered as a compact-JSON 5th field whose escaping keeps the
    * TSV line intact; 3- and 4-field lines read back with empty meta.
    *
    * Compatibility is BACKWARD only: this reader accepts every older
    * line form forever, but a manifest holding a meta-carrying line
    * is not readable by pre-meta reader builds (their 4-field split
    * binds `ts` to "ts\tjson" and dies in toLong). On a store shared
    * with older binaries — or one that may be read after a rollback —
    * don't pass `meta` until every reader is upgraded; meta-less
    * commits keep writing the old wire form exactly. Writers stamp a
    * `_format` marker before the first meta-carrying manifest, so
    * every marker-aware build that is still too old for a FUTURE
    * format fails with a clear "upgrade required" (see
    * [[SupportedManifestFormat]]) instead of a line-splitter crash.
    */
  private[graft] final case class ManifestLine(
      v: Long, kind: String, rel: String, ts: Long, meta: Map[String, String])

  private[graft] final case class ManifestState(
      fileNum: Long, lines: Seq[ManifestLine]) {
    /** (version, kind, path) entries, version-ascending. */
    def versions: Seq[(Long, String, String)] = lines.map(l => (l.v, l.kind, l.rel))
  }

  private def parseMeta(raw: String, mp: Path): Map[String, String] =
    org.json4s.jackson.JsonMethods.parse(raw) match {
      case o: org.json4s.JObject => o.obj.map {
        case (k, org.json4s.JString(s)) => k -> s
        case (k, other) => throw new IllegalStateException(
          s"manifest meta value for '$k' in $mp is not a string: $other")
      }.toMap
      case other => throw new IllegalStateException(
        s"manifest meta field in $mp is not a JSON object: $other")
    }

  private[graft] def manifestState(spark: SparkSession, root: String): ManifestState = {
    val f = fs(spark, root)
    // the format gate runs BEFORE any line is parsed: a store from a
    // newer build fails here with the remedy, not in the splitter
    storedFormat(f, root).filter(_ > SupportedManifestFormat).foreach { n =>
      throw new IllegalStateException(
        s"snapshot store $root is format $n but this build reads formats " +
          s"<= $SupportedManifestFormat — upgrade the reader before opening it")
    }
    latestManifest(f, root) match {
      case None => ManifestState(0L, Seq.empty)
      case Some((n, mp)) =>
        val in = f.open(mp)
        val text =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val lines = text.linesIterator.filter(_.nonEmpty).map { line =>
          line.split("\t", 5) match {
            case Array(v, kind, path, ts, meta) =>
              ManifestLine(v.toLong, kind, path, ts.toLong, parseMeta(meta, mp))
            case Array(v, kind, path, ts) => ManifestLine(v.toLong, kind, path, ts.toLong, Map.empty)
            case Array(v, kind, path)     => ManifestLine(v.toLong, kind, path, -1L, Map.empty)
            case other => throw new IllegalStateException(
              s"malformed manifest line in $mp: '${other.mkString("\\t")}'")
          }
        }.toSeq.sortBy(_.v)
        ManifestState(n, lines)
    }
  }

  /** (version, kind, path) entries, version-ascending. */
  def versions(spark: SparkSession, root: String): Seq[(Long, String, String)] =
    manifestState(spark, root).versions

  /** [[versions]] plus each line's commit wall-time (epoch millis;
    * -1 when the line predates the timestamp field).
    */
  def versionsWithTimes(spark: SparkSession, root: String): Seq[(Long, String, String, Long)] =
    manifestState(spark, root).lines.map(l => (l.v, l.kind, l.rel, l.ts))

  /** [[versionsWithTimes]] plus each commit's provenance meta — the
    * caller-supplied facts ([[commit]]/[[commitDelta]]/[[compact]]'s
    * `meta`) that answer "which import job wrote this version";
    * empty on lines that predate the field or carried none.
    */
  def versionsWithMeta(
      spark: SparkSession, root: String): Seq[(Long, String, String, Long, Map[String, String])] =
    manifestState(spark, root).lines.map(l => (l.v, l.kind, l.rel, l.ts, l.meta))

  /** `private[graft]` is a test seam: the two-writer race spec drives
    * the publish step directly to interleave two writers that both
    * observed the same next version.
    *
    * Two staleness guards, both loud: (1) the requested data version
    * already appearing in a fresh read of the lines means the caller's
    * version observation lost a race to a concurrent commit; (2) the
    * manifest-file link CAS in [[publishAt]] catches a publish that
    * lands between this function's own read and its link — including a
    * concurrent [[vacuum]], whose trimmed lines this append must not
    * clobber with its stale pre-trim copy (that would resurrect
    * manifest entries for segments the vacuum already deleted).
    */
  private[graft] def appendManifest(
      spark: SparkSession, root: String, version: Long, kind: String, rel: String): Unit = {
    val st = manifestState(spark, root)
    if (st.lines.exists(_.v >= version))
      throw new IllegalStateException(
        s"manifest publish race: v$version already committed in $root")
    publishAt(spark, root, st.fileNum + 1,
      st.lines :+ ManifestLine(version, kind, rel, System.currentTimeMillis(), Map.empty))
  }

  /** Publish `entries` as manifest file `_manifest.v<fileNum>` — the
    * single-winner CAS every manifest mutation goes through. Throws
    * IllegalStateException("manifest publish race…") when that file
    * number is already taken, i.e. ANY publish landed after the
    * [[manifestState]] read that produced `fileNum`. A line whose
    * commit time is unknown (-1, inherited from a pre-timestamp
    * manifest) is re-published in the old 3-field form — re-stamping
    * it with "now" would lie to [[versionAt]].
    */
  private def publishAt(
      spark: SparkSession, root: String, fileNum: Long,
      entries: Seq[ManifestLine]): Unit = {
    val f = fs(spark, root)
    val lines = entries
      .map { l =>
        // compact JSON escapes tabs/newlines inside values, so the
        // TSV line stays one line with exactly its field count
        val metaField =
          if (l.meta.isEmpty) ""
          else "\t" + org.json4s.jackson.JsonMethods.compact(
            org.json4s.JObject(l.meta.toList.sortBy(_._1)
              .map { case (k, v) => k -> (org.json4s.JString(v): org.json4s.JValue) }))
        if (l.ts >= 0 || l.meta.nonEmpty) s"${l.v}\t${l.kind}\t${l.rel}\t${l.ts}$metaField"
        else s"${l.v}\t${l.kind}\t${l.rel}"
      }
      .mkString("", "\n", "\n")
    // marker BEFORE manifest: any reader that can list the new
    // manifest can already see the format it needs (meta-less
    // manifests stay format 1 — no marker, no churn)
    if (entries.exists(_.meta.nonEmpty)) stampFormat(f, root, 2)
    // write-to-tmp-then-rename: a created-but-unwritten manifest must
    // never be listable under its final name (a reader between create
    // and close would see an empty store). The ManifestName pattern
    // matches whole names only, so readers skip the .tmp file. Rename
    // refuses an existing destination, which keeps the same-version
    // writer race a loud failure instead of a lost commit.
    val tmp = new Path(root, s"_manifest.v$fileNum.tmp-${java.util.UUID.randomUUID.toString.take(8)}")
    val out = f.create(tmp, true)
    try out.write(lines.getBytes("UTF-8")) finally out.close()
    val dest = new Path(root, s"_manifest.v$fileNum")
    val qualified = f.makeQualified(dest)
    // HDFS (and object-store committers with a rename contract):
    // rename refuses an existing destination atomically, which keeps
    // the same-version writer race a loud failure, not a lost commit.
    // Also the fallback for file: mounts without hard-link support.
    def renamePublish(): Unit =
      if (f.exists(dest) || !f.rename(tmp, dest)) {
        f.delete(tmp, false)
        throw new IllegalStateException(
          s"manifest publish race: manifest file v$fileNum already published in $root")
      }
    if (qualified.toUri.getScheme == "file") {
      // posix rename REPLACES an existing destination, so
      // exists-then-rename has a lost-commit window under two
      // same-version writers. link(2) is the local-fs CAS: creating a
      // hard link fails atomically when the destination exists.
      val destNio = java.nio.file.Paths.get(qualified.toUri)
      val tmpNio = java.nio.file.Paths.get(f.makeQualified(tmp).toUri)
      try {
        java.nio.file.Files.createLink(destNio, tmpNio)
        f.delete(tmp, false)
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          f.delete(tmp, false)
          throw new IllegalStateException(
            s"manifest publish race: manifest file v$fileNum already published in $root")
        case e @ (_: UnsupportedOperationException | _: java.nio.file.FileSystemException) =>
          // Distinguish "this mount can't hard-link" (FAT, some
          // CIFS/fuse) from a genuine failure (quota, access, IO)
          // WITHOUT parsing strerror text — NIO's exception reasons
          // are locale-dependent, so string-matching "not supported"
          // breaks on any non-English JVM. Probe instead: link the
          // tmp file to a throwaway sibling. Probe fails → links
          // don't work here → degrade to the rename CAS (non-atomic
          // there, but the store keeps working where the old publish
          // worked). Probe succeeds → links DO work and the original
          // failure was real — propagate loudly rather than silently
          // reopening the lost-commit race link(2) exists to close.
          val probe = java.nio.file.Paths.get(f.makeQualified(new Path(root,
            s".linkprobe-${java.util.UUID.randomUUID.toString.take(8)}")).toUri)
          val linksWork =
            try {
              java.nio.file.Files.createLink(probe, tmpNio)
              // the LINK is the capability evidence — a failed cleanup
              // of the probe file must not be misread as "links don't
              // work" (that would silently downgrade to the racy
              // rename publish on a mount where linking works)
              try java.nio.file.Files.delete(probe)
              catch { case scala.util.control.NonFatal(_) => () }
              true
            } catch { case scala.util.control.NonFatal(_) => false }
          if (linksWork) { f.delete(tmp, false); throw e }
          else renamePublish()
      }
    } else renamePublish()
  }

  /** Normalize the tombstone column: an absent `_deleted` column, or a
    * NULL in a nullable one, both mean "live row" — a bare `!_deleted`
    * would null out and drop upserts whose flag was never set.
    */
  private[graft] def normDeleted(df: DataFrame): DataFrame =
    if (df.columns.contains("_deleted"))
      df.withColumn("_deleted", coalesce(col("_deleted"), lit(false)))
    else df.withColumn("_deleted", lit(false))

  /** Last-writer-wins resolution: keep the row with the highest
    * `prioCol` per key, drop tombstones. ONE shuffle on `keys` over
    * every row it is given — so the store merge ([[mergeChain]]) hands
    * it the delta rows only, and [[graft.operators.Warehouse.merge]]
    * the target and its update batch.
    */
  private[graft] def lastWriterWins(
      merged: DataFrame, keys: Seq[String], prioCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(prioCol).desc)
    merged
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && !col("_deleted"))
      .drop("_rn", prioCol, "_deleted")
  }

  /** THE merge of every store read: `base ⋉̸ keys(deltas) ∪
    * lastWriterWins(deltas)`. `base` is a full snapshot or merged view
    * (its tombstones are dropped, its rows are not deduplicated); the
    * deltas' rows are resolved per key, compared null-safely on every
    * merge key, to the row of the highest version, tombstones dropped;
    * a base row survives unless some delta row — a tombstone too — has
    * its key, so a NULL key is superseded like any other.
    *
    * The merge has two physical forms, chosen by [[mergeSegments]]:
    * - this one, distributed: `deltas` are normalized ([[normDeleted]])
    *   rows carrying their version in `_v`, ranked by a window over the
    *   delta rows only; the base anti-joins the delta keys with `<=>`.
    *   The join carries no hint: Spark broadcasts the delta keys when
    *   they are small (AQE re-plans on their measured size) and
    *   shuffles both sides otherwise. Large chains, `withBatch`'s
    *   DataFrame batch, and keys without exact equality take it;
    * - [[mergeOnDriver]], for small chains: the deltas are resolved on
    *   the driver and the base is filtered by their keys, so the read
    *   is one Spark job, the base scan.
    *
    * With no deltas the base is returned as it is, with no merge; with
    * no base the deltas' resolution is the whole answer.
    */
  private def mergeChain(
      base: Option[DataFrame], deltas: Option[DataFrame], keys: Seq[String]): DataFrame =
    (base.map(liveBase), deltas) match {
      case (Some(b), None) => b
      case (None, Some(d)) => lastWriterWins(d, keys, "_v")
      case (Some(b), Some(d)) =>
        val touched = d.select(keys.zipWithIndex.map { case (k, i) => col(k).as(s"_mk$i") }: _*)
        val kept = b.join(touched,
          keys.zipWithIndex.map { case (k, i) => col(k) <=> col(s"_mk$i") }.reduce(_ && _), "left_anti")
        kept.unionByName(lastWriterWins(d, keys, "_v"), allowMissingColumns = true)
      case (None, None) => throw new IllegalArgumentException("a merge needs a base or a delta")
    }

  /** A merge base without its tombstones. */
  private def liveBase(b: DataFrame): DataFrame =
    if (b.columns.contains("_deleted")) normDeleted(b).filter(!col("_deleted")).drop("_deleted")
    else b

  /** [[mergeChain]] over stored segments: `base` (a full snapshot) and
    * `deltas` (later delta segments, version-ascending), each read
    * with `bound` applied when given. A merge key's bound cannot change
    * which row of a surviving key wins, so it prunes the base scan and
    * the deltas, below the merge or on its resolved rows alike. A
    * segment lacking a merge key column is refused by name: merged
    * under a NULL key it would corrupt last-writer-wins silently.
    *
    * The deltas are resolved on the driver ([[mergeOnDriver]]) when
    * both hold:
    * - their data files total at most `spark.sql.autoBroadcastJoinThreshold`
    *   bytes, Spark's own "small enough to ship whole" (a value ≤ 0
    *   disables the driver form), and at most [[driverMergeMaxBytes]],
    *   the measured size past which the driver form stops paying
    *   (200 KB on one key). The sizes come with the footer schemas
    *   ([[Sources.parquetSchemaAndBytes]]): choosing lists nothing more;
    * - every merge key has exact equality: an integral, string (binary
    *   collation), boolean, date, timestamp or decimal type, the same
    *   in the deltas as in the base.
    * Otherwise — float, double, binary or complex keys, and chains over
    * either bound — the merge is the distributed [[mergeChain]].
    */
  private def mergeSegments(
      spark: SparkSession, root: String, base: Option[(Long, String, String)],
      deltas: Seq[(Long, String, String)], keys: Seq[String],
      bound: Option[Column] = None): DataFrame = {
    def bounded(df: DataFrame): DataFrame = bound.fold(df)(df.filter)
    val b = base.map { case (v, _, rel) =>
      val seg = Sources.readParquet(spark, s"$root/$rel")
      checkKeys(root, keys, v, seg.columns.toIndexedSeq)
      bounded(seg)
    }
    val dirs = deltas.map { case (v, _, rel) => s"$root/$rel" -> v }
    val shapes = dirs.map { case (d, v) =>
      val (s, bytes) = Sources.parquetSchemaAndBytes(spark, d)
      checkKeys(root, keys, v, s.fieldNames.toIndexedSeq)
      (s.toNullable, bytes)
    }
    if (dirs.isEmpty) mergeChain(b, None, keys)
    else {
      val union = byNameUnion(spark, shapes.map(_._1).distinct)
      if (resolvesOnDriver(spark, shapes.map(_._2).sum, union, keys, b))
        mergeOnDriver(spark, b, dirs.map(_._1), union, keys, bound)
      else mergeChain(b, Some(normDeleted(bounded(Sources.readParquetTagged(spark, dirs, "_v")))), keys)
    }
  }

  /** Refuse segment `v` of `root` unless its columns `cols` hold every
    * merge key: merged under a NULL key it would corrupt
    * last-writer-wins silently.
    */
  private def checkKeys(root: String, keys: Seq[String], v: Long, cols: Seq[String]): Unit = {
    val missingKeys = keys.filterNot(cols.contains)
    if (missingKeys.nonEmpty) throw new IllegalStateException(
      s"segment v$v of $root lacks merge key column(s) ${missingKeys.mkString(", ")} " +
        "— the store cannot be merge-read on these keys")
  }

  /** The schema a by-name union (`unionByName`, missing columns
    * allowed) of frames of `schemas` has, without reading any.
    */
  private def byNameUnion(spark: SparkSession, schemas: Seq[StructType]): StructType =
    if (schemas.size == 1) schemas.head
    else schemas.map(s => spark.createDataFrame(java.util.Collections.emptyList[Row](), s))
      .reduce(_.unionByName(_, allowMissingColumns = true)).schema

  /** The schema of [[mergeSegments]]' answer over the segments `segs`
    * (base first), from their footer schemas alone — no scan and no
    * merge runs: the base's columns, then the columns only deltas hold,
    * each typed as the by-name union types it, tombstone flag dropped.
    * Every segment is checked to hold the merge keys.
    */
  private def mergedSchema(spark: SparkSession, root: String, segs: Seq[(Long, String, String)],
      keys: Seq[String]): StructType =
    byNameUnion(spark, segs.map { case (v, _, rel) =>
      val s = Sources.parquetSchema(spark, s"$root/$rel")
      checkKeys(root, keys, v, s.fieldNames.toIndexedSeq)
      StructType(s.toNullable.filterNot(_.name == "_deleted"))
    }.distinct)

  /** Whether [[mergeSegments]] resolves deltas of `deltaBytes` data
    * bytes, of the by-name union schema `union`, on the driver: the
    * bytes are at most both `spark.sql.autoBroadcastJoinThreshold` and
    * [[driverMergeMaxBytes]] of the key count, and every merge key has
    * an exact-equality type, the base's too.
    */
  private def resolvesOnDriver(spark: SparkSession, deltaBytes: Long, union: StructType,
      keys: Seq[String], base: Option[DataFrame]): Boolean = {
    val limit = spark.sessionState.conf.autoBroadcastJoinThreshold
    val resolver = spark.sessionState.conf.resolver
    def typeOf(s: StructType, k: String) = s.fields.find(f => resolver(f.name, k)).map(_.dataType)
    def exact(t: DataType): Boolean = t match {
      case ByteType | ShortType | IntegerType | LongType | BooleanType | DateType | TimestampType |
          TimestampNTZType | _: DecimalType => true
      case s: StringType => s.collationId == StringType.collationId
      case _ => false
    }
    limit > 0 && deltaBytes <= limit && deltaBytes <= driverMergeMaxBytes(keys.size) &&
      keys.forall { k =>
        val t = typeOf(union, k)
        t.exists(exact) && base.forall(b => typeOf(b.schema, k) == t)
      }
  }

  /** The driver form of [[mergeChain]], for a small chain. The deltas
    * in `dirs` (version-ascending) are read on the driver, each in its
    * own schema aligned by name to `union` ([[Sources.parquetRows]]),
    * and resolved there: per key, null-safe on every merge key, the row
    * of the highest version wins; a tombstone (`_deleted`, NULL meaning
    * false) then drops it. The winners become a local frame, filtered
    * by `bound` as the base is. The base keeps a row unless its key is
    * one of the delta keys, tombstoned ones included, compared
    * null-safely as `<=>` does: a NULL delta key supersedes the NULL-key
    * base rows. The test is one function (`delta_key`) over a hashed
    * set of the delta keys, not one literal per key, whose analysis and
    * planning grow with the chain: on one key, the key's value, NULL a
    * member like any other; on several, the struct of the keys, whose
    * row equality is null-safe. A filter, not a join: the plan is the
    * base scan beside a LocalTableScan, with no exchange and no window.
    */
  private def mergeOnDriver(spark: SparkSession, base: Option[DataFrame], dirs: Seq[String],
      union: StructType, keys: Seq[String], bound: Option[Column]): DataFrame = {
    val resolver = spark.sessionState.conf.resolver
    val keyAt = keys.map(k => union.fields.indexWhere(f => resolver(f.name, k)))
    val keyTypes = keyAt.map(union(_).dataType)
    val deletedAt = union.fieldNames.indexOf("_deleted")
    val last = scala.collection.mutable.LinkedHashMap.empty[Seq[Any], InternalRow]
    Sources.parquetRows(spark, dirs, union).foreach { r =>
      last(keyAt.zip(keyTypes).map { case (i, t) => r.get(i, t) }) = r
    }
    val toRow = CatalystTypeConverters.createToScalaConverter(union)
    val live = last.valuesIterator
      .filter(r => deletedAt < 0 || r.isNullAt(deletedAt) || !r.getBoolean(deletedAt))
      .map(toRow(_).asInstanceOf[Row]).toSeq
    val winners = spark.createDataFrame(live.asJava, union).drop("_deleted")
    val resolved = bound.fold(winners)(winners.filter)
    base.map(liveBase) match {
      case None => resolved
      case Some(b) if last.isEmpty => b.unionByName(resolved, allowMissingColumns = true)
      case Some(b) =>
        // one key: the key itself, NULL a member like any value; several:
        // the struct of the keys, a Row whose equality is null-safe
        val (probe, probeType, tuples) =
          if (keys.size == 1) (col(keys.head), keyTypes.head, last.keysIterator.map(_.head))
          else (struct(keys.map(col): _*), StructType(keys.lazyZip(keyTypes).map(StructField(_, _))),
            last.keysIterator.map(k => new GenericInternalRow(k.toArray): Any))
        val toScala = CatalystTypeConverters.createToScalaConverter(probeType)
        val touched = tuples.map(toScala).toSet
        val hit = udf(new UDF1[Any, Boolean] { def call(k: Any): Boolean = touched.contains(k) },
          BooleanType).withName("delta_key")(probe)
        b.filter(!hit).unionByName(resolved, allowMissingColumns = true)
    }
  }

  /** The most delta bytes [[mergeOnDriver]] resolves: 200 000 on one
    * merge key, that over the key count on several. Past it the
    * driver's work per delta row (reading and resolving it, shipping it
    * and its key to every task, converting each base key to probe the
    * set) costs more than the distributed form's two extra jobs.
    * Measured by `OptProbe asof <rows>...` (one delta over sf0.1
    * `orders`, local[4] on a 4-core machine, p50 of 7): the forms cross
    * between 10k and 20k delta rows (186–340 KB) on one key and between
    * 5k and 10k rows (71–186 KB) on two, wide rows or narrow.
    */
  private[graft] def driverMergeMaxBytes(keyCount: Int): Long =
    driverMergeCap.value.getOrElse(200000L / keyCount)

  private val driverMergeCap = new scala.util.DynamicVariable[Option[Long]](None)

  /** Test seam: `body` with [[driverMergeMaxBytes]] set to `bytes`
    * whatever the key count, on this thread.
    */
  private[graft] def withDriverMergeCap[T](bytes: Long)(body: => T): T =
    driverMergeCap.withValue(Some(bytes))(body)

  /** The segments an as-of read of `version` merges: the latest full
    * snapshot at or below it and the deltas after that, up to it.
    */
  private def chainAt(spark: SparkSession, root: String, version: Long)
      : ((Long, String, String), Seq[(Long, String, String)]) = {
    val all = versions(spark, root).filter(_._1 <= version)
    require(all.nonEmpty, s"no version <= $version in $root")
    val base = all.filter(_._2 == "full").lastOption
      .getOrElse(throw new IllegalStateException(s"no full snapshot <= $version in $root"))
    (base, all.filter(_._1 > base._1))
  }

  private[graft] def nextVersion(spark: SparkSession, root: String): Long =
    versions(spark, root).lastOption.map(_._1 + 1).getOrElse(1L)

  /** Write data under an attempt-unique directory, then publish it via
    * the manifest. The manifest is the ONLY source of truth: a crash
    * between the data write and the manifest append leaves an orphan
    * directory that no reader ever sees and a retry starts from a
    * fresh name — a deterministic `v<N>` data path would instead wedge
    * every retry on errorifexists (the standard log-structured-table
    * fix: unique file names, atomic manifest publish).
    */
  private def writeAndPublish(
      df: DataFrame, root: String, kind: String, maxAttempts: Int = 1,
      expectedVersion: Option[Long] = None, statsCols: Seq[String] = Nil,
      meta: Map[String, String] = Map.empty, bloomCols: Seq[String] = Nil): Long = {
    val spark = df.sparkSession
    // ONE manifest read serves the dir naming AND the first publish
    // attempt (this path is the streaming sinks' per-micro-batch hot
    // loop — the old shape re-listed and re-parsed the manifest three
    // times per commit, the exact anti-pattern readChain's comment
    // calls out); only a lost CAS pays a fresh read for its retry.
    var st = manifestState(spark, root)
    def next(s: ManifestState): Long = s.lines.lastOption.map(_.v + 1).getOrElse(1L)
    // staleness pin for content computed from a chain read (compact):
    // the CAS alone only detects a SAME-version collision — a commit
    // that landed between the fold's chain read and this publish just
    // bumps nextVersion past it, and the fold would supersede rows it
    // never contained. With the expected version pinned, any
    // intervening commit makes this a loud failure instead — checked
    // before the write too, so a fold already stale here writes
    // nothing. (A commit racing our own pre-write read surfaces the
    // same way: the publish CAS below fails and the retry re-reads.)
    def checkPin(v: Long): Unit = expectedVersion.foreach { ev =>
      if (v != ev) throw new IllegalStateException(
        s"stale fold: expected to publish v$ev but the store is at v${v - 1} " +
          s"— a commit landed after the chain read; re-run the fold over the new chain")
    }
    checkPin(next(st))
    val rel = s"v${next(st)}-${java.util.UUID.randomUUID.toString.take(8)}"
    validateStatsCols(df, statsCols) // BEFORE the write — a typo'd column must not cost a corpus write
    validateBloomCols(df, bloomCols)
    df.write.mode("errorifexists").parquet(s"$root/$rel")
    // sidecars BEFORE publish: a crash here leaves an unreferenced
    // dir for the orphan sweep, never a referenced segment with
    // half-written stats or blooms
    if (statsCols.nonEmpty) writeStatsSidecar(df, root, rel, statsCols)
    if (bloomCols.nonEmpty) writeBloomSidecar(df, root, rel, bloomCols)
    // the data dir is written ONCE; only the manifest publish retries
    // (losing the CAS re-reads the chain and re-publishes the same
    // segment under the next version — the dir name keeps the first
    // attempt's version, which is cosmetic: the manifest is the only
    // source of truth for version → path)
    var attempt = 0
    while (true) {
      attempt += 1
      val v = next(st)
      checkPin(v)
      try {
        publishAt(spark, root, st.fileNum + 1,
          st.lines :+ ManifestLine(v, kind, rel, System.currentTimeMillis(), meta))
        return v
      }
      catch {
        case e: IllegalStateException
          if e.getMessage != null && e.getMessage.contains("manifest publish race")
            && attempt < maxAttempts => st = manifestState(spark, root)
      }
    }
    -1L // unreachable
  }

  /** Commit a full snapshot; returns the new version number. A full
    * snapshot legitimately REDEFINES the schema (it starts a new merge
    * base), so no drift validation applies — but it refreshes the
    * delta-validation memo so the next delta is checked against it.
    *
    * `meta` is commit provenance — caller-supplied facts about the
    * transaction itself (who imported, which batch/job, why), the
    * reference store's facts-on-the-transaction-entity idea: stored
    * on the manifest line, surfaced by [[versionsWithMeta]],
    * [[history]]'s `commit_meta` column, and the serving layer's
    * /store/versions, so "which import wrote v7" is answerable
    * forever without a side channel.
    */
  def commit(df: DataFrame, root: String, statsCols: Seq[String] = Nil,
      meta: Map[String, String] = Map.empty, bloomCols: Seq[String] = Nil): Long = {
    val v = writeAndPublish(df, root, "full", statsCols = statsCols, meta = meta,
      bloomCols = bloomCols)
    validatedDeltaCols.put(root, (v, schemaCols(df.columns.toIndexedSeq)))
    v
  }

  /** Per-root memo of (tip version, column set) at the last commit
    * that passed schema validation — commits whose column set matches
    * the memo AT THE SAME TIP skip the tip footer read, so the
    * streaming sinks' per-micro-batch commit path pays the check
    * once, not per batch. Keyed on the tip version so a commit
    * published by ANOTHER process (evolving or not) re-arms the
    * check: its publish bumps the tip past the memoized version, the
    * memo misses, and the next unflagged delta reads the real tip
    * footer instead of trusting this JVM's stale column set forever.
    */
  private[graft] val validatedDeltaCols =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Set[String])]()

  /** Columns relevant to schema-drift comparison: the `_deleted`
    * tombstone marker is an optional per-batch annotation (normalized
    * at read), never schema drift.
    */
  private def schemaCols(cols: Seq[String]): Set[String] =
    cols.toSet - "_deleted"

  /** Commit an incremental batch: upserts keyed by the read-time merge
    * key; rows with a true `_deleted` column are tombstones.
    *
    * Schema evolution is INTENTIONAL or refused: by default a delta
    * whose column set differs from the store's tip segment fails
    * loudly (the classic silent-corruption path is a producer renaming
    * a column — a permissive union would null-fill BOTH names forever).
    * Pass `evolveSchema = true` to commit an additive/narrowed batch;
    * reads union by name with null-fill for segments that predate (or
    * postdate) a column. Merge-key columns can never be dropped —
    * [[asOf]] refuses a segment missing one at read time.
    */
  def commitDelta(
      df: DataFrame, root: String, evolveSchema: Boolean = false,
      statsCols: Seq[String] = Nil, meta: Map[String, String] = Map.empty,
      bloomCols: Seq[String] = Nil): Long = {
    if (!evolveSchema) validateDeltaSchema(df, root)
    val v = writeAndPublish(df, root, "delta", statsCols = statsCols, meta = meta,
      bloomCols = bloomCols)
    validatedDeltaCols.put(root, (v, schemaCols(df.columns.toIndexedSeq)))
    v
  }

  /** Anti-typo validation, advisory under concurrency: a concurrent
    * evolving commit can land between this check and the publish, so
    * the chain can legitimately hold mixed schemas even though every
    * committer individually validated — which is exactly why the READ
    * side null-fills instead of trusting the chain to be uniform.
    */
  private def validateDeltaSchema(df: DataFrame, root: String): Unit = {
    val cols = schemaCols(df.columns.toIndexedSeq)
    manifestState(df.sparkSession, root).lines.lastOption.foreach { case ManifestLine(v, _, rel, _, _) =>
      if (validatedDeltaCols.get(root) == (v, cols)) return
      val tip = schemaCols(Sources.readParquet(df.sparkSession, s"$root/$rel").columns.toIndexedSeq)
      if (cols != tip) {
        val added = (cols -- tip).toSeq.sorted
        val missing = (tip -- cols).toSeq.sorted
        throw new IllegalArgumentException(
          s"delta schema drifts from the tip segment (v$v) of $root — " +
            (if (added.nonEmpty) s"new column(s) ${added.mkString(", ")}; " else "") +
            (if (missing.nonEmpty) s"missing column(s) ${missing.mkString(", ")}; " else "") +
            "pass evolveSchema = true to commit an intentional schema change " +
            "(reads null-fill segments that lack a column), or fix the producer")
      }
    }
  }

  /** [[commitDelta]] with a bounded optimistic-concurrency retry on
    * the manifest-publish race — for appends whose CONTENT is
    * independent of the version they land at (the streaming ingest
    * sinks' keeper/band commits): losing the publish CAS to a
    * concurrent writer (e.g. an operational [[compact]] on the live
    * store) re-publishes the already-written segment under the next
    * version instead of killing the streaming query. NOT for
    * [[compact]]-style folds: a fold computed before the race must be
    * RECOMPUTED after it (blind re-publish would silently drop the
    * delta that won), so compact keeps the loud failure — just re-run
    * it.
    */
  def commitDeltaRetrying(
      df: DataFrame, root: String, maxAttempts: Int = 8,
      evolveSchema: Boolean = false, statsCols: Seq[String] = Nil,
      meta: Map[String, String] = Map.empty, bloomCols: Seq[String] = Nil): Long = {
    if (!evolveSchema) validateDeltaSchema(df, root)
    val v = writeAndPublish(df, root, "delta", maxAttempts, statsCols = statsCols,
      meta = meta, bloomCols = bloomCols)
    validatedDeltaCols.put(root, (v, schemaCols(df.columns.toIndexedSeq)))
    v
  }

  /** Read the table as of `version` (reproducible forever): base = the
    * latest full snapshot ≤ version, then deltas (base, version]
    * merged last-writer-wins on `keys`, tombstones dropped
    * ([[mergeChain]]: the base is scanned in place and keeps the rows
    * whose key no delta holds; a small chain resolves on the driver,
    * a larger one ranks only the delta rows). An evolved chain
    * (a delta that added or narrowed columns via
    * `commitDelta(evolveSchema = true)`) reads with the union schema,
    * absent cells null — commit-side validation is what keeps
    * accidental drift out of the chain.
    */
  def asOf(spark: SparkSession, root: String, version: Long, keys: Seq[String]): DataFrame = {
    val (base, deltas) = chainAt(spark, root, version)
    mergeSegments(spark, root, Some(base), deltas, keys)
  }

  /** Speculative import — the reference's `db.with` twin: the merged
    * view of the store AS IF `batch` were committed as the next
    * delta, WITHOUT writing or publishing anything. What-if analysis
    * for an import batch (preview cohort counts, row deltas, quality
    * checks) before [[commitDelta]] makes it permanent; nothing this
    * returns is ever visible to other readers, and the manifest is
    * not touched — the only filesystem access is the read side.
    *
    * Exact commit parity, by construction: the overlay is the store's
    * own [[mergeChain]] with the CURRENT merged view as the base and the
    * normalized batch as the only delta — batch rows supersede stored
    * rows per key, batch tombstones retract them, within-batch
    * duplicate keys resolve exactly as a committed delta would. The
    * schema-drift gate also matches commit: an unflagged drifting
    * batch is refused with the same loud error; `evolveSchema = true`
    * previews the evolved union schema null-filled. An EMPTY store previews the batch as
    * the whole table (what committing it would make true).
    */
  def withBatch(
      spark: SparkSession, root: String, batch: DataFrame, keys: Seq[String],
      evolveSchema: Boolean = false): DataFrame = {
    val missingKeys = keys.filterNot(batch.columns.contains)
    require(missingKeys.isEmpty,
      s"speculative batch lacks merge key column(s) ${missingKeys.mkString(", ")}")
    val b = normDeleted(batch).withColumn("_v", lit(1L))
    if (versions(spark, root).isEmpty) mergeChain(None, Some(b), keys)
    else {
      if (!evolveSchema) validateDeltaSchema(batch, root)
      mergeChain(Some(latest(spark, root, keys)), Some(b), keys)
    }
  }

  /** Resolve an instant to the store version visible at that time:
    * the LATEST version whose recorded commit wall-time is ≤ `tsMs`
    * (the reference store's `as-of` takes an instant; this is the
    * version-store equivalent). Loud error when the store is empty or
    * every stamped commit is later than `tsMs`.
    *
    * Clock semantics — advisory, as in every log-structured table
    * format: the stamp is the COMMITTER's wall clock at manifest
    * publish, so commits from writers with skewed or jogging clocks
    * can carry non-monotone stamps. Resolution is by max-version-
    * with-stamp≤t over the version-ordered chain, which serves the
    * newest such version even if an OLDER version carries a later
    * stamp. Lines inherited from pre-timestamp manifests (no stamp)
    * are treated as older than any queried instant — true whenever
    * the query instant is after the upgrade that introduced stamps.
    */
  def versionAt(spark: SparkSession, root: String, tsMs: Long): Long = {
    val lines = manifestState(spark, root).lines
    require(lines.nonEmpty, s"empty snapshot store at $root")
    lines.filter(l => l.ts < 0 || l.ts <= tsMs).map(_.v).maxOption
      .getOrElse {
        val first = lines.head
        throw new IllegalArgumentException(
          s"no version committed at or before ${java.time.Instant.ofEpochMilli(tsMs)} " +
            s"in $root — the earliest commit is v${first.v} at " +
            s"${java.time.Instant.ofEpochMilli(first.ts)}")
      }
  }

  /** [[asOf]] addressed by instant instead of version: read the table
    * as it was visible at wall-time `tsMs` (see [[versionAt]] for the
    * advisory-clock caveat).
    */
  def asOfTimestamp(
      spark: SparkSession, root: String, tsMs: Long, keys: Seq[String]): DataFrame =
    asOf(spark, root, versionAt(spark, root, tsMs), keys)

  /** Raw committed frame of exactly `version` (no merge applied):
    * a full snapshot's rows, or one delta batch including tombstones.
    */
  def read(spark: SparkSession, root: String, version: Long): DataFrame = {
    val entry = versions(spark, root).find(_._1 == version)
      .getOrElse(throw new IllegalArgumentException(s"no version $version in $root"))
    Sources.readParquet(spark, s"$root/${entry._3}")
  }

  /** Latest committed version (0 when the store is empty). */
  def latestVersion(spark: SparkSession, root: String): Long =
    versions(spark, root).lastOption.map(_._1).getOrElse(0L)

  /** Raw narrow union of the latest full snapshot plus every LATER
    * delta — the APPEND-ONLY read for stores whose writers guarantee
    * row-uniqueness at commit time (the streaming ingest sinks
    * anti-join stored ids before every delta). Unlike [[latest]] no
    * merge runs — the whole read is a union of parquet scans a
    * candidate join can prune — and unlike a raw all-versions union,
    * segments the newest full SUPERSEDES are skipped: after a
    * [[compact]] the scan fan-in resets to one segment instead of
    * every row appearing twice (once in the fold, once in the folded
    * segments). Falls back to the all-deltas union when no full
    * snapshot exists yet.
    */
  def readAppendOnly(spark: SparkSession, root: String): DataFrame =
    readAppendOnlyAt(spark, root, manifestState(spark, root))

  /** [[readAppendOnly]] over an already-taken manifest read — for a
    * caller that needs the chain's lines too (the vector index reads
    * its geometry from the base line's meta) and must see the segments
    * of that SAME read, never of a newer one.
    */
  private[graft] def readAppendOnlyAt(
      spark: SparkSession, root: String, st: ManifestState): DataFrame =
    readChain(spark, root, appendOnlyEntries(root, st.versions))

  /** The raw narrow union of exactly `segs` — every caller passes
    * [[appendOnlyEntries]] or a pruned subset of it, so the
    * supersession rule (newest full + later deltas) lives in one place.
    */
  private def readChain(
      spark: SparkSession,
      root: String,
      segs: Seq[(Long, String, String)]): DataFrame =
    segs
      // segment paths straight from the chain entries: read() would
      // re-list + re-parse the manifest PER SEGMENT (K+1 manifest
      // reads per call on a K-segment chain, growing with every
      // commit), on the micro-batch hot path of both ingest sinks
      .map { case (v, _, rel) =>
        val seg = Sources.readParquet(spark, s"$root/$rel")
        // append-only means NO retractions: a segment carrying the
        // tombstone column belongs to a merge-read store, and a raw
        // union would serve retracted rows as live data (or die in
        // unionByName when only some segments carry the column) —
        // refuse loudly with the fix spelled out
        if (seg.columns.contains("_deleted"))
          throw new IllegalStateException(
            s"append-only read of $root: segment v$v carries a _deleted tombstone " +
              "column — this store is merge-read; use latest/asOf, which apply " +
              "last-writer-wins and drop tombstones")
        seg
      }
      // null-filling union, matching asOf: an append-only chain whose
      // later segments evolved the schema reads with the union schema
      // instead of dying in strict unionByName
      .reduce(_.unionByName(_, allowMissingColumns = true))

  // ------------------------------------------------ zone-map sidecars

  /** Per-segment zone-map sidecar name — underscore-prefixed so
    * Spark's parquet reader treats it as metadata and never scans it.
    */
  private val StatsName = "_graft_stats.json"

  /** One column's zone map: Spark type name + min/max rendered
    * round-trip-exactly (decimal string for integrals,
    * `Double.toString` for floating, raw for strings), or allNull
    * when the batch had no value at all (such a segment can be
    * SKIPPED for any bounded range — the rows a range filter could
    * keep don't exist in it).
    */
  private[graft] final case class ColStats(
      typeName: String, min: String, max: String, allNull: Boolean)

  private def validateStatsCols(df: DataFrame, statsCols: Seq[String]): Unit = {
    val supported = Set("byte", "short", "integer", "long", "float", "double", "string")
    statsCols.foreach { c =>
      require(df.columns.contains(c), s"statsCols names unknown column '$c'")
      val t = df.schema(c).dataType.typeName
      require(supported.contains(t),
        s"statsCols column '$c' has type $t — zone maps support integral, floating " +
          "and string columns (stamp timestamps to unix_micros first)")
    }
  }

  private def writeStatsSidecar(
      src: DataFrame, root: String, rel: String, statsCols: Seq[String]): Unit = {
    import org.json4s.JsonDSL._
    // stats are computed from the WRITTEN segment, not the input
    // frame: re-evaluating the input would re-run its upstream plan,
    // and a nondeterministic upstream (a sample, an unordered
    // row_number) could legitimately produce DIFFERENT rows on the
    // second pass — publishing a zone map that does not describe the
    // segment it sits in, the exact wrong-prune corruption the
    // sidecar exists to prevent. Reading back is also cheaper: a
    // column-pruned scan of the fresh files vs the whole upstream
    // query again.
    val df = Sources.readParquet(src.sparkSession, s"$root/$rel")
    // ONE agg job for every column's min+max
    val aggs = statsCols.flatMap(c => Seq(min(col(c)).as(s"mn_$c"), max(col(c)).as(s"mx_$c")))
    val row = df.agg(aggs.head, aggs.tail: _*).collect().head
    // floats render through their WIDENED double (Float.toString is
    // the shortest float-round-trip string, which parsed as double
    // under-represents the widened value — a pruning read compares in
    // the double domain, so that gap could wrongly prune a segment)
    def render(v: Any): String = v match {
      case f: java.lang.Float => java.lang.Double.toString(f.toDouble)
      case other              => other.toString
    }
    val obj = org.json4s.JObject(statsCols.zipWithIndex.map { case (c, i) =>
      val t = df.schema(c).dataType.typeName
      val (mn, mx) = (row.get(2 * i), row.get(2 * i + 1))
      c -> (("type" -> t) ~
        ("all_null" -> (mn == null)) ~
        ("min" -> Option(mn).map(render)) ~
        ("max" -> Option(mx).map(render)): org.json4s.JValue)
    }.toList)
    val f = fs(df.sparkSession, root)
    val out = f.create(new Path(s"$root/$rel", StatsName), true)
    try out.write(org.json4s.jackson.JsonMethods.compact(obj).getBytes("UTF-8"))
    finally out.close()
  }

  /** The segment's zone map, or None when the commit recorded no
    * stats (pre-stats segments stay readable and are simply never
    * pruned).
    */
  private[graft] def segmentStats(
      spark: SparkSession, root: String, rel: String): Option[Map[String, ColStats]] = {
    val f = fs(spark, root)
    val p = new Path(s"$root/$rel", StatsName)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val text =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val j = org.json4s.jackson.JsonMethods.parse(text)
      Some(j.asInstanceOf[org.json4s.JObject].obj.map { case (c, v) =>
        implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
        val t = (v \ "type").extract[String]
        val allNull = (v \ "all_null").extract[Boolean]
        c -> ColStats(t,
          (v \ "min").extractOpt[String].getOrElse(""),
          (v \ "max").extractOpt[String].getOrElse(""), allNull)
      }.toMap)
    }
  }

  /** Could a segment with `st` hold a row with `column` in [lo, hi]?
    * Conservative TRUE when the sidecar or the column's entry is
    * absent; a bound whose runtime type can't compare against the
    * recorded column type is a LOUD error (silently keeping the
    * segment would make a typo'd bound disable pruning forever with
    * every signal green).
    */
  private[graft] def mayContain(
      st: Option[Map[String, ColStats]], column: String, lo: Any, hi: Any): Boolean =
    st.flatMap(_.get(column)) match {
      case None => true
      case Some(cs) if cs.allNull => false
      case Some(cs) =>
        def num(b: Any, what: String): Double = b match {
          case n: Number => n.doubleValue()
          case other => throw new IllegalArgumentException(
            s"zone-map bound $what=$other is ${other.getClass.getSimpleName} but " +
              s"column '$column' recorded type ${cs.typeName}")
        }
        cs.typeName match {
          case "byte" | "short" | "integer" | "long" =>
            // exact integral compare through Long (the sidecar string
            // is the exact decimal rendering)
            def asL(b: Any, w: String): Long = b match {
              case n @ (_: java.lang.Long | _: java.lang.Integer |
                        _: java.lang.Short | _: java.lang.Byte) =>
                n.asInstanceOf[Number].longValue()
              case other => throw new IllegalArgumentException(
                s"zone-map bound $w=$other is ${other.getClass.getSimpleName} but " +
                  s"column '$column' recorded integral type ${cs.typeName}")
            }
            asL(hi, "hi") >= cs.min.toLong && asL(lo, "lo") <= cs.max.toLong
          case "float" | "double" =>
            val (loD, hiD) = (num(lo, "lo"), num(hi, "hi"))
            require(!loD.isNaN && !hiD.isNaN,
              s"zone-map bounds for '$column' must not be NaN — a NaN range matches nothing")
            val (mnD, mxD) = (cs.min.toDouble, cs.max.toDouble)
            // Spark's ordering ranks NaN above every value, so a
            // segment containing a NaN records max=NaN (and min=NaN
            // only when ALL values are NaN) — comparisons against NaN
            // are false, which would wrongly prune a segment that
            // also holds in-range rows: keep conservatively instead
            if (mnD.isNaN || mxD.isNaN) true
            else hiD >= mnD && loD <= mxD
          case "string" =>
            def asS(b: Any, w: String): String = b match {
              case s: String => s
              case other => throw new IllegalArgumentException(
                s"zone-map bound $w=$other is ${other.getClass.getSimpleName} but " +
                  s"column '$column' recorded type string")
            }
            // CODE-POINT order, not String.compareTo's UTF-16 code
            // units: Spark both aggregates the recorded min/max and
            // evaluates the residual filter in UTF-8 binary order
            // (= code-point order), and the two orders disagree for
            // supplementary-plane strings vs [U+E000, U+FFFF] — a
            // code-unit compare could prune a segment whose rows the
            // engine-side filter WOULD match
            codePointCompare(asS(hi, "hi"), cs.min) >= 0 &&
              codePointCompare(asS(lo, "lo"), cs.max) <= 0
          case _ => true // unknown future type tag: conservative keep
        }
    }

  // ------------------------------------------------ bloom sidecars

  /** Per-segment bloom-filter sidecar name — the POINT-LOOKUP twin of
    * the zone maps: min/max can only prune when keys CLUSTER by
    * segment, while an import-ordered fact spreads any key uniformly
    * across segments and every zone map spans the whole domain. A
    * bloom answers "definitely absent" per value with NO false
    * negatives, so skipping on its verdict is proof, and false
    * positives only cost an extra open. Underscore-prefixed so the
    * parquet reader treats it as metadata.
    */
  private val BloomName = "_graft_bloom.bin"

  /** Bloom capacity per segment: the sketch hashes longs and strings
    * (Spark's public BloomFilter contract); floating-point columns
    * are refused at commit time, like timestamps for zone maps.
    */
  private def validateBloomCols(df: DataFrame, bloomCols: Seq[String]): Unit = {
    val supported = Set("byte", "short", "integer", "long", "string")
    bloomCols.foreach { c =>
      require(df.columns.contains(c), s"bloomCols names unknown column '$c'")
      val t = df.schema(c).dataType.typeName
      require(supported.contains(t),
        s"bloomCols column '$c' has type $t — bloom sidecars support integral and " +
          "string columns (the sketch hashes longs and UTF-8 strings)")
    }
  }

  /** Write the bloom sidecar from the WRITTEN segment (same
    * re-read-not-re-evaluate rule as [[writeStatsSidecar]], same
    * crash story: sidecar lands before publish, a crash leaves only
    * an unreferenced dir). One count job sizes the filters; one
    * aggregate job per column builds them (1% fpp — ~1.2 KB per 1 k
    * rows per column).
    */
  private def writeBloomSidecar(
      src: DataFrame, root: String, rel: String, bloomCols: Seq[String]): Unit = {
    val df = Sources.readParquet(src.sparkSession, s"$root/$rel")
    val n = math.max(df.count(), 1L)
    val filters = bloomCols.map(c => c -> df.stat.bloomFilter(col(c), n, 0.01))
    val f = fs(df.sparkSession, root)
    val dos = new java.io.DataOutputStream(f.create(new Path(s"$root/$rel", BloomName), true))
    try {
      dos.writeInt(filters.size)
      filters.foreach { case (c, bf) =>
        dos.writeUTF(c)
        val buf = new java.io.ByteArrayOutputStream()
        bf.writeTo(buf)
        val arr = buf.toByteArray
        dos.writeInt(arr.length)
        dos.write(arr)
      }
    } finally dos.close()
  }

  /** The segment's bloom filters, or None when the commit recorded
    * none (pre-bloom segments stay readable and are simply never
    * bloom-pruned). A garbled sidecar is a LOUD error — silently
    * treating corruption as "no sidecar" would disable pruning
    * forever with every signal green.
    */
  private[graft] def segmentBloom(spark: SparkSession, root: String, rel: String)
      : Option[Map[String, org.apache.spark.util.sketch.BloomFilter]] = {
    val f = fs(spark, root)
    val p = new Path(s"$root/$rel", BloomName)
    if (!f.exists(p)) None
    else {
      val in = new java.io.DataInputStream(f.open(p))
      try {
        val nCols = in.readInt()
        Some((0 until nCols).map { _ =>
          val c = in.readUTF()
          val len = in.readInt()
          val arr = new Array[Byte](len)
          in.readFully(arr)
          c -> org.apache.spark.util.sketch.BloomFilter
            .readFrom(new java.io.ByteArrayInputStream(arr))
        }.toMap)
      } finally in.close()
    }
  }

  /** Could a segment whose bloom is `bl` hold `value` in `column`?
    * Conservative TRUE without a sidecar/entry or for types the
    * sketch can't witness (nulls; the zone-map check that runs first
    * is the loud gate for mistyped values). FALSE is proof of
    * absence — blooms have no false negatives.
    */
  private[graft] def bloomMayContain(
      bl: Option[Map[String, org.apache.spark.util.sketch.BloomFilter]],
      column: String, value: Any): Boolean =
    bl.flatMap(_.get(column)) match {
      case None => true
      case Some(bf) => value match {
        case s: String => bf.mightContainString(s)
        case n @ (_: java.lang.Long | _: java.lang.Integer |
                  _: java.lang.Short | _: java.lang.Byte) =>
          // the write side hashed the column's integral values
          // widened to long (Spark's sketch does so for every
          // integral type), so the probe widens the same way
          bf.mightContainLong(n.asInstanceOf[Number].longValue())
        case _ => true
      }
    }

  /** Lexicographic compare by Unicode CODE POINTS — Spark's string
    * order (UTF8String is compared as UTF-8 bytes, which sorts by code
    * point). Differs from String.compareTo exactly where surrogate
    * pairs meet chars in [U+E000, U+FFFF].
    */
  private def codePointCompare(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** The chain entries [[readAppendOnly]] unions: latest full base (or
    * the first delta when no full exists — every segment is then a
    * delta) plus every later delta. Segments the newest full
    * supersedes are skipped.
    */
  private def appendOnlyEntries(
      root: String, vs: Seq[(Long, String, String)]): Seq[(Long, String, String)] = {
    require(vs.nonEmpty, s"empty snapshot store at $root")
    val baseV = vs.filter(_._2 == "full").map(_._1).maxOption.getOrElse(vs.head._1)
    vs.filter(_._1 >= baseV)
  }

  /** [[readAppendOnly]] restricted to `column ∈ [lo, hi]` with
    * SEGMENT-LEVEL pruning: segments whose committed zone map
    * ([[commitDelta]]'s `statsCols`) proves no row can match are
    * never opened — at warehouse scale that's the difference between
    * "touch every file of a years-long chain" and "open the two
    * segments whose range intersects". Segments without stats stay
    * conservatively in. The residual filter still applies (zone maps
    * prune files, parquet row-group stats prune within them, the
    * filter decides rows).
    *
    * The tombstone guard inherits from [[readAppendOnly]] but runs on
    * OPENED segments only — a merge-read store still refuses in
    * practice because its writers stamp `_deleted` on every delta
    * (any opened segment trips the guard), but a store MIXING
    * tombstoned and plain segments could have its only `_deleted`
    * segments pruned out of a narrow range. Range reads are for
    * append-only stores; don't point them at merge-read chains.
    */
  def readAppendOnlyWhere(
      spark: SparkSession, root: String, column: String, lo: Any, hi: Any): DataFrame = {
    val (entries, kept) = rangeSegments(spark, root, column, lo, hi)
    val bounded = col(column) >= lit(lo) && col(column) <= lit(hi)
    if (kept.isEmpty) {
      // every segment pruned: an empty frame in the SAME null-filled
      // union schema a non-empty read of the carrier chain returns —
      // answering with a single segment's schema instead would let
      // the column set of the response depend on whether the range
      // matched, breaking downstream unions on evolved chains. The
      // where(lit(false)) collapses to an empty relation in the
      // optimizer, so this is footer reads only, no scan.
      val carriers =
        entries.filter(e => Sources.readParquet(spark, s"$root/${e._3}").columns.contains(column))
      if (carriers.isEmpty)
        throw new IllegalArgumentException(s"no segment of $root carries column '$column'")
      readChain(spark, root, carriers).where(lit(false)).filter(bounded)
    } else readChain(spark, root, kept).filter(bounded)
  }

  /** Stats-and-schema pruning shared by [[readAppendOnlyWhere]] and
    * [[prunedTo]]: a segment is opened only when its zone map says
    * the range may match AND its schema carries the column at all —
    * on an evolved chain a segment that predates the column holds
    * only all-null values for it, so no range can match (and keeping
    * it would fail the filter's analysis with the column unresolved).
    * The schema check is a driver-side footer read
    * ([[Sources.readParquet]], no Spark job; a memo hit after the
    * segment's first read), paid only for stats-kept segments the
    * scan would open anyway; if NO segment
    * carries the column the query is a loud error, not a vacuous
    * empty answer.
    */
  private def rangeSegments(
      spark: SparkSession, root: String, column: String, lo: Any, hi: Any)
      : (Seq[(Long, String, String)], Seq[(Long, String, String)]) = {
    val entries = appendOnlyEntries(root, versions(spark, root))
    val statsKept = entries.filter { case (_, _, rel) =>
      mayContain(segmentStats(spark, root, rel), column, lo, hi)
    }
    val kept = statsKept.filter { case (_, _, rel) =>
      Sources.readParquet(spark, s"$root/$rel").columns.contains(column)
    }
    if (kept.isEmpty && statsKept.nonEmpty &&
        !entries.exists(e => Sources.readParquet(spark, s"$root/${e._3}").columns.contains(column)))
      throw new IllegalArgumentException(s"no segment of $root carries column '$column'")
    (entries, kept)
  }

  /** The version numbers [[readAppendOnlyWhere]] would open — the
    * pruning decision as data, for tests and operational "what would
    * this read touch" checks.
    */
  private[graft] def prunedTo(
      spark: SparkSession, root: String, column: String, lo: Any, hi: Any): Seq[Long] =
    rangeSegments(spark, root, column, lo, hi)._2.map(_._1)

  /** Zone-map range read over a MERGE-READ store: [[latest]]/[[asOf]]
    * restricted to `column ∈ [lo, hi]` where `column` is one of the
    * MERGE KEYS, opening only the segments whose committed stats
    * intersect the range. Pruning on the key's own zone map is EXACT
    * under last-writer-wins: every row, rewrite and tombstone of an
    * in-range key carries that key VALUE, so it can only live in a
    * segment whose key range intersects [lo, hi] — a disjoint
    * segment provably holds nothing that could supersede or retract
    * an in-range row, and skipping it cannot change the merge. (That
    * argument needs the range column to BE a merge key: a non-key
    * column's value can move across versions, so a later rewrite
    * relocating a row out of range could hide in a pruned segment —
    * refused loudly.) Stats-less segments stay conservatively in;
    * the kept segments go through the full read's merge
    * ([[mergeChain]]) with the range applied to the base and the
    * deltas below it, and BOTH branches (matching and all-pruned)
    * answer in [[asOf]]'s null-filled union schema, so evolved chains
    * give one stable column set regardless of what pruning kept.
    */
  def readMergeWhere(
      spark: SparkSession, root: String, keys: Seq[String], column: String,
      lo: Any, hi: Any, version: Long = -1L): DataFrame = {
    require(keys.contains(column),
      s"merge range reads prune on a MERGE KEY column — '$column' is not one of " +
        s"${keys.mkString(", ")}. A non-key column can be rewritten across versions, " +
        "so its zone maps cannot bound where a superseding row lives; filter the " +
        "full merge read instead")
    val v = if (version < 0) latestVersion(spark, root) else version
    val bounded = col(column) >= lit(lo) && col(column) <= lit(hi)
    mergeKept(spark, root, keys, v, bounded) { case (_, _, rel) =>
      mayContain(segmentStats(spark, root, rel), column, lo, hi)
    }
  }

  /** The pruned merge read shared by [[readMergeWhere]] and
    * [[readMergeEq]]: the chain of `version` cut to the segments `keep`
    * accepts, merged by [[mergeSegments]] with the key predicate
    * `bounded` applied to the base scan (it reaches its parquet
    * row-group statistics) and to the deltas. If the base is
    * pruned, the kept deltas' own resolution is the answer. Both the
    * matching and the all-pruned answer take [[asOf]]'s null-filled
    * union schema, so an evolved chain gives one column set whatever
    * pruning kept (the schema comes from the chain's footer schemas,
    * [[mergedSchema]]: a pruned segment is never read).
    */
  private def mergeKept(
      spark: SparkSession, root: String, keys: Seq[String], version: Long, bounded: Column)(
      keep: ((Long, String, String)) => Boolean): DataFrame = {
    val (base, deltas) = chainAt(spark, root, version)
    val schemaFrame = spark.createDataFrame(java.util.Collections.emptyList[Row](),
      mergedSchema(spark, root, base +: deltas, keys))
    val keptBase = Some(base).filter(keep)
    val keptDeltas = deltas.filter(keep)
    if (keptBase.isEmpty && keptDeltas.isEmpty) schemaFrame.filter(bounded)
    else mergeSegments(spark, root, keptBase, keptDeltas, keys, Some(bounded))
      .unionByName(schemaFrame, allowMissingColumns = true)
      .select(schemaFrame.columns.map(col).toIndexedSeq: _*)
  }

  /** The version numbers [[readMergeWhere]] would open — the pruning
    * decision as data (the merge twin of [[prunedTo]]).
    */
  private[graft] def prunedMergeTo(
      spark: SparkSession, root: String, keys: Seq[String], column: String,
      lo: Any, hi: Any): Seq[Long] = {
    val (base, deltas) = chainAt(spark, root, latestVersion(spark, root))
    (base +: deltas)
      .filter { case (_, _, rel) => mayContain(segmentStats(spark, root, rel), column, lo, hi) }
      .map(_._1)
  }

  /** Segment keep-decision for an equality/IN read: kept iff SOME
    * probed value survives both the zone map (range [v, v]) and the
    * bloom. The bloom sidecar is only opened when a value passes the
    * zone check — on a clustered store the zone maps alone settle
    * most segments without the extra read.
    */
  private def eqKeeps(
      spark: SparkSession, root: String, rel: String,
      column: String, values: Seq[Any]): Boolean = {
    val stats = segmentStats(spark, root, rel)
    lazy val bloom = segmentBloom(spark, root, rel)
    values.exists(v =>
      mayContain(stats, column, v, v) && bloomMayContain(bloom, column, v))
  }

  /** POINT LOOKUP over a MERGE-READ store: [[latest]]/[[asOf]]
    * restricted to `column ∈ values` where `column` is one of the
    * MERGE KEYS, opening only segments that might hold one of the
    * probed keys — zone maps first (range [v, v]), then the bloom
    * sidecar ([[commit]]'s `bloomCols`), whose "definitely absent" is
    * proof (no false negatives), not probability. The soundness
    * argument is [[readMergeWhere]]'s: every row, rewrite and
    * tombstone of a probed KEY carries that key value, so a segment
    * both filters exclude provably can't supersede or retract
    * anything the lookup returns — which is why the column must BE a
    * merge key (refused otherwise, same as the range form).
    *
    * This is the 100 TB "fetch one entity now" path the range read
    * can't serve: an import-ordered fact spreads any key uniformly,
    * every segment's min/max spans the whole domain, and zone maps
    * keep everything — the blooms are what turn a chain-wide scan
    * into opening O(1) segments (1% fpp per segment per value).
    */
  def readMergeEq(
      spark: SparkSession, root: String, keys: Seq[String], column: String,
      values: Seq[Any], version: Long = -1L): DataFrame = {
    require(keys.contains(column),
      s"merge point lookups prune on a MERGE KEY column — '$column' is not one of " +
        s"${keys.mkString(", ")}. A non-key column can be rewritten across versions, " +
        "so its sidecars cannot bound where a superseding row lives; filter the " +
        "full merge read instead")
    require(values.nonEmpty, "readMergeEq needs at least one probe value")
    // a null probe can never match (isin is null-safe-false) and would
    // NPE inside the zone-map type check — refuse it with the reason
    require(values.forall(_ != null),
      "readMergeEq probe values must be non-null — an IN (..., NULL) matches nothing; " +
        "filter the full merge read for IS NULL semantics")
    val v = if (version < 0) latestVersion(spark, root) else version
    mergeKept(spark, root, keys, v, col(column).isin(values: _*)) { case (_, _, rel) =>
      eqKeeps(spark, root, rel, column, values)
    }
  }

  /** The version numbers [[readMergeEq]] would open — the pruning
    * decision as data (the point-lookup twin of [[prunedMergeTo]]).
    */
  private[graft] def prunedEqTo(
      spark: SparkSession, root: String, keys: Seq[String], column: String,
      values: Seq[Any]): Seq[Long] = {
    val (base, deltas) = chainAt(spark, root, latestVersion(spark, root))
    (base +: deltas).filter { case (_, _, rel) => eqKeeps(spark, root, rel, column, values) }.map(_._1)
  }

  /** Read the latest version. */
  def latest(spark: SparkSession, root: String, keys: Seq[String]): DataFrame =
    asOf(spark, root, latestVersion(spark, root), keys)

  /** Fold the delta chain into a new full snapshot (bounds the merge
    * fan-in for future reads; old versions stay readable). The fold is
    * the [[asOf]] read of the tip, so it is written without shuffling
    * the old base: a small chain resolves on the driver, a larger one
    * ranks only the delta rows.
    *
    * The fold's content is pinned to the chain visible at THIS read,
    * and the publish is pinned to land at exactly the next version
    * after it: a delta committed concurrently (a live streaming sink)
    * would otherwise be silently superseded by a full snapshot that
    * never contained its rows — the publish CAS alone cannot see it,
    * because the intervening commit just bumps the version past the
    * collision. A lost race is a loud IllegalStateException; re-run
    * the compact over the new chain.
    */
  def compact(
      spark: SparkSession, root: String, keys: Seq[String],
      statsCols: Seq[String] = Nil, meta: Map[String, String] = Map.empty,
      bloomCols: Seq[String] = Nil): Long =
    compactFrom(spark, root, keys, versions(spark, root), statsCols, meta, bloomCols)

  /** `private[graft]` test seam: the lost-delta race spec interleaves
    * a concurrent delta commit between the chain read and the publish
    * by passing the stale chain explicitly.
    */
  private[graft] def compactFrom(
      spark: SparkSession, root: String, keys: Seq[String],
      vs: Seq[(Long, String, String)], statsCols: Seq[String] = Nil,
      meta: Map[String, String] = Map.empty, bloomCols: Seq[String] = Nil): Long = {
    require(vs.nonEmpty, s"empty snapshot store at $root")
    val top = vs.last._1
    // statsCols: without it a compacted time-series chain would lose
    // its zone maps (the fold has no sidecar) until new deltas arrive
    // — and bloomCols likewise for the point-lookup filters
    writeAndPublish(asOf(spark, root, top, keys), root, "full",
      expectedVersion = Some(top + 1), statsCols = statsCols, meta = meta,
      bloomCols = bloomCols)
  }

  /** [[compact]] for the persisted dedup indexes, which are
    * APPEND-ONLY: the fold is the [[readAppendOnly]] union of the
    * chain read `st` — no merge, no shuffle beyond the write — under
    * [[compact]]'s staleness pin, so a keeper delta published between
    * that read and the fold's publish (an ingest's
    * [[commitDeltaRetrying]]) fails the fold loudly instead of being
    * superseded by a full snapshot that never held its rows. `meta`
    * goes on the fold's line: the vector index carries its pinned
    * geometry forward this way. `st` is a parameter so the index-fold
    * race spec can pass a read taken before a concurrent delta commit.
    */
  private[graft] def compactAppendOnly(
      spark: SparkSession, root: String, st: ManifestState,
      meta: Map[String, String] = Map.empty): Long =
    writeAndPublish(readAppendOnlyAt(spark, root, st), root, "full",
      expectedVersion = Some(st.lines.last.v + 1), meta = meta)

  // ------------------------------------------------------------ tags

  /** Named version tags — the human-addressable as-of: "read the
    * store as of `release-2026-08`" instead of a raw version number
    * every consumer must bookkeep. A tag is an IMMUTABLE pointer
    * (`_tag.<name>` beside the manifests): re-tagging is refused —
    * a silently moved tag would change what every pinned reader
    * means by the name — so renames go through untag + tag, loudly.
    * [[vacuumFrom]] refuses to delete versions a tag still
    * addresses: retention can never quietly turn a named release
    * into a dangling pointer.
    */
  private def tagFile(name: String): String = {
    require(name.matches("[A-Za-z0-9][A-Za-z0-9._-]{0,63}") && !name.contains(".tmp-"),
      s"tag name '$name' must match [A-Za-z0-9][A-Za-z0-9._-]{0,63} " +
        "(it becomes a file name beside the manifests)")
    s"_tag.$name"
  }

  def tag(spark: SparkSession, root: String, name: String, version: Long): Unit = {
    val f = fs(spark, root)
    val dest = new Path(root, tagFile(name))
    require(versions(spark, root).exists(_._1 == version),
      s"cannot tag: no version $version in $root")
    def exists(): Nothing = throw new IllegalArgumentException(
      s"tag '$name' already exists in $root — tags are immutable (a silently moved " +
        "tag changes what every pinned reader means by the name); untag first or " +
        "pick a new name")
    if (f.exists(dest)) exists()
    // tmp + no-replace rename: a reader never sees a half-written
    // tag, and losing a concurrent tag race is loud, not last-wins
    val tmp = new Path(root, s"${tagFile(name)}.tmp-${java.util.UUID.randomUUID.toString.take(8)}")
    val out = f.create(tmp, true)
    try out.write(version.toString.getBytes("UTF-8")) finally out.close()
    val qualified = f.makeQualified(dest)
    if (qualified.toUri.getScheme == "file") {
      try {
        java.nio.file.Files.move(
          java.nio.file.Paths.get(f.makeQualified(tmp).toUri),
          java.nio.file.Paths.get(qualified.toUri))
        ()
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          f.delete(tmp, false); exists()
      }
    } else if (!f.rename(tmp, dest)) { f.delete(tmp, false); exists() }
  }

  def untag(spark: SparkSession, root: String, name: String): Unit = {
    val f = fs(spark, root)
    val p = new Path(root, tagFile(name))
    if (!f.exists(p))
      throw new IllegalArgumentException(s"no tag '$name' in $root")
    f.delete(p, false)
    ()
  }

  /** Every tag as (name, version), name-sorted. Garbled content is a
    * loud error (the stats/bloom sidecar convention: corruption must
    * never read as an empty store of tags).
    */
  def tags(spark: SparkSession, root: String): Seq[(String, Long)] = {
    val f = fs(spark, root)
    val dir = new Path(root)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith("_tag.")
        && !s.getPath.getName.matches(".*\\.tmp-[0-9a-f-]+$"))
      .map { s =>
        val name = s.getPath.getName.stripPrefix("_tag.")
        val in = f.open(s.getPath)
        val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        name -> raw.toLongOption.getOrElse(throw new IllegalStateException(
          s"tag '$name' in $root carries unparseable content '$raw'"))
      }
      .sortBy(_._1)
  }

  def tagVersion(spark: SparkSession, root: String, name: String): Long =
    tags(spark, root).collectFirst { case (n, v) if n == name => v }
      .getOrElse(throw new IllegalArgumentException(
        s"no tag '$name' in $root (tags: ${tags(spark, root).map(_._1).mkString(", ")})"))

  /** [[asOf]] addressed by tag name. */
  def asOfTag(spark: SparkSession, root: String, name: String, keys: Seq[String]): DataFrame =
    asOf(spark, root, tagVersion(spark, root, name), keys)

  /** Retention: physically delete segments SUPERSEDED below the pin —
    * every version `v < B`, where `B` is the newest full snapshot at
    * or below `keepAfterVersion`. Exactly the segments no
    * `asOf(v ≥ keepAfterVersion)` read touches (such a read's base is
    * a full ≥ B and its deltas are > base), so current readers and the
    * streaming ingest sinks keep working; `asOf` at a vacuumed version
    * becomes a loud "no version ≤ v" error instead of a partial
    * answer. Without a vacuum, disk grows monotonically under
    * continuous ingest (one delta per micro-batch) even though
    * [[compact]] already bounds the read fan-in.
    *
    * Refusals (all loud, none silent):
    *  - no full snapshot at or below the pin: NOTHING below it is
    *    superseded — deltas there are still the only copy of their
    *    rows. Run [[compact]] first. `force` does not override (it
    *    would be data loss, not retention).
    *  - `keepAfterVersion` past the latest committed version: almost
    *    certainly a typo'd pin, and it would silently mean "maximal
    *    delete". `force = true` says it was intentional (treated as
    *    pin = latest).
    *
    * Crash ordering: the trimmed manifest publishes FIRST (same
    * link-CAS as every commit — a concurrent delta/compact/vacuum
    * publish in the window loses nothing: one side fails loudly and
    * this method retries from a fresh chain read); data directories
    * delete SECOND. A crash between the two leaves unreferenced
    * orphan directories — invisible to every reader, reclaimed by the
    * next vacuum's orphan sweep — never a manifest pointing at
    * deleted data. Old manifest FILES are kept: they are bytes-tiny,
    * and deleting them would race a reader between its listing and
    * its open.
    *
    * Concurrent PINNED readers of vacuumed versions (an `asOf(old)`
    * job mid-flight) can fail — the standard retention trade-off;
    * pick `keepAfterVersion` behind the oldest pin in use.
    *
    * The persisted dedup indexes and the ANN warm image keep their
    * geometry in the `meta` of the full snapshot's own manifest line
    * (a retained line keeps its meta), so a plain vacuum at the tip
    * is their retention too.
    *
    * Returns the deleted versions (empty when nothing was superseded).
    */
  def vacuum(
      spark: SparkSession, root: String, keepAfterVersion: Long,
      force: Boolean = false, maxAttempts: Int = 8,
      orphanGraceMs: Long = 24L * 3600 * 1000): Seq[Long] = {
    var attempt = 0
    while (true) {
      attempt += 1
      try return vacuumFrom(spark, root, keepAfterVersion, manifestState(spark, root),
        force, orphanGraceMs)
      catch {
        // ONLY the publish race retries (with a fresh chain read —
        // recomputing the retained lines is what makes the retry safe);
        // refusals propagate
        case e: IllegalStateException
          if e.getMessage != null && e.getMessage.contains("manifest publish race")
            && attempt < maxAttempts => ()
      }
    }
    Seq.empty // unreachable
  }

  /** One vacuum attempt against an explicitly-passed chain read —
    * `private[graft]` test seam so the vacuum-during-ingest race spec
    * can interleave a concurrent delta commit between the chain read
    * and the trimmed-manifest publish (the publish CAS must fail
    * loudly rather than silently un-list the concurrent delta).
    */
  private[graft] def vacuumFrom(
      spark: SparkSession, root: String, keepAfterVersion: Long,
      st: ManifestState, force: Boolean = false,
      orphanGraceMs: Long = 24L * 3600 * 1000): Seq[Long] = {
    require(st.lines.nonEmpty, s"empty snapshot store at $root")
    val latest = st.lines.last.v
    if (keepAfterVersion > latest && !force)
      throw new IllegalArgumentException(
        s"keepAfterVersion $keepAfterVersion is past the latest committed version $latest " +
          s"in $root — a mistyped pin must not silently become a maximal delete; " +
          "pass force=true if intentional (treated as pin = latest)")
    val pin = math.min(keepAfterVersion, latest)
    val base = st.lines.filter(l => l.kind == "full" && l.v <= pin).map(_.v).maxOption
      .getOrElse(throw new IllegalStateException(
        s"no full snapshot at or below version $pin in $root — nothing below the pin " +
          "is superseded (its deltas are the only copy of their rows); compact first"))
    val (candidates, retained) = st.lines.partition(_.v < base)
    // a tag below the surviving base would dangle — readers resolve
    // the name to a version whose segments this trim deletes. Refuse
    // with the tags named; retention policy and release tagging have
    // to agree explicitly, never by one silently breaking the other.
    val pinnedTags = tags(spark, root).filter(_._2 < base)
    if (candidates.nonEmpty && pinnedTags.nonEmpty)
      throw new IllegalArgumentException(
        s"vacuum at pin $pin would delete versions below v$base still addressed by " +
          pinnedTags.map { case (n, v) => s"tag '$n' -> v$v" }.mkString(", ") +
          s" in $root — untag them or lower keepAfterVersion; a named release must " +
          "never become a dangling pointer")
    val f = fs(spark, root)
    if (candidates.nonEmpty) {
      // publish the trim FIRST (CAS at the next manifest file number,
      // with NO new data line — file numbering is decoupled from data
      // versions exactly for this), delete data SECOND
      publishAt(spark, root, st.fileNum + 1, retained)
      candidates.foreach { l => f.delete(new Path(root, l.rel), true); () }
    }
    // orphan sweep: data dirs no manifest references — a crashed
    // writeAndPublish attempt, or a previous vacuum that crashed
    // between publish and delete. Only after a successful (or no-op)
    // trim, only dirs matching the segment naming scheme (a foreign
    // file in the root can never be collateral), and only dirs older
    // than `orphanGraceMs`: a CONCURRENT commit has its data dir on
    // disk before its manifest line exists, and sweeping it in that
    // window would publish a manifest pointing at deleted data.
    //
    // The live set comes from a FRESH chain read taken here, not from
    // `st`: on the no-trim path no publish CAS ever validated that
    // read's freshness, so a segment whose manifest line landed after
    // it (with a data write that finished more than the grace window
    // earlier — a slow multi-file commit, or a pre-staged segment)
    // would look orphaned and be swept out from under its committed
    // manifest — the dangling-pointer shape this module promises never
    // to create. The grace window stays as the second guard, for the
    // commit in flight RIGHT NOW (data on disk, line not yet
    // published — invisible to any manifest read).
    val live = manifestState(spark, root).lines.map(_.rel).toSet
    val cutoff = System.currentTimeMillis() - math.max(0L, orphanGraceMs)
    val dir = new Path(root)
    if (f.exists(dir)) f.listStatus(dir).foreach { s =>
      val n = s.getPath.getName
      if (s.isDirectory && n.matches("v\\d+-[0-9a-f-]+") && !live.contains(n)
          && s.getModificationTime < cutoff) {
        f.delete(s.getPath, true); ()
      }
      // stray write-then-rename temporaries: a crash between creating
      // and renaming a manifest or excise-audit tmp file leaves it in
      // the root forever (nothing ever references a .tmp- name). The
      // final `_manifest.v<N>` / `_excise.v<N>` names never match
      // these patterns, and the grace window protects a publish in
      // flight right now.
      if (s.isFile
          && (n.matches("_manifest\\.v\\d+\\.tmp-[0-9a-f-]+")
            || n.matches("_excise\\.v\\d+\\.tmp-[0-9a-f-]+")
            || n.matches("_format\\.tmp-[0-9a-f-]+")
            || n.matches("_tag\\..+\\.tmp-[0-9a-f-]+"))
          && s.getModificationTime < cutoff) {
        f.delete(s.getPath, false); ()
      }
    }
    candidates.map(_.v)
  }

  // ------------------------------------------------------- excision

  /** Hard-delete matching rows from EVERY retained segment — the
    * immutable-store "excision" escape hatch (the one mutation an
    * append-only history legitimately needs: a PII/GDPR takedown on
    * training data). [[vacuum]] deletes only SUPERSEDED segments and
    * tombstones only hide a key from merged reads — the old payloads
    * stay on disk and are served by [[history]]/[[asOf]]/[[read]]
    * forever. Excision rewrites each segment that holds a matching
    * row WITHOUT those rows and republishes the manifest with the
    * same versions pointing at the rewritten paths, after which
    * history/asOf/changes/readAppendOnly at ANY version show nothing
    * for the excised rows; version numbers, commit timestamps and
    * all non-matching rows are untouched.
    *
    * `condition` selects the rows to REMOVE (e.g.
    * `col("id").isin(…)`); rows where it evaluates to NULL are kept
    * (a null key is not a match — `!cond` alone would silently drop
    * them). Two loud refusals: a condition referencing no columns
    * (`lit(true)` would erase the table — that's a table drop, not a
    * takedown), and a condition matching ZERO rows across the chain
    * (a typo'd key must not silently no-op a legal obligation; the
    * error names the referenced columns).
    *
    * Cost shape: one counting pass over the chain finds the segments
    * that actually hold matches; only THOSE are read fully and
    * rewritten — excising one entity from a years-long chain
    * rewrites the handful of segments that ever carried it. The
    * counting pass itself is bounded twice: the condition sits
    * directly on each parquet scan (row-group stats prune inside
    * every opened segment), and for the takedown's common shape —
    * one column's equality/isin over non-null literals, see
    * [[conditionBounds]] — the committed zone maps skip whole
    * segments WITHOUT opening them, including segments that predate
    * the column (their rows hold only nulls for it and can never
    * equal a named value). Any OTHER condition shape counts every
    * segment, with columns a segment lacks evaluated as the typed
    * nulls its rows carry under the chain's union semantics — so a
    * null-MATCHING condition (`col.isNull`) correctly excises the
    * pre-column rows too, while a null-rejecting one folds those
    * scans away in the optimizer. Rewritten segments that carried a
    * zone-map sidecar get one recomputed over the surviving rows.
    *
    * Crash/concurrency ordering, same discipline as every publish
    * here: rewrites land under fresh attempt-unique directories
    * FIRST, the manifest republish is the single-winner link-CAS
    * SECOND (a concurrent commit/compact/vacuum in the window makes
    * this a loud "manifest publish race" — re-run the excision over
    * the new chain; nothing was lost and the rewritten dirs are
    * swept as orphans), and the ORIGINAL directories delete THIRD —
    * a crash between publish and delete leaves the un-excised
    * originals unreferenced on disk until the next [[vacuum]]'s
    * orphan sweep reclaims them, so follow an interrupted excision
    * with a vacuum to finish the physical cleanup. Readers pinned on
    * a pre-excision manifest can fail mid-job when the originals
    * delete, exactly as with vacuum.
    *
    * Two boundaries a takedown operator must know:
    *  - excision rewrites THIS store's history; rows already emitted
    *    elsewhere — a CDC feed tailed into another store
    *    ([[streamChangesInto]]), a derived band/vector index, any
    *    downstream copy — are not retracted by it. Those are
    *    snapshot stores too: excise each directly (the takedown
    *    composes; the dedup-index case is spec-proven).
    *  - every successful excision writes an immutable audit sidecar
    *    (`_excise.v<N>`, read back by [[excisions]]) carrying when,
    *    which COLUMNS, per-version row counts and the caller's
    *    `meta` (ticket id, who ordered it) — never the condition's
    *    values, which are exactly what the takedown removed. A
    *    takedown whose audit record cannot write still TAKES EFFECT
    *    (originals deleted) and then fails loudly naming what it
    *    rewrote — never a green return with the paper trail missing.
    *
    * Returns (version, rows excised) for every rewritten segment.
    */
  def excise(
      spark: SparkSession, root: String, condition: Column,
      meta: Map[String, String] = Map.empty): Seq[(Long, Long)] =
    exciseFrom(spark, root, condition, manifestState(spark, root), meta)

  /** One excision's audit record — what a takedown auditor needs
    * WITHOUT the data: when, which columns the condition named, how
    * many rows left which versions, and the caller's own facts
    * (ticket id, who ordered it). Deliberately NO condition values:
    * the excised identifiers are exactly what the takedown removed,
    * and an audit log that re-records them would defeat it — put an
    * opaque reference in `meta` instead.
    */
  final case class ExciseRecord(
      fileNum: Long, atMs: Long, columns: Seq[String],
      segments: Seq[(Long, Long)], rows: Long, meta: Map[String, String])

  private val ExciseLogName = "_excise\\.v(\\d+)".r

  /** Every excision ever run against `root`, oldest first — each is
    * an immutable `_excise.v<N>` sidecar written under the manifest
    * file number the excision's republish won (unique by the publish
    * CAS, so concurrent excisions can never collide on a name).
    * Vacuum never deletes them: the log is the durable proof a
    * takedown happened after the data is long gone.
    */
  def excisions(spark: SparkSession, root: String): Seq[ExciseRecord] = {
    val f = fs(spark, root)
    val dir = new Path(root)
    if (!f.exists(dir)) return Seq.empty
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    f.listStatus(dir).toSeq
      .flatMap(s => s.getPath.getName match {
        case ExciseLogName(n) => Some((n.toLong, s.getPath))
        case _ => None
      })
      .sortBy(_._1)
      .map { case (n, p) =>
        val in = f.open(p)
        val text =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val j = org.json4s.jackson.JsonMethods.parse(text)
        ExciseRecord(
          n,
          (j \ "at_ms").extract[Long],
          (j \ "columns").extract[Seq[String]],
          (j \ "segments").extract[Seq[Map[String, Long]]]
            .map(m => (m("version"), m("rows"))),
          (j \ "rows").extract[Long],
          (j \ "meta").extractOpt[Map[String, String]].getOrElse(Map.empty))
      }
  }

  private def writeExciseLog(
      f: FileSystem, root: String, fileNum: Long, columns: Seq[String],
      segments: Seq[(Long, Long)], meta: Map[String, String]): Unit = {
    import org.json4s.JsonDSL._
    val obj = ("at_ms" -> System.currentTimeMillis()) ~
      ("columns" -> columns) ~
      ("segments" -> segments.map { case (v, n) =>
        (("version" -> v) ~ ("rows" -> n)): org.json4s.JValue }) ~
      ("rows" -> segments.map(_._2).sum) ~
      ("meta" -> org.json4s.JObject(meta.toList.sortBy(_._1)
        .map { case (k, v) => k -> (org.json4s.JString(v): org.json4s.JValue) }))
    // write-to-tmp then rename, like every manifest publish: a crash
    // (or a concurrent excisions() listing) must never observe a
    // partial record under the final name — one truncated sidecar
    // would make the WHOLE trail unreadable forever, since vacuum
    // deliberately never deletes these. The final name is unique (the
    // publish CAS won this fileNum), so plain rename suffices — no
    // second CAS needed.
    val tmp = new Path(root,
      s"_excise.v$fileNum.tmp-${java.util.UUID.randomUUID.toString.take(8)}")
    val out = f.create(tmp, true)
    try out.write(org.json4s.jackson.JsonMethods.compact(obj).getBytes("UTF-8"))
    finally out.close()
    if (!f.rename(tmp, new Path(root, s"_excise.v$fileNum"))) {
      f.delete(tmp, false)
      throw new java.io.IOException(
        s"could not publish audit record _excise.v$fileNum in $root")
    }
  }

  /** Conservative [lo, hi] bound of an ANALYZED excision condition,
    * when it has a takedown's common shape — one column compared to
    * literals: `col === v`, `col.isin(v1, …)`, an OR of those over
    * the SAME column, or the retention form `col >= lo && col <= hi`
    * / `col.between(lo, hi)` (strict bounds close conservatively).
    * Used to consult the committed zone maps before the counting
    * pass opens a segment; any shape this doesn't recognize (casts
    * around the attribute, multi-column logic, arithmetic) returns
    * None and the counting pass scans conservatively.
    * Literal values convert back to their external Scala forms
    * (Catalyst holds strings as UTF8String), matching what
    * [[mayContain]] compares against the sidecar.
    */
  private[graft] def conditionBounds(
      analyzed: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[(String, Any, Any)] = {
    import org.apache.spark.sql.catalyst.expressions.{
      And, AttributeReference, Cast, EqualTo, Expression, GreaterThan,
      GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal, Or, Coalesce}
    import org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToScala
    // the excise wrapper is coalesce(cond, false): unwrap to the
    // caller's own condition
    def unwrap(e: Expression): Expression = e match {
      case Coalesce(Seq(inner, Literal(false, _))) => unwrap(inner)
      case other => other
    }
    // a VALUE literal, folding the analyzer's widening Cast(Literal)
    // (e.g. an Int literal compared to a Long column analyzes as
    // Cast(lit, LongType) — constant folding happens only in the
    // optimizer, never on this analyzed tree). An overflowing/failing
    // cast means the value can't be bounded soundly: None, count
    // conservatively. Casts around the ATTRIBUTE stay unrecognized —
    // there the comparison domain is not the column's own.
    def litOf(e: Expression): Option[Any] = e match {
      case l: Literal => Some(convertToScala(l.value, l.dataType))
      case c @ Cast(_: Literal, _, _, _) =>
        scala.util.Try(convertToScala(c.eval(null), c.dataType)).toOption
      case _ => None
    }
    // each recognized leaf yields (column, values); the OR fold
    // requires every leaf to name the SAME column
    def leaves(e: Expression): Option[(String, Seq[Any])] = e match {
      case EqualTo(a: AttributeReference, v) if litOf(v).isDefined =>
        Some((a.name, Seq(litOf(v).get)))
      case EqualTo(v, a: AttributeReference) if litOf(v).isDefined =>
        Some((a.name, Seq(litOf(v).get)))
      case In(a: AttributeReference, vs) if vs.nonEmpty && vs.forall(litOf(_).isDefined) =>
        Some((a.name, vs.map(litOf(_).get)))
      case Or(x, y) =>
        for {
          (cx, vx) <- leaves(x)
          (cy, vy) <- leaves(y) if cy == cx
        } yield (cx, vx ++ vy)
      case _ => None
    }
    // one comparison leaf as (column, non-null bound value, isLower);
    // strict bounds report the literal itself — the CLOSED range is a
    // superset of the open one, so the prune stays sound
    def cmp(e: Expression): Option[(String, Any, Boolean)] = e match {
      case GreaterThanOrEqual(a: AttributeReference, v) =>
        litOf(v).filter(_ != null).map((a.name, _, true))
      case GreaterThan(a: AttributeReference, v) =>
        litOf(v).filter(_ != null).map((a.name, _, true))
      case LessThanOrEqual(a: AttributeReference, v) =>
        litOf(v).filter(_ != null).map((a.name, _, false))
      case LessThan(a: AttributeReference, v) =>
        litOf(v).filter(_ != null).map((a.name, _, false))
      // literal-first forms flip the side: lit <= col bounds col below
      case GreaterThanOrEqual(v, a: AttributeReference) =>
        litOf(v).filter(_ != null).map((a.name, _, false))
      case GreaterThan(v, a: AttributeReference) =>
        litOf(v).filter(_ != null).map((a.name, _, false))
      case LessThanOrEqual(v, a: AttributeReference) =>
        litOf(v).filter(_ != null).map((a.name, _, true))
      case LessThan(v, a: AttributeReference) =>
        litOf(v).filter(_ != null).map((a.name, _, true))
      case _ => None
    }
    // the retention-takedown shape: lower AND upper on ONE column
    // (`between` desugars to exactly this). Yielded as a two-value
    // list so the min/max normalization below orders it — an inverted
    // range (matches nothing) just bounds conservatively wide.
    def rangeOf(e: Expression): Option[(String, Seq[Any])] = e match {
      case And(x, y) =>
        for {
          (cx, vx, lx) <- cmp(x)
          (cy, vy, ly) <- cmp(y) if cy == cx && lx != ly
        } yield (cx, Seq(vx, vy))
      case _ => None
    }
    val unwrapped = unwrap(analyzed)
    leaves(unwrapped).orElse(rangeOf(unwrapped)).flatMap { case (c, vs0) =>
      // a NULL literal can never match (the wrapper's coalesce makes
      // null comparisons false) — drop it; all-null means no bound
      val vs = vs0.filterNot(_ == null)
      if (vs.isEmpty) None
      else vs.head match {
        // bound in the domains mayContain compares: integral through
        // Long, floating through Double, strings by code point
        case _: Long | _: Int | _: Short | _: Byte =>
          val ls = vs.collect { case n: Number => n.longValue() }
          if (ls.size != vs.size) None else Some((c, ls.min, ls.max))
        case _: Double | _: Float =>
          val ds = vs.collect { case n: Number => n.doubleValue() }
          if (ds.size != vs.size) None else Some((c, ds.min, ds.max))
        case _: String =>
          val ss = vs.collect { case s: String => s }
          if (ss.size != vs.size) None
          else Some((c, ss.min(codePointOrdering), ss.max(codePointOrdering)))
        case _ => None // timestamps/decimals/binary: no zone-map domain
      }
    }
  }

  private val codePointOrdering: Ordering[String] =
    (a: String, b: String) => codePointCompare(a, b)

  /** One excision attempt against an explicitly-passed manifest read —
    * `private[graft]` test seam so the excise-vs-concurrent-commit
    * race spec can interleave a commit between the chain read and the
    * republish (the publish CAS must fail loudly AND the rewritten
    * dirs must be cleaned up, never a manifest that silently un-lists
    * the concurrent commit).
    */
  /** The counting-pass scan list: which segments COULD hold a match
    * for `condition` — referenced columns present in the segment's
    * schema AND (for the recognized equality/isin shapes,
    * [[conditionBounds]]) the committed zone maps not excluding every
    * named value. Shared by [[exciseFrom]] and the decision-as-data
    * probe [[excisePlannedScans]]; also validates the condition
    * (loud AnalysisException for unknown columns, refusal for
    * constant predicates) against the chain's union schema —
    * schema-only, where(false) collapses before any scan.
    */
  /** The chain's null-filled union schema — what [[asOf]]-family
    * reads answer with on an evolved chain. Footer reads only
    * (`where(false)` collapses before any scan); serving-layer
    * callers use it to type request literals in the WIDE form an
    * evolved chain resolves to.
    */
  def chainSchema(spark: SparkSession, root: String): org.apache.spark.sql.types.StructType = {
    val lines = manifestState(spark, root).lines
    require(lines.nonEmpty, s"empty snapshot store at $root")
    lines
      .map(l => Sources.readParquet(spark, s"$root/${l.rel}").where(lit(false)))
      .reduce(_.unionByName(_, allowMissingColumns = true))
      .schema
  }

  private final case class ExcisePlan(
      hit: Column, refs: Seq[String],
      refTypes: Map[String, org.apache.spark.sql.types.DataType],
      matchable: Seq[ManifestLine])

  private def exciseCandidates(
      spark: SparkSession, root: String, condition: Column,
      st: ManifestState): ExcisePlan = {
    require(st.lines.nonEmpty, s"empty snapshot store at $root")
    val hit = coalesce(condition, lit(false))
    // ONE footer-read round: the per-segment frames captured here
    // serve the union-schema condition analysis AND the per-segment
    // schema checks below (re-reading per check would pay a listing
    // and a schema-memo stat per segment per pass on a years-long
    // chain)
    val segFrames = st.lines.map(l => l -> Sources.readParquet(spark, s"$root/${l.rel}"))
    val unionFrame = segFrames.map(_._2.where(lit(false)))
      .reduce(_.unionByName(_, allowMissingColumns = true))
    val analyzedCond = unionFrame.filter(hit).queryExecution.analyzed.collect {
      case fl: org.apache.spark.sql.catalyst.plans.logical.Filter => fl.condition
    }.headOption.getOrElse(throw new IllegalStateException(
      "excision condition did not analyze to a Filter — cannot happen for a filter() plan"))
    val refs = analyzedCond.references.map(_.name).toSeq.distinct.sorted
    require(refs.nonEmpty,
      "excision condition references no columns — a constant predicate would erase " +
        "(or keep) the whole table; name the rows via their key columns")
    val refTypes = refs.map(c => c -> unionFrame.schema(c).dataType).toMap
    // zone-map skip ONLY for the takedown's recognized shape (one
    // column's equality / isin over non-null literals): there a
    // segment lacking the column holds only nulls for it and can
    // never match, and a segment whose committed stats exclude every
    // named value is provably clean — neither is ever opened. On a
    // years-long keyed chain that is "open the segments whose range
    // intersects", not "count-scan the store". A stats sidecar whose
    // recorded type family diverged from the union schema (the chain
    // evolved int → double/string across a full) keeps the segment
    // CONSERVATIVELY — mayContain's loud domain error is for typo'd
    // reader bounds, not for a legal takedown on an evolved chain.
    // Unrecognized shapes count EVERYWHERE — including segments that
    // lack a referenced column, whose rows hold null there under the
    // chain's union semantics and which a null-MATCHING condition
    // (col.isNull) legitimately selects; those segments read with the
    // missing refs null-filled (for null-REJECTING conditions the
    // optimizer folds the null comparison to false and the scan
    // collapses — the inclusion costs a footer read, not a scan).
    val bounds = conditionBounds(analyzedCond)
    val matchable = segFrames.filter { case (l, seg) =>
      bounds match {
        case Some((c, lo, hi)) =>
          seg.columns.contains(c) &&
            scala.util.Try(mayContain(segmentStats(spark, root, l.rel), c, lo, hi))
              .getOrElse(true)
        case None => true
      }
    }.map(_._1)
    ExcisePlan(hit, refs, refTypes, matchable)
  }

  /** A segment frame with the condition's referenced columns present:
    * columns the segment predates (or dropped) appear as typed nulls,
    * exactly the value the chain's union semantics give their rows —
    * so the counting and rewrite passes evaluate the SAME predicate
    * every merged read would.
    */
  private def withRefCols(
      seg: DataFrame, refs: Seq[String],
      refTypes: Map[String, org.apache.spark.sql.types.DataType]): DataFrame =
    refs.foldLeft(seg)((d, c) =>
      if (d.columns.contains(c)) d else d.withColumn(c, lit(null).cast(refTypes(c))))

  /** The versions [[excise]]'s counting pass would open for
    * `condition` — the pruning decision as data, the excision twin of
    * [[prunedTo]]/[[prunedMergeTo]], for tests and operational "what
    * would this takedown touch" checks.
    */
  private[graft] def excisePlannedScans(
      spark: SparkSession, root: String, condition: Column): Seq[Long] =
    exciseCandidates(spark, root, condition, manifestState(spark, root)).matchable.map(_.v)

  private[graft] def exciseFrom(
      spark: SparkSession, root: String, condition: Column,
      st: ManifestState, meta: Map[String, String] = Map.empty,
      crashBeforeDelete: Boolean = false): Seq[(Long, Long)] = {
    val plan = exciseCandidates(spark, root, condition, st)
    import plan.{hit, refs, refTypes, matchable}
    // ONE counting job across all matchable segments: per-segment
    // match counts, condition pushed into each scan; segments that
    // predate a referenced column evaluate it as the typed null their
    // rows carry under union semantics
    val matched: Map[Long, Long] =
      if (matchable.isEmpty) Map.empty
      else matchable
        .map(l =>
          withRefCols(Sources.readParquet(spark, s"$root/${l.rel}"), refs, refTypes)
            .where(hit).select(lit(l.v).as("_seg")))
        .reduce(_ unionByName _)
        .groupBy(col("_seg")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (matched.isEmpty)
      throw new IllegalArgumentException(
        s"excision condition matched NO rows in $root (condition columns: " +
          s"${refs.mkString(", ")}) — refusing to record a no-op takedown; " +
          "check the key values (and that the columns are spelled as committed)")
    val f = fs(spark, root)
    // track every attempted rewrite path so a mid-loop failure (write
    // error, executor loss) deletes the N-1 finished copies AND the
    // partial Nth dir immediately instead of leaving them as orphans
    // until a vacuum sweep — the same eager cleanup the publish-race
    // catch below applies after the loop
    val attempted = scala.collection.mutable.ArrayBuffer.empty[String]
    val rewritten =
      try st.lines.filter(l => matched.contains(l.v)).map { l =>
        val seg = Sources.readParquet(spark, s"$root/${l.rel}")
        val newRel = s"v${l.v}-${java.util.UUID.randomUUID.toString.take(8)}"
        attempted += newRel
        // survivors keep the segment's EXACT schema: ref columns added
        // only to evaluate the condition are projected back out
        withRefCols(seg, refs, refTypes).filter(!hit)
          .select(seg.columns.map(col).toIndexedSeq: _*)
          .write.mode("errorifexists").parquet(s"$root/$newRel")
        segmentStats(spark, root, l.rel).foreach { stats =>
          writeStatsSidecar(seg, root, newRel, stats.keys.toSeq.sorted)
        }
        // blooms recompute over survivors too: carrying the ORIGINAL
        // filter forward would be sound (false positives only), but a
        // takedown that leaves the excised keys probeable as "maybe
        // here" forever is the wrong default for a PII erasure
        segmentBloom(spark, root, l.rel).foreach { bl =>
          writeBloomSidecar(seg, root, newRel, bl.keys.toSeq.sorted)
        }
        (l, newRel)
      }
      catch {
        case e: Throwable =>
          attempted.foreach { nr =>
            try { f.delete(new Path(root, nr), true); () }
            catch { case scala.util.control.NonFatal(_) => () } // best-effort; sweep reclaims
          }
          throw e
      }
    val byV = rewritten.map { case (l, nr) => l.v -> nr }.toMap
    // rewritten lines keep version, kind, stamp AND provenance meta —
    // only the data path moves
    val newLines = st.lines.map(l => byV.get(l.v).map(nr => l.copy(rel = nr)).getOrElse(l))
    try publishAt(spark, root, st.fileNum + 1, newLines)
    catch {
      case e: Throwable =>
        // lost the CAS (or failed to publish): the rewrites are
        // unreferenced — delete them now rather than leaving cleaned
        // copies to the orphan sweep, then surface the failure
        rewritten.foreach { case (_, nr) =>
          f.delete(new Path(root, nr), true); ()
        }
        throw e
    }
    val report = rewritten.map { case (l, _) => l.v -> matched(l.v) }.sortBy(_._1)
    // audit record under the file number OUR publish just won —
    // unique by the CAS, so a concurrent excision can't collide on
    // the name, and a race LOSER never reaches this line. Ordering:
    // publish → audit attempt → delete originals; a crash between
    // publish and audit leaves the excision effective but unlogged
    // (the takedown wins over its paper trail), one between audit
    // and delete leaves logged-with-orphaned-originals for the sweep.
    val auditFailure: Option[Throwable] =
      try { writeExciseLog(f, root, st.fileNum + 1, refs, report, meta); None }
      catch { case scala.util.control.NonFatal(e) => Some(e) }
    // test seam: simulate the process dying between publish and the
    // originals' deletion — the documented crash window whose
    // convergence (vacuum finishes the physical cleanup, the audit
    // record survives) SnapshotsSpec proves
    if (crashBeforeDelete) throw new IllegalStateException(
      "injected crash between excision publish and original-segment delete")
    // PII leaves the disk here — after the publish, so no manifest
    // ever points at a deleted directory. This runs even when the
    // audit write failed: the takedown's EFFECT always wins over its
    // paper trail.
    rewritten.foreach { case (l, _) => f.delete(new Path(root, l.rel), true); () }
    // effect-then-loud: a silently-missing GDPR record (a 200 whose
    // operator closes the ticket believing the durable proof exists)
    // is worse than a scary error — the excision is COMPLETE, the
    // error says so and carries the report, and the remedy is to fix
    // the store's writability and record the takedown out of band.
    auditFailure.foreach { e =>
      throw new IllegalStateException(
        s"excision of $root TOOK EFFECT (rewrote ${report.map { case (v, n) =>
          s"v$v ($n rows)" }.mkString(", ")}; originals deleted) but its audit " +
          s"record _excise.v${st.fileNum + 1} could not be written — record the " +
          "takedown out of band and fix the store's writability", e)
    }
    report
  }

  /** Continuous ingest: sink a streaming frame into the store, one
    * delta version per non-empty micro-batch — the reference's
    * transactional "import batch" fed by a stream instead of a file
    * drop. Rows with a true `_deleted` column are tombstones, exactly
    * as in [[commitDelta]].
    *
    * Delivery is at-least-once (foreachBatch): after a failure a
    * replayed batch re-commits the same upserts under a fresh version.
    * That is effect-idempotent for every merged read — last-writer-wins
    * over identical content — so `latest`/`asOf` never see duplicates;
    * only the raw version numbering records the replay.
    *
    * `statsCols` threads the zone-map sidecar ([[commitDelta]]) into
    * every micro-batch commit — the time-series pattern: a stream
    * stamped with an event-time column makes each segment's time range
    * a zone map, so [[readAppendOnlyWhere]] over "last hour" opens the
    * newest segments and skips the months behind them.
    */
  def streamInto(
      stream: DataFrame, root: String, checkpoint: String,
      statsCols: Seq[String] = Nil): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // persist: the emptiness probe and the commit write would
        // otherwise each recompute the micro-batch from the source
        batch.persist()
        try if (!batch.isEmpty) { commitDelta(batch, root, statsCols = statsCols); () }
        finally { batch.unpersist(); () }
      }
      .start()

  /** CDC-style changes between two versions: one row per key whose
    * visible state differs between `asOf(fromV)` and `asOf(toV)`,
    * tagged `_change ∈ {insert, update, delete}`. The history-query
    * shape of the reference's immutable store ("what did this import
    * batch do?"), computed as one full-outer join of the two as-of
    * reads on the key — non-key columns come from the `toV` side for
    * inserts/updates and the `fromV` side for deletes.
    */
  /** Per-entity history — the full timeline of every key in ONE
    * chain read: (version, commit_ts_ms, op, key..., payload...,
    * commit_meta), one row per state CHANGE of a key, ordered per key
    * by version; `commit_meta` is the committing transaction's
    * provenance map ([[commit]]'s `meta` — empty when none was
    * supplied), so "which import job wrote this state" reads off the
    * row.
    * The Datomic-ism [[changes]] (version-pair CDC) and q9d
    * (instant-addressed as-of) don't cover: "all versions of key K
    * with commit timestamps, in one call", previously a client-side
    * loop over versions.
    *
    * Semantics per segment kind:
    *  - delta rows: `insert` when the key had no live prior state,
    *    `update` otherwise; tombstones: `delete` (no-op tombstones —
    *    key already dead or never live — are dropped, matching
    *    [[changes]]' no-op discipline);
    *  - full snapshots: a row whose payload differs from the prior
    *    live state is an `update` (or `insert` after a delete/never);
    *    an IDENTICAL restatement (the compaction artifact) is
    *    dropped; a key live before the full but ABSENT from it is a
    *    synthesized `delete` — a full redefines the table, so
    *    disappearance is a real retraction with the full's version
    *    and stamp.
    *
    * Scale shape: one null-filled union over the chain's segments
    * (key filters PUSH into every parquet scan — a single-key lookup
    * prunes by row group) and two key-partitioned window shuffles,
    * INDEPENDENT of how many fulls the chain holds: a lead pass
    * derives the synthetic deletes against the manifest's full list
    * carried as a LITERAL array (per event row, the first full in
    * the gap to its next event — later gap fulls are no-ops by
    * definition), and the classification pass runs lag over events
    * plus synths. No per-full anti-join, no per-full chain re-scan —
    * a never-vacuumed chain with monthly compactions reads in the
    * same two passes as a fresh one. Payload equality is null-safe
    * column compare (`<=>`), computed on the lag of the SAME window —
    * no self-join. Evolved chains read with the union schema,
    * null-filled, so a history row carries every column its version
    * knew plus typed nulls for the rest; commit_ts_ms is null on
    * manifest lines that predate the timestamp field ("unknown", not
    * epoch). A batch that carried the SAME key twice has no defined
    * within-version order here — exactly as in [[asOf]], whose
    * last-writer-wins tie among same-version rows is equally
    * arbitrary; keep import batches key-unique (q9a checks this).
    */
  def history(spark: SparkSession, root: String, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(keys.nonEmpty, "history needs at least one merge key column")
    val chain = manifestState(spark, root).lines
    require(chain.nonEmpty, s"empty snapshot store at $root")
    val frames = chain.map { case ManifestLine(v, kind, rel, ts, meta) =>
      val seg = Sources.readParquet(spark, s"$root/$rel")
      val missingKeys = keys.filterNot(seg.columns.contains)
      if (missingKeys.nonEmpty) throw new IllegalStateException(
        s"segment v$v of $root lacks merge key column(s) ${missingKeys.mkString(", ")} " +
          "— the store cannot be history-read on these keys")
      normDeleted(seg)
        .withColumn("_v", lit(v))
        .withColumn("_ts", if (ts >= 0) lit(ts) else lit(null).cast("long"))
        .withColumn("_kind", lit(kind))
        // the committing transaction's provenance facts, manifest
        // metadata riding the plan as a literal — no data read
        .withColumn("_meta", typedLit(meta))
    }
    val all = frames.reduce(_.unionByName(_, allowMissingColumns = true))
    val payload = all.columns.toSeq
      .filterNot(c => keys.contains(c) || c == "_deleted" || c == "_v" || c == "_ts"
        || c == "_kind" || c == "_meta")
    val base = all.select(keys.map(col) ++ payload.map(col) ++
      Seq(col("_deleted"), col("_v"), col("_ts"), col("_kind"), col("_meta")): _*)
    // synthetic deletes: a key live just before a full snapshot but
    // absent from it was retracted by that full. Single pass, not
    // per-full: a key's state between consecutive events is its
    // latest event, so "live just before vf and absent from vf" holds
    // exactly when some LIVE event's version gap (v, next_v) contains
    // vf strictly — and only the FIRST full in a gap matters (a later
    // gap full re-retracts an already-dead key, the no-op tombstone
    // the classification below drops anyway). The fulls list is
    // driver-side manifest metadata, tiny by construction, so it
    // rides into the plan as a literal struct array and the gap probe
    // is a scalar expression on the lead window — no anti-join, no
    // chain re-scan per full.
    val fulls = chain.filter(l => l.kind == "full" && l.v > chain.head.v)
    val synths: Option[DataFrame] = if (fulls.isEmpty) None else Some {
      val fullsArr = array(fulls.map { l =>
        struct(lit(l.v).as("v"),
          (if (l.ts >= 0) lit(l.ts) else lit(null).cast("long")).as("ts"),
          typedLit(l.meta).as("m"))
      }: _*)
      val wLead = Window.partitionBy(keys.map(col): _*).orderBy(col("_v"))
      base
        .withColumn("_next_v", lead(col("_v"), 1).over(wLead))
        .filter(!col("_deleted"))
        // get() (not element_at) — an empty filtered array must read
        // as "no full in the gap" (null), not an ANSI index error
        .withColumn("_sf", get(filter(fullsArr,
          f => f("v") > col("_v") &&
            (col("_next_v").isNull || f("v") < col("_next_v"))), lit(0)))
        .filter(col("_sf").isNotNull)
        .select(keys.map(col) ++
          payload.map(c => lit(null).cast(all.schema(c).dataType).as(c)) ++ Seq(
            lit(true).as("_deleted"),
            col("_sf")("v").as("_v"),
            col("_sf")("ts").as("_ts"),
            lit("full").as("_kind"),
            col("_sf")("m").as("_meta")): _*)
    }
    val evts = (base +: synths.toSeq).reduce(_ unionByName _)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("_v"))
    // previous event's liveness and payload, over the same window
    val prevDead = lag(col("_deleted"), 1, true).over(w)
    val samePayload = payload
      .map(c => col(c) <=> lag(col(c), 1).over(w))
      .reduceOption(_ && _).getOrElse(lit(true))
    evts
      .withColumn("_prev_dead", prevDead)
      .withColumn("_same", samePayload && !col("_prev_dead"))
      .withColumn("op",
        when(col("_deleted") && col("_prev_dead"), lit(null).cast("string")) // no-op tombstone
          .when(col("_deleted"), lit("delete"))
          .when(col("_prev_dead"), lit("insert"))
          .when(col("_same") && col("_kind") === "full", lit(null).cast("string")) // no-op restatement
          .when(col("_same"), lit("update")) // explicit delta rewrite, kept
          .otherwise(lit("update")))
      .filter(col("op").isNotNull)
      .select(Seq(col("_v").as("version"), col("_ts").as("commit_ts_ms"), col("op")) ++
        keys.map(col) ++ payload.map(col) :+ col("_meta").as("commit_meta"): _*)
  }

  def changes(
      spark: SparkSession, root: String, fromV: Long, toV: Long,
      keys: Seq[String]): DataFrame = {
    require(fromV < toV, s"changes requires fromV < toV, got $fromV >= $toV")
    diffStates(asOf(spark, root, fromV, keys), asOf(spark, root, toV, keys), keys)
  }

  /** The diff core [[changes]] and [[streamChangesInto]] share: one
    * full-outer join of two merged states on the key, rows tagged
    * `_change ∈ {insert, update, delete}`, no-op rewrites skipped.
    */
  private def diffStates(
      before: DataFrame, after: DataFrame, keys: Seq[String]): DataFrame = {
    // the two as-of reads can straddle a schema evolution: diff over
    // the UNION of their data columns, with the side that predates
    // (or dropped) a column contributing typed nulls — so adding a
    // column with value v reads as an update, exactly what a CDC
    // consumer applying the feed needs
    val dataCols = (after.columns ++ before.columns.filterNot(after.columns.contains))
      .filterNot(keys.contains).toSeq
    val typeOf = (after.schema.fields ++ before.schema.fields)
      .map(f => f.name -> f.dataType).toMap
    def sideCol(df: DataFrame, c: String): Column =
      if (df.columns.contains(c)) col(c) else lit(null).cast(typeOf(c))
    val b = before.select(
      keys.map(col) ++ dataCols.map(c => sideCol(before, c).as(s"_b_$c"))
        :+ lit(true).as("_in_b"): _*)
    val a = after.select(
      keys.map(col) ++ dataCols.map(c => sideCol(after, c).as(s"_a_$c"))
        :+ lit(true).as("_in_a"): _*)
    val joined = b.join(a, keys, "full_outer")
    val changedData = dataCols
      .map(c => !(col(s"_b_$c") <=> col(s"_a_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    joined
      .withColumn("_change",
        when(col("_in_b").isNull, lit("insert"))
          .when(col("_in_a").isNull, lit("delete"))
          .when(changedData, lit("update")))
      .filter(col("_change").isNotNull)
      .select(keys.map(col) ++ dataCols.map(c =>
        when(col("_change") === "delete", col(s"_b_$c"))
          .otherwise(col(s"_a_$c")).as(c)) :+ col("_change"): _*)
  }

  /** Continuous CDC tail — FOLLOW the store: a streaming query that
    * polls the manifest tip and appends each new span's change feed
    * ([[changes]]' rows plus `_from_v`/`_to_v` span stamps) to an
    * append-only OUTPUT store. The follower side of [[streamInto]]:
    * one store ingests continuously, any number of downstream
    * consumers tail its changes without re-diffing by hand.
    *
    * Progress IS the output: the last tailed version is read off the
    * newest output segment's `_to_v` (one small segment read per
    * poll, no side-channel state file), and the output commit is the
    * atomic progress publish — a poll that crashes after computing
    * but before committing replays the SAME span next time, and a
    * replayed span recomputes the identical rows against the
    * identical version pair (deterministic), so the output store
    * sees each span exactly once. Quiet spans (versions advanced,
    * nothing changed — compactions) commit nothing; the next
    * non-quiet poll covers the widened span in one feed.
    *
    * Per-poll cost: when the span holds only DELTAS, both as-of
    * sides are first semi-joined to the span's own keys (the only
    * keys whose state can have changed — delta segments are small),
    * so the diff's shuffled payload is span-sized, not store-sized.
    * A span containing a FULL snapshot falls back to the full diff:
    * a full can retract keys no delta row names (the q9i
    * drop-by-compaction case), which a key-bounded diff would miss.
    * Schema evolution flows through: the output store commits with
    * `evolveSchema = true` and the feed's columns follow the
    * source's union schema.
    *
    * The driver stream is a 1-row rate tick per `pollIntervalMs`
    * (`ticks` overrides it — tests drive polls with a MemoryStream);
    * tick rows themselves are ignored.
    *
    * The SOURCE store must be merge-readable (a full base + keyed
    * deltas — [[asOf]]'s contract, which the diff runs on): tailing a
    * delta-only append-log store is a loud as-of error; its "feed"
    * is the store itself.
    *
    * ONE tail per output store is the intended deployment (fan out
    * consumers by READING one tailed store, the same single-writer
    * contract as [[streamInto]]'s checkpoint) — and the commit is
    * FENCED so an accidental second tail degrades to wasted compute,
    * never duplicated rows: two concurrent tails both read the same
    * `last` and diff the same span, but the loser's publish-race
    * retry first re-reads the output tip's `_to_v` and DROPS its
    * span when progress already advanced past `last`, instead of
    * blindly re-publishing the duplicate under the next version.
    */
  def streamChangesInto(
      spark: SparkSession, root: String, keys: Seq[String], outRoot: String,
      checkpoint: String, pollIntervalMs: Long = 1000L,
      ticks: Option[DataFrame] = None): StreamingQuery = {
    val driver = ticks.getOrElse(
      spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 1L)
        .option("advanceMillisPerBatch", pollIntervalMs)
        .load())
    driver.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (_: DataFrame, _: Long) => tailOnce(spark, root, keys, outRoot) }
      .start()
  }

  /** One poll of the CDC tail ([[streamChangesInto]]'s body; exposed
    * for deterministic single-step tests and batch catch-ups).
    */
  private[graft] def tailOnce(
      spark: SparkSession, root: String, keys: Seq[String], outRoot: String): Unit = {
    val vs = versions(spark, root)
    if (vs.isEmpty) return
    val tip = vs.last._1
    val last = versions(spark, outRoot).lastOption match {
      case Some((ov, _, _)) =>
        read(spark, outRoot, ov).agg(max(col("_to_v"))).head().getLong(0)
      // bootstrap: the tail starts AT the source's first version —
      // the baseline state is asOf(first) (consumers snapshot it
      // themselves); the feed then carries everything after it
      case None => vs.head._1
    }
    if (tip <= last) return
    tailSpan(spark, root, keys, outRoot, last, tip, vs)
  }

  /** Compute and commit one span's feed against an ALREADY-OBSERVED
    * (last, tip) pair — [[tailOnce]]'s body below the progress read.
    * `private[graft]` test seam: the duplicate-span race spec replays
    * a STALE observation after a rival tail landed the same span, and
    * the fenced commit must drop it rather than duplicate it.
    */
  private[graft] def tailSpan(
      spark: SparkSession, root: String, keys: Seq[String], outRoot: String,
      last: Long, tip: Long, vs: Seq[(Long, String, String)]): Unit = {
    val span = vs.filter(t => t._1 > last && t._1 <= tip)
    val feed = (if (span.exists(_._2 == "full"))
      changes(spark, root, last, tip, keys)
    else {
      val spanKeys = span
        .map { case (_, _, rel) =>
          Sources.readParquet(spark, s"$root/$rel").select(keys.map(col): _*) }
        .reduce(_ unionByName _)
        .distinct()
      diffStates(
        asOf(spark, root, last, keys).join(spanKeys, keys, "left_semi"),
        asOf(spark, root, tip, keys).join(spanKeys, keys, "left_semi"), keys)
    })
      .withColumn("_from_v", lit(last))
      .withColumn("_to_v", lit(tip))
    feed.persist()
    try {
      if (!feed.isEmpty) {
        // FENCED commit, not commitDeltaRetrying: a blind OCC retry
        // would let TWO concurrent tails of the same output both land
        // the same span (both read the same `last`, the loser's retry
        // re-publishes under the next version — every span row
        // duplicated, silently). The span's feed data is written ONCE
        // (the manifest is the only source of truth for version →
        // path, so re-publishing the same directory under a later
        // version is the normal OCC shape — never one feed-sized
        // write per retry); each PUBLISH attempt then (1) re-reads
        // the output tip's progress stamp and DROPS the span when
        // max(_to_v) already moved past the `last` it was computed
        // from — another tail landed this (or a later) span, the dir
        // becomes an orphan for the sweep — and (2) publishes through
        // the link-CAS pinned at the fenced observation's next
        // version, so a rival commit landing between the check and
        // the publish fails loudly and sends the loop back to (1),
        // never a silent duplicate. Only a rival publish that did NOT
        // advance progress (an operational commit on the output
        // store) actually retries.
        def progressedAt(stx: ManifestState): Boolean = stx.lines.lastOption.exists { l =>
          Sources.readParquet(spark, s"$outRoot/${l.rel}")
            .agg(max(col("_to_v"))).head().getLong(0) > last
        }
        var st = manifestState(spark, outRoot)
        // fence BEFORE the data write: the already-landed-loser case
        // (a rival tail committed this span while we diffed it) drops
        // the span for the cost of one column-pruned agg, not a
        // feed-sized parquet write destined straight for the orphan
        // sweep
        if (!progressedAt(st)) {
          val rel = s"v${st.lines.lastOption.map(_.v + 1).getOrElse(1L)}" +
            s"-${java.util.UUID.randomUUID.toString.take(8)}"
          feed.write.mode("errorifexists").parquet(s"$outRoot/$rel")
          var attempt = 0
          var done = false
          while (!done) {
            attempt += 1
            val v = st.lines.lastOption.map(_.v + 1).getOrElse(1L)
            try {
              publishAt(spark, outRoot, st.fileNum + 1,
                st.lines :+ ManifestLine(v, "delta", rel, System.currentTimeMillis(), Map.empty))
              done = true
            } catch {
              case e: IllegalStateException
                  if e.getMessage != null &&
                    e.getMessage.contains("manifest publish race") =>
                if (attempt >= 8) throw e
                st = manifestState(spark, outRoot)
                // a rival that landed this (or a later) span between
                // our fence and our publish: drop — the written dir
                // becomes an orphan for the sweep, never a duplicate
                if (progressedAt(st)) done = true
            }
          }
        }
      }
    } finally { feed.unpersist(); () }
  }
}

package graft.serve

import graft.Tables
import graft.ann.{Knn, LshGeometry}
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity-search-as-a-service: the index object behind the
  * server's `POST /ann/search` (SURVEY §2.14 srv10).
  *
  * A per-request [[graft.ann.Knn.lshTopK]] would re-count and re-band
  * the whole corpus for every HTTP call — a full scan per request,
  * the exact shape that dies first at warehouse scale. Instead the
  * index is built ONCE per source VERSION (lazily, on the first
  * search; the server compares the [[AnnServing.Source]] freshness
  * stamp per request and rebuilds only when it moves — see
  * [[sourceVersion]]): corpus + norms and the banded
  * (vec_id, tbl, bkt) keys are materialized and cached, and each
  * request then costs only
  *
  *  1. bucketing the POSTed vector DRIVER-side — the hyperplanes are
  *     a deterministic seeded draw ([[graft.ann.Knn.hyperplanes]]),
  *     so the query's (table, bucket) keys come from a ~tables×planes
  *     dot-product loop with no Spark job at all;
  *  2. one pruned probe of the banded index (an OR-of-buckets
  *     predicate over ≤ tables × (planes+1) keys — pushdown-friendly
  *     and tiny against the 2^planes × tables keyspace);
  *  3. cosine re-scoring of the candidate slice against the vector
  *     as a broadcast literal, top-k by one narrow sort.
  *
  * The geometry is the library solver's ([[LshGeometry.resolve]] at
  * [[Knn.SearchTau]]), so a served search returns exactly what
  * `lshTopK` returns for an in-corpus query row — ServeSpec pins that
  * equality. `method=brute` skips the probe and scans the cached
  * corpus (the exact answer, for small corpora or recall audits).
  *
  * Un-scorable rows (NaN/Inf/zero-norm/null) score NULL through the
  * guarded [[cosine]] and are filtered out of neighbor lists — the
  * library-wide keep-with-null convention; the QUERY vector itself is
  * validated loudly (400) instead, since a garbage query has no
  * meaningful neighbors at all.
  */
final class AnnServing private (
    val geometry: LshGeometry,
    val dims: Int,
    /** The corpus source's freshness stamp AT BUILD TIME (taken before
      * the corpus read, so a commit racing the build leaves the stamp
      * conservatively old and the next search detects it as stale).
      * The server compares it against the source's current stamp per
      * request — a cheap driver-side listing, no Spark job — and
      * rebuilds on mismatch, so continuous-ingest deployments (the
      * st0c sink committing vectors to the corpus store) never serve
      * frozen neighbors.
      */
    val sourceVersion: String,
    hpSeq: IndexedSeq[IndexedSeq[Seq[Double]]],
    corpus: DataFrame,
    banded: DataFrame) {

  /** Wall time this instance finished building — `/status` reports the
    * served index's age from it.
    */
  val builtAtMs: Long = System.currentTimeMillis()

  /** The banded (vec_id, tbl, bkt) keys — what warm-start persists. */
  private[serve] def bandedFrame: DataFrame = banded

  /** Release the two cache entries the build persisted. A
    * served-then-closed instance (rolling refresh, server shutdown,
    * test suites on a shared long-lived session) must not pin
    * corpus-sized blocks until the session dies. An in-flight search
    * that still holds the frames keeps working as long as the source
    * files exist (unpersist only drops the cached blocks; the plans
    * recompute) — if the version move that triggered the replacement
    * was a compact+VACUUM, that recompute can fail on the deleted
    * segments and the request 500s once, retrying against the fresh
    * index. The same pinned-reader trade-off
    * [[graft.sources.Snapshots.vacuum]] documents; vacuum behind the
    * oldest pin in use to avoid it.
    */
  def close(): Unit = {
    corpus.unpersist(blocking = false)
    banded.unpersist(blocking = false)
    ()
  }

  // array-backed planes for the request path: the seeded draw comes
  // back as Seq (List) rows, and indexing a List inside the dot loop
  // is O(d) per ELEMENT — O(d²) per plane, ~20M pointer hops per
  // request at 768 dims. One copy at construction makes it O(d).
  private val hp: Array[Array[Array[Double]]] =
    hpSeq.map(_.map(_.toArray).toArray).toArray

  /** Driver-side bucketing of one query vector — the same sign-bit
    * fold [[Knn.lshTables]] runs in codegen, on the same planes.
    * (Finite inputs only — callers validate; Spark's NaN-greatest
    * `NaN > 0` would diverge from Scala's `false` here, which is one
    * of the reasons the query vector is rejected unless finite.)
    */
  private[graft] def bucketsOf(q: Array[Double]): Seq[(Int, Long)] =
    (0 until geometry.tables).map { t =>
      var bkt = 0L
      var j = 0
      while (j < geometry.planes) {
        val h = hp(t)(j)
        var dot = 0.0
        var i = 0
        while (i < dims) { dot += q(i) * h(i); i += 1 }
        if (dot > 0) bkt |= (1L << j)
        j += 1
      }
      (t, bkt)
    }

  /** Driver-side 1-bit probe expansion: each (table, bucket) key plus
    * the `planes` keys at hamming distance 1 — the same variants
    * [[graft.ann.Knn.probe1Expand]] emits (spec-pinned parity).
    */
  private[graft] def probe1Keys(base: Seq[(Int, Long)]): Seq[(Int, Long)] =
    base.flatMap { case (t, b) =>
      (b +: (0 until geometry.planes).map(j => b ^ (1L << j))).map(t -> _)
    }.distinct

  private def validated(vector: Seq[Double]): (Array[Double], Double) = {
    require(vector.nonEmpty, "vector must be non-empty")
    require(vector.length == dims,
      s"vector has ${vector.length} dims, the index expects $dims")
    require(vector.forall(v => !v.isNaN && !v.isInfinite),
      "vector must be finite (no NaN/Infinity) — an un-scorable query has no neighbors")
    val q = vector.toArray
    val qn = math.sqrt(q.map(v => v * v).sum)
    require(qn > 0 && !qn.isInfinite,
      "vector norm must be positive and finite — a zero/overflowing vector has no direction")
    (q, qn)
  }

  /** Top-k neighbors of `vector`: (vec_id, cosine), best-first. */
  def search(vector: Seq[Double], k: Int, method: String = "lsh"): Seq[(Long, Double)] = {
    val (q, qn) = validated(vector)
    require(k > 0, s"k must be positive: $k")
    val scored = method match {
      case "brute" => corpus
      case "lsh" =>
        val base = bucketsOf(q)
        // 1-bit multiprobe on the QUERY side only when the solver's
        // geometry says so — mirrors lshTopK's probe placement. This
        // is the one NECESSARILY driver-side sibling of
        // Knn.probe1Expand's bit-flip (no DataFrame exists to expand
        // here); ServeSpec's probe-parity test pins the two
        // expansions key-for-key so they cannot drift.
        val probed =
          if (!geometry.probe1) base
          else probe1Keys(base)
        // OR-of-buckets, grouped per table: ≤ tables isin-terms that
        // Catalyst folds into the index scan
        val pred = probed.groupBy(_._1).toSeq.map { case (t, bs) =>
          col("tbl") === t && col("bkt").isin(bs.map(_._2): _*)
        }.reduce(_ || _)
        corpus.join(banded.filter(pred).select("vec_id").distinct(), "vec_id")
      case other =>
        throw new IllegalArgumentException(s"unknown method '$other' (one of: lsh, brute)")
    }
    scored
      .select(col("vec_id"),
        cosine(typedLit(q.toSeq), col("embedding"), lit(qn), col("nrm")).as("cos"))
      .filter(col("cos").isNotNull)
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .toSeq
  }
}

object AnnServing {

  /** Where the served corpus comes from, plus a driver-side freshness
    * stamp (`version` must run NO Spark jobs — it is consulted on
    * every search request).
    */
  sealed trait Source {
    /** The (vec_id, embedding) frame to index. */
    def frame(spark: SparkSession): DataFrame
    /** Cheap change stamp: two equal stamps mean the built index is
      * still current; any difference triggers a rebuild.
      */
    def version(spark: SparkSession): String
  }

  /** The static embeddings parquet under `dataDir` — freshness is the
    * file listing's signature (names × mtimes × lengths, order-
    * independent), so an overwritten/regenerated table invalidates the
    * cache. One recursive listing per request: the same metadata cost
    * every Spark scan of the table pays at planning time.
    */
  final case class ParquetSource(dataDir: String) extends Source {
    def frame(spark: SparkSession): DataFrame =
      Tables.embeddings(spark, dataDir).select("vec_id", "embedding")
    def version(spark: SparkSession): String =
      graft.sources.Sources.listingSignature(spark, s"$dataDir/embeddings.parquet")
  }

  /** A versioned snapshot store of (vec_id, embedding) rows — the
    * corpus store the continuous vector-ingest sink
    * ([[graft.streaming.EventStreams.streamVecDedupIngest]], st0c)
    * appends keepers to. Freshness is the manifest FILE number, which
    * advances on every publish (delta commit, compact, vacuum trim) —
    * one manifest listing per request, no data touched. The read is
    * the store's append-only supersession chain, exactly what the
    * ingest sink itself dedups against.
    */
  final case class StoreSource(root: String) extends Source {
    def frame(spark: SparkSession): DataFrame =
      graft.sources.Snapshots.readAppendOnly(spark, root).select("vec_id", "embedding")
    def version(spark: SparkSession): String =
      s"m${graft.sources.Snapshots.manifestState(spark, root).fileNum}"
  }

  /** Build over the static embeddings table (the default source). */
  def build(spark: SparkSession, dataDir: String): AnnServing =
    build(spark, ParquetSource(dataDir))

  /** [[build]] with WARM-START: when `warmRoot` is set, a build first
    * looks for a persisted banded index whose recorded source stamp
    * matches the source's CURRENT stamp, and loads it instead of
    * re-banding the corpus — so a restarted server pays one parquet
    * read of precomputed keys on its first search, not the full
    * tables×planes×n banding pass it previously re-ran per process.
    * A cold (or stale) build still bands inline, then PERSISTS the
    * banded frame through the snapshot store with the source stamp
    * and geometry as its manifest line's meta — the image and its
    * geometry publish in one CAS, so a crash mid-save leaves the
    * previous image intact — then vacuums superseded versions.
    * The stamp check means a warm image NEVER outlives its corpus
    * version: any source commit invalidates it and the next build
    * re-bands and re-persists.
    */
  def build(spark: SparkSession, source: Source, warmRoot: Option[String]): AnnServing =
    warmRoot match {
      case None => build(spark, source)
      case Some(root) =>
        val stamp = source.version(spark)
        loadWarm(spark, source, root, stamp).getOrElse {
          val built = build(spark, source)
          // persist under the stamp the BUILD recorded (conservative:
          // a commit racing the build makes the image immediately
          // stale, same as the in-memory instance). Best-effort with
          // a LOUD stderr trail, never fatal: the index in hand is
          // complete and correct whether or not the cache write
          // lands — two servers cold-starting on a SHARED warmRoot
          // race the store's publish CAS, and failing the loser's
          // first search over a cache it doesn't need would turn a
          // benign race into a 503 (the winner's image serves both
          // on the next restart)
          try saveWarm(spark, built, root)
          catch {
            case scala.util.control.NonFatal(e) => System.err.println(
              s"[graft] ann warm-start image NOT persisted to $root " +
                s"(serving continues from the in-memory index): $e")
          }
          built
        }
    }

  /** Newest full snapshot in `root` whose line meta records exactly
    * `stamp` — loaded as the serving index. Any mismatch (no store, a
    * moved stamp, an image written before the geometry moved onto the
    * manifest line, wrong schema) falls through to the inline build;
    * warm start is an optimization, its absence is never an error.
    * The stamp and geometry come from the one manifest read, so a
    * warm load costs no job beyond materializing the banded read
    * (before the instance is published, so the first search pays no
    * banding).
    */
  private def loadWarm(
      spark: SparkSession, source: Source, root: String, stamp: String): Option[AnnServing] =
    scala.util.Try {
      graft.sources.Snapshots.manifestState(spark, root).lines
        .filter(l => l.kind == "full" && l.meta.get("stamp").contains(stamp))
        .lastOption.map { l =>
          val g = LshGeometry(l.meta("tables").toInt, l.meta("planes").toInt, l.meta("probe1").toBoolean)
          val dims = l.meta("dims").toInt
          val banded = graft.sources.Sources.readParquet(spark, s"$root/${l.rel}")
            .select("vec_id", "tbl", "bkt").persist()
          try {
            banded.count() // materialize: first search must not pay the read either
            val e = source.frame(spark)
              .select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("nrm"))
              .persist()
            try {
              e.count()
              new AnnServing(g, dims, stamp, Knn.hyperplanes(g.tables, g.planes, dims), e, banded)
            } catch { case t: Throwable => e.unpersist(blocking = false); throw t }
          } catch { case t: Throwable => banded.unpersist(blocking = false); throw t }
        }
    }.toOption.flatten

  /** Commit the built index's banded frame with its stamp and geometry
    * as the line's meta (one publish), then vacuum superseded versions
    * so restarts don't accrete one full snapshot per corpus version
    * forever.
    */
  private def saveWarm(spark: SparkSession, built: AnnServing, root: String): Unit = {
    val g = built.geometry
    val v = graft.sources.Snapshots.commit(built.bandedFrame, root, meta = Map(
      "stamp" -> built.sourceVersion, "tables" -> g.tables.toString,
      "planes" -> g.planes.toString, "probe1" -> g.probe1.toString, "dims" -> built.dims.toString))
    graft.sources.Snapshots.vacuum(spark, root, keepAfterVersion = v)
    ()
  }

  /** Build (and materialize) the serving index over `source`. Costs
    * one corpus scan + one banding pass — paid once per source
    * VERSION (the server rebuilds when the source's stamp moves), not
    * per request.
    */
  def build(spark: SparkSession, source: Source): AnnServing =
    buildGeom(spark, source, None)

  /** [[build]] with the TABLES dimension of the geometry overridden —
    * the measured recall ladder's knob (PLANS.md: more tables buys
    * candidate recall linearly in banding cost; the solver's default
    * is calibrated for the shipped scales). Planes and the probe
    * policy stay the solver's: tables is the one axis whose
    * recall/cost trade is measured and monotone. Warm-start images
    * are NOT consulted or written for overridden builds — the
    * persisted image records only the default geometry, and loading
    * it under a different tables count would serve the wrong index.
    */
  def buildWithTables(spark: SparkSession, source: Source, tables: Int): AnnServing = {
    require(tables > 0, s"tables must be positive, got $tables")
    buildGeom(spark, source, Some(tables))
  }

  private def buildGeom(
      spark: SparkSession, source: Source, tablesOverride: Option[Int]): AnnServing = {
    // stamp BEFORE the read: a commit landing mid-build leaves the
    // stamp old, so the next request sees stale-and-rebuilds rather
    // than serving a half-of-the-commit corpus forever
    val stamp = source.version(spark)
    val e = source.frame(spark)
      .select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("nrm"))
      .persist()
    // a failed build (no scorable rows, a banding error) must release
    // what it persisted: the lazy-val holder will retry on the next
    // request, and an unreclaimed cache entry would pin memory for the
    // session's whole life per failure class
    try {
      val n = e.count()
      val dims = Knn.embDims(e).getOrElse(
        throw new IllegalArgumentException("embeddings table has no scorable rows"))
      val g0 = LshGeometry.resolve(n, Knn.SearchTau, 0, 0, probe1 = false)
      val g = tablesOverride.fold(g0)(t => g0.copy(tables = t))
      // dims passed EXPLICITLY: lshTables would otherwise re-derive it
      // with its own head(1) job, and on a mixed-width corpus the two
      // first-scorable-row picks could disagree — hyperplanes at width
      // A bucketing queries against an index banded at width B would
      // silently return near-empty candidate sets
      val banded = Knn.lshTables(e, g.tables, g.planes, dims = Some(dims))
        .select("vec_id", "tbl", "bkt").persist()
      try {
        banded.count() // materialize now: the first request must not pay the banding
        new AnnServing(g, dims, stamp, Knn.hyperplanes(g.tables, g.planes, dims), e, banded)
      } catch { case t: Throwable => banded.unpersist(blocking = false); throw t }
    } catch { case t: Throwable => e.unpersist(blocking = false); throw t }
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Cluster-safe one-shot materialization for frames consumed by more
  * than one downstream action (centroid training + verdict joins,
  * curation survivors feeding both the semantic stage and the final
  * join, ...).
  *
  * `localCheckpoint(true)` — the tempting default — stores blocks
  * UNREPLICATED on executors and truncates lineage, so on a real
  * cluster a single executor loss (spot preemption, OOM kill,
  * decommission) makes the staged frame unrecoverable and fails the
  * whole job. The default here is `persist(MEMORY_AND_DISK)` plus an
  * eager `count()`: blocks spill to local disk instead of having to
  * fit in executor storage, and lineage SURVIVES, so a lost block is
  * recomputed instead of killing the query. When
  * `spark.conf.set("graft.checkpointDir", "hdfs://...")` names a
  * reliable filesystem, `checkpoint(true)` is used instead — the
  * staged bytes live off-executor entirely, which also truncates the
  * plan (useful when the upstream pipeline is itself expensive enough
  * that recompute-on-loss is the wrong trade).
  *
  * This is NOT [[graft.dedup.Dedup]]'s iterative-loop lineage cut:
  * loops REQUIRE truncation (round i+1 must not re-plan round i), so
  * they keep their own `cut` with `localCheckpoint` as the local-mode
  * fast path. Stage is for one-shot staging where fault tolerance,
  * not plan truncation, is the point.
  */
object Stage {

  /** Materialize `df` once; every subsequent consumer (including
    * construction-time actions like k-means training) reads the
    * staged copy instead of re-running the upstream pipeline.
    *
    * Lifecycle note: the persist path registers the plan in the
    * session's CacheManager, where it stays until `unpersist()` /
    * `spark.catalog.clearCache()` — Spark will also substitute the
    * cached fragment into LATER queries whose plans contain an
    * identical subtree. For immutable inputs that substitution is
    * correct and usually a win (cold-plan assertions must clearCache
    * first); for MUTABLE file sources it is a staleness hazard: if
    * the files under a staged plan's path change (a snapshot root
    * gaining delta segments and being re-read by the same path is the
    * canonical case), later sameResult queries silently read the
    * frozen staged rows, not the mutated source. Long-lived sessions
    * must call [[releaseAll]] (or `clearCache()`) after any commit
    * that mutates a path a staged plan scans. Re-staging an identical
    * plan is a no-op, so repeated invocations don't accumulate.
    */
  def apply(df: DataFrame): DataFrame =
    df.sparkSession.conf.getOption("graft.checkpointDir") match {
      case Some(dir) =>
        // memo on (checkpointDir, analyzed plan): re-staging an
        // identical frame must be the promised no-op on THIS path
        // too. Without it, every call re-executed the full upstream
        // job and wrote a fresh corpus-sized checkpoint that nothing
        // reclaims — Spark deletes reliable checkpoints only when
        // spark.cleaner.referenceTracking.cleanCheckpoints=true (off
        // by default), and [[releaseAll]] deliberately leaves the
        // files to be reclaimed with the directory. The dir is part
        // of the key: re-pointing graft.checkpointDir (new job epoch,
        // old dir deleted) must MISS, or the memo would keep handing
        // out frames rooted in the dead directory.
        memoed(df, dir).getOrElse {
          df.sparkSession.sparkContext.setCheckpointDir(dir)
          val c = df.checkpoint(eager = true)
          checkpointed.add((dir, df, c))
          c
        }
      case None =>
        val p = df.persist(StorageLevel.MEMORY_AND_DISK)
        p.count()
        track(p)
        p
    }

  /** [[apply]] WITHOUT the eager materialization job: persist + track
    * only, so the FIRST consumer's own job populates the cache while
    * doing its real work — one full pass over the staged pipeline
    * instead of two. Correct only when some consumer is guaranteed to
    * read EVERY partition before the staged frame is assumed
    * materialized (any aggregate/join over the whole frame does);
    * callers that need the row count as a side effect keep
    * [[counted]]. On the reliable-checkpoint path this falls back to
    * the eager [[apply]] — `checkpoint(eager = false)` would lose the
    * memo's re-stage-is-a-no-op property mid-flight.
    */
  def lazily(df: DataFrame): DataFrame =
    df.sparkSession.conf.getOption("graft.checkpointDir") match {
      case Some(_) => apply(df)
      case None =>
        val p = df.persist(StorageLevel.MEMORY_AND_DISK)
        track(p)
        p
    }

  /** [[apply]] plus the staged row count. On the persist path the
    * eager materialization action doubles as the size probe — no
    * second job runs. On the checkpoint path the count is a separate
    * job, but it scans the checkpointed bytes (no recompute of the
    * upstream plan).
    */
  def counted(df: DataFrame): (DataFrame, Long) =
    df.sparkSession.conf.getOption("graft.checkpointDir") match {
      case Some(_) =>
        val c = apply(df) // memoed: an identical plan re-counts, never re-checkpoints
        (c, c.count())
      case None =>
        val p = df.persist(StorageLevel.MEMORY_AND_DISK)
        val n = p.count()
        track(p)
        (p, n)
    }

  // Persisted stages live in the session CacheManager until released
  // — unlike localCheckpoint blocks, the ContextCleaner never reclaims
  // them. Bounded for any fixed set of inputs (re-staging an identical
  // plan is a no-op), but a long-lived session staging a DIFFERENT
  // frame per batch accumulates entries; such applications call
  // releaseAll() between batches.
  private val staged = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  // reliable-checkpoint memo: (checkpointDir, source frame, its
  // checkpointed result), matched by dir + analyzed-plan sameResult
  // per session — the checkpoint path's twin of the persist path's
  // CacheManager dedup. Keying on the dir makes a re-pointed
  // graft.checkpointDir miss (fresh checkpoint in the new root)
  // instead of returning a frame whose bytes live in the old one.
  private val checkpointed =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, DataFrame, DataFrame)]()

  private def memoed(df: DataFrame, dir: String): Option[DataFrame] = {
    val it = checkpointed.iterator()
    while (it.hasNext) {
      val (d, src, res) = it.next()
      if (d == dir && (src.sparkSession eq df.sparkSession) &&
          src.queryExecution.analyzed.sameResult(df.queryExecution.analyzed)) return Some(res)
    }
    None
  }

  /** Track a staged frame for [[releaseAll]] — deduplicated on the
    * analyzed plan, so re-staging an identical frame really IS the
    * no-op the contract above promises. CacheManager already dedups
    * the cache ENTRY, but unconditionally enqueueing every call would
    * grow this queue (each element pinning full plan trees and a
    * session reference) without bound in a long-lived session that
    * re-stages the same frame per batch — a slow driver-heap leak.
    * A racing duplicate add is benign: releaseAll's second unpersist
    * of the same plan is a no-op.
    */
  private def track(p: DataFrame): Unit = {
    val it = staged.iterator()
    while (it.hasNext) {
      val e = it.next()
      if ((e.sparkSession eq p.sparkSession) &&
          e.queryExecution.analyzed.sameResult(p.queryExecution.analyzed)) return
    }
    staged.add(p)
    ()
  }

  /** Test seam: the frames staged on the persist path, oldest first
    * (its size is the release-queue depth the plan-dedup in [[track]]
    * bounds).
    */
  private[graft] def stagedFrames: Seq[DataFrame] = staged.toArray(Array.empty[DataFrame]).toSeq

  /** Unpersist every frame staged via the persist path so far (e.g.
    * between batches of a long-lived session) — ACROSS ALL SESSIONS
    * in this JVM, which is right for single-tenant tools and tests;
    * a multi-session server must use the session-scoped overload, or
    * one tenant's between-batch cleanup evicts every other session's
    * live stages (correct results, but the single-scan promise breaks
    * at the worst time). Safe to call anytime: a released stage
    * recomputes from lineage if its result is still referenced.
    * Reliable-checkpoint stages drop their memo entries (identical
    * plans re-checkpoint afterwards) but their bytes stay under
    * graft.checkpointDir, reclaimed with the directory. The cohort
    * path's source images are unpersisted and forgotten with their
    * session's stages, and so are the cohort counts prepared over them.
    */
  def releaseAll(): Unit = releaseFor(None)

  /** [[releaseAll]] scoped to one session's stages; other sessions'
    * staged frames are untouched.
    */
  def releaseAll(session: org.apache.spark.sql.SparkSession): Unit =
    releaseFor(Some(session))

  // Serializes releaseFor: the drain-filter-readd sequence is not
  // atomic on its own — a concurrent release could observe the queue
  // empty while this call still holds other sessions' frames in its
  // local keep buffer, then return before they are re-added, so a
  // session-scoped release could miss frames of ITS OWN session that
  // the racing call was about to put back. Release is a rare, cheap
  // admin operation; a plain lock is the right tool.
  private val releaseLock = new Object

  private def releaseFor(s: Option[org.apache.spark.sql.SparkSession]): Unit = releaseLock.synchronized {
    val keep = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var d = staged.poll()
    while (d != null) {
      if (s.forall(_ eq d.sparkSession)) {
        try d.unpersist(blocking = false)
        catch { case scala.util.control.NonFatal(_) => () }
      } else keep += d
      d = staged.poll()
    }
    keep.foreach(staged.add)
    val it = checkpointed.iterator()
    while (it.hasNext) {
      if (s.forall(_ eq it.next()._2.sparkSession)) it.remove()
    }
    graft.operators.CohortQuery.releaseImages(s)
  }

  /** Snapshot WITH lineage truncation — for frames whose recompute
    * would be semantically wrong, not merely expensive: ingest
    * verdicts read before the index they were scored against gains a
    * new delta segment (a recompute after the commit would re-score
    * against the mutated index and flip verdicts), run manifests that
    * must outlive their run directory, and iterative-loop rounds
    * (round i+1 must not re-plan round i).
    *
    * `persist` CANNOT serve these — it keeps lineage, so a lost block
    * silently recomputes against mutated state. The safe choices are
    * `localCheckpoint` (correct, but executor loss kills the query —
    * fine in local mode and for small frames) or a reliable
    * `checkpoint` when `graft.checkpointDir` points at a shared
    * filesystem (the 100-TB cluster setting: bytes live off-executor,
    * truncation AND fault tolerance).
    */
  def cut(df: DataFrame, eager: Boolean = true): DataFrame =
    df.sparkSession.conf.getOption("graft.checkpointDir") match {
      case Some(dir) =>
        df.sparkSession.sparkContext.setCheckpointDir(dir)
        df.checkpoint(eager)
      case None => df.localCheckpoint(eager)
    }
}

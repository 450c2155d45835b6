package graft

import graft.sources.Snapshots
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Snapshot-store retention (`Snapshots.vacuum`): superseded-segment
  * deletion below the pin, the loud refusals, the publish-first crash
  * ordering, the vacuum-during-ingest race, and the aged orphan sweep.
  */
class VacuumSpec extends SparkSpec {

  import spark.implicits._

  private def rowsOf(df: DataFrame): Set[(Int, String, Long)] =
    df.select(col("id"), col("name"), col("amount"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet

  /** full v1, delta v2, delta v3, compact → full v4, delta v5. */
  private def buildChain(root: String): Unit = {
    Snapshots.commit(Seq((1, "a", 10L), (2, "b", 20L)).toDF("id", "name", "amount"), root)
    Snapshots.commitDelta(Seq((3, "c", 30L)).toDF("id", "name", "amount"), root)
    Snapshots.commitDelta(
      Seq((2, "b2", 21L, false), (1, "a", 10L, true)).toDF("id", "name", "amount", "_deleted"),
      root)
    Snapshots.compact(spark, root, Seq("id"))
    Snapshots.commitDelta(Seq((4, "d", 40L)).toDF("id", "name", "amount"), root)
  }

  test("vacuum deletes exactly the segments below the newest full <= pin; kept reads intact") {
    val root = tmpDir("vac-basic")
    buildChain(root)
    val preDirs = new java.io.File(root).listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(preDirs.size === 5)
    val keep4 = rowsOf(Snapshots.asOf(spark, root, 4, Seq("id")))
    val keep5 = rowsOf(Snapshots.asOf(spark, root, 5, Seq("id")))

    val deleted = Snapshots.vacuum(spark, root, keepAfterVersion = 4)
    assert(deleted === Seq(1L, 2L, 3L))
    assert(Snapshots.versions(spark, root).map(t => (t._1, t._2)) ===
      Seq((4L, "full"), (5L, "delta")))
    // every asOf at or past the pin answers exactly as before
    assert(rowsOf(Snapshots.asOf(spark, root, 4, Seq("id"))) === keep4)
    assert(rowsOf(Snapshots.asOf(spark, root, 5, Seq("id"))) === keep5)
    assert(rowsOf(Snapshots.readAppendOnly(spark, root)
      .select("id", "name", "amount")) === keep5)
    // vacuumed history is a LOUD error, not a partial answer
    intercept[IllegalArgumentException] { Snapshots.asOf(spark, root, 2, Seq("id")) }
    // the superseded data dirs are physically gone (3 of 5)
    val postDirs = new java.io.File(root).listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(postDirs.size === 2 && postDirs.subsetOf(preDirs))
    // a second vacuum is an idempotent no-op
    assert(Snapshots.vacuum(spark, root, keepAfterVersion = 4) === Seq.empty)
    // the store keeps working: next commit lands at v6 on a fresh
    // manifest file number past the vacuum's trim publish
    Snapshots.commitDelta(Seq((5, "e", 50L)).toDF("id", "name", "amount"), root)
    assert(Snapshots.latestVersion(spark, root) === 6L)
    assert(rowsOf(Snapshots.latest(spark, root, Seq("id"))) === (keep5 + ((5, "e", 50L))))
  }

  test("a pin in the middle of a delta chain keeps the deltas asOf(pin) still needs") {
    val root = tmpDir("vac-midchain")
    buildChain(root) // fulls at 1 and 4
    // pin=3: newest full <= 3 is v1, so NOTHING is superseded below it
    assert(Snapshots.vacuum(spark, root, keepAfterVersion = 3) === Seq.empty)
    // pin=5 resolves the same base (v4) as pin=4 — deltas in (4,5]
    // are above the base and always kept
    val root2 = tmpDir("vac-midchain2")
    buildChain(root2)
    assert(Snapshots.vacuum(spark, root2, keepAfterVersion = 5) === Seq(1L, 2L, 3L))
    assert(rowsOf(Snapshots.latest(spark, root2, Seq("id"))) ===
      Set((2, "b2", 21L), (3, "c", 30L), (4, "d", 40L)))
  }

  test("refusals: delta-only store, pin past latest (force overrides only the typo guard)") {
    val root = tmpDir("vac-refuse")
    Snapshots.commitDelta(Seq((1, "a", 10L)).toDF("id", "name", "amount"), root)
    Snapshots.commitDelta(Seq((2, "b", 20L)).toDF("id", "name", "amount"), root)
    // no full snapshot at all: the deltas are the only copy of their
    // rows — force must NOT turn this into data loss
    val e1 = intercept[IllegalStateException] { Snapshots.vacuum(spark, root, 2) }
    assert(e1.getMessage.contains("no full snapshot"), e1.getMessage)
    val e1f = intercept[IllegalStateException] { Snapshots.vacuum(spark, root, 2, force = true) }
    assert(e1f.getMessage.contains("no full snapshot"), e1f.getMessage)

    val root2 = tmpDir("vac-typo")
    buildChain(root2)
    // a pin past the tip is a typo until forced
    val e2 = intercept[IllegalArgumentException] { Snapshots.vacuum(spark, root2, 999) }
    assert(e2.getMessage.contains("past the latest"), e2.getMessage)
    assert(Snapshots.versions(spark, root2).size === 5, "refusal must not trim anything")
    assert(Snapshots.vacuum(spark, root2, 999, force = true) === Seq(1L, 2L, 3L))
  }

  test("vacuum racing a concurrent ingest delta fails loudly and retries clean — the delta survives") {
    val root = tmpDir("vac-race")
    buildChain(root)
    // the vacuum's chain read happens FIRST...
    val stale = Snapshots.manifestState(spark, root)
    // ...then a streaming sink commits delta v6 in the window before
    // the trim publish
    Snapshots.commitDelta(Seq((6, "f", 60L)).toDF("id", "name", "amount"), root)
    // the stale trim must lose the manifest CAS (its publish number is
    // taken) — silently publishing retained-lines-without-v6 would
    // un-list a committed delta forever
    val err = intercept[IllegalStateException] {
      Snapshots.vacuumFrom(spark, root, 4, stale)
    }
    assert(err.getMessage.contains("manifest publish race"), err.getMessage)
    assert(Snapshots.versions(spark, root).map(_._1) === Seq(1L, 2L, 3L, 4L, 5L, 6L),
      "a lost vacuum race must leave the chain untouched")
    // the public API retries from a fresh read: trim lands, v6 survives
    assert(Snapshots.vacuum(spark, root, 4) === Seq(1L, 2L, 3L))
    assert(Snapshots.versions(spark, root).map(_._1) === Seq(4L, 5L, 6L))
    assert(rowsOf(Snapshots.latest(spark, root, Seq("id"))) ===
      Set((2, "b2", 21L), (3, "c", 30L), (4, "d", 40L), (6, "f", 60L)))
  }

  test("a commit whose data write predates a vacuum lands on the TRIMMED chain, resurrecting nothing") {
    val root = tmpDir("vac-race2")
    buildChain(root)
    // the committer observes the pre-trim chain and writes its data...
    val v = Snapshots.nextVersion(spark, root)
    Seq((6, "f", 60L)).toDF("id", "name", "amount").write.parquet(s"$root/v$v-beef1234")
    // ...the vacuum publishes its trim in the window (grace keeps the
    // not-yet-published racer dir out of the orphan sweep)...
    Snapshots.vacuum(spark, root, 4, orphanGraceMs = Long.MaxValue)
    // ...and the commit's publish re-reads fresh lines, so it appends
    // its ONE line to the trimmed manifest — version 6 is still free,
    // and the vacuumed entries 1–3 must not reappear
    Snapshots.appendManifest(spark, root, v, "delta", s"v$v-beef1234")
    assert(Snapshots.versions(spark, root).map(_._1) === Seq(4L, 5L, 6L),
      "the commit must land on the trimmed chain without resurrecting vacuumed entries")
    assert(rowsOf(Snapshots.latest(spark, root, Seq("id"))) ===
      Set((2, "b2", 21L), (3, "c", 30L), (4, "d", 40L), (6, "f", 60L)))
  }

  test("a newest full snapshot without geometry meta is refused by every vector-index reader") {
    import graft.dedup.Dedup
    val root = s"${tmpDir("vac-vecidx")}/idx"
    val vecs = (0 until 8)
      .map(i => (i.toLong, Seq.tabulate(4)(j => (i + j + 1).toFloat)))
      .toDF("vec_id", "embedding")
    Dedup.commitVecIndex(vecs, root)                                              // v1 full + geometry
    Dedup.ingestAndCommitVec(vecs.limit(1), vecs, root)                           // v2 delta
    // a raw commit into the index root (or a store written before the
    // geometry moved onto the manifest line): the newest full carries
    // no geometry, and banding with a guessed one would miss every
    // candidate — so every reader refuses it, naming the remedy
    Snapshots.commit(Seq((200L, 0, 2L)).toDF("vec_id", "tbl", "bkt"), root)       // v3 full, no meta
    def refused(body: => Any): Unit = {
      val e = intercept[IllegalStateException](body)
      assert(e.getMessage.contains("v3") && e.getMessage.contains("commitVecIndex"), e.getMessage)
    }
    refused(Dedup.openVecIndex(spark, root))
    refused(Dedup.ingestAgainstVecIndex(vecs.limit(1), vecs, root))
    refused(Dedup.ingestAndCommitVec(vecs.limit(1), vecs, root))
    refused(Dedup.compactVecIndex(spark, root))
    assert(Snapshots.versions(spark, root).map(_._1) === Seq(1L, 2L, 3L), "a refused reader published")
    // a rebuild publishes snapshot and geometry in one line: readable again
    Dedup.commitVecIndex(vecs, root)                                              // v4
    assert(Dedup.openVecIndex(spark, root)._1.dims === 4)
  }

  test("a plain vacuum at the tip reclaims what a band-index compaction superseded; the read is invariant") {
    import graft.dedup.Dedup
    val root = s"${tmpDir("vac-bandidx")}/idx"
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "pack my box with five dozen liquor jugs right now ok"),
      (3L, "sphinx of black quartz judge my vow again and again"))
      .toDF("doc_id", "text")
    Dedup.commitBandIndex(docs, root)                                             // v1 full
    Snapshots.commitDelta(Seq((99L, 0, 123L)).toDF("doc_id", "band", "bh"), root) // v2 ingest delta
    Dedup.compactBandIndex(spark, root)                                           // v3 full fold
    val want = Snapshots.readAppendOnly(spark, root).collect().map(_.toSeq).toSet
    assert(Snapshots.vacuum(spark, root, Snapshots.latestVersion(spark, root)) === Seq(1L, 2L))
    assert(Snapshots.readAppendOnly(spark, root).collect().map(_.toSeq).toSet === want,
      "the folded read must be invariant across the vacuum")
    assert(Snapshots.versions(spark, root).map(_._1) === Seq(3L))
  }

  test("orphan sweep reclaims aged unreferenced segment dirs but never young or foreign ones") {
    val root = tmpDir("vac-orphan")
    buildChain(root)
    // an orphan from a crashed publish attempt, old enough to sweep
    Seq((9, "orphan", 0L)).toDF("id", "name", "amount").write.parquet(s"$root/v9-0dead1ed")
    new java.io.File(s"$root/v9-0dead1ed").setLastModified(1000L)
    // a YOUNG orphan — a concurrent commit's data dir whose manifest
    // line is milliseconds away; sweeping it would break that commit
    Seq((8, "young", 0L)).toDF("id", "name", "amount").write.parquet(s"$root/v8-ab12cd34")
    // a foreign directory that merely lives under the root
    val foreign = new java.io.File(s"$root/not-a-segment"); foreign.mkdirs()
    new java.io.File(foreign, "keep.txt").createNewFile()
    foreign.setLastModified(1000L)

    Snapshots.vacuum(spark, root, 4, orphanGraceMs = 60000L)
    val names = new java.io.File(root).listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(!names.contains("v9-0dead1ed"), "aged orphan must be swept")
    assert(names.contains("v8-ab12cd34"), "orphans younger than the grace window must survive")
    assert(names.contains("not-a-segment"), "non-segment directories are never collateral")
  }

  test("orphan sweep builds its live set from a FRESH chain read — a commit after a stale read survives a zero grace window") {
    val root = tmpDir("vac-fresh-live")
    Snapshots.commit(Seq((1, "a", 10L)).toDF("id", "name", "amount"), root)
    // the chain read a long-running vacuum would be holding
    val stale = Snapshots.manifestState(spark, root)
    // a delta lands AFTER that read; by sweep time its data dir is
    // older than the (zero) grace window — the mtime guard alone
    // cannot protect it, only the fresh live set can
    Snapshots.commitDelta(Seq((2, "b", 20L)).toDF("id", "name", "amount"), root)
    Thread.sleep(50)
    // no-trim path (nothing below the pin's base), so no publish CAS
    // ever validates the stale read — pre-fix the sweep's live set
    // missed v2's line and deleted its committed segment
    val deleted = Snapshots.vacuumFrom(spark, root, keepAfterVersion = 1, stale,
      orphanGraceMs = 0L)
    assert(deleted.isEmpty)
    assert(Snapshots.versions(spark, root).map(_._1) === Seq(1L, 2L))
    assert(rowsOf(Snapshots.latest(spark, root, Seq("id"))) ===
      Set((1, "a", 10L), (2, "b", 20L)),
      "the concurrently committed delta was swept out from under its manifest")
  }
}

package graft

import graft.sources.Snapshots
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Versioned snapshot store (SURVEY §2.13): full+delta+tombstone
  * round-trips, as-of reproducibility, nullable `_deleted` normalization,
  * compaction, and manifest immutability.
  */
class SnapshotsSpec extends SparkSpec {

  import spark.implicits._

  private def rowsOf(df: DataFrame): Set[(Int, String, Long)] =
    df.select(col("id"), col("name"), col("amount"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet

  test("full snapshot round-trips and asOf(1) is stable across later commits") {
    val root = tmpDir("snap-full")
    val v1data = Seq((1, "a", 10L), (2, "b", 20L), (3, "c", 30L))
      .toDF("id", "name", "amount")
    val v1 = Snapshots.commit(v1data, root)
    assert(v1 === 1L)
    assert(rowsOf(Snapshots.asOf(spark, root, 1, Seq("id"))) === rowsOf(v1data))

    // later delta must not change the v1 answer (reproducible as-of)
    Snapshots.commitDelta(
      Seq((2, "b2", 21L)).toDF("id", "name", "amount"), root)
    assert(rowsOf(Snapshots.asOf(spark, root, 1, Seq("id"))) === rowsOf(v1data))
  }

  test("schema evolution: un-flagged drift is refused naming the columns; evolveSchema commits and reads null-filled") {
    val root = tmpDir("snap-evolve")
    Snapshots.commit(Seq((1, "a", 10L), (2, "b", 20L)).toDF("id", "name", "amount"), root)
    // drifting delta (adds `score`, drops `amount`) without the flag
    val drift = Seq((3, "c", 0.5)).toDF("id", "name", "score")
    val e = intercept[IllegalArgumentException](Snapshots.commitDelta(drift, root))
    assert(e.getMessage.contains("score") && e.getMessage.contains("amount")
      && e.getMessage.contains("evolveSchema"))
    // flagged: commits, and latest() reads the union schema null-filled
    Snapshots.commitDelta(drift, root, evolveSchema = true)
    val latest = Snapshots.latest(spark, root, Seq("id")).orderBy("id")
    assert(latest.columns.toSet === Set("id", "name", "amount", "score"))
    val rows = latest.select("id", "name", "amount", "score").collect()
    assert(rows.map(_.getInt(0)).toSeq === Seq(1, 2, 3))
    assert(rows(0).isNullAt(3) && rows(1).isNullAt(3)) // pre-evolution rows: score null
    assert(rows(2).isNullAt(2) && rows(2).getDouble(3) === 0.5) // evolved row: amount null
    // as-of BEFORE the evolution keeps the original schema exactly
    assert(Snapshots.asOf(spark, root, 1, Seq("id")).columns.toSet
      === Set("id", "name", "amount"))
    // a follow-up delta matching the EVOLVED column set passes unflagged
    Snapshots.commitDelta(Seq((4, "d", 0.9)).toDF("id", "name", "score"), root)
    assert(Snapshots.latest(spark, root, Seq("id")).count() === 4)
  }

  test("schema evolution: a full snapshot redefines the schema and re-arms delta validation") {
    val root = tmpDir("snap-evolve-full")
    Snapshots.commit(Seq((1, "a")).toDF("id", "name"), root)
    Snapshots.commitDelta(Seq((2, "b")).toDF("id", "name"), root)
    // new base with a different schema — legitimate, no flag needed
    Snapshots.commit(Seq((1, 10L)).toDF("id", "amount"), root)
    // a delta in the OLD shape must now be refused (memo re-armed by the full)
    val e = intercept[IllegalArgumentException](
      Snapshots.commitDelta(Seq((3, "c")).toDF("id", "name"), root))
    assert(e.getMessage.contains("name") && e.getMessage.contains("amount"))
    // reads from the new base never see pre-base columns
    assert(Snapshots.latest(spark, root, Seq("id")).columns.toSet === Set("id", "amount"))
  }

  test("schema drift memo: an evolving commit published by ANOTHER process re-arms validation") {
    val root = tmpDir("snap-memo-cross")
    Snapshots.commit(Seq((1, "a")).toDF("id", "name"), root)
    Snapshots.commitDelta(Seq((2, "b")).toDF("id", "name"), root)
    // capture what "process A" memoized, then let "process B" (same
    // JVM standing in) publish an evolving delta and RESTORE A's stale
    // memo — the cross-process state the version-keyed memo exists for
    val stale = Snapshots.validatedDeltaCols.get(root)
    assert(stale != null)
    Snapshots.commitDelta(
      Seq((3, "c", 9L)).toDF("id", "name", "score"), root, evolveSchema = true)
    Snapshots.validatedDeltaCols.put(root, stale)
    // A's next old-shape delta must re-read the REAL tip footer and
    // refuse — a plain column-set memo would skip the check forever
    val e = intercept[IllegalArgumentException](
      Snapshots.commitDelta(Seq((4, "d")).toDF("id", "name"), root))
    assert(e.getMessage.contains("score"))
    // and a delta matching the evolved tip passes, re-seeding the memo
    Snapshots.commitDelta(Seq((4, "d", 10L)).toDF("id", "name", "score"), root)
    assert(Snapshots.latest(spark, root, Seq("id")).count() === 4)
  }

  test("schema evolution: a segment missing a merge key is refused at read time") {
    val root = tmpDir("snap-evolve-key")
    Snapshots.commit(Seq((1, "a")).toDF("id", "name"), root)
    Snapshots.commitDelta(Seq("solo").toDF("name"), root, evolveSchema = true)
    val e = intercept[IllegalStateException](
      Snapshots.latest(spark, root, Seq("id")).collect())
    assert(e.getMessage.contains("merge key") && e.getMessage.contains("id"))
    // the same chain stays readable on a key every segment carries
    assert(Snapshots.latest(spark, root, Seq("name")).count() === 2)
  }

  test("schema evolution: changes() across the boundary reports added columns as updates") {
    val root = tmpDir("snap-evolve-cdc")
    Snapshots.commit(Seq((1, "a"), (2, "b")).toDF("id", "name"), root)
    Snapshots.commitDelta(
      Seq((1, "a", 99L)).toDF("id", "name", "score"), root, evolveSchema = true)
    val ch = Snapshots.changes(spark, root, 1, 2, Seq("id"))
      .orderBy("id").collect()
    // id=1 gained a score value -> update carrying the new column;
    // id=2 is unchanged on every shared column and null==null on the
    // new one -> absent from the feed
    assert(ch.length === 1)
    assert(ch(0).getInt(0) === 1 && ch(0).getString(ch(0).fieldIndex("_change")) === "update")
    assert(ch(0).getLong(ch(0).fieldIndex("score")) === 99L)
  }

  test("withBatch: speculative import previews exact commit semantics without touching the manifest") {
    val root = tmpDir("snap-with")
    Snapshots.commit(Seq((1, "a", 10L), (2, "b", 20L)).toDF("id", "name", "amount"), root)
    val manifestBefore = Snapshots.versions(spark, root)
    // batch: update 1, tombstone 2, insert 3
    val batch = Seq(
      (1, "a2", 11L, false), (2, "b", 20L, true), (3, "c", 30L, false))
      .toDF("id", "name", "amount", "_deleted")
    val preview = Snapshots.withBatch(spark, root, batch, Seq("id"))
    // COUNT PARITY with a real commit on a copy of the store
    val root2 = tmpDir("snap-with-copy")
    Snapshots.commit(Seq((1, "a", 10L), (2, "b", 20L)).toDF("id", "name", "amount"), root2)
    Snapshots.commitDelta(batch, root2)
    val committed = Snapshots.latest(spark, root2, Seq("id"))
    assert(rowsOf(preview) === rowsOf(committed))
    assert(preview.count() === 2) // 1 updated, 2 retracted, 3 inserted
    // NOTHING was published: same manifest, and latest() is unchanged
    assert(Snapshots.versions(spark, root) === manifestBefore)
    assert(rowsOf(Snapshots.latest(spark, root, Seq("id")))
      === Set((1, "a", 10L), (2, "b", 20L)))
    // the commit-side drift gate applies to the preview too
    val drift = Seq((4, 0.5)).toDF("id", "score")
    val e = intercept[IllegalArgumentException](
      Snapshots.withBatch(spark, root, drift, Seq("id")))
    assert(e.getMessage.contains("score"))
    // flagged: previews the evolved union schema null-filled
    val evolved = Snapshots.withBatch(spark, root, drift, Seq("id"), evolveSchema = true)
    assert(evolved.columns.toSet === Set("id", "name", "amount", "score"))
    assert(evolved.count() === 3)
    // a batch missing the merge key is loud
    intercept[IllegalArgumentException](
      Snapshots.withBatch(spark, root, Seq("x").toDF("name"), Seq("id")))
    // empty store: the preview IS the (resolved) batch
    val root3 = tmpDir("snap-with-empty")
    assert(Snapshots.withBatch(spark, root3, batch, Seq("id")).count() === 2)
  }

  test("history: one chain read gives each key's full timeline across tombstones, compaction and evolution") {
    val root = tmpDir("snap-history")
    // v1 full: two keys
    Snapshots.commit(Seq((1, "a", 10L), (2, "b", 20L)).toDF("id", "name", "amount"), root)
    // v2 delta: update id=1, insert id=3
    Snapshots.commitDelta(Seq((1, "a2", 11L), (3, "c", 30L)).toDF("id", "name", "amount"), root)
    // v3 delta: tombstone id=2
    Snapshots.commitDelta(
      Seq((2, "b", 20L, true)).toDF("id", "name", "amount", "_deleted"), root)
    // v4 full (compaction): restates 1 and 3 UNCHANGED, id=2 stays gone
    Snapshots.compact(spark, root, Seq("id"))
    // v5 evolving delta: id=3 gains a score, loses amount
    Snapshots.commitDelta(Seq((3, "c", 0.5)).toDF("id", "name", "score"), root,
      evolveSchema = true)
    val h = Snapshots.history(spark, root, Seq("id"))
      .orderBy("id", "version").collect()
    def ops(id: Int) = h.filter(_.getInt(h.head.fieldIndex("id")) == id)
      .map(r => (r.getLong(0), r.getString(2)))
    // id=1: insert at v1, update at v2; v4's unchanged restatement dropped
    assert(ops(1).toSeq === Seq((1L, "insert"), (2L, "update")))
    // id=2: insert at v1, tombstone delete at v3 — v4's full (where it
    // is absent) adds NO second delete (already dead)
    assert(ops(2).toSeq === Seq((1L, "insert"), (3L, "delete")))
    // id=3: insert at v2, restated unchanged at v4 (dropped), evolved
    // update at v5 carrying the union schema
    assert(ops(3).toSeq === Seq((2L, "insert"), (5L, "update")))
    val v5row = h.find(r => r.getLong(0) == 5L).get
    assert(v5row.getDouble(v5row.fieldIndex("score")) === 0.5)
    assert(v5row.isNullAt(v5row.fieldIndex("amount"))) // evolved away
    // every row carries a commit stamp (this store is post-timestamp)
    assert(h.forall(!_.isNullAt(1)))
    // op is never a no-op: re-deriving each key's live state from the
    // feed must match latest()
    val live = h.groupBy(_.getInt(h.head.fieldIndex("id"))).map { case (id, rows) =>
      id -> rows.maxBy(_.getLong(0)).getString(2)
    }
    assert(live === Map(1 -> "update", 2 -> "delete", 3 -> "update"))
    assert(Snapshots.latest(spark, root, Seq("id")).count() === 2) // 1 and 3
  }

  test("history: a full snapshot DROPPING a live key is a synthesized delete; reappearing is an insert") {
    val root = tmpDir("snap-history-drop")
    Snapshots.commit(Seq((1, "a"), (2, "b")).toDF("id", "name"), root)
    // new base omits id=2 entirely (a full REDEFINES the table)
    Snapshots.commit(Seq((1, "a")).toDF("id", "name"), root)
    // id=2 comes back via a delta
    Snapshots.commitDelta(Seq((2, "b2")).toDF("id", "name"), root)
    val h = Snapshots.history(spark, root, Seq("id")).orderBy("id", "version").collect()
    val byId2 = h.filter(_.getInt(3) == 2).map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(byId2 === Seq((1L, "insert"), (2L, "delete"), (3L, "insert")))
    // the synthesized delete carries null payload (no row existed in v2)
    val del = h.find(r => r.getLong(0) == 2L && r.getInt(3) == 2).get
    assert(del.isNullAt(del.fieldIndex("name")))
  }

  test("excise: a key's payloads leave every retained segment — history/asOf/changes show nothing at any version") {
    val root = tmpDir("snap-excise")
    // same chain shape as the history test: full, updates, tombstone,
    // compaction, evolution — id=2's payload lives in v1 (full) and
    // v3 (its tombstone row)
    Snapshots.commit(Seq((1, "a", 10L), (2, "b", 20L)).toDF("id", "name", "amount"), root)
    Snapshots.commitDelta(Seq((1, "a2", 11L), (3, "c", 30L)).toDF("id", "name", "amount"), root)
    Snapshots.commitDelta(
      Seq((2, "b", 20L, true)).toDF("id", "name", "amount", "_deleted"), root)
    Snapshots.compact(spark, root, Seq("id"))
    Snapshots.commitDelta(Seq((3, "c", 0.5)).toDF("id", "name", "score"), root,
      evolveSchema = true)
    val before = Snapshots.manifestState(spark, root).lines
    val othersBefore = Snapshots.asOf(spark, root, 5, Seq("id"))
      .select("id", "name").collect().map(r => (r.getInt(0), r.getString(1))).toSet

    val report = Snapshots.excise(spark, root, col("id") === 2)
    // exactly the segments that carried id=2 rows were rewritten:
    // v1 (the original full) and v3 (the tombstone); v4's compaction
    // already excluded the dead key
    assert(report === Seq((1L, 1L), (3L, 1L)))

    // versions, kinds and commit stamps are untouched; only the two
    // rewritten paths moved
    val after = Snapshots.manifestState(spark, root).lines
    assert(after.map(l => (l.v, l.kind, l.ts)) === before.map(l => (l.v, l.kind, l.ts)))
    assert(after.zip(before).count { case (a, b) => a.rel != b.rel } === 2)

    // NOTHING for id=2 anywhere: every as-of version, the raw
    // segment reads, the full history, and version-pair changes
    (1L to 5L).foreach { v =>
      assert(Snapshots.asOf(spark, root, v, Seq("id")).filter(col("id") === 2).count() === 0L,
        s"asOf($v) still serves the excised key")
      assert(Snapshots.read(spark, root, v).filter(col("id") === 2).count() === 0L,
        s"raw read($v) still serves the excised key")
    }
    assert(Snapshots.history(spark, root, Seq("id")).filter(col("id") === 2).count() === 0L)
    assert(Snapshots.changes(spark, root, 1L, 5L, Seq("id")).filter(col("id") === 2).count() === 0L)

    // every other key's state is bit-identical
    assert(Snapshots.asOf(spark, root, 5, Seq("id"))
      .select("id", "name").collect().map(r => (r.getInt(0), r.getString(1))).toSet
      === othersBefore)
    assert(Snapshots.history(spark, root, Seq("id")).filter(col("id") === 1)
      .orderBy("version").collect().map(r => (r.getLong(0), r.getString(2))).toSeq
      === Seq((1L, "insert"), (2L, "update")))

    // the store stays writable after excision (manifest republish is
    // a normal publish; the next version continues the sequence)
    assert(Snapshots.commitDelta(Seq((4, "d", 0.1)).toDF("id", "name", "score"), root) === 6L)
  }

  test("excise: append-only store — rows leave the chain and the rewritten zone map re-prunes") {
    val root = tmpDir("snap-excise-ao")
    Snapshots.commit(Seq((1L, "a"), (9L, "b")).toDF("id", "name"), root,
      statsCols = Seq("id"))
    Snapshots.commitDelta(Seq((100L, "pii"), (120L, "keep")).toDF("id", "name"), root,
      statsCols = Seq("id"))
    // the v2 zone map spans [100, 120]: a [90, 105] range read opens it
    assert(Snapshots.prunedTo(spark, root, "id", 90L, 105L) === Seq(2L))
    val report = Snapshots.excise(spark, root, col("id") === 100L)
    assert(report === Seq((2L, 1L)))
    assert(Snapshots.readAppendOnly(spark, root).filter(col("id") === 100L).count() === 0L)
    assert(Snapshots.readAppendOnly(spark, root).count() === 3L)
    // the rewritten segment's sidecar was recomputed over the
    // SURVIVORS ([120, 120]) — the old range no longer opens it
    assert(Snapshots.prunedTo(spark, root, "id", 90L, 105L) === Seq.empty)
    assert(Snapshots.prunedTo(spark, root, "id", 110L, 130L) === Seq(2L))
  }

  test("excise: conditionBounds recognizes the takedown shapes and nothing it can't bound soundly") {
    val df = Seq((1L, "a", 0.5)).toDF("id", "name", "score")
    def analyzed(c: org.apache.spark.sql.Column) =
      df.filter(coalesce(c, lit(false))).queryExecution.analyzed.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.head
    def bounds(c: org.apache.spark.sql.Column) = Snapshots.conditionBounds(analyzed(c))
    assert(bounds(col("id") === 7L) === Some(("id", 7L, 7L)))
    assert(bounds(lit(7L) === col("id")) === Some(("id", 7L, 7L)))
    assert(bounds(col("id").isin(9L, 2L, 5L)) === Some(("id", 2L, 9L)))
    assert(bounds(col("id") === 3L || col("id") === 11L) === Some(("id", 3L, 11L)))
    // strings bound in CODE POINT order (mayContain's compare domain):
    // the supplementary-plane string sorts above U+FFFF there even
    // though Java's UTF-16 compareTo would rank it lower
    assert(bounds(col("name").isin("￿", "😀"))
      === Some(("name", "￿", "😀")))
    assert(bounds(col("score") === 0.25) === Some(("score", 0.25, 0.25)))
    // the analyzer's widening Cast around a LITERAL folds (an int
    // literal against the double column still bounds) — the HTTP
    // endpoint's exact-typed literals never need it, but a library
    // caller's mixed-width condition keeps the segment skip
    assert(bounds(col("score") === 1) === Some(("score", 1.0, 1.0)))
    // the retention shape: closed ranges, between, literal-first
    // comparisons, and strict bounds closing conservatively
    assert(bounds(col("id") >= 2L && col("id") <= 9L) === Some(("id", 2L, 9L)))
    assert(bounds(col("id").between(2L, 9L)) === Some(("id", 2L, 9L)))
    assert(bounds(lit(2L) <= col("id") && col("id") < 9L) === Some(("id", 2L, 9L)))
    assert(bounds(col("id") > 2L && col("id") <= 9L) === Some(("id", 2L, 9L)))
    // an inverted range matches nothing; bounding it WIDE is sound
    assert(bounds(col("id") >= 9L && col("id") <= 2L) === Some(("id", 2L, 9L)))
    // two DIFFERENT columns, or two same-side bounds, never bound
    assert(bounds(col("id") >= 2L && col("score") <= 9.0) === None)
    assert(bounds(col("id") >= 2L && col("id") >= 9L) === None)
    // unbound shapes fall back to None (conservative full count):
    // ranges, multi-column logic, casts around the ATTRIBUTE
    assert(bounds(col("id") > 5L) === None)
    assert(bounds(col("id") === 1L || col("name") === "x") === None)
    assert(bounds(col("id").cast("string") === "7") === None)
  }

  test("excise: zone maps skip whole segments — the counting pass never opens a provably-clean one") {
    val root = tmpDir("snap-excise-zm")
    Snapshots.commit(Seq((1L, "a"), (9L, "b")).toDF("id", "name"), root,
      statsCols = Seq("id"))
    Snapshots.commitDelta(Seq((100L, "x"), (120L, "y")).toDF("id", "name"), root,
      statsCols = Seq("id"))
    // POISON v2's sidecar to claim [100, 100]: if the counting pass
    // consults zone maps, an excise of id=120 prunes v2 unopened and
    // refuses loudly as a no-match — were it scanning, it would find
    // and excise the row. (Only a test corrupts a sidecar; the claim
    // under test is exactly "pruned segments are never opened".)
    val rel2 = Snapshots.versions(spark, root).find(_._1 == 2L).get._3
    // through the Hadoop FS so the local-fs checksum sidecar follows
    val hfs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val sp = new org.apache.hadoop.fs.Path(s"$root/$rel2", "_graft_stats.json")
    val out = hfs.create(sp, true)
    try out.write(
      """{"id":{"type":"long","all_null":false,"min":"100","max":"100"}}""".getBytes("UTF-8"))
    finally out.close()
    val e = intercept[IllegalArgumentException](
      Snapshots.excise(spark, root, col("id") === 120L))
    assert(e.getMessage.contains("matched NO rows"))
    // an in-bounds value opens exactly the intersecting segment
    assert(Snapshots.excise(spark, root, col("id") === 100L) === Seq((2L, 1L)))
    // an unbounded condition shape still counts everywhere: the
    // poisoned map can't hide the row from a full count (arithmetic
    // around the attribute defeats the bound extractor by design)
    assert(Snapshots.excise(spark, root, col("id") + 0L === 120L)
      === Seq((2L, 1L)))
  }

  test("excise: every takedown leaves an immutable audit record — columns, counts and caller meta, never values") {
    val root = tmpDir("snap-excise-audit")
    Snapshots.commit(Seq((1L, "a"), (2L, "pii")).toDF("id", "name"), root)
    Snapshots.commitDelta(Seq((3L, "also-pii")).toDF("id", "name"), root)
    assert(Snapshots.excisions(spark, root).isEmpty)
    val m1 = Map("ticket" -> "GDPR-17", "by" -> "dpo")
    Snapshots.excise(spark, root, col("id") === 2L, meta = m1)
    val r1 = Snapshots.excisions(spark, root) match {
      case Seq(r) => r
      case other  => fail(s"expected one audit record, got $other")
    }
    assert(r1.columns === Seq("id"))
    assert(r1.segments === Seq((1L, 1L)) && r1.rows === 1L)
    assert(r1.meta === m1)
    assert(math.abs(r1.atMs - System.currentTimeMillis()) < 60000L)
    // a second takedown appends a SECOND record at a later file number
    Snapshots.excise(spark, root, col("id") === 3L)
    val recs = Snapshots.excisions(spark, root)
    assert(recs.size === 2 && recs(0).fileNum < recs(1).fileNum)
    assert(recs(1).meta === Map.empty)
    // a race LOSER writes no record: the failed attempt must not
    // fabricate audit evidence of a takedown that never took effect
    Snapshots.commitDelta(Seq((9L, "x")).toDF("id", "name"), root)
    val stale = Snapshots.manifestState(spark, root)
    Snapshots.commitDelta(Seq((10L, "y")).toDF("id", "name"), root)
    intercept[IllegalStateException](
      Snapshots.exciseFrom(spark, root, col("id") === 9L, stale))
    assert(Snapshots.excisions(spark, root).size === 2)
    // compaction + vacuum delete DATA, never the audit trail — the
    // proof outlives the store's history
    Snapshots.compact(spark, root, Seq("id"))
    Snapshots.vacuum(spark, root, keepAfterVersion = Snapshots.latestVersion(spark, root),
      orphanGraceMs = 0L)
    assert(Snapshots.excisions(spark, root).size === 2)
  }

  test("excise: refusals are loud — constant predicates, no-match typos, unknown columns") {
    val root = tmpDir("snap-excise-refuse")
    Snapshots.commit(Seq((1, "a"), (2, "b")).toDF("id", "name"), root)
    // a condition referencing no columns would erase (or keep) the table
    val e1 = intercept[IllegalArgumentException](
      Snapshots.excise(spark, root, lit(true)))
    assert(e1.getMessage.contains("references no columns"))
    // a typo'd key value matches nothing: refuse, never a silent no-op
    val e2 = intercept[IllegalArgumentException](
      Snapshots.excise(spark, root, col("id") === 999))
    assert(e2.getMessage.contains("matched NO rows") && e2.getMessage.contains("id"))
    // a column no segment carries dies in analysis, naming the column
    val e3 = intercept[org.apache.spark.sql.AnalysisException](
      Snapshots.excise(spark, root, col("no_such_col") === 1))
    assert(e3.getMessage.contains("no_such_col"))
    // nothing above touched the store
    assert(Snapshots.latest(spark, root, Seq("id")).count() === 2L)
  }

  test("excise: a null-MATCHING condition reaches segments that PREDATE the column") {
    val root = tmpDir("snap-excise-nullmatch")
    // v1 predates 'email' — under the chain's union semantics its
    // rows hold null for it, so a null-matching takedown must excise
    // them even though the segment's own schema lacks the column
    Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), root)
    Snapshots.commitDelta(Seq((3L, "c", "c@example.com")).toDF("id", "name", "email"), root,
      evolveSchema = true)
    Snapshots.commitDelta(
      Seq((4L, "d", null.asInstanceOf[String])).toDF("id", "name", "email"), root)
    val report = Snapshots.excise(spark, root, col("email").isNull)
    assert(report === Seq((1L, 2L), (3L, 1L)),
      "the pre-column segment's rows (all null-email) must be excised too")
    val left = Snapshots.latest(spark, root, Seq("id")).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(left === Set(3L))
  }

  test("excise: stats-type evolution prunes conservatively — never a crashed takedown") {
    val root = tmpDir("snap-excise-statsevo")
    // v1 records id's zone map as LONG; a later full legitimately
    // redefines id as DOUBLE — the union schema (and so the
    // condition's bounds) is in the double domain, which v1's
    // integral sidecar cannot compare against. The takedown must
    // keep v1 conservatively (and excise its matching row), not die
    // in mayContain's typo-guard error.
    Snapshots.commit(Seq((1L, "a"), (2L, "pii")).toDF("id", "name"), root,
      statsCols = Seq("id"))
    Snapshots.commit(Seq((1.0, "a"), (2.0, "pii")).toDF("id", "name"), root,
      statsCols = Seq("id"))
    assert(Snapshots.excisePlannedScans(spark, root, col("id") === 2.0d) === Seq(1L, 2L))
    assert(Snapshots.excise(spark, root, col("id") === 2.0d) === Seq((1L, 1L), (2L, 1L)))
    (1L to 2L).foreach { v =>
      assert(Snapshots.read(spark, root, v).count() === 1L,
        s"v$v still holds the excised row across the stats-type boundary")
    }
  }

  test("excise: null-evaluating rows are KEPT (a null key is not a match)") {
    val root = tmpDir("snap-excise-null")
    Snapshots.commit(
      Seq((java.lang.Long.valueOf(1L), "a"), (null.asInstanceOf[java.lang.Long], "nullkey"),
        (java.lang.Long.valueOf(2L), "pii"))
        .toDF("id", "name"), root)
    Snapshots.excise(spark, root, col("id") === 2L)
    val left = Snapshots.read(spark, root, 1L).select("name")
      .collect().map(_.getString(0)).toSet
    assert(left === Set("a", "nullkey"))
  }

  test("excise racing a concurrent commit fails loudly; the rewrites are cleaned up, nothing is lost") {
    val root = tmpDir("snap-excise-race")
    Snapshots.commit(Seq((1, "a"), (2, "pii")).toDF("id", "name"), root)
    val stale = Snapshots.manifestState(spark, root)
    // a delta lands between the excise's chain read and its republish
    Snapshots.commitDelta(Seq((3, "c")).toDF("id", "name"), root)
    // the type the server maps to 409
    val e = intercept[Snapshots.ManifestRace](
      Snapshots.exciseFrom(spark, root, col("id") === 2, stale))
    assert(e.getMessage.contains("manifest publish race"))
    // the concurrent delta is NOT un-listed and the store is intact
    assert(Snapshots.versions(spark, root).map(_._1) === Seq(1L, 2L))
    assert(Snapshots.latest(spark, root, Seq("id")).count() === 3L)
    // the loser's rewritten dir was deleted — no stray segment dirs
    // beyond the two the manifest references
    val f = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val segDirs = f.listStatus(new org.apache.hadoop.fs.Path(root))
      .filter(s => s.isDirectory && s.getPath.getName.matches("v\\d+-[0-9a-f-]+"))
    assert(segDirs.length === 2, segDirs.map(_.getPath.getName).mkString(", "))
    // re-run over the fresh chain: succeeds and excises
    assert(Snapshots.excise(spark, root, col("id") === 2) === Seq((1L, 1L)))
    assert(Snapshots.latest(spark, root, Seq("id")).filter(col("id") === 2).count() === 0L)
  }

  test("zone maps: range reads open only the segments whose stats intersect") {
    val root = tmpDir("snap-zonemap")
    // three disjoint id ranges + one segment without stats
    Snapshots.commit(Seq((1L, "a"), (9L, "b")).toDF("id", "name"), root,
      statsCols = Seq("id", "name"))
    Snapshots.commitDelta(Seq((100L, "m")).toDF("id", "name"), root,
      statsCols = Seq("id", "name"))
    Snapshots.commitDelta(Seq((1000L, "z")).toDF("id", "name"), root,
      statsCols = Seq("id", "name"))
    Snapshots.commitDelta(Seq((5000L, "s")).toDF("id", "name"), root) // no stats
    // pruning decision as data: [90, 200] keeps v2 + the statless v4
    assert(Snapshots.prunedTo(spark, root, "id", 90L, 200L) === Seq(2L, 4L))
    val r = Snapshots.readAppendOnlyWhere(spark, root, "id", 90L, 200L).collect()
    assert(r.map(_.getLong(0)).toSeq === Seq(100L))
    // string zone map prunes the same way
    assert(Snapshots.prunedTo(spark, root, "name", "y", "zz") === Seq(3L, 4L))
    // a range matching nothing still answers (empty, base schema)
    assert(Snapshots.prunedTo(spark, root, "id", 2000L, 3000L) === Seq(4L))
    // (v4 has no stats so [10000, 20000] still opens it — the
    // residual filter finds nothing)
    val none = Snapshots.readAppendOnlyWhere(spark, root, "id", 10000L, 20000L)
    assert(none.columns.toSet === Set("id", "name"))
    assert(none.count() === 0L)
  }

  test("zone maps: range reads cross a schema evolution — column-less segments prune, empty answers stay answers") {
    val root = tmpDir("snap-zm-evolve")
    Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), root,
      statsCols = Seq("id"))
    // evolved delta adds ts with stats
    Snapshots.commitDelta(Seq((3L, "c", 150L)).toDF("id", "name", "ts"), root,
      evolveSchema = true, statsCols = Seq("id", "ts"))
    // ts range hitting the evolved segment: the base (no ts column)
    // prunes on SCHEMA, not conservatively in
    assert(Snapshots.prunedTo(spark, root, "ts", 100L, 200L) === Seq(2L))
    assert(Snapshots.readAppendOnlyWhere(spark, root, "ts", 100L, 200L)
      .collect().map(_.getLong(0)).toSeq === Seq(3L))
    // ts range missing everything: an EMPTY answer carrying the
    // column, not an AnalysisException from a column-less base
    val none = Snapshots.readAppendOnlyWhere(spark, root, "ts", 300L, 400L)
    assert(none.columns.contains("ts") && none.count() === 0L)
    // a second evolution adds `src`: the all-pruned answer must carry
    // the same null-filled UNION schema a matching read of the carrier
    // chain returns — not the first carrier segment's narrower one
    Snapshots.commitDelta(Seq((4L, 500L, "web")).toDF("id", "ts", "src"), root,
      evolveSchema = true, statsCols = Seq("id", "ts"))
    val hit = Snapshots.readAppendOnlyWhere(spark, root, "ts", 100L, 600L)
    val miss = Snapshots.readAppendOnlyWhere(spark, root, "ts", 900L, 999L)
    assert(miss.columns.toSeq === hit.columns.toSeq,
      s"all-pruned schema ${miss.columns.toSeq} != matching-read schema ${hit.columns.toSeq}")
    assert(miss.count() === 0L && hit.count() === 2L)
    // a column no segment carries is a loud error, not a vacuous empty
    intercept[IllegalArgumentException](
      Snapshots.readAppendOnlyWhere(spark, root, "nope", 1L, 2L))
  }

  test("zone maps: merge-range reads prune on the key's stats while honoring LWW and tombstones") {
    val root = tmpDir("snap-zm-merge")
    // base: keys 1..4 with stats
    Snapshots.commit(
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L), (4L, "d", 40L))
        .toDF("id", "name", "amount"), root, statsCols = Seq("id"))
    // v2: far-away keys — must be PRUNED for a low range
    Snapshots.commitDelta(Seq((100L, "x", 1L), (101L, "y", 2L)).toDF("id", "name", "amount"),
      root, statsCols = Seq("id"))
    // v3: rewrite id=2, tombstone id=3 (intersects the low range)
    Snapshots.commitDelta(
      Seq((2L, "b2", 21L, false), (3L, "c", 30L, true))
        .toDF("id", "name", "amount", "_deleted"), root, statsCols = Seq("id"))
    // pruning decision: [1,4] opens v1+v3, not v2
    assert(Snapshots.prunedMergeTo(spark, root, Seq("id"), "id", 1L, 4L) === Seq(1L, 3L))
    val segs = Snapshots.versions(spark, root).map { case (v, _, rel) => v -> rel }.toMap
    val (ranged, opened) = readDirs(Snapshots.readMergeWhere(spark, root, Seq("id"), "id", 1L, 4L))
    assert(opened === Set(segs(1L), segs(3L)), "the read opens what the pruning kept, and only that")
    val r = ranged.orderBy("id").collect()
    // LWW: id=2 is the v3 rewrite; tombstone: id=3 gone; id=1, id=4 base
    assert(r.map(x => (x.getLong(0), x.getString(1), x.getLong(2))).toSeq
      === Seq((1L, "a", 10L), (2L, "b2", 21L), (4L, "d", 40L)))
    // the pruned read IS the filtered full read, row for row
    val full = Snapshots.latest(spark, root, Seq("id"))
      .filter(col("id") >= 1L && col("id") <= 4L).orderBy("id").collect()
    assert(r.toSeq.map(_.toSeq) === full.toSeq.map(_.toSeq))
    // a non-key range column is refused with the reasoning, not
    // silently merged wrong
    val e = intercept[IllegalArgumentException](
      Snapshots.readMergeWhere(spark, root, Seq("id"), "amount", 0L, 50L))
    assert(e.getMessage.contains("MERGE KEY"))
    // all-pruned: empty answer in the SAME schema as a matching read
    val none = Snapshots.readMergeWhere(spark, root, Seq("id"), "id", 5000L, 6000L)
    assert(none.count() === 0L)
    assert(none.columns.toSeq ===
      Snapshots.readMergeWhere(spark, root, Seq("id"), "id", 1L, 4L).columns.toSeq)
  }

  test("tags: immutable named versions — as-of by name survives later imports; vacuum refuses to dangle them") {
    val root = tmpDir("snap-tags")
    Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), root)
    Snapshots.tag(spark, root, "release-1", 1L)
    Snapshots.commitDelta(Seq((2L, "b2", false), (1L, "a", true))
      .toDF("id", "name", "_deleted"), root)
    Snapshots.commit(Seq((9L, "z")).toDF("id", "name"), root)
    // the name keeps meaning v1 — byte-for-byte — after two imports
    val r = Snapshots.asOfTag(spark, root, "release-1", Seq("id")).orderBy("id").collect()
    assert(r.map(x => (x.getLong(0), x.getString(1))).toSeq === Seq((1L, "a"), (2L, "b")))
    assert(Snapshots.tags(spark, root) === Seq(("release-1", 1L)))
    // immutable: re-tagging is a loud refusal naming the remedy
    val e1 = intercept[IllegalArgumentException](Snapshots.tag(spark, root, "release-1", 2L))
    assert(e1.getMessage.contains("immutable") || e1.getMessage.contains("already exists"))
    // bad names and unknown versions never write anything
    intercept[IllegalArgumentException](Snapshots.tag(spark, root, "../escape", 1L))
    intercept[IllegalArgumentException](Snapshots.tag(spark, root, "ok-name", 99L))
    intercept[IllegalArgumentException](Snapshots.tagVersion(spark, root, "nope"))
    // vacuum to the tip would delete v1's segment — refused, naming
    // the tag; untag unblocks it
    val e2 = intercept[IllegalArgumentException](
      Snapshots.vacuum(spark, root, 3L, orphanGraceMs = 0L))
    assert(e2.getMessage.contains("release-1"))
    assert(Snapshots.asOfTag(spark, root, "release-1", Seq("id")).count() === 2L)
    Snapshots.untag(spark, root, "release-1")
    assert(Snapshots.vacuum(spark, root, 3L, orphanGraceMs = 0L).nonEmpty)
    intercept[IllegalArgumentException](Snapshots.untag(spark, root, "release-1"))
  }

  test("tags: of two concurrent tag calls on one name exactly one wins; the loser fails loudly") {
    val root = tmpDir("snap-tag-race")
    Snapshots.commit(Seq((1L, "a")).toDF("id", "name"), root)
    Snapshots.commitDelta(Seq((2L, "b")).toDF("id", "name"), root)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      // per name, tag(name, 1) and tag(name, 2) on two threads that
      // start together
      val outcomes = (1 to 200).map(i => s"race-$i").map { name =>
        val barrier = new java.util.concurrent.CyclicBarrier(2)
        name -> Seq(1L, 2L).map { v =>
          pool.submit(new java.util.concurrent.Callable[Either[Throwable, Long]] {
            def call(): Either[Throwable, Long] = {
              barrier.await()
              try { Snapshots.tag(spark, root, name, v); Right(v) }
              catch { case e: Throwable => Left(e) }
            }
          })
        }.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      }
      val doubles = outcomes.filter(_._2.forall(_.isRight)).map(_._1)
      assert(doubles.isEmpty,
        s"${doubles.size} of ${outcomes.size} names were tagged by both concurrent calls: $doubles")
      outcomes.foreach { case (name, calls) =>
        val winners = calls.collect { case Right(v) => v }
        assert(winners.size === 1, s"'$name': $calls")
        calls.collect { case Left(e) => e }.foreach { e =>
          assert(e.isInstanceOf[IllegalArgumentException] && e.getMessage.contains("already exists"),
            s"'$name' loser: $e")
        }
        // the tag reads back the winner's version
        assert(Snapshots.tagVersion(spark, root, name) === winners.head)
      }
    } finally pool.shutdownNow()
  }

  test("blooms: point lookups prune where zone maps can't; the skip trusts the bloom's word") {
    val root = tmpDir("snap-bloom")
    // interleaved keys: BOTH segments' zone maps span ~[1, 100], so
    // min/max keeps everything — the workload blooms exist for
    Snapshots.commit((1L to 99L by 2).map(k => (k, s"o$k")).toDF("id", "name"),
      root, statsCols = Seq("id"), bloomCols = Seq("id"))
    Snapshots.commitDelta((2L to 100L by 2).map(k => (k, s"e$k")).toDF("id", "name"),
      root, statsCols = Seq("id"), bloomCols = Seq("id"))
    // the range form keeps both (overlapping zone maps); the eq form
    // cuts to the one segment whose bloom admits the key
    assert(Snapshots.prunedMergeTo(spark, root, Seq("id"), "id", 41L, 41L) === Seq(1L, 2L))
    assert(Snapshots.prunedEqTo(spark, root, Seq("id"), "id", Seq(41L)) === Seq(1L))
    assert(Snapshots.prunedEqTo(spark, root, Seq("id"), "id", Seq(41L, 42L)) === Seq(1L, 2L))
    // the pruned lookup IS the filtered full read
    val r = Snapshots.readMergeEq(spark, root, Seq("id"), "id", Seq(41L, 42L))
      .orderBy("id").collect()
    assert(r.map(x => (x.getLong(0), x.getString(1))).toSeq ===
      Seq((41L, "o41"), (42L, "e42")))
    // absent key: empty, in the same schema, without opening anything
    // beyond what the sidecars admit
    val (none, noneOpened) = readDirs(Snapshots.readMergeEq(spark, root, Seq("id"), "id", Seq(9999L)))
    assert(none.count() === 0L && none.columns.toSeq === r.head.schema.fieldNames.toSeq)
    assert(noneOpened.isEmpty, s"an all-pruned lookup read $noneOpened")
    val segs = Snapshots.versions(spark, root).map { case (v, _, rel) => v -> rel }.toMap
    assert(readDirs(Snapshots.readMergeEq(spark, root, Seq("id"), "id", Seq(42L)))._2 === Set(segs(2L)))
    // non-key columns are refused with the soundness reasoning
    val e = intercept[IllegalArgumentException](
      Snapshots.readMergeEq(spark, root, Seq("id"), "name", Seq("o41")))
    assert(e.getMessage.contains("MERGE KEY"))
    // a null probe is refused with the IS NULL remedy, not an NPE in
    // the zone-map type check
    val en = intercept[IllegalArgumentException](
      Snapshots.readMergeEq(spark, root, Seq("id"), "id", Seq(41L, null)))
    assert(en.getMessage.contains("non-null"))
    // PROOF the skip trusts the bloom: poison v2's sidecar with an
    // EMPTY filter — if the eq read consulted the data it would still
    // find 42; trusting the bloom, it must prune v2 and answer without
    // the row. (Only a test corrupts a sidecar.)
    val rel2 = Snapshots.versions(spark, root).find(_._1 == 2L).get._3
    val hfs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val empty = org.apache.spark.util.sketch.BloomFilter.create(1L, 0.01)
    val buf = new java.io.ByteArrayOutputStream(); empty.writeTo(buf)
    val dos = new java.io.DataOutputStream(
      hfs.create(new org.apache.hadoop.fs.Path(s"$root/$rel2", "_graft_bloom.bin"), true))
    try { dos.writeInt(1); dos.writeUTF("id"); dos.writeInt(buf.size()); dos.write(buf.toByteArray) }
    finally dos.close()
    // v1's honest bloom also rejects 42 (it holds only odd keys), so
    // the probe now opens NOTHING — and the row v2 really holds stays
    // unseen, which is the proof the skip ran on the sidecar's word
    assert(Snapshots.prunedEqTo(spark, root, Seq("id"), "id", Seq(42L)).isEmpty)
    assert(Snapshots.readMergeEq(spark, root, Seq("id"), "id", Seq(42L)).count() === 0L)
  }

  test("blooms: eq reads honor LWW and tombstones; commit refusals are loud; excise recomputes") {
    val root = tmpDir("snap-bloom2")
    Snapshots.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name"),
      root, statsCols = Seq("id"), bloomCols = Seq("id"))
    Snapshots.commitDelta(
      Seq((2L, "b2", false), (3L, "c", true)).toDF("id", "name", "_deleted"),
      root, statsCols = Seq("id"), bloomCols = Seq("id"))
    // LWW: id=2 answers the rewrite; tombstone: id=3 absent
    val r = Snapshots.readMergeEq(spark, root, Seq("id"), "id", Seq(2L, 3L)).collect()
    assert(r.map(x => (x.getLong(0), x.getString(1))).toSeq === Seq((2L, "b2")))
    // floating-point bloom columns are refused BEFORE any write
    val e = intercept[IllegalArgumentException](
      Snapshots.commit(Seq((0.5, 1L)).toDF("score", "id"),
        tmpDir("snap-bloom3"), bloomCols = Seq("score")))
    assert(e.getMessage.contains("integral"))
    intercept[IllegalArgumentException](
      Snapshots.commit(Seq((1L, "x")).toDF("id", "name"),
        tmpDir("snap-bloom4"), bloomCols = Seq("nope")))
    // a takedown recomputes the rewritten segment's bloom over the
    // SURVIVORS: the erased key stops being probeable as "maybe here"
    Snapshots.excise(spark, root, col("id") === 1L)
    val rel1 = Snapshots.versions(spark, root).find(_._1 == 1L).get._3
    val bl = Snapshots.segmentBloom(spark, root, rel1)
    assert(bl.isDefined && bl.get.contains("id"))
    assert(!Snapshots.bloomMayContain(bl, "id", 1L),
      "recomputed bloom still admits the excised key")
    assert(Snapshots.prunedEqTo(spark, root, Seq("id"), "id", Seq(1L)).isEmpty)
    assert(Snapshots.readMergeEq(spark, root, Seq("id"), "id", Seq(1L)).count() === 0L)
  }

  test("zone maps: merge-range reads cross schema evolution with one stable column set") {
    val root = tmpDir("snap-zm-merge-ev")
    Snapshots.commit(Seq((1L, "a")).toDF("id", "name"), root, statsCols = Seq("id"))
    Snapshots.commitDelta(Seq((500L, "m", 9L)).toDF("id", "name", "score"), root,
      evolveSchema = true, statsCols = Seq("id"))
    // a low range prunes the evolved segment, yet the answer still
    // carries ITS column (the asOf union schema), null-filled
    val low = Snapshots.readMergeWhere(spark, root, Seq("id"), "id", 0L, 10L)
    assert(low.columns.toSet === Set("id", "name", "score"))
    val rows = low.collect()
    assert(rows.length === 1 && rows(0).isNullAt(rows(0).fieldIndex("score")))
    // and the version pin reads historical merges
    assert(Snapshots.readMergeWhere(spark, root, Seq("id"), "id", 0L, 1000L, version = 1L)
      .count() === 1L)
  }

  test("zone maps: all-null stats prune; mismatched bound types are loud; floats survive widening") {
    val root = tmpDir("snap-zonemap2")
    Snapshots.commit(
      Seq((1L, Some(0.1f)), (2L, Some(0.2f))).toDF("id", "score"), root,
      statsCols = Seq("id", "score"))
    Snapshots.commitDelta(
      Seq((3L, None: Option[Float])).toDF("id", "score"), root,
      statsCols = Seq("id", "score"))
    // all-null segment: skippable for ANY bounded range on that column
    assert(Snapshots.prunedTo(spark, root, "score", 0.0, 1.0) === Seq(1L))
    // float widening: a double bound BETWEEN Float.toString("0.2")
    // parsed as double (0.2d) and the widened float (0.20000000298...)
    // must keep the segment — the row is in range in the double domain
    val tight = 0.2000000015
    assert(Snapshots.prunedTo(spark, root, "score", tight, 1.0) === Seq(1L))
    assert(Snapshots.readAppendOnlyWhere(spark, root, "score", tight, 1.0)
      .collect().map(_.getLong(0)).toSeq === Seq(2L))
    // wrong bound type: loud, not silently unpruned
    intercept[IllegalArgumentException](
      Snapshots.prunedTo(spark, root, "id", "a", "z"))
    // unsupported stats column type at commit: loud
    val e = intercept[IllegalArgumentException](
      Snapshots.commit(Seq((1L, true)).toDF("id", "flag"), tmpDir("snap-zm3"),
        statsCols = Seq("flag")))
    assert(e.getMessage.contains("zone maps"))
  }

  test("delta chain: upsert + insert + tombstone, last writer wins") {
    val root = tmpDir("snap-delta")
    Snapshots.commit(
      Seq((1, "a", 10L), (2, "b", 20L), (3, "c", 30L)).toDF("id", "name", "amount"),
      root)
    // v2: update id=2, insert id=4, delete id=3
    Snapshots.commitDelta(
      Seq((2, "b2", 21L, false), (4, "d", 40L, false), (3, "c", 30L, true))
        .toDF("id", "name", "amount", "_deleted"),
      root)
    // v3: update id=2 again — the LATEST write must win over v2's
    Snapshots.commitDelta(
      Seq((2, "b3", 22L, false)).toDF("id", "name", "amount", "_deleted"),
      root)

    assert(rowsOf(Snapshots.asOf(spark, root, 2, Seq("id"))) ===
      Set((1, "a", 10L), (2, "b2", 21L), (4, "d", 40L)))
    assert(rowsOf(Snapshots.latest(spark, root, Seq("id"))) ===
      Set((1, "a", 10L), (2, "b3", 22L), (4, "d", 40L)))
  }

  test("commit wall-times: stamped at publish, preserved by later publishes, instant-addressable") {
    val root = tmpDir("snap-ts")
    val t0 = System.currentTimeMillis()
    Snapshots.commit(Seq((1, "a", 10L)).toDF("id", "name", "amount"), root)
    val t1 = System.currentTimeMillis()
    val l1 = Snapshots.manifestState(spark, root).lines
    assert(l1.map(_.v) === Seq(1L))
    assert(l1.head.ts >= t0 && l1.head.ts <= t1,
      s"v1 stamp ${l1.head.ts} outside the commit's wall-clock bracket [$t0, $t1]")
    Thread.sleep(5) // commits also take ~100ms; the sleep just makes the distinct-stamp claim airtight
    Snapshots.commitDelta(Seq((1, "a2", 11L)).toDF("id", "name", "amount"), root)
    val l2 = Snapshots.manifestState(spark, root).lines
    assert(l2.map(_.v) === Seq(1L, 2L))
    // v1's stamp is its COMMIT time — the later publish that re-wrote
    // the manifest line must not have re-stamped it
    assert(l2.head.ts === l1.head.ts, "a later publish re-stamped an old line")
    assert(l2(1).ts > l2.head.ts)
    // instant → version: latest commit stamped at or before t
    assert(Snapshots.versionAt(spark, root, l2(1).ts) === 2L)
    assert(Snapshots.versionAt(spark, root, l2(1).ts - 1) === 1L)
    assert(Snapshots.versionAt(spark, root, System.currentTimeMillis()) === 2L)
    val early = intercept[IllegalArgumentException] {
      Snapshots.versionAt(spark, root, l2.head.ts - 1)
    }
    assert(early.getMessage.contains("no version committed at or before"))
    // asOfTimestamp ≡ asOf(versionAt): the v1 answer at v1's instant,
    // reproducible after v2 amended it
    assert(rowsOf(Snapshots.asOfTimestamp(spark, root, l2.head.ts, Seq("id"))) ===
      Set((1, "a", 10L)))
    assert(rowsOf(Snapshots.asOfTimestamp(spark, root, l2(1).ts, Seq("id"))) ===
      Set((1, "a2", 11L)))
  }

  test("commit provenance: meta rides every commit form, survives republish/trim/excision, and hostile values can't break the manifest") {
    val root = tmpDir("snap-meta")
    // hostile values: tabs, newlines and quotes must not corrupt the
    // TSV manifest line (compact-JSON escaping carries them)
    val m1 = Map("job" -> "import-42", "who" -> "alice", "note" -> "tab\there\nand \"quotes\"")
    val m2 = Map("job" -> "import-43")
    Snapshots.commit(Seq((1, "a"), (2, "b")).toDF("id", "name"), root, meta = m1)
    Snapshots.commitDelta(Seq((2, "b2")).toDF("id", "name"), root, meta = m2)
    Snapshots.commitDelta(Seq((3, "c")).toDF("id", "name"), root) // no meta
    assert(Snapshots.manifestState(spark, root).lines.map(l => (l.v, l.meta)) ===
      Seq((1L, m1), (2L, m2), (3L, Map.empty)))
    // history rows carry the committing transaction's meta — the
    // "which import wrote this state" read, straight off each row
    val h = Snapshots.history(spark, root, Seq("id")).orderBy("id", "version").collect()
    def metaAt(id: Int, v: Long): Map[String, String] =
      h.find(r => r.getInt(3) == id && r.getLong(0) == v).get
        .getMap[String, String](h.head.fieldIndex("commit_meta")).toMap
    assert(metaAt(1, 1L) === m1)
    assert(metaAt(2, 2L) === m2)
    assert(metaAt(3, 3L) === Map.empty)
    // a full DROPPING a key synthesizes its delete with THE FULL's meta
    val mC = Map("op" -> "monthly-compaction")
    Snapshots.commit(Seq((1, "a")).toDF("id", "name"), root, meta = mC) // v4 omits 2,3
    val h2 = Snapshots.history(spark, root, Seq("id")).orderBy("id", "version").collect()
    val del = h2.find(r => r.getInt(3) == 2 && r.getString(2) == "delete").get
    assert(del.getLong(0) === 4L)
    assert(del.getMap[String, String](del.fieldIndex("commit_meta")).toMap === mC)
    // vacuum's trimmed republish preserves the retained lines' meta
    Snapshots.vacuum(spark, root, keepAfterVersion = 4L)
    assert(Snapshots.manifestState(spark, root).lines.map(l => (l.v, l.meta)) === Seq((4L, mC)))
    // excision republishes with meta intact — only the path moves
    Snapshots.commitDelta(Seq((9, "pii")).toDF("id", "name"), root, meta = m2)
    Snapshots.excise(spark, root, col("id") === 9)
    assert(Snapshots.manifestState(spark, root).lines.map(l => (l.v, l.meta)) ===
      Seq((4L, mC), (5L, m2)))
  }

  test("pre-timestamp manifests stay readable; unstamped lines resolve as older than any instant") {
    val root = tmpDir("snap-oldfmt")
    Seq((1, "a", 10L)).toDF("id", "name", "amount").write.parquet(s"$root/v1-aaaa1111")
    Seq((1, "a2", 11L)).toDF("id", "name", "amount").write.parquet(s"$root/v2-bbbb2222")
    // the r11-era 3-field line for v1 next to a stamped v2 line, in
    // one manifest — exactly what an upgraded store's manifest holds
    // after its first post-upgrade commit
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "_manifest.v2"),
      "1\tfull\tv1-aaaa1111\n2\tdelta\tv2-bbbb2222\t5000\n".getBytes("UTF-8"))
    assert(Snapshots.versions(spark, root).map(t => (t._1, t._2)) ===
      Seq((1L, "full"), (2L, "delta")))
    assert(Snapshots.manifestState(spark, root).lines.map(_.ts) === Seq(-1L, 5000L))
    // unstamped = "committed before stamps existed": older than any t
    assert(Snapshots.versionAt(spark, root, 4999L) === 1L)
    assert(Snapshots.versionAt(spark, root, 5000L) === 2L)
    assert(rowsOf(Snapshots.asOfTimestamp(spark, root, 4999L, Seq("id"))) ===
      Set((1, "a", 10L)))
    // a post-upgrade commit re-publishes the unstamped line in its OLD
    // 3-field form — re-stamping it with "now" would lie to versionAt
    Snapshots.commitDelta(Seq((1, "a3", 12L)).toDF("id", "name", "amount"), root)
    val after = Snapshots.manifestState(spark, root).lines
    assert(after.map(_.v) === Seq(1L, 2L, 3L))
    assert(after.head.ts === -1L, "a republish stamped a pre-timestamp line")
    assert(after(1).ts === 5000L)
    assert(after(2).ts > 5000L)
  }

  test("nullable _deleted (when() without otherwise) does not drop upserts") {
    val root = tmpDir("snap-nullable")
    Snapshots.commit(
      Seq((1, "a", 10L), (2, "b", 20L)).toDF("id", "name", "amount"), root)
    // the ADVICE shape: tombstone column built via when() with no
    // otherwise → NULL for live rows; a bare !_deleted would drop them
    val delta = Seq((1, "a2", 11L), (2, "b", 20L))
      .toDF("id", "name", "amount")
      .withColumn("_deleted", when(col("id") === 2, lit(true)))
    Snapshots.commitDelta(delta, root)
    assert(rowsOf(Snapshots.latest(spark, root, Seq("id"))) ===
      Set((1, "a2", 11L)))
  }

  test("compact folds the chain into a full snapshot; history stays readable") {
    val root = tmpDir("snap-compact")
    Snapshots.commit(Seq((1, "a", 10L), (2, "b", 20L)).toDF("id", "name", "amount"), root)
    Snapshots.commitDelta(
      Seq((2, "b2", 21L, false), (1, "a", 10L, true)).toDF("id", "name", "amount", "_deleted"),
      root)
    val before = rowsOf(Snapshots.latest(spark, root, Seq("id")))
    val v3 = Snapshots.compact(spark, root, Seq("id"))
    assert(v3 === 3L)
    assert(Snapshots.versions(spark, root).map(t => (t._1, t._2)) ===
      Seq((1L, "full"), (2L, "delta"), (3L, "full")))
    assert(rowsOf(Snapshots.asOf(spark, root, 3, Seq("id"))) === before)
    // pre-compaction history still reproducible
    assert(rowsOf(Snapshots.asOf(spark, root, 1, Seq("id"))) ===
      Set((1, "a", 10L), (2, "b", 20L)))
  }

  test("readAppendOnly skips superseded segments: no double-count after compact") {
    val root = tmpDir("snap-appendonly")
    Snapshots.commit(Seq((1, "a", 10L), (2, "b", 20L)).toDF("id", "name", "amount"), root)
    Snapshots.commitDelta(Seq((3, "c", 30L)).toDF("id", "name", "amount"), root)
    Snapshots.commitDelta(Seq((4, "d", 40L)).toDF("id", "name", "amount"), root)
    val want = Set((1, "a", 10L), (2, "b", 20L), (3, "c", 30L), (4, "d", 40L))
    // pre-compact: full + deltas, each row exactly once
    val pre = Snapshots.readAppendOnly(spark, root)
    assert(pre.count() === 4L && rowsOf(pre) === want)
    // post-compact the old full+deltas stay in the manifest; the
    // append-only read must pick ONLY the new full (this is the
    // streaming-ingest corpus view — a double-counted corpus would
    // double every verdict's n_matches and the scan cost)
    Snapshots.compact(spark, root, Seq("id"))
    val folded = Snapshots.readAppendOnly(spark, root)
    assert(folded.count() === 4L, "compact must not double-count the append-only read")
    assert(rowsOf(folded) === want)
    // deltas AFTER the compact land on top of the new base
    Snapshots.commitDelta(Seq((5, "e", 50L)).toDF("id", "name", "amount"), root)
    assert(rowsOf(Snapshots.readAppendOnly(spark, root)) === (want + ((5, "e", 50L))))
  }

  test("changes() classifies insert/update/delete and skips no-op rewrites") {
    val root = tmpDir("snap-changes")
    Snapshots.commit(
      Seq((1, "a", 10L), (2, "b", 20L), (3, "c", 30L)).toDF("id", "name", "amount"),
      root)
    // v2: id=2 updated, id=3 deleted, id=4 inserted, id=1 rewritten
    // with IDENTICAL values (a no-op that must NOT appear as a change)
    Snapshots.commitDelta(
      Seq((1, "a", 10L, false), (2, "b2", 21L, false), (3, "c", 30L, true),
        (4, "d", 40L, false)).toDF("id", "name", "amount", "_deleted"),
      root)
    val out = Snapshots.changes(spark, root, 1L, 2L, Seq("id"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getString(3)))
      .toSet
    assert(out === Set(
      (2, "b2", 21L, "update"),
      (3, "c", 30L, "delete"),
      (4, "d", 40L, "insert")))
  }

  test("manifests are immutable per version; empty store behaves gracefully") {
    val root = tmpDir("snap-manifest")
    assert(Snapshots.versions(spark, root).isEmpty)
    assert(Snapshots.latestVersion(spark, root) === 0L)
    intercept[IllegalArgumentException] {
      Snapshots.asOf(spark, root, 1, Seq("id"))
    }
    Snapshots.commit(Seq((1, "a", 10L)).toDF("id", "name", "amount"), root)
    Snapshots.commitDelta(
      Seq((1, "a2", 11L)).toDF("id", "name", "amount"), root)
    // one immutable manifest file per committed version — a reader
    // concurrent with a commit always finds a complete manifest
    val names = new java.io.File(root).listFiles().map(_.getName).toSet
    assert(names.contains("_manifest.v1") && names.contains("_manifest.v2"))
  }

  test("two interleaved writers: the chain stays linear, the loser fails loudly, no data is lost") {
    val root = tmpDir("snap-race")
    Snapshots.commit(Seq((1, "a", 10L)).toDF("id", "name", "amount"), root)
    // both writers observe the same next version, write their data
    // dirs under attempt-unique names, then race the manifest publish
    val v = Snapshots.nextVersion(spark, root)
    assert(v === 2L)
    Seq((2, "from-A", 20L)).toDF("id", "name", "amount").write.parquet(s"$root/v$v-writerA")
    Seq((3, "from-B", 30L)).toDF("id", "name", "amount").write.parquet(s"$root/v$v-writerB")
    Snapshots.appendManifest(spark, root, v, "delta", s"v$v-writerA")
    val err = intercept[IllegalStateException] {
      Snapshots.appendManifest(spark, root, v, "delta", s"v$v-writerB")
    }
    assert(err.getMessage.contains("race"), err.getMessage)
    // chain is linear and carries ONLY the winner; B's orphan data dir
    // is invisible to every reader (the manifest is the source of truth)
    assert(Snapshots.versions(spark, root).map(t => (t._1, t._3)) ===
      Seq((1L, Snapshots.versions(spark, root).head._3), (2L, s"v$v-writerA")))
    assert(rowsOf(Snapshots.latest(spark, root, Seq("id"))) ===
      Set((1, "a", 10L), (2, "from-A", 20L)))
    // the loser retries from a FRESH version number and lands cleanly
    Snapshots.commitDelta(Seq((3, "from-B", 30L)).toDF("id", "name", "amount"), root)
    assert(Snapshots.latestVersion(spark, root) === 3L)
    assert(rowsOf(Snapshots.latest(spark, root, Seq("id"))) ===
      Set((1, "a", 10L), (2, "from-A", 20L), (3, "from-B", 30L)))
  }

  test("compact racing a concurrent delta fails loudly instead of silently superseding it") {
    // the TOCTOU the version pin closes: compact folds the chain it
    // READ, but a streaming sink commits delta N between that read
    // and the publish — the publish CAS alone would not collide (it
    // lands at N+1) and the new full would supersede a delta whose
    // rows it never contained, silently and forever
    val root = tmpDir("snap-compact-race")
    Snapshots.commit(Seq((1, "a", 10L)).toDF("id", "name", "amount"), root)
    Snapshots.commitDelta(Seq((2, "b", 20L)).toDF("id", "name", "amount"), root)
    val staleChain = Snapshots.versions(spark, root)
    // the concurrent writer lands AFTER the compactor's chain read
    Snapshots.commitDelta(Seq((3, "c", 30L)).toDF("id", "name", "amount"), root)
    val err = intercept[IllegalStateException] {
      Snapshots.compactFrom(spark, root, Seq("id"), staleChain)
    }
    assert(err.getMessage.contains("stale fold"), err.getMessage)
    // nothing was lost: the concurrent delta is still visible, and a
    // RE-RUN compact (fresh chain read) folds all three rows
    assert(rowsOf(Snapshots.latest(spark, root, Seq("id"))) ===
      Set((1, "a", 10L), (2, "b", 20L), (3, "c", 30L)))
    val v = Snapshots.compact(spark, root, Seq("id"))
    assert(v === Snapshots.latestVersion(spark, root))
    assert(rowsOf(Snapshots.latest(spark, root, Seq("id"))) ===
      Set((1, "a", 10L), (2, "b", 20L), (3, "c", 30L)))
    // and the re-run compact superseded the chain: append-only read
    // now scans the single folded segment
    assert(rowsOf(Snapshots.readAppendOnly(spark, root)
      .select("id", "name", "amount")) ===
      Set((1, "a", 10L), (2, "b", 20L), (3, "c", 30L)))
  }

  test("commitDeltaRetrying: concurrent writers all land with the retry inside the API") {
    // the streaming-sink contract: an ingest delta losing the
    // manifest CAS to a concurrent writer (e.g. an operational
    // compact on the live store) re-publishes instead of throwing
    // out of foreachBatch and killing the stream — no caller-side
    // loop needed
    val root = tmpDir("snap-retrying")
    Snapshots.commit(Seq((0, "base", 0L)).toDF("id", "name", "amount"), root)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 2).map { t =>
      new Thread(() => {
        (0 until 4).foreach { i =>
          try Snapshots.commitDeltaRetrying(
            Seq((t * 100 + i, s"w$t-$i", i.toLong)).toDF("id", "name", "amount"), root)
          catch { case e: Throwable => errors.add(e) }
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(errors.isEmpty, s"a retrying commit escaped: ${errors.peek()}")
    val chain = Snapshots.versions(spark, root).map(_._1)
    assert(chain === (1L to 9L), s"chain not gapless/linear: $chain")
    val got = rowsOf(Snapshots.latest(spark, root, Seq("id")))
    val want = (for { t <- 1 to 2; i <- 0 until 4 }
      yield (t * 100 + i, s"w$t-$i", i.toLong)).toSet + ((0, "base", 0L))
    assert(got === want)
  }

  test("concurrent committers with OCC retry: every commit lands, the chain is gapless") {
    val root = tmpDir("snap-occ")
    Snapshots.commit(Seq((0, "base", 0L)).toDF("id", "name", "amount"), root)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 2).map { t =>
      new Thread(() => {
        (0 until 4).foreach { i =>
          val df = Seq((t * 100 + i, s"w$t-$i", i.toLong)).toDF("id", "name", "amount")
          // standard optimistic-concurrency loop: losing the publish
          // CAS re-reads the chain and retries under the next version
          var done = false
          var attempts = 0
          while (!done && attempts < 20) {
            attempts += 1
            try { Snapshots.commitDelta(df, root); done = true }
            catch { case _: IllegalStateException => () }
          }
          if (!done) errors.add(new IllegalStateException(s"w$t-$i never landed"))
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(errors.isEmpty, s"${errors.size} commits lost: ${errors.peek()}")
    val chain = Snapshots.versions(spark, root).map(_._1)
    assert(chain === (1L to 9L), s"chain not gapless/linear: $chain")
    // all 8 concurrent upserts are visible in the merged latest read
    val got = rowsOf(Snapshots.latest(spark, root, Seq("id")))
    val want = (for { t <- 1 to 2; i <- 0 until 4 }
      yield (t * 100 + i, s"w$t-$i", i.toLong)).toSet + ((0, "base", 0L))
    assert(got === want)
  }

  test("append-only read refuses a store whose segments carry tombstones") {
    val root = tmpDir("snap-tomb")
    Snapshots.commit(Seq((1, "a", 10L)).toDF("id", "name", "amount"), root)
    Snapshots.commitDelta(
      Seq((1, "a", 10L, true)).toDF("id", "name", "amount", "_deleted"), root)
    // the raw union would serve the retracted row as live data (or
    // die in unionByName on the mixed schema) — must be a loud,
    // actionable refusal instead
    val e = intercept[IllegalStateException] { Snapshots.readAppendOnly(spark, root) }
    assert(e.getMessage.contains("_deleted") && e.getMessage.contains("latest/asOf"),
      e.getMessage)
    // the merge readers keep working: the tombstone retracts the row
    assert(Snapshots.latest(spark, root, Seq("id")).count() === 0L)
  }

  test("the derived orders store rebuilds when its source table is regenerated") {
    val dir = tmpDir("wh-stale-src")
    val full = spark.read.parquet(s"$sf/orders.parquet")
    full.write.parquet(s"$dir/orders.parquet")
    def agg(): Map[String, Long] =
      SparkEntry.queries("q94_snapshot_asof")(spark, dir).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val before = agg()
    assert(before.values.sum === full.count())
    // regenerate the source in place with DIFFERENT content — the
    // derived snapshot store must not keep serving the old corpus
    // (its reuse check stamps the source's listing signature)
    full.limit(10).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val after = agg()
    assert(after.values.sum === 10L,
      s"stale derived store served the old corpus: $after (before: $before)")
  }

  test("excise: a crash between publish and delete converges — the effect landed, vacuum finishes the cleanup, the audit survives") {
    val root = tmpDir("snap-excise-crash")
    Snapshots.commit(Seq((1L, "a"), (2L, "pii")).toDF("id", "name"), root)
    Snapshots.commitDelta(Seq((3L, "c")).toDF("id", "name"), root)
    val before = Snapshots.manifestState(spark, root)
    val origRel = before.lines.find(_.v == 1L).get.rel
    val hfs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val e = intercept[IllegalStateException](Snapshots.exciseFrom(
      spark, root, col("id") === 2L, before, crashBeforeDelete = true))
    assert(e.getMessage.contains("injected crash"))
    // the takedown already TOOK EFFECT: the manifest points at the
    // rewrite and no read at any version serves the excised key...
    assert(Snapshots.read(spark, root, 1L).filter(col("id") === 2L).count() === 0L)
    assert(Snapshots.history(spark, root, Seq("id")).filter(col("id") === 2L).count() === 0L)
    assert(Snapshots.excisions(spark, root).size === 1)
    // ...but the crash left the ORIGINAL v1 directory (with the PII)
    // on disk as an unreferenced orphan
    assert(hfs.exists(new org.apache.hadoop.fs.Path(root, origRel)),
      "precondition: the injected crash must leave the original segment behind")
    // a later vacuum converges the physical state: the orphan goes,
    // the audit record and every logical read stay exactly as-is
    Snapshots.vacuum(spark, root, keepAfterVersion = Snapshots.latestVersion(spark, root),
      orphanGraceMs = 0L)
    assert(!hfs.exists(new org.apache.hadoop.fs.Path(root, origRel)),
      "vacuum must finish the interrupted excision's physical cleanup")
    assert(Snapshots.excisions(spark, root).size === 1)
    assert(Snapshots.latest(spark, root, Seq("id")).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L))
  }

  test("vacuum sweeps stray .tmp- files from crashed publishes; final manifest and audit names stay") {
    val root = tmpDir("snap-tmp-sweep")
    Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), root)
    Snapshots.excise(spark, root, col("id") === 2L)
    val hfs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    // a crash between create and rename leaves exactly these behind
    val strays = Seq("_manifest.v9.tmp-deadbeef", "_excise.v9.tmp-deadbeef", "_format.tmp-deadbeef",
      "_tag.rel.tmp-deadbeef", "_linkprobe.tmp-deadbeef")
    strays.foreach { n =>
      val out = hfs.create(new org.apache.hadoop.fs.Path(root, n), true)
      try out.write("stray".getBytes("UTF-8")) finally out.close()
    }
    Snapshots.vacuum(spark, root, keepAfterVersion = Snapshots.latestVersion(spark, root),
      orphanGraceMs = 0L)
    strays.foreach { n =>
      assert(!hfs.exists(new org.apache.hadoop.fs.Path(root, n)), s"stray $n must be swept")
    }
    // the published names are untouched and the store still reads
    assert(Snapshots.excisions(spark, root).size === 1)
    assert(Snapshots.latest(spark, root, Seq("id")).count() === 1L)
  }

  test("metadata is an imported table: create/amend/retract nodes flow through store commits; every tree read reflects the tip") {
    import graft.operators.Warehouse
    val root = tmpDir("snap-metadata")
    def tree(df: org.apache.spark.sql.DataFrame): Seq[(Int, String, Long)] =
      Warehouse.metadataTree(df).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    // the "create study/form/item" surface IS a store commit of
    // part-shaped metadata rows
    Snapshots.commit(Seq(
      (1L, "widget alpha", "B1", "T1", 10.0),
      (2L, "widget beta", "B1", "T2", 20.0),
      (3L, "widget gamma", "B2", "T1", 30.0),
      (4L, "gizmo delta", "B2", "T1", 40.0)) // filtered out by name
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_retailprice"), root)
    assert(tree(Snapshots.latest(spark, root, Seq("p_partkey"))) === Seq(
      (0, "(root)", 3L),
      (1, "B1", 2L), (1, "B2", 1L),
      (2, "B1/T1", 1L), (2, "B1/T2", 1L), (2, "B2/T1", 1L)))
    // an AMEND (move item 2 to brand B2) and a RETRACT (drop item 3)
    // are one delta commit; the tree read follows the merged tip
    Snapshots.commitDelta(Seq(
      (2L, "widget beta", "B2", "T2", 20.0, false),
      (3L, "widget gamma", "B2", "T1", 30.0, true))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_retailprice", "_deleted"), root)
    assert(tree(Snapshots.latest(spark, root, Seq("p_partkey"))) === Seq(
      (0, "(root)", 2L),
      (1, "B1", 1L), (1, "B2", 1L),
      (2, "B1/T1", 1L), (2, "B2/T2", 1L)))
    // and the pinned as-of read still serves the PRE-amend tree — the
    // reproducibility the reference's versioned metadata promises
    assert(tree(Snapshots.asOf(spark, root, 1L, Seq("p_partkey"))).head === ((0, "(root)", 3L)))
  }

  test("manifest format marker: meta commits stamp _format; higher or garbled markers refuse with the upgrade remedy") {
    val root = tmpDir("snap-format")
    val hfs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(root, "_format")
    // meta-less commits keep the format-1 wire form: no marker churn
    Snapshots.commit(Seq((1L, "a")).toDF("id", "name"), root)
    assert(!hfs.exists(marker))
    // the first meta-carrying publish stamps the format it needs
    Snapshots.commitDelta(Seq((2L, "b")).toDF("id", "name"), root, meta = Map("job" -> "x"))
    assert(hfs.exists(marker))
    val in = hfs.open(marker)
    val stamped = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    assert(stamped === "2")
    assert(Snapshots.latest(spark, root, Seq("id")).count() === 2L)
    // a store from a FUTURE build refuses BEFORE the line splitter,
    // naming the format and the remedy
    def overwrite(content: String): Unit = {
      val out = hfs.create(marker, true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
    }
    overwrite("3")
    val e1 = intercept[IllegalStateException](Snapshots.versions(spark, root))
    assert(e1.getMessage.contains("format 3") && e1.getMessage.contains("upgrade"),
      e1.getMessage)
    // an unparseable marker is a format we don't know — refuse, never guess
    overwrite("banana")
    val e2 = intercept[IllegalStateException](Snapshots.versions(spark, root))
    assert(e2.getMessage.contains("banana") && e2.getMessage.contains("upgrade"), e2.getMessage)
    // restoring the real format restores the read
    overwrite("2")
    assert(Snapshots.latest(spark, root, Seq("id")).count() === 2L)
  }

  test("job pin: asOf and range pruning over an evolved tombstone chain read footers with no job") {
    val root = tmpDir("snap-jobpin")
    Snapshots.commit(Seq((1, "a", 10L), (2, "b", 20L), (3, "c", 30L)).toDF("id", "name", "amount"),
      root, statsCols = Seq("id"))
    Snapshots.commitDelta(Seq((2, "b", 20L, true), (4, "d", 40L, false))
      .toDF("id", "name", "amount", "_deleted"), root, statsCols = Seq("id"))
    Snapshots.commitDelta(Seq((5, "e", 0.5)).toDF("id", "name", "score"), root,
      evolveSchema = true, statsCols = Seq("id"))
    // cold reader memo: the commits above resolved every segment's footer
    graft.sources.Sources.forgetSchemas(spark)
    var df: DataFrame = null
    assert(jobsIn("asof-build") { df = Snapshots.asOf(spark, root, 3, Seq("id")) } === 0)
    assert(df.select("id").as[Int].collect().sorted.toSeq === Seq(1, 3, 4, 5))
    assert(df.columns.toSet === Set("id", "name", "amount", "score"))
    graft.sources.Sources.forgetSchemas(spark)
    var kept: Seq[Long] = Nil
    assert(jobsIn("range-prune") { kept = Snapshots.prunedTo(spark, root, "id", 4, 9) } === 0)
    assert(kept === Seq(2L, 3L))
    // the same pin on a whole range read of an append-only chain
    val ao = tmpDir("snap-jobpin-ao")
    Snapshots.commit(Seq((1, "a", 10L)).toDF("id", "name", "amount"), ao, statsCols = Seq("id"))
    Snapshots.commitDelta(Seq((50, "b", 20L)).toDF("id", "name", "amount"), ao, statsCols = Seq("id"))
    Snapshots.commitDelta(Seq((100, "c", 0.5)).toDF("id", "name", "score"), ao,
      evolveSchema = true, statsCols = Seq("id"))
    graft.sources.Sources.forgetSchemas(spark)
    var range: DataFrame = null
    assert(jobsIn("range-build") { range = Snapshots.readAppendOnlyWhere(spark, ao, "id", 40, 200) } === 0)
    assert(range.select("id").as[Int].collect().sorted.toSeq === Seq(50, 100))
  }
}

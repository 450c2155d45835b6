package graft

import graft.sources.Snapshots
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The store merge (`base ⋉̸ keys(deltas) ∪ lastWriterWins(deltas)`)
  * against a plain-Scala last-writer-wins reference, over seeded
  * chains that update, insert, tombstone (in the full snapshot too,
  * and keys the base never held), re-insert after a tombstone, touch
  * one key in several deltas, supersede a NULL key, evolve the schema
  * (an added column, and a column whose type differs from an earlier
  * delta's), compact and excise; plus the plan the merge compiles to.
  */
class SnapshotMergeSpec extends SparkSpec {

  /** One committed row; `extra`/`score` are None where the commit does
    * not carry the column.
    */
  private case class Rec(k1: Option[Int], k2: String, name: String, amount: Long,
      del: Boolean = false, extra: Option[Long] = None, score: Option[Double] = None)

  /** A commit: its kind, rows and optional columns (`extra` typed int
    * or long).
    */
  private case class Commit(full: Boolean, rows: Seq[Rec], extra: Option[DataType] = None,
      score: Boolean = false)

  private def frame(c: Commit): DataFrame = {
    val fields = Seq(StructField("k1", IntegerType), StructField("k2", StringType),
      StructField("name", StringType), StructField("amount", LongType)) ++
      (if (c.full && !c.rows.exists(_.del)) Nil else Seq(StructField("_deleted", BooleanType))) ++
      c.extra.map(StructField("extra", _)) ++
      (if (c.score) Seq(StructField("score", DoubleType)) else Nil)
    val rows = c.rows.map { r =>
      Row.fromSeq(Seq(r.k1.getOrElse(null), r.k2, r.name, r.amount) ++
        (if (c.full && !c.rows.exists(_.del)) Nil else Seq(r.del)) ++
        c.extra.map(t => r.extra.map[Any](x => if (t == IntegerType) x.toInt: Any else x).getOrElse(null)) ++
        (if (c.score) Seq(r.score.getOrElse(null)) else Nil))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(fields))
  }

  private type Key = (Option[Int], String)
  private def keyOf(keys: Seq[String])(r: Rec): Key =
    if (keys.contains("k2")) (r.k1, r.k2) else (r.k1, "")

  /** Plain-Scala last-writer-wins: the latest full commit at or below
    * `v` (1-based) minus its tombstones, then each later delta's rows
    * in order, a tombstone removing its key.
    */
  private def reference(commits: Seq[Commit], v: Int, keys: Seq[String]): Set[Rec] = {
    val base = (0 until v).filter(commits(_).full).last
    val st = scala.collection.mutable.LinkedHashMap.empty[Key, Rec]
    commits(base).rows.filterNot(_.del).foreach(r => st(keyOf(keys)(r)) = r)
    (base + 1 until v).foreach(i => commits(i).rows.foreach { r =>
      if (r.del) st -= keyOf(keys)(r) else st(keyOf(keys)(r)) = r
    })
    st.values.map(_.copy(del = false)).toSet
  }

  private def recsOf(df: DataFrame): Set[Rec] = {
    val cols = df.columns.toSet
    df.collect().map { r =>
      def opt[A](c: String)(f: Int => A): Option[A] =
        if (!cols(c) || r.isNullAt(r.fieldIndex(c))) None else Some(f(r.fieldIndex(c)))
      Rec(opt("k1")(r.getInt), r.getAs[String]("k2"), r.getAs[String]("name"), r.getAs[Long]("amount"),
        extra = opt("extra")(i => r.getAs[Number](i).longValue), score = opt("score")(r.getDouble))
    }.toSet
  }

  /** A seeded chain: a base with one tombstone, then five deltas (the
    * second to fourth evolve the schema: `extra` as int, then `score`,
    * then `extra` as long). The fixed edits make every case occur
    * whatever the seed; the seed adds random updates, inserts and
    * tombstones over keys 1-44.
    */
  private def chain(seed: Long, twoKeys: Boolean): Seq[Commit] = {
    val rnd = new scala.util.Random(seed)
    def k2Of(k: Int) = if (twoKeys && k % 2 == 0) "b" else "a"
    def rec(k: Option[Int], tag: String, del: Boolean = false) =
      Rec(k, k.map(k2Of).getOrElse("a"), s"$tag-${k.getOrElse("null")}", rnd.nextInt(1000).toLong, del)
    // a full snapshot may carry tombstones too: key 19's reads as absent
    val base = (1 to 20).map(k => rec(Some(k), "v1", del = k == 19)) :+ rec(None, "v1")
    // the fixed edits per delta: (key, tombstone?)
    val fixed: Seq[Seq[(Option[Int], Boolean)]] = Seq(
      Seq(None -> false, Some(5) -> false, Some(45) -> true, Some(21) -> false), // NULL key, absent tombstone
      Seq(Some(3) -> true, Some(5) -> false, Some(21) -> true),                  // tombstones
      Seq(Some(5) -> false, Some(46) -> false),                                  // 5 again, insert
      Seq(Some(3) -> false, Some(21) -> false, None -> true),                    // re-inserts, NULL tombstone
      Seq(Some(5) -> false, None -> false))                                      // NULL re-insert
    val deltas = fixed.zipWithIndex.map { case (edits, i) =>
      val taken = edits.map(_._1).toSet
      val random = rnd.shuffle((1 to 44).map(Some(_)).filterNot(taken)).take(4 + rnd.nextInt(4))
        .map(k => k -> (rnd.nextInt(4) == 0))
      (edits ++ random).map { case (k, del) => rec(k, s"v${i + 2}", del) }
    }
    def withExtra(rows: Seq[Rec]) = rows.map(r => r.copy(extra = Some(rnd.nextInt(100).toLong)))
    def withScore(rows: Seq[Rec]) = rows.map(r => r.copy(score = Some(rnd.nextDouble())))
    Seq(Commit(full = true, base),
      Commit(full = false, deltas(0)),
      Commit(full = false, withExtra(deltas(1)), extra = Some(IntegerType)),
      Commit(full = false, withScore(deltas(2)), score = true),
      Commit(full = false, withScore(withExtra(deltas(3))), extra = Some(LongType), score = true),
      Commit(full = false, deltas(4)))
  }

  private def commitAll(root: String, commits: Seq[Commit]): Unit =
    commits.foreach { c =>
      if (c.full) Snapshots.commit(frame(c), root, statsCols = Seq("k1"))
      else Snapshots.commitDelta(frame(c), root, evolveSchema = true, statsCols = Seq("k1"))
    }

  private def checkReads(root: String, commits: Seq[Commit], keys: Seq[String], seed: Long): Unit = {
    val rnd = new scala.util.Random(seed * 31 + 7)
    (1 to commits.size).foreach { v =>
      assert(recsOf(Snapshots.asOf(spark, root, v, keys)) === reference(commits, v, keys),
        s"asOf v$v (seed $seed, keys $keys)")
    }
    (1 to 3).foreach { _ =>
      val v = 2 + rnd.nextInt(commits.size - 1)
      val lo = 1 + rnd.nextInt(30)
      val hi = lo + rnd.nextInt(15)
      val ref = reference(commits, v, keys).filter(_.k1.exists(k => k >= lo && k <= hi))
      assert(recsOf(Snapshots.readMergeWhere(spark, root, keys, "k1", lo, hi, v)) === ref,
        s"readMergeWhere k1 in [$lo, $hi] at v$v (seed $seed, keys $keys)")
      val probe = Seq(3, 5, 21, 45, 46) ++ Seq.fill(2)(1 + rnd.nextInt(44))
      val refEq = reference(commits, v, keys).filter(_.k1.exists(probe.contains))
      assert(recsOf(Snapshots.readMergeEq(spark, root, keys, "k1", probe, v)) === refEq,
        s"readMergeEq k1 in $probe at v$v (seed $seed, keys $keys)")
    }
  }

  private def scenario(seed: Long, twoKeys: Boolean): Unit = {
    val keys = if (twoKeys) Seq("k1", "k2") else Seq("k1")
    val root = tmpDir(s"merge-parity-$seed")
    var commits = chain(seed, twoKeys)
    commitAll(root, commits)
    checkReads(root, commits, keys, seed)
    // speculative import: the tip as base, the batch as its only delta
    val rnd = new scala.util.Random(seed + 1)
    val batch = Commit(full = false, Seq(
      Rec(None, "a", "b-null", 1L), Rec(Some(5), "a", "b-5", 2L, del = true),
      Rec(Some(50), if (twoKeys) "b" else "a", "b-50", 3L)) ++
      rnd.shuffle((1 to 20).filterNot(_ == 5).toList).take(3).map(k => Rec(Some(k), if (twoKeys && k % 2 == 0) "b" else "a",
        s"b-$k", 4L, del = rnd.nextBoolean())))
    assert(recsOf(Snapshots.withBatch(spark, root, frame(batch), keys, evolveSchema = true)) ===
      reference(commits :+ batch, commits.size + 1, keys), s"withBatch (seed $seed, keys $keys)")
    // compact folds the tip into a full snapshot; one delta after it
    Snapshots.compact(spark, root, keys, statsCols = Seq("k1"))
    val folded = Commit(full = true, reference(commits, commits.size, keys).toSeq)
    commits = commits :+ folded
    // (1, "z") updates key 1 on the one-column key and is a new key beside (1, "a") on two
    val after = Commit(full = false, Seq(Rec(Some(7), "a", "after-7", 9L, del = true),
      Rec(Some(60), "a", "after-60", 9L), Rec(Some(1), "z", "after-1z", 9L)))
    Snapshots.commitDelta(frame(after), root, evolveSchema = true, statsCols = Seq("k1"))
    commits = commits :+ after
    assert(recsOf(Snapshots.latest(spark, root, keys)) === reference(commits, commits.size, keys))
    // an excision republishes every segment holding key 9 under a new directory
    Snapshots.excise(spark, root, col("k1") === 9)
    val excised = commits.map(c => c.copy(rows = c.rows.filterNot(_.k1.contains(9))))
    checkReads(root, excised, keys, seed + 100)
  }

  Seq(11L, 12L).foreach { seed =>
    test(s"merge parity with a plain-Scala last-writer-wins reference, seed $seed") {
      scenario(seed, twoKeys = false)
    }
  }

  test("merge parity on a two-column key, seed 13") {
    scenario(13L, twoKeys = true)
  }

  test("a full snapshot with a duplicated key returns both rows; a delta supersedes both") {
    val root = tmpDir("merge-dup-base")
    val base = Commit(full = true, Seq(Rec(Some(1), "a", "x", 1L), Rec(Some(1), "a", "y", 2L),
      Rec(Some(2), "a", "z", 3L)))
    Snapshots.commit(frame(base), root)
    assert(recsOf(Snapshots.latest(spark, root, Seq("k1"))).map(_.name) === Set("x", "y", "z"))
    Snapshots.commitDelta(frame(Commit(full = false, Seq(Rec(Some(1), "a", "w", 4L)))), root)
    assert(recsOf(Snapshots.latest(spark, root, Seq("k1"))).map(_.name) === Set("w", "z"))
  }

  private object Walk extends AdaptiveSparkPlanHelper

  private def scansOf(plan: SparkPlan): Seq[FileSourceScanExec] =
    Walk.collect(plan) { case s: FileSourceScanExec => s }

  private def dirsOf(scan: FileSourceScanExec): Set[String] =
    scan.relation.location.rootPaths.map(_.getName).toSet

  test("plan pin: the base scan feeds no exchange, the deltas are one relation, one segment plans no merge") {
    import spark.implicits._
    val root = tmpDir("merge-plan")
    Snapshots.commit((1 to 2000).map(i => (i, s"n$i", i.toLong)).toDF("id", "name", "amount"), root)
    (1 to 3).foreach { d =>
      Snapshots.commitDelta(Seq((d, s"u$d", 0L, false), (100 + d, "t", 0L, true), (5000 + d, "i", 0L, false))
        .toDF("id", "name", "amount", "_deleted"), root)
    }
    val dirs = Snapshots.versions(spark, root).map(_._3)
    val df = Snapshots.asOf(spark, root, 4, Seq("id"))
    assert(df.count() === 2000L - 3 + 3)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val scans = scansOf(plan)
    val (baseScans, deltaScans) = scans.partition(s => dirsOf(s) === Set(dirs.head))
    assert(baseScans.size === 1, s"one base scan:\n$plan")
    // every scan over the deltas is the one relation over all three
    assert(deltaScans.nonEmpty && deltaScans.forall(s => dirsOf(s) === dirs.tail.toSet),
      s"the deltas are not one relation:\n$plan")
    val exchanged = Walk.collect(plan) {
      case e: ShuffleExchangeExec => scansOf(e)
      case b: BroadcastExchangeExec => scansOf(b)
    }.flatten
    assert(!exchanged.exists(baseScans.contains), s"the base scan feeds an exchange:\n$plan")
    assert(Walk.collect(plan) { case w: WindowExec => w }.size === 1, s"one delta rank:\n$plan")
    // a one-segment chain: the base scan alone
    val one = Snapshots.asOf(spark, root, 1, Seq("id"))
    assert(one.count() === 2000L)
    val onePlan = one.queryExecution.executedPlan
    assert(Walk.collect(onePlan) { case w: WindowExec => w }.isEmpty, s"a merge on one segment:\n$onePlan")
    assert(Walk.collect(onePlan) { case e: Exchange => e }.isEmpty, s"an exchange on one segment:\n$onePlan")
  }
}

package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** [[Stage]] — the cluster-safe one-shot materialization used by
  * qa2's curation staging and q6g's collapsed-representative table.
  */
class StageSpec extends SparkSpec {

  test("default staging is lineage-preserving MEMORY_AND_DISK, rows identical") {
    val df = Tables.documents(spark, sf).select("doc_id", "source")
    val staged = Stage(df)
    try {
      // cluster-safety: spillable storage, and NO localCheckpoint —
      // lineage must survive so a lost block recomputes instead of
      // failing the job
      assert(staged.storageLevel === StorageLevel.MEMORY_AND_DISK)
      assert(!staged.rdd.toDebugString.contains("LocalCheckpoint"),
        "staging must not truncate lineage via localCheckpoint")
      assert(staged.count() === df.count())
      assert(staged.orderBy("doc_id").collect().toSeq ===
        df.orderBy("doc_id").collect().toSeq)
    } finally { staged.unpersist(); () }
  }

  test("releaseAll unpersists accumulated stages; released frames recompute from lineage") {
    val a = Stage(Tables.documents(spark, sf).select("doc_id"))
    val b = Stage(Tables.documents(spark, sf).select("doc_id", "source"))
    assert(a.storageLevel === StorageLevel.MEMORY_AND_DISK)
    assert(b.storageLevel === StorageLevel.MEMORY_AND_DISK)
    val n = a.count()
    Stage.releaseAll()
    assert(a.storageLevel === StorageLevel.NONE, "stage not released")
    assert(b.storageLevel === StorageLevel.NONE, "stage not released")
    // lineage survives the release: the frame still computes
    assert(a.count() === n)
  }

  test("releaseAll empties the cohort image memo; a vector index's geometry still reads back") {
    import operators.CohortQuery
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val root = tmpDir("stage-geom") + "/idx"
    dedup.Dedup.commitVecIndex(Tables.embeddings(spark, sf), root)
    val g = dedup.Dedup.openVecIndex(spark, root)._1
    val cohort = CohortQuery.count(spark, sf, CohortQuery.demoSpec)
    val n = cohort.head().getLong(0)
    assert(CohortQuery.populationSize(spark, sf, CohortQuery.demoSpec) === n)
    assert(CohortQuery.preparedInfo(spark, sf).shapes > 0)
    val images = cohort.queryExecution.withCachedData.collect { case r: InMemoryRelation => r.cacheBuilder }
    assert(images.nonEmpty && images.forall(_.isCachedColumnBuffersLoaded), "the count filled no image")
    assert(CohortQuery.imageInfo(spark, sf).nonEmpty)
    Stage.releaseAll(spark)
    // the geometry lives on the index's manifest line, not in a memo
    assert(dedup.Dedup.openVecIndex(spark, root)._1 === g)
    assert(CohortQuery.imageInfo(spark, sf).isEmpty, "releaseAll left the image memo populated")
    assert(CohortQuery.preparedInfo(spark, sf).shapes === 0, "releaseAll left prepared counts held")
    assert(!images.exists(_.isCachedColumnBuffersLoaded), "releaseAll left an image persisted")
    assert(CohortQuery.count(spark, sf, CohortQuery.demoSpec).head().getLong(0) === n)
  }

  test("re-staging an identical plan does not grow the release queue") {
    // the contract the scaladoc promises: CacheManager dedups the
    // cache ENTRY, but an unconditional enqueue per call would pin
    // plan trees without bound in a long-lived session re-staging the
    // same frame per batch — a slow driver-heap leak
    Stage.releaseAll()
    val base = Stage.stagedFrames.size
    (1 to 3).foreach(_ => Stage(Tables.documents(spark, sf).select("doc_id")))
    assert(Stage.stagedFrames.size === base + 1,
      "identical plans must be tracked once")
    Stage(Tables.documents(spark, sf).select("doc_id", "lang"))
    assert(Stage.stagedFrames.size === base + 2, "a genuinely new plan must still be tracked")
    Stage.releaseAll()
    assert(Stage.stagedFrames.size === 0)
  }

  test("graft.checkpointDir switches staging to a reliable checkpoint") {
    val dir = tmpDir("graft-ckpt")
    spark.conf.set("graft.checkpointDir", dir)
    try {
      val df = spark.range(0, 1000).toDF("id").withColumn("sq", col("id") * col("id"))
      val staged = Stage(df)
      assert(staged.count() === 1000L)
      assert(staged.orderBy("id").collect().toSeq === df.orderBy("id").collect().toSeq)
      // the staged bytes must actually live in the reliable dir
      val walked = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      val nFiles = try walked.filter(p => java.nio.file.Files.isRegularFile(p)).count()
        finally walked.close()
      assert(nFiles > 0, s"no checkpoint files written under $dir")
    } finally spark.conf.unset("graft.checkpointDir")
  }

  test("Stage.cut truncates lineage; graft.checkpointDir makes the cut reliable") {
    // default: localCheckpoint — the plan below the cut is gone, so a
    // consumer cannot re-run the upstream pipeline (the property the
    // ingest cycles depend on: verdicts must never re-score against a
    // mutated index)
    val local = Stage.cut(spark.range(0, 100).toDF("id"))
    assert(local.rdd.toDebugString.contains("LocalCheckpoint"),
      "default cut must be a localCheckpoint")
    assert(local.count() === 100L)
    // reliable path: same truncation, bytes on the shared filesystem
    val dir = tmpDir("graft-cut-ckpt")
    spark.conf.set("graft.checkpointDir", dir)
    try {
      val cut = Stage.cut(spark.range(0, 50).toDF("id"))
      assert(cut.count() === 50L)
      assert(cut.rdd.toDebugString.contains("ReliableCheckpoint"),
        s"cut under graft.checkpointDir must be a reliable checkpoint:\n${cut.rdd.toDebugString}")
      val walked = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      val nFiles = try walked.filter(p => java.nio.file.Files.isRegularFile(p)).count()
        finally walked.close()
      assert(nFiles > 0, s"no checkpoint files under $dir")
    } finally spark.conf.unset("graft.checkpointDir")
  }

  test("qa2: the curated corpus is staged once — the result survives source deletion") {
    // point the text pipeline at a throwaway parquet copy, build the
    // composed curation (construction-time actions populate the
    // stage), then DELETE the source: any re-scan of the curated
    // pipeline would now fail, so a green count proves the annotation
    // scan ran exactly once into the staged copy
    val dir = tmpDir("graft-qa2-src")
    Tables.documents(spark, sf).write.parquet(s"$dir/docs")
    val docs = spark.read.parquet(s"$dir/docs")
    val emb = Tables.embeddings(spark, sf)
    val out = operators.Curate.curatedSemantic(docs, emb)
    val expect = out.count()
    // recursive delete of the docs source
    val p = java.nio.file.Paths.get(s"$dir/docs")
    val walked = java.nio.file.Files.walk(p)
    try walked.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(f => java.nio.file.Files.delete(f))
    finally walked.close()
    assert(!java.nio.file.Files.exists(p))
    assert(out.count() === expect, "post-delete action re-ran the curation scan")
    assert(expect > 0L)
  }

  test("reliable-checkpoint staging memoizes identical plans; release scopes per session and drops the memo") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = tmpDir("stage-ckpt-memo")
    spark.conf.set("graft.checkpointDir", dir)
    try {
      val df = Seq(1, 2, 3).toDF("v").filter(col("v") > 1)
      val c1 = Stage(df)
      // an identical plan must NOT re-run the upstream job and write a
      // fresh corpus-sized checkpoint (nothing reclaims those files by
      // default) — the no-op contract the persist path already keeps
      val c2 = Stage(df)
      assert(c1 eq c2, "identical plan re-staged on the checkpoint path")
      val (c2b, n) = Stage.counted(df)
      assert((c2b eq c1) && n == 2L)
      // session-scoped release drops the memo: a later stage of the
      // same plan re-checkpoints (its files were left to the dir)
      Stage.releaseAll(spark)
      val c3 = Stage(df)
      assert(!(c3 eq c1), "release did not drop the checkpoint memo")
    } finally {
      Stage.releaseAll(spark)
      spark.conf.unset("graft.checkpointDir")
    }
  }

  test("re-pointing graft.checkpointDir misses the checkpoint memo instead of serving the dead root") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dirA = tmpDir("stage-ckpt-repoint-a")
    val dirB = tmpDir("stage-ckpt-repoint-b")
    spark.conf.set("graft.checkpointDir", dirA)
    try {
      val df = Seq(1, 2, 3).toDF("v").filter(col("v") > 0)
      val c1 = Stage(df)
      assert(Stage(df) eq c1)
      // a new job epoch re-points the dir (the old one may be deleted):
      // the memo must MISS — returning c1 would hand out a frame whose
      // bytes live under the dead directory
      spark.conf.set("graft.checkpointDir", dirB)
      val c2 = Stage(df)
      assert(!(c2 eq c1), "memo served a checkpoint rooted in the re-pointed-away directory")
      assert(c2.count() === 3L)
      // and the new dir memoizes in its own right
      assert(Stage(df) eq c2)
    } finally {
      Stage.releaseAll(spark)
      spark.conf.unset("graft.checkpointDir")
    }
  }

  test("Stage.lazily: after the first action of qa2 and of qa3 every staged partition is cached") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val sc = spark.sparkContext
    def assertFullyCached(query: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val rel = df.queryExecution.withCachedData.collectFirst { case r: InMemoryRelation => r }
        .getOrElse(fail(s"$query: a staged frame is not a cached relation"))
      assert(rel.cacheBuilder.isCachedColumnBuffersLoaded, s"$query: staged relation never materialized")
      val rdd = rel.cacheBuilder.cachedColumnBuffers
      val info = sc.getRDDStorageInfo.find(_.id == rdd.id)
        .getOrElse(fail(s"$query: no block of the staged relation is stored"))
      assert(info.numCachedPartitions === rdd.getNumPartitions,
        s"$query: ${info.numCachedPartitions} of ${rdd.getNumPartitions} staged partitions cached")
    }
    // qa2's first action is semanticDedup's probe job, run while the
    // query is built; qa3 builds without an action, so its first is the
    // query's own
    Seq("qa2_curate_semantic" -> false, "qa3_training_run" -> true).foreach { case (q, collect) =>
      Stage.releaseAll(spark)
      spark.catalog.clearCache()
      val df = SparkEntry.queries(q)(spark, sf)
      if (collect) df.collect()
      val staged = Stage.stagedFrames.filter(_.sparkSession eq spark)
      assert(staged.nonEmpty, s"$q staged nothing")
      staged.foreach(assertFullyCached(q, _))
    }
    Stage.releaseAll(spark)
  }
}

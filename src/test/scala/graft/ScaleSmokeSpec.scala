package graft

import graft.dedup.Dedup
import org.apache.spark.sql.functions._

/** Scale-behavior smoke: fan the documents table out 8× (distinct ids,
  * same texts → every original near-dup pair exists in 8 copies) and
  * push it through the full minhash → LSH → verify pipeline. Guards
  * the property SURVEY §4 promises: work grows with candidate pairs
  * per bucket, not with corpus², and nothing collapses to a driver
  * loop or a single partition.
  */
class ScaleSmokeSpec extends SparkSpec {

  private object Walk extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** Copy stride derived from the data, not hardcoded: a fixed 1e6
    * offset would collide fanned ids with real ids against a larger
    * SF dir and spuriously break the exact-copy-count invariants.
    */
  private def stride(docs: org.apache.spark.sql.DataFrame): Long =
    docs.agg(max("doc_id")).head().getLong(0) + 1L

  private def fanOut(docs: org.apache.spark.sql.DataFrame, copies: Int): org.apache.spark.sql.DataFrame = {
    val st = stride(docs)
    (0 until copies)
      .map(i => docs.select((col("doc_id") + lit(i * st)).as("doc_id"), col("text")))
      .reduce(_ union _)
      .repartition(8)
  }

  test("dedup pipeline survives an 8x corpus fan-out") {
    val docs = Tables.documents(spark, sf)
    val n = docs.count()
    val fanned = fanOut(docs, 8)
    assert(fanned.count() === n * 8)

    val t0 = System.nanoTime()
    val cand = Dedup.lshCandidates(Dedup.minhashSignatures(fanned))
    val candCount = cand.count()
    val secs = (System.nanoTime() - t0) / 1e9

    // every identical-text copy pair collides in all bands: with 8
    // copies of each of n docs there are n * C(8,2) = 28n exact-dup
    // pairs at minimum
    assert(candCount >= n * 28, s"candidate generation lost exact-dup pairs: $candCount")
    // and the pipeline stays tractable: candidates are bucket-bounded,
    // not corpus² — cap at 1% of the (8n)²/2 = 32n² total pairs
    assert(candCount < n * n * 32 / 100, s"candidate explosion: $candCount")
    info(f"8x fan-out: ${n * 8} docs, $candCount candidate pairs, $secs%.1f s")
  }

  test("incremental dedup drops every batch doc against an 8x fanned corpus") {
    val docs = Tables.documents(spark, sf)
    val n = docs.count()
    // batch ids sit one stride past the 8 corpus copies — disjoint by
    // construction at any SF
    val batch = docs.select((col("doc_id") + lit(8 * stride(docs))).as("doc_id"), col("text"))
    val corpus = fanOut(docs, 8)

    val rows = Dedup.incrementalNearDups(batch, corpus).collect()
    assert(rows.length === n, "one verdict row per batch doc")
    // every batch doc's exact text sits in the corpus 8 times: every
    // doc that has shingles at all (>= 3 tokens → a signature) must be
    // dropped with at least its 8 identical copies as matches
    // count docs WITH a signature — minhashSignatures no longer drops
    // null-signature (<3-token) rows itself, so filter here or the
    // assertion silently depends on the testdata having no short docs
    val withSig = Dedup.minhashSignatures(batch)
      .filter(col("sig").isNotNull).count()
    val dropped = rows.filterNot(_.getBoolean(3))
    assert(dropped.length === withSig,
      s"expected all $withSig shingled batch docs dropped, got ${dropped.length}")
    dropped.foreach { r =>
      assert(r.getLong(2) >= 8L, s"doc ${r.getLong(0)}: identical copies missed")
    }
  }

  test("passage dedup stays linear under an 8x corpus fan-out") {
    val docs = Tables.documents(spark, sf)
    val n = docs.count()
    val fanned = fanOut(docs, 8)
    val out = Dedup.passageDedup(fanned).collect()
    assert(out.length === n * 8, "one row per fanned doc")
    // every copied doc's passages now occur >= 8 times corpus-wide, so
    // every doc with at least one passage must be fully duplicated
    val withPassages = out.filter(_.getLong(1) > 0)
    assert(withPassages.nonEmpty,
      "no doc reached the passage threshold — the fan-out invariants below would be vacuous")
    withPassages.foreach { r =>
      assert(r.getLong(2) === r.getLong(1),
        s"doc ${r.getLong(0)}: copies must make every passage a duplicate")
      assert(!r.getBoolean(4), "fully-duplicated docs must be dropped")
    }
  }

  test("q6a: hot-prefix corpus trips the block-size guard before any pairwise work") {
    // templated corpora share blocking prefixes — in-block work is
    // pairwise, so an unguarded hot block goes quadratic silently.
    // 64 docs sharing one 20-char prefix with maxBlock=16 must fail
    // loudly (and name the prefix), never return a partial answer.
    val spark2 = spark
    import spark2.implicits._
    val hot = (0 until 64)
      .map(i => (i.toLong, s"boilerplate header x $i unique tail ${i * 31}"))
      .toDF("doc_id", "text")
    val ex = intercept[Exception] {
      Dedup.blockedEditDups(hot, maxBlock = 16).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(m => m.contains("blockedEditDups") && m.contains("boilerplate")),
      s"guard did not fire with the offending prefix: ${messages(ex).mkString(" | ")}")
    // and under the threshold the same corpus resolves normally
    val ok = Dedup.blockedEditDups(hot, maxBlock = 64).collect()
    assert(ok.nonEmpty, "near-identical templated docs must pair up under the threshold")
  }

  test("q6a collapse-first: a block of exact copies resolves under maxBlock instead of tripping the guard") {
    val spark2 = spark
    import spark2.implicits._
    // 64 docs, ONE distinct normalized text: pre-collapse this block
    // tripped maxBlock=16 (and on a real duplicate-heavy corpus ran
    // Levenshtein copies² times); collapsed it is one group row
    val dup = (0 until 64)
      .map(i => (i.toLong, "boilerplate header exact copy shared by every row"))
      .toDF("doc_id", "text")
    val coll = Dedup.collapsedEditDups(dup, maxBlock = 16).collect()
    assert(coll.length == 1)
    val r = coll.head
    assert(r.getLong(0) == 0L && r.getLong(1) == 0L, "canonical rep must be the min doc_id")
    assert(r.getInt(2) == 0 && r.getLong(4) == 64L && r.getLong(6) == 64L * 63 / 2)
    // the pair expansion reports every doc pair — Levenshtein-free
    assert(Dedup.blockedEditDups(dup, maxBlock = 16).count() == 64L * 63 / 2)
  }

  test("q6a: the pair expansion's quadratic OUTPUT stops loudly past maxGroup") {
    val spark2 = spark
    import spark2.implicits._
    // collapse-first keeps the Levenshtein WORK distinct²-bounded, but
    // blockedEditDups still EMITS C(sz,2) rows per exact-copy group —
    // on a duplicate-heavy corpus that output floods the sink with no
    // Levenshtein ever running. The maxGroup guard is the loud stop,
    // and its message routes callers to collapsedEditDups.
    val dup = (0 until 64)
      .map(i => (i.toLong, "boilerplate header exact copy shared by every row"))
      .toDF("doc_id", "text")
    val ex = intercept[Exception] {
      Dedup.blockedEditDups(dup, maxBlock = 16, maxGroup = 63).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(m => m.contains("blockedEditDups") && m.contains("collapsedEditDups")),
      s"group guard did not fire with the remedy: ${messages(ex).mkString(" | ")}")
    // at the cap the same corpus expands normally
    assert(Dedup.blockedEditDups(dup, maxBlock = 16, maxGroup = 64).count() == 64L * 63 / 2)
    // and the collapsed form never trips it — one row, any group size
    assert(Dedup.collapsedEditDups(dup, maxBlock = 16).count() == 1L)
  }

  test("sf1 distinct-mode perturbations push every copy-pair below the near-dup operating points") {
    val spark2 = spark
    import spark2.implicits._
    import org.apache.spark.sql.functions._
    // text: the per-copy letter rotation must kill BOTH 3-gram
    // jaccard (≥0.8 is q62/q64's design point) and edit similarity
    // (q6a's) between any two copies AND vs the unperturbed base
    val words = (1 to 60).map(w => s"word$w").mkString(" ")
    val df = Seq((1L, words)).toDF("doc_id", "text")
    val t1 = df.select(BenchSf1.distinctText(1)).head.getString(0)
    val t2 = df.select(BenchSf1.distinctText(2)).head.getString(0)
    def sh(s: String): Set[String] =
      s.split("\\s+").toSeq.sliding(3).map(_.mkString(" ")).toSet
    def jac(a: Set[String], b: Set[String]): Double =
      a.intersect(b).size.toDouble / a.union(b).size
    assert(jac(sh(t1), sh(t2)) < 0.2, "copy-pair jaccard still near-dup range")
    assert(jac(sh(t1), sh(words)) < 0.2, "copy-vs-base jaccard still near-dup range")
    // the q6a contract compares 400-char truncations
    def editSim(a: String, b: String): Double =
      Seq((a.take(400), b.take(400))).toDF("a", "b")
        .select((lit(1.0) - levenshtein(col("a"), col("b")).cast("double") /
          greatest(length(col("a")), length(col("b"))).cast("double")).as("s"))
        .head.getDouble(0)
    assert(editSim(t1, t2) < 0.8, "copy-pair edit similarity is still a near-dup")
    assert(editSim(t1, words) < 0.8, "copy-vs-base edit similarity is still a near-dup")
    // the control's core invariant: the rotation is a BIJECTION, so
    // within one copy every pairwise relation (edit distance, shingle
    // equality, the q6a blocking prefix distribution) is the base
    // corpus's — the true pair count per copy cannot move
    val a0 = "the quick brown fox vaults the lazy dog"
    val b0 = "the quick brown fax vaults a lazy dog"
    def rot(s: String): String =
      Seq(Tuple1(s)).toDF("text").select(BenchSf1.distinctText(3)).head.getString(0)
    def lev(a: String, b: String): Int =
      Seq((a, b)).toDF("a", "b").select(levenshtein(col("a"), col("b"))).head.getInt(0)
    assert(lev(rot(a0), rot(b0)) == lev(a0, b0),
      s"rotation moved a within-copy edit distance: ${lev(rot(a0), rot(b0))} != ${lev(a0, b0)}")
    // embeddings: the sign pattern is per-COPY — within one copy a
    // genuine near-dup pair keeps its cosine EXACTLY (the true pair
    // count must stay linear, not collapse to copy 0's), across
    // copies the same base vector decorrelates far below tau=0.4,
    // and norms are preserved
    def dot(a: Seq[Float], b: Seq[Float]): Double =
      a.lazyZip(b).map((x, y) => x.toDouble * y.toDouble).sum
    val v = (1 to 128).map(k => math.sin(k.toDouble).toFloat)
    val u = (1 to 128).map(k => (math.sin(k.toDouble) + 0.1 * math.cos(k.toDouble)).toFloat)
    def jit(i: Int, vec: Seq[Float]): Seq[Float] =
      Seq((1L, vec)).toDF("vec_id", "embedding")
        .withColumn("embedding", BenchSf1.jitterEmbedding(i))
        .collect().head.getSeq[Float](1)
    val (v1, u1, v2) = (jit(1, v), jit(1, u), jit(2, v))
    assert(math.abs(math.sqrt(dot(v1, v1)) - math.sqrt(dot(v, v))) < 1e-6,
      "jitter changed the norm")
    val within = dot(v1, u1) / math.sqrt(dot(v1, v1) * dot(u1, u1))
    val orig = dot(v, u) / math.sqrt(dot(v, v) * dot(u, u))
    assert(math.abs(within - orig) < 1e-6,
      s"within-copy cosine moved: $orig -> $within (true pair count would not stay linear)")
    val cross = dot(v1, v2) / math.sqrt(dot(v1, v1) * dot(v2, v2))
    assert(math.abs(cross) < 0.4, s"cross-copy cosine $cross is not below tau")
  }

  test("snapshot store: 16-delta chain merges in ONE shuffle; compact bounds scan fan-in") {
    import graft.sources.Snapshots
    val sf01 = "/root/testdata/sf0.01"
    val root = tmpDir("scale-store") + "/orders"
    val orders = Tables.orders(spark, sf01)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val total = orders.count()

    Snapshots.commit(orders, root)
    // 16 import batches, each amending a disjoint 1/64 slice of the keys
    (0 until 16).foreach { i =>
      Snapshots.commitDelta(
        orders.filter(col("o_orderkey") % 64 === i).withColumn("o_orderstatus", lit("A")),
        root)
    }

    // the distributed form's property: a threshold one byte under the
    // deltas' size keeps the merge off the driver, and Spark still
    // broadcasts the delta keys to the base's anti join
    val deltaBytes = Snapshots.versions(spark, root).tail
      .flatMap { case (_, _, rel) => graft.sources.Sources.parquetFiles(spark, s"$root/$rel") }.map(_.getLen).sum
    val mergeSecs = withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> (deltaBytes - 1).toString) {
      val t0 = System.nanoTime()
      val latest = Snapshots.latest(spark, root, Seq("o_orderkey"))
      // the scale property: merging a 17-frame chain is ONE key shuffle
      // (union → window rank), not one join or shuffle per delta
      val p = latest.queryExecution.executedPlan.toString
      assert("Exchange hashpartitioning".r.findAllIn(p).length === 1,
        s"delta-chain merge should be a single key shuffle:\n$p")
      assert(!p.contains("Exchange rangepartitioning"), "unexpected extra shuffle")

      assert(latest.count() === total, "upsert-only chain changed cardinality")
      val amended = latest.filter(col("o_orderstatus") === "A").count()
      assert(amended === orders.filter(col("o_orderkey") % 64 < 16).count())
      (System.nanoTime() - t0) / 1e9
    }
    // under the threshold the chain resolves on the driver: no exchange at all
    val small = Snapshots.latest(spark, root, Seq("o_orderkey"))
    assert(!small.queryExecution.executedPlan.toString.contains("Exchange"),
      s"a small chain merged with an exchange:\n${small.queryExecution.executedPlan}")
    assert(small.filter(col("o_orderstatus") === "A").count() === orders.filter(col("o_orderkey") % 64 < 16).count())

    // compaction folds the chain: later reads scan ONE file set again
    Snapshots.compact(spark, root, Seq("o_orderkey"))
    val after = Snapshots.latest(spark, root, Seq("o_orderkey"))
    val scans = "Scan parquet".r
      .findAllIn(after.queryExecution.executedPlan.toString).length
    assert(scans === 1, s"compacted read should scan only the new base, saw $scans scans")
    assert(after.count() === total)
    info(f"17-frame merge over $total%d keys: $mergeSecs%.1f s, 1 shuffle; post-compact scans: $scans")
  }

  test("history across MANY fulls: two window exchanges total, and every full's drops classify right") {
    // the r14 rewrite's claim: synthetic deletes derive from a lead
    // window against the manifest's fulls as a literal array, so a
    // chain with N fulls classifies in the SAME two key-partitioned
    // exchanges as a fresh one (the old shape paid a lastWriterWins
    // window + anti-join PER FULL) — and the semantically risky half,
    // synthetic-delete DERIVATION, is exercised by making every full
    // a dropping one
    import graft.sources.Snapshots
    import spark.implicits._
    val root = tmpDir("scale-hist-fulls") + "/t"
    // v1 full: keys 1..6 live. Then six fulls, the i-th dropping key
    // i+1 while restating the still-live tail — each full is a
    // synthetic-delete source for exactly one key
    Snapshots.commit((1L to 6L).map(k => (k, s"n$k")).toDF("id", "name"), root)
    (1L to 6L).foreach { dropUpTo =>
      Snapshots.commit(
        ((dropUpTo + 1L) to 6L).map(k => (k, s"n$k")).toDF("id", "name"), root)
    }
    val h = Snapshots.history(spark, root, Seq("id"))
    val p = h.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 2,
      s"expected exactly 2 window exchanges on a 7-full chain, saw $exchanges:\n$p")
    val rows = h.collect().map(r => (r.getLong(3), r.getLong(0), r.getString(2)))
    // key k: insert at v1, synthesized delete at v(k+1) — the FIRST
    // full it is absent from — and nothing else (the later fulls that
    // also lack it are no-ops on a dead key; unchanged restatements
    // of live keys are dropped)
    (1L to 6L).foreach { k =>
      val tl = rows.filter(_._1 == k).map(t => (t._2, t._3)).sortBy(_._1).toSeq
      assert(tl === Seq((1L, "insert"), (k + 1L, "delete")),
        s"key $k timeline wrong on the many-fulls chain: $tl")
    }
    // the synthesized deletes carry each dropping FULL's version — six
    // deletes across six distinct versions, one per full
    assert(rows.count(_._3 == "delete") === 6)
  }

  test("store scale: merge-range prune opens 2 of 17 segments; history is ONE window shuffle; the tail diff is span-keyed") {
    import graft.sources.Snapshots
    val sf01 = "/root/testdata/sf0.01"
    val root = tmpDir("scale-store2") + "/orders"
    val orders = Tables.orders(spark, sf01)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val maxKey = orders.agg(max("o_orderkey")).head().getLong(0)
    val slice = maxKey / 16 + 1
    Snapshots.commit(orders, root, statsCols = Seq("o_orderkey"))
    // 16 deltas over DISJOINT key ranges — the shape zone maps exist
    // for: a years-long chain where each import touches its own band
    (0 until 16).foreach { i =>
      Snapshots.commitDelta(
        orders.filter(col("o_orderkey") >= i * slice && col("o_orderkey") < (i + 1) * slice)
          .withColumn("o_orderstatus", lit("A")),
        root, statsCols = Seq("o_orderkey"))
    }
    // a one-band merge-range read opens the base full + exactly the
    // one delta whose recorded key range intersects (v7, band 5) — 2
    // segments of 17; the merge scans that delta twice, once for the
    // keys the base drops and once for its last-writer-wins rows
    val lo = 5L * slice
    val hi = lo + slice / 2
    // on the default path the kept delta resolves on the driver; at -1
    // the merge is distributed and the plan scans it: 2 of 17 either way
    val segs = Snapshots.versions(spark, root).map { case (v, _, rel) => v -> rel }.toMap
    def rangeRead(): Unit = {
      val (ranged, opened) = readDirs(Snapshots.readMergeWhere(
        spark, root, Seq("o_orderkey"), "o_orderkey", lo, hi))
      assert(opened === Set(segs(1L), segs(7L)),
        s"merge-range read should open base + 1 delta, opened $opened:\n${ranged.queryExecution.executedPlan}")
      assert(ranged.count() ===
        orders.filter(col("o_orderkey") >= lo && col("o_orderkey") <= hi).count())
      assert(ranged.filter(col("o_orderstatus") =!= "A").count() === 0,
        "every in-range key was amended by its band's delta — LWW must serve the amendment")
    }
    withClue("default: ")(rangeRead())
    withClue("distributed: ")(withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(rangeRead()))
    assert(Snapshots.prunedMergeTo(spark, root, Seq("o_orderkey"), "o_orderkey", lo, hi) === Seq(1L, 7L))
    // history over the same 17-segment chain: the whole per-key
    // timeline classifies through ONE key shuffle (the window), not
    // one join or exchange per segment
    val hist = Snapshots.history(spark, root, Seq("o_orderkey"))
    val hp = hist.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(hp).length === 1,
      s"history should be a single window shuffle:\n$hp")
    assert(hist.filter(col("op") === "update").count() === orders.count(),
      "every key was amended exactly once")
    // CDC tail: the first poll bootstraps (1, 17]; a later single-delta
    // span diffs SEMI-JOINED to the span's own keys — the span-sized
    // shuffle the 100 TB tail depends on
    val out = tmpDir("scale-store2-out") + "/feed"
    Snapshots.tailOnce(spark, root, Seq("o_orderkey"), out)
    assert(Snapshots.read(spark, out, 1L)
      .agg(max(col("_to_v"))).head().getLong(0) === 17L)
    Snapshots.commitDelta(
      orders.limit(50).withColumn("o_orderstatus", lit("Z")), root,
      statsCols = Seq("o_orderkey"))
    Snapshots.tailOnce(spark, root, Seq("o_orderkey"), out)
    val inc = Snapshots.read(spark, out, 2L)
    assert(inc.count() === 50L, "the incremental span must carry exactly the delta's keys")
    assert(inc.filter(col("_change") === "update").count() === 50L)
    // excision at chain scale: the takedown's counting pass opens only
    // the segments whose committed zone maps admit the key — the base
    // full (spans everything) plus the key's own band delta (and at
    // most the small trailing delta, whose sampled range may cover
    // it), never the 15 other bands
    val key = orders
      .filter(col("o_orderkey") >= lo && col("o_orderkey") < 6L * slice)
      .agg(min("o_orderkey")).head().getLong(0)
    val planned = Snapshots.excisePlannedScans(spark, root, col("o_orderkey") === key)
    assert(planned.contains(1L) && planned.contains(7L) && planned.size <= 3,
      s"expected base + the key's band delta (+ at most the trailing delta), got $planned")
    val report = Snapshots.excise(spark, root, col("o_orderkey") === key)
    assert(report.map(_._1).toSet.subsetOf(planned.toSet),
      "a segment outside the planned scan set was rewritten")
    assert(report.map(_._1).toSet.contains(1L) && report.map(_._1).toSet.contains(7L))
    assert(Snapshots.history(spark, root, Seq("o_orderkey"))
      .filter(col("o_orderkey") === key).count() === 0L,
      "the excised key still has history on the 18-segment chain")
  }
}

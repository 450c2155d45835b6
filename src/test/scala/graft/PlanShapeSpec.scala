package graft

import org.apache.spark.sql.DataFrame

/** Physical-plan shape regression tests — the properties PLANS.md
  * reviews by hand, asserted so a refactor can't silently lose them.
  * String-matching executedPlan is crude but stable for these shapes.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String = {
    // plan locks assert COLD-cache shapes: an earlier suite's Stage
    // persist (qa2/q6g staging) would otherwise substitute its
    // InMemoryRelation into any later identical plan fragment and
    // double-count the scans it wraps
    spark.catalog.clearCache()
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
  }

  /** Shuffle exchanges in a plan string: lines whose node head is
    * `Exchange` — `BroadcastExchange` and `ReusedExchange` are other
    * nodes and do not count.
    */
  private def exchangeHeads(p: String): Seq[String] =
    p.linesIterator.map(_.replaceFirst("""^[\s:+|-]*(\*\(\d+\) )?""", ""))
      .filter(_.startsWith("Exchange ")).toSeq

  test("q01: filters and column pruning reach the parquet scan") {
    val p = plan("q01_scan_project")
    assert(p.contains("PushedFilters: [IsNotNull"), s"no pushed filters:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), "date predicate not pushed")
    // pruned scan: none of the untouched wide columns appear in ReadSchema
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_shipmode"),
      s"scan not pruned: $readSchema")
  }

  test("q11: star join broadcasts every dimension") {
    val p = plan("q11_join_multiway")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts === 5, s"expected 5 broadcast joins, got $broadcasts:\n$p")
    assert(!p.contains("SortMergeJoin"), "a dimension fell back to sort-merge at test scale")
  }

  test("serving keyset cursor becomes pushed parquet filters, not an offset re-read") {
    // the deep-pagination scale claim: page N's 'after' predicate must
    // reach the scan, so page 50 over a 100-TB table costs a pruned
    // scan — if this lock breaks, pagination silently degrades to
    // re-reading and discarding every earlier page
    import graft.serve.WarehouseServer
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q01_scan_project")(spark, sf)
    val keys = WarehouseServer.keysetCols(df)
      .getOrElse(fail("q01 lost its ascending total order"))
    assert(keys == Seq("l_orderkey" -> true, "l_linenumber" -> true, "l_extendedprice" -> true))
    val first = df.limit(3).collect()
    val cursor = WarehouseServer.cursorOf(first.last, keys)
    val page2 = df.filter(WarehouseServer.afterPredicate(df, keys, cursor))
    // the scan line truncates PushedFilters at maxMetadataStringLength
    // by default — widen it for the assertion or the push is invisible
    val p = {
      val key = "spark.sql.maxMetadataStringLength"
      val old = spark.conf.get(key)
      spark.conf.set(key, "100000")
      try page2.limit(5).queryExecution.executedPlan.toString
      finally spark.conf.set(key, old)
    }
    // the lexicographic OR-of-ANDs is parquet-pushable: its leading
    // disjunct must appear inside PushedFilters on the scan line
    val scanLine = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(scanLine.contains("GreaterThan(l_orderkey"),
      s"keyset predicate not pushed to the scan:\n$p")
    // and the page is exactly the next rows — no overlap, no gap
    val direct = df.limit(8).collect().drop(3).map(_.toSeq).toSeq
    assert(page2.limit(5).collect().map(_.toSeq).toSeq == direct)
  }

  test("store history: a single-key lookup pushes its equality into every segment scan") {
    // the q9i scale claim: "history of key K" on a years-long chain
    // must prune by parquet row-group stats in each segment, not
    // scan the store — the key equality has to survive the
    // union + window plan down to PushedFilters on every scan
    import graft.sources.Snapshots
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val root = tmpDir("plan-history")
    Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), root)
    Snapshots.commitDelta(Seq((2L, "b2")).toDF("id", "name"), root)
    val one = Snapshots.history(spark, root, Seq("id")).filter(col("id") === 2L)
    val p = {
      val key = "spark.sql.maxMetadataStringLength"
      val old = spark.conf.get(key)
      spark.conf.set(key, "100000")
      try one.queryExecution.executedPlan.toString
      finally spark.conf.set(key, old)
    }
    val scanLines = p.linesIterator.filter(_.contains("PushedFilters")).toSeq
    assert(scanLines.size >= 2, s"expected a scan per segment:\n$p")
    scanLines.foreach(l => assert(l.contains("EqualTo(id,2)"),
      s"key equality not pushed into a segment scan: $l\n$p"))
    assert(one.collect().map(r => (r.getLong(0), r.getString(2))).toSeq
      === Seq((1L, "insert"), (2L, "update")))
  }

  test("q21: top-k per group gets the partial WindowGroupLimit pushdown") {
    // Catalyst's InferWindowGroupLimit turns the row_number()<=k filter
    // into a map-side rank limit BEFORE the hash exchange — each task
    // ships at most k rows per group instead of its whole partition.
    // This is the property that makes window top-k viable at 100 TB,
    // so lock it: a refactor that breaks the filter pattern (e.g.
    // filtering on a derived column) would silently lose it.
    val p = plan("q21_topk_per_group")
    val partial = p.indexOf("WindowGroupLimit")
    assert(partial >= 0 && p.contains("Partial"),
      s"partial window-group-limit missing:\n$p")
    val hashEx = p.indexOf("Exchange hashpartitioning")
    assert(hashEx >= 0 && p.indexOf("Partial", hashEx) > hashEx,
      s"partial limit not below the hash exchange:\n$p")
  }

  test("q67: benchmark shingle set broadcasts; corpus filtered before the count shuffle") {
    val p = plan("q67_decontaminate")
    assert(p.contains("BroadcastHashJoin"), s"benchmark side not broadcast:\n$p")
    // the corpus-side explode must meet the broadcast join BEFORE any
    // hash exchange: only the post-filter per-doc count may shuffle
    // plans print top-down (parents first): the per-doc count's hash
    // exchange sits ABOVE the join; the corpus branch (the `:-` child,
    // between the join and the BroadcastExchange subtree) must be
    // narrow — scan → filter → explode, never a shuffle. The hash
    // exchange inside the BroadcastExchange subtree is the
    // benchmark-side distinct and is benchmark-sized by design.
    val bcast = p.indexOf("BroadcastHashJoin")
    val bex = p.indexOf("BroadcastExchange", bcast)
    assert(bex > bcast, s"no broadcast exchange under the join:\n$p")
    assert(p.indexOf("Exchange hashpartitioning") < bcast,
      s"count shuffle not above the broadcast filter:\n$p")
    assert(!p.substring(bcast, bex).contains("Exchange"),
      s"corpus shingles shuffled before the broadcast filter:\n$p")
  }

  test("q13/q14: EXISTS and NOT EXISTS plan as semi/anti joins") {
    assert(plan("q13_join_semi").contains("LeftSemi"))
    assert(plan("q14_join_anti").contains("LeftAnti"))
  }

  test("minhash signatures stay a narrow map above at most one round-robin fan-out") {
    val sig = dedup.Dedup.minhashSignatures(Tables.documents(spark, sf))
    val p = sig.queryExecution.executedPlan.toString
    // r14: a single RoundRobin REPARTITION_BY_NUM below the map is the
    // deliberate spread of the single-row-group scan (no keys, no
    // aggregation — the map itself still never shuffles); any OTHER
    // exchange (a hash shuffle, a second exchange) is the regression
    // this lock exists for.
    val exchanges = exchangeHeads(p).size
    assert(exchanges <= 1, s"signature computation shuffles more than the spread:\n$p")
    if (exchanges == 1)
      assert(p.contains("Exchange RoundRobinPartitioning"),
        s"signature computation pays a keyed shuffle, not the spread:\n$p")
    assert(p.contains("graft_minhash") || p.contains("graftminhash"),
      s"native minhash expression missing from plan:\n$p")
  }

  test("q70: corpus-side stays unshuffled before topK; query set broadcasts") {
    val p = plan("q70_knn_brute")
    val joinIdx = p.indexOf("NestedLoopJoin")
    assert(joinIdx >= 0, s"no broadcast join in plan:\n$p")
    // everything under the join (plans print top-down, children after
    // the parent) must be shuffle-free: only BroadcastExchange allowed
    val below = p.substring(joinIdx)
    val shuffles = "(?<!Broadcast)Exchange".r.findAllIn(below).length
    assert(shuffles === 0, s"corpus side shuffles before topK:\n$p")
  }

  test("q72: IVF cell assignment is a pure narrow map - no shuffle, codegen argmin") {
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"),
        functions.VectorFunctions.norm2(col("embedding")).as("nrm"))
    val cents = ann.Knn.ivfCentroids(e, iters = 1)
    val p = ann.Knn.assignCell(e, cents).queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"cell assignment shuffles:\n$p")
    assert(p.contains("graft_argmin_cell") || p.contains("graftargmincell"),
      s"native argmin expression missing from plan:\n$p")
  }

  test("cohort AND plans as a chain of semi joins over distinct key sets") {
    val p = plan("q41_cohort_and")
    assert(p.contains("LeftSemi"), s"cohort AND lost its semi-join shape:\n$p")
  }

  test("q4a: on warm images the cohort DSL is one aggregate pass - no join, broadcast or shuffle before the count") {
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, SinglePartition}
    import org.apache.spark.sql.execution.{SparkPlan, UnionExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
    object Walk extends AdaptiveSparkPlanHelper
    // the first run builds and fills the images; the second build is
    // planned over them. An image scan is a leaf: the image's own plan
    // is an inner child the walk below does not enter.
    spark.catalog.clearCache()
    SparkEntry.queries("q4a_cohort_json_dsl")(spark, sf).collect()
    val plan = SparkEntry.queries("q4a_cohort_json_dsl")(spark, sf).queryExecution.executedPlan
    val p = plan.toString
    def shuffles(sp: SparkPlan) = Walk.collect(sp) { case e: ShuffleExchangeExec => e }
    val own = shuffles(plan)
    assert(own.size === 1 && own.head.outputPartitioning === SinglePartition,
      s"the query's own plan must hold only the count exchange:\n$p")
    assert(Walk.collect(plan) { case j: BaseJoinExec => j }.isEmpty,
      s"a join (semi/anti set algebra or the lineitem-orders join) is planned per query:\n$p")
    assert(Walk.collect(plan) { case u: UnionExec => u }.size === 1, s"no membership union:\n$p")
    assert(Walk.collect(plan) {
      case a: HashAggregateExec if a.aggregateExpressions.exists(_.toString.contains("bit_or")) => a
    }.nonEmpty, s"no bit_or membership aggregate:\n$p")
    // the orders, lineitem-orders and customer images, each hash-
    // partitioned once on its subject key into the pinned parallelism
    val scans = Walk.collect(plan) { case s: InMemoryTableScanExec => s }
    assert(scans.size === 3, s"expected one image scan per source:\n$p")
    val n = Tables.pinnedParallelism(spark)
    scans.foreach { s =>
      val inner = s.relation.cachedPlan
      val keys = shuffles(inner).map(_.outputPartitioning).collect {
        case h: HashPartitioning if h.numPartitions == n => h.expressions.map(_.toString.takeWhile(_ != '#'))
      }
      assert(keys.size === 1 && shuffles(inner).size === 1, s"image not hash-partitioned once:\n$inner")
      assert(Set(Seq("o_custkey"), Seq("c_custkey"))(keys.head), s"image partitioned off its key:\n$inner")
    }
    assert(scans.count(s => Walk.collect(s.relation.cachedPlan) { case j: BroadcastHashJoinExec => j }
      .nonEmpty) === 1, s"the lineitem-orders join must live inside its image only:\n$p")
  }

  test("merge is ONE key shuffle (priority union, no join)") {
    import org.apache.spark.sql.functions._
    val t = Tables.orders(spark, sf)
    val u = t.filter(col("o_orderkey") % 5 === 0)
      .withColumn("_deleted", col("o_orderkey") % 17 === 0)
    val p = operators.Warehouse.merge(t, u, Seq("o_orderkey"))
      .queryExecution.executedPlan.toString
    // the merge itself: exactly one hashpartitioning exchange on the
    // merge key feeding the window rank; no join operator at all
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles === 1, s"merge should shuffle once on the key, got $shuffles:\n$p")
    assert(!p.contains("Join"), s"merge should be a union+window, not a join:\n$p")
  }

  test("q99: incremental agg never shuffles base rows into the delta join") {
    val p = plan("q99_incremental_agg")
    // the before-image lookup must be a broadcast semi join (delta side
    // broadcasts); a shuffled join here would drag the whole base
    // through an exchange and defeat the incremental pattern
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"before-image lookup is not a broadcast semi join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"base shuffled for the delta join:\n$p")
  }

  test("q9o: join-view maintenance — fact never shuffles; present joins the state, not the fact") {
    val p = plan("q9o_maintained_join")
    // the before-image lookup keeps q99's shape: batch keys broadcast
    // into a semi join, the base scanned once without an exchange
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"before-image lookup is not a broadcast semi join:\n$p")
    // the present-time dim join runs over the group-cardinality state;
    // a SortMergeJoin anywhere means a fact-sized side got shuffled
    // into a join — the exact cost the join-key-grain state avoids
    assert(!p.contains("SortMergeJoin"), s"a fact-sized shuffle join crept in:\n$p")
  }

  test("q6h: prefix join candidates come from an equi-join — no quadratic operator") {
    val p = plan("q6h_dedup_prefix_join")
    // the exactness theorem tempts an all-pairs fallback; the whole
    // point is candidates via token equality (shuffle on 8-byte keys)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"prefix join degenerated to a quadratic plan:\n$p")
  }

  test("q97: metadata tree is a single rollup pass with partial aggregation") {
    val p = plan("q97_metadata_tree")
    assert(p.contains("Expand"), s"rollup lost its grouping-sets Expand:\n$p")
    // one aggregation exchange (plus the final tiny sort for the oracle
    // ORDER BY) — no per-level rescan of part
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans === 1, s"tree query rescans the metadata table:\n$p")
  }

  test("q68: passage multiplicity shuffles only on compact keys, never pairwise") {
    val p = plan("q68_passage_dedup")
    // shuffles: phash agg+join, doc_id rollup(+join), final ORDER BY —
    // every one keyed by a 16-byte hash or a long, no join of passage
    // text against passage text
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"passage dedup grew a pairwise step:\n$p")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 7, s"too many exchanges ($exchanges) for the passage pipeline:\n$p")
  }

  test("q68: multiplicity is a partial-agg groupBy on phash, never a window") {
    // a count-over-Window(phash) has NO map-side partial aggregation:
    // every copy of a hot boilerplate passage would serialize into one
    // task. Lock the skew-safe shape: a HashAggregate keyed by phash
    // with a partial phase, and no Window operator anywhere in q68.
    val p = plan("q68_passage_dedup")
    assert(!p.contains("Window"), s"passage multiplicity regressed to a window:\n$p")
    val phashAgg = p.linesIterator.exists(l =>
      l.contains("HashAggregate") && l.contains("phash") && l.contains("partial_count"))
    assert(phashAgg, s"no partial-agg count keyed by phash:\n$p")
  }

  test("q8a: corpus stats arrive via ONE broadcast; tf scan is not shuffled") {
    val p = plan("q8a_bm25")
    // the tiny (1-row) stats aggregate is cross-joined back by broadcast;
    // the per-doc tf computation itself must not hash-shuffle the corpus
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"stats not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled to meet its own stats:\n$p")
  }

  test("q8g: hybrid fusion never goes corpus-quadratic; rank windows run on survivors") {
    val p = plan("q8g_hybrid_search")
    // no cartesian corpus x corpus anywhere: the only nested-loop
    // shapes allowed are constant-size broadcasts (bm25's 1-row stats,
    // the single query vector)
    assert(!p.contains("CartesianProduct"), s"cartesian product in the hybrid plan:\n$p")
    // the lexical leg's top-k is a distributed TakeOrdered, so the
    // bm25_rank window ranks the k survivors, never the corpus
    assert(p.contains("TakeOrderedAndProject"),
      s"lexical top-k is not a TakeOrdered — the rank window would see the corpus:\n$p")
  }

  test("q74 default: bucketed stage-1 - the quantized search has no all-pairs step") {
    // the shipped default must never scan corpus × queries: stage-1
    // candidates come from LSH buckets (compact-key shuffle), the
    // cross join survives only behind bruteStage1=true for the oracle
    val p = ann.Knn.quantizedTopK(Tables.embeddings(spark, sf))
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"default quantized search still cross-joins the corpus:\n$p")
  }

  test("q73: quantization is a pure narrow map until the oracle sort") {
    val p = plan("q73_vec_quantize")
    // the ONLY exchange is the deterministic ORDER BY's range partition
    assert(!p.contains("Exchange hashpartitioning"),
      s"quantization hash-shuffled a narrow map:\n$p")
    assert("Exchange".r.findAllIn(p).length <= 1,
      s"more than the final sort exchange:\n$p")
  }

  test("q8b: deterministic shuffle plans as TakeOrdered, not a global sort") {
    val p = plan("q8b_shuffle")
    assert(p.contains("TakeOrderedAndProject"),
      s"sort+limit did not fuse into TakeOrdered:\n$p")
  }

  test("q19: salted agg is two phases - first exchange keyed by (key, salt)") {
    val p = plan("q19_skew_agg")
    // the partial-phase hash exchange must carry the salt (spreading
    // the hot key); a second, bare-key exchange finishes the agg.
    // NOTE plans print top-down, so the salted exchange is the LAST
    // hashpartitioning line, not the first.
    val hashEx = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(hashEx.exists(_.contains("__salt")), s"no salt-keyed exchange:\n$p")
    assert(hashEx.exists(!_.contains("__salt")), s"no bare-key finish exchange:\n$p")
  }

  test("q69: batch side broadcasts; corpus band keys never hash-shuffle") {
    val p = plan("q69_incremental_dedup")
    // the incoming batch's band keys must arrive via BroadcastExchange,
    // and the corpus branch under that join must be narrow (scan → sig
    // → explode), or per-ingest cost would scale with the corpus.
    // Anchor: exactly ONE band-keyed broadcast join may exist (a
    // second would make the text-scoping below ambiguous — fail loud),
    // and in a top-down print the text after it covers its subtree
    // plus later siblings of its ancestors; none of that region may
    // hash-shuffle, which is strictly stronger than the corpus-branch
    // property being locked.
    val bandJoins = p.linesIterator.zipWithIndex
      .filter(_._1.contains("BroadcastHashJoin [band")).toSeq
    assert(bandJoins.length === 1,
      s"expected exactly 1 band-keyed broadcast join, got ${bandJoins.length}:\n$p")
    val below = p.linesIterator.drop(bandJoins.head._2).mkString("\n")
    assert(below.contains("BroadcastExchange"),
      s"no broadcast exchange under the band join:\n$p")
    assert(!below.contains("Exchange hashpartitioning"),
      s"corpus band keys shuffled below the broadcast band join:\n$p")
  }

  test("q6b: ingest against the stored band index never re-shingles the corpus for banding") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 7 =!= 3)
    val batch = docs.filter(col("doc_id") % 7 === 3)
    val root = tmpDir("bandindex-lock") + "/idx"
    dedup.Dedup.commitBandIndex(corpus, root)
    val p = dedup.Dedup.ingestAgainstIndex(batch, corpus, root)
      .queryExecution.executedPlan.toString
    // the corpus bands must arrive from the persisted parquet index...
    assert(p.contains("bandindex-lock"), s"stored band index not scanned:\n$p")
    // ...and minhash/banding runs on the BATCH side only: the ingest
    // plan computes exactly as many minhash signatures as a pure
    // batch-banding plan — the corpus contributes ZERO (re-shingling
    // the corpus per ingest batch is the shape this index removes)
    val batchOnly = dedup.Dedup.bandedKeys(dedup.Dedup.minhashSignatures(batch))
      .queryExecution.executedPlan.toString
    val nBatch = "graft_minhash".r.findAllIn(batchOnly).length
    val nIngest = "graft_minhash".r.findAllIn(p).length
    assert(nBatch > 0, s"no minhash in the batch-banding plan:\n$batchOnly")
    assert(nIngest === nBatch,
      s"ingest computes $nIngest minhash signatures vs $nBatch for the batch alone " +
        s"- corpus is being re-shingled:\n$p")
  }

  test("q6d: ingest against the stored vector index never re-bands the corpus") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sf)
    val corpus = emb.filter(col("vec_id") % 7 =!= 3)
    val batch = emb.filter(col("vec_id") % 7 === 3)
    val root = tmpDir("vecindex-lock") + "/idx"
    dedup.Dedup.commitVecIndex(corpus, root)
    val p = dedup.Dedup.ingestAgainstVecIndex(batch, corpus, root)
      .queryExecution.executedPlan.toString
    // the corpus buckets must arrive from the persisted parquet index...
    assert(p.contains("vecindex-lock"), s"stored vector index not scanned:\n$p")
    // ...and hyperplane banding runs on the BATCH side only: since
    // the r13 optimization round banding is ONE graft_lsh_buckets
    // matrix expression per banded frame (not tables×planes
    // graft_dot literals), so the ingest plan must contain exactly
    // ONE banding call — a re-banded corpus would show a second
    val nIngest = "graft_lsh_buckets".r.findAllIn(p).length
    assert(nIngest === 1,
      s"ingest computes $nIngest graft_lsh_buckets vs 1 expected " +
        s"(batch banding only) - corpus is being re-banded:\n$p")
  }

  test("q6c default: bucketed incremental vec dedup - batch broadcasts, no cross join") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sf)
    val p = dedup.Dedup.incrementalVecDups(
        emb.filter(col("vec_id") % 7 === 3), emb.filter(col("vec_id") % 7 =!= 3))
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"default incremental vec dedup cross-joins the corpus:\n$p")
    assert(p.contains("BroadcastHashJoin [tbl") || p.contains("BroadcastHashJoin [bkt"),
      s"batch bucket keys not broadcast against the corpus banding:\n$p")
  }

  test("q5b: sliding windows are ONE Expand into ONE agg exchange — no join, no window pass") {
    val p = plan("q5b_sliding_window")
    assert(p.contains("Expand"), s"native window() Expand missing:\n$p")
    assert(!p.contains("Join"), s"sliding windows must not join:\n$p")
    // exactly one hash exchange (the (window, type) partial agg); the
    // only other exchange is the oracle-determinism range sort
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx === 1, s"expected exactly 1 hash exchange, got $hashEx:\n$p")
  }

  test("q5a: interval merge reuses ONE subject shuffle for windows and aggregates") {
    val p = plan("q5a_interval_merge")
    // one hash exchange on user_id feeds both window passes AND both
    // groupBys (their keys are prefixed by the window partition key);
    // the only other exchange is the oracle-determinism range sort.
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx === 1, s"expected exactly 1 hash exchange, got $hashEx:\n$p")
  }

  test("q58: both gap-fill windows share the event_type partitioning") {
    val p = plan("q58_gap_fill")
    // running-count window (event_type) and fill-group max window
    // (event_type, grp) must sit on one exchange: the second key is a
    // superset prefix, so a second hash exchange means a regression.
    val windows = "Window".r.findAllIn(p).length
    assert(windows >= 2, s"expected 2 window passes:\n$p")
    val hashEx = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("event_type") && !l.contains("hour"))
    assert(hashEx === 1,
      s"expected exactly 1 event_type-keyed exchange feeding both windows, got $hashEx:\n$p")
  }

  test("q6f: all consumers of the compact keys share ONE canonical exchange (scan runs once)") {
    // the banding+xbits scan is the stage's dominant compute; the two
    // pair-join sides and the two size/hot branches must all hang off
    // the same (tbl, bkt) repartition so AQE materializes it once. A
    // canonicalization fork (divergent pruning or inferred filters
    // below the exchange) silently multiplies the scan — this is the
    // regression lock for that.
    val p = SparkEntry.queries("q6f_dedup_adaptive")(spark, sf).queryExecution.sparkPlan
    // REPARTITION_BY_NUM since the r13 optimization round: the pinned
    // partition count stops AQE coalescing the tiny-bytes compact
    // exchange to ~1 partition and single-threading the 300×-fan-out
    // pair join hanging off it (map-output-size coalescing cannot see
    // join fan-out). BY_COL would mean the pin regressed.
    val rep = p.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.shuffleOrigin.toString == "REPARTITION_BY_NUM" &&
            e.outputPartitioning.isInstanceOf[
              org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    assert(rep.size >= 2, s"expected the shared repartition on both join sides, got ${rep.size}")
    val canon = rep.map(_.canonicalized.semanticHash()).distinct
    assert(canon.size === 1,
      s"compact-key exchange forked into ${canon.size} canonical variants — scan will run more than once")
  }

  test("q6f: adaptive split — bucket sizes are a partial agg on compact keys; arrays never shuffle") {
    val p = plan("q6f_dedup_adaptive")
    // the split machinery must not change the candidate stage's
    // nature: no all-pairs step, no window anywhere, and the
    // bucket-population count that drives per-bucket split depth is a
    // map-side-partial HashAggregate on the compact (tbl, bkt) key —
    // a hot bucket's population arrives pre-combined, never as rows
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"adaptive dedup grew a pairwise step:\n$p")
    assert(!p.contains("Window"), s"adaptive dedup grew a window:\n$p")
    val sizeAgg = p.linesIterator.exists(l =>
      l.contains("HashAggregate") && l.contains("tbl") && l.contains("partial_count"))
    assert(sizeAgg, s"no partial-agg bucket count keyed by (tbl, bkt):\n$p")
    // embedding arrays ride only narrow maps and broadcast/id joins —
    // no hash exchange may be keyed by (or carry) the embedding col
    val badEx = p.linesIterator.filter(l => l.contains("Exchange") && l.contains("embedding"))
    assert(badEx.isEmpty, s"embedding arrays shuffled:\n${badEx.mkString("\n")}")
  }

  test("qa0: curation pipeline — single scan, no window, no join, dedup is a partial agg") {
    val p = plan("qa0_curate")
    // the whole filter chain fuses ahead of the dedup shuffle; the
    // survivor row rides a min_by partial agg on the md5 digest (the
    // q68 lesson — a window over a content key has no map-side
    // combine and serializes hot boilerplate), and the composition
    // has NO join anywhere: a min-id + join-back dedup would read
    // the annotated scan twice
    assert(!p.contains("Window"), s"curation grew a window:\n$p")
    assert(!p.contains("Join"), s"curation grew a join (double-scan dedup?):\n$p")
    val scans = p.linesIterator.count(l => l.contains("Scan parquet") || l.contains("FileScan"))
    assert(scans === 1, s"expected exactly 1 corpus scan, got $scans:\n$p")
    // the survivor row's struct holds strings, so Spark plans the
    // min_by as a SortAggregate (no mutable hash buffer for strings)
    // — what matters for skew is the PARTIAL phase before the digest
    // exchange: hot boilerplate collapses map-side either way
    assert(p.contains("partial_min_by"),
      s"survivor selection lost its map-side partial phase:\n$p")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx === 2, s"expected 2 hash exchanges (digest, manifest key), got $hashEx:\n$p")
  }

  test("q6g: cell self-join shares ONE canonical exchange; no cross join anywhere") {
    val sp = SparkEntry.queries("q6g_semantic_dedup")(spark, sf).queryExecution.sparkPlan
    val rep = sp.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.shuffleOrigin.toString == "REPARTITION_BY_COL" => e
    }
    assert(rep.size >= 2, s"expected the cell repartition on both self-join sides, got ${rep.size}")
    assert(rep.map(_.canonicalized.semanticHash()).distinct.size === 1,
      "cell exchange forked into multiple canonical variants — assignment scan will run twice")
    val p = sp.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"semantic dedup fell back to a cross join:\n$p")
    // the exact-copy collapse must be a PARTIAL hash/object agg on the
    // embedding value (map-side combine is what absorbs a 10^8-copy
    // vector before the shuffle ships anything); it lives inside the
    // staged InMemoryRelation subtree, which prints its cached plan
    assert(p.contains("partial_min(vec_id"),
      s"collapse groupBy lost its map-side partial aggregation:\n$p")
    // and it must stay a HASH aggregate: an array-typed aggregate
    // expression (first(embedding) et al.) demotes the collapse to
    // SortAggregate, which sorts the member corpus (with its arrays)
    // in every task — arrays may ride the grouping KEY, never the
    // aggregate buffer
    assert(!p.contains("SortAggregate"),
      s"q6g plan contains a SortAggregate — collapse demoted from hash aggregation:\n$p")
  }

  test("qa1: mixture — corpus never shuffles; the plan joins back as a broadcast") {
    val p = plan("qa1_mix")
    // the per-source plan is a ~|sources|-row aggregate broadcast
    // back onto the corpus: the corpus itself must reach the epoch
    // explode without a repartition, and the only hash exchanges are
    // the stats partial agg and the final (source, epoch) aggregate
    assert(p.contains("BroadcastHashJoin"), s"plan join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled into a sort-merge join:\n$p")
    // the stats subtree prints twice (it feeds both the total agg and
    // the per-source select) but the copies are bit-identical, so
    // exchange reuse collapses them at runtime — count DISTINCT
    // canonical exchanges: stats on source + the final (source, epoch)
    val sp = SparkEntry.queries("qa1_mix")(spark, sf).queryExecution.sparkPlan
    val hashEx = sp.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("hashpartitioning") => e
    }
    assert(hashEx.map(_.canonicalized.semanticHash()).distinct.size <= 2,
      s"expected at most 2 distinct hash exchanges (stats, final agg):\n$p")
    assert(p.contains("Generate explode"), s"epoch fan-out is not a narrow explode:\n$p")
  }

  test("qa3: one shard exchange feeds both the pack window and the chunk aggregate") {
    val p = plan("qa3_training_run")
    // the mixture plan stays a broadcast; the corpus never meets a
    // sort-merge join anywhere in the composition
    assert(p.contains("BroadcastHashJoin"), s"mixture plan join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled into a sort-merge join:\n$p")
    // exactly one exchange clusters on shard (the per-shard pack
    // window's), and NO exchange ever carries the chunk key: the
    // (shard, chunk) aggregate must satisfy its distribution from the
    // shard partitioning (subset rule) — a chunk-keyed exchange means
    // the whole instance stream shuffles a second time
    // count DISTINCT partitioning specs, not plan lines: when another
    // suite's cache holds a finalized adaptive subplan, its tree
    // prints Final AND Initial sections — the same exchange twice
    // under different plan_ids but the SAME expression ids. A real
    // duplicated pack subtree would carry fresh expression ids and
    // still trip the count.
    val parts = "hashpartitioning\\([^)]*\\)".r.findAllIn(p).toSeq
    val shardParts = parts.filter(_.contains("shard#")).distinct
    assert(shardParts.size === 1,
      s"expected ONE distinct shard partitioning, got $shardParts:\n$p")
    assert(!parts.exists(_.contains("chunk#")),
      s"chunk aggregate re-shuffled instead of reusing the shard partitioning:\n$p")
    // chunk fan-out is the narrow sequence explode
    assert(p.contains("Generate explode"), s"chunk fan-out is not a narrow explode:\n$p")
  }

  test("f32 transport: the cell exchange of a double-typed corpus carries ONLY float arrays") {
    // structural, not textual — a renamed column ("ua", "ea") dodges
    // the string grep above, so walk the REPARTITION exchange's
    // output schema: for array<double> input the one wide exchange
    // must ship FloatType elements (the norm-prescaled u32 payload),
    // never DoubleType arrays. Uses injected centroids so the lock
    // needs no k-means training.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    functions.VectorExpressions.register(spark)
    val embD = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      .select(col("vec_id"), col("embedding"),
        graft.functions.VectorFunctions.norm2(col("embedding")).as("nrm"))
    val dims = embD.select(size(col("embedding"))).head().getInt(0)
    val cents = Seq((0L, Seq.fill(dims)(0.1)), (1L, Seq.fill(dims)(-0.1)))
    val sp = dedup.Dedup.semanticVerdictsFor(embD, cents, tau = 0.4)
      .queryExecution.sparkPlan
    val reps = sp.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.shuffleOrigin.toString == "REPARTITION_BY_COL" => e
    }
    assert(reps.nonEmpty, "expected the cell repartition in the plan")
    val doubleArrays = reps.flatMap(_.output).filter(a => a.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    assert(doubleArrays.isEmpty,
      s"cell exchange ships array<double> attrs: ${doubleArrays.map(_.name).mkString(", ")}")
    val floatArrays = reps.flatMap(_.output).filter(a => a.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    assert(floatArrays.nonEmpty, "cell exchange lost its prescaled float payload entirely")
  }
}

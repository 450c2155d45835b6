package graft

import graft.dedup.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf≈1 fan-out soak for the dedup/ANN fan-out family (SURVEY §7.5;
  * r3 verdict item 5): upscale sf0.1 by 10× — distinct ids, IDENTICAL
  * texts/vectors, deliberately the adversarial case: every LSH bucket's
  * membership grows 10×, every true near-dup pair multiplies by
  * C(10,2) = 45, and exact copies collide in EVERY band. Measures
  * candidate growth, bucket-size distributions (the quantity SURVEY §4
  * says bounds all fan-out work), and wall times.
  *
  * Not part of `sbt test` (minutes, not seconds): run manually with
  * `sbt "Test/runMain graft.Soak"`; findings are recorded in PLANS.md.
  */
object Soak {

  private def deleteDir(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }

  private def timed[T](name: String)(f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[soak] $name: $secs%.1f s")
    (r, secs)
  }

  /** Total shuffle-write bytes across every stage run inside `f` —
    * the quantity the float32-transport work moves. Listener events
    * post asynchronously, so a short drain sleep follows the action
    * (coarse but ample for soak-sized jobs).
    */
  private def shuffleBytes[T](spark: SparkSession)(f: => T): (T, Long) = {
    val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        bytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        ()
      }
    }
    // symmetric drain BEFORE attach too: stage events from jobs run
    // just before the measured block can still sit in the async bus
    // and would be delivered to (and counted by) the new listener
    Thread.sleep(2000)
    spark.sparkContext.addSparkListener(l)
    val r = try f finally {
      Thread.sleep(2000)
      spark.sparkContext.removeSparkListener(l)
    }
    (r, bytes.get())
  }

  /** max / p99 / mean over per-bucket member counts, plus the pairwise
    * work they imply (Σ sz·(sz−1)/2 — the in-bucket candidate slots a
    * self-join would generate, computed WITHOUT running the join).
    */
  private def bucketStats(buckets: DataFrame, keys: Seq[String]): (Long, Long, Long, Double, Long) = {
    val sz = buckets.groupBy(keys.map(col): _*).count()
    val row = sz.agg(
      count(lit(1)).as("n"),
      max("count").as("mx"),
      expr("percentile_approx(count, 0.99)").as("p99"),
      avg("count").as("mean"),
      sum(col("count") * (col("count") - 1) / 2).as("slots")).head()
    (row.getLong(0), row.getLong(1), row.getLong(2), row.getDouble(3),
      row.getDouble(4).toLong)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SOAK_COPIES", "10").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .appName("graft-soak")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def fan(df: DataFrame, idCol: String): DataFrame = {
      val stride = df.agg(max(idCol)).head().getLong(0) + 1L
      (0 until copies)
        .map(i => df.withColumn(idCol, col(idCol) + lit(i * stride)))
        .reduce(_ unionByName _)
        .repartition(64)
        .localCheckpoint(true)
    }

    // ---------------- documents family ----------------
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val n0 = docs.count()
    val fanned = fan(docs, "doc_id")
    println(s"[soak] corpus: $n0 docs x $copies = ${n0 * copies}")

    // q62: MinHash-LSH band buckets + candidates
    val sigs = Dedup.minhashSignatures(fanned)
    val (bs62, _) = timed("q62_bucket_stats")(
      bucketStats(Dedup.bandedKeys(sigs), Seq("band", "bh")))
    println(s"[soak] q62 buckets: n=${bs62._1} max=${bs62._2} p99=${bs62._3} " +
      f"mean=${bs62._4}%.2f pair_slots=${bs62._5}")
    val (cand62, s62) = timed("q62_candidates")(Dedup.lshCandidates(sigs).count())
    println(s"[soak] q62 candidates: $cand62")

    // q68: passage dedup full corpus
    val (agg68, s68) = timed("q68_passage_dedup")(
      Dedup.passageDedup(fanned)
        .agg(count(lit(1)), sum("n_passages"), sum("n_dup_passages"),
          sum(when(col("keep"), 0L).otherwise(1L))).head())
    println(s"[soak] q68: rows=${agg68.getLong(0)} passages=${agg68.getLong(1)} " +
      s"dup_passages=${agg68.getLong(2)} dropped_docs=${agg68.getLong(3)}")

    // q69: one fresh batch (one more copy) vs the fanned corpus
    val stride = docs.agg(max("doc_id")).head().getLong(0) + 1L
    val batch = docs.withColumn("doc_id", col("doc_id") + lit(copies * stride))
    val (v69, s69) = timed("q69_incremental")(
      Dedup.incrementalNearDups(batch, fanned)
        .agg(count(lit(1)), sum(when(col("keep"), 0L).otherwise(1L))).head())
    println(s"[soak] q69: verdicts=${v69.getLong(0)} dropped=${v69.getLong(1)}")

    // q6b: persisted index — build once (corpus-sized), ingest (batch-sized)
    val idxTmp = java.nio.file.Files.createTempDirectory("graft-soak-index")
    val s6b = try {
      val root = s"$idxTmp/idx"
      val (_, sIdx) = timed("q6b_index_build")(Dedup.commitBandIndex(fanned, root))
      val (v6b, s) = timed("q6b_ingest")(
        Dedup.ingestAgainstIndex(batch, fanned, root)
          .agg(count(lit(1)), sum(when(col("keep"), 0L).otherwise(1L))).head())
      println(s"[soak] q6b: verdicts=${v6b.getLong(0)} dropped=${v6b.getLong(1)} " +
        f"(index build $sIdx%.1f s amortized across ingests of $s%.1f s)")
      s
    } finally deleteDir(spark, idxTmp.toString)

    // Ingest-store compaction cadence: the continuous-ingest sinks
    // read the corpus as readAppendOnly (latest full + later deltas).
    // The scale claims under test: (1) rows NEVER double across a
    // compact (the pre-fix raw all-versions union doubled the corpus
    // — and every verdict's n_matches — forever after one), and
    // (2) compaction actually resets the scan fan-in, so an
    // operational compact cadence bounds per-batch ingest cost as
    // deltas accumulate.
    val ingTmp = java.nio.file.Files.createTempDirectory("graft-soak-ingest")
    try {
      import graft.sources.Snapshots
      val iroot = s"$ingTmp/corpus"
      Snapshots.commit(fanned, iroot)
      (0 until 8).foreach { i =>
        Snapshots.commitDelta(
          batch.filter(col("doc_id") % 8 === i), iroot)
      }
      val (preRows, sPre) = timed("ingest_read_9seg")(
        Snapshots.readAppendOnly(spark, iroot).count())
      timed("ingest_compact")(Snapshots.compact(spark, iroot, Seq("doc_id")))
      val (postRows, sPost) = timed("ingest_read_compacted")(
        Snapshots.readAppendOnly(spark, iroot).count())
      require(postRows == preRows,
        s"compaction changed the append-only row count: $preRows -> $postRows")
      val segsPost = Snapshots.readAppendOnly(spark, iroot)
        .queryExecution.executedPlan.toString
        .split("Scan parquet").length - 1
      println(f"[soak] ingest store: $preRows rows, 9-segment read $sPre%.1f s -> " +
        f"compacted read $sPost%.1f s over $segsPost scan(s) — no double-count, fan-in reset")
    } finally deleteDir(spark, ingTmp.toString)

    // ---------------- warehouse tier ----------------
    // 10× orders through the snapshot store: full base + 32 delta
    // imports, then the three read shapes a warehouse lives on —
    // latest (delta-chain merge), compact, and a CDC diff across the
    // whole chain. The scale claims under test: the merge is ONE key
    // shuffle regardless of chain length, and compact bounds fan-in.
    import graft.sources.Snapshots
    val orders = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val fo = fan(orders, "o_orderkey")
    val nOrders = fo.count()
    val whTmp = java.nio.file.Files.createTempDirectory("graft-soak-store")
    try {
      val wroot = s"$whTmp/orders"
      timed("wh_commit_full")(Snapshots.commit(fo, wroot))
      timed("wh_32_deltas") {
        (0 until 32).foreach { i =>
          Snapshots.commitDelta(
            fo.filter(col("o_orderkey") % 128 === i).withColumn("o_orderstatus", lit("A")),
            wroot)
        }
      }
      val latest = Snapshots.latest(spark, wroot, Seq("o_orderkey"))
      val mergeShuffles = "Exchange hashpartitioning".r
        .findAllIn(latest.queryExecution.executedPlan.toString).length
      val (nLatest, sMerge) = timed("wh_latest_33frame_merge")(latest.count())
      val (_, sCompact) = timed("wh_compact")(
        Snapshots.compact(spark, wroot, Seq("o_orderkey")))
      val (nChg, sChanges) = timed("wh_changes_v1_v33")(
        Snapshots.changes(spark, wroot, 1L, 33L, Seq("o_orderkey")).count())
      println(s"[soak] warehouse: $nOrders keys, 33-frame merge -> $nLatest rows in " +
        f"$sMerge%.1f s with $mergeShuffles shuffle(s); compact $sCompact%.1f s; " +
        s"changes=$nChg")
    } finally deleteDir(spark, whTmp.toString)

    // ---------------- embeddings family ----------------
    val emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val e0 = emb.count()
    val fe = fan(emb, "vec_id")
    val feN = fe.select(col("vec_id"), col("embedding"),
      graft.functions.VectorFunctions.norm2(col("embedding")).as("nrm"))
    println(s"[soak] embeddings: $e0 x $copies = ${e0 * copies}")

    // default (12 tables × 4 planes) vs scale-tuned (12 × 8) bucket
    // geometry: the pair_slots column IS the q65 cost model
    for (planes <- Seq(4, 8)) {
      val (bs, _) = timed(s"q65_bucket_stats_planes$planes")(
        bucketStats(graft.ann.Knn.lshTables(feN, tables = 12, planes = planes, seed = 7)
          .select("vec_id", "tbl", "bkt"), Seq("tbl", "bkt")))
      println(s"[soak] q65 planes=$planes buckets: n=${bs._1} max=${bs._2} p99=${bs._3} " +
        f"mean=${bs._4}%.2f pair_slots=${bs._5}")
    }
    // run the actual pipeline at the AUTO default — the geometry the
    // solver resolves for this corpus size, end to end (round 5: the
    // library default IS the scale-tuned path now)
    val gAuto = graft.ann.LshGeometry.forCorpus(e0 * copies, 0.4)
    println(s"[soak] q65 auto geometry for n=${e0 * copies}: $gAuto")
    val (pairs65, s65) = timed("q65_neardups_auto")(
      Dedup.embeddingNearDups(fe).count())
    println(s"[soak] q65 auto verified pairs: $pairs65")

    // q6c: incremental vector ingest (one more copy as the batch)
    // against the fanned corpus, auto geometry on both band sides
    val eStride = emb.agg(max("vec_id")).head().getLong(0) + 1L
    val ebatch = emb.withColumn("vec_id", col("vec_id") + lit(copies * eStride))
    val (v6c, s6c) = timed("q6c_incremental_auto")(
      Dedup.incrementalVecDups(ebatch, fe)
        .agg(count(lit(1)), sum(when(col("keep"), 0L).otherwise(1L))).head())
    println(s"[soak] q6c: verdicts=${v6c.getLong(0)} dropped=${v6c.getLong(1)}")

    // ------- q6f: adaptive splitter vs a hot-region corpus (r6 item) -------
    // The variance pathology the mean-bucket geometry model cannot
    // see, at soak scale: pull HALF the corpus toward one shared unit
    // direction h (v = 0.75·h + e, keyed on the BASE id so fan copies
    // stay identical). Internal cross-cosines sit near
    // 0.75²/(0.75²+1) ≈ 0.36 < τ — the hot region is NOT a near-dup
    // clique, so the true output stays linear — but every hot vector
    // leans cos ≈ 0.6 toward h, so each table's majority-sign buckets
    // swallow the region while the geometry solver's mean-bucket
    // model stays healthy. Measured: plain (tbl, bkt) pair slots vs
    // the refined (tbl, bkt, sub) slots at the library default
    // (maxBucket=128), the adaptive end-to-end wall, and exact-copy
    // recall (identical vectors share every bit, so the splitter must
    // never lose them — the floor is e0 · C(copies, 2)).
    val hRaw = emb.orderBy("vec_id").select("embedding").head().getSeq[Float](0)
    val hNrm = math.sqrt(hRaw.map(x => x.toDouble * x).sum)
    val hScaled = hRaw.map(x => (x * 0.75 / hNrm).toFloat).toArray
    val hotFe = fe.withColumn("embedding",
        when((col("vec_id") % lit(eStride)) % 2 === 0,
          zip_with(typedLit(hScaled), col("embedding"), (a, b) => (a + b).cast("float")))
          .otherwise(col("embedding")))
      .localCheckpoint(true)
    val gHot = graft.ann.LshGeometry.forCorpus(e0 * copies, 0.4)
    val hotN = hotFe.select(col("vec_id"), col("embedding"),
      graft.functions.VectorFunctions.norm2(col("embedding")).as("nrm"))
    val (bsPlain, _) = timed("q6f_hot_plain_bucket_stats")(
      bucketStats(graft.ann.Knn.lshTables(hotN, gHot.tables, gHot.planes, seed = 7)
        .select("vec_id", "tbl", "bkt"), Seq("tbl", "bkt")))
    println(s"[soak] q6f plain buckets: n=${bsPlain._1} max=${bsPlain._2} " +
      f"p99=${bsPlain._3} mean=${bsPlain._4}%.2f pair_slots=${bsPlain._5}")
    val hotCenter = hotN.select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("pos").agg(avg("v").as("m")).orderBy("pos")
      .collect().map(_.getDouble(1)).toSeq
    val (bsRef, _) = timed("q6f_hot_refined_bucket_stats")(
      bucketStats(Dedup.refinedKeys(hotN, gHot, maxBucket = 128, maxExtra = 8,
        dims = hRaw.length, center = hotCenter, probed = false),
        Seq("tbl", "bkt", "sub")))
    println(s"[soak] q6f refined buckets: n=${bsRef._1} max=${bsRef._2} " +
      f"p99=${bsRef._3} mean=${bsRef._4}%.2f pair_slots=${bsRef._5} " +
      f"(slot reduction ${bsPlain._5.toDouble / math.max(1L, bsRef._5)}%.1fx)")
    val (r6f, s6f) = timed("q6f_hot_adaptive")(
      Dedup.adaptiveNearDups(hotFe, maxBucket = 128)
        .agg(count(lit(1)), count(when(col("cos") > 0.999, 1))).head())
    val exactFloor = e0 * (copies.toLong * (copies - 1) / 2)
    println(s"[soak] q6f hot: pairs=${r6f.getLong(0)} exact=${r6f.getLong(1)} " +
      s"(exact floor $exactFloor" +
      (if (r6f.getLong(1) < exactFloor) " — RECALL FLOOR VIOLATED)" else ")"))

    // ------- q6g: semantic dedup under 10× exact-copy mass (r7 item) -------
    // The fan IS the SemDeDup pathology: every vector carries `copies`
    // bit-identical members, so WITHOUT the exact-copy collapse each
    // k-means cell would hold copies× its distinct membership and the
    // in-cell pairwise stage would pay copies²× the slots. The
    // collapse trains cells and runs the pairwise search on distinct
    // representatives; the auto maxCell guard must stay silent, every
    // non-min copy must drop, and the member-count cell stats expose
    // the slot bound the collapse buys.
    val (out6g, s6g) = timed("q6g_semantic_10x")(
      Dedup.semanticDedup(fe, tau = 0.4).localCheckpoint(true))
    val agg6g = out6g.agg(count(lit(1)),
      sum(when(col("keep"), 1L).otherwise(0L))).head()
    val kept6g = agg6g.getLong(1)
    // a fan group is (vec_id % eStride): the greedy rule can keep at
    // most ONE member of a bit-identical group — any second keeper is
    // a copy that leaked past the collapse, wherever it sits
    val leak6g = out6g.filter(col("keep"))
      .groupBy(pmod(col("vec_id"), lit(eStride)))
      .count().filter(col("count") > 1).count()
    // member-counted vs representative-counted cell slots: the rep
    // count comes from the ACTUAL base-generation rows (vec_id <
    // eStride — exactly one per distinct vector), not from dividing
    // member counts by `copies`, so a leak would show up as a real
    // slot increase instead of fractional nonsense
    val memAgg = out6g.groupBy("cell").count()
      .agg(max("count"), sum(col("count") * (col("count") - 1) / 2)).head()
    val repAgg = out6g.filter(col("vec_id") < eStride).groupBy("cell").count()
      .agg(sum(col("count") * (col("count") - 1) / 2)).head()
    val slotsMembers = memAgg.getDouble(1).toLong
    val slotsReps = repAgg.getDouble(0).toLong
    println(s"[soak] q6g: rows=${agg6g.getLong(0)} kept=$kept6g (distinct $e0)" +
      (if (leak6g > 0) s" — $leak6g GROUPS WITH LEAKED COPIES" else " no leaks") +
      s" max_cell_members=${memAgg.getLong(0)}" +
      f" pair_slots uncollapsed=$slotsMembers collapsed=$slotsReps" +
      f" (${slotsMembers.toDouble / math.max(1L, slotsReps)}%.0fx reduction)")

    // ------- q6g: float32 transport bytes (r8 item) -------
    // The driver parquet stores embeddings as array<float>, so the
    // gate bench never shipped 8 B/dim — the r8 transport work is for
    // DOUBLE-typed corpora (pipelines whose upstream computed in
    // double). Measure the one wide exchange both ways on the SAME
    // double-cast corpus: collapsed reps, assigned to trained cells,
    // repartitioned by cell — array<double> payload (the pre-r8
    // transport) vs the float32 payload the pipeline now ships.
    def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
    val feD = fe.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      .localCheckpoint(true)
    val repsD = feD.groupBy(col("embedding")).agg(min("vec_id").as("rep"))
      .select(col("rep").as("vec_id"), col("embedding"),
        graft.functions.VectorFunctions.norm2(col("embedding")).as("nrm"))
      .localCheckpoint(true)
    val centsD = graft.ann.Knn.ivfCentroids(repsD)
    val (_, bytesDouble) = shuffleBytes(spark)(noop(
      graft.ann.Knn.assignCell(repsD, centsD)
        .select(col("cell"), col("vec_id"), col("embedding"), col("nrm"))
        .repartition(col("cell"))))
    // the pipeline's actual payload: norm-prescaled unit floats, no
    // norm column at all (the unit-dot pair pass doesn't need one)
    val (_, bytesF32) = shuffleBytes(spark)(noop(
      graft.ann.Knn.assignCell(repsD, centsD)
        .select(col("cell"), col("vec_id"),
          transform(col("embedding"), x => x / col("nrm")).cast("array<float>").as("u32"))
        .repartition(col("cell"))))
    val f32Ratio = bytesDouble.toDouble / math.max(1L, bytesF32)
    println(f"[soak] q6g cell-exchange bytes on a double-typed corpus: " +
      f"double=$bytesDouble f32=$bytesF32 (${f32Ratio}%.2fx smaller)")
    // end-to-end on the double-typed corpus through the NEW transport
    // (verdicts must match the float-typed run: same vectors)
    val ((aggD, s6gD), bytes6gTotal) = shuffleBytes(spark)(
      timed("q6g_semantic_10x_double_typed")(
        Dedup.semanticDedup(feD, tau = 0.4)
          .agg(count(lit(1)), sum(when(col("keep"), 1L).otherwise(0L))).head()))
    println(s"[soak] q6g double-typed: rows=${aggD.getLong(0)} kept=${aggD.getLong(1)} " +
      s"total_shuffle_bytes=$bytes6gTotal" +
      (if (aggD.getLong(1) != kept6g) s" — KEEP COUNT DIVERGED from float-typed $kept6g" else ""))

    // ------- q6g: skewed member expansion (r8 item) -------
    // ONE vector with 10⁶ bit-identical members: the collapse absorbs
    // them into a single representative map-side, and the
    // member-expansion join then carries one hot (gk1, gk2) key with
    // 10⁶ rows — the shape that leans on AQE skew splitting
    // (Dedup.scala member join). Claims under test: wall stays far
    // from quadratic-in-copies, NO hot member is kept (their rep is
    // the base-corpus min id), and every hot member carries dup
    // lineage (dup_of set) rather than vanishing or fanning out.
    val hotMembers = 1000000L
    val hotBase = hRaw // the min-id embedding, already collected above
    val hotIds = spark.range(hotMembers)
      .select((col("id") + lit((copies + 1) * eStride)).as("vec_id"),
        typedLit(hotBase).as("embedding"))
    val skewCorpus = fe.unionByName(hotIds).repartition(64).localCheckpoint(true)
    val (skewOut, sSkew) = timed("q6g_skewed_member_expansion")(
      Dedup.semanticDedup(skewCorpus, tau = 0.4).localCheckpoint(true))
    val hotLo = (copies + 1) * eStride
    val skewAgg = skewOut.filter(col("vec_id") >= hotLo).agg(
      count(lit(1)),
      sum(when(col("keep"), 1L).otherwise(0L)),
      sum(when(!col("keep") && col("dup_of").isNull, 1L).otherwise(0L))).head()
    println(s"[soak] q6g skew: ${skewAgg.getLong(0)} hot members, " +
      s"kept=${skewAgg.getLong(1)} (0 expected), " +
      s"no_lineage=${skewAgg.getLong(2)} (0 expected), " +
      f"wall=$sSkew%.1f s (vs $s6g%.1f s without the hot key)")

    // ---------------- qa3 training run at 10× instance mass ----------------
    // the fan's identical copies would just collapse in curation's
    // exact dedup — suffix each copy's text with ' x<doc_id>' (two
    // extra regex tokens: 'x' and the digit run) so the pack stage
    // actually sees 10× survivors: the scale risk here is the
    // per-shard window sort, not dedup
    val docsSrc = Tables.documents(spark, sfDir).select("doc_id", "text", "source")
    val fannedDistinct = fan(docsSrc, "doc_id")
      .withColumn("text", concat(col("text"), lit(" x"), col("doc_id")))
      .localCheckpoint(true)
    val (curatedFan, sCur) = timed("qa3_curate_10x")(
      operators.Curate.curated(fannedDistinct).filter(col("split") === "train")
        .localCheckpoint(true))
    val runDir = "/tmp/graft-soak-run"
    deleteDir(spark, runDir)
    val ((manifest, sRun), runShufBytes) = shuffleBytes(spark)(
      timed("qa3_writeRun_10x_32shards")(
        operators.TrainingRun.writeRun(curatedFan, operators.Mix.mixTargets, runDir,
          seed = "soak", shards = 32, chunkTokens = 2048L).localCheckpoint(true)))
    val mRow = manifest.agg(count(lit(1)), sum("n_tokens")).head()
    // sum() over an empty manifest is NULL — report the conservation
    // violation (0 != mixed mass) instead of dying on getLong
    val packedMass = if (mRow.isNullAt(1)) 0L else mRow.getLong(1)
    val mixRow = operators.Mix.mixEpochs(curatedFan, operators.Mix.mixTargets,
        massCol = "n_bpe_tokens")
      .agg(sum("n_bpe_tokens")).head()
    val mixedMass = if (mixRow.isNullAt(0)) 0L else mixRow.getLong(0)
    println(s"[soak] qa3: survivors=${curatedFan.count()} chunks=${mRow.getLong(0)} " +
      s"tokens=$packedMass (mixed mass $mixedMass" +
      (if (packedMass != mixedMass) " — CONSERVATION VIOLATED)" else ", conserved)"))
    // shard-layout + bytes profile (r8 item — the numbers a 100×
    // extrapolation leans on): every shard directory must be present
    // with a balanced slice; bytes-on-disk is what the run shipped,
    // shuffle bytes what the ONE corpus-sized exchange cost.
    val runPath = new org.apache.hadoop.fs.Path(runDir)
    val runFs = runPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val runBytes = runFs.getContentSummary(runPath).getLength
    val shardAgg = graft.sources.Sources.readParquet(spark, runDir).groupBy("shard")
      .agg(count(lit(1)).as("rows"), sum("toks_in_chunk").as("toks"))
      .agg(count(lit(1)), min("rows"), max("rows"), min("toks"), max("toks")).head()
    println(s"[soak] qa3 layout: shards=${shardAgg.getLong(0)}/32 " +
      s"rows/shard=[${shardAgg.getLong(1)}..${shardAgg.getLong(2)}] " +
      s"toks/shard=[${shardAgg.getLong(3)}..${shardAgg.getLong(4)}] " +
      s"artifact_bytes=$runBytes shuffle_bytes=$runShufBytes")
    deleteDir(spark, runDir)

    println(f"""{"soak_sf":"$sfDir x $copies","q62_cand":$cand62,"q62_secs":$s62%.1f,""" +
      f""""q68_secs":$s68%.1f,"q69_secs":$s69%.1f,"q6b_ingest_secs":$s6b%.1f,""" +
      f""""q65_pairs":$pairs65,"q65_secs":$s65%.1f,"q6c_secs":$s6c%.1f,""" +
      f""""q6f_hot_secs":$s6f%.1f,"q6f_slot_red":${bsPlain._5.toDouble / math.max(1L, bsRef._5)}%.1f,""" +
      f""""q6g_secs":$s6g%.1f,"q6g_slot_red":${slotsMembers.toDouble / math.max(1L, slotsReps)}%.1f,""" +
      f""""q6g_cell_bytes_double":$bytesDouble,"q6g_cell_bytes_f32":$bytesF32,""" +
      f""""q6g_double_secs":$s6gD%.1f,"q6g_skew_secs":$sSkew%.1f,""" +
      f""""qa3_curate_secs":$sCur%.1f,"qa3_run_secs":$sRun%.1f,""" +
      f""""qa3_artifact_bytes":$runBytes,"qa3_shuffle_bytes":$runShufBytes}""")
    spark.stop()
  }
}

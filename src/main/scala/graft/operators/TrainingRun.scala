package graft.operators

import graft.{Qdef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The end-to-end training-run materialization — the one call that
  * turns a curated corpus into the artifact a trainer actually loads:
  *
  *   [[Curate.curated]] (train split) → [[Mix.mixEpochs]] (derived
  *   per-source epoch rates) → deterministic shard assignment +
  *   within-shard shuffle order → [[q88-style]] fixed-budget token
  *   packing, reported per (shard, chunk).
  *
  * Every stage is an already-oracle-checked building block; qa3
  * composes them into ONE declarative plan whose DuckDB twin chains
  * the SAME CTE text the stage oracles use ([[Curate.curatedCtes]],
  * qa1's mixture chain, q88's packing chain) — the engines cannot
  * drift stage-by-stage without the composition catching it.
  *
  * Determinism contract (re-runs and retries bit-reproduce the run):
  * the instance key is `md5(seed:doc_id:epoch)` — a NEW salt position
  * (q8b's corpus shuffle key is `seed:doc_id`; the epoch term makes
  * repeated documents land apart, which is the point of mixing) —
  * the shard is a fixed hex-prefix range of that key, and the pack
  * order inside a shard is the key itself. No `rand()` anywhere.
  *
  * Scale shape: the mixture plan is a ~|sources|-row broadcast; the
  * epoch fan-out is a narrow explode; the ONLY corpus-sized exchange
  * is the hash repartition on `shard` that the per-shard packing
  * window needs (its sort is within-shard — no global sort), and the
  * final (shard, chunk) aggregate reuses that partitioning (subset
  * rule — no second exchange). `shards` is the writer-parallelism
  * knob exactly like q88's: at 100 TB set it to O(cluster cores) so
  * each packer task sorts one shard's instances.
  *
  * Composition cost note: the stats side of the mixture plan
  * re-evaluates the input corpus subtree (column-pruned). When the
  * input is the raw scan that is a metadata-cheap second scan; when
  * it is [[Curate.curated]] the pruned twin still pays the dedup
  * shuffle, so production pipelines materialize the curated corpus
  * once ([[writeRun]] does; the qa3 query form stays declarative —
  * that is the gate's job).
  */
object TrainingRun {

  /** Shard thresholds for the DuckDB oracle twin: shard i owns
    * md5-prefix range [t(i), t(i+1)) with t(i) = floor(65536·i/n) as
    * 4 hex digits. The Spark side computes the SAME partition
    * arithmetically ([[shardCol]]: floor(p·n/65536)); the two
    * rounding forms agree exactly whenever n divides 65536 — the
    * oracle runs at n=8 — and both are contiguous disjoint
    * hex-prefix ranges covering the key space for any n.
    */
  private def shardThresholds(n: Int): Seq[String] =
    (0 until n).map(i => f"${65536L * i / n}%04x")

  /** Cheap argument checks, run BEFORE any compute is paid (writeRun
    * stages the whole corpus — a bad shard count must not cost a
    * full curation pass first). Past 65536 the 4-hex key space can
    * no longer distinguish shards (silent empty shards).
    */
  private def validate(shards: Int, chunkTokens: Long): Unit = {
    require(shards >= 1 && shards <= 65536, s"shards must be in [1, 65536], got $shards")
    require(chunkTokens >= 1L, s"chunkTokens must be positive, got $chunkTokens")
  }

  /** Instance shuffle key (hex md5). One definition for the query
    * form and the writer — shard membership and pack order must agree
    * or the written shards would not tile the query's chunks.
    */
  private def instanceKey(seed: String) =
    md5(concat(lit(s"$seed:"), col("doc_id").cast("string"),
      lit(":"), col("epoch").cast("string")).cast("binary"))

  /** shard = floor(prefix·n/65536) — O(1) per row at ANY shard count.
    * The previous form chained O(n) when() threshold comparisons,
    * which at the documented O(cluster cores) shard counts degrades
    * codegen (a 65536-branch CASE); the arithmetic form is one conv +
    * one multiply-div. prefix·n ≤ 65535·65536 < 2⁶³, no overflow.
    * coalesce(_, 0): a null ikey (null doc_id/epoch null-propagates
    * through the md5) lands in shard 0, exactly as the threshold
    * chain's otherwise(0) branch did — never a null-shard partition.
    */
  private def shardCol(n: Int) =
    coalesce(
      expr(s"CAST((CAST(conv(substring(ikey, 1, 4), 16, 10) AS BIGINT) * $n) div 65536 AS INT)"),
      lit(0))

  /** The packed-run manifest: one row per (shard, chunk) with its
    * document-span count and token count. Input must carry doc_id,
    * source, and `massCol` (token mass — [[Curate.curated]]'s
    * n_bpe_tokens by default). All chunks hold exactly `chunkTokens`
    * tokens except each shard's last (documents straddle chunk
    * boundaries — the standard pretraining packer). `mixBudget` is
    * [[Mix.mixturePlan]]'s total-mass budget (the "train on N
    * tokens" knob; 0 = the corpus' own mass) — deliberately a
    * DIFFERENT name from the chunk size, the two budgets measure
    * different things.
    */
  def packedRun(
      corpus: DataFrame,
      targets: Map[String, Double],
      seed: String = "run0",
      shards: Int = 8,
      chunkTokens: Long = 512L,
      maxEpochs: Double = 3.0,
      massCol: String = "n_bpe_tokens",
      mixBudget: Long = 0L): DataFrame =
    packedInstances(corpus, targets, seed, shards, chunkTokens, maxEpochs, massCol, mixBudget)
      .groupBy("shard", "chunk")
      .agg(count(lit(1)).as("n_docs"), sum("toks_in_chunk").as("n_tokens"))

  /** The instance stream with chunk spans — the writer's row shape:
    * (shard, ikey, doc_id, epoch, mass, cum_before, cum_after, chunk,
    * toks_in_chunk); one row per (instance, chunk) span.
    */
  private def packedInstances(
      corpus: DataFrame,
      targets: Map[String, Double],
      seed: String,
      shards: Int,
      chunkTokens: Long,
      maxEpochs: Double,
      massCol: String,
      mixBudget: Long): DataFrame = {
    validate(shards, chunkTokens)
    // ROWS frame, not the default RANGE: with RANGE, rows tied on the
    // full sort key (possible only if the caller violates doc_id
    // uniqueness) share one cum_after and their spans overlap —
    // ROWS keeps the pack mass-conserving for ANY input (tied rows
    // order arbitrarily between themselves but never double-count)
    val w = Window.partitionBy("shard").orderBy("ikey", "doc_id", "epoch")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Mix.mixEpochs(corpus, targets, budget = mixBudget, maxEpochs = maxEpochs, massCol = massCol)
      // zero-mass instances carry nothing packable, and Spark's
      // sequence(a, b) DESCENDS when a > b — an empty doc at an exact
      // chunk boundary would emit a phantom backwards span
      .filter(col(massCol) > 0L)
      .select(col("doc_id"), col("epoch"), col(massCol).as("mass"))
      .withColumn("ikey", instanceKey(seed))
      .withColumn("shard", shardCol(shards))
      .withColumn("cum_after", sum("mass").over(w))
      .withColumn("cum_before", col("cum_after") - col("mass"))
      .withColumn("chunk",
        explode(sequence(expr(s"cum_before div $chunkTokens"),
          expr(s"(cum_after - 1) div $chunkTokens"))))
      .withColumn("toks_in_chunk",
        least(col("cum_after"), (col("chunk") + 1) * chunkTokens) -
          greatest(col("cum_before"), col("chunk") * chunkTokens))
  }

  /** Materialize the run: stage the (expensive, twice-consumed)
    * curated corpus once, then write the instance stream partitioned
    * by shard, each file in pack order with its chunk-span columns —
    * the loader slices fixed-`chunkTokens` sequences by streaming a shard
    * file and cutting at the recorded offsets, no re-scan, no second
    * sort. Returns the per-(shard, chunk) manifest of what was
    * written (same frame as [[packedRun]] of the staged corpus).
    */
  def writeRun(
      corpus: DataFrame,
      targets: Map[String, Double],
      path: String,
      seed: String = "run0",
      shards: Int = 8,
      chunkTokens: Long = 512L,
      maxEpochs: Double = 3.0,
      massCol: String = "n_bpe_tokens",
      mixBudget: Long = 0L): DataFrame = {
    validate(shards, chunkTokens)
    // persist, NOT localCheckpoint: both stage the twice-consumed
    // curated corpus once (the mixture stats side re-reads it), but
    // persist keeps lineage — on a real cluster an executor loss
    // recomputes the lost blocks instead of failing the whole run,
    // and MEMORY_AND_DISK spills rather than demanding the corpus
    // fit executor storage. Unpersisted once the artifact is on disk.
    val staged = corpus.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val inst = packedInstances(staged, targets, seed, shards, chunkTokens, maxEpochs, massCol, mixBudget)
      inst
        .repartition(col("shard"))
        .sortWithinPartitions("shard", "ikey", "doc_id", "epoch", "chunk")
        .write.mode("overwrite").partitionBy("shard").parquet(path)
      manifestOf(staged.sparkSession, inst.schema, path)
    } finally staged.unpersist(blocking = false)
  }

  private def manifestOf(spark: org.apache.spark.sql.SparkSession,
                         schema: org.apache.spark.sql.types.StructType,
                         path: String): DataFrame =
    // the manifest aggregates the files JUST WRITTEN — a narrow scan
    // of the artifact itself, not a second run of the corpus-sized
    // shard shuffle + pack window (and it reports what is actually on
    // disk, which is what a manifest is for). Explicit schema: a run
    // whose mixture comes up empty writes no part files, and schema
    // inference would throw where an empty manifest is the right
    // answer. Eager checkpoint: the returned frame stays valid after
    // the caller deletes or overwrites the run directory (it is
    // chunk-count sized — tiny).
    graft.Stage.cut(
      graft.sources.Sources.readParquet(spark, path, schema)
        .groupBy("shard", "chunk")
        .agg(count(lit(1)).as("n_docs"), sum("toks_in_chunk").as("n_tokens")))

  /** qa3: the composed pipeline on the raw documents table — curate,
    * keep the train split, mix to qa1's target shares by token mass,
    * pack into 512-token chunks across 8 shards.
    */
  private val qa3 = Qdef(
    "qa3_training_run",
    (s, d) =>
      // the curated-train corpus is consumed TWICE inside packedRun
      // (the mixture plan's stats aggregate + the instance stream),
      // and the stats side's column-pruned twin still pays the whole
      // regex annotation + digest-dedup shuffle (min_by carries the
      // full row, so nothing prunes) — stage it once, lazily: the
      // mixture stats aggregate is the first full pass and populates
      // the cache the instance stream then reads (writeRun does the
      // same with an explicit persist).
      packedRun(
        graft.Stage.lazily(
          Curate.curated(Tables.documents(s, d)).filter(col("split") === "train")),
        Mix.mixTargets, seed = "qa3")
        .orderBy("shard", "chunk"),
    Some {
      val shardCase = shardThresholds(8).zipWithIndex.drop(1).reverse
        .map { case (t, i) => s"WHEN substr(ikey, 1, 4) >= '$t' THEN $i" }
        .mkString("CASE ", " ", " ELSE 0 END")
      s"""WITH ${Curate.curatedCtes},
          tr AS (SELECT * FROM sp WHERE split = 'train'),
          stats AS (SELECT source, CAST(SUM(n_bpe_tokens) AS BIGINT) AS avail
                 FROM tr GROUP BY source),
          tot AS (SELECT CAST(SUM(avail) AS BIGINT) AS total FROM stats),
          plan AS (SELECT source,
                 LEAST(3.0, CASE WHEN avail > 0
                   THEN (${Mix.caseShare}) * CAST(total AS DOUBLE) / CAST(avail AS DOUBLE)
                   ELSE 0.0 END) AS rate
                 FROM stats, tot),
          p2 AS (SELECT source, rate, CAST(FLOOR(rate) AS BIGINT) AS nfull,
                 lower(lpad(hex(CAST(FLOOR((rate - FLOOR(rate)) * 65536.0) AS BIGINT)), 4, '0')) AS thresh
                 FROM plan),
          ep AS (SELECT tr.doc_id, tr.source, tr.n_bpe_tokens, p2.nfull, p2.thresh, t.epoch
                 FROM tr JOIN p2 USING (source)
                 CROSS JOIN (SELECT CAST(x AS BIGINT) AS epoch FROM (VALUES (0),(1),(2)) v(x)) t
                 WHERE t.epoch < CAST(CEIL(p2.rate) AS BIGINT)),
          mx AS (SELECT doc_id, epoch, n_bpe_tokens AS mass FROM ep
                 WHERE (epoch < nfull
                   OR substr(md5(CAST(doc_id AS VARCHAR) || ':mixep'), 1, 4) < thresh)
                   AND n_bpe_tokens > 0),
          ik AS (SELECT *, md5('qa3:' || CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)) AS ikey
                 FROM mx),
          sh AS (SELECT *, $shardCase AS shard FROM ik),
          cu AS (SELECT *,
                 CAST(SUM(mass) OVER (PARTITION BY shard ORDER BY ikey, doc_id, epoch
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_after,
                 CAST(SUM(mass) OVER (PARTITION BY shard ORDER BY ikey, doc_id, epoch
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - mass AS BIGINT) AS cum_before
                 FROM sh),
          ex AS (SELECT shard, cum_before, cum_after,
                 unnest(generate_series(cum_before // 512, (cum_after - 1) // 512)) AS chunk
                 FROM cu),
          xs AS (SELECT shard, chunk,
                 least(cum_after, (chunk + 1) * 512) -
                 greatest(cum_before, chunk * 512) AS toks_in_chunk
                 FROM ex)
          SELECT shard, chunk, COUNT(*) AS n_docs,
                 CAST(SUM(toks_in_chunk) AS BIGINT) AS n_tokens
          FROM xs GROUP BY shard, chunk ORDER BY shard, chunk"""
    })

  val all: Seq[Qdef] = Seq(qa3)
}

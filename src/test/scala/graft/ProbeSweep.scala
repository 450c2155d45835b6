package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Acceptance-sweep harness for the q6f operating point: measures
  * RECALL (vs the exhaustive cosine truth) and wall time of
  * [[graft.dedup.Dedup.adaptiveNearDups]] across bucket caps and
  * probe compositions on one corpus. The r11 soak proved LSH recall
  * claims are only valid at measured scales, so any re-pin of the
  * q6f entry (cap, probes) must re-run this sweep at sf0.1 and show
  * truth-count/truth-count before the pin moves — the historical
  * acceptance numbers (maxBucket 32→889/920, 64→913, 128→919,
  * 256→920 under hamming-1 union probes) live in PLANS.md.
  *
  *   sbt "Test/runMain graft.ProbeSweep [sfDir] [cap,cap,...]"
  */
object ProbeSweep {
  def main(args: Array[String]): Unit = {
    val d = args.find(_.startsWith("/")).getOrElse("/root/testdata/sf0.1")
    val caps = args.filterNot(_.startsWith("/")).headOption
      .map(_.split(",").map(_.trim.toInt).toSeq).getOrElse(Seq(32, 64, 128, 256))
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import graft.functions.VectorFunctions._
    // SPARK_GRAFT_SWEEP_COPIES > 1 fans the embeddings the same way
    // BenchSf1 does (stride + per-copy jitter in distinct mode) for a
    // TIMING sweep at 10x — brute truth is skipped there (recall is
    // the three shipped scales' job; the fan's cost profile is this
    // mode's). Output counts are still printed for sanity.
    val copies = sys.env.getOrElse("SPARK_GRAFT_SWEEP_COPIES", "1").toInt
    val mode = sys.env.getOrElse("SPARK_GRAFT_SWEEP_MODE", "distinct")
    val base = Tables.embeddings(spark, d)
    val emb = if (copies <= 1) base else {
      val stride = base.agg(max(col("vec_id"))).head().getLong(0) + 1L
      (0 until copies).map { i =>
        val shifted = base.withColumn("vec_id", col("vec_id") + lit(i * stride))
        if (i > 0 && mode == "distinct")
          shifted.withColumn("embedding", BenchSf1.jitterEmbedding(i))
        else shifted
      }.reduce(_ unionByName _).repartition(64).localCheckpoint(true)
    }
    val e = emb.select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("nrm"))
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // SPARK_GRAFT_SWEEP_BRUTE=1 forces the exhaustive truth even on a
    // fanned corpus (minutes of cosine work — the once-per-re-pin
    // recall ceiling measurement, not a per-iteration habit)
    val bruteAnyway = sys.env.get("SPARK_GRAFT_SWEEP_BRUTE").contains("1")
    val truth: Set[(Long, Long)] = if (copies > 1 && !bruteAnyway) Set.empty else {
      val t0 = System.nanoTime()
      val t = pairs(
        e.select(col("vec_id").as("id_a"), col("embedding").as("ea"), col("nrm").as("na"))
          .crossJoin(e.select(col("vec_id").as("id_b"), col("embedding").as("eb"), col("nrm").as("nb")))
          .filter(col("id_a") < col("id_b"))
          .filter(cosine(col("ea"), col("eb"), col("na"), col("nb")) >= 0.4))
      println(f"truth: ${t.size} pairs (brute, ${(System.nanoTime() - t0) / 1e9}%.1f s)")
      t
    }

    // SPARK_GRAFT_SWEEP_CONFIGS="256:u:0,128:p:1,..." pins the exact
    // (cap, union|product, sub2) triples instead of the full cross
    val configs: Seq[(Int, Boolean, Boolean)] =
      sys.env.get("SPARK_GRAFT_SWEEP_CONFIGS") match {
        case Some(s) => s.split(",").toSeq.map { c =>
          val Array(cap, comp, s2) = c.trim.split(":")
          (cap.toInt, comp == "u", s2 == "1")
        }
        case None =>
          for (cap <- caps; union <- Seq(true, false); sub2 <- Seq(false, true))
            yield (cap, union, sub2)
      }
    // SPARK_GRAFT_SWEEP_TABLES overrides the solver's table count —
    // the recall-vs-cost knob to measure when a corpus's marginal
    // pairs (cos barely over tau) defeat the probes
    val tables = sys.env.getOrElse("SPARK_GRAFT_SWEEP_TABLES", "0").toInt
    for ((cap, union, sub2) <- configs) {
      val t1 = System.nanoTime()
      val got = graft.dedup.Dedup.adaptiveNearDups(
        emb, maxBucket = cap, tables = tables,
        probe1 = true, probeUnion = union, probeSub2 = sub2)
      if (truth.isEmpty) {
        val n = got.count()
        val dt = (System.nanoTime() - t1) / 1e9
        println(f"cap=$cap%4d union=$union%-5s sub2=$sub2%-5s pairs=$n%8d $dt%6.1f s")
      } else {
        val g = pairs(got)
        val dt = (System.nanoTime() - t1) / 1e9
        val missed = truth.size - g.intersect(truth).size
        println(f"cap=$cap%4d union=$union%-5s sub2=$sub2%-5s " +
          f"recall=${g.intersect(truth).size}/${truth.size}" +
          f" (missed $missed) spurious=${(g -- truth).size} $dt%6.1f s")
      }
    }
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Measurement harness for the q9l excision counting pass: on a
  * banded multi-segment chain, how much does the zone-map segment
  * skip ([[graft.sources.Snapshots.conditionBounds]]) save over a
  * condition shape that defeats it? Two identical stores are built
  * (excision mutates), then one key is taken down through each path:
  *
  *  - `bounded`  — `col === key`, the recognized shape: the counting
  *    pass opens only the segments whose committed zone maps admit
  *    the key (base full + the key's own band delta);
  *  - `unbounded` — `col + 0 === key`, semantically the same
  *    takedown but an arithmetic shape the bound extractor
  *    deliberately does not recognize: every segment carrying the
  *    column is counted (row-group stats still prune inside each).
  *
  * Prints ONE JSON line with planned-scan counts, per-path counting
  * + total wall, and the rewritten-segment reports (which must
  * match — the paths differ in cost only). Timings are same-run
  * comparable, like ProbeSweep: cross-run numbers move with
  * box-hours.
  *
  *   sbt "Test/runMain graft.ExciseProbe [sfDir] [segments]"
  */
object ExciseProbe {
  def main(args: Array[String]): Unit = {
    // plain positional args, as documented — prefix-sniffing would
    // silently misroute a relative sfDir into the bands slot
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val bands = args.lift(1).map(_.toInt).getOrElse(16)
    val spark = SparkSession.builder().master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.sources.Snapshots

    val orders = Tables.orders(spark, d).select("o_orderkey", "o_orderstatus", "o_totalprice")
    val maxKey = orders.agg(max("o_orderkey")).head().getLong(0)
    val slice = maxKey / bands + 1

    // explicit recursive cleanup at the end — deleteOnExit only
    // removes EMPTY directories, so it would leak two corpus-sized
    // stores into /tmp per probe run (a tables sweep fills the disk)
    val tmpDirs = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    def buildStore(tag: String): String = {
      val tmp = java.nio.file.Files.createTempDirectory(s"graft-excise-probe-$tag")
      tmpDirs += tmp
      val root = s"$tmp/orders"
      Snapshots.commit(orders, root, statsCols = Seq("o_orderkey"))
      (0 until bands).foreach { i =>
        Snapshots.commitDelta(
          orders.filter(col("o_orderkey") >= i * slice && col("o_orderkey") < (i + 1) * slice)
            .withColumn("o_orderstatus", lit("A")),
          root, statsCols = Seq("o_orderkey"))
      }
      root
    }
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // a key in the middle band, present in the data
    val midLo = (bands / 2) * slice
    val key = orders.filter(col("o_orderkey") >= midLo).agg(min("o_orderkey")).head().getLong(0)

    val rootA = buildStore("bounded")
    val rootB = buildStore("unbounded")
    val boundedCond = col("o_orderkey") === key
    val rangeCond = col("o_orderkey") + 0L === key

    val (plannedA, planTimeA) = timed(Snapshots.excisePlannedScans(spark, rootA, boundedCond))
    val (plannedB, planTimeB) = timed(Snapshots.excisePlannedScans(spark, rootB, rangeCond))
    val (repA, wallA) = timed(Snapshots.excise(spark, rootA, boundedCond))
    val (repB, wallB) = timed(Snapshots.excise(spark, rootB, rangeCond))
    require(repA == repB, s"paths disagree on the rewrite set: $repA vs $repB")

    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    println(
      s"""{"sf":"$d","segments":${bands + 1},"key":$key,""" +
        s""""bounded":{"planned_scans":${plannedA.size},"plan_sec":${fmt(planTimeA)},"excise_sec":${fmt(wallA)}},""" +
        s""""unbounded":{"planned_scans":${plannedB.size},"plan_sec":${fmt(planTimeB)},"excise_sec":${fmt(wallB)}},""" +
        s""""rewritten":${repA.map(_._1).mkString("[", ",", "]")},"rows":${repA.map(_._2).sum}}""")
    tmpDirs.foreach { t =>
      val p = new org.apache.hadoop.fs.Path(t.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      ()
    }
    spark.stop()
  }
}

package graft

import graft.serve.WarehouseServer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Deep-pagination soak (SURVEY §2.14 srv08): measures that a keyset
  * page's cost stays FLAT in the page's depth, while the naive
  * offset alternative (read-and-discard everything before the page)
  * grows linearly — the difference between "walkable at warehouse
  * scale" and "export-only past maxRows".
  *
  * The keyset path is exactly what the server runs for `?after=`:
  * [[WarehouseServer.cursorOf]] on the boundary row →
  * [[WarehouseServer.afterPredicate]] → limit(pageSize). The cursor
  * predicate pushes into the parquet scan (PlanShapeSpec locks that),
  * so depth only moves WHERE the page starts, not how much is read.
  *
  * Not part of `sbt test` (tens of seconds at sf0.1): run manually
  * with `sbt "Test/runMain graft.PaginationSoak"`; findings go to PLANS.md.
  */
object PaginationSoak {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .appName("graft-pagination-soak")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // one soak per direction: ascending (the classic key walk) and
    // descending ("latest first" — the most common warehouse listing
    // order, keyset-able since the per-key-direction cursors)
    def soak(label: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val keys = WarehouseServer.keysetCols(df)
        .getOrElse(sys.error(s"$label soak frame lost its keyset"))
      val total = df.count()
      val pageSize = 500
      // the depth schedule below needs at least 3 pages, and limit()
      // takes an Int — guard both, with a message naming the knob,
      // instead of a negative-offset or wrapped-Int Spark error
      require(total >= 3L * pageSize,
        s"corpus too small to soak pagination depth: $total rows < ${3 * pageSize} (pageSize=$pageSize)")
      require(total <= Int.MaxValue - pageSize,
        s"offset-read baseline would overflow Int at $total rows — shrink the corpus or drop the baseline")
      println(s"[pagesoak:$label] rows=$total pageSize=$pageSize " +
        s"keys=${keys.map { case (n, asc) => if (asc) n else s"$n desc" }.mkString(",")}")

      // probe pages at geometrically deeper offsets; the last sits near
      // the end of the corpus
      val depths = Seq(1L, 10L, 50L, 200L, (total / pageSize) - 2)
      depths.foreach { page =>
        val offset = (page - 1) * pageSize
        // boundary row for the cursor — setup cost, not part of either
        // measurement (a real client got it from the previous page);
        // page 1 has no predecessor, so no cursor and no filter. The
        // row is isolated CLUSTER-side (global row_number window +
        // equality filter): one single-partition sort job instead of
        // collect()ing the whole offset prefix to the driver, which
        // OOMs when the soak points at a bigger scale factor.
        val cursor: Option[String] =
          if (offset == 0) None
          else {
            import org.apache.spark.sql.expressions.Window
            val order = keys.map { case (n, asc) => if (asc) col(n).asc else col(n).desc }
            val boundary = df
              .withColumn("_rn", row_number().over(Window.orderBy(order: _*)))
              .filter(col("_rn") === offset).drop("_rn")
              .collect()
            require(boundary.length == 1, s"boundary isolation returned ${boundary.length} rows")
            Some(WarehouseServer.cursorOf(boundary.head, keys))
          }
        // three trials each, report the median, cold cache per trial
        def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
        val kTimes = (1 to 3).map { _ =>
          spark.catalog.clearCache()
          val paged = cursor.fold(df)(c =>
            df.filter(WarehouseServer.afterPredicate(df, keys, c)))
          val (rows, s) = timed(paged.limit(pageSize).collect())
          require(rows.length == pageSize, s"keyset page $page short: ${rows.length}")
          s
        }
        val oTimes = (1 to 3).map { _ =>
          spark.catalog.clearCache()
          val (rows, s) = timed(df.limit((offset + pageSize).toInt).collect())
          require(rows.length == offset + pageSize, "offset read short")
          s
        }
        println(f"[pagesoak:$label] page=$page%5d offset=$offset%8d " +
          f"keyset=${median(kTimes)}%6.2f s  offset_read=${median(oTimes)}%6.2f s")
      }
    }

    // a warehouse-shaped ordered result: every lineitem row, totally
    // ordered by its natural key — the frame a client would actually
    // page through
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
    soak("asc", li.orderBy("l_orderkey", "l_linenumber"))
    soak("desc", li.orderBy(col("l_orderkey").desc, col("l_linenumber").desc))
    spark.stop()
  }
}

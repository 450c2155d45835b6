package graft.operators

import graft.{Qdef, Tables}
import graft.sources.Snapshots
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Warehouse-maintenance operators — SURVEY §2.13/§2.14.
  *
  * The reference warehouse is fed by transactional import batches over
  * an immutable store: every read is implicitly "as of version t", and
  * an import is an upsert (new visits, corrected subjects, retracted
  * rows). These operators give graft the same three capabilities:
  *
  *  - q94/q95: reproducible as-of reads over a [[Snapshots]] store
  *    (version-pinned cohort counts survive later imports);
  *  - q96: batch MERGE/upsert — one-shuffle last-writer-wins merge of
  *    an update batch into a target table, with tombstones;
  *  - q97: multi-level metadata tree navigation (study-event → form →
  *    item-group analog): subtree counts for every node of the
  *    hierarchy in ONE rollup pass, not one query per level.
  *
  * Scale: the snapshot queries scan the base in place, filtered by
  * the delta keys of a small chain resolved on the driver, or
  * anti-joined with them while only the delta rows shuffle on the
  * merge key (Snapshots.mergeChain); merge is one full-outer-shaped
  * shuffle on the key; the tree query is a single rollup aggregation
  * (map-side partial per grouping set).
  */
object Warehouse {

  /** MERGE an update batch into `target`, keyed by `keys`: an update
    * row replaces the target row with the same key, a row with
    * `_deleted = true` retracts it, and unmatched update rows insert.
    * One shuffle on `keys` (priority-union + window rank), target rows
    * included, so duplicate keys in the target also collapse to one
    * row — unlike [[Snapshots.asOf]], which leaves its base in place
    * and ranks only the delta rows.
    */
  def merge(target: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    val t = Snapshots.normDeleted(target).withColumn("_src", lit(0))
    val u = Snapshots.normDeleted(updates).withColumn("_src", lit(1))
    Snapshots.lastWriterWins(t.unionByName(u), keys, "_src")
  }

  // ---------------------------------------------------------------
  // Versioned orders store, derived deterministically from the sfDir
  // so the DuckDB oracle can re-express each version in plain SQL:
  //   v1 (full)  = orders as-is
  //   v2 (delta) = keys ≡ 3 (mod 10) amended to status 'R',
  //                keys ≡ 7 (mod 10) tombstoned
  // ---------------------------------------------------------------

  // the path HASH rides along because sanitization is lossy: without
  // it, distinct source dirs like data/sf1 and data_sf1 collapse to
  // one root and the second caller silently reuses the first's store
  private def snapshotRoot(sfDir: String, table: String = "orders"): String =
    s"target/graft-snapshots/${sfDir.replaceAll("[^A-Za-z0-9.]", "_")}" +
      s"-${Integer.toHexString(sfDir.hashCode)}/$table"

  /** ONE definition of the deterministic two-version build (v1 full,
    * v2 delta amending keys ≡ 3 and tombstoning keys ≡ 7) — shared by
    * the main entry store and the excised variant, so the two can
    * never drift on the recipe q9i..q9m's oracles re-derive in SQL.
    */
  private def buildTwoVersions(s: SparkSession, d: String, root: String): Unit = {
    val orders = Tables.orders(s, d)
    Snapshots.commit(orders, root, statsCols = Seq("o_orderkey"),
      meta = Map("job" -> "initial-import"), bloomCols = Seq("o_orderkey"))
    Snapshots.commitDelta(
      orders
        .filter(col("o_orderkey") % 10 === 3 || col("o_orderkey") % 10 === 7)
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 10 === 3, lit("R")).otherwise(col("o_orderstatus")))
        .withColumn("_deleted", col("o_orderkey") % 10 === 7),
      root, statsCols = Seq("o_orderkey"), meta = Map("job" -> "correction-batch"),
      bloomCols = Seq("o_orderkey"))
    ()
  }

  /** Stamp-gated idempotent (re)build: wipes and redoes `root` unless
    * it already holds two versions AND the `_source.sig` stamp equals
    * `want` (source listing signature + a store-format marker — see
    * the callers). `extra` runs after the two commits, INSIDE the
    * build (the stamp lands last, so a crash anywhere redoes it all).
    */
  private def ensureDerived(
      s: SparkSession, d: String, root: String, marker: String)(
      extra: => Unit): String =
    ensureDerivedWith(s, d, root, marker) { buildTwoVersions(s, d, root); extra }

  /** The stamp-gate of [[ensureDerived]] with the RECIPE a parameter —
    * for derived stores whose build is not the shared two-version one
    * (the evolved-schema store). Same contract: `build` runs inside
    * the gate, the stamp lands last, any mismatch wipes and redoes.
    */
  private def ensureDerivedWith(
      s: SparkSession, d: String, root: String, marker: String)(
      build: => Unit): String = {
    val sig = graft.sources.Sources.listingSignature(s, s"$d/orders.parquet")
    val f = new Path(root).getFileSystem(s.sparkContext.hadoopConfiguration)
    val sigPath = new Path(root, "_source.sig")
    val stampedSig = Option.when(f.exists(sigPath))(Snapshots.readText(f, sigPath).trim)
    val want = s"$sig|$marker"
    if (Snapshots.latestVersion(s, root) != 2L || !stampedSig.contains(want)) {
      val p = new Path(root)
      if (f.exists(p)) f.delete(p, true)
      build
      // stamp LAST: a crash mid-build leaves no sidecar and the next
      // call rebuilds (the sidecar is reuse evidence, not a manifest)
      val out = f.create(sigPath, true)
      try out.write(want.getBytes("UTF-8")) finally out.close()
    }
    root
  }

  /** Build (or reuse) the two-version store for `sfDir`. Idempotent:
    * a partial build from a killed run is wiped and redone — and so is
    * a store built from DIFFERENT source data: the build stamps the
    * source table's listing signature in a sidecar, and a reuse whose
    * stamp no longer matches (the test corpus regenerates between
    * rounds; production tables get overwritten) rebuilds instead of
    * silently serving aggregates of data that no longer exists.
    */
  // marker "k2": r15 added key zone maps + provenance meta ("k1"),
  // then key BLOOM sidecars for the point-lookup row — each bump
  // forces exactly one rebuild of a store stamped under the old recipe
  private def ensureStore(s: SparkSession, d: String): String = synchronized {
    ensureDerived(s, d, snapshotRoot(d), "k2")(())
  }

  // ---------------------------------------------------------------
  // A SECOND derived store for the excision queries: same two
  // versions as the main store, then a deterministic takedown of the
  // keys ≡ 5 (mod 10) — so q9l/q9m can oracle-check post-excision
  // reads without mutating the store every other q9x entry shares.
  // ---------------------------------------------------------------
  // marker "x2" (follows the k-marker recipe bumps); the stamp lands
  // only AFTER the excision, so a crash anywhere in build-then-excise
  // wipes and redoes the whole thing
  private def ensureExcisedStore(s: SparkSession, d: String): String = synchronized {
    val root = snapshotRoot(d, "orders-excised")
    ensureDerived(s, d, root, "x2") {
      Snapshots.excise(s, root, col("o_orderkey") % 10 === 5,
        meta = Map("ticket" -> "TAKEDOWN-5"))
      ()
    }
  }

  // ---------------------------------------------------------------
  // A THIRD derived store for the schema-evolution read (q9p): the
  // producer's first import predates a column, a later batch adds it
  // with evolveSchema = true — the q9f surface, oracle-checkable
  // because the recipe is deterministic from the source table.
  //   v1 (full)  = orders projected to the narrow legacy schema
  //   v2 (delta) = keys ≡ 2 (mod 10) re-submitted WITH o_channel='web'
  // ---------------------------------------------------------------
  // marker "e1"; the evolving delta is INSIDE the gated build, so a
  // crash between the commits wipes and redoes both
  private def ensureEvolvedStore(s: SparkSession, d: String): String = synchronized {
    val root = snapshotRoot(d, "orders-evolved")
    ensureDerivedWith(s, d, root, "e1") {
      val narrow = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      Snapshots.commit(narrow, root, statsCols = Seq("o_orderkey"),
        meta = Map("job" -> "legacy-import"))
      Snapshots.commitDelta(
        narrow.filter(col("o_orderkey") % 10 === 2)
          .withColumn("o_channel", lit("web")),
        root, evolveSchema = true, statsCols = Seq("o_orderkey"),
        meta = Map("job" -> "evolved-import"))
      ()
    }
  }

  /** Pre-build the versioned stores (idempotent) — called from Bench's
    * untimed warm-up so q94/q95/q9l time the READ, not the one-time
    * store construction (which is input data, like the parquet tables).
    */
  def warm(s: SparkSession, d: String): Unit = {
    ensureStore(s, d); ensureExcisedStore(s, d); ensureEvolvedStore(s, d); ()
  }

  /** Root of the deterministic two-version store (building it if
    * needed) — shared with the as-of cohort query in [[Cohort]].
    */
  private[operators] def store(s: SparkSession, d: String): String = ensureStore(s, d)

  private def statusAgg(df: DataFrame): DataFrame =
    df.groupBy(col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n_orders"), Tables.dsum(col("o_totalprice")).as("sum_price"))
      .select(col("status"), col("n_orders"), col("sum_price"))
      .orderBy("status")

  /** q94: as-of read pinned to v1 — reproducible even though v2 has
    * since amended and deleted rows. Oracle = the raw table: that IS
    * the reproducibility claim.
    */
  private val q94 = Qdef(
    "q94_snapshot_asof",
    (s, d) => statusAgg(Snapshots.asOf(s, ensureStore(s, d), 1L, Seq("o_orderkey"))),
    Some(s"""SELECT o_orderstatus AS status, count(*) AS n_orders,
                    ${Qdef.DSUM("o_totalprice")} AS sum_price
             FROM orders GROUP BY 1 ORDER BY 1"""))

  /** q95: read of the latest version — base + delta merged
    * last-writer-wins, tombstones dropped.
    */
  private val q95 = Qdef(
    "q95_snapshot_latest",
    (s, d) => statusAgg(Snapshots.latest(s, ensureStore(s, d), Seq("o_orderkey"))),
    Some(s"""SELECT CASE WHEN o_orderkey % 10 = 3 THEN 'R' ELSE o_orderstatus END AS status,
                    count(*) AS n_orders, ${Qdef.DSUM("o_totalprice")} AS sum_price
             FROM orders WHERE o_orderkey % 10 <> 7 GROUP BY 1 ORDER BY 1"""))

  /** q96: batch MERGE of a correction batch into orders — keys ≡ 0
    * (mod 5) re-priced +1000, of those the keys ≡ 0 (mod 17) retracted.
    */
  private val q96 = Qdef(
    "q96_merge_upsert",
    (s, d) => {
      val orders = Tables.orders(s, d)
      val updates = orders
        .filter(col("o_orderkey") % 5 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
        .withColumn("_deleted", col("o_orderkey") % 17 === 0)
      statusAgg(merge(orders, updates, Seq("o_orderkey")))
    },
    Some(s"""SELECT o_orderstatus AS status, count(*) AS n_orders,
                    ${Qdef.DSUM("CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1000.0 ELSE o_totalprice END")} AS sum_price
             FROM orders
             WHERE NOT (o_orderkey % 5 = 0 AND o_orderkey % 17 = 0)
             GROUP BY 1 ORDER BY 1"""))

  /** q97: metadata tree navigation — subtree item counts and price
    * totals for EVERY node (root, each brand, each brand/type) of the
    * metadata hierarchy matching a search, in one rollup pass.
    */
  /** The metadata-tree rollup over ANY part-shaped frame — q97 runs
    * it over the live parquet table, and the "metadata is an imported
    * table" equivalence (the reference's transactional metadata-write
    * surface) runs it over a snapshot store's merged view: creating /
    * amending / retracting metadata nodes is a [[Snapshots]] commit
    * like any import, and every tree read reflects the store's tip
    * (or any pinned as-of version). Spec-proven in SnapshotsSpec.
    */
  def metadataTree(parts: DataFrame, nameFilter: String = "widget"): DataFrame = {
    // grouping() is only defined inside the rollup's aggregate list
    val lvl = (lit(2) - grouping(col("p_brand")).cast("int")
      - grouping(col("p_type")).cast("int")).cast("int")
    parts
      .filter(col("p_name").contains(nameFilter))
      .rollup(col("p_brand"), col("p_type"))
      .agg(count(lit(1)).as("n_items"), Tables.dsum(col("p_retailprice")).as("sum_price"),
        lvl.as("level"))
      .withColumn("path",
        when(col("level") === 0, lit("(root)"))
          .when(col("level") === 1, col("p_brand"))
          .otherwise(concat_ws("/", col("p_brand"), col("p_type"))))
      .select(col("level"), col("path"), col("n_items"), col("sum_price"))
      .orderBy("level", "path")
  }

  private val q97 = Qdef(
    "q97_metadata_tree",
    (s, d) => metadataTree(Tables.part(s, d)),
    Some(s"""SELECT CAST(2 - GROUPING(p_brand) - GROUPING(p_type) AS INT) AS level,
                    CASE WHEN GROUPING(p_brand) = 1 THEN '(root)'
                         WHEN GROUPING(p_type) = 1 THEN p_brand
                         ELSE p_brand || '/' || p_type END AS path,
                    count(*) AS n_items, ${Qdef.DSUM("p_retailprice")} AS sum_price
             FROM part WHERE p_name LIKE '%widget%'
             GROUP BY ROLLUP(p_brand, p_type)
             ORDER BY 1, 2"""))

  /** q98: CDC changes feed between store versions — one row per key
    * the v2 import touched, tagged insert/update/delete ("what did
    * this import batch do?", the reference's history-query shape).
    * Source statuses are {P,O,F}, so every amended key is a real
    * update (no no-op-amend rows to exclude).
    */
  private val q98 = Qdef(
    "q98_snapshot_changes",
    (s, d) =>
      Snapshots.changes(s, ensureStore(s, d), 1L, 2L, Seq("o_orderkey"))
        .orderBy("o_orderkey"),
    Some("""SELECT o_orderkey, o_custkey,
                   CASE WHEN o_orderkey % 10 = 3 THEN 'R' ELSE o_orderstatus END AS o_orderstatus,
                   o_totalprice, o_orderdate, o_orderpriority,
                   CASE WHEN o_orderkey % 10 = 7 THEN 'delete' ELSE 'update' END AS _change
            FROM orders
            WHERE o_orderkey % 10 IN (3, 7)
            ORDER BY o_orderkey"""))

  /** Signed partial-aggregate contribution of `df`: one row per group
    * with count and decimal-sum partials (decimal stays decimal until
    * presentation, so maintained results are bit-identical to full
    * recomputes regardless of how many batches were folded in).
    */
  def aggState(df: DataFrame, groupCol: String, valCol: String, sign: Int = 1): DataFrame =
    df.groupBy(col(groupCol).as("_g"))
      .agg((count(lit(1)) * sign).as("_n"),
        (sum(col(valCol).cast("decimal(28,2)")) * sign).as("_p"))

  /** Apply ONE import batch to a maintained aggregate state WITHOUT
    * re-aggregating the base table: state minus the contributions of
    * the touched keys' before-images (rows of `prevTable` the batch
    * replaces or retracts) plus the contributions of the batch's
    * surviving rows. `prevTable` is the table as of the previous
    * version — in production the already-stored snapshot, so every
    * input here is batch-sized except the one semi-join scan for
    * before-images (which broadcasts the batch keys). Assumes ≤1 row
    * per key per batch (the store's documented contract).
    */
  def applyBatchToAgg(state: DataFrame, prevTable: DataFrame, batch: DataFrame,
      keys: Seq[String], groupCol: String, valCol: String): DataFrame = {
    val b = Snapshots.normDeleted(batch)
    val before = prevTable.join(b.select(keys.map(col): _*), keys, "left_semi")
    val after = b.filter(!col("_deleted"))
    state
      .unionByName(aggState(before, groupCol, valCol, -1))
      .unionByName(aggState(after, groupCol, valCol, 1))
      .groupBy("_g")
      .agg(sum("_n").as("_n"), sum("_p").as("_p"))
  }

  /** Present a maintained state: drop emptied groups, cast partials. */
  def presentAgg(state: DataFrame, groupName: String, nName: String, sumName: String): DataFrame =
    state.filter(col("_n") > 0)
      .select(col("_g").as(groupName), col("_n").as(nName),
        col("_p").cast("double").as(sumName))
      .orderBy(groupName)

  /** Present a maintained state THROUGH a dimension join: the state's
    * group key `_g` is a foreign key into `dim` (joined on `dimKey`),
    * and the answer re-groups by `groupExpr` — a dim attribute —
    * summing the partials (exact: counts are longs, sums stay decimal
    * until the final cast, so folding custkey partials up to nation
    * grain is bit-identical to aggregating the joined fact directly).
    *
    * This is the join-view side of incremental view maintenance done
    * so the classic trap never arises: state keyed by a DIM ATTRIBUTE
    * (nation name) goes stale the moment the dimension changes and
    * repairing it costs a fact-side rescan; state keyed at the fact's
    * JOIN-KEY granularity (custkey) never does — a dim amendment is
    * picked up by the next present, at dim-join cost, with ZERO state
    * maintenance (spec-pinned in PipelineOpsSpec). Scale: the state is
    * group-cardinality-sized (≤ one row per live fact join key — far
    * smaller than the fact), so this join is state×dim, never
    * fact×dim; AQE broadcasts whichever side is small.
    */
  def presentAggVia(state: DataFrame, dim: DataFrame, dimKey: String,
      groupExpr: org.apache.spark.sql.Column, groupName: String,
      nName: String, sumName: String): DataFrame =
    state.filter(col("_n") > 0)
      .join(dim, col("_g") === col(dimKey))
      .groupBy(groupExpr.as(groupName))
      .agg(sum("_n").as(nName), sum("_p").cast("double").as(sumName))
      .orderBy(groupName)

  /** q99: incremental aggregate maintenance — the v2 state of the
    * status aggregate computed WITHOUT re-aggregating the base:
    * base aggregate (in production: the already-materialized one)
    * plus signed delta contributions via [[applyBatchToAgg]]. The
    * result is bit-identical to the full recompute — the oracle IS
    * q95's full recompute. st07 folds the same function over a
    * STREAMED delta chain.
    *
    * Scale: the base is never shuffled — one (reusable) aggregate
    * scan plus one semi-join scan for before-images of the
    * delta-touched keys (delta batches are small, so that join
    * broadcasts); everything else is delta-sized. This is the pattern
    * that turns a 100 TB re-aggregation into an import-batch-sized
    * update.
    */
  private val q99 = Qdef(
    "q99_incremental_agg",
    (s, d) => {
      val root = ensureStore(s, d)
      val base = Snapshots.read(s, root, 1L)
      val delta = Snapshots.read(s, root, 2L)
      presentAgg(
        applyBatchToAgg(aggState(base, "o_orderstatus", "o_totalprice"),
          base, delta, Seq("o_orderkey"), "o_orderstatus", "o_totalprice"),
        "status", "n_orders", "sum_price")
    },
    // identical to q95's oracle: incremental maintenance must land on
    // exactly the full-recompute answer
    Some(s"""SELECT CASE WHEN o_orderkey % 10 = 3 THEN 'R' ELSE o_orderstatus END AS status,
                    count(*) AS n_orders, ${Qdef.DSUM("o_totalprice")} AS sum_price
             FROM orders WHERE o_orderkey % 10 <> 7 GROUP BY 1 ORDER BY 1"""))

  /** Import-batch data-quality validation — the checks a warehouse
    * runs before committing an import (the reference's transactional
    * ETL implies them; Deequ-style constraint checking is the public
    * Spark shape): null keys, duplicate primary keys, out-of-range
    * values, and referential orphans against a dimension.
    *
    * Scale shape: all column checks ride ONE aggregate pass over the
    * fact (conditional partial aggs — one scan, one 1-row result);
    * the referential check is a broadcast anti join against the key
    * set (dims broadcast; for a fact-fact integrity check the same
    * code plans as a shuffled anti join). Output is tall
    * (check, n) so adding checks never changes the schema.
    */
  def qualityChecks(orders: org.apache.spark.sql.DataFrame,
      customer: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // coalesce: sum() over an EMPTY import batch is NULL, but a clean
    // empty batch must report 0 violations (the oracle's COUNT FILTER
    // does; a caller's `n === 0` assertion would see NULL otherwise)
    val profile = orders.agg(
      count(lit(1)).as("rows"),
      coalesce(sum(when(col("o_custkey").isNull, 1L).otherwise(0L)), lit(0L)).as("null_custkey"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("dup_orderkey"),
      coalesce(sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)), lit(0L)).as("nonpositive_price"),
      coalesce(sum(when(col("o_orderdate") < to_timestamp(lit("1995-01-01 00:00:00")) ||
        col("o_orderdate") >= to_timestamp(lit("2001-01-01 00:00:00")), 1L)
        .otherwise(0L)), lit(0L)).as("date_out_of_range"))
      .selectExpr("""stack(5,
          'rows', rows,
          'null_custkey', null_custkey,
          'dup_orderkey', dup_orderkey,
          'nonpositive_price', nonpositive_price,
          'date_out_of_range', date_out_of_range) AS (chk, n)""")
    val orphans = orders
      .join(broadcast(customer.select("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("n"))
      .select(lit("orphan_custkey").as("chk"), col("n"))
    profile.unionByName(orphans).orderBy("chk")
  }

  private val q9a = Qdef(
    "q9a_quality_checks",
    (s, d) => qualityChecks(Tables.orders(s, d), Tables.customer(s, d)),
    Some("""SELECT 'rows' AS chk, COUNT(*) AS n FROM orders
            UNION ALL SELECT 'null_custkey', COUNT(*) FILTER (WHERE o_custkey IS NULL) FROM orders
            UNION ALL SELECT 'dup_orderkey', COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders
            UNION ALL SELECT 'nonpositive_price', COUNT(*) FILTER (WHERE o_totalprice <= 0) FROM orders
            UNION ALL SELECT 'date_out_of_range', COUNT(*) FILTER (WHERE o_orderdate < TIMESTAMP '1995-01-01 00:00:00' OR o_orderdate >= TIMESTAMP '2001-01-01 00:00:00') FROM orders
            UNION ALL SELECT 'orphan_custkey', COUNT(*) FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL
            ORDER BY chk"""))

  /** Per-column table profile — the "what is in this table" census a
    * warehouse exposes next to its metadata tree: row count, null
    * count and distinct count per column, one row per column. ONE
    * scan: all counts aggregate in a single pass (the multi-distinct
    * plans as one Expand aggregate), reshaped to rows by a driver-free
    * `stack`. `exact = false` swaps countDistinct for
    * approx_count_distinct — at 100 TB the Expand multiplies the scan
    * by the column count, and the production census wants the one-pass
    * HLL sketch (the q90 convention); the oracle-checked entry pins
    * the exact form as the yardstick.
    */
  def profile(df: DataFrame, cols: Seq[String], exact: Boolean = true): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    cols.foreach(c => require(df.columns.contains(c), s"profile: unknown column '$c'"))
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap(c => Seq(
      count(col(c)).as(s"np_$c"),
      (if (exact) countDistinct(col(c))
       else approx_count_distinct(col(c), 0.01)).as(s"nd_$c"))) // 1% rsd, the q90 setting
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map(c => s"'$c', n_rows, n_rows - np_$c, nd_$c").mkString(", ")
    one.selectExpr(
      s"stack(${cols.size}, $stacked) as (col_name, n_rows, n_nulls, n_distinct)")
      .orderBy("col_name")
  }

  private val OrdersCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")

  private val q9h = Qdef(
    "q9h_data_profile",
    (s, d) => profile(Tables.orders(s, d), OrdersCols),
    Some {
      val branches = OrdersCols.sorted.map { c =>
        s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
            COUNT(*) - COUNT($c) AS n_nulls,
            COUNT(DISTINCT $c) AS n_distinct FROM orders"""
      }.mkString(" UNION ALL ")
      s"$branches ORDER BY col_name"
    })

  /** q9i: per-entity history over the versioned store — every key's
    * full (version, op, row) change feed from [[Snapshots.history]].
    * The oracle re-derives the deterministic two-version store's
    * timeline in plain SQL: v1 inserts every order, v2 updates the
    * keys ≡ 3 (mod 10) to status 'R' and deletes the keys ≡ 7.
    * `commit_ts_ms` (committer wall clock) and `commit_meta` (a map)
    * are projected away — both are real but not cross-engine
    * hashable; HistorySpec pins them.
    */
  private val q9i = Qdef(
    "q9i_entity_history",
    (s, d) =>
      Snapshots.history(s, ensureStore(s, d), Seq("o_orderkey"))
        .select(col("version"), col("op"), col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
          col("o_orderpriority"))
        .orderBy("o_orderkey", "version"),
    Some("""SELECT CAST(1 AS BIGINT) AS version, 'insert' AS op, o_orderkey, o_custkey,
                   o_orderstatus, o_totalprice, o_orderdate, o_orderpriority FROM orders
            UNION ALL
            SELECT CAST(2 AS BIGINT), 'update', o_orderkey, o_custkey,
                   'R', o_totalprice, o_orderdate, o_orderpriority
            FROM orders WHERE o_orderkey % 10 = 3
            UNION ALL
            SELECT CAST(2 AS BIGINT), 'delete', o_orderkey, o_custkey,
                   o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
            FROM orders WHERE o_orderkey % 10 = 7
            ORDER BY o_orderkey, version"""))

  /** q9j: speculative import (`db.with`) — the status aggregate of the
    * store AS IF a what-if batch (keys ≡ 1 mod 10 re-priced +500, keys
    * ≡ 9 retracted) were the next delta, with nothing written. The
    * oracle applies v2 (≡3 → 'R', drop ≡7) and the staged batch in one
    * expression; SnapshotsSpec separately proves the manifest is
    * untouched.
    */
  private val q9j = Qdef(
    "q9j_speculative_import",
    (s, d) => {
      val root = ensureStore(s, d)
      val orders = Tables.orders(s, d)
      val batch = orders
        .filter(col("o_orderkey") % 10 === 1 || col("o_orderkey") % 10 === 9)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 10 === 1, col("o_totalprice") + lit(500.0))
            .otherwise(col("o_totalprice")))
        .withColumn("_deleted", col("o_orderkey") % 10 === 9)
      statusAgg(Snapshots.withBatch(s, root, batch, Seq("o_orderkey")))
    },
    Some(s"""SELECT CASE WHEN o_orderkey % 10 = 3 THEN 'R' ELSE o_orderstatus END AS status,
                    count(*) AS n_orders,
                    ${Qdef.DSUM("CASE WHEN o_orderkey % 10 = 1 THEN o_totalprice + 500.0 ELSE o_totalprice END")} AS sum_price
             FROM orders WHERE o_orderkey % 10 NOT IN (7, 9)
             GROUP BY 1 ORDER BY 1"""))

  /** q9k: zone-map-pruned MERGE-range read — the latest merged state
    * restricted to a merge-key range, opening only segments whose key
    * stats intersect (both of this store's segments span the range, so
    * the correctness claim here is the merge-under-range semantics;
    * SnapshotsSpec proves the pruning skips disjoint segments
    * unopened). Oracle = v2 semantics filtered to the range.
    */
  private val q9k = Qdef(
    "q9k_merge_zone_maps",
    (s, d) =>
      Snapshots.readMergeWhere(s, ensureStore(s, d), Seq("o_orderkey"),
          "o_orderkey", 1000L, 5000L)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
        .orderBy("o_orderkey"),
    Some("""SELECT o_orderkey, o_custkey,
                   CASE WHEN o_orderkey % 10 = 3 THEN 'R' ELSE o_orderstatus END AS o_orderstatus,
                   o_totalprice, o_orderdate, o_orderpriority
            FROM orders
            WHERE o_orderkey % 10 <> 7 AND o_orderkey BETWEEN 1000 AND 5000
            ORDER BY o_orderkey"""))

  /** q9l: the post-excision timeline — after the deterministic
    * TAKEDOWN-5 excision, history at EVERY version shows nothing for
    * the excised keys and everything else byte-for-byte. Oracle =
    * q9i's three-branch union with the excised residue filtered out
    * of the base version (the delta's keys ≡ 3/7 are disjoint from
    * ≡ 5, so the takedown touches only v1 rows).
    */
  private val q9l = Qdef(
    "q9l_entity_excision",
    (s, d) =>
      Snapshots.history(s, ensureExcisedStore(s, d), Seq("o_orderkey"))
        .select(col("version"), col("op"), col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
          col("o_orderpriority"))
        .orderBy("o_orderkey", "version"),
    Some("""SELECT CAST(1 AS BIGINT) AS version, 'insert' AS op, o_orderkey, o_custkey,
                   o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
            FROM orders WHERE o_orderkey % 10 <> 5
            UNION ALL
            SELECT CAST(2 AS BIGINT), 'update', o_orderkey, o_custkey,
                   'R', o_totalprice, o_orderdate, o_orderpriority
            FROM orders WHERE o_orderkey % 10 = 3
            UNION ALL
            SELECT CAST(2 AS BIGINT), 'delete', o_orderkey, o_custkey,
                   o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
            FROM orders WHERE o_orderkey % 10 = 7
            ORDER BY o_orderkey, version"""))

  /** q9m: commit provenance surfaced through the data path — each
    * history row carries its committing transaction's meta, so
    * "which import job wrote version v" aggregates straight off the
    * timeline (per (version, job): row count). try_element_at: a map
    * miss must read as null, not an ANSI error, on chains whose older
    * lines predate the meta field.
    */
  private val q9m = Qdef(
    "q9m_commit_provenance",
    (s, d) =>
      Snapshots.history(s, ensureStore(s, d), Seq("o_orderkey"))
        .select(col("version"),
          try_element_at(col("commit_meta"), lit("job")).as("job"))
        .groupBy("version", "job").agg(count(lit(1)).as("n"))
        .orderBy("version"),
    Some("""SELECT CAST(1 AS BIGINT) AS version, 'initial-import' AS job, COUNT(*) AS n
            FROM orders
            UNION ALL
            SELECT CAST(2 AS BIGINT), 'correction-batch', COUNT(*)
            FROM orders WHERE o_orderkey % 10 IN (3, 7)
            ORDER BY version"""))

  /** q9o: maintained aggregate over a JOIN — per-nation order count
    * and revenue (orders ⋈ customer ⋈ nation) kept current from import
    * batches without re-aggregating the base. The state lives at the
    * fact's join-key granularity (o_custkey): fact deltas fold in via
    * exactly q99's signed partials ([[applyBatchToAgg]] — one
    * broadcast semi-join for before-images, everything else
    * batch-sized), and the customer→nation dimensions join only at
    * PRESENT time ([[presentAggVia]]), so dimension amendments cost
    * zero state work and the maintained answer is bit-identical to
    * the full recompute the oracle runs. Scale: the 100 TB fact is
    * touched once to seed the state and once (semi-join, batch keys
    * broadcast) per import; every present is state×dim-sized.
    */
  private val q9o = Qdef(
    "q9o_maintained_join",
    (s, d) => {
      val root = ensureStore(s, d)
      val base = Snapshots.read(s, root, 1L)
      val delta = Snapshots.read(s, root, 2L)
      val state = applyBatchToAgg(
        aggState(base, "o_custkey", "o_totalprice"),
        base, delta, Seq("o_orderkey"), "o_custkey", "o_totalprice")
      presentAggVia(state,
        Tables.customer(s, d).join(Tables.nation(s, d),
          col("c_nationkey") === col("n_nationkey")),
        "c_custkey", col("n_name"), "nation", "n_orders", "sum_price")
    },
    // the full-recompute twin over the v2-semantics store: maintained
    // join-view == recompute, the same invariant q99 pins per-status
    Some(s"""SELECT n_name AS nation, count(*) AS n_orders,
                    ${Qdef.DSUM("o_totalprice")} AS sum_price
             FROM orders
             JOIN customer ON o_custkey = c_custkey
             JOIN nation ON c_nationkey = n_nationkey
             WHERE o_orderkey % 10 <> 7
             GROUP BY 1 ORDER BY 1"""))

  /** q9p: the evolved-chain merged read (q9f's surface on the hard
    * oracle gate): the latest view of a store whose first import
    * predates `o_channel` and whose evolving delta (committed with
    * `evolveSchema = true`) added it — legacy rows answer with the
    * column NULL-FILLED, re-submitted rows carry it, and the merge
    * (LWW + tombstone drop) runs in the union schema. The oracle
    * re-derives exactly that view from the raw table: ≡ 2 keys are
    * the delta's rows ('web'), everything else the legacy null.
    */
  private val q9p = Qdef(
    "q9p_evolved_read",
    (s, d) =>
      Snapshots.latest(s, ensureEvolvedStore(s, d), Seq("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_channel")
        .orderBy("o_orderkey"),
    Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                   CASE WHEN o_orderkey % 10 = 2 THEN 'web' END AS o_channel
            FROM orders ORDER BY o_orderkey"""))

  /** q9q: bloom-pruned POINT LOOKUP over the versioned store — "fetch
    * these entities now" as a merged read that opens only segments
    * whose key sidecars (zone map, then bloom) might hold a probed
    * key. The probe set crosses the store's semantics on purpose:
    * ≡ 3 keys answer with the v2 amendment ('R'), the ≡ 7 key is
    * tombstoned and must NOT appear, one key is absent from every
    * scale (the bloom-negative path), and the rest read through from
    * v1. SnapshotsSpec proves the skip itself (a poisoned segment is
    * never opened) — this row pins the merge-under-IN semantics.
    */
  private val q9q = Qdef(
    "q9q_point_lookup",
    (s, d) =>
      Snapshots.readMergeEq(s, ensureStore(s, d), Seq("o_orderkey"), "o_orderkey",
          Seq(3L, 41L, 500L, 777L, 941L, 1203L, 1388L, 999999999L))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
        .orderBy("o_orderkey"),
    Some("""SELECT o_orderkey, o_custkey,
                   CASE WHEN o_orderkey % 10 = 3 THEN 'R' ELSE o_orderstatus END AS o_orderstatus,
                   o_totalprice, o_orderdate, o_orderpriority
            FROM orders
            WHERE o_orderkey % 10 <> 7
              AND o_orderkey IN (3, 41, 500, 777, 941, 1203, 1388, 999999999)
            ORDER BY o_orderkey"""))

  val all: Seq[Qdef] =
    Seq(q94, q95, q96, q97, q98, q99, q9a, q9h, q9i, q9j, q9k, q9l, q9m, q9o, q9p, q9q)
}

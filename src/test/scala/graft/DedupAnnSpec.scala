package graft

import graft.dedup.Dedup
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import org.apache.spark.sql.functions._

/** Brute-force oracles for the rows-only [R] operators (SURVEY §5):
  * q62/q63/q65 dedup candidate generators and q71/q72 ANN, all at
  * sf0.001 where an all-pairs reference is affordable.
  */
class DedupAnnSpec extends SparkSpec {

  private def pairs(name: String): Set[(Long, Long)] =
    SparkEntry.queries(name)(spark, sf)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("q62: MinHash-LSH candidates have full recall of true jaccard>=0.8 pairs") {
    val sets = Tables.documents(spark, sf)
      .select(col("doc_id"), shingleHashes(col("text"), 3).as("sh"))
    val a = sets.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = sets.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val truth = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("j",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("j") >= 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = pairs("q62_dedup_minhash_lsh")
    assert(truth.nonEmpty, "test data has no planted near-dups")
    assert((truth -- cand).isEmpty, s"LSH missed true pairs: ${truth -- cand}")
    assert(cand.forall { case (x, y) => x < y })
  }

  test("q6h: prefix-filtered pairs EQUAL brute-force truth at two thresholds (lossless filter)") {
    // unlike q62's recall-only check, prefix filtering claims exact
    // EQUALITY with the quadratic truth — both directions, and at a
    // second threshold whose den divides shingle counts (the case an
    // inexact double ceil would get wrong by shortening the prefix)
    val sets = Tables.documents(spark, sf)
      .select(col("doc_id"), shingleHashes(col("text"), 3).as("sh"))
      .filter(col("sh").isNotNull && size(col("sh")) > 0)
    val a = sets.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = sets.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val j = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("j",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
    for ((num, den) <- Seq((7, 10), (1, 2))) {
      val truth = j.filter(col("j") >= lit(num.toDouble / den))
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = Dedup.prefixFilteredPairs(Tables.documents(spark, sf), num, den)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(truth.nonEmpty, s"no true pairs at $num/$den — vacuous")
      assert(got === truth,
        s"prefix join at $num/$den drifted: missed ${truth -- got}, extra ${got -- truth}")
    }
    // a degenerate or inverted rational is a loud refusal
    intercept[IllegalArgumentException](
      Dedup.prefixFilteredPairs(Tables.documents(spark, sf), 11, 10))
    intercept[IllegalArgumentException](
      Dedup.prefixFilteredPairs(Tables.documents(spark, sf), 0, 10))
  }

  test("q63: simhash chunk-candidate pairs = exact all-pairs hamming<=3 (pigeonhole recall)") {
    val sh = Dedup.simhash(Tables.documents(spark, sf))
    val a = sh.select(col("doc_id").as("id_a"), col("simhash").as("ha"))
    val b = sh.select(col("doc_id").as("id_b"), col("simhash").as("hb"))
    val truth = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("hamming", expr("bit_count(ha ^ hb)"))
      .filter(col("hamming") <= 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty,
      "no pairs at hamming<=3 — the pigeonhole-recall lock would be empty==empty")
    assert(pairs("q63_dedup_simhash") === truth)
  }

  test("graft_md5lo64 matches DuckDB md5_number_lower on pinned vectors (q63 oracle hinges on it)") {
    // vectors generated from duckdb 1.0.0: md5_number_lower = digest
    // bytes 8..15 little-endian; the UBIGINT bit pattern viewed as a
    // signed long. Includes multi-byte UTF-8 — the test corpora are
    // ASCII, so only these literals lock the encoding path.
    val expected = Map(
      "abc" -> 8250560606382298838L,
      "" -> 9098107892288553193L,
      "the" -> 6287873238205204795L,
      "naïve—token" -> 5096099924855903951L,
      "日本語" -> -1428991987632034569L)
    expected.foreach { case (s, want) =>
      assert(functions.TextExprHelpers.md5Lo64(
        org.apache.spark.unsafe.types.UTF8String.fromString(s)) === want,
        s"md5Lo64 drifted from DuckDB md5_number_lower for '$s'")
    }
    // and through the registered expression (codegen path)
    functions.VectorExpressions.register(spark)
    val spark0 = spark
    import spark0.implicits._
    // compare as input->hash PAIRS: an unpaired Set would accept any
    // permutation of the outputs across inputs
    val got = expected.keys.toSeq.toDF("s")
      .select(col("s"), call_function("graft_md5lo64", col("s")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === expected)
  }

  test("q65: embedding near-dup pairs are precise; 1-bit multiprobe recall measured") {
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("nrm"))
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("ea"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("eb"), col("nrm").as("nb"))
    val truth = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("cos", cosine(col("ea"), col("eb"), col("na"), col("nb")))
      .filter(col("cos") >= 0.4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pairs("q65_dedup_embedding")
    assert((got -- truth).isEmpty, "false positives: returned pair below threshold")
    assert(truth.nonEmpty)
    val recall = (truth & got).size.toDouble / truth.size
    assert(recall >= 0.8, s"recall $recall below 0.8 (truth=${truth.size}, got=${got.size})")

    // symmetric 1-bit multiprobe: candidates are a superset, the
    // cosine verify keeps precision exact, recall can only rise
    val probed = Dedup.embeddingNearDups(Tables.embeddings(spark, sf), probe1 = true)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((probed -- truth).isEmpty, "multiprobe introduced a false positive")
    assert(got.subsetOf(probed), "multiprobe lost a plain-bucket pair")
    val probedRecall = (truth & probed).size.toDouble / truth.size
    info(f"q65 recall: plain=$recall%.3f probe1=$probedRecall%.3f")
    assert(probedRecall >= recall)
  }

  private def neighborSets(name: String): Map[Long, Set[Long]] =
    SparkEntry.queries(name)(spark, sf)
      .select("qid", "nid").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap

  test("q71/q72: ANN recall@5 vs brute force") {
    val brute = neighborSets("q70_knn_brute")
    for ((name, floor) <- Seq("q71_knn_lsh" -> 0.6, "q72_knn_ivf" -> 0.6)) {
      val approx = neighborSets(name)
      assert(approx.keySet === brute.keySet, s"$name lost whole queries")
      // (toSeq: Set.map would dedup equal per-query recall values)
      val recall = brute.keys.toSeq.map(q => (brute(q) & approx(q)).size.toDouble / brute(q).size).sum / brute.size
      info(f"$name recall@5 = $recall%.3f")
      assert(recall >= floor, f"$name recall@5 $recall%.3f below $floor")
    }
  }

  test("q71: 1-bit multiprobe lifts recall@5 with query-side-only fan-out") {
    val emb = Tables.embeddings(spark, sf)
    def sets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("qid", "nid").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val brute = neighborSets("q70_knn_brute")
    def recall(m: Map[Long, Set[Long]]): Double = brute.keys.toSeq
      .map(q => (brute(q) & m.getOrElse(q, Set.empty)).size.toDouble / brute(q).size)
      .sum / brute.size
    val plain = recall(sets(graft.ann.Knn.lshTopK(emb)))
    val probed = recall(sets(graft.ann.Knn.lshTopK(emb, probe1 = true)))
    info(f"q71 recall@5: plain=$plain%.3f multiprobe=$probed%.3f")
    // multiprobe's candidate set is a strict superset (it adds probe
    // buckets, removes none), so recall can only rise
    assert(probed >= plain, f"multiprobe lowered recall: $probed%.3f < $plain%.3f")
    assert(probed >= 0.6)
  }

  test("q65: planesFor tracks corpus size (soak-calibrated bucket geometry)") {
    // calibrated against the round-4 soak: 4 planes at gate scale,
    // 8 at the 20k-vector fan-out where 4 went quadratic
    assert(Dedup.planesFor(2000) === 4)
    assert(Dedup.planesFor(20000) === 8)
    // monotone, and mean bucket n/2^planes stays <= target for large n
    val sizes = Seq(1000L, 10000L, 100000L, 1000000L, 100000000L)
    val planes = sizes.map(Dedup.planesFor(_))
    assert(planes === planes.sorted)
    sizes.zip(planes).filter(_._1 >= 1000).foreach { case (n, p) =>
      assert(n.toDouble / math.pow(2, p) <= 128.0, s"n=$n planes=$p mean bucket too big")
    }
  }

  test("q74: bucketed default stage-1 recall@5 vs the brute gate form") {
    val emb = Tables.embeddings(spark, sf)
    def sets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("qid", "nid").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val brute = sets(graft.ann.Knn.quantizedTopK(emb, bruteStage1 = true))
    val bucketed = sets(graft.ann.Knn.quantizedTopK(emb))
    // contract: a bucket-isolated query may be absent entirely (doc'd
    // on quantizedTopK) — so assert containment, not equality, and
    // score missing queries as zero recall rather than erroring
    assert(bucketed.keySet.subsetOf(brute.keySet), "bucketed invented query ids")
    val recall = brute.keys.toSeq
      .map(q => (brute(q) & bucketed.getOrElse(q, Set.empty)).size.toDouble / brute(q).size)
      .sum / brute.size
    info(f"q74 bucketed stage-1 recall@5 = $recall%.3f")
    assert(recall >= 0.6, f"bucketed stage-1 recall $recall%.3f below 0.6")
  }

  test("q66: cluster resolution equals brute-force union-find; corpus keeps one per cluster") {
    val pairsDf = SparkEntry.queries("q64_dedup_ngram_jaccard")(spark, sf).select("id_a", "id_b")
    val pairs = pairsDf.collect().map(r => (r.getLong(0), r.getLong(1)))
    // brute-force union-find on the driver
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(k => k -> find(k)).toMap
    val got = graft.dedup.Dedup.nearDupClusters(pairsDf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)

    val docs = Tables.documents(spark, sf)
    val kept = graft.dedup.Dedup.dedupedCorpus(docs, pairsDf)
    val losers = expected.count { case (id, root) => id != root }
    assert(kept.count() === docs.count() - losers)
    // every cluster still has exactly its canonical member present
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    expected.values.toSet.foreach((root: Long) => assert(keptIds.contains(root)))
  }

  test("q6b: index-backed ingest verdicts equal the direct incremental pipeline") {
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 7 =!= 3 && col("doc_id") % 7 =!= 5)
    val b1 = docs.filter(col("doc_id") % 7 === 3)
    val b2 = docs.filter(col("doc_id") % 7 === 5)
    val root = tmpDir("bandindex-sem") + "/idx"
    Dedup.commitBandIndex(corpus, root)

    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Option[Long], Long, Boolean)] =
      df.collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getLong(2), r.getBoolean(3))).toSet

    // first ingest: stored-index verdicts == recompute-everything verdicts
    val v1 = Dedup.ingestAndCommit(b1, corpus, root)
    assert(rows(v1) === rows(Dedup.incrementalNearDups(b1, corpus)))

    // second ingest sees corpus ∪ batch-1 keepers THROUGH THE STORE:
    // the delta segment committed above must stand in for re-banding
    val keepers1 = b1.join(v1.filter(col("keep")).select("doc_id"), Seq("doc_id"), "left_semi")
    val corpus2 = corpus.unionByName(keepers1)
    val v2 = Dedup.ingestAgainstIndex(b2, corpus2, root)
    assert(rows(v2) === rows(Dedup.incrementalNearDups(b2, corpus2)))
    assert(v2.count() === b2.count(), "one verdict row per batch-2 doc")
  }

  test("takedown composition: excising a doc from the band index leaves it ingest-consistent with a rebuild") {
    import graft.sources.Snapshots
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 7 =!= 3)
    val batch = docs.filter(col("doc_id") % 7 === 3)
    val root = tmpDir("bandindex-excise") + "/idx"
    Dedup.commitBandIndex(corpus, root)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Option[Long], Long, Boolean)] =
      df.collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getLong(2), r.getBoolean(3))).toSet
    // the takedown target: a corpus doc some batch doc actually dups
    // onto if one exists (the strongest case — its absence must flip
    // that verdict), else any indexed doc
    val v0 = Dedup.ingestAgainstIndex(batch, corpus, root)
    val target = v0.filter(col("dup_of").isNotNull).select("dup_of").collect()
      .headOption.map(_.getLong(0))
      .getOrElse(corpus.select("doc_id").head().getLong(0))
    // GDPR composition: the corpus store AND every derived store are
    // Snapshots stores, so one excise call each removes the payload
    // and its DERIVED fingerprints (band keys leak membership too)
    Snapshots.excise(spark, root, col("doc_id") === target)
    assert(Snapshots.readAppendOnly(spark, root).filter(col("doc_id") === target).count() === 0L,
      "derived band keys for the excised doc survived the takedown")
    // the excised index serves ingest EXACTLY like an index rebuilt
    // over the post-takedown corpus — no dangling candidates, no
    // missing ones
    val corpus2 = corpus.filter(col("doc_id") =!= target)
    val rebuilt = tmpDir("bandindex-excise") + "/rebuilt"
    Dedup.commitBandIndex(corpus2, rebuilt)
    assert(rows(Dedup.ingestAgainstIndex(batch, corpus2, root))
      === rows(Dedup.ingestAgainstIndex(batch, corpus2, rebuilt)))
  }

  test("takedown composition: excising a vector from the vec index keeps the (snapshot, geometry) pairing valid") {
    import graft.sources.Snapshots
    val emb = Tables.embeddings(spark, sf)
    val isInc = col("vec_id") % 7 === 3
    val (batch, corpus) = (emb.filter(isInc), emb.filter(!isInc))
    val root = tmpDir("vecindex-excise") + "/idx"
    Dedup.commitVecIndex(corpus, root, probe1 = true)
    val target = corpus.select("vec_id").head().getLong(0)
    // excise rewrites the snapshot's path on its manifest line and
    // keeps the line's meta, so the pinned geometry stays with it
    Snapshots.excise(spark, root, col("vec_id") === target)
    val corpus2 = corpus.filter(col("vec_id") =!= target)
    val verdicts = Dedup.ingestAgainstVecIndex(batch, corpus2, root)
    assert(verdicts.count() === batch.count(), "one verdict per batch vector")
    // and the index holds no banded rows for the excised vector
    assert(Snapshots.readAppendOnly(spark, root)
      .filter(col("vec_id") === target).count() === 0L)
  }

  test("q6c: bucketed incremental vec dedup vs the brute gate (recall; multiprobe monotone)") {
    val emb = Tables.embeddings(spark, sf)
    val isInc = col("vec_id") % 7 === 3
    val (b, c) = (emb.filter(isInc), emb.filter(!isInc))
    def verdicts(df: org.apache.spark.sql.DataFrame): Map[Long, Boolean] =
      df.collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    val brute = verdicts(Dedup.incrementalVecDups(b, c, brute = true))
    val plain = verdicts(Dedup.incrementalVecDups(b, c))
    val probed = verdicts(Dedup.incrementalVecDups(b, c, probe1 = true))
    assert(plain.keySet === brute.keySet, "one verdict row per batch vector")
    // no false drops: a bucketed drop is always confirmed by exact
    // cosine, so everything dropped by LSH is dropped by brute too
    assert(plain.forall { case (id, keep) => keep || !brute(id) })
    assert(probed.forall { case (id, keep) => keep || !brute(id) })
    val dropsB = brute.count(!_._2)
    val dropsP = plain.count(!_._2)
    val dropsM = probed.count(!_._2)
    info(s"q6c drops: brute=$dropsB bucketed=$dropsP multiprobe=$dropsM of ${brute.size}")
    assert(dropsB > 0, "gate corpus has no vector dups - recall check is vacuous")
    assert(dropsM >= dropsP, "multiprobe lost candidates")
    assert(dropsP.toDouble / dropsB >= 0.6, s"bucketed recall $dropsP/$dropsB below 0.6")
  }

  test("q6b: compactBandIndex folds the delta chain; ingest verdicts unchanged") {
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 7 =!= 3 && col("doc_id") % 7 =!= 5)
    val b1 = docs.filter(col("doc_id") % 7 === 3)
    val b2 = docs.filter(col("doc_id") % 7 === 5)
    val root = tmpDir("bandindex-compact") + "/idx"
    Dedup.commitBandIndex(corpus, root)
    val v1 = Dedup.ingestAndCommit(b1, corpus, root)
    val corpus2 = corpus.unionByName(Dedup.keepersOf(b1, v1))

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getLong(2), r.getBoolean(3))).toSet
    val before = rows(Dedup.ingestAgainstIndex(b2, corpus2, root))

    Dedup.compactBandIndex(spark, root)
    // the compacted index is ONE frame (scan fan-in reset)...
    val p = graft.sources.Snapshots.readAppendOnly(spark, root).queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(p).length === 1,
      s"compacted index should scan a single snapshot:\n$p")
    // ...and screening is bit-identical through it
    assert(rows(Dedup.ingestAgainstIndex(b2, corpus2, root)) === before)
  }

  test("q83: fingerprint is deterministic, one row per doc, all-scalar schema") {
    val f1 = SparkEntry.queries("q83_fingerprint")(spark, sf).collect()
    val f2 = SparkEntry.queries("q83_fingerprint")(spark, sf).collect()
    assert(f1.map(_.toSeq).toSeq === f2.map(_.toSeq).toSeq)
    assert(f1.length === Tables.documents(spark, sf).count())
    assert(f1.map(_.getLong(0)).distinct.length === f1.length)
    // driver contract (r1 red row): pandas cannot hash array columns,
    // so every driver-visible column must be scalar
    SparkEntry.queries("q83_fingerprint")(spark, sf).schema.foreach { f =>
      assert(!f.dataType.typeName.contains("array"),
        s"q83 column ${f.name} is non-scalar (${f.dataType})")
    }
  }

  test("q83: raw fingerprint sketch is a sorted mod-8 subset of the shingle hashes") {
    val rows = Tables.documents(spark, sf)
      .select(col("doc_id"),
        shingleHashes(col("text"), 3).as("sh"),
        fingerprintSketch(col("text"), 3, 8).as("fp"))
      .collect()
    assert(rows.exists(r => !r.isNullAt(2) && r.getSeq[Long](2).nonEmpty),
      "no doc produced a non-empty sketch")
    rows.foreach { r =>
      assert(r.isNullAt(1) === r.isNullAt(2), "sketch nullness must track shingles")
      if (!r.isNullAt(2)) {
        val sh = r.getSeq[Long](1).toSet
        val fp = r.getSeq[Long](2)
        assert(fp === fp.sorted, s"doc ${r.getLong(0)}: sketch not sorted")
        assert(fp.forall(h => math.floorMod(h, 8L) == 0L),
          s"doc ${r.getLong(0)}: non-mod-8 hash in sketch")
        assert(fp.toSet.subsetOf(sh), s"doc ${r.getLong(0)}: sketch not a subset")
        assert(fp === sh.toSeq.filter(h => math.floorMod(h, 8L) == 0L).sorted,
          s"doc ${r.getLong(0)}: sketch misses qualifying hashes")
      }
    }
  }

  test("q68: passage dedup agrees with an explode+groupBy recomputation and is non-vacuous") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q68_passage_dedup")(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
    assert(rows.length === docs.count(), "one row per document")
    // brute twin: different formulation (groupBy count joined back vs window)
    val toks = split(trim(lower(col("text"))), "\\s+")
    val passages = docs
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= 10)
      .select(col("doc_id"), explode(
        transform(sequence(lit(0), floor(size(col("toks")) / 10).cast("int") - 1),
          j => concat_ws(" ", slice(col("toks"), j * 10 + 1, lit(10))))).as("passage"))
    val cnt = passages.groupBy("passage").agg(count(lit(1)).as("c"))
    val brute = passages.join(cnt, "passage")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("np"), sum(when(col("c") > 1, 1L).otherwise(0L)).as("nd"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    var dupDocs = 0
    rows.foreach { r =>
      val (np, nd) = brute.getOrElse(r.getLong(0), (0L, 0L))
      assert(r.getLong(1) === np, s"doc ${r.getLong(0)} n_passages")
      assert(r.getLong(2) === nd, s"doc ${r.getLong(0)} n_dup_passages")
      if (nd > 0) dupDocs += 1
      assert(r.getBoolean(4) === (r.getDouble(3) <= 0.5))
    }
    assert(dupDocs > 0, "corpus has no duplicated passages — check is vacuous")
  }

  test("q73: int8 quantization invariants — code range and reconstruction bound") {
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, sf)
    val checked = e
      .select(col("vec_id"), col("embedding"),
        (array_max(transform(col("embedding"), x => abs(x.cast("double")))) / 127.0).as("scale"))
      .select(col("vec_id"), col("scale"),
        array_max(transform(col("embedding"),
          x => abs(round(x.cast("double") / col("scale"))))).as("max_code"),
        array_max(transform(col("embedding"),
          x => abs(x.cast("double") - round(x.cast("double") / col("scale")) * col("scale"))))
          .as("max_err"))
      .collect()
    checked.foreach { r =>
      val scale = r.getDouble(1)
      assert(scale > 0.0)
      assert(r.getDouble(2) <= 127.0, s"vec ${r.getLong(0)} code out of int8 range")
      assert(r.getDouble(3) <= scale / 2 * (1 + 1e-12), s"vec ${r.getLong(0)} reconstruction error")
    }
    // the oracle-facing integer invariants are consistent with each other
    val q = SparkEntry.queries("q73_vec_quantize")(spark, sf).collect()
    q.foreach { r =>
      assert(math.abs(r.getLong(3)) <= r.getLong(4), "|q_sum| must be <= q_l1")
      assert(r.getLong(4) <= 127L * r.getLong(1), "q_l1 must be <= 127*dims")
    }
  }

  test("q6d: vector-index ingest verdicts equal the direct incremental pipeline") {
    val emb = Tables.embeddings(spark, sf)
    val corpus = emb.filter(col("vec_id") % 7 =!= 3 && col("vec_id") % 7 =!= 5)
    val b1 = emb.filter(col("vec_id") % 7 === 3)
    val b2 = emb.filter(col("vec_id") % 7 === 5)
    val root = tmpDir("vecindex-sem") + "/idx"
    Dedup.commitVecIndex(corpus, root)
    val g = Dedup.openVecIndex(spark, root)._1

    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Option[Long], Long, Boolean)] =
      df.collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getLong(2), r.getBoolean(3))).toSet

    // first ingest: stored-index verdicts == direct bucketed pipeline
    // AT THE SAME PINNED GEOMETRY (the index must not drift from what
    // incrementalVecDups would compute fresh)
    val v1 = Dedup.ingestAndCommitVec(b1, corpus, root)
    assert(rows(v1) === rows(Dedup.incrementalVecDups(
      b1, corpus, tau = g.tau, tables = g.tables, planes = g.planes, probe1 = g.probe1)))

    // second ingest sees corpus ∪ batch-1 keepers THROUGH THE STORE
    val keepers1 = b1.join(v1.filter(col("keep")).select("vec_id"), Seq("vec_id"), "left_semi")
    val corpus2 = corpus.unionByName(keepers1)
    val v2 = Dedup.ingestAgainstVecIndex(b2, corpus2, root)
    assert(rows(v2) === rows(Dedup.incrementalVecDups(
      b2, corpus2, tau = g.tau, tables = g.tables, planes = g.planes, probe1 = g.probe1)))
    assert(v2.count() === b2.count(), "one verdict row per batch-2 vector")

    // compaction folds the chain without changing verdicts
    Dedup.compactVecIndex(spark, root)
    assert(rows(Dedup.ingestAgainstVecIndex(b2, corpus2, root)) === rows(v2))
  }

  test("vector-index geometry rides the manifest line: it survives a fold, an excise and a vacuum") {
    import graft.sources.Snapshots
    val emb = Tables.embeddings(spark, sf)
    val isInc = col("vec_id") % 7 === 3
    val (batch, corpus) = (emb.filter(isInc), emb.filter(!isInc))
    val root = tmpDir("vecindex-geom") + "/idx"
    Dedup.commitVecIndex(corpus, root, tau = 0.1 + 0.2, probe1 = true)           // v1
    val g = Dedup.openVecIndex(spark, root)._1
    assert(g.tau === 0.1 + 0.2 && g.probe1, s"geometry must round-trip exactly: $g")
    Dedup.ingestAndCommitVec(batch, corpus, root)                                  // v2 delta
    assert(Dedup.compactVecIndex(spark, root) === 3L)                              // v3 fold
    assert(Dedup.openVecIndex(spark, root)._1 === g, "the fold dropped the geometry")
    val target = corpus.select("vec_id").head().getLong(0)
    Snapshots.excise(spark, root, col("vec_id") === target)
    assert(Dedup.openVecIndex(spark, root)._1 === g, "the excise dropped the geometry")
    assert(Snapshots.vacuum(spark, root, Snapshots.latestVersion(spark, root)) === Seq(1L, 2L))
    val (g2, segments) = Dedup.openVecIndex(spark, root)
    assert(g2 === g, "the vacuum dropped the geometry")
    assert(segments.filter(col("vec_id") === target).count() === 0L)
    assert(new java.io.File(root).list().forall(n => !n.contains("geom")),
      "no geometry file beside the manifests")
  }

  test("an index fold overtaken by a keeper delta fails as a stale fold and leaves the store unchanged") {
    import graft.sources.Snapshots
    def ids(root: String): Set[Long] =
      Snapshots.readAppendOnly(spark, root).select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    // band index: the fold reads its chain, then an ingest publishes a
    // keeper delta (commitDeltaRetrying), then the fold publishes
    val docs = Tables.documents(spark, sf)
    val (corpus, batch) = (docs.filter(col("doc_id") % 7 =!= 3), docs.filter(col("doc_id") % 7 === 3))
    val root = tmpDir("bandindex-race") + "/idx"
    Dedup.commitBandIndex(corpus, root)
    val stale = Snapshots.manifestState(spark, root)
    Dedup.ingestAndCommit(batch, corpus, root)
    val (vs, want) = (Snapshots.versions(spark, root), ids(root))
    val files = new java.io.File(root).list().toSet
    val keepers = Snapshots.read(spark, root, 2L).select("doc_id").distinct().count()
    assert(keepers > 0, "the race needs a delta with rows")
    val e = intercept[IllegalStateException](Snapshots.compactAppendOnly(spark, root, stale))
    assert(e.getMessage.contains("stale fold"), e.getMessage)
    assert(Snapshots.versions(spark, root) === vs && ids(root) === want,
      "a stale fold changed the store")
    assert(new java.io.File(root).list().toSet === files, "a stale fold wrote a segment")
    // re-run over the new chain: the fold holds the delta's rows
    assert(Dedup.compactBandIndex(spark, root) === 3L)
    assert(ids(root) === want)
    // the vector fold takes the same pin, carrying its geometry meta
    val emb = Tables.embeddings(spark, sf)
    val vroot = tmpDir("vecindex-race") + "/idx"
    Dedup.commitVecIndex(emb.filter(col("vec_id") % 7 =!= 3), vroot)
    val vstale = Snapshots.manifestState(spark, vroot)
    Dedup.ingestAndCommitVec(emb.filter(col("vec_id") % 7 === 3), emb.filter(col("vec_id") % 7 =!= 3), vroot)
    val vvs = Snapshots.versions(spark, vroot)
    val ve = intercept[IllegalStateException](
      Snapshots.compactAppendOnly(spark, vroot, vstale, vstale.lines.head.meta))
    assert(ve.getMessage.contains("stale fold"), ve.getMessage)
    assert(Snapshots.versions(spark, vroot) === vvs, "a stale vector fold changed the store")
  }

  test("NaN and infinite tau are refused at every tau entry, before anything is published") {
    val emb = Tables.embeddings(spark, sf)
    for (tau <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)) {
      val root = tmpDir("vecindex-tau") + "/idx"
      intercept[IllegalArgumentException](Dedup.commitVecIndex(emb, root, tau = tau))
      assert(!new java.io.File(root).exists(), s"tau=$tau published an index")
      intercept[IllegalArgumentException](Dedup.embeddingNearDups(emb, tau = tau))
      intercept[IllegalArgumentException](Dedup.adaptiveNearDups(emb, tau = tau))
      intercept[IllegalArgumentException](Dedup.collapsedNearDups(emb, tau = tau))
      intercept[IllegalArgumentException](Dedup.semanticDedup(emb, tau = tau))
      intercept[IllegalArgumentException](Dedup.incrementalVecDups(emb, emb, tau = tau))
    }
  }

  test("q6e: collapse-then-LSH pairs expand to exactly the direct all-pairs truth") {
    // plant exact-copy mass: corpus ∪ two id-shifted copies → every
    // vector is a group of 3; near-dup structure otherwise unchanged
    val base = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val stride = base.agg(max("vec_id")).head().getLong(0) + 1L
    val emb = (0 until 3).map(i =>
      base.withColumn("vec_id", col("vec_id") + lit(i * stride))).reduce(_ unionByName _)

    val tau = 0.4
    val e = emb.select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("nrm"))
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("ea"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("eb"), col("nrm").as("nb"))
    val truth = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("cos", cosine(col("ea"), col("eb"), col("na"), col("nb")))
      .filter(col("cos") >= tau)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val collapsed = Dedup.collapsedNearDups(emb, tau = tau).collect()
    // every group is size 3 (reps group on the embedding value)
    assert(collapsed.forall(r => r.getAs[Long]("sz_a") === 3L && r.getAs[Long]("sz_b") === 3L))
    // multiplicity-weighted count: cross pairs 3·3, within-cliques 3
    val nPairs = collapsed.map(_.getAs[Long]("n_pairs")).sum
    // the collapsed LSH runs on the UNIQUE vectors (n=500 → gate
    // geometry) — its recall there is the plain q65 recall, so
    // compare against the expansion of the pairs it DID find plus
    // all within-group cliques, then assert that matches truth up to
    // the (measured, reported) rep-level recall
    val repPairs = collapsed.filter(r => r.getLong(0) != r.getLong(1))
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val baseIds = base.select("vec_id").collect().map(_.getLong(0))
    val members: Map[Long, Seq[Long]] =
      baseIds.map(v => v -> (0 until 3).map(i => v + i * stride)).toMap
    def expand(p: (Long, Long)): Seq[(Long, Long)] =
      for (x <- members(p._1); y <- members(p._2))
        yield (math.min(x, y), math.max(x, y))
    val withinExpanded = members.values.filter(_.size > 1).flatMap(ms =>
      for (i <- ms.indices; j <- i + 1 until ms.size) yield (ms(i), ms(j))).toSet
    val expanded = repPairs.flatMap(expand) ++ withinExpanded
    assert(expanded.subsetOf(truth), "collapsed expansion produced a non-truth pair")
    assert(nPairs === expanded.size.toLong, "n_pairs disagrees with the actual expansion")
    val recall = expanded.size.toDouble / truth.size
    info(f"q6e expanded recall=$recall%.3f (${expanded.size}/${truth.size} pairs)")
    assert(recall >= 0.8)
    // and the collapse really did shrink the LSH input: 1500 -> 500
    assert(collapsed.map(_.getLong(0)).forall(_ < stride), "a rep is not a min-id original")
  }

  test("q6f: adaptive path with no hot buckets is pair-identical to embeddingNearDups") {
    val emb = Tables.embeddings(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // maxBucket above any gate population: the refinement machinery
    // runs (xbits, sizes, empty hot join) but every sub key is 0, so
    // the pairs must match the plain path exactly
    assert(rows(Dedup.adaptiveNearDups(emb, maxBucket = 1 << 20)) ===
      rows(Dedup.embeddingNearDups(emb)))
  }

  test("q6f: splitting bounds hot-bucket candidate work on an uncentered corpus") {
    // the textbook sign-LSH pathology: a shared mean direction. Every
    // hyperplane's threshold lands ~N(0, 64c²) away from the corpus
    // center, so each table funnels a large fraction into its
    // majority-sign bucket while the solver's MEAN-bucket model stays
    // healthy.
    val tau = 0.65
    val maxBucket = 16
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), expr("transform(embedding, x -> x + CAST(0.1 AS FLOAT))").as("embedding"))

    val e = emb.select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("nrm"))
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("ea"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("eb"), col("nrm").as("nb"))
    val truth = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("cos", cosine(col("ea"), col("eb"), col("na"), col("nb")))
      .filter(col("cos") >= tau)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "shifted corpus has no pairs above tau")

    // the corpus really is skewed: unsplit max bucket ≫ maxBucket
    val n = e.count()
    val g = graft.ann.LshGeometry.resolve(n, tau, 0, 0, probe1 = false)
    val center = e.select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("pos").agg(avg("v").as("m")).orderBy("pos")
      .collect().map(_.getDouble(1)).toSeq
    val keys = Dedup.refinedKeys(e, g, maxBucket, maxExtra = 8, dims = 64, center, probed = false)
    def slotSum(grp: Seq[String]): (Long, Long) = {
      val sizes = keys.groupBy(grp.map(col): _*).agg(count(lit(1)).as("c"))
        .select(col("c")).collect().map(_.getLong(0))
      (sizes.map(c => c * (c - 1) / 2).sum, sizes.max)
    }
    val (slots0, max0) = slotSum(Seq("tbl", "bkt"))
    val (slots1, max1) = slotSum(Seq("tbl", "bkt", "sub"))
    info(f"unsplit: max bucket $max0, pair slots $slots0; split: max $max1, slots $slots1")
    assert(max0 > 4L * maxBucket, "corpus not skewed enough to exercise splitting")
    assert(max1 < max0, "splitting did not shrink the hottest bucket")
    assert(slots1 < slots0 / 2, "splitting did not halve candidate pair slots")

    val adaptive = Dedup.adaptiveNearDups(emb, tau = tau, maxBucket = maxBucket)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(adaptive.subsetOf(truth), "adaptive emitted a below-tau pair (verify must be exact)")
    val recall = adaptive.size.toDouble / truth.size
    val plain = Dedup.embeddingNearDups(emb, tau = tau)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    info(f"recall: adaptive $recall%.3f (${adaptive.size}/${truth.size}), plain ${plain.size.toDouble / truth.size}%.3f")
    assert(recall >= 0.7, f"adaptive recall $recall%.3f below floor")
  }

  test("q6f: probeSub2 emits exactly the hamming<=2 sub-key ball, cold rows stay single") {
    import spark.implicits._
    val g = graft.ann.LshGeometry(1, 4, probe1 = false)
    // one cold row, one hot row at extra=1 (no pair leg — the
    // descending-sequence trap), one hot row at extra=3
    val compact = Seq(
      (10L, 0, 100L, 0x5AL), // cold
      (11L, 0, 200L, 0x5AL), // hot, extra=1 -> sub = 0b0
      (12L, 0, 300L, 0x5AL)) // hot, extra=3 -> sub = 0b010
      .toDF("vec_id", "tbl", "bkt", "xbits")
    val hot = Seq((0, 200L, 1), (0, 300L, 3)).toDF("tbl", "bkt", "extra")
    def subsOf(df: org.apache.spark.sql.DataFrame, id: Long): Set[Long] =
      df.filter(col("vec_id") === id).select("sub").collect().map(_.getLong(0)).toSet
    val h2 = Dedup.subKeys(compact, hot, g, probed = false, probeSub = true, probeSub2 = true)
    // cold: the single distance-0 key
    assert(subsOf(h2, 10L) === Set(0L))
    // extra=1: {sub, sub^1} and NOTHING else (sequence(0,-1) would
    // have produced a descending [0,-1] pair leg)
    assert(subsOf(h2, 11L) === Set(0L, 1L))
    // extra=3, sub=0b010: distance 0 (1), distance 1 (3), distance 2
    // (C(3,2)=3) — the full hamming<=2 ball over 3 bits
    assert(subsOf(h2, 12L) === Set(0L, 1L, 2L, 3L, 4L, 6L, 7L)) // everything but 5 (=d3)
    // and the hamming-1 form is the strict subset it claims to be
    val h1 = Dedup.subKeys(compact, hot, g, probed = false, probeSub = true)
    assert(subsOf(h1, 12L) === Set(2L, 3L, 0L, 6L))
    assert(subsOf(h1, 12L).subsetOf(subsOf(h2, 12L)))
  }

  test("auto geometry at gate scale is bit-identical to the fixed 12x4 (q65 oracle safety)") {
    val emb = Tables.embeddings(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the solver must resolve the 500-vector gate corpus to exactly
    // the geometry the hash oracle was calibrated against — same
    // pairs, same cosines, bit for bit
    assert(rows(Dedup.embeddingNearDups(emb)) ===
      rows(Dedup.embeddingNearDups(emb, tables = 12, planes = 4)))
  }

  test("auto geometry on a 4k synthetic corpus: planes follow n, recall holds, precision exact") {
    // 3000 deterministic base vectors + 1000 perturbed copies of the
    // first 1000 (the planted near-dups) — big enough that the solver
    // must leave the gate geometry: planesFor(4000) = 5, probe on
    val spark0 = spark
    import spark0.implicits._
    val dim = 8
    val rnd = new scala.util.Random(42)
    val base = (0 until 3000).map(i => (i.toLong, Seq.fill(dim)(rnd.nextGaussian())))
    val near = (0 until 1000).map { i =>
      val noise = Seq.fill(dim)(rnd.nextGaussian() * 0.25)
      (3000L + i, base(i)._2.zip(noise).map { case (a, b) => a + b })
    }
    val emb = (base ++ near).toDF("vec_id", "embedding")
    val tau = 0.8
    val g = graft.ann.LshGeometry.forCorpus(4000, tau)
    assert(g.planes === 5 && g.probe1, s"solver geometry drifted: $g")

    val e = emb.select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("nrm"))
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("ea"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("eb"), col("nrm").as("nb"))
    val truth = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("cos", cosine(col("ea"), col("eb"), col("na"), col("nb")))
      .filter(col("cos") >= tau)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.size >= 500, s"perturbation too coarse: only ${truth.size} true pairs")

    val got = Dedup.embeddingNearDups(emb, tau = tau)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((got -- truth).isEmpty, "cosine verify must keep precision exact")
    val recall = (truth & got).size.toDouble / truth.size
    info(f"4k auto-geometry recall=$recall%.3f (target floor 0.87 at tau, pairs sit above tau)")
    assert(recall >= 0.87, f"recall $recall%.3f below the solver's design floor")
  }

  test("q6g: verdicts equal brute-force within-cell truth under injected centroids") {
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("nrm"))
    // fixed centroids pin the cell geometry, so truth and operator
    // see the same blocking and the comparison is exact (the k-means
    // training itself is FP-order sensitive — that is WHY q6g is [R])
    val cents = graft.ann.Knn.ivfCentroids(e, iters = 1, cells = 16)
    val tau = 0.4
    val got = Dedup.semanticVerdictsFor(e, cents, tau).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]))).toMap
    val assigned = graft.ann.Knn.assignCell(e, cents)
    val av = assigned.select(col("cell"), col("vec_id").as("id_a"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val bv = assigned.select(col("cell"), col("vec_id").as("id_b"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    val truthLoss = av.join(bv, Seq("cell")).filter(col("id_a") < col("id_b"))
      .withColumn("cos", cosine(col("ea"), col("eb"), col("na"), col("nb")))
      .filter(col("cos") >= tau)
      .groupBy("id_b").agg(min("id_a").as("dup_of")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cellOf = assigned.select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet === cellOf.keySet, "one verdict row per corpus vector")
    got.foreach { case (id, (cell, keep, dupOf)) =>
      assert(cell === cellOf(id), s"cell mismatch for $id")
      assert(keep === !truthLoss.contains(id), s"keep verdict wrong for $id")
      assert(dupOf === truthLoss.get(id), s"dup_of wrong for $id")
    }
    assert(got.values.exists(!_._2), "corpus has no semantic dup at tau — test is vacuous")
  }

  test("q6g: planted exact copies always lose to their original (auto path)") {
    val spark0 = spark
    import spark0.implicits._
    val e = Tables.embeddings(spark, sf)
    val maxId = e.agg(max("vec_id")).head().getLong(0)
    // exact copies of the first 50 vectors, ids above the corpus —
    // identical embeddings land in the same cell (argmin ties break
    // identically on identical inputs) regardless of the trained
    // geometry, so a cell-scoped dedup can NEVER miss them
    val copies = e.filter(col("vec_id") < 50)
      .select((col("vec_id") + lit(maxId + 1L)).as("vec_id"), col("embedding"))
    val out = Dedup.semanticDedup(e.select("vec_id", "embedding").unionByName(copies))
      .filter(col("vec_id") > maxId).collect()
    assert(out.length === 50)
    out.foreach { r =>
      assert(!r.getBoolean(2), s"planted copy kept: $r")
      assert(r.getDouble(4) >= 1.0 - 1e-9, s"copy's best match below cosine 1: $r")
    }
  }

  /** Synthetic duplicate-heavy corpus: 60 distinct seeded gaussians,
    * 5 perturbed near-dups of the first 5 (non-trivial rep-level
    * verdicts), then heavy exact-copy mass over both — 415 rows, 65
    * distinct vectors.
    */
  private def dupHeavyCorpus = {
    val spark0 = spark
    import spark0.implicits._
    val dim = 8
    val rnd = new scala.util.Random(7)
    val base = (0 until 60).map(i => (i.toLong, Seq.fill(dim)(rnd.nextGaussian())))
    val near = (0 until 5).map { i =>
      val noise = Seq.fill(dim)(rnd.nextGaussian() * 0.05)
      (200L + i, base(i)._2.zip(noise).map { case (a, b) => a + b })
    }
    val copies =
      (for { i <- 0 until 10; c <- 0 until 30 }
        yield (1000L + i * 100 + c, base(i)._2)) ++
      (for { i <- 0 until 5; c <- 0 until 10 }
        yield (5000L + i * 100 + c, near(i)._2))
    (base ++ near ++ copies).toDF("vec_id", "embedding")
  }

  test("q6g: collapse+expand reproduces the greedy rule exactly under planted duplicate mass") {
    functions.VectorExpressions.register(spark) // no Tables.load in this test
    val emb = dupHeavyCorpus
    val tau = 0.95
    val out = Dedup.semanticDedup(emb, tau = tau, cells = 4).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]))).toMap
    val vecs = emb.collect().map(r => r.getLong(0) ->
      r.getSeq[Double](1).toArray).toMap
    assert(out.keySet === vecs.keySet, "one verdict row per input vector")
    // truth = the UNCOLLAPSED greedy rule, recomputed locally with the
    // operator's own cell assignment: a vector loses to the minimal
    // same-cell smaller id at cosine >= tau — exact copies included,
    // which is precisely what the collapse must reproduce
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var sa = 0.0; var sb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); sa += a(i) * a(i); sb += b(i) * b(i); i += 1 }
      d / (math.sqrt(sa) * math.sqrt(sb))
    }
    val byCell = out.keys.toSeq.groupBy(id => out(id)._1)
    byCell.foreach { case (_, ids) =>
      val sorted = ids.sorted
      sorted.foreach { id =>
        val cands = sorted.takeWhile(_ < id).filter(a => cos(vecs(a), vecs(id)) >= tau)
        val want = cands.minOption
        assert(out(id)._3 === want, s"dup_of wrong for $id: got ${out(id)._3}, want $want")
        assert(out(id)._2 === want.isEmpty, s"keep wrong for $id")
      }
    }
    // exact copies always share their rep's cell (collapse guarantees it)
    (0 until 10).foreach { i =>
      (0 until 30).foreach { c =>
        assert(out(1000L + i * 100 + c)._1 === out(i.toLong)._1,
          s"copy of $i landed in a different cell than its original")
      }
    }
    assert(out.values.count(!_._2) >= 350, "duplicate mass not deduplicated")
  }

  test("graft_vec_has_null: codegen'd null-element probe, row-wise equal to the HOF exists()") {
    functions.VectorExpressions.register(spark) // no Tables.load in this test
    val df = spark.range(1).select(
      array(lit(1.0), lit(null).cast("double")).as("a"),
      array(lit(1.0), lit(2.0)).as("b"),
      lit(null).cast("array<double>").as("c"),
      array().cast("array<double>").as("d"))
    val r = df.select(
      graft.functions.VectorFunctions.vecHasNull(col("a")),
      graft.functions.VectorFunctions.vecHasNull(col("b")),
      graft.functions.VectorFunctions.vecHasNull(col("c")),
      graft.functions.VectorFunctions.vecHasNull(col("d"))).head()
    assert(r.getBoolean(0) === true)
    assert(r.getBoolean(1) === false)
    assert(r.isNullAt(2), "null array must probe to null (nullIntolerant)")
    assert(r.getBoolean(3) === false)
    // and it IS the probe exists() computes, column for column — the
    // claim the hot-path swap rests on
    Seq("a", "b", "c", "d").foreach { c =>
      val pair = df.select(
        graft.functions.VectorFunctions.vecHasNull(col(c)),
        expr(s"exists($c, x -> x is null)")).head()
      assert(pair.isNullAt(0) === pair.isNullAt(1) &&
        (pair.isNullAt(0) || pair.getBoolean(0) === pair.getBoolean(1)),
        s"probe diverges from exists() on column $c: $pair")
    }
  }

  test("q6g: null and null-element embeddings keep their verdict slots (keep-by-default)") {
    val spark0 = spark
    import spark0.implicits._
    functions.VectorExpressions.register(spark) // no Tables.load in this test
    // a wholly-null embedding, and a null-ELEMENT one: Spark's array
    // hashes skip null elements, so [1.0, null] would deterministically
    // collide with [1.0] on the member-join key — un-scorable rows must
    // bypass the hash path entirely, not merge into someone's group
    val degenerate = spark.range(1).select(lit(9999L).as("vec_id"),
        lit(null).cast("array<double>").as("embedding"))
      .unionByName(spark.range(1).select(lit(9998L).as("vec_id"),
        array(lit(1.0), lit(null).cast("double")).as("embedding")))
    val withNull = dupHeavyCorpus.unionByName(degenerate)
    val r = Dedup.semanticDedup(withNull, tau = 0.95, cells = 4)
      .filter(col("vec_id") >= 9998L).collect()
      .map(row => row.getLong(0) -> row).toMap
    assert(r.size === 2, "degenerate rows vanished from the verdicts")
    Seq(9998L, 9999L).foreach { id =>
      val row = r(id)
      assert(row.isNullAt(1) && row.getBoolean(2) && row.isNullAt(3) && row.isNullAt(4),
        s"degenerate verdict for $id must be (null cell, keep, null dup_of, null best_cos): $row")
    }
  }

  test("q6g: zero-norm exact copies are all kept (guarded cosine never matches them)") {
    val spark0 = spark
    import spark0.implicits._
    functions.VectorExpressions.register(spark) // no Tables.load in this test
    // three identical all-zero embeddings: they pass the null checks,
    // but the guarded cosine is NULL for any zero-norm side, so the
    // uncollapsed greedy rule keeps every one — the exact-copy
    // collapse must NOT route them down the hash path and fabricate
    // keep=false/best_cos=1.0 for the non-rep copies
    // dim-8 like dupHeavyCorpus: a width mismatch would crash in cell
    // assignment instead of exercising the hash-path regression
    val zeros = Seq(9101L, 9102L, 9103L)
      .map(id => (id, Seq.fill(8)(0.0))).toDF("vec_id", "embedding")
    val withZeros = dupHeavyCorpus.unionByName(zeros)
    val r = Dedup.semanticDedup(withZeros, tau = 0.95, cells = 4)
      .filter(col("vec_id") >= 9101L && col("vec_id") <= 9103L).collect()
    assert(r.length === 3, "zero-norm rows vanished from the verdicts")
    r.foreach { row =>
      assert(row.isNullAt(1) && row.getBoolean(2) && row.isNullAt(3) && row.isNullAt(4),
        s"zero-norm verdict must be (null cell, keep, null dup_of, null best_cos): $row")
    }
    // and the collapsed pair report never fabricates a zero-vector
    // within-group clique row (the direct form emits no pair for them)
    val pairs = Dedup.collapsedNearDups(withZeros, tau = 0.95)
      .filter(col("rep_a") >= 9101L || col("rep_b") >= 9101L).collect()
    assert(pairs.isEmpty, s"zero-norm vectors reported pairs: ${pairs.mkString(", ")}")
  }

  test("q6g/q65: NaN-element embeddings are un-scorable — they never match, drop, or delete anything") {
    val spark0 = spark
    import spark0.implicits._
    functions.VectorExpressions.register(spark) // no Tables.load in this test
    // NaN ids BELOW the whole corpus: under Spark's NaN-greatest
    // ordering an unguarded cosine scores NaN >= tau against every
    // cell/bucket neighbor, and with the smallest ids the greedy
    // min-id rule would record the NaN rows as dup_of for — and
    // thereby DELETE — their entire cell. One garbage encoder row
    // must never cost real documents.
    val nans = Seq(-2L, -1L)
      .map(id => (id, Seq(Double.NaN, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)))
      .toDF("vec_id", "embedding")
    val base = Dedup.semanticDedup(dupHeavyCorpus, tau = 0.95, cells = 4)
      .filter(col("keep")).count()
    val out = Dedup.semanticDedup(dupHeavyCorpus.unionByName(nans), tau = 0.95, cells = 4)
    val nanRows = out.filter(col("vec_id") < 0L).collect()
    assert(nanRows.length === 2, "NaN rows vanished from the verdicts")
    nanRows.foreach { row =>
      assert(row.isNullAt(1) && row.getBoolean(2) && row.isNullAt(3) && row.isNullAt(4),
        s"NaN verdict must be (null cell, keep, null dup_of, null best_cos): $row")
    }
    assert(out.filter(col("dup_of") < 0L).count() === 0L,
      "a NaN vector was recorded as someone's dup_of")
    assert(out.filter(col("keep")).count() === base + 2,
      "adding NaN rows changed real documents' verdicts")
    // and the LSH pair surface: a NaN vector (all-ones bucket in
    // every table) generates candidates but the verify cosine is
    // NULL — no pair survives
    val pairs = Dedup.embeddingNearDups(dupHeavyCorpus.unionByName(nans), tau = 0.95)
      .filter(col("id_a") < 0L || col("id_b") < 0L).collect()
    assert(pairs.isEmpty, s"NaN vectors emitted pairs: ${pairs.mkString(", ")}")
  }

  test("q6g: maxCell guard counts collapsed representatives and trips loudly past the cap") {
    functions.VectorExpressions.register(spark) // no Tables.load in this test
    val emb = dupHeavyCorpus // 415 rows, 65 distinct
    // cells=1 piles every vector into one cell. cap 70 sits BETWEEN
    // the distinct count (65) and the row count (415): only the
    // collapsed pairwise stage fits under it — green here proves the
    // in-cell pair slots are bounded by distinct vectors, not copies
    Dedup.semanticDedup(emb, tau = 0.95, cells = 1, maxCell = 70)
    // and a cap below the distinct count must fail loudly, naming the
    // hot cell and the remedies, BEFORE any quadratic work runs
    val err = intercept[RuntimeException] {
      Dedup.semanticDedup(emb, tau = 0.95, cells = 1, maxCell = 20)
    }
    assert(err.getMessage.contains("maxCell"), err.getMessage)
    assert(err.getMessage.contains("adaptiveNearDups"), err.getMessage)
    assert(err.getMessage.contains("65 distinct vectors"), err.getMessage)
  }

  test("q6a collapse-first: pair expansion equals the direct blocked pairwise reference; multiplicities account exactly") {
    // plant exact-NORMALIZED (not byte-exact) copies — doubled spaces
    // plus a trailing run, which the \s+ collapse folds away — so the
    // collapse stage is non-trivial on the gate corpus
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val clones = docs.orderBy("doc_id").limit(5)
      .select((col("doc_id") + 100000L).as("doc_id"),
        concat(regexp_replace(col("text"), " ", "  "), lit("  ")).as("text"))
    val corpus = docs.unionByName(clones)
    // the reference: the pre-collapse algorithm verbatim — block on
    // the normalized 20-char prefix, Levenshtein every in-block pair
    val n = corpus
      .select(col("doc_id"),
        substring(normText(
          regexp_replace(col("text"), "[^\\x09\\x0A\\x0D\\x20-\\x7E]", "?")), 1, 400).as("t"))
      .withColumn("blk", substring(col("t"), 1, 20))
      .filter(length(col("t")) > 0)
    val a = n.select(col("doc_id").as("id_a"), col("t").as("ta"), col("blk"))
    val b = n.select(col("doc_id").as("id_b"), col("t").as("tb"), col("blk"))
    val ref = a.join(b, Seq("blk")).filter(col("id_a") < col("id_b"))
      .withColumn("lev", levenshtein(col("ta"), col("tb")))
      .withColumn("mx", greatest(length(col("ta")), length(col("tb"))))
      .withColumn("edit_sim", lit(1.0) - col("lev").cast("double") / col("mx").cast("double"))
      .filter(col("edit_sim") >= 0.8)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Int]("lev"), r.getAs[Double]("edit_sim"))).toSet
    assert(ref.nonEmpty, "no planted pairs — the parity check below would be vacuous")
    val got = Dedup.blockedEditDups(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(got.length == got.toSet.size, "expansion emitted duplicate pairs")
    assert(got.toSet == ref, "collapse+expand drifted from the direct pairwise semantics")
    // group-aware rows: within rows exist (the clones collapsed), and
    // total multiplicity equals the expanded pair count exactly
    val coll = Dedup.collapsedEditDups(corpus).collect()
    assert(coll.exists(r => r.getLong(0) == r.getLong(1)),
      "no within-group row — the planted clones did not collapse")
    assert(coll.map(_.getLong(6)).sum == got.length.toLong,
      "collapsed n_pairs multiplicities do not account for the expanded pairs")
  }
}

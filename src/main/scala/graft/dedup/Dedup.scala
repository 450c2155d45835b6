package graft.dedup

import graft.{Qdef, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators over the `documents` table — SURVEY §2.7.
  *
  * Exact dedup is a hash-groupBy (one shuffle on the 16-byte digest,
  * map-side partial agg). Near-dup goes through the standard
  * shingle → signature → band/bucket → in-bucket-pairs pipeline:
  * the only shuffles are on compact band/bucket keys, and candidate
  * verification is per-bucket pairwise only — never all-pairs — so
  * the plan survives a 100×/1000× scale-up as long as band count and
  * shingle width keep bucket sizes bounded (SURVEY §4).
  */
object Dedup {

  // ------------------------------------------------------------ exact

  private val q60 = Qdef(
    "q60_dedup_exact",
    (s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(col("text").cast("binary")).as("text_hash"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("text_hash"),
    Some("""SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
            FROM documents GROUP BY md5(text) ORDER BY text_hash"""))

  private val q61 = Qdef(
    "q61_dedup_exact_norm",
    (s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(normText(col("text")).cast("binary")).as("text_hash"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("text_hash"),
    Some("""SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS text_hash,
            MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
            FROM documents GROUP BY 1 ORDER BY text_hash"""))

  // ---------------------------------------------------- minhash + LSH

  /** 64-permutation MinHash signatures, computed per row by the
    * codegen'd [[graft.functions.MinHashSig]] expression — a pure
    * narrow map over the scan, NO shuffle at all (the earlier
    * explode + 64-column min-aggregate formulation paid a groupBy
    * shuffle and interpreted shingle lambdas). Docs with fewer than
    * k tokens have no shingles and drop out, matching the
    * explode-then-aggregate semantics.
    */
  def minhashSignatures(docs: DataFrame, k: Int = 3, perms: Int = 64): DataFrame =
    // NO isNotNull filter on sig (r13 optimization): pushdown
    // substituted the alias and planted a SECOND full
    // minhash(shingles(text)) evaluation in the scan's DataFilters —
    // doubling the family's dominant per-row compute. Null signatures
    // (docs with < k tokens) now ride along and drop in
    // [[bandedKeys]]' generator (band_hashes is null-intolerant, the
    // outer-explode filter removes the synthetic row), which is every
    // consumer's next step — the row set any join/banding consumer
    // sees is unchanged.
    //
    // NO spread here (r14, measured): corpus-sized CALLERS spread
    // their input instead (verifiedPairs, incrementalNearDups'
    // corpus side — 0.49 s → 0.17 s at sf0.1 for the 64-permutation
    // map). Inside this function the spread hurt the store-write
    // paths: commitBandIndex inherited 32 output partitions (32 tiny
    // segment files read back by every ingest), and tiny ingest
    // batches paid the exchange for nothing — q6b regressed +0.5 s.
    docs
      .select(col("doc_id"), minhashSig(shingleHashes(col("text"), k), perms).as("sig"))

  /** LSH banding: hash each (band, r-slice of signature) to a bucket,
    * self-join on the bucket key, keep ordered distinct pairs. bands=32,
    * rows=2 puts the S-curve threshold at ~(1/32)^(1/2)≈0.18 with
    * near-certain recall at jaccard ≥ 0.8 (miss prob (1-j²)^32 ≈ 1e-15).
    */
  /** Tuned LSH banding parameters — the recall derivation on
    * [[lshCandidates]] and q69's full-recall-vs-brute-force oracle
    * both depend on these, so they live in exactly one place.
    */
  val LshBands = 32
  val LshRows = 2

  /** The banding projection shared by the self-join (q62) and the
    * asymmetric batch-vs-corpus join (q69): one compact (band, bh)
    * key pair per band per doc, computed by a narrow codegen map.
    */
  def bandedKeys(sig: DataFrame, bands: Int = LshBands, rows: Int = LshRows): DataFrame =
    // posexplode_OUTER + null filter on the OUTPUT (the q6h lesson):
    // plain posexplode lets InferFiltersFromGenerate plant
    // isnotnull/size filters on band_hashes(sig) — which pushdown
    // rewrites through the sig alias into EXTRA full
    // minhash(shingles(text)) evaluations inside the scan. The outer
    // form infers nothing; the bh-null filter drops exactly the
    // synthetic rows outer-explode adds for null sigs (band array is
    // containsNull=false), so the row set is identical.
    sig
      .select(col("doc_id"),
        posexplode_outer(call_function("graft_band_hashes", col("sig"), lit(bands), lit(rows))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bh")
      .filter(col("bh").isNotNull)

  def lshCandidates(sig: DataFrame, bands: Int = LshBands, rows: Int = LshRows): DataFrame = {
    // ONE materialized banding exchange: as separate trees the two
    // self-join sides each re-scan the corpus and re-run the codegen
    // minhash + banding maps; repartitioned on the join key once,
    // both sides read the same exchange (ReusedExchange) and the
    // join needs no further shuffle at all.
    // pinned partition count (the refinedCompact rationale): AQE
    // coalesces this tiny-bytes exchange to ~1 partition by map size
    // and the self-join's quadratic per-bucket fan-out then runs on
    // one core
    val banded = bandedKeys(sig, bands, rows)
      .repartition(graft.Tables.pinnedParallelism(sig.sparkSession),
        col("band"), col("bh"))
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  /** q62: the MinHash-LSH dedup pipeline, driver-checked on its
    * VERIFIED output (the q64 pattern): candidates still come from
    * the banded self-join — the plan the name promises — but the
    * driver-facing rows are the candidates that verify at exact
    * jaccard ≥ 0.5, which a quadratic DuckDB twin reproduces
    * hash-exactly (integer set sizes divide to bit-identical
    * doubles). τ=0.5 sits below q64's 0.8 operating point — a wider
    * verified band — and banding recall there is 1−(1−τ²)³² ≈
    * 1−10⁻⁴ per pair; the parity spec pins recall = 1.0 on both gate
    * corpora, so the oracle is deterministic where the driver runs
    * it. The raw candidate stage keeps its own full-recall spec.
    */
  /** The quadratic exact-jaccard DuckDB twin, parameterized by the
    * verify threshold — ONE definition shared by q62 (τ=0.5) and q64
    * (τ=0.8) so a tokenization/shingle fix can never drift between
    * the two oracles (the BruteTopKSql precedent in ann.Knn).
    */
  private def jaccardTwinSql(minJ: Double): String =
    s"""WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents),
        g AS (SELECT doc_id,
                list_distinct(list_transform(generate_series(1, len(toks)-2),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
              FROM t WHERE len(toks) >= 3),
        p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) AS jaccard
              FROM g a JOIN g b ON a.doc_id < b.doc_id
              WHERE len(list_distinct(a.sh || b.sh)) > 0)
        SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= $minJ ORDER BY id_a, id_b"""

  private val q62 = Qdef(
    "q62_dedup_minhash_lsh",
    (s, d) => verifiedPairs(s, d, minJ = 0.5).orderBy("id_a", "id_b"),
    Some(jaccardTwinSql(0.5)))

  // -------------------------------------------- candidate verification

  /** Exact 3-shingle Jaccard over LSH candidates only (the verify step
    * is per-candidate, not all-pairs). Oracle computes the same pairs
    * by brute force — integer-set sizes divide to bit-identical doubles.
    */
  /** LSH candidates verified by exact shingle-set jaccard ≥ `minJ` —
    * the shared upstream of q64 (which adds the oracle's total sort)
    * and q66 (which must NOT pay that sort just to build edges).
    */
  def verifiedPairs(s: org.apache.spark.sql.SparkSession, d: String, minJ: Double = 0.8): DataFrame = {
    // ONE spread corpus frame feeds the minhash AND both shingle-set
    // verify sides (r14): the 64-permutation minhash and the 3-shingle
    // set builder are the family's dominant per-row compute, and fused
    // onto the single-row-group scan each ran on ONE core (minhash
    // measured 0.49 s -> 0.17 s at sf0.1); the identical round-robin
    // subtree under all three consumers plans as one exchange with
    // ReusedExchange, so the corpus is scanned and exchanged once. A
    // no-op on multi-split inputs (spread's 2x guard); signatures and
    // per-row shingle sets are row-order-insensitive.
    val docs = graft.Tables.spread(Tables.documents(s, d))
    val sets = docs.select(col("doc_id"), shingleHashes(col("text"), 3).as("sh"))
    lshCandidates(minhashSignatures(docs))
      .join(sets.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(size(array_union(col("sh_a"), col("sh_b"))) > 0 && col("jaccard") >= minJ)
      .select("id_a", "id_b", "jaccard")
  }

  private val q64 = Qdef(
    "q64_dedup_ngram_jaccard",
    (s, d) => verifiedPairs(s, d).orderBy("id_a", "id_b"),
    Some(jaccardTwinSql(0.8)))

  // ----------------------------------------- prefix-filtered set-sim

  /** Exact set-similarity self-join via prefix filtering (the
    * AllPairs/PPJoin family — Bayardo/Ma/Srikant, WWW'07; a public
    * algorithm): candidates come from an equi-join on each doc's
    * frequency-ordered shingle PREFIX instead of LSH bands, and
    * unlike banding the filter is LOSSLESS. J(A,B) ≥ num/den implies
    * overlap o = J·|A∪B| ≥ ⌈τ·max(|A|,|B|)⌉ =: α, and two sets with
    * o ≥ α must share a token within their (|·|−α+1)-prefixes under
    * any ONE global token order (pigeonhole: A's last α−1 tokens
    * can't hold all ≥ α common tokens), so per-doc prefixes of
    * ℓ_x = |x| − ⌈τ·|x|⌉ + 1 (≥ |x|−α+1 for every partner) give
    * EXACT recall by construction — no measured operating point, no
    * parity spec needed for the driver entry to be brute-equal.
    *
    * The threshold arrives as a RATIONAL (num/den) so the prefix
    * length is integer-exact: a double ⌈0.7·sz⌉ rounds ⌈7.000…1⌉ up
    * on the sizes where 0.7·sz is integral, silently SHORTENING the
    * prefix below the theorem's bound (an unsound, recall-losing
    * failure — the dangerous direction). The verify compare stays
    * double (num/den) because both engines divide the same exact
    * integers and compare to the same literal.
    *
    * Scale shape: ordering tokens rarest-first (global doc-frequency
    * ascending) makes prefix tokens the LOW-fanout join keys — the
    * candidate join's per-key cost is Σ df_prefix², bounded by how
    * rare prefix tokens are, while LSH's is band-collision-bounded.
    * The df table is a (token, count) aggregate (one shuffle on the
    * 8-byte hash); the per-doc rank is a window over doc_id (keys =
    * docs, no skew); verification joins full sets back per candidate
    * only. No cross join anywhere (plan-locked). The LSH family
    * stays the default at extreme scale — prefix filtering is the
    * EXACT-recall complement when a takedown/compliance pass must
    * provably find every pair, at the cost of frequency-skew
    * sensitivity (a corpus of boilerplate shares prefixes).
    */
  def prefixFilteredPairs(docs: DataFrame, jNum: Int, jDen: Int): DataFrame = {
    require(jNum > 0 && jDen > 0 && jNum <= jDen,
      s"similarity threshold must be a rational in (0, 1]: got $jNum/$jDen")
    val minJ = jNum.toDouble / jDen
    // No doc-level emptiness filter: explode() already drops null and
    // empty shingle sets from the candidate stage, and the
    // verification joins below are INNER on candidate ids (a subset of
    // exploded docs), so the filter never changed the output — but it
    // DID triple the per-row shingling cost: pushdown rewrote
    // isnotnull(sh) AND size(sh)>0 through the alias into two extra
    // graft_shingle_hashes(text) evaluations inside every scan's
    // DataFilters, on top of the projection's own.
    // NOT spread (r14, measured): q6h regressed +0.34 s with a spread
    // input — the downstream prefix window/join exchanges dominate and
    // the round-robin exchange of text only adds a stage.
    val sets = docs.select(col("doc_id"), shingleHashes(col("text"), 3).as("sh"))
    // explode_OUTER + tok-not-null, not plain explode: Catalyst's
    // InferFiltersFromGenerate rewrites explode(sh) into
    // isnotnull(sh) AND size(sh)>0 scan filters through the alias —
    // two more full shingle evaluations per document on top of the
    // projection's (the same 3× the removed filter caused; measured
    // in the scan's DataFilters). The rule does not fire on outer
    // generate, and the null-row filter on the OUTPUT attribute is
    // free. Identical rows: sh is array<long, containsNull=false>,
    // so tok is null exactly on the synthetic row explode_outer adds
    // for null/empty sh — the rows plain explode drops.
    val toks = sets.select(col("doc_id"), size(col("sh")).as("sz"),
      explode_outer(col("sh")).as("tok"))
      .filter(col("tok").isNotNull)
    // df as count-over-window on the SAME exploded subtree: the old
    // (separate scan → groupBy tok → join back) shape paid a second
    // corpus scan + shingle re-evaluation + a corpus-sized broadcast
    // to attach one long; the window attaches it inside the tok
    // exchange the join needed anyway (guide §2.4 — operations keyed
    // the same way share one exchange).
    val ranked = toks
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("tok")))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(col("df"), col("tok"))))
    // ℓ = sz − ⌈num·sz/den⌉ + 1, all-integer (DIV is integral).
    // Repartitioned on the join key so the self-join's two sides read
    // ONE materialized exchange (ReusedExchange) instead of re-running
    // the scan → df window → rank window per side — the lshCandidates
    // precedent, worth a full corpus pass at any scale.
    // df ≥ 2 AFTER the rank (rn must see every token of the doc) but
    // BEFORE the exchange: per-doc shingle sets are distinct, so
    // df = 1 means the token lives in exactly ONE document and the
    // equi-join below cannot pair it — dropping those rows is
    // result-identical and removes the bulk of the prefix (most
    // shingles are corpus-unique), shrinking the join exchange to the
    // genuinely shareable keys (guide §2.3: shuffle fewer bytes).
    val prefix = ranked.filter(
      col("rn") <= col("sz") - expr(s"($jNum * sz + ${jDen - 1}) DIV $jDen") + 1)
      .filter(col("df") >= 2)
      .select(col("tok"), col("doc_id"),
        col("sz").cast("long").as("sz"), col("rn").cast("long").as("rn"))
      // pinned count for the same reason as refinedCompact's exchange:
      // the df ≥ 2 prefix is small in BYTES, AQE would coalesce it to
      // ~1 partition, and the self-join below fans out quadratically
      // per token — the fan-out must stay spread across cores
      .repartition(graft.Tables.pinnedParallelism(docs.sparkSession),
        col("tok"))
    // PPJoin positional filter, lossless (Xiao/Wang/Lin/Yu, WWW'08 —
    // public): J ≥ num/den forces overlap o ≥ α := ⌈num·(|A|+|B|) /
    // (num+den)⌉, and at the pair's FIRST shared token (global order,
    // 1-based positions rn_a/rn_b over the full frequency-ordered
    // lists) the sets share nothing earlier, so
    // o ≤ 1 + min(|A|−rn_a, |B|−rn_b). Later shared occurrences have
    // strictly larger rn on BOTH sides (common tokens appear in the
    // same global order in both lists), hence a strictly tighter
    // bound — so if ANY occurrence of a true pair passes, its first
    // does; filtering every occurrence by the bound can only drop
    // pairs whose overlap provably misses α. All-integer cross-mult
    // form (den+num)·(1+min) ≥ num·(szA+szB), so no float rounding
    // can flip a verdict. Measured at sf0.1: 202 601 → 33 276
    // candidate pairs, final output identical (256 pairs) — the
    // distinct exchange, the verify joins, and the jaccard evals all
    // shrink 6× (guide §2.3: drop rows before the shuffle).
    val alphaOk =
      (lit(1L) + least(col("a.sz") - col("a.rn"), col("b.sz") - col("b.rn"))) *
        lit((jNum + jDen).toLong) >= lit(jNum.toLong) * (col("a.sz") + col("b.sz"))
    val cands = prefix.as("a").join(prefix.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id") && alphaOk)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    cands
      .join(sets.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("jaccard") >= minJ)
      .select("id_a", "id_b", "jaccard")
  }

  /** q6h: the exact-recall near-dup pair set at τ = 7/10 — between
    * q62's 0.5 and q64's 0.8, so the three rows pin three different
    * slices of the same truth through three different candidate
    * generators (banding ×2, prefix filter ×1). The oracle is the
    * same quadratic twin; here it checks EXACTNESS of the lossless
    * filter, not a measured recall point.
    */
  private val q6h = Qdef(
    "q6h_dedup_prefix_join",
    (s, d) => prefixFilteredPairs(Tables.documents(s, d), 7, 10).orderBy("id_a", "id_b"),
    Some(jaccardTwinSql(0.7)))

  // ---------------------------------------------------------- simhash

  /** 64-bit SimHash per doc: tokens exploded once, 64 signed bit-sums
    * as partial aggregates, bits OR-packed into one long. The token
    * hash is the lower 64 MD5 bits ([[graft.functions.TextFunctions
    * .md5Lo64]]) rather than xxhash64 — any uniform 64-bit hash
    * serves simhash equally, and md5 is the one both engines share
    * (DuckDB `md5_number_lower`), which is what lets q63's WHOLE
    * pair output hash-check against a brute-force all-pairs twin
    * (the q83 fingerprint precedent).
    */
  def simhash(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .select(col("doc_id"), md5Lo64(col("t")).as("h"))
    val sums = (0 until 64).map(i =>
      sum(when(shiftrightunsigned(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$i"))
    tok
      .groupBy("doc_id")
      .agg(sums.head, sums.tail: _*)
      .select(col("doc_id"),
        (0 until 64)
          .map(i => when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce(_ bitwiseOR _)
          .as("simhash"))
  }

  /** Near-dup pairs by hamming distance ≤ 3, candidate-generated by
    * exact match on one of four 16-bit chunks (any pair within hamming
    * 3 must agree on ≥1 chunk — pigeonhole), verified with bit_count.
    *
    * Oracle-checkable since the md5 token hash (above): the chunk
    * stage is EXACT-recall by the pigeonhole argument (not
    * probabilistic like LSH), so the DuckDB twin reproduces the full
    * pair set from brute-force all-pairs hamming — the quadratic
    * price the chunked Spark plan exists to avoid.
    */
  private val q63 = Qdef(
    "q63_dedup_simhash",
    (s, d) => {
      val sh = simhash(Tables.documents(s, d))
      val chunked = sh.select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map(j =>
          struct(lit(j).as("j"),
            shiftrightunsigned(col("simhash"), 16 * j).bitwiseAND(0xFFFF).as("chunk"))): _*)).as("e"))
        .select(col("doc_id"), col("simhash"), col("e.j").as("j"), col("e.chunk").as("chunk"))
      val a = chunked.as("a")
      val b = chunked.as("b")
      a.join(b,
          col("a.j") === col("b.j") && col("a.chunk") === col("b.chunk") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          expr("bit_count(a.simhash ^ b.simhash)").cast("long").as("hamming"))
        // filter BEFORE distinct: random 16-bit chunk collisions grow
        // quadratically with corpus size and would otherwise all be
        // shuffled just to be discarded
        .filter(col("hamming") <= 3)
        .distinct()
        .orderBy("id_a", "id_b")
    },
    Some("""WITH t AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
                  FROM documents),
            h AS (SELECT doc_id, md5_number_lower(tok) AS h FROM t),
            b AS (SELECT unnest(generate_series(0, 63)) AS i),
            bits AS (SELECT doc_id, i,
                    SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
                  FROM h CROSS JOIN b GROUP BY doc_id, i),
            sh AS (SELECT doc_id,
                    CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS UBIGINT) << i) ELSE CAST(0 AS UBIGINT) END) AS UBIGINT) AS sim
                  FROM bits GROUP BY doc_id),
            p AS (SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
                    CAST(bit_count(xor(a.sim, b2.sim)) AS BIGINT) AS hamming
                  FROM sh a JOIN sh b2 ON a.doc_id < b2.doc_id)
            SELECT id_a, id_b, hamming FROM p WHERE hamming <= 3 ORDER BY id_a, id_b"""))

  // ----------------------------------------- embedding-cosine near-dup

  /** Random-hyperplane LSH near-dup over the embeddings table, with
    * OR-amplification: `tables` independent hash tables of `planes`
    * sign bits each; a pair is a candidate if it collides in ANY table,
    * then verified with exact cosine ≥ τ. For p = P(one plane agrees)
    * = 1 − θ/π, recall = 1 − (1 − p^planes)^tables. The geometry
    * DEFAULTS are data-derived ([[graft.ann.LshGeometry.forCorpus]]):
    * planes from corpus size (bounded bucket populations — the sf≈1
    * soak's finding), tables from the 0.87-recall-at-τ floor, 1-bit
    * multiprobe once planes pass the gate default. At gate scale the
    * solver returns the fixed 12×4 the oracles are calibrated
    * against. Each row is exploded `tables` times onto compact
    * (table, bucket) keys — one shuffle, per-bucket pairwise
    * verification only (SURVEY §4).
    */
  /** Plane count that keeps the EXPECTED bucket population near
    * `targetBucket` for an n-row corpus (mean bucket = n/2^planes per
    * table). The sf1 soak (PLANS.md round 4) measured why the knob is
    * not optional: at 20k vectors the 4-plane default leaves
    * 1250-member mean buckets — 158M in-bucket pair slots — while 8
    * planes cut the pairwise work 13×. Kept as the historical entry
    * point; the full solver (tables from the recall target, the
    * probe decision) lives in [[graft.ann.LshGeometry]], which the
    * library defaults now call.
    */
  def planesFor(n: Long, targetBucket: Int = 128): Int =
    graft.ann.LshGeometry.planesFor(n, targetBucket)

  /** `probe1` adds symmetric 1-bit multiprobe: ONE side of the bucket
    * self-join also probes the `planes` keys at hamming distance 1 —
    * enough for pair detection, because hamming-1 is symmetric (if
    * x's and y's keys differ in one bit, x's expansion reaches y's
    * bucket whichever of them lands on the expanded side). Per-table
    * pair-hit probability rises from p^planes to
    * p^planes + planes·p^(planes−1)(1−p) at (planes+1)× the join
    * input on one side only; the verify step is unchanged, so
    * precision stays exact.
    */
  def embeddingNearDups(
      emb: DataFrame,
      tables: Int = 0,
      planes: Int = 0,
      tau: Double = 0.4,
      probe1: Boolean = false): DataFrame =
    nearDupsImpl(emb, tau, maxBucket = 0, maxExtra = 0, tables, planes, probe1)

  /** Density-adaptive variant of [[embeddingNearDups]]: buckets whose
    * POPULATION exceeds `maxBucket` are split by extra hyperplane
    * bits — per table, per bucket, just enough bits
    * (ceil(log2(sz / maxBucket)), capped at `maxExtra`) to bring the
    * expected sub-bucket back to target. The mean-bucket model the
    * geometry solver optimizes says nothing about VARIANCE: a
    * directionally concentrated corpus (uncentered sentence
    * embeddings are the textbook case — every vector shares a
    * dominant mean direction, so each table funnels a large corpus
    * fraction into its majority-sign bucket) goes quadratic in a few
    * hot buckets while the mean stays healthy. Splitting restores the
    * bound where it is restorable: extra bits separate ACCIDENTAL
    * co-residents (below-τ pairs sharing a bucket) at p^extra ≪ 1
    * while a genuinely-dense near-dup clique mostly survives them
    * (p → 1 as cos → 1) — and a clique that cannot be split is one
    * whose OUTPUT is itself quadratic, which is [[collapsedNearDups]]'
    * job (exact mass) or the caller's τ to tighten.
    *
    * Two details keep recall honest where ALL tables hot the same
    * region (a shared mean direction hots every table's majority
    * bucket, so OR-amplification cannot absorb the split cost):
    * refinement planes are CENTERED on the corpus mean (an uncentered
    * plane inherits the very bias that made the bucket hot — measured
    * 3.9× vs ~11× Σsz² reduction on the spec's shifted corpus), and
    * one join side 1-bit-multiprobes the sub key (hot rows only,
    * (extra+1)× there), buying back the pairs a single disagreeing
    * refinement bit would lose. The spec measures the residual.
    *
    * Cost shape vs the plain form: extra-bit computation is a narrow
    * map fused into the banding scan (only `maxExtra` more dot
    * products per (row, table)); bucket sizes are ONE partial-agg
    * groupBy on the compact (tbl, bkt) key; the hot-bucket table —
    * AT MOST (corpus·tables)/maxBucket rows, tiny in healthy corpora —
    * joins back against compact keys (AQE broadcasts it when small);
    * the pair join itself is unchanged except its key widens by the
    * sub-bucket long. Embedding arrays still never shuffle.
    *
    * `probeUnion` (with probe1 on) swaps the probe composition from
    * the PRODUCT — every bucket-bit variant crossed with every
    * sub-bit variant, covering pairs one bucket bit AND one sub bit
    * apart — to the UNION: one bucket bit OR one sub bit flipped,
    * (planes+1)+(extra) side-a rows per hot row instead of
    * (planes+1)×(extra+1). The union is ~60% less join fan-out but a
    * strictly narrower candidate class; it is OPT-IN because only the
    * pinned q6f gate point has its recall MEASURED at 1.0 under the
    * union (parity-spec-locked at both gate scales) — public callers
    * past gate scale keep the wider product the solver's recall
    * reasoning assumes.
    */
  def adaptiveNearDups(
      emb: DataFrame,
      tau: Double = 0.4,
      maxBucket: Int = 128,
      maxExtra: Int = 8,
      tables: Int = 0,
      planes: Int = 0,
      probe1: Boolean = false,
      probeUnion: Boolean = false,
      probeSub2: Boolean = false): DataFrame = {
    // probeUnion composes the TWO probes — without probe1 it would
    // silently resolve to NO probing at all at gate scale, handing an
    // opted-in caller lower recall than either probed shape
    require(probe1 || !probeUnion,
      "probeUnion composes the bucket and sub probes — it requires probe1 = true")
    nearDupsImpl(emb, tau, maxBucket, maxExtra, tables, planes, probe1, probeUnion,
      probeSub2)
  }

  /** Compact (vec_id, tbl, bkt, xbits) keys for the adaptive path,
    * hash-repartitioned on (tbl, bkt) — the ONE shuffle of the
    * candidate stage, and deliberately so: the banding + refinement
    * scan behind it (tables×(planes+maxExtra) dot products per row)
    * is the stage's dominant compute, and every consumer — the
    * bucket-size aggregate, the hot table, and both pair-join sides —
    * must hang off THIS object so the physical plan reuses the
    * exchange instead of re-running the scan. (Building the sides as
    * separate trees left the scan in the plan 4×, and separately-built
    * trees did not collapse via sameResult.) The shuffled payload is
    * ~32 bytes/row; everything downstream of it is narrow or
    * broadcast until the pair join, which the (tbl, bkt) partitioning
    * already satisfies.
    *
    * Refinement hyperplanes are drawn per table from a stream disjoint
    * from the banding seed — and CENTERED on the corpus mean: the very
    * skew that makes buckets hot (a shared dominant direction) would
    * bias uncentered refinement bits the same way, leaving the
    * sub-split as lopsided as the bucket it is trying to fix
    * (measured: 4 uncentered bits shrank Σsz² only 3.9× on the
    * mean-shifted spec corpus). sign(r·x − r·μ) shifts each plane
    * through the corpus center — one scalar threshold per plane,
    * computed on the driver from the collected mean. Bits are computed
    * narrowly while the row still carries its embedding;
    * coalesce-of-whens evaluates exactly the matching table's branch.
    */
  private[graft] def refinedCompact(
      e: DataFrame,
      g: graft.ann.LshGeometry,
      maxExtra: Int,
      dims: Int,
      center: Seq[Double]): DataFrame = {
    import graft.functions.VectorFunctions._
    // Explicit isnotnull(vec_id): the pair join INFERS this filter
    // into its two sides (vec_id < vec_id constraint), the size/hot
    // branches don't — and a filter present below the exchange in one
    // consumer's subtree but not another's forks the canonical plan
    // exactly like divergent pruning does. Stating it once here keeps
    // all four subtrees bit-identical (inference adds nothing when
    // the filter already exists).
    require(maxExtra > 0, s"refinedCompact needs maxExtra > 0 (got $maxExtra) — " +
      "use the plain path (maxBucket <= 0) when no split bits are wanted")
    val rnd = new scala.util.Random(7 * 1327 + 13)
    val xp: IndexedSeq[IndexedSeq[Seq[Double]]] =
      IndexedSeq.fill(g.tables)(IndexedSeq.fill(maxExtra)(Seq.fill(dims)(rnd.nextGaussian())))
    def thresh(t: Int, j: Int): Double =
      xp(t)(j).iterator.zip(center.iterator).map { case (a, b) => a * b }.sum
    // Bucket keys AND refinement bits in TWO single-pass matrix
    // expressions on the UNEXPLODED row, zipped and exploded once
    // (r13 optimization): the old shape exploded first and evaluated
    // a coalesce-of-whens over per-(table, bit) dot literals — the
    // matching table's maxExtra folds per exploded row, each
    // re-reading the ArrayData, inside a 96-branch codegen tree and
    // a megabyte of plan literals. Same banding draw (seed 7, the
    // lshTables fill order), same centered sign rule (Double.compare
    // ≡ GreaterThan, per-plane thresholds), so (tbl, bkt, xbits) are
    // bit-identical row for row.
    val hpB = graft.ann.Knn.hyperplanes(g.tables, g.planes, dims, seed = 7)
    val bktArr = call_function("graft_lsh_buckets", col("embedding"),
      typedLit(hpB.flatten.map(_.toSeq).toSeq),
      typedLit(Seq.fill(g.tables * g.planes)(0.0)), lit(g.planes))
    val xbArr = call_function("graft_lsh_buckets", col("embedding"),
      typedLit(xp.flatten.map(_.toSeq).toSeq),
      typedLit((for (t <- 0 until g.tables; j <- 0 until maxExtra) yield thresh(t, j)).toSeq),
      lit(maxExtra))
    e.filter(col("vec_id").isNotNull)
      .select(col("vec_id"),
        posexplode(arrays_zip(bktArr.as("bkt"), xbArr.as("xbits"))).as(Seq("tbl", "z")))
      .select(col("vec_id"), col("tbl"), col("z.bkt").as("bkt"), col("z.xbits").as("xbits"))
      // vacuous but CANONICALIZATION-CRITICAL (the vec_id-filter
      // lesson one block up): arrays_zip types its struct fields
      // nullable (it pads unequal lengths — never happens here, both
      // arrays are tables-long), so the pair join INFERS
      // isnotnull(bkt)/isnotnull(sub→xbits) into its two sides only;
      // stating the filters once below the exchange keeps all four
      // consumer subtrees bit-identical so they share ONE
      // materialized exchange.
      .filter(col("bkt").isNotNull && col("xbits").isNotNull)
      // PINNED partition count (REPARTITION_BY_NUM): with the column
      // form, AQE coalesces this compact exchange to ~1 partition by
      // its tiny MAP bytes (~32 B/row) — and the pair join hanging off
      // it fans out 300× (sf0.1: 24 k keys → 7.5 M pre-distinct
      // pairs), so the whole candidate join + distinct ran on ONE
      // core. Coalescing decides on map-output size and cannot see
      // the fan-out; pinning keeps the join spread across the
      // session's cores. pinnedParallelism reads
      // spark.sql.shuffle.partitions — stable at plan time even on a
      // dynamic-allocation cluster, not a local-mode constant.
      .repartition(graft.Tables.pinnedParallelism(e.sparkSession),
        col("tbl"), col("bkt"))
  }

  /** (tbl, bkt, extra) for buckets whose population exceeds
    * `maxBucket`: at most (corpus·tables)/maxBucket rows, so AQE
    * broadcasts it back against the compact keys. Fed by the
    * already-partitioned compact exchange, the count needs no further
    * shuffle of its own.
    *
    * The count(when(vec_id/xbits not null)) form IS count(*) — both
    * columns are never null — but it keeps them in the aggregate's
    * required set, so column pruning cannot push a narrower Project
    * below [[refinedCompact]]'s repartition: a pruned 2-column twin
    * of that exchange would canonicalize differently from the join
    * sides' 4-column one and fork the shuffle into two
    * materializations (measured: the fork put the banding scan in the
    * plan twice). With the subtree bit-identical everywhere, every
    * consumer collapses onto ONE materialized exchange.
    */
  private[graft] def hotBuckets(compact: DataFrame, maxBucket: Int, maxExtra: Int): DataFrame =
    compact.groupBy("tbl", "bkt")
      .agg(count(when(col("vec_id").isNotNull && col("xbits").isNotNull, 1)).as("count"))
      .filter(col("count") > maxBucket)
      .select(col("tbl"), col("bkt"),
        least(lit(maxExtra.toLong),
          ceil(log(2.0, col("count").cast("double") / maxBucket))).cast("int").as("extra"))

  /** One pair-join side: compact keys + the per-bucket sub key.
    * `probed` applies the 1-bit bucket expansion BEFORE the hot join,
    * so a probed row takes the TARGET bucket's split depth (its sub
    * bits are its own; the mask is the bucket's).
    */
  private[graft] def subKeys(
      compact: DataFrame,
      hot: DataFrame,
      g: graft.ann.LshGeometry,
      probed: Boolean,
      probeSub: Boolean = false,
      probedIncludesSelf: Boolean = true,
      probeSub2: Boolean = false): DataFrame = {
    val keyed =
      if (probed) graft.ann.Knn.probe1Expand(compact, g.planes, probedIncludesSelf)
      else compact
    val withSub = keyed.join(hot, Seq("tbl", "bkt"), "left")
      .withColumn("sub", when(col("extra").isNull, lit(0L))
        .otherwise(col("xbits").bitwiseAND(expr("shiftleft(1L, extra) - 1L"))))
    if (!probeSub) withSub.select("vec_id", "tbl", "bkt", "sub")
    else if (!probeSub2)
      // 1-bit multiprobe over the refinement bits, on this side only:
      // a hot-bucket row also visits the `extra` sub keys at hamming
      // distance 1 — the same recall-recovery trick the base geometry
      // uses, aimed at the recall the split costs. Expansion is
      // (extra+1)× on hot-bucket rows ONLY; cold rows stay single.
      withSub.select(col("vec_id"), col("tbl"), col("bkt"),
        explode(expr(
          """CASE WHEN extra IS NULL THEN array(sub)
             ELSE concat(array(sub),
                         transform(sequence(0, extra - 1), j -> sub ^ shiftleft(1L, j)))
             END""")).as("sub"))
    else
      // hamming-≤2 multiprobe: also visit every sub key with TWO
      // refinement bits flipped — the fragmentation class the r11
      // sf0.1 soak measured (true pairs separated by ≥2 sub bits
      // under deep splits), which hamming-1 cannot reach. Expansion
      // is 1 + extra + C(extra,2) on hot-bucket rows only — still
      // keys-only fan-out on the narrow side of the pair join, and
      // what it buys is a SMALLER bucket cap at the same recall: the
      // within-bucket pairwise term scales with cap², the probe legs
      // linearly with hot rows. extra ≥ 2 guards the pair leg —
      // sequence(0, extra-2) at extra=1 would be the DESCENDING
      // [0,-1] (Spark's start>stop semantics), not empty.
      withSub.select(col("vec_id"), col("tbl"), col("bkt"),
        explode(expr(
          """CASE WHEN extra IS NULL THEN array(sub)
             WHEN extra < 2 THEN
               concat(array(sub),
                      transform(sequence(0, extra - 1), j -> sub ^ shiftleft(1L, j)))
             ELSE
               concat(array(sub),
                      transform(sequence(0, extra - 1), j -> sub ^ shiftleft(1L, j)),
                      flatten(transform(sequence(0, extra - 2), i ->
                        transform(sequence(i + 1, extra - 1),
                          j -> sub ^ shiftleft(1L, i) ^ shiftleft(1L, j)))))
             END""")).as("sub"))
  }

  /** Refined candidate keys (vec_id, tbl, bkt, sub) for the adaptive
    * path — the unit the spec measures bucket-population bounds on.
    * Standalone form (the query path shares one [[refinedCompact]]
    * across both sides instead).
    */
  private[graft] def refinedKeys(
      e: DataFrame,
      g: graft.ann.LshGeometry,
      maxBucket: Int,
      maxExtra: Int,
      dims: Int,
      center: Seq[Double],
      probed: Boolean,
      probeSub: Boolean = false): DataFrame = {
    val compact = refinedCompact(e, g, maxExtra, dims, center)
    subKeys(compact, hotBuckets(compact, maxBucket, maxExtra), g, probed, probeSub)
  }

  /** A NaN or infinite cosine threshold compares false (or true)
    * against every score, and a published `"tau":NaN` sidecar is
    * unreadable: refused at every entry that takes one.
    */
  private def requireFiniteTau(tau: Double, where: String): Unit =
    require(!tau.isNaN && !tau.isInfinite, s"$where: tau must be a finite number, got $tau")

  private def nearDupsImpl(
      emb: DataFrame,
      tau: Double,
      maxBucket: Int,
      maxExtra: Int,
      tables: Int,
      planes: Int,
      probe1: Boolean,
      probeUnion: Boolean = false,
      probeSub2: Boolean = false): DataFrame = {
    requireFiniteTau(tau, "near-dup search")
    import graft.functions.VectorFunctions._
    // spread BEFORE the banding/refinement maps: tables×planes dot
    // products per row fused onto a one-row-group parquet scan would
    // otherwise run on a single core (guide §2.5 unsplittable input;
    // measured at sf0.1: the q65 candidate stage 3.9 s → 1.7 s,
    // candidate set bit-identical). No-op on many-split inputs.
    val e = graft.Tables.spread(emb)
      .select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("nrm"))
    // The small GEOMETRY jobs (stats scan, count, dims head) run on
    // the UNSPREAD projection: they are timed per query invocation,
    // and paying spread's round-robin exchange inside each of them
    // (count alone went scan-only → scan+exchange) costs more than
    // their single-task scans do. Values are unchanged — count and
    // the per-dimension mean are partition-independent aggregates up
    // to the mean's double fold order (the centered-plane thresholds
    // re-verified hash-green at all three scales after this move),
    // and dims is the corpus' uniform embedding width.
    val e0 = emb.select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("nrm"))
    // Adaptive path: element-wise corpus mean (for the centered
    // refinement planes), dimension count, and corpus size all come
    // out of ONE posexplode scan + 64-ish-row partial agg — dims is
    // the stats row count, n is any position's count.
    val stats: Array[(Double, Long)] =
      if (maxBucket <= 0 || maxExtra <= 0) Array.empty
      else e0.select(posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("pos").agg(avg("v").as("m"), count(lit(1)).as("n")).orderBy("pos")
        .collect().map(r => (r.getDouble(1), r.getLong(2)))
    // tables/planes = 0 (the defaults) resolve from corpus size and τ
    // via LshGeometry.resolve (the count job only runs on the plain
    // path — the adaptive path already knows n from the stats scan).
    // At gate scale (n ≤ 2k, τ=0.4) the solver returns the fixed
    // (12, 4, no-probe) geometry the oracles were calibrated against;
    // past it, planes track n (bounded buckets) and the 1-bit probe
    // holds recall. Half-pinned calls solve the open knob for the
    // pinned one — planes=8 with auto tables gets the 8-plane table
    // count, never the 4-plane one.
    val g = graft.ann.LshGeometry.resolve(
      if (stats.nonEmpty) stats.head._2 else emb.count(), tau, tables, planes, probe1)
    // Candidate stage carries ONLY compact keys: the banding shuffle
    // and the bucket self-join never ship embedding arrays.
    val cand = (if (stats.nonEmpty) {
      // ONE shared compact subtree: both sides and the hot table hang
      // off the same (tbl, bkt)-partitioned exchange (ReusedExchange),
      // so the banding + xbits scan runs once.
      val compact = refinedCompact(e, g, maxExtra, stats.length, stats.map(_._1).toSeq)
      val hot = hotBuckets(compact, maxBucket, maxExtra)
      // Probe composition (see adaptiveNearDups): probeUnion visits
      // each hamming-1 variant of the concatenated key exactly ONCE —
      // the sub-probe leg carries the distance-0 key, the bucket-flip
      // leg emits flipped buckets only (probedIncludesSelf = false),
      // so no key duplicates through the join. The default keeps the
      // product (probed AND probeSub), the shape the solver's recall
      // reasoning assumes past gate scale; the union is the pinned
      // q6f point's measured-recall-1.0 opt-in, parity-spec-locked.
      // lazy: the product branch builds its own probed subKeys and
      // must not pay (or appear to share) this plan's construction
      lazy val subLeg =
        subKeys(compact, hot, g, probed = false, probeSub = true, probeSub2 = probeSub2)
      val a = (if (!g.probe1) subLeg
        else if (probeUnion)
          subLeg.unionByName(subKeys(compact, hot, g,
            probed = true, probeSub = false, probedIncludesSelf = false))
        else subKeys(compact, hot, g, probed = true, probeSub = true,
          probeSub2 = probeSub2)).as("a")
      val b = subKeys(compact, hot, g, probed = false).as("b")
      a.join(b,
          col("a.tbl") === col("b.tbl") && col("a.bkt") === col("b.bkt") &&
            col("a.sub") === col("b.sub") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
    } else {
      // NO forced repartition here (tried and reverted): an explicit
      // (tbl, bkt) exchange would let both self-join sides share one
      // banding computation, but it also pins the join to a shuffle
      // plan — at gate/bench scale AQE instead BROADCASTS the compact
      // banded side (70k rows), which is strictly cheaper, and at
      // corpus scale the join's own implicit exchanges already
      // hash-partition both sides. The banding narrow map runs per
      // side either way; when its input is expensive the caller
      // stages it (collapsedNearDups stages the collapse, q6f's
      // adaptive path materializes refinedCompact).
      // dims from the unspread projection: lshTables' own embDims
      // head(1) on the SPREAD frame would materialize the round-robin
      // shuffle just to read one row
      val banded = graft.ann.Knn.lshTables(e, g.tables, g.planes, seed = 7,
          dims = graft.ann.Knn.embDims(e0))
        .select("vec_id", "tbl", "bkt")
      val probedA = if (!g.probe1) banded else graft.ann.Knn.probe1Expand(banded, g.planes)
      val a = probedA.as("a")
      val b = banded.as("b")
      a.join(b,
          col("a.tbl") === col("b.tbl") && col("a.bkt") === col("b.bkt") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
    // Dedup pairs BEFORE the cosine verify: a pair colliding in all
    // `tables` hash tables would otherwise pay `tables` cosines (and
    // ship both arrays through the join each time). After distinct,
    // each unique pair joins its two embeddings back exactly once.
    }).distinct()
    // Verify stage. DOUBLE-typed corpora go through a two-pass split
    // (q74's re-rank pattern, aimed at shuffle BYTES): attaching
    // arrays to candidate PAIRS is the one place the verify stage
    // ships an array per pair through an exchange, so the first pass
    // attaches NORM-PRESCALED float32 copies — x/‖x‖ lives in [−1,1],
    // inside float range for ANY finite double input (raw-element
    // casting would flush subnormal-range corpora to zero and
    // silently drop their true matches), and the unit-dot needs no
    // norms at all, so the pair exchange carries 4 B/dim and nothing
    // else. Pairs scoring ≥ tau − F32Margin re-join the full-precision
    // arrays (survivors ≈ matches — output-sized, so AQE broadcasts
    // the pair list and the corpus streams without a wide exchange)
    // for the bit-exact double cosine the oracles hash. Prescale +
    // rounding perturb the unit dot by ≤ ~2.5e-7 (per-element relative
    // error ≤ ~2⁻²³ over unit vectors, Cauchy–Schwarz), so the 1e-4
    // margin provably cannot drop a true match: verdicts identical,
    // only the transport width moves. FLOAT-typed corpora (the
    // storage norm — the driver parquet included) are already at
    // transport width: they keep the single exact pass, paying no
    // re-join.
    if (!doubleTyped(e)) exactRescore(cand, e, tau)
    else {
      val u32 = prescaledU32(e)
      val near = cand
        .join(u32.select(col("vec_id").as("id_a"), col("u32").as("ua")), "id_a")
        .join(u32.select(col("vec_id").as("id_b"), col("u32").as("ub")), "id_b")
        .filter(dotD(col("ua"), col("ub")) >= tau - F32Margin)
        .select("id_a", "id_b")
      exactRescore(near, e, tau)
    }
  }

  /** Margin for float32-transport candidate passes: pairs scoring
    * within this of τ on norm-prescaled float arrays go to the exact
    * double re-score. 400× the worst-case prescale+rounding
    * perturbation (~2.5e-7 on unit vectors — see the derivation at
    * the use sites), so for any corpus with finite, non-zero norms
    * the two-pass split can never change a verdict, only shuffle
    * bytes. (A non-finite norm — elements past ~1e154 overflowing
    * the sum of squares — has no meaningful cosine on EITHER path;
    * [[prescaledU32]] nulls such rows out of the candidate pass.)
    */
  private[graft] val F32Margin = 1e-4

  /** THE norm-prescaled float32 projection — ONE definition shared by
    * [[nearDupsImpl]]'s pair pass and [[semanticVerdictsFor]]'s cell
    * exchange (margin-sensitive logic must not drift between them).
    * x/‖x‖ ∈ [−1,1] sits inside float range for any finite input
    * where raw-element casting would flush subnormal-range corpora
    * to zero; the GUARD matters under Spark's default ANSI mode,
    * where an unguarded x/0.0 on a zero vector would kill the whole
    * query with DIVIDE_BY_ZERO instead of dropping the un-scorable
    * row the way the guarded exact cosine does. Zero or non-finite
    * norms yield a NULL u32 → null dot → dropped by any ≥ filter,
    * matching the exact path's no-match semantics for zero vectors.
    */
  private def u32Col: Column =
    when(col("nrm") > 0 && !isnan(col("nrm")) && col("nrm") =!= Double.PositiveInfinity,
      transform(col("embedding"), x => x / col("nrm")))
      .cast("array<float>")

  private def prescaledU32(e: DataFrame): DataFrame =
    e.select(col("vec_id"), u32Col.as("u32"))

  /** Exact double re-score of margin survivors — the second half of
    * the two-pass split, shared for the same no-drift reason: joins
    * the full-precision arrays back by id (survivor pair lists are
    * output-sized, so AQE broadcasts them and the corpus streams)
    * and emits the bit-exact cosine the verdicts and oracles use.
    */
  private def exactRescore(pairs: DataFrame, e: DataFrame, tau: Double): DataFrame = {
    import graft.functions.VectorFunctions._
    pairs
      .join(e.select(col("vec_id").as("id_a"), col("embedding").as("ea"), col("nrm").as("na")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("embedding").as("eb"), col("nrm").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        cosine(col("ea"), col("eb"), col("na"), col("nb")).as("cos"))
      .filter(col("cos") >= tau)
  }

  /** True iff the frame's `embedding` column is array<double> — the
    * input width where the float32 transport actually saves bytes.
    */
  private def doubleTyped(df: DataFrame): Boolean =
    df.schema("embedding").dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType, _) => true
      case _ => false
    }

  /** ONE quadratic DuckDB cosine twin for every near-dup entry with
    * the exact-rescored (id_a, id_b, cos) output contract — q65 and
    * q6f hash against the SAME string, so a future edit (threshold,
    * norm guard, cast) cannot drift one without the other.
    */
  private val bruteCosineTwin =
    """WITH e AS (SELECT vec_id, embedding,
                    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
                  FROM embeddings),
            p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                    list_sum(list_transform(list_zip(a.embedding, b.embedding),
                      pr -> CAST(pr[1] AS DOUBLE) * CAST(pr[2] AS DOUBLE))) / (a.nrm * b.nrm) AS cos
                  FROM e a, e b
                  WHERE a.vec_id < b.vec_id AND a.nrm * b.nrm > 0
                    AND isfinite(a.nrm * b.nrm))
            SELECT id_a, id_b, cos FROM p WHERE cos >= 0.4 ORDER BY id_a, id_b"""

  /** q65: hyperplane-LSH embedding near-dup, driver-checked on its
    * verified output against a quadratic DuckDB cosine twin (the q70
    * fold-order precedent makes the doubles bit-identical). The entry
    * pins `probe1 = true`: the 1-bit batch-side multiprobe lifts the
    * gate geometry's recall from the 0.87 solver floor to measured
    * 1.0 on both gate corpora (parity spec), which is what makes the
    * exact oracle valid — candidates still come from the banded
    * self-join, and the library default keeps the solver's choice.
    */
  private val q65 = Qdef(
    "q65_dedup_embedding",
    (s, d) => embeddingNearDups(Tables.embeddings(s, d), probe1 = true).orderBy("id_a", "id_b"),
    Some(bruteCosineTwin))

  /** q6f: the density-adaptive query form, driver-checked on its
    * verified output against the same quadratic DuckDB cosine twin as
    * q65 (identical output contract — exact-rescored (id_a, id_b,
    * cos) pairs). The entry pins `probe1 = true` (the q65 convention),
    * `maxBucket = 64`, and the PRODUCT probe composition widened with
    * the hamming-2 sub-key probe (`probeSub2`) — the r13 re-pin,
    * measured by ProbeSweep against brute truth:
    *
    *  - recall 1.0 at sf0.001 (66/66), sf0.01 (59/59) AND sf0.1
    *    (920/920). The r12 pin (256, union) needed the cap above the
    *    split threshold for the same recall because the UNION probes
    *    (1 bucket bit OR 1 sub bit) cannot reach pairs split by a
    *    bucket bit AND sub bits — the product×hamming-2 ball can,
    *    which is what buys the 4× smaller cap back (64 under union
    *    probes measured 913–914/920);
    *  - at 10× (distinct fan, idle box): 95.5 s vs the 256-union
    *    pin's 104.7 s, AND 89564 vs 89532 of the 98814-pair brute
    *    truth — the smaller cap is faster and no less complete. (No
    *    config reaches the ~9.3k marginal jitter pairs the 10× fan
    *    manufactures just above τ; LSH recall claims remain valid at
    *    MEASURED scales only, which is why the sf0.1 brute lock in
    *    OracleParitySpec is permanent.)
    *
    * At full recall the exact re-score makes the OUTPUT brute-equal,
    * which is all the oracle hashes — hyperplane bucket geometry
    * itself stays SQL-unreproducible. The deeper-split regime keeps
    * its own parity lock at maxBucket=32 in OracleParitySpec plus
    * the uncentered-corpus bound specs. The library default keeps
    * the solver's probe choice.
    */
  private val q6f = Qdef(
    "q6f_dedup_adaptive",
    (s, d) => adaptiveNearDups(Tables.embeddings(s, d), maxBucket = 64,
        probe1 = true, probeSub2 = true)
      .orderBy("id_a", "id_b"),
    Some(bruteCosineTwin))

  // ------------------------------------ semantic (cluster-scoped) dedup

  /** Per-vector semantic-dedup verdicts against a FIXED centroid set
    * — the deterministic core [[semanticDedup]] wraps and the spec
    * injects its own centroids into. One row per input vector:
    * (vec_id, cell, keep, dup_of, best_cos), where dup_of is the
    * smallest same-cell vec_id at cosine ≥ tau (null ⇔ keep) and
    * best_cos the strongest such match.
    *
    * Shape: cell assignment is the narrow argmin map ([[graft.ann.Knn
    * .assignCell]] — the q72 lesson, never a crossJoin+window); the
    * in-cell pair search hangs BOTH self-join sides off ONE
    * cell-repartitioned subtree (the q6f lesson: separately built
    * sides re-run the scan), and the verdict aggregate is a partial
    * agg on the compact (id_b) key. The cell exchange is the only
    * shuffle that ships embeddings.
    */
  private[graft] def semanticVerdictsFor(
      e: DataFrame,
      cents: Seq[(Long, Seq[Double])],
      tau: Double): DataFrame = {
    import graft.functions.VectorFunctions._
    // The cell exchange is the ONE shuffle that ships an array per
    // row. For DOUBLE-typed corpora it ships NORM-PRESCALED float32
    // (x/‖x‖ ∈ [−1,1] — inside float range for any finite input,
    // where raw-element casting would flush subnormal-range corpora
    // to zero; the unit-dot then needs no norms at all, so the
    // exchange carries 4 B/dim and nothing else). In-cell pairs keep
    // at τ − F32Margin (prescale+rounding move the unit dot by
    // ≤ ~2.5e-7 — see F32Margin), and survivors (≈ matches,
    // output-sized) re-join the full-precision arrays by id for the
    // bit-exact cosine the verdicts and oracles use:
    // verdict-identical, transport halved. FLOAT-typed corpora are
    // already at transport width and keep the single exact pass.
    val rows = e.filter(col("vec_id").isNotNull)
    val losses = if (doubleTyped(e)) {
      val parted = graft.ann.Knn.assignCell(rows, cents)
        .select(col("cell"), col("vec_id"), u32Col.as("u32"))
        .repartition(col("cell"))
      val a = parted.toDF("cell", "id_a", "ua")
      val b = parted.toDF("cell", "id_b", "ub")
      // drop rule: a vector loses to ANY smaller same-cell id at
      // cosine ≥ tau, independent of that id's own verdict — the
      // standard greedy id-order rule (deterministic, one aggregation;
      // transitive-clique resolution is q66's job, not this operator's)
      val near = a.join(b, Seq("cell")).filter(col("id_a") < col("id_b"))
        .filter(dotD(col("ua"), col("ub")) >= tau - F32Margin)
        .select("id_a", "id_b")
      exactRescore(near, e, tau)
        .groupBy(col("id_b").as("vec_id"))
        .agg(min("id_a").as("dup_of"), max("cos").as("best_cos"))
    } else {
      val parted = graft.ann.Knn.assignCell(rows, cents)
        .select(col("cell"), col("vec_id"), col("embedding"), col("nrm"))
        .repartition(col("cell"))
      val a = parted.toDF("cell", "id_a", "ea", "na")
      val b = parted.toDF("cell", "id_b", "eb", "nb")
      // same greedy rule, single exact pass — the arrays are already
      // at transport width, a two-pass split would only add joins
      a.join(b, Seq("cell")).filter(col("id_a") < col("id_b"))
        .withColumn("cos", cosine(col("ea"), col("eb"), col("na"), col("nb")))
        .filter(col("cos") >= tau)
        .groupBy(col("id_b").as("vec_id"))
        .agg(min("id_a").as("dup_of"), max("cos").as("best_cos"))
    }
    // verdict base: (vec_id, cell) re-derived as a SECOND narrow
    // argmin pass over the checkpointed input rather than read off
    // `parted` — a 2-column consumer of the repartition would prune
    // below it and fork the array-bearing exchange into a second
    // materialization (the q6f canonicalization lesson), which costs
    // a full compact shuffle; the narrow re-derive costs no shuffle
    // at all and the checkpoint makes it a local scan.
    val base = graft.ann.Knn.assignCell(e.filter(col("vec_id").isNotNull), cents)
      .select(col("vec_id"), col("cell"))
    base.join(losses, Seq("vec_id"), "left")
      .withColumn("keep", col("dup_of").isNull)
      .select("vec_id", "cell", "keep", "dup_of", "best_cos")
  }

  /** SemDeDup-style semantic deduplication: k-means cells scope the
    * pairwise cosine search, so candidate work is Σ_cells sz² instead
    * of n² — the clustering IS the blocking key. Differs from the LSH
    * family (q65/q6f) in what "near" means operationally: cells group
    * by GLOBAL direction structure learned from the corpus (two
    * paraphrases cluster together because the whole corpus shapes the
    * centroids), where LSH buckets are data-independent random
    * cuts — the published trade-off is recall at the cell boundary
    * (a τ-pair straddling two cells is invisible) against candidate
    * sets that track the corpus' own density.
    *
    * Scale: `cells = 0` sizes the index √n ([[graft.ann.Knn
    * .cellsFor]]) → expected cell size √n and Σsz² ≈ n^1.5 on
    * balanced cells, the published operating point; training runs on
    * the capped hash-sample inside [[graft.ann.Knn.ivfCentroids]],
    * assignment is a narrow map.
    *
    * Duplicate-heavy mass — the corpus shape a deduplicator actually
    * sees — is handled in TWO layers:
    *
    *  1. exact-copy COLLAPSE first (the [[collapsedNearDups]] shape):
    *     a partial hash-agg groupBy reduces a 10⁸-copy vector to one
    *     representative per map task before anything shuffles,
    *     training/cells/pairwise all run on the DISTINCT vectors, the
    *     member-expansion join keys on a 96-bit content hash (24
    *     bytes per member, never an array), and member verdicts are
    *     recovered exactly
    *     (a non-rep member of group rep r loses to
    *     `coalesce(dup_of(r), r)` at cosine 1 — provably the same
    *     verdict the uncollapsed greedy rule assigns, because the
    *     minimal same-cell candidate of any vector is always a
    *     representative);
    *  2. a LOUD maxCell guard (the q6a precedent): if, after the
    *     collapse, a trained cell still exceeds the cap — distinct
    *     vectors piling into one direction — the operator fails with
    *     the hot-cell sizes and the remedies (`cells` up,
    *     [[adaptiveNearDups]]'s density splitter) instead of silently
    *     going quadratic in that cell. `maxCell = 0` derives the cap
    *     from the distinct count (16·√n_reps, floored at 4096 so
    *     small corpora never trip it).
    */
  def semanticDedup(
      emb: DataFrame,
      tau: Double = 0.4,
      cells: Int = 0,
      iters: Int = 2,
      maxCell: Int = 0,
      md5Seed: Boolean = false): DataFrame = {
    import graft.functions.VectorFunctions._
    requireFiniteTau(tau, "semanticDedup")
    require(tau <= 1.0, s"semanticDedup: tau=$tau > 1 can never match (cosine <= 1)")
    val rows = emb.select(col("vec_id"), col("embedding"))
      .filter(col("vec_id").isNotNull)
    // collapse: map-side partials absorb hot exact-copy groups; the
    // staged distinct-vector table feeds centroid training, the cell
    // guard, the pairwise stage AND the member join (Stage = persist
    // with lineage, or reliable checkpoint under graft.checkpointDir).
    // Null, null-ELEMENT and zero-NORM embeddings are excluded and
    // recovered by the LEFT member join below as keep-by-default with
    // null lineage — they have no computable cosine, and (crucially)
    // Spark's array hashes SKIP null elements, so [1.0, null] and
    // [1.0] would deterministically share the member-join key;
    // un-scorable rows must never ride the hash path at all.
    //
    // The grouping key KEEPS the array (exact distinct groups, and a
    // pure HashAggregate — adding an array-typed aggregate like
    // first(embedding) would demote the collapse to SortAggregate and
    // put a per-task sort of the member corpus on the hot path). The
    // 96-bit (xxhash64, murmur3) content-hash pair is carried
    // alongside for the MEMBER-EXPANSION join, which is where the
    // array payload would otherwise hurt: members ship 24 bytes each,
    // never an array. A pair-collision between two DISTINCT vectors
    // (~n²/2⁹⁶) is handled below: the staged groups are probed for
    // colliding keys, and the member join widens to the embedding
    // VALUE on a hit — never a fanned-out or wrong verdict.
    // NON-FINITE-norm vectors (zero, NaN from a NaN element, Inf from
    // overflow) are un-scorable too: the guarded cosine is NULL for
    // any such side, so the uncollapsed greedy rule keeps them all —
    // routing them down the hash path would fabricate
    // keep=false/best_cos=1.0 verdicts for exact copies that the
    // within-cell truth (and the spec's brute-force oracle) never
    // drops. They take the un-scorable branch instead: keep-by-default
    // with null lineage, like null-element rows. (`> 0 && < +Inf`
    // excludes NaN in Spark's NaN-greatest ordering: NaN passes `> 0`
    // but fails `< +Inf`.)
    val validEmb = scorableEmb(col("embedding"))
    // the hash pair MUST be part of the grouping key, not recomputed
    // per group afterwards: members hash their RAW arrays, while an
    // array-only grouping key gets ±0.0-normalized — grouping by the
    // array alone could merge two raw-hash variants into one group
    // whose single carried hash strands the other variant's members
    // at the LEFT join (silent under-dedup). Keyed this way the ±0.0
    // variants form two self-consistent groups, and the cosine-1
    // greedy rule still dedups them against each other in-cell.
    val keyed = rows.filter(validEmb)
      .withColumn("gk1", xxhash64(col("embedding")))
      .withColumn("gk2", hash(col("embedding")))
    val groups = graft.Stage.lazily(
      keyed
        .groupBy(col("gk1"), col("gk2"), col("embedding"))
        .agg(min("vec_id").as("rep"))
        .select(col("gk1"), col("gk2"), col("rep"), col("embedding"),
          norm2(col("embedding")).as("nrm")))
    // ONE probe job materializes the staged groups (lazily — its own
    // aggregate is the first full pass) AND answers both driver
    // questions the old shape paid two jobs for: the rep count (cell
    // sizing) and the 96-bit hash-pair collision flag (see the member
    // join below). coalesce: an empty corpus aggregates to nulls, and
    // the zero count must flow to the same loud no-scorable-rows
    // error the old count-then-probe shape raised.
    val probeRow = groups.groupBy("gk1", "gk2").agg(count(lit(1)).as("c"))
      .agg(coalesce(sum("c"), lit(0L)).as("n"), coalesce(max("c"), lit(0L)).as("mx"))
      .head()
    val nReps = probeRow.getLong(0)
    val collided = probeRow.getLong(1) > 1L
    val reps = groups.select(col("rep").as("vec_id"), col("embedding"), col("nrm"))
    val cents = graft.ann.Knn.ivfCentroids(reps, iters, cells, knownN = nReps, md5Seed = md5Seed)
    val cap =
      if (maxCell > 0) maxCell.toLong
      else math.max(4096L, (16.0 * math.sqrt(nReps.toDouble)).toLong)
    // nReps <= cap short-circuits the guard job (r14): no cell can
    // hold more rows than the whole distinct-rep set, so the scan
    // proves nothing the probe job hasn't already — the guard runs
    // exactly when it could fire (large corpora relative to the cap),
    // and gate-scale queries save one driver job.
    val hot =
      if (nReps <= cap) Array.empty[org.apache.spark.sql.Row]
      else graft.ann.Knn.assignCell(reps, cents)
        .groupBy("cell").agg(count(lit(1)).as("sz"))
        .filter(col("sz") > cap)
        .orderBy(col("sz").desc).limit(5)
        .collect()
    if (hot.nonEmpty)
      sys.error(
        s"semanticDedup: cell(s) over the maxCell cap $cap after exact-copy collapse — " +
          hot.map(r => s"cell ${r.getLong(0)}: ${r.getLong(1)} distinct vectors").mkString("; ") +
          ". The in-cell pair search would go quadratic there. Remedies: raise `cells` " +
          "(more, smaller cells), use adaptiveNearDups (density-adaptive bucket splitting), " +
          "or raise `maxCell` explicitly if the quadratic cell is intended.")
    val repV = semanticVerdictsFor(reps, cents, tau)
      .withColumnRenamed("vec_id", "rep")
    // A 96-bit pair shared by two DISTINCT vectors would make the
    // hash-keyed member join ambiguous: every member of both groups
    // fans out into duplicate verdicts (one with a wrong dup_of), and
    // the caller's verdict join fans out with it — silently.
    // `collided` (from the fused probe job above) flags the ~n²/2⁹⁶
    // hit; the member join then widens to the embedding VALUE —
    // exact, at the cost of shipping arrays on the member side of
    // that one join, paid only when the collision actually exists.
    // expand rep verdicts to members: the (hash-key → rep) join ships
    // only (vec_id, gk1, gk2) — 24 bytes per member, never an array —
    // and the verdict join is compact (vec_id, rep) × distinct-sized
    // reps. AQE's skew handling splits the one hot key; nothing here
    // is quadratic in copies. LEFT joins so an un-scorable row (no
    // rep, no verdict) keeps its verdict slot instead of vanishing.
    val memberRep =
      if (!collided)
        keyed.select(col("vec_id"), col("gk1"), col("gk2"))
          .unionByName(rows.filter(!validEmb)
            .select(col("vec_id"), lit(null).cast("bigint").as("gk1"),
              lit(null).cast("int").as("gk2")))
          .join(groups.select(col("gk1"), col("gk2"), col("rep")), Seq("gk1", "gk2"), "left")
          .select(col("vec_id"), col("rep"))
      else
        keyed.select(col("vec_id"), col("gk1"), col("gk2"), col("embedding"))
          .unionByName(rows.filter(!validEmb)
            .select(col("vec_id"), lit(null).cast("bigint").as("gk1"),
              lit(null).cast("int").as("gk2"), col("embedding")))
          .join(groups.select(col("gk1"), col("gk2"), col("embedding"), col("rep")),
            Seq("gk1", "gk2", "embedding"), "left")
          .select(col("vec_id"), col("rep"))
    memberRep
      .join(repV, Seq("rep"), "left")
      .select(
        col("vec_id"),
        col("cell"),
        when(col("rep").isNull, lit(true))
          .when(col("vec_id") === col("rep"), col("keep"))
          .otherwise(lit(false)).as("keep"),
        when(col("vec_id") === col("rep"), col("dup_of"))
          .otherwise(coalesce(col("dup_of"), col("rep"))).as("dup_of"),
        when(col("vec_id") === col("rep"), col("best_cos"))
          // a non-rep member IS an exact copy of its rep: its best
          // match is the rep at cosine 1, always
          .otherwise(when(col("rep").isNotNull, lit(1.0))).as("best_cos"))
  }

  /** DuckDB twin of [[semanticDedup]] AT THE PINNED OPERATING POINT
    * (iters = 0, md5Seed = true): the full verdict chain as CTEs over
    * `srcCte` (any relation exposing (vec_id, embedding)), ending in
    * `semv` with (vec_id, cell, keep, dup_of, best_cos). Shared by
    * the q6g oracle and qa2's composed twin so the two entries'
    * semantic stage can never drift apart.
    *
    * What makes each stage engine-portable (the q63/q66 playbook —
    * pin a reproducible operating point, don't weaken the operator):
    *
    *  - seeds: the k hash-smallest reps by (md5(id-as-string), id) —
    *    both engines emit lowercase-hex md5 of the decimal string,
    *    so the top-k is a plain string sort ([[graft.ann.Knn
    *    .ivfCentroids]] md5Seed branch); iters = 0 makes that seed
    *    set THE centroid set, removing the Lloyd iteration the old
    *    rows-only justification hinged on;
    *  - k: GREATEST(64, LEAST(65536, ceil(sqrt(n_reps)))) —
    *    [[graft.ann.Knn.cellsFor]] verbatim;
    *  - assignment: argmin of squared L2, sequential per-dimension
    *    double fold (DuckDB's list_sum(list_transform) matches
    *    [[graft.functions.ArgMinHelper.argmin]] bit-for-bit — the
    *    q70 fold-order precedent), tie-break (dist, cid) = the
    *    expression's strict-< first-minimum over cid-ordered
    *    centroids;
    *  - verdicts: the greedy rule is NON-recursive (a vector loses to
    *    ANY smaller same-cell id at cosine ≥ τ, independent of that
    *    id's own verdict), so min/max aggregates express it exactly —
    *    no recursive CTE needed;
    *  - collapse/members: group by the embedding LIST (the q6e
    *    precedent) — the 96-bit hash pair is pure transport and never
    *    reaches the output.
    */
  private[graft] def semanticTwinCtes(srcCte: String, tau: Double = 0.4): String =
    s"""semraw AS (SELECT vec_id, embedding FROM $srcCte WHERE vec_id IS NOT NULL),
        semval0 AS (SELECT vec_id, embedding,
                 sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
               FROM semraw
               WHERE embedding IS NOT NULL
                 AND len(list_filter(embedding, x -> x IS NULL)) = 0),
        semval AS (SELECT * FROM semval0 WHERE nrm > 0 AND isfinite(nrm)),
        semgrp AS (SELECT embedding, MIN(vec_id) AS rep FROM semval GROUP BY embedding),
        semk AS (SELECT GREATEST(64, LEAST(65536, CAST(ceil(sqrt(COUNT(*))) AS BIGINT))) AS k FROM semgrp),
        semcents AS (SELECT rep AS cid, embedding AS ce FROM semgrp
                     QUALIFY row_number() OVER (ORDER BY md5(CAST(rep AS VARCHAR)), rep) <= (SELECT k FROM semk)),
        semasg AS (SELECT rep, cell FROM (
                     SELECT g.rep, c.cid AS cell,
                            row_number() OVER (PARTITION BY g.rep ORDER BY
                              list_sum(list_transform(list_zip(g.embedding, c.ce),
                                pr -> (CAST(pr[1] AS DOUBLE) - CAST(pr[2] AS DOUBLE)) * (CAST(pr[1] AS DOUBLE) - CAST(pr[2] AS DOUBLE)))) ASC,
                              c.cid ASC) AS rn
                     FROM semgrp g CROSS JOIN semcents c) t WHERE rn = 1),
        semen AS (SELECT g.rep, g.embedding, a.cell, v.nrm
                  FROM semgrp g JOIN semasg a USING (rep) JOIN semval v ON v.vec_id = g.rep),
        semprs AS (SELECT a.rep AS id_a, b.rep AS id_b,
                     list_sum(list_transform(list_zip(a.embedding, b.embedding),
                       pr -> CAST(pr[1] AS DOUBLE) * CAST(pr[2] AS DOUBLE))) / (a.nrm * b.nrm) AS cos
                   FROM semen a JOIN semen b ON a.cell = b.cell AND a.rep < b.rep),
        semloss AS (SELECT id_b AS rep, MIN(id_a) AS dup_of, MAX(cos) AS best_cos
                    FROM semprs WHERE cos >= $tau GROUP BY id_b),
        semrepv AS (SELECT a.rep, a.cell, l.dup_of IS NULL AS keep, l.dup_of, l.best_cos
                    FROM semasg a LEFT JOIN semloss l USING (rep)),
        semmemb AS (SELECT v.vec_id, g.rep FROM semval v JOIN semgrp g USING (embedding)
                    UNION ALL
                    SELECT r.vec_id, NULL AS rep FROM semraw r
                    WHERE r.vec_id NOT IN (SELECT vec_id FROM semval)),
        semv AS (SELECT m.vec_id, rv.cell,
                   CASE WHEN m.rep IS NULL THEN TRUE
                        WHEN m.vec_id = m.rep THEN rv.keep
                        ELSE FALSE END AS keep,
                   CASE WHEN m.vec_id = m.rep THEN rv.dup_of
                        ELSE COALESCE(rv.dup_of, m.rep) END AS dup_of,
                   CASE WHEN m.vec_id = m.rep THEN rv.best_cos
                        WHEN m.rep IS NOT NULL THEN CAST(1.0 AS DOUBLE) END AS best_cos
                 FROM semmemb m LEFT JOIN semrepv rv ON m.rep = rv.rep)"""

  /** q6g: the semantic-dedup query form, hash-checked end to end
    * against [[semanticTwinCtes]]. The entry pins the engine-portable
    * operating point (iters = 0, md5-top-k seeds) — the REAL
    * collapse → assign → in-cell pair → greedy verdict plan, only the
    * centroid-selection rule is the portable one; the library default
    * keeps Lloyd-trained centroids (better cell balance at corpus
    * scale, same plan shape).
    */
  private val q6g = Qdef(
    "q6g_semantic_dedup",
    (s, d) => semanticDedup(Tables.embeddings(s, d), iters = 0, md5Seed = true)
      .orderBy("vec_id"),
    Some(s"""WITH ${semanticTwinCtes("embeddings")}
             SELECT vec_id, cell, keep, dup_of, best_cos FROM semv ORDER BY vec_id"""))

  /** Incremental embedding ingest filter — the vector twin of q69:
    * a batch of new vectors is screened against the corpus; batch
    * vectors with any corpus neighbor at cosine ≥ `tau` are dropped.
    * Output contract matches [[incrementalNearDups]]: one row per
    * batch vector with (dup_of, n_matches, keep).
    *
    * Default candidates come from the asymmetric hyperplane-LSH join:
    * both sides band onto compact (tbl, bkt) keys (a narrow map), the
    * SMALL batch side broadcasts, so the corpus never shuffles — the
    * q69 shape with buckets instead of minhash bands. `probe1` adds
    * the 1-bit multiprobe on the batch side. `brute = true` scores
    * every (corpus × batch) pair instead; it exists as the oracle
    * gate (q6c) and the recall yardstick — the default never runs a
    * cross join.
    */
  def incrementalVecDups(
      batch: DataFrame,
      corpus: DataFrame,
      tau: Double = 0.4,
      tables: Int = 0,
      planes: Int = 0,
      probe1: Boolean = false,
      brute: Boolean = false): DataFrame = {
    requireFiniteTau(tau, "incrementalVecDups")
    import graft.functions.VectorFunctions._
    def withNorm(df: DataFrame) =
      df.select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("nrm"))
    val b = withNorm(batch)
    val c = withNorm(corpus)
    val scored =
      if (brute)
        c.crossJoin(broadcast(
            b.select(col("vec_id").as("b_id"), col("embedding").as("be"), col("nrm").as("bn"))))
          .select(col("b_id"), col("vec_id").as("c_id"),
            cosine(col("be"), col("embedding"), col("bn"), col("nrm")).as("cos"))
      else {
        // one shared hyperplane set: batch and corpus must hash with
        // the same planes or buckets never align. Dims AND the
        // geometry-driving count both come from the corpus
        // (authoritative at ingest time; the count only runs when a
        // knob is auto); tables/planes = 0 resolve via
        // LshGeometry.resolve, so a growing corpus tightens its own
        // buckets between ingests.
        val dims = graft.ann.Knn.embDims(c)
        val g = graft.ann.LshGeometry.resolve(c.count(), tau, tables, planes, probe1)
        val cb = graft.ann.Knn.lshTables(c, g.tables, g.planes, seed = 7, dims = dims)
          .select(col("vec_id").as("c_id"), col("tbl"), col("bkt"))
        val bb0 = graft.ann.Knn.lshTables(b, g.tables, g.planes, seed = 7, dims = dims)
          .select(col("vec_id").as("b_id"), col("tbl"), col("bkt"))
        val bb = if (!g.probe1) bb0 else graft.ann.Knn.probe1Expand(bb0, g.planes)
        broadcast(bb).join(cb, Seq("tbl", "bkt"))
          .select("b_id", "c_id").distinct()
          .join(broadcast(b.select(col("vec_id").as("b_id"),
            col("embedding").as("be"), col("nrm").as("bn"))), "b_id")
          .join(c.select(col("vec_id").as("c_id"), col("embedding"), col("nrm")), "c_id")
          .select(col("b_id"), col("c_id"),
            cosine(col("be"), col("embedding"), col("bn"), col("nrm")).as("cos"))
      }
    vecVerdicts(batch, scored.filter(col("cos") >= tau))
  }

  /** The (vec_id, dup_of, n_matches, keep) verdict assembly shared by
    * [[incrementalVecDups]] and [[ingestAgainstVecIndex]] — the q6d
    * equivalence oracle depends on these two paths assembling
    * verdicts identically. `hits` carries (b_id, c_id) pairs already
    * filtered to cosine ≥ τ.
    */
  private def vecVerdicts(batch: DataFrame, hits: DataFrame): DataFrame = {
    val matches = hits
      .groupBy(col("b_id").as("vec_id"))
      .agg(min("c_id").as("dup_of"), count(lit(1)).as("n_matches"))
    batch.select("vec_id")
      .join(matches, Seq("vec_id"), "left")
      .select(col("vec_id"), col("dup_of"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        col("dup_of").isNull.as("keep"))
  }

  /** q6c gate: the REAL bucketed path of [[incrementalVecDups]]
    * against the brute-force DuckDB twin — with `probe1 = true` the
    * asymmetric LSH join recovers every ≥ τ match on the gate corpora
    * (measured recall 1.0, pinned by the parity spec), and the cosine
    * fold is bit-identical to DuckDB's (q70 precedent), so the
    * driver's hash-green covers the plan users actually run, not a
    * brute stand-in. `brute = true` remains the in-spec yardstick.
    */
  private val q6c = Qdef(
    "q6c_incremental_vec_dedup",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val isInc = col("vec_id") % 7 === 3
      incrementalVecDups(emb.filter(isInc), emb.filter(!isInc), probe1 = true)
        .orderBy("vec_id")
    },
    Some("""WITH e AS (SELECT vec_id, embedding,
                    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
                  FROM embeddings),
            b AS (SELECT vec_id, embedding, nrm FROM e WHERE vec_id % 7 = 3),
            c AS (SELECT vec_id, embedding, nrm FROM e WHERE vec_id % 7 <> 3),
            m AS (SELECT b.vec_id, MIN(c.vec_id) AS dup_of, COUNT(*) AS n_matches
                  FROM b, c
                  WHERE b.nrm * c.nrm > 0 AND isfinite(b.nrm * c.nrm)
                    AND list_sum(list_transform(list_zip(b.embedding, c.embedding),
                          pr -> CAST(pr[1] AS DOUBLE) * CAST(pr[2] AS DOUBLE))) / (b.nrm * c.nrm) >= 0.4
                  GROUP BY b.vec_id)
            SELECT b2.vec_id, m.dup_of, COALESCE(m.n_matches, 0) AS n_matches,
                   (m.dup_of IS NULL) AS keep
            FROM (SELECT vec_id FROM embeddings WHERE vec_id % 7 = 3) b2
            LEFT JOIN m ON b2.vec_id = m.vec_id
            ORDER BY b2.vec_id"""))

  // ------------------------------------ collapse-then-LSH near-dup

  /** Exact-duplicate collapse + LSH over UNIQUE vectors — the answer
    * to the failure mode the sf≈1 soak manufactures: exact-copy mass
    * makes LSH buckets hot no matter the plane count (every copy of a
    * vector lands in the same bucket of every table, so the
    * mean-bucket model planesFor optimizes is the wrong model for
    * duplicate-heavy corpora — precisely the corpora a deduplicator
    * sees). The scalable shape:
    *
    *  1. group BY THE EMBEDDING VALUE itself — a partial-agg hash
    *     aggregate, so a 10⁸-copy vector collapses to one row per map
    *     task before the shuffle ships anything (the q68 lesson
    *     again);
    *  2. run [[embeddingNearDups]] over the unique representatives —
    *     candidate work now scales with DISTINCT vectors, and the
    *     auto geometry re-solves for that (much smaller) n;
    *  3. report group-aware pairs with multiplicities instead of
    *     expanding cliques: a near-dup between two groups of sizes
    *     (s_a, s_b) stands for s_a·s_b member pairs at the SAME
    *     cosine (members are bit-identical), and a group of size s
    *     stands for s·(s−1)/2 exact pairs at cosine 1 — materializing
    *     them (10⁶ copies → 5·10¹¹ rows) is exactly what a 100 TB
    *     pipeline must not do.
    *
    * Output: (rep_a, rep_b, cos, sz_a, sz_b, n_pairs), where
    * rep_a = rep_b marks a within-group exact-duplicate clique.
    * Σ n_pairs equals the pair count the direct all-pairs form would
    * emit over the SCORABLE corpus (the spec asserts it at gate
    * scale). Un-scorable embeddings — null, containing null
    * elements, or zero-norm — are excluded from pair reporting
    * entirely: the vector folds read a null element as 0.0, so the
    * "pairs" a direct form emits for them score a vector that does
    * not exist, and a zero-norm pair's guarded cosine is NULL (the
    * direct form never matches it — a within-group cos=1 row for a
    * zero-vector clique would be a fabrication).
    */
  def collapsedNearDups(
      emb: DataFrame,
      tau: Double = 0.4,
      tables: Int = 0,
      planes: Int = 0,
      probe1: Boolean = false): DataFrame = {
    requireFiniteTau(tau, "collapsedNearDups")
    // group by the array VALUE: exact distinct groups and a pure
    // HashAggregate (array grouping keys hash-aggregate fine; an
    // array-typed AGGREGATE like first(embedding) would demote this
    // to SortAggregate and sort the member corpus per task). Nothing
    // downstream joins back to members here — pairs are reported
    // group-aware — so a compact surrogate key buys nothing.
    // Un-scorable embeddings (null, containing null elements, or
    // zero-norm — no computable cosine) are excluded from pair
    // reporting.
    //
    // STAGE the collapse (the qa2/q6g pattern): its output feeds the
    // geometry count, both candidate-band sides, the verify joins,
    // the two sizes joins, and the within-group branch — unstaged,
    // the auto-geometry count() re-runs the corpus-sized groupBy as
    // its own job and every plan fragment re-plans it. The staged
    // count doubles as the solver's n, so the count job disappears
    // entirely (resolve gets pinned knobs and skips its own action).
    val nrmC = graft.functions.VectorFunctions.norm2(col("embedding"))
    val (groups, nReps) = graft.Stage.counted(emb
      .filter(col("embedding").isNotNull &&
        !graft.functions.VectorFunctions.vecHasNull(col("embedding")) &&
        nrmC > 0.0 && nrmC < Double.PositiveInfinity)
      .groupBy(col("embedding"))
      .agg(min("vec_id").as("rep"), count(lit(1)).as("sz")))
    val g = graft.ann.LshGeometry.resolve(nReps, tau, tables, planes, probe1)
    val reps = groups.select(col("rep").as("vec_id"), col("embedding"))
    val sizes = groups.select(col("rep"), col("sz"))
    val cross = embeddingNearDups(reps, g.tables, g.planes, tau, g.probe1)
      .join(sizes.select(col("rep").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col("rep").as("id_b"), col("sz").as("sz_b")), "id_b")
      .select(col("id_a").as("rep_a"), col("id_b").as("rep_b"), col("cos"),
        col("sz_a"), col("sz_b"), (col("sz_a") * col("sz_b")).as("n_pairs"))
    val within = sizes.filter(col("sz") > 1)
      .select(col("rep").as("rep_a"), col("rep").as("rep_b"), lit(1.0).as("cos"),
        col("sz").as("sz_a"), col("sz").as("sz_b"),
        // integral DIV, not `/`: Spark's `/` is double division, which
        // rounds past 2^53 — a 2·10^8-copy group (exactly the scale the
        // collapse exists for) would report n_pairs off-by-ULPs while
        // the DuckDB twin computes the exact integer quotient
        expr("CAST((sz * (sz - 1)) DIV 2 AS BIGINT)").as("n_pairs"))
    cross.unionByName(within)
  }

  /** q6e: the collapse-then-LSH query form, driver-checked against a
    * DuckDB twin that reproduces the whole contract — DuckDB groups
    * by the embedding LIST value for the collapse, the quadratic
    * rep-pair cosine uses the q70 fold order (bit-identical doubles),
    * and the within-group rows are pure integer arithmetic. Exactness
    * of the LSH stage at the gate scales comes from the pinned
    * `probe1 = true` (measured recall 1.0 — the parity spec); the
    * multiplicity/expansion invariants keep their own spec oracle.
    */
  private val q6e = Qdef(
    "q6e_dedup_collapsed",
    (s, d) => collapsedNearDups(Tables.embeddings(s, d), probe1 = true).orderBy("rep_a", "rep_b"),
    Some("""WITH g AS (SELECT embedding, MIN(vec_id) AS rep, COUNT(*) AS sz
                  FROM embeddings
                  WHERE embedding IS NOT NULL
                    AND len(list_filter(embedding, x -> x IS NULL)) = 0
                    AND sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) > 0
                    AND isfinite(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
                  GROUP BY embedding),
            e AS (SELECT rep, sz, embedding,
                    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
                  FROM g),
            cp AS (SELECT a.rep AS rep_a, b.rep AS rep_b,
                    list_sum(list_transform(list_zip(a.embedding, b.embedding),
                      pr -> CAST(pr[1] AS DOUBLE) * CAST(pr[2] AS DOUBLE))) / (a.nrm * b.nrm) AS cos,
                    a.sz AS sz_a, b.sz AS sz_b, CAST(a.sz * b.sz AS BIGINT) AS n_pairs
                  FROM e a, e b
                  WHERE a.rep < b.rep AND a.nrm * b.nrm > 0
                    AND isfinite(a.nrm * b.nrm)),
            w AS (SELECT rep AS rep_a, rep AS rep_b, CAST(1.0 AS DOUBLE) AS cos,
                    sz AS sz_a, sz AS sz_b, CAST((sz * (sz - 1)) // 2 AS BIGINT) AS n_pairs
                  FROM e WHERE sz > 1)
            SELECT rep_a, rep_b, cos, sz_a, sz_b, n_pairs FROM cp WHERE cos >= 0.4
            UNION ALL
            SELECT rep_a, rep_b, cos, sz_a, sz_b, n_pairs FROM w
            ORDER BY rep_a, rep_b"""))

  // ---------------------------------------- persisted vector index

  /** Persisted hyperplane-bucket index for continuous EMBEDDING
    * ingest — the vector twin of [[commitBandIndex]]: the corpus's
    * (vec_id, tbl, bkt) bucket keys live in an append-only snapshot
    * store, so screening an ingest batch never re-bands (or even
    * scans the embeddings of) the accumulated corpus.
    *
    * The hyperplane GEOMETRY is resolved once at build time and
    * pinned in a sidecar: bucket keys from two different hyperplane
    * sets never align, so a growing corpus must NOT re-resolve its
    * auto geometry between ingests — delta commits extend the SAME
    * hash tables. When the corpus outgrows the built geometry (mean
    * bucket = n/2^planes drifting past the solver's target), rebuild
    * with [[commitVecIndex]]: the new full snapshot supersedes all
    * earlier segments, exactly like [[compactBandIndex]]'s contract.
    */
  /** One pinned geometry: what [[commitVecIndex]] resolves and every
    * ingest MUST band with (including the probe decision — the solver
    * sizes tables ASSUMING the probe once planes pass the gate
    * default, so banding without it at ingest would silently collapse
    * recall to the unprobed curve).
    */
  final case class VecIndexGeom(tables: Int, planes: Int, dims: Int, tau: Double, probe1: Boolean)

  def commitVecIndex(
      corpus: DataFrame,
      root: String,
      tau: Double = 0.4,
      tables: Int = 0,
      planes: Int = 0,
      probe1: Boolean = false): Long = {
    requireFiniteTau(tau, "commitVecIndex")
    val spark = corpus.sparkSession
    import spark.implicits._
    val e = corpus.select(col("vec_id"), col("embedding"),
      graft.functions.VectorFunctions.norm2(col("embedding")).as("nrm"))
    // ONE aggregate job answers BOTH geometry inputs the solver needs
    // — the corpus count and the embedding width — where the old
    // shape paid a head() job (embDims) plus a count() job over the
    // same scan. first(when(scorable, size), ignoreNulls) reproduces
    // embDims' first-scorable-row rule; on a mixed-width corpus the
    // representative can differ by partition order, which embDims
    // already documents as an equally valid choice.
    val statsRow = e.agg(
      count(lit(1)).as("n"),
      first(when(graft.functions.VectorFunctions.scorableEmb(col("embedding")),
        size(col("embedding"))), ignoreNulls = true).as("d")).head()
    val dims = if (statsRow.isNullAt(1)) None else Some(statsRow.getInt(1))
    // a data-derived geometry needs data: pinning dims=0 from an empty
    // (or all-null-embedding) corpus would degenerate every future
    // ingest to one bucket
    require(dims.nonEmpty, s"commitVecIndex needs a corpus with at least one non-null embedding (geometry is data-derived)")
    // `probe1 = true` REQUESTS the 1-bit batch-side multiprobe even
    // where the solver wouldn't turn it on (gate-scale geometries):
    // the decision is pinned in the sidecar and every ingest honors
    // it, so an index built for exact-recall screening (q6d's oracle
    // operating point) keeps that property across its whole life.
    val g = graft.ann.LshGeometry.resolve(statsRow.getLong(0), tau, tables, planes, probe1 = probe1)
    val v = graft.sources.Snapshots.commit(
      graft.ann.Knn.lshTables(e, g.tables, g.planes, seed = 7, dims = dims)
        .select("vec_id", "tbl", "bkt"),
      root)
    // geometry publishes AFTER its snapshot, under the snapshot's own
    // version (never overwritten): readers only adopt a full snapshot
    // once its sidecar exists, so a crash mid-rebuild leaves the old
    // (snapshot, geometry) pair fully consistent and a concurrent
    // ingest never sees a half-written sidecar
    writeGeom(spark, root, v, VecIndexGeom(g.tables, g.planes, dims.get, tau, g.probe1))
    v
  }

  private def geomPath(root: String, v: Long): String = s"$root/_geom/v$v"

  /** Published-geometry memo: a (root, version) sidecar is immutable
    * once published (never overwritten — the read gate's whole
    * premise), so one filesystem read per JVM serves every later
    * ingest/serve lookup of the same index version. The q6d lifecycle
    * alone reads the same geometry three times without this.
    */
  private val geomMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), VecIndexGeom]()

  /** Drop every memoized geometry (later lookups re-read the
    * sidecars); [[graft.Stage.releaseAll]] calls this, so a long-lived
    * session that builds index after index does not grow the memo
    * without bound.
    */
  private[graft] def clearGeomMemo(): Unit = geomMemo.clear()

  /** Test seam: memoized geometries. */
  private[graft] def geomMemoSize: Int = geomMemo.size()

  /** The sidecar is a one-line JSON FILE written driver-side: the old
    * 1-row parquet sidecar cost a full Spark write job per publish
    * and a read job per geometry load — pure scheduler overhead for
    * five scalars. Written to a temp name and renamed into place, so
    * the existence check ([[hasGeom]]) that gates snapshot adoption
    * can never observe a half-written sidecar. A publish to a version
    * whose sidecar exists is refused before the rename (HDFS's rename
    * fails onto an existing target, but a local filesystem's POSIX
    * rename silently replaces it). Old parquet sidecars (directories)
    * stay readable forever — see [[readGeom]].
    */
  private[graft] def writeGeom(
      spark: org.apache.spark.sql.SparkSession,
      root: String, v: Long, g: VecIndexGeom): Unit = {
    val p = new org.apache.hadoop.fs.Path(geomPath(root, v))
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(
      s"$root/_geom/.tmp-v$v-${java.util.UUID.randomUUID.toString.take(8)}")
    val json = String.format(java.util.Locale.ROOT,
      """{"tables":%d,"planes":%d,"dims":%d,"tau":%s,"probe1":%b}""",
      Int.box(g.tables), Int.box(g.planes), Int.box(g.dims),
      g.tau.toString, Boolean.box(g.probe1))
    val out = f.create(tmp, false)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    if (f.exists(p) || !f.rename(tmp, p)) {
      f.delete(tmp, false)
      throw new IllegalStateException(
        s"geometry sidecar for v$v of $root already exists (sidecars are never overwritten)")
    }
    geomMemo.put((root, v), g)
    ()
  }

  /** Read one version's geometry: memo → JSON file → (back-compat)
    * the pre-r14 1-row parquet directory form.
    */
  private def readGeom(
      spark: org.apache.spark.sql.SparkSession, root: String, v: Long): VecIndexGeom = {
    val key = (root, v)
    val hit = geomMemo.get(key)
    if (hit != null) return hit
    val p = new org.apache.hadoop.fs.Path(geomPath(root, v))
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val g =
      if (f.getFileStatus(p).isDirectory) {
        // pre-r14 sidecar: a 1-row parquet directory
        val r = spark.read.parquet(geomPath(root, v)).head()
        VecIndexGeom(r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3), r.getBoolean(4))
      } else {
        val in = f.open(p)
        val txt =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        org.json4s.jackson.JsonMethods.parse(txt) match {
          case o: org.json4s.JObject =>
            implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
            VecIndexGeom(
              (o \ "tables").extract[Int], (o \ "planes").extract[Int],
              (o \ "dims").extract[Int], (o \ "tau").extract[Double],
              (o \ "probe1").extract[Boolean])
          case other => throw new IllegalStateException(
            s"malformed geometry sidecar $p: $other")
        }
      }
    geomMemo.put(key, g)
    g
  }

  private def hasGeom(spark: org.apache.spark.sql.SparkSession, root: String, v: Long): Boolean = {
    val p = new org.apache.hadoop.fs.Path(geomPath(root, v))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The base version vec readers agree on: the NEWEST full snapshot
    * whose geometry sidecar is published. A full snapshot without its
    * sidecar (crash between commit and publish) is invisible — the
    * previous consistent pair keeps serving.
    */
  private def vecBaseVersion(
      spark: org.apache.spark.sql.SparkSession, root: String): (Long, Seq[(Long, String, String)]) = {
    val vs = graft.sources.Snapshots.versions(spark, root)
    require(vs.nonEmpty, s"no vector index committed at $root (run commitVecIndex first)")
    val baseV = vs.filter(t => t._2 == "full" && hasGeom(spark, root, t._1))
      .map(_._1).maxOption.getOrElse(
        throw new IllegalStateException(s"no published full vector-index snapshot in $root"))
    (baseV, vs)
  }

  /** Retention for the persisted VECTOR index: vacuum pinned at the
    * reader's OWN base — the newest full snapshot whose geometry
    * sidecar is PUBLISHED — never at the raw newest full. A plain
    * `Snapshots.vacuum(root, latest)` would resolve its base to a
    * full whose sidecar never landed (crash between the rebuild's
    * commit and its geometry publish — the exact window the
    * sidecar gate exists for) and physically delete the segments the
    * gated reader is still serving from, killing the index forever.
    * Sidecars of the vacuumed versions are deleted along with them.
    */
  def vacuumVecIndex(spark: org.apache.spark.sql.SparkSession, root: String): Seq[Long] = {
    val (baseV, _) = vecBaseVersion(spark, root)
    val deleted = graft.sources.Snapshots.vacuum(spark, root, keepAfterVersion = baseV)
    deleted.foreach { v =>
      val p = new org.apache.hadoop.fs.Path(geomPath(root, v))
      val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (f.exists(p)) { f.delete(p, true); () }
    }
    deleted
  }

  /** Retention for the persisted BAND index: its readers base on the
    * newest full snapshot unconditionally ([[readBandIndex]]), so the
    * plain store vacuum at the tip is safe — this wrapper just names
    * the operational intent next to [[compactBandIndex]].
    */
  def vacuumBandIndex(spark: org.apache.spark.sql.SparkSession, root: String): Seq[Long] =
    graft.sources.Snapshots.vacuum(spark, root,
      graft.sources.Snapshots.latestVersion(spark, root))

  /** The pinned build-time geometry of the index at `root`. */
  def vecIndexGeometry(spark: org.apache.spark.sql.SparkSession, root: String): VecIndexGeom = {
    val (baseV, _) = vecBaseVersion(spark, root)
    readGeom(spark, root, baseV)
  }

  /** Base segment + subsequent DELTAS as one narrow union — shared by
    * both persisted indexes ([[readBandIndex]]'s read contract), and
    * ONE definition with the corpus stores' append-only read
    * ([[graft.sources.Snapshots.readChain]]): a supersession-rule fix
    * lands in every reader at once. A full snapshot NEWER than the
    * chosen base is skipped: for the vec index the base is
    * sidecar-gated, so a crash between a compaction commit and its
    * geometry publish must not let the half-published fold
    * double-count against the segments it folded.
    */
  private def readSegments(
      spark: org.apache.spark.sql.SparkSession,
      root: String,
      baseV: Long,
      vs: Seq[(Long, String, String)]): DataFrame =
    graft.sources.Snapshots.readChain(spark, root, baseV, vs)

  /** Latest PUBLISHED full snapshot + subsequent deltas — over bucket
    * keys instead of band hashes.
    */
  def readVecIndex(spark: org.apache.spark.sql.SparkSession, root: String): DataFrame = {
    val (baseV, vs) = vecBaseVersion(spark, root)
    readSegments(spark, root, baseV, vs)
  }

  /** Ingest verdicts for a vector `batch` against the PERSISTED
    * bucket index — same output contract as [[incrementalVecDups]],
    * with candidate generation reading the stored keys: the (tiny)
    * batch bands with the INDEX'S pinned geometry and broadcasts
    * against the index scan; only verified candidates touch
    * embeddings (compact id pairs broadcast against the corpus
    * vector scan, batch vectors broadcast). `probe1` expands the
    * batch side only, as in [[incrementalVecDups]]. Per-ingest cost:
    * one index scan + one corpus-vector scan bounded by candidates —
    * the corpus is never re-banded.
    */
  def ingestAgainstVecIndex(
      batch: DataFrame,
      corpusVecs: DataFrame,
      root: String): DataFrame = {
    val spark = batch.sparkSession
    ingestWithGeom(batch, corpusVecs, root, vecIndexGeometry(spark, root))
  }

  /** The ingest body, parameterized by an already-read geometry so
    * [[ingestAndCommitVec]] touches the sidecar and manifest once per
    * cycle, not once per step. The probe decision is the STORED one:
    * the solver sized the index's tables assuming it.
    */
  private def ingestWithGeom(
      batch: DataFrame,
      corpusVecs: DataFrame,
      root: String,
      g: VecIndexGeom): DataFrame = {
    import graft.functions.VectorFunctions._
    val spark = batch.sparkSession
    val b = batch.select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("nrm"))
    val bb0 = graft.ann.Knn.lshTables(b, g.tables, g.planes, seed = 7, dims = Some(g.dims))
      .select(col("vec_id").as("b_id"), col("tbl"), col("bkt"))
    val bb = if (!g.probe1) bb0 else graft.ann.Knn.probe1Expand(bb0, g.planes)
    val cb = readVecIndex(spark, root).select(col("vec_id").as("c_id"), col("tbl"), col("bkt"))
    val cand = broadcast(bb).join(cb, Seq("tbl", "bkt")).select("b_id", "c_id").distinct()
    val hits = broadcast(cand)
      .join(corpusVecs.select(col("vec_id").as("c_id"), col("embedding"),
        norm2(col("embedding")).as("nrm")), "c_id")
      .join(broadcast(b.select(col("vec_id").as("b_id"),
        col("embedding").as("be"), col("nrm").as("bn"))), "b_id")
      .select(col("b_id"), col("c_id"),
        cosine(col("be"), col("embedding"), col("bn"), col("nrm")).as("cos"))
      .filter(col("cos") >= g.tau)
    vecVerdicts(batch, hits)
  }

  /** [[ingestAgainstVecIndex]] + index maintenance: keepers' bucket
    * keys (banded with the PINNED geometry) commit back as an
    * append-only delta, so the next ingest sees them through the
    * store. The [[keepersOf]] rule, keyed by vec_id.
    */
  def ingestAndCommitVec(
      batch: DataFrame,
      corpusVecs: DataFrame,
      root: String): DataFrame = {
    val spark = batch.sparkSession
    val g = vecIndexGeometry(spark, root)
    val verdicts = graft.Stage.cut(ingestWithGeom(batch, corpusVecs, root, g))
    val keepers = keepersOf(batch, verdicts, key = "vec_id")
      .select(col("vec_id"), col("embedding"),
        graft.functions.VectorFunctions.norm2(col("embedding")).as("nrm"))
    // retrying (see Snapshots.commitDeltaRetrying): a concurrent
    // compactVecIndex must not kill the ingest cycle — bands are a
    // version-independent append
    graft.sources.Snapshots.commitDeltaRetrying(
      graft.ann.Knn.lshTables(keepers, g.tables, g.planes, seed = 7, dims = Some(g.dims))
        .select("vec_id", "tbl", "bkt"),
      root)
    verdicts
  }

  /** Fold the vector index's delta chain into a fresh full snapshot —
    * [[compactBandIndex]]'s contract. The UNCHANGED geometry is
    * re-published under the new version (readers adopt a full
    * snapshot only once its sidecar exists; a fold that crashed
    * before publishing stays invisible and the old chain keeps
    * serving, without double-counting — see [[readSegments]]).
    */
  def compactVecIndex(spark: org.apache.spark.sql.SparkSession, root: String): Long = {
    val g = vecIndexGeometry(spark, root)
    val v = graft.sources.Snapshots.commit(readVecIndex(spark, root), root)
    writeGeom(spark, root, v, g)
    v
  }

  /** q6d: two successive vector-ingest batches through the persisted
    * bucket index — q6b's cycle for embeddings, now driver-checked
    * against a two-round brute-force DuckDB twin: the index is built
    * with `probe1 = true` pinned in its sidecar, which holds ingest
    * recall at measured 1.0 on the gate corpora (parity spec), so
    * round-1 keepers and round-2 verdicts both reproduce the
    * exhaustive semantics hash-exactly while the plan stays the real
    * index-backed ingest (corpus never re-banded). The ScalaTest
    * oracle additionally asserts equivalence against the direct
    * [[incrementalVecDups]] pipeline. Fresh temp store per run,
    * deleted after materializing (q6b's side-effect discipline).
    */
  /** The (corpus, batch1, batch2) split the q6d lifecycle measures —
    * ONE definition shared by the Qdef below and Bench's
    * q6d_build/q6d_ingest phase decomposition, so the bench phases
    * can never silently drift from the query they claim to decompose.
    */
  private[graft] def q6dSplit(emb: DataFrame): (DataFrame, DataFrame, DataFrame) = (
    emb.filter(col("vec_id") % 7 =!= 3 && col("vec_id") % 7 =!= 5),
    emb.filter(col("vec_id") % 7 === 3),
    emb.filter(col("vec_id") % 7 === 5))

  private val q6d = Qdef(
    "q6d_vec_index_ingest",
    (s, d) => {
      val (corpus, b1, b2) = q6dSplit(Tables.embeddings(s, d))
      val tmp = java.nio.file.Files.createTempDirectory("graft-vecindex")
      val root = s"$tmp/idx"
      try {
        commitVecIndex(corpus, root, probe1 = true)
        val v1 = ingestAndCommitVec(b1, corpus, root)
        val corpus2 = corpus.unionByName(
          b1.join(v1.filter(col("keep")).select("vec_id"), Seq("vec_id"), "left_semi"))
        graft.Stage.cut(ingestAgainstVecIndex(b2, corpus2, root).orderBy("vec_id"))
      } finally {
        val p = new org.apache.hadoop.fs.Path(tmp.toString)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        ()
      }
    },
    Some("""WITH e AS (SELECT vec_id, embedding,
                    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
                  FROM embeddings),
            c AS (SELECT * FROM e WHERE vec_id % 7 <> 3 AND vec_id % 7 <> 5),
            b1 AS (SELECT * FROM e WHERE vec_id % 7 = 3),
            b2 AS (SELECT * FROM e WHERE vec_id % 7 = 5),
            k1 AS (SELECT * FROM b1 WHERE NOT EXISTS (
                    SELECT 1 FROM c
                    WHERE b1.nrm * c.nrm > 0 AND isfinite(b1.nrm * c.nrm)
                      AND list_sum(list_transform(list_zip(b1.embedding, c.embedding),
                            pr -> CAST(pr[1] AS DOUBLE) * CAST(pr[2] AS DOUBLE))) / (b1.nrm * c.nrm) >= 0.4)),
            c2 AS (SELECT * FROM c UNION ALL SELECT * FROM k1),
            m AS (SELECT b2.vec_id, MIN(c2.vec_id) AS dup_of, COUNT(*) AS n_matches
                  FROM b2, c2
                  WHERE b2.nrm * c2.nrm > 0 AND isfinite(b2.nrm * c2.nrm)
                    AND list_sum(list_transform(list_zip(b2.embedding, c2.embedding),
                          pr -> CAST(pr[1] AS DOUBLE) * CAST(pr[2] AS DOUBLE))) / (b2.nrm * c2.nrm) >= 0.4
                  GROUP BY b2.vec_id)
            SELECT b.vec_id, m.dup_of, COALESCE(m.n_matches, 0) AS n_matches,
                   (m.dup_of IS NULL) AS keep
            FROM (SELECT vec_id FROM embeddings WHERE vec_id % 7 = 5) b
            LEFT JOIN m ON b.vec_id = m.vec_id
            ORDER BY b.vec_id"""))

  // ------------------------------------------- cluster resolution

  /** Resolve near-dup pairs into clusters (connected components) by
    * iterative min-label propagation: every doc starts labeled with
    * its own id; each round every doc takes the min label among itself
    * and its neighbors; converged when nothing changes (≤ component
    * diameter rounds — near-dup clusters are small, so 2-4 in
    * practice, capped). Each round is one shuffle on doc_id;
    * `localCheckpoint` cuts lineage so round i+1 does not re-plan
    * round i (a reliable checkpoint dir serves the same purpose on a
    * cluster). Returns (doc_id, cluster_id = min doc_id of the
    * component) for every doc that appears in a pair.
    */
  /** Lineage cut for iterative loops — [[graft.Stage.cut]]: defaults
    * to `localCheckpoint` (executor-local blocks — fastest, fine on
    * local[n] and for short loops); for 100 TB runs set
    * `spark.conf.set("graft.checkpointDir", "hdfs://...")` and the
    * loop uses reliable `checkpoint` instead (same plan, recoverable).
    */
  private def cut(df: DataFrame, eager: Boolean): DataFrame =
    graft.Stage.cut(df, eager)

  def nearDupClusters(pairs: DataFrame, maxIters: Int = 10): DataFrame = {
    // materialize the edge list once — `pairs` is usually the whole
    // candidate pipeline (minhash → LSH → verify), and every CC
    // iteration joins against edges; without the checkpoint each
    // round would re-execute that upstream pipeline
    // Eager cuts, NOT lazy (r14, measured): round 1's join reads
    // edges on BOTH sides, so a lazy checkpoint materializes in two
    // racing branches and the candidate pipeline can execute twice —
    // probed at +0.2 s, reverted.
    val edges = cut(pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst"))), eager = true)
    var labels = cut(edges.select(col("src").as("doc_id")).distinct()
      .withColumn("label", col("doc_id")), eager = true)
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      val neighborMin = edges
        .join(labels, edges("src") === labels("doc_id"))
        .groupBy(col("dst").as("doc_id"))
        .agg(min("label").as("nlabel"))
      // carry the previous label through so convergence falls out of
      // the same pass. The checkpoint is LAZY: the convergence count
      // below is the action that materializes it, so each round runs
      // exactly ONE job (the old eager-checkpoint-then-isEmpty shape
      // paid two).
      val updated = cut(labels
        .join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"), col("label").as("old"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label")),
        eager = false)
      converged = updated.filter(col("label") =!= col("old")).count() == 0L
      labels = updated.select("doc_id", "label")
      it += 1
    }
    // a silently-unconverged result would split components and leave
    // duplicate "canonicals" in the corpus — fail loudly instead
    if (!converged)
      throw new IllegalStateException(
        s"nearDupClusters did not converge in $maxIters rounds " +
          "(a component's diameter exceeds maxIters; raise it)")
    labels.withColumnRenamed("label", "cluster_id")
  }

  /** The deduplicated corpus: drop every doc that belongs to a
    * near-dup cluster but is not its canonical (min-id) member.
    * Docs in no pair survive untouched (left anti join on losers).
    */
  def dedupedCorpus(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val losers = nearDupClusters(pairs)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select("doc_id")
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** End-to-end resolve over the verified-jaccard pairs: cluster
    * summary (canonical id, member count) for every multi-doc cluster.
    *
    * Oracle: q64's (hash-green) pair SQL feeds a recursive
    * transitive-closure CTE — cluster_id = min reachable doc_id, the
    * exact min-label-CC fixpoint the Spark loop converges to.
    */
  private val q66 = Qdef(
    "q66_dedup_resolve",
    (s, d) => {
      // verifiedPairs, NOT q64.run: the oracle's total ORDER BY would
      // cost a full sort shuffle only to be thrown away by the
      // symmetric-edge union
      val pairs = verifiedPairs(s, d).select("id_a", "id_b")
      nearDupClusters(pairs)
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"))
        .orderBy("cluster_id")
    },
    Some("""WITH RECURSIVE
            t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
            g AS (SELECT doc_id,
                    list_distinct(list_transform(generate_series(1, len(toks)-2),
                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
                  FROM t WHERE len(toks) >= 3),
            p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                    CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) AS jaccard
                  FROM g a JOIN g b ON a.doc_id < b.doc_id
                  WHERE len(list_distinct(a.sh || b.sh)) > 0),
            pr AS (SELECT id_a, id_b FROM p WHERE jaccard >= 0.8),
            edges AS (SELECT id_a AS src, id_b AS dst FROM pr
                      UNION ALL SELECT id_b, id_a FROM pr),
            reach AS (SELECT src AS node, src AS r FROM edges
                      UNION
                      SELECT e.src AS node, rr.r FROM edges e JOIN reach rr ON rr.node = e.dst),
            labels AS (SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node)
            SELECT cluster_id, COUNT(*) AS n_members FROM labels
            GROUP BY cluster_id ORDER BY cluster_id"""))

  // ------------------------------------------- decontamination

  /** Benchmark decontamination: flag training docs sharing any word
    * 5-gram with a held-out eval set (the public GPT-3/Llama-report
    * n-gram-overlap recipe). The eval side reduces to a distinct
    * shingle set FIRST — eval suites are tiny next to a 100 TB corpus,
    * so that set broadcasts and the corpus-side explode is filtered by
    * the broadcast join BEFORE the per-doc count shuffle: most
    * shingles drop at the scan stage and never ship.
    */
  def contaminated(corpus: DataFrame, benchmark: DataFrame, k: Int = 5): DataFrame = {
    // outer-explode (the q6h lesson): InferFiltersFromGenerate would
    // otherwise re-derive the k-gram string builder twice more into
    // the scan's DataFilters. Identical rows: array_distinct
    // preserves containsNull=false, so null sh ⇔ the synthetic outer
    // row for null/short docs.
    def docShingles(df: DataFrame) = df.select(col("doc_id"),
      explode_outer(array_distinct(
        call_function("graft_shingle_strings", col("text"), lit(k)))).as("sh"))
      .filter(col("sh").isNotNull)
    val benchSet = docShingles(benchmark).select("sh").distinct()
    docShingles(corpus)
      .join(broadcast(benchSet), "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
  }

  private val q67 = Qdef(
    "q67_decontaminate",
    (s, d) => {
      val docs = Tables.documents(s, d)
      contaminated(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0))
        .orderBy("doc_id")
    },
    Some("""WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
            g AS (SELECT doc_id,
                    list_distinct(list_transform(generate_series(1, len(toks) - 4),
                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
                           toks[i+3] || ' ' || toks[i+4])) AS sh
                  FROM t WHERE len(toks) >= 5),
            b AS (SELECT DISTINCT unnest(sh) AS s FROM g WHERE doc_id % 7 = 0),
            c AS (SELECT doc_id, unnest(sh) AS s FROM g WHERE doc_id % 7 <> 0)
            SELECT doc_id, COUNT(*) AS n_shared
            FROM c JOIN b USING (s)
            GROUP BY doc_id ORDER BY doc_id"""))

  // ------------------------------------------------- passage-level dedup

  /** C4/RefinedWeb-style duplicated-span scoring: cut each document
    * into non-overlapping `width`-token passages (trailing remainder
    * ignored), hash each, and score every document by the fraction of
    * its passages that occur more than once corpus-wide; `keep` flags
    * docs at or under `maxDupFrac`. This catches boilerplate and
    * template reuse that document-level near-dup (q62-q65) misses.
    *
    * Scale shape: passage hashing is a narrow map + explode onto
    * 16-byte keys (fan-out n_tokens/width, i.e. SMALLER than the
    * token stream); corpus-wide multiplicity is a groupBy on the
    * passage hash — NOT a window: window counts have no map-side
    * partial aggregation, so a boilerplate passage occurring 10⁸
    * times (exactly what this operator exists to catch) would land
    * every copy in one reducer. The groupBy partial-aggregates hot
    * hashes inside each map task, and the join back on phash is a
    * plain equi-join AQE can skew-split — no single-task bottleneck.
    * The per-doc rollup then shuffles compact (doc_id, counts) rows.
    * No step is ever pairwise.
    */
  def passageDedup(docs: DataFrame, width: Int = 10, maxDupFrac: Double = 0.5): DataFrame = {
    // outer-explode (the q6h lesson; see contaminated)
    val passages = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode_outer(when(size(col("toks")) >= width,
          transform(sequence(lit(0), floor(size(col("toks")) / width).cast("int") - 1),
            j => md5(concat_ws(" ", slice(col("toks"), j * width + 1, lit(width))).cast("binary"))))
          .otherwise(typedLit(Array.empty[String]))).as("phash"))
      .filter(col("phash").isNotNull)
    // only the duplicated hashes join back (typically a small fraction
    // of distinct passages), and the count itself never ships — a
    // passage is "dup" iff its hash appears in this set
    val dupHashes = passages
      .groupBy("phash").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
      .select(col("phash"), lit(1L).as("is_dup"))
    val perDoc = passages
      .join(dupHashes, Seq("phash"), "left")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_passages"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dup_passages"))
    // short docs have zero passages and fell out at the explode; the
    // left join restores them as trivially-kept rows
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_passages"), lit(0L)).as("n_passages"),
        coalesce(col("n_dup_passages"), lit(0L)).as("n_dup_passages"))
      .withColumn("dup_frac",
        when(col("n_passages") > 0,
          col("n_dup_passages").cast("double") / col("n_passages").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("keep", col("dup_frac") <= maxDupFrac)
  }

  private val q68 = Qdef(
    "q68_passage_dedup",
    (s, d) => passageDedup(Tables.documents(s, d)).orderBy("doc_id"),
    Some("""WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
            w AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) // 10)) AS j
                  FROM t WHERE len(toks) >= 10),
            p AS (SELECT doc_id, md5(array_to_string(toks[(j-1)*10+1 : (j-1)*10+10], ' ')) AS phash FROM w),
            c AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY phash) AS cnt FROM p),
            d AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_passages,
                    CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_passages
                  FROM c GROUP BY doc_id),
            f AS (SELECT documents.doc_id,
                    COALESCE(n_passages, 0) AS n_passages,
                    COALESCE(n_dup_passages, 0) AS n_dup_passages
                  FROM documents LEFT JOIN d ON documents.doc_id = d.doc_id)
            SELECT doc_id, n_passages, n_dup_passages,
                   CASE WHEN n_passages > 0
                        THEN CAST(n_dup_passages AS DOUBLE) / CAST(n_passages AS DOUBLE)
                        ELSE 0.0 END AS dup_frac,
                   (CASE WHEN n_passages > 0
                         THEN CAST(n_dup_passages AS DOUBLE) / CAST(n_passages AS DOUBLE)
                         ELSE 0.0 END) <= 0.5 AS keep
            FROM f ORDER BY doc_id"""))

  /** q69: incremental ingest near-dup filter — the continuous-load
    * twin of q64. An incoming batch (doc_id % 7 == 3 stands in for
    * "today's crawl") is checked against the existing corpus: batch
    * docs with any corpus neighbor at 3-shingle jaccard ≥ 0.8 are
    * dropped, the rest keep. The scale shape is the asymmetric LSH
    * join: band keys are a narrow codegen map on both sides, and the
    * SMALL side — the new batch — is broadcast, so the (unbounded)
    * corpus band table never shuffles; at 100 TB that corpus band
    * table is a persisted index (snapshot store) scanned once per
    * ingest, and only verified candidates move. Verification joins
    * shingle sets back per unique candidate pair, exactly like q64
    * (full-recall LSH parameters, so the brute-force oracle matches).
    */
  /** The q69 pipeline as a user-callable API: per batch doc, its
    * corpus verdict — `dup_of` (smallest matching corpus id or null),
    * `n_matches`, and the `keep` flag. Batch and corpus need
    * (doc_id, text); ids must be disjoint across the two frames.
    */
  def incrementalNearDups(batch: DataFrame, corpus: DataFrame, minJ: Double = 0.8): DataFrame = {
    val incBands = bandedKeys(minhashSignatures(batch)).withColumnRenamed("doc_id", "inc_id")
    // corpus side spread (r14): the corpus-sized minhash map must not
    // run single-task on a one-row-group scan (verifiedPairs'
    // rationale); the tiny batch side is left alone.
    val corpBands = bandedKeys(minhashSignatures(graft.Tables.spread(corpus)))
      .withColumnRenamed("doc_id", "corp_id")
    val cand = broadcast(incBands).join(corpBands, Seq("band", "bh"))
      .select("inc_id", "corp_id").distinct()
    val hits = jaccardVerified(
      cand
        .join(batch.select(col("doc_id").as("inc_id"), shingleHashes(col("text"), 3).as("sh_a")), "inc_id")
        .join(corpus.select(col("doc_id").as("corp_id"), shingleHashes(col("text"), 3).as("sh_b")), "corp_id"),
      minJ)
    docVerdicts(batch, hits)
  }

  /** The verified-jaccard screen both text-ingest paths run on their
    * candidate pairs: `pairs` carries (inc_id, corp_id, sh_a, sh_b);
    * returns the pairs at exact jaccard ≥ minJ. One definition so the
    * two paths can never drift on the verify rule.
    */
  private def jaccardVerified(pairs: DataFrame, minJ: Double): DataFrame =
    pairs
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(size(array_union(col("sh_a"), col("sh_b"))) > 0 && col("jaccard") >= minJ)
      .select("inc_id", "corp_id")

  /** The (doc_id, dup_of, n_matches, keep) verdict assembly shared by
    * [[incrementalNearDups]] and [[ingestAgainstIndex]] — the q6b
    * equivalence oracle (index-backed ingest equals the direct
    * pipeline) depends on these two paths assembling verdicts
    * identically, exactly as [[vecVerdicts]] locks the vector twin.
    * `hits` carries (inc_id, corp_id) pairs already verified at
    * jaccard ≥ minJ.
    */
  private def docVerdicts(batch: DataFrame, hits: DataFrame): DataFrame = {
    val matches = hits
      .groupBy(col("inc_id").as("doc_id"))
      .agg(min("corp_id").as("dup_of"), count(lit(1)).as("n_matches"))
    batch.select("doc_id")
      .join(matches, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        col("dup_of").isNull.as("keep"))
  }

  private val q69 = Qdef(
    "q69_incremental_dedup",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val isInc = col("doc_id") % 7 === 3
      incrementalNearDups(docs.filter(isInc), docs.filter(!isInc))
        .orderBy("doc_id")
    },
    Some("""WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
            g AS (SELECT doc_id,
                    list_distinct(list_transform(generate_series(1, len(toks)-2),
                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
                  FROM t WHERE len(toks) >= 3),
            m AS (SELECT i.doc_id, MIN(c.doc_id) AS dup_of, COUNT(*) AS n_matches
                  FROM g i JOIN g c ON i.doc_id % 7 = 3 AND c.doc_id % 7 <> 3
                    AND len(list_distinct(i.sh || c.sh)) > 0
                    AND CAST(len(list_intersect(i.sh, c.sh)) AS DOUBLE) /
                        CAST(len(list_distinct(i.sh || c.sh)) AS DOUBLE) >= 0.8
                  GROUP BY i.doc_id)
            SELECT d.doc_id AS doc_id, m.dup_of, COALESCE(m.n_matches, 0) AS n_matches,
                   (m.dup_of IS NULL) AS keep
            FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
            WHERE d.doc_id % 7 = 3
            ORDER BY d.doc_id"""))

  // ----------------------------------- persisted band index (q6b)

  /** Build and persist the LSH band index of `corpus` into a
    * [[graft.sources.Snapshots]] store at `root` — the one-time
    * full-corpus shingle pass that [[incrementalNearDups]] would
    * otherwise repeat on EVERY ingest batch. The index rows are the
    * compact (doc_id, band, bh) keys only (never text or signatures);
    * a doc's bands are immutable, so the store is append-only.
    */
  def commitBandIndex(corpus: DataFrame, root: String): Long =
    graft.sources.Snapshots.commit(bandedKeys(minhashSignatures(corpus)), root)

  /** The stored band index: a raw union of every committed segment.
    * Append-only means NO last-writer-wins merge — an as-of style
    * window here would shuffle the whole index per ingest; the union
    * of parquet scans is narrow and AQE-coalesced instead.
    */
  def readBandIndex(spark: org.apache.spark.sql.SparkSession, root: String): DataFrame = {
    val vs = graft.sources.Snapshots.versions(spark, root)
    require(vs.nonEmpty, s"no band index committed at $root (run commitBandIndex first)")
    // latest full snapshot + its subsequent deltas: a rebuilt index
    // (a second full commit) SUPERSEDES earlier segments — a raw
    // union of everything would scan every band key once per rebuild
    val baseV = vs.filter(_._2 == "full").map(_._1).maxOption.getOrElse(
      throw new IllegalStateException(s"no full band-index snapshot in $root"))
    readSegments(spark, root, baseV, vs)
  }

  /** Ingest verdicts for `batch` against the PERSISTED band index —
    * same output contract as [[incrementalNearDups]], but candidate
    * generation never touches corpus text: the (tiny) batch bands
    * broadcast against the stored index scan. Verification shingles
    * ONLY the candidate corpus docs: the COMPACT candidate id pairs
    * broadcast against the corpus scan (never shingle arrays — a hot
    * batch doc with many corpus neighbors would replicate its array
    * once per candidate inside the broadcast), corpus text rides
    * THROUGH that join, the batch-sized shingle table joins after it,
    * and `sh_b` is computed last — so at 100 TB the per-ingest cost
    * is one index scan, one corpus scan, and shingling of a
    * candidate-bounded slice, never a full-corpus re-shingle. The
    * candidate set is used exactly once, so nothing upstream is
    * computed twice.
    */
  def ingestAgainstIndex(
      batch: DataFrame, corpusText: DataFrame, root: String, minJ: Double = 0.8): DataFrame = {
    val spark = batch.sparkSession
    val incBands = bandedKeys(minhashSignatures(batch)).withColumnRenamed("doc_id", "inc_id")
    val corpBands = readBandIndex(spark, root).withColumnRenamed("doc_id", "corp_id")
    val cand = broadcast(incBands).join(corpBands, Seq("band", "bh"))
      .select("inc_id", "corp_id").distinct()
    val hits = jaccardVerified(
      broadcast(cand)
        .join(corpusText.select(col("doc_id").as("corp_id"), col("text").as("_ct")), "corp_id")
        .join(broadcast(
          batch.select(col("doc_id").as("inc_id"), shingleHashes(col("text"), 3).as("sh_a"))), "inc_id")
        .withColumn("sh_b", shingleHashes(col("_ct"), 3)),
      minJ)
    docVerdicts(batch, hits)
  }

  /** Fold the band index's delta chain into a fresh full snapshot.
    * [[readBandIndex]] reads the latest full snapshot + later deltas,
    * so the new commit SUPERSEDES the old segments — after N ingests
    * the per-ingest scan fan-in is back to one file set. Bands are
    * immutable (no per-key merge needed), so compaction is a plain
    * rewrite of the current union: no shuffle at all beyond the
    * write. Run on the same cadence as any log-structured table's
    * compaction; old versions stay readable.
    */
  def compactBandIndex(spark: org.apache.spark.sql.SparkSession, root: String): Long =
    graft.sources.Snapshots.commit(readBandIndex(spark, root), root)

  /** The ONE definition of "accepted batch docs" — shared by
    * [[ingestAndCommit]] (band-index delta) and
    * [[graft.streaming.EventStreams.streamDedupIngest]] (corpus-store
    * delta), so the two stores can never silently diverge on what a
    * keeper is.
    */
  def keepersOf(batch: DataFrame, verdicts: DataFrame, key: String = "doc_id"): DataFrame =
    batch.join(verdicts.filter(col("keep")).select(key), Seq(key), "left_semi")

  /** [[ingestAgainstIndex]] + index maintenance: verdicts are
    * materialized, then the ACCEPTED docs' bands are committed back
    * as a delta segment so the next ingest sees them — the
    * band-index twin of the snapshot store's import-batch cycle.
    * Only the (small) batch is re-shingled for the commit.
    */
  def ingestAndCommit(
      batch: DataFrame, corpusText: DataFrame, root: String, minJ: Double = 0.8): DataFrame = {
    val verdicts = graft.Stage.cut(ingestAgainstIndex(batch, corpusText, root, minJ))
    // retrying (see Snapshots.commitDeltaRetrying): a concurrent
    // compactBandIndex must not kill the ingest cycle — bands are a
    // version-independent append
    graft.sources.Snapshots.commitDeltaRetrying(
      bandedKeys(minhashSignatures(keepersOf(batch, verdicts))), root)
    verdicts
  }

  /** q6b: two successive ingest batches against the persisted index.
    * Batch 1 (doc_id ≡ 3 mod 7) is screened against the corpus index
    * and its keepers' bands are committed; batch 2 (≡ 5 mod 7) is
    * then screened against corpus ∪ batch-1 keepers THROUGH THE
    * STORE — the result is batch 2's verdicts, which the oracle
    * reproduces by brute-force jaccard against the same two-stage
    * corpus (full-recall LSH parameters, as in q69). A fresh
    * temp-dir store per invocation keeps the query deterministic
    * under re-runs, and the store is deleted before returning (the
    * result is materialized first — unlike every other Qdef this one
    * has filesystem side effects, and bench/verify loops must not
    * accumulate orphan corpus-sized indexes). The plan lock in
    * PlanShapeSpec asserts the second ingest never re-shingles
    * corpus text for banding.
    */
  private val q6b = Qdef(
    "q6b_band_index_ingest",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") % 7 =!= 3 && col("doc_id") % 7 =!= 5)
      val b1 = docs.filter(col("doc_id") % 7 === 3)
      val b2 = docs.filter(col("doc_id") % 7 === 5)
      val tmp = java.nio.file.Files.createTempDirectory("graft-bandindex")
      val root = s"$tmp/idx"
      try {
        commitBandIndex(corpus, root)
        val v1 = ingestAndCommit(b1, corpus, root)
        val corpus2 = corpus.unionByName(
          b1.join(v1.filter(col("keep")).select("doc_id"), Seq("doc_id"), "left_semi"))
        // materialize before the store disappears out from under the
        // (otherwise lazy) parquet scans
        graft.Stage.cut(ingestAgainstIndex(b2, corpus2, root).orderBy("doc_id"))
      } finally {
        val p = new org.apache.hadoop.fs.Path(tmp.toString)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        ()
      }
    },
    Some("""WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
            g AS (SELECT doc_id,
                    list_distinct(list_transform(generate_series(1, len(toks)-2),
                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
                  FROM t WHERE len(toks) >= 3),
            m1 AS (SELECT i.doc_id
                   FROM g i JOIN g c ON i.doc_id % 7 = 3 AND c.doc_id % 7 NOT IN (3, 5)
                     AND len(list_distinct(i.sh || c.sh)) > 0
                     AND CAST(len(list_intersect(i.sh, c.sh)) AS DOUBLE) /
                         CAST(len(list_distinct(i.sh || c.sh)) AS DOUBLE) >= 0.8
                   GROUP BY i.doc_id),
            c2 AS (SELECT doc_id FROM documents WHERE doc_id % 7 NOT IN (3, 5)
                   UNION ALL
                   SELECT doc_id FROM documents
                   WHERE doc_id % 7 = 3 AND doc_id NOT IN (SELECT doc_id FROM m1)),
            m2 AS (SELECT i.doc_id, MIN(c.doc_id) AS dup_of, COUNT(*) AS n_matches
                   FROM g i JOIN g c ON i.doc_id % 7 = 5
                     AND c.doc_id IN (SELECT doc_id FROM c2)
                     AND len(list_distinct(i.sh || c.sh)) > 0
                     AND CAST(len(list_intersect(i.sh, c.sh)) AS DOUBLE) /
                         CAST(len(list_distinct(i.sh || c.sh)) AS DOUBLE) >= 0.8
                   GROUP BY i.doc_id)
            SELECT d.doc_id AS doc_id, m2.dup_of, COALESCE(m2.n_matches, 0) AS n_matches,
                   (m2.dup_of IS NULL) AS keep
            FROM documents d LEFT JOIN m2 ON d.doc_id = m2.doc_id
            WHERE d.doc_id % 7 = 5
            ORDER BY d.doc_id"""))

  /** q6a: blocked edit-distance dedup — the classic entity-resolution
    * recipe (cheap deterministic blocking key, exact pairwise verify
    * inside each block) as the character-level complement to the
    * token-level jaccard family. Blocking on the first 20 normalized
    * chars makes candidate generation one shuffle on a compact key
    * with in-block pairwise work only; levenshtein runs on the 400-char
    * truncation so per-pair cost is bounded. Cross-engine parity
    * caveat: Spark's levenshtein counts code points but DuckDB's
    * counts UTF-8 BYTES, so both sides first squash to '?' everything
    * outside printable ASCII + tab/LF/CR — BEFORE lowercasing,
    * because Java and DuckDB Unicode lowercasing can change
    * code-point counts differently (e.g. U+0130) and shift the
    * truncation/blocking boundaries; squashing first leaves both
    * engines lowercasing pure ASCII, where the definitions coincide —
    * hash-exact for any input corpus. Tab/LF/CR are deliberately
    * PRESERVED through the squash so the \s+ collapse still folds
    * line-wrapping differences into single spaces (squashing them to
    * '?' would stop re-wrapped copies — the dominant near-dup case —
    * from ever pairing); they are exactly the control chars both
    * engines' \s agrees on, while \x0B/\x0C (where Java and RE2 \s
    * disagree) get squashed like any other non-printable.
    *
    * Block sizes are the scale knob: in-block work is pairwise, so a
    * hot shared prefix (templated web boilerplate) would go quadratic
    * silently. Per-block DISTINCT-text counts are therefore measured
    * IN the pipeline (one extra agg on the compact block key) and any
    * block over `maxBlock` fails loudly (the [[nearDupClusters]]
    * precedent) with the offending prefix in the message — at 100 TB
    * the operator stops and tells you to widen the key, it never
    * wedges a reducer. The guard stage is wired UPSTREAM of the
    * pairwise join, so it trips before any quadratic work runs.
    *
    * Collapse-first (the [[collapsedNearDups]] precedent, now for the
    * edit family): exact-normalized duplicates group BEFORE the
    * pairwise stage, Levenshtein runs once per distinct-text pair, and
    * [[blockedEditDups]] expands the group verdicts back to doc pairs
    * (its output contract is unchanged — output size is pair-bound by
    * definition), while [[collapsedEditDups]] reports the group rows
    * with multiplicities so that on a duplicate-heavy corpus both the
    * work AND the answer stay distinct²-bounded.
    */
  /** Normalized comparison text + blocking key — the q6a contract:
    * squash-to-ASCII BEFORE lowercasing (see [[blockedEditDups]]'
    * cross-engine caveat), 400-char truncation, 20-char block prefix.
    */
  private def editNorm(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        substring(normText(
          regexp_replace(col("text"), "[^\\x09\\x0A\\x0D\\x20-\\x7E]", "?")), 1, 400).as("t"))
      .withColumn("blk", substring(col("t"), 1, 20))
      .filter(length(col("t")) > 0)

  /** Exact-normalized groups: each doc labeled with its group's
    * canonical (min doc_id) and size — ONE shuffle on the comparison
    * text. The collapse-first stage: Levenshtein never runs between
    * two identical texts again.
    */
  private def editMembers(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("t")
    editNorm(docs)
      .withColumn("rep", min(col("doc_id")).over(w))
      .withColumn("sz", count(lit(1)).over(w))
  }

  /** Distinct-text representatives, block-size-guarded. The guard now
    * bounds DISTINCT texts per block — exactly what drives the
    * quadratic Levenshtein work; a block of a million exact copies of
    * one template costs one group row, not a wedged reducer. Every blk
    * appears in okBlocks (the assert throws instead of filtering), so
    * the inner join is a pure guard gate wired UPSTREAM of the
    * pairwise join — it trips before any quadratic work runs.
    */
  private def editReps(members: DataFrame, maxBlock: Int): DataFrame = {
    val reps = members.filter(col("doc_id") === col("rep"))
      .select(col("rep"), col("t"), col("blk"), col("sz"))
    val okBlocks = reps.groupBy("blk").agg(count(lit(1)).as("bsz"))
      .filter(isnull(assert_true(col("bsz") <= lit(maxBlock),
        concat(lit(s"blockedEditDups: block over $maxBlock distinct texts for prefix '"), col("blk"),
          lit("' - widen the blocking key or run exact dedup (q60) first " +
            "(exact-duplicate copies collapse before the pairwise stage and no longer count)")))))
      .select("blk")
    reps.join(okBlocks, Seq("blk"))
  }

  /** In-block pairwise verify over group REPRESENTATIVES only:
    * (rep_a, rep_b, lev, edit_sim, sz_a, sz_b) for rep_a < rep_b with
    * edit_sim ≥ minSim. Work is distinct², not copies².
    */
  private def repEditPairs(reps: DataFrame, minSim: Double): DataFrame = {
    val a = reps.select(col("rep").as("rep_a"), col("t").as("ta"), col("sz").as("sz_a"), col("blk"))
    val b = reps.select(col("rep").as("rep_b"), col("t").as("tb"), col("sz").as("sz_b"), col("blk"))
    a.join(b, Seq("blk"))
      .filter(col("rep_a") < col("rep_b"))
      .withColumn("lev", levenshtein(col("ta"), col("tb")))
      .withColumn("mx", greatest(length(col("ta")), length(col("tb"))))
      .withColumn("edit_sim", lit(1.0) - col("lev").cast("double") / col("mx").cast("double"))
      .filter(col("edit_sim") >= minSim)
  }

  /** Pair-expanded edit-distance near-dups. NOTE the output contract:
    * a group of `sz` exact-normalized copies expands to C(sz,2)
    * within rows — OUTPUT (not Levenshtein work, which stays
    * distinct²-bounded) grows quadratically on duplicate-heavy
    * corpora. `maxGroup` is the loud stop for that: any
    * exact-normalized group larger than it fails with a remedy
    * message instead of flooding the sink. Duplicate-heavy corpora
    * should use [[collapsedEditDups]], which emits one multiplicity-
    * carrying row per group pair and has no such cliff.
    */
  def blockedEditDups(docs: DataFrame, minSim: Double = 0.8, maxBlock: Int = 4096,
                      maxGroup: Int = 4096): DataFrame = {
    // per-row predicate (sz is already on every member row) — the
    // guard costs no extra join or shuffle and trips before either
    // expansion join runs
    val m = editMembers(docs)
      .filter(isnull(assert_true(col("sz") <= lit(maxGroup),
        concat(lit(s"blockedEditDups: exact-normalized group over $maxGroup copies (rep "), col("rep"),
          lit(s", size "), col("sz"),
          lit(") - pair output would be quadratic in copies; use collapsedEditDups " +
            "for duplicate-heavy corpora or raise maxGroup")))))
    val reps = editReps(m, maxBlock)
    // cross-group pairs expand by group membership (identical texts
    // share one lev/sim by definition); least/greatest because a
    // member of the lower-rep group can carry the higher doc_id
    val cross = repEditPairs(reps, minSim)
      .select(col("rep_a"), col("rep_b"), col("lev"), col("edit_sim"))
      .join(m.select(col("rep").as("rep_a"), col("doc_id").as("da")), "rep_a")
      .join(m.select(col("rep").as("rep_b"), col("doc_id").as("db")), "rep_b")
      .select(least(col("da"), col("db")).as("id_a"),
        greatest(col("da"), col("db")).as("id_b"), col("lev"), col("edit_sim"))
    // within-group pairs are Levenshtein-free: lev 0, sim 1 ≥ any minSim
    val within = m.select(col("rep"), col("doc_id").as("id_a"))
      .join(m.select(col("rep"), col("doc_id").as("id_b")), "rep")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(0).as("lev"), lit(1.0).as("edit_sim"))
    cross.unionByName(within)
  }

  /** The group-aware form ([[collapsedNearDups]]' precedent for edit
    * distance): near-dup verdicts between exact-normalized GROUPS with
    * multiplicities, instead of one row per expanded doc pair. On a
    * duplicate-heavy corpus — the one place q6a's old pair output grew
    * copies² — both the Levenshtein work AND the answer stay
    * distinct²-bounded: a within row summarizes C(sz,2) identical
    * pairs, a cross row sz_a·sz_b of them.
    */
  def collapsedEditDups(docs: DataFrame, minSim: Double = 0.8, maxBlock: Int = 4096): DataFrame = {
    val reps = editReps(editMembers(docs), maxBlock)
    val cross = repEditPairs(reps, minSim)
      .select(col("rep_a"), col("rep_b"), col("lev"), col("edit_sim"),
        col("sz_a"), col("sz_b"), (col("sz_a") * col("sz_b")).as("n_pairs"))
    // integral DIV, the q6e lesson: double `/` rounds past 2^53
    val within = reps.filter(col("sz") > 1)
      .select(col("rep").as("rep_a"), col("rep").as("rep_b"),
        lit(0).as("lev"), lit(1.0).as("edit_sim"),
        col("sz").as("sz_a"), col("sz").as("sz_b"),
        expr("CAST((sz * (sz - 1)) DIV 2 AS BIGINT)").as("n_pairs"))
    cross.unionByName(within)
  }

  private val q6a = Qdef(
    "q6a_dedup_blocked_edit",
    // NOT spread (r14, measured): +0.56 s — the normalization regexes
    // are cheap next to the blocked levenshtein join, and the exchange
    // of text split the fused scan+collapse partial agg.
    (s, d) => collapsedEditDups(Tables.documents(s, d)).orderBy("rep_a", "rep_b"),
    Some("""WITH n AS (SELECT doc_id,
                   substr(trim(regexp_replace(lower(regexp_replace(text, '[^\x09\x0A\x0D\x20-\x7E]', '?', 'g')),
                                              '\s+', ' ', 'g')), 1, 400) AS t
                 FROM documents),
            g AS (SELECT t, MIN(doc_id) AS rep, COUNT(*) AS sz
                  FROM n WHERE len(t) > 0 GROUP BY t),
            b AS (SELECT rep, sz, t, substr(t, 1, 20) AS blk FROM g),
            p AS (SELECT a.rep AS rep_a, c.rep AS rep_b,
                         levenshtein(a.t, c.t) AS lev,
                         GREATEST(len(a.t), len(c.t)) AS mx,
                         a.sz AS sz_a, c.sz AS sz_b
                  FROM b a JOIN b c ON a.blk = c.blk AND a.rep < c.rep),
            cp AS (SELECT rep_a, rep_b, lev,
                          1.0 - CAST(lev AS DOUBLE) / CAST(mx AS DOUBLE) AS edit_sim,
                          sz_a, sz_b, CAST(sz_a * sz_b AS BIGINT) AS n_pairs
                   FROM p WHERE 1.0 - CAST(lev AS DOUBLE) / CAST(mx AS DOUBLE) >= 0.8),
            w AS (SELECT rep AS rep_a, rep AS rep_b, 0 AS lev, CAST(1.0 AS DOUBLE) AS edit_sim,
                         sz AS sz_a, sz AS sz_b, CAST((sz * (sz - 1)) // 2 AS BIGINT) AS n_pairs
                  FROM g WHERE sz > 1)
            SELECT rep_a, rep_b, lev, edit_sim, sz_a, sz_b, n_pairs FROM cp
            UNION ALL
            SELECT rep_a, rep_b, lev, edit_sim, sz_a, sz_b, n_pairs FROM w
            ORDER BY rep_a, rep_b"""))

  val all: Seq[Qdef] = Seq(q60, q61, q62, q63, q64, q65, q66, q67, q68, q69, q6a, q6b, q6c, q6d, q6e, q6f, q6g, q6h)
}

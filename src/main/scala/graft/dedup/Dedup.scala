package graft.dedup

import graft.functions.{TextFunctions => T}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for a training-data pipeline (SURVEY §2.11 / the
  * builder mandate), designed shuffle-first for 100 TB corpora:
  *
  *  - exact:   one hash-partitioned groupBy on the dedup key — the minimum
  *             possible shuffle; no driver-side state.
  *  - MinHash: per-row signature (narrow map) → explode to (band, docId)
  *             — b rows per doc — → shuffle on band bucket → join inside
  *             buckets only. Candidate volume is governed by the banding
  *             parameters, never by corpus², and the exact-Jaccard
  *             verification runs only on candidates.
  *  - SimHash: per-row 60-bit fingerprint → compound block-key buckets →
  *             pairs by bucket → Hamming filter via bit_count(xor).
  *
  * Every random bit derives from md5 and fixed integer maps, so the result
  * is a pure function of the corpus — the same pairs on any cluster layout,
  * and in the DuckDB oracle that replays each pipeline.
  */
object Dedup {

  /** Exact dedup: canonical keep-id (min doc_id) + multiplicity per distinct
    * key. `dropDuplicates` gives an arbitrary survivor; min() gives a
    * deterministic one. */
  def exact(docs: DataFrame, key: String = "text", id: String = "doc_id"): DataFrame =
    docs.groupBy(col(key))
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("dup_count"))

  // ------------------------------------------------------------- LSH verify

  /** Shared LSH tail: band-bucket self-join → candidate pairs → exact-Jaccard
    * verify. `exploded` carries one row per (doc, band) with the band-key
    * columns named in `bandKeyCols`; `shingleSet` is the distinct-shingle
    * expression over `text` used for verification.
    *
    * Candidates are deduped BEFORE verification (the same pair may collide in
    * many bands), then eagerly scratch-checkpointed: the candidate frame
    * feeds three consumers (the output and both legs of the doc-id union),
    * which would otherwise re-run the band join per consumer —
    * materializing it is the natural barrier of any LSH pipeline, and the
    * checkpoint blocks die with the frame instead of stranding a session
    * cache entry ([[graft.operators.Checkpoints.scratch]]). Shingle sets
    * are computed only for candidate
    * docs via an unhinted semi-join: the candidate set is data-dependent, so
    * AQE decides at runtime whether it is broadcast-sized — a forced
    * broadcast would OOM the driver in the worst case at 100 TB. */
  private def lshJaccardPairs(docs: DataFrame, exploded: DataFrame,
      bandKeyCols: Seq[String], shingleSet: org.apache.spark.sql.Column,
      minJaccardX1e6: Long): DataFrame = {
    val keyCols = bandKeyCols.map(col)
    // the LSH barrier: candidates materialize exactly once — an eager
    // scratch checkpoint (not persist+count: a cache entry on a lazily-
    // returned plan has no release point, Checkpoints.scratch scaladoc)
    val cand = graft.operators.Checkpoints.scratch(
      exploded.select(keyCols :+ col("doc_id").as("doc_a"): _*)
      .join(exploded.select(keyCols :+ col("doc_id").as("doc_b"): _*), bandKeyCols)
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b"))

    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    val shingles = graft.Tables.parallelized(docs)
      .join(candDocs, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), shingleSet.as("sh"))
    cand
      .join(shingles.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(shingles.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("inter", call_function("intersect_count_i64", col("sh_a"), col("sh_b")))
      .withColumn("uni",
        size(col("sh_a")).cast(LongType) + size(col("sh_b")).cast(LongType) - col("inter"))
      .withColumn("jaccard_x1e6", floor(lit(1000000.0) * col("inter") / col("uni")))
      .filter(col("jaccard_x1e6") >= minJaccardX1e6)
      .select("doc_a", "doc_b", "jaccard_x1e6")
  }

  // ---------------------------------------------------------------- MinHash

  private val MersenneP = 2147483647L
  private val PermAs = Seq(1299709L, 15485863L, 32452843L, 49979687L,
    67867967L, 86028121L, 104395301L, 122949823L)
  private val PermBs = Seq(7L, 101L, 1009L, 10007L, 100003L, 1000003L,
    9999991L, 999983L)

  /** The eight Carter-Wegman permuted-minimum signature columns (s0..s7)
    * over a distinct-shingle-hash array — THE single owner of the portable
    * MinHash algebra (review finding: the constants and expression existed
    * in two private copies, one here and one in the persisted store, with
    * the oracle hard-coding them a third time — a tweak to one copy would
    * silently desync the store from the in-session family until a
    * hash-gate mismatch at some corpus scale). Every signature producer
    * ([[portableSigs]], [[graft.dedup.PortableSigStore]]) calls this. */
  private[graft] def permutedMinSigs(hs: Column): Seq[Column] =
    (0 until 8).map { i =>
      array_min(transform(hs,
        h => (lit(PermAs(i)) * (h % MersenneP) + PermBs(i)) % MersenneP))
        .as(s"s$i")
    }

  /** 4×2-band explode of an 8-minima signature frame:
    * (idAs, band, k1, k2) — the single owner of the portable band shape,
    * for the same desync reason as [[permutedMinSigs]]. */
  private[graft] def bandExplode(sigs: DataFrame,
      idAs: String = "doc_id"): DataFrame = {
    val bandCols = (0 until 4).map { j =>
      struct(lit(j).as("band"),
        col(s"s${2 * j}").as("k1"), col(s"s${2 * j + 1}").as("k2"))
    }
    sigs.select(col("doc_id").as(idAs), explode(array(bandCols: _*)).as("bk"))
      .select(col(idAs), col("bk.band").as("band"),
        col("bk.k1").as("k1"), col("bk.k2").as("k2"))
  }

  /** The shared slim portable-signature frame: (doc_id, source, s0..s7) for
    * EVERY document (nulls for docs too short to shingle — consumers pick
    * their own semantics for those). The md5 shingle hashing behind the
    * eight permuted minima is the expensive narrow map of the whole
    * portable-LSH family, and FIVE registry queries start from it (q99
    * pairs, q165 flattening, q170/q172 matrices, q171 split), so the frame
    * is corpus-stamped and cached once per session ([[graft.queries.SharedFrames]]
    * discipline). Unlike the shingle SETS — deliberately computed only for
    * candidate docs via the semi-join in [[lshJaccardPairs]] — the
    * signature frame is ~10 longs per document, cheap to keep resident at
    * any corpus size. */
  def portableSigs(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.queries.SharedFrames.sharedFrame(spark, dir, "documents",
      "portable-sigs") {
      val docs = graft.Tables.parallelized(
        graft.Tables.load(spark, dir, "documents"))
      val hs = array_distinct(T.portableShingleHashes(col("text"), 3))
      docs.select(col("doc_id") +: col("source") +: permutedMinSigs(hs): _*)
    }

  /** MinHash+LSH with ENGINE-PORTABLE hashing: md5-60-bit shingle hashes
    * (T.portableHash60) permuted by fixed Carter-Wegman maps
    * h_i(x) = (a_i·(x mod P) + b_i) mod P over the Mersenne prime P=2^31−1 —
    * pure integer arithmetic both engines evaluate identically, so the WHOLE
    * LSH pipeline (signatures → 4×2 banding → candidate pairs → exact
    * Jaccard verify) is DuckDB-oracle hash-checkable (xxhash64 signatures
    * would be Spark-only). Scale shape: narrow signature map (served
    * from the shared [[portableSigs]] frame), band-bucket join,
    * candidate-only shingle re-join. The intermediates stay well inside
    * 64-bit: a_i·(x mod P) < 2^27·2^31 = 2^58. */
  def minHashPairsPortable(spark: org.apache.spark.sql.SparkSession,
      dir: String, minJaccardX1e6: Long = 800000L): DataFrame =
    portableBandPairs(portableSigs(spark, dir),
      graft.Tables.load(spark, dir, "documents"), minJaccardX1e6)

  /** [[minHashPairsPortable]] over an arbitrary document frame (no shared
    * cache) — the spec-fixture entry point; the registry path goes through
    * the corpus-stamped frame. */
  def minHashPairsPortableFrom(docs0: DataFrame,
      minJaccardX1e6: Long = 800000L): DataFrame = {
    val docs = graft.Tables.parallelized(docs0)
    val hs = array_distinct(T.portableShingleHashes(col("text"), 3))
    val sigs = docs.select(col("doc_id") +: permutedMinSigs(hs): _*)
    portableBandPairs(sigs, docs0, minJaccardX1e6)
  }

  /** Calibration rows for the portable banding: every banded candidate
    * pair with (a) how many of the 8 permuted minima agree — the MinHash
    * similarity ESTIMATE, matches/8 ≈ Jaccard — and (b) the exact verified
    * Jaccard. The (estimate, truth) join is what tunes banding parameters:
    * if high-agreement pairs show low exact Jaccard the permutation count
    * is too small; if near-threshold pairs cluster at low agreement the
    * band shape is recall-starved. Unthresholded on purpose (the
    * calibration needs the sub-threshold candidates), so consumers see the
    * full candidate population, still ∝ band collisions, never corpus². */
  def portableCalibrationPairs(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val sigs = portableSigs(spark, dir).filter(col("s0").isNotNull)
    val exploded = bandExplode(sigs)
    val exact = lshJaccardPairs(graft.Tables.load(spark, dir, "documents"),
      exploded, Seq("band", "k1", "k2"),
      array_distinct(T.portableShingleHashes(col("text"), 3)), 0L)
    val sa = sigs.select(col("doc_id").as("doc_a") +:
      (0 until 8).map(i => col(s"s$i").as(s"a$i")): _*)
    val sb = sigs.select(col("doc_id").as("doc_b") +:
      (0 until 8).map(i => col(s"s$i").as(s"b$i")): _*)
    exact.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("n_sig_match",
        (0 until 8).map(i =>
          when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L)).reduce(_ + _))
      .select("doc_a", "doc_b", "n_sig_match", "jaccard_x1e6")
  }

  private def portableBandPairs(sigs0: DataFrame, docs: DataFrame,
      minJaccardX1e6: Long): DataFrame = {
    val sigs = sigs0
      .filter(col("s0").isNotNull) // no shingles → no signature (q27 semantics)
    val exploded = bandExplode(sigs)
    lshJaccardPairs(docs, exploded, Seq("band", "k1", "k2"),
      array_distinct(T.portableShingleHashes(col("text"), 3)), minJaccardX1e6)
  }

  /** Per-document LEAKAGE-FREE split side assignment — the eval-split
    * contract a training pipeline needs between dedup and mixing: plain
    * per-document hash splits (q54) put near-identical documents on BOTH
    * sides of a train/test boundary, and the test half stops measuring
    * generalization. Here documents are first clustered by the q165
    * two-permutation portable MinHash key (near-identical docs collide on
    * both permuted minima), and the ENTIRE cluster is assigned one side by
    * an md5 bucket of the cluster KEY itself — no second pass, no window:
    * every row derives its side from values it already carries, so cluster
    * cohesion is a per-row algebraic identity rather than a join invariant.
    * Documents too short to shingle (< 3 tokens) are their own singleton
    * clusters, keyed (-1, doc_id) — the sentinel cannot collide with a real
    * signature (permuted minima are non-negative). Everything is the q99
    * portable algebra (md5 shingles, Carter–Wegman permutations, md5
    * bucket), so a DuckDB oracle replays the whole assignment bit-for-bit.
    * Scale shape: one narrow codegen'd map over the corpus (the two
    * signature minima come from the shared [[portableSigs]] frame) — zero
    * shuffles until the consumer aggregates. */
  def splitSides(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    portableSigs(spark, dir)
      .select(col("doc_id"), col("source"), col("s0"), col("s1"))
      .withColumn("c0", when(col("s0").isNotNull, col("s0")).otherwise(lit(-1L)))
      .withColumn("c1", when(col("s0").isNotNull, col("s1")).otherwise(col("doc_id")))
      .withColumn("side",
        T.hashBucket(concat_ws(":", col("c0"), col("c1")), 2))
      .select("doc_id", "source", "c0", "c1", "side")

  // ---------------------------------------------------------------- SimHash

  /** doc_id + 60-bit ENGINE-PORTABLE SimHash fingerprint: one fused native
    * loop per document ([[graft.plans.PortableSimHash60]] over
    * [[graft.plans.PortableShingleHashes]]) — no explode, no shuffle — and
    * every bit derives from md5 arithmetic a DuckDB oracle replays verbatim
    * — the q99 portability move applied to SimHash (md5-derived bit
    * weights, r11 VERDICT #1). Distinct shingles, mirroring the portable
    * MinHash family's set semantics. Docs with no shingles are dropped
    * (NULL fingerprint). */
  def simHashesPortable(docs0: DataFrame, shingleLen: Int = 3): DataFrame = {
    val docs = graft.Tables.parallelized(docs0)
    docs.select(col("doc_id"),
        call_function("portable_simhash60",
          array_distinct(T.portableShingleHashes(col("text"), shingleLen)))
          .as("simhash"))
      .filter(col("simhash").isNotNull)
  }

  /** Near-dup pairs by Hamming distance ≤ `maxHamming` over the PORTABLE
    * 60-bit fingerprint, via CORPUS-ADAPTIVE compound block keys (Manku et
    * al., "Detecting Near-Duplicates for Web Crawling", WWW 2007 §3 — the
    * r12 ×30 lesson applied to SimHash: single 6-bit bands mean 64 buckets
    * per band FOREVER, so candidates grow ∝ n²/64, measured ×38 wall-clock
    * at ×30 data).
    *
    * The fingerprint splits into 10 blocks of 6 bits. A pair within
    * Hamming h touches at most h blocks, so at least 10−h blocks agree —
    * keying tables on every j-subset of blocks GUARANTEES detection while
    * j ≤ 10−h (= 4 at the default h = 6: the pair then agrees on at least
    * C(10−h, j) ≥ 1 subsets). j adapts to the corpus, COST-CALIBRATED
    * rather than occupancy-targeted: an exploded row costs ~40× a
    * streamed candidate pair (shuffle+sort vs a codegen'd bit_count —
    * measured on the ×30 fixture, where the occupancy rule 64^j ≥ n chose
    * j = 3 and its 18M exploded rows cost MORE than j = 2's extra
    * candidates), so the optimum steps j every ~5 bits of corpus size:
    * j = (bitlen(n−1) − 5) div 5 clamped to [1, 10−h] — thresholds 16k /
    * 512k / 16M docs for j = 2/3/4, total work ∝
    * C(10,j)·(40·n + n²/2·64^−j) minimized at each decade. Beyond 64⁴ ≈
    * 16M docs the 24-bit compound key saturates — the documented
    * extension point is a LONGER fingerprint, not wider subsets (j = 5
    * would break the h = 6 guarantee). Both engines derive n and j with
    * the same integer algebra (`length(bin(n−1))`), so the DuckDB oracle
    * (Extensions.q28Sql) replays the adaptive keying exactly. The RESULT
    * is j-invariant over SPARSE buckets (completeness holds at every
    * j ≤ 10−h); only the candidate volume moves with j.
    *
    * Dense-bucket cutoff (the q30 cure transplanted, r12 VERDICT #1), and
    * what the r13 measurements made of it: a compound-key bucket larger
    * than `denseBucketCap` is a dense near-dup CLUSTER whose within-bucket
    * pairs grow quadratically no matter how the keys adapt — pairwise
    * emission is the wrong tool for those; they route to the cluster-level
    * connected-components pass (q58/q131 family), and this operator emits
    * the pairs discoverable through at least one SPARSE bucket, bounding
    * the SKEW term of the candidate mass at cap²/2 per bucket. A
    * compound-key bucket census (exploded rows, buckets over the cap, and
    * Σ C(bucket,2) with and without the cutoff, r13) shows the cutoff is a
    * GUARD, not a speedup,
    * at measured scales: at ×64 (320k docs, j = 2) dense buckets hold
    * only 2.06M of 628M candidate pairs (0.3% — max bucket 368), and the
    * pipeline is SHUFFLE-BOUND on exploded rows (j = 3 at ×64 measures
    * 95–113 s vs j = 2's ~33 s, ratio ≈ the 38.4M/14.4M explode ratio),
    * so the cutoff must cost ~nothing: it rides a window count over the
    * SAME (band, bkey) exchange+sort the self-join's SortMergeJoin
    * already pays (both legs share one canonical subplan via
    * ReuseExchange) — an earlier census+semi-join variant benched 39 s at
    * ×64, a 6 s regression this shape avoids. The uniform term of the
    * candidate mass is the J-TIER's job: 628M ≈ 40×14.4M at ×64 puts the
    * fixture exactly at the r12 cost model's crossover, and the next
    * decade (>512k docs) steps to j = 3 where the balance flips. Both
    * engines apply the identical `HAVING COUNT(*) <= cap` rule
    * (Extensions.q28Sql), so the oracle replays the cutoff exactly.
    *
    * Scale shape: narrow fingerprint map (scratch-barriered — it feeds the
    * width count and both self-join legs) → slim C(10,j)-rows-per-doc
    * compound-key explode → ONE (band, bkey) exchange carrying the window
    * bucket count, the cutoff filter, and both SMJ legs → codegen'd
    * bit_count Hamming filter BEFORE the pair dedup shuffle.
    *
    * `forceJ` pins the subset width for tier-parity specs (DedupSpec —
    * every oracle arm must be exercisable below its corpus threshold);
    * production callers leave it None. */
  def simHashPairsPortable(docs: DataFrame, maxHamming: Int = 6,
      denseBucketCap: Int = 256, forceJ: Option[Int] = None): DataFrame = {
    val hashed = graft.operators.Checkpoints.scratch(simHashesPortable(docs))
    val n = hashed.count()
    val bitlen = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1))
    val jSub = forceJ.getOrElse(math.min(math.max(1, 10 - maxHamming),
      math.max(1, (bitlen - 5) / 5)))
    require(jSub >= 1 && jSub <= 10 - maxHamming,
      s"j=$jSub breaks the Hamming<=$maxHamming pigeonhole guarantee")
    // Band enumeration rides ONE ArrayType literal (a constant reference in
    // generated code) + j compact per-slot shift terms — NOT an
    // explode(array(...)) of C(10,j) per-band structs: that form generates
    // C(10,j)·j inline shift chains in one doConsume (2500+ ops at j=4),
    // which blows janino's method limit at exactly the 512k/16M-doc tiers
    // where j escalates — under the strict engine session (codegen
    // fallback disabled) the old form FAILED outright at j≥3 instead of
    // silently de-vectorizing (r15; the q288 Morton-expression class).
    // Each subset is encoded 4 bits per block index into one long; bkey
    // re-derives slot i's block as ((sub >> 4i) & 15) and packs
    // ((simhash >> 6·block) & 63) << 6i — j terms total, loop-free and
    // branch-free, identical algebra to the oracle's SQL arms.
    val subs: Array[Long] = (0 until 10).combinations(jSub).toArray
      .map(_.zipWithIndex.foldLeft(0L) { case (acc, (b, i)) =>
        acc | (b.toLong << (4 * i))
      })
    val bkeySql = (0 until jSub).map { i =>
      s"shiftleft(shiftright(simhash, cast(((shiftright(sub, ${4 * i})" +
        s" & 15) * 6) as int)) & 63, ${6 * i})"
    }.mkString("(", " | ", ")")
    val exploded = hashed
      .select(col("doc_id"), col("simhash"), posexplode(lit(subs)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "sub")
      .select(col("doc_id"), col("simhash"), col("band"),
        expr(bkeySql).as("bkey"))
    // the cutoff as a window count: the window's (band, bkey) exchange is
    // the SAME partitioning the self-join's SortMergeJoin needs, and both
    // legs are one canonical subplan, so ReuseExchange computes
    // explode+shuffle+count once and the cutoff costs one in-partition
    // counting pass — no census aggregate, no semi-join, no extra shuffle
    val kept = graft.operators.Checkpoints.scratch(exploded
      .withColumn("bc", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band", "bkey")))
      .filter(col("bc") <= denseBucketCap))
    val l = kept.select(col("band"), col("bkey"),
      col("doc_id").as("doc_a"), col("simhash").as("sim_a"))
    val r = kept.select(col("band"), col("bkey"),
      col("doc_id").as("doc_b"), col("simhash").as("sim_b"))
    // SHUFFLE_HASH, pinned (r13, measured): the legs are corpus-derived,
    // so a broadcast is never scale-safe — and Catalyst would pick one
    // here by accident: the scratch fingerprint frame's LogicalRDD stats
    // are per-DOC bytes and the size estimate does not grow through the
    // C(10,j)-way Generate, so the exploded side statically "fits" the
    // broadcast threshold (observed at ×64: a 14.4M-row build side
    // broadcast off a 5 MB estimate). A sort-merge join is scale-safe but
    // measured 33 s at ×64 — banded keys have large equal-key groups and
    // SMJ buffers/rescans the inner group per outer row. The shuffled
    // hash join keeps the hash-probe inner loop with both sides
    // co-partitioned on (band, bkey): per-partition build memory, no
    // driver collect, AQE skew split still applies — 8.7 s at ×64, the
    // BHJ's speed with the SMJ's scale shape.
    l.hint("shuffle_hash").join(r, Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming",
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast(LongType))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
      .dropDuplicates("doc_a", "doc_b")
  }

  // ------------------------------------------------------------ containment

  /** CONTAINMENT near-dup pairs — Broder's second similarity measure
    * ("On the resemblance and containment of documents", SEQUENCES 1997):
    * c = |S(A)∩S(B)| / min(|S(A)|,|S(B)|), the quote/embedding detector
    * resemblance-LSH is structurally BLIND to. A 50-shingle document
    * quoted inside a 5000-shingle one has Jaccard ≈ 0.01 — no MinHash
    * band ever collides — while its containment is ≈ 1.0; detecting that
    * asymmetry is how a pretraining pipeline catches wholesale quotation,
    * boilerplate embedding, and doc-in-doc syndication that q27/q28
    * legitimately pass over.
    *
    * Discovery is RARE-SHINGLE anchoring (the prefix-filtering family —
    * Chaudhuri et al. SSJoin 2006, Bayardo et al. WWW 2007 — in its
    * df-bounded form, the q244 anchor discipline): only shingles with
    * 2 ≤ df ≤ `dfCap` key candidate pairs, so candidates are bounded by
    * Σ_rare C(df,2) ≤ dfCap·|shingle stream| — linear in the corpus,
    * never corpus². A pair sharing ONLY ubiquitous shingles (every common
    * shingle's df > dfCap) is missed BY DESIGN: such pairs share stock
    * phrases, not distinctive content, and are near-dup noise rather than
    * quotation signal — the same declared trade as q244's anchor cap.
    * That declaration is PRICED by [[containmentRecallAudit]] (q269):
    * recall vs exact containment on a fixed panel, per containment band —
    * the number to read before moving the `dfCap` knob (raising it widens
    * recall at candidate-mass cost ∝ Σ_rare C(df,2); the fixture measures
    * 1.0, and the planted stock-phrase spec shows the declared miss).
    * Verification is exact, and ARRAY-based (the lshJaccardPairs shape):
    * candidate pairs join the per-doc distinct-shingle ARRAYS and a
    * codegen'd array_intersect scores each pair — cost ∝ candidate
    * pairs. The first cut verified by row intersection instead (cand ⋈
    * shingle-rows ⋈ shingle-rows), whose join volume is Σ_pairs
    * |sh(doc_a)| — probed at 72.6M rows for 1.13M candidates on the base
    * fixture, 9–10 s of pure shuffle that the array verify does not pay.
    * Every hash is the portable md5-60-bit shingle
    * (T.portableShingleHashes), so the DuckDB oracle replays discovery
    * AND verification bit-for-bit.
    *
    * Scale shape: one scratch-materialized per-doc shingle-array frame
    * (hashed ONCE — see the body comment) → exploded census + df-capped
    * bucket self-join → candidate array verify reading the same blocks →
    * TakeOrderedAndProject. */
  def containmentPairs(docs0: DataFrame, shingleLen: Int = 3,
      dfCap: Int = 64, minContainPpm: Long = 700000L,
      k: Int = 20): DataFrame = {
    val docs = graft.Tables.parallelized(docs0)
    // Shingle-hash each doc EXACTLY ONCE (r16 optimization): the md5-per-
    // shingle portable hash is the pipeline's dominant CPU (measured at
    // sf0.1: ~8.5 s task-time for the discovery pass + ~13.7 s for the
    // candidate re-hash), and the old shape paid it twice — once exploded
    // for the df census/anchors, once re-deriving candidate docs' arrays
    // for the verify join. Materializing the per-doc distinct-shingle
    // ARRAY frame first makes the census/anchor explode AND both verify
    // sides read the same computed blocks; the candidate semi-join that
    // existed only to bound the second hashing pass disappears (the
    // verify join against `cand` restricts rows by itself). Block cost is
    // the same order as the exploded shingle stream the discovery pass
    // already shuffles — O(corpus tokens), memory-and-disk.
    // hash(doc_id) layout with the partition count PINNED to the session's
    // shuffle parallelism: the checkpoint is then join-ready for BOTH
    // verify joins (no sets exchange at all), and pinning the count keeps
    // AQE from coalescing the verify join below real parallelism — its
    // stage carries a few MB of candidate rows but per-row
    // intersect-count CPU (measured 1.10 s wall on 9 AQE-coalesced tasks
    // vs ~0.3 s at full width; guide §2.5 — partition for the CPU, not
    // the bytes, when the bytes lie).
    val nPart = docs.sparkSession.sessionState.conf.numShufflePartitions
    val sets = graft.operators.Checkpoints.scratch(docs.select(col("doc_id"),
      array_distinct(T.portableShingleHashes(col("text"), shingleLen))
        .as("hs"))
      .repartition(nPart, col("doc_id")))
    val sh = sets.select(col("doc_id"), explode(col("hs")).as("h"))
    val rare = sh.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, dfCap)).select("h")
    val anch = sh.join(rare, Seq("h"), "left_semi")
    val cand = anch.select(col("h"), col("doc_id").as("doc_a"))
      .join(anch.select(col("h"), col("doc_id").as("doc_b")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
      // pinned-width exchange feeding the verify joins: when AQE
      // broadcasts the (small) sets frame, the candidate exchange is the
      // verify stage's ONLY shuffle, and byte-based coalescing ran the
      // intersect-count work on 9 of 32 cores (0.53 s wall vs ~0.35 at
      // full width). doc_a-keyed so the first verify join reuses it.
      .repartition(nPart, col("doc_a"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), "doc_b")
      .withColumn("inter", call_function("intersect_count_i64", col("hs_a"), col("hs_b")))
      .withColumn("na", size(col("hs_a")).cast(LongType))
      .withColumn("nb", size(col("hs_b")).cast(LongType))
      .withColumn("containment_ppm",
        expr("1000000 * inter div least(na, nb)"))
      .filter(col("containment_ppm") >= minContainPpm)
      .select("doc_a", "doc_b", "containment_ppm")
      .orderBy(desc("containment_ppm"), col("doc_a"), col("doc_b"))
      .limit(k)
  }

  /** PRICES the recall of [[containmentPairs]]' df-cap anchor rule (r13
    * VERDICT #3 — the q262 audit discipline applied to containment): the
    * q252 docstring DECLARES that pairs sharing only ubiquitous shingles
    * (every common shingle's df > dfCap) are missed by design; this audit
    * turns the declaration into a measured number. For a fixed anchor
    * panel (doc_id < `panel` — present at every fixture scale, parameter-
    * sized so the exact leg stays panel × corpus, never corpus²), the
    * EXACT containment pairs at ≥ `minContainPpm` are computed by brute
    * force, the q252 discovery (df ∈ [2, dfCap] anchor collisions) is
    * re-run restricted to pairs touching the panel, and recall is emitted
    * per 100k-ppm containment band — the knob-reading that says whether
    * dfCap is tight enough for the corpus at hand. Verification is exact
    * and shares the threshold, so found ≡ discovered ∩ true and the audit
    * needs no second verify pass. */
  def containmentRecallAudit(docs0: DataFrame, shingleLen: Int = 3,
      dfCap: Int = 64, minContainPpm: Long = 700000L,
      panel: Int = 64): DataFrame = {
    val docs = graft.Tables.parallelized(docs0)
    val sets = docs.select(col("doc_id"), array_distinct(
      T.portableShingleHashes(col("text"), shingleLen)).as("hs"))
    // exact leg: panel × corpus, normalized to (doc_a < doc_b); a
    // both-in-panel pair appears from each side — distinct collapses it
    val p = sets.filter(col("doc_id") < panel)
      .select(col("doc_id").as("id_p"), col("hs").as("hs_p"))
    val truth = p.join(sets.select(col("doc_id").as("id_o"),
        col("hs").as("hs_o")), col("id_o") =!= col("id_p"))
      .withColumn("inter",
        call_function("intersect_count_i64", col("hs_p"), col("hs_o")))
      .withColumn("np", size(col("hs_p")).cast(LongType))
      .withColumn("no", size(col("hs_o")).cast(LongType))
      .withColumn("cppm", expr("1000000 * inter div least(np, no)"))
      .filter(col("cppm") >= minContainPpm)
      .select(least(col("id_p"), col("id_o")).as("doc_a"),
        greatest(col("id_p"), col("id_o")).as("doc_b"), col("cppm"))
      .distinct()
    // discovery leg: the EXACT q252 anchor rule, candidates restricted to
    // the panel (the census still runs corpus-wide — df is a corpus
    // property, and pruning it would audit a different rule)
    val sh = docs.select(col("doc_id"), explode(array_distinct(
      T.portableShingleHashes(col("text"), shingleLen))).as("h"))
    val rare = sh.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, dfCap)).select("h")
    val anch = sh.join(rare, Seq("h"), "left_semi")
    val cand = anch.select(col("h"), col("doc_id").as("doc_a"))
      .join(anch.select(col("h"), col("doc_id").as("doc_b")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(col("doc_a") < panel || col("doc_b") < panel)
      .select("doc_a", "doc_b").distinct()
    val band = (expr("cppm div 100000") * 100000L).as("band_ppm")
    val t = truth.select(band, col("doc_a"), col("doc_b"))
    val f = truth.join(cand, Seq("doc_a", "doc_b"), "left_semi")
      .select(band)
    t.groupBy("band_ppm").agg(count(lit(1)).as("n_true_pairs"))
      .join(f.groupBy("band_ppm").agg(count(lit(1)).as("n_found_pairs")),
        Seq("band_ppm"), "left")
      .na.fill(0L, Seq("n_found_pairs"))
      .withColumn("recall_ppm",
        expr("n_found_pairs * 1000000 div n_true_pairs"))
      .orderBy("band_ppm")
  }

  // ------------------------------------------------- n-gram Jaccard (exact)

  /** Exact word-bigram Jaccard for a linear pair stream (adjacent doc_ids) —
    * the verification kernel of the dedup family, O(n) pairs so it scales and
    * stays DuckDB-oracle-checkable. Pair *discovery* at scale is MinHash's
    * job ([[minHashPairsPortable]]). */
  def adjacentNgramJaccard(docs0: DataFrame, n: Int = 2): DataFrame = {
    val docs = graft.Tables.parallelized(docs0)
    // Docs with no n-grams (< n tokens) are dropped, not emitted as
    // jaccard=0 rows: a doc with no shingles has no set to compare, and
    // this matches the oracle's unnest-of-empty-list semantics exactly.
    // The guard is written on the token count — equivalent to
    // size(shingles) > 0 (spaces+1 == size(split(text,' ',-1)), empties
    // included on both), but its pushed-down copy in the scan filter costs
    // length arithmetic per row instead of a per-row array allocation.
    // Deliberately NOT persisted, although both join sides consume the same
    // gram frame: caching string-array columns pays InMemoryRelation encode
    // + per-read deserialization that MEASURES ~2× slower than recomputing
    // the codegen'd shingle expression per side (probed r7, 1.5s cached vs
    // 0.8s recomputed at sf0.1) — and at 100 TB caching corpus shingles is
    // a non-starter anyway. The 2-eval shape is asserted in PlanQualitySpec.
    val grams = docs
      .filter(T.tokenCount(col("text")) >= n)
      .select(col("doc_id"),
        array_distinct(T.wordShingles(col("text"), n)).as("g"))
    val a = grams.select(col("doc_id").as("doc_a"), col("g").as("g_a"))
    val b = grams.select((col("doc_id") - 1).as("doc_a"),
      col("doc_id").as("doc_b"), col("g").as("g_b"))
    // Both join sides are the whole corpus, so a broadcast is never the
    // right physical plan (it ships every shingle set to every executor —
    // at 100 TB a non-starter, and even locally the multi-hundred-MB
    // HashedRelation build dominates the query). Pin the scalable strategy:
    // a merge join that shuffles each side once by the adjacency key.
    a.hint("merge").join(b, Seq("doc_a"))
      .withColumn("inter", size(array_intersect(col("g_a"), col("g_b"))).cast(LongType))
      .withColumn("uni",
        size(col("g_a")).cast(LongType) + size(col("g_b")).cast(LongType) - col("inter"))
      .select(col("doc_a"), col("doc_b"),
        when(col("uni") > 0, floor(lit(1000000.0) * col("inter") / col("uni")))
          .otherwise(lit(0L)).as("jaccard_x1e6"))
  }

  // --------------------------------------------- embedding cosine near-dup

  /** Embedding near-dup candidates via hyperplane-LSH buckets with
    * ENGINE-PORTABLE randomness — the q159 algebra as a pair-discovery
    * operator: embeddings quantize to int64 (⌊x·100⌋), the 63-bit
    * arithmetic hyperplane signature ([[graft.plans.PortableHyperplaneSig]]
    * — no JVM RNG anywhere) splits into bands, only band-colliding pairs
    * are compared (corpus² never materializes), and the verify
    * kernel is the signed integer cos²-ppm score (dot²·1e6 div na·nb,
    * negated for obtuse pairs) — every step replayed bit-for-bit by the
    * DuckDB oracle (Extensions.q30Sql). Returns the top `k` candidate
    * pairs by that score.
    *
    * Band width is CORPUS-ADAPTIVE (the r12 ×30 lesson: fixed 7-bit bands
    * mean 128 buckets per band forever, so collision pairs grow ∝ n²/128 —
    * measured as an OOM at 60k vectors): width w = bitlength(n−1) clamped
    * to [7, 21] (so buckets ≈ corpus size and expected bucket occupancy
    * stays O(1)), bands = 63 div w. Both engines derive w with the same
    * integer algebra — `length(bin(n − 1))` — so the oracle still replays
    * exactly; w is a parameter fetch (one count), not data. Precision per
    * band rises with w while band count falls (3 at ≥2M vectors): exact
    * and ultra-near duplicates (the dedup target, cos ≳ 0.99) still
    * collide with high probability, and a production deployment wanting
    * high recall at looser thresholds would extend the signature beyond
    * 63 bits rather than re-coarsen the bands.
    *
    * Scale shape: narrow signature map → slim bands-per-vector explode →
    * bucket self-join (candidates ∝ n by the width rule, never n²) →
    * candidate-only vector fetch joins → TakeOrderedAndProject. */
  def embeddingNearDupsPortable(embs0: DataFrame, k: Int = 20): DataFrame = {
    // one shared quantization kernel (PortableAnn.quantized — bit-identical
    // to the oracle's quant CTE by construction), scratch-barriered: it
    // feeds the width count, the band map, and BOTH candidate fetch joins —
    // the same natural-barrier discipline as lshJaccardPairs below
    val q = graft.operators.Checkpoints.scratch(
      graft.ann.PortableAnn.quantized(embs0))
    // corpus-adaptive band width: one count (parameter fetch), integer
    // bit-length — identical to the oracle's LENGTH(BIN(n - 1))
    val nVecs = q.count()
    val w = math.min(21, math.max(7,
      64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, nVecs - 1))))
    val nBands = 63 / w
    val mask = (1L << w) - 1
    // the 63×dim signature map is the expensive narrow stage and feeds the
    // bucket-size aggregate plus both self-join legs — barrier it too
    val bands = graft.operators.Checkpoints.scratch(q
      .withColumn("sig", call_function("portable_hyperplane_sig", col("qv")))
      .select(col("vec_id"),
        explode(sequence(lit(0), lit(nBands - 1))).as("band_id"), col("sig"))
      .withColumn("band_val", expr(s"shiftright(sig, band_id * $w) & $mask"))
      .select("vec_id", "band_id", "band_val"))
    // dense-cluster cutoff (measured at ×30: real corpora concentrate —
    // rotation-near-invariant vectors put the SAME growing cluster in one
    // bucket, so within-bucket pairs grow quadratically no matter how wide
    // the bands are; 100 buckets held 14M of 17M candidate pairs): a
    // bucket larger than the cap is a dense near-dup CLUSTER, which
    // pairwise emission is the wrong tool for — those route to the
    // cluster-level pass (connected components, q58/q131 family) instead
    // of the pairwise tail this operator serves. Candidates are thereby
    // ≤ buckets·cap²/2 with buckets ∝ n — linear, by construction.
    val cap = 256
    val smallBuckets = bands.groupBy("band_id", "band_val")
      .agg(count(lit(1)).as("bc")).filter(col("bc") <= cap)
      .select("band_id", "band_val")
    val kept = bands.join(smallBuckets, Seq("band_id", "band_val"), "left_semi")
    val cand = kept.select(col("band_id"), col("band_val"),
        col("vec_id").as("vec_a"))
      .join(kept.select(col("band_id"), col("band_val"),
        col("vec_id").as("vec_b")), Seq("band_id", "band_val"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b").distinct()
    cand
      .join(q.select(col("vec_id").as("vec_a"), col("qv").as("qa"),
        col("nrm").as("na")), "vec_a")
      .join(q.select(col("vec_id").as("vec_b"), col("qv").as("qb"),
        col("nrm").as("nb")), "vec_b")
      .withColumn("dot", call_function("dot_i64", col("qa"), col("qb")))
      .withColumn("score_x1e6",
        graft.ann.PortableAnn.cosPpmScore("dot", "na", "nb"))
      .select("vec_a", "vec_b", "score_x1e6")
      .orderBy(desc("score_x1e6"), col("vec_a"), col("vec_b"))
      .limit(k)
  }
}

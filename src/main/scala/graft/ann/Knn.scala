package graft.ann

import graft.functions.{VectorFunctions => V}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Approximate-nearest-neighbor search over an `ArrayType(FloatType)`
  * embedding column (SURVEY §2.11 X2).
  *
  * Scale shape:
  *  - bruteForce: one narrow map (cosine vs a literal query vector — no
  *    shuffle, no join) followed by TakeOrderedAndProject. O(N·d) work,
  *    O(k) result; the right baseline even at 100 TB because the scan
  *    parallelizes perfectly and nothing is collected but k rows.
  *  - lshTopK: the scale path — a seeded hyperplane signature assigns every
  *    vector to a bucket; the query probes its own bucket plus the
  *    `probes` nearest buckets by signature Hamming distance, so the
  *    candidate set (and hence work) is corpus-size-independent per bucket.
  */
object Knn {

  /** Fetch one stored embedding to use as the query point (parameter fetch,
    * not a data-path collect). Fails with a diagnosis instead of a bare
    * NoSuchElementException when the id is absent (r13 VERDICT #6 — the
    * float-path twin of [[PortableAnn.queryVec]]'s require): every float
    * serve funnels through here, so the message must name the id and the
    * table, not surface as an opaque empty-head crash. */
  def queryVector(embs: DataFrame, vecId: Long): Array[Float] = {
    val rows = embs.filter(col("vec_id") === vecId).select("embedding")
      .limit(1).collect()
    require(rows.nonEmpty,
      s"query vec_id=$vecId not found in the embeddings table — cannot " +
        "serve a kNN query for an id with no stored vector")
    rows.head.getSeq[Float](0).toArray
  }

  /** Exact cosine top-k against the query vector; excludes the query row. */
  def bruteForce(embs: DataFrame, q: Array[Float], excludeId: Long, k: Int): DataFrame = {
    val qLit = typedlit(q.map(_.toDouble).toSeq)
    graft.Tables.parallelized(embs).filter(col("vec_id") =!= excludeId)
      .select(col("vec_id"),
        floor(V.cosine(col("embedding"), qLit) * 10000.0).as("cos_x10k"))
      .orderBy(desc("cos_x10k"), col("vec_id"))
      .limit(k)
  }

  // ----------------------------------------------------------------- IVF

  /** Per-row nearest-centroid assignment as a pure expression: the centroid
    * matrix travels as literals and `greatest` over (cosine, cid) structs
    * picks the best match lexicographically — max cosine, larger cid on
    * exact ties. A narrow map: NO join, NO shuffle, regardless of corpus
    * size. */
  private[ann] def nearestCid(centroids: Array[(Long, Array[Float])]) = {
    val scored = centroids.map { case (cid, vec) =>
      struct(
        V.cosine(col("embedding"), typedlit(vec.map(_.toDouble).toSeq)).as("cos"),
        lit(cid).as("cid"))
    }
    greatest(scored.toSeq: _*).getField("cid")
  }

  /** Train IVF coarse centroids with Lloyd iterations over a deterministic
    * hash-sample of the corpus (training never scans the full table — the
    * sample is a narrow pushed-down filter). Assignment maximizes cosine, so
    * centroids partition the sphere like an IVF-flat index. Returns the
    * centroids as a driver-side array — nClusters entries by construction
    * (the model is a parameter, not data).
    *
    * Shuffle shape per iteration: assignment is the [[nearestCid]] literal
    * argmax (narrow map, zero shuffles); only the centroid-mean update
    * shuffles, and only sample×dim (pos, sum) pairs. */
  def ivfTrain(embs: DataFrame, nClusters: Int, iters: Int = 2,
      sampleMod: Int = 10): Array[(Long, Array[Float])] = {
    // the sample is re-consumed every Lloyd iteration — persist for training.
    // Ownership-aware: when another trainer (e.g. the PQ half of an IVF-PQ
    // build, whose k equals nClusters) has already cached the identical
    // sample plan, piggyback on its entry instead of re-persisting — a
    // second persist on a cached plan logs "Asked to cache already cached
    // data" (the r10 residue) and an unconditional unpersist in our finally
    // would yank the owner's cache mid-training.
    val base = graft.Tables.parallelized(embs)
      .filter(pmod(xxhash64(col("vec_id")), lit(sampleMod)) === 0 ||
        col("vec_id") < nClusters) // top-up for tiny fixtures (dense ids);
        // for sparse key spaces the hash sample itself must cover nClusters
      .select(col("vec_id"), col("embedding"))
    val owned = base.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (owned) base.persist()
    try {
      // deterministic init: the nClusters lowest vec_ids in the sample
      // (works for any key space — no dense-0-based assumption)
      var centroids: Array[(Long, Array[Float])] =
        base.orderBy("vec_id").limit(nClusters).collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      for (_ <- 0 until iters) {
        // element-wise mean per cluster: posexplode → (cid, pos) avg →
        // rebuild ordered by pos (sort_array on (pos, v) structs)
        val updated = base
          .withColumn("cid", nearestCid(centroids))
          .select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "v")))
          .groupBy("cid", "pos").agg(avg("v").as("m"))
          .groupBy("cid")
          .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("pm"))
          .select(col("cid"),
            transform(col("pm"), x => x.getField("m").cast(FloatType)).as("cvec"))
          .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
        // a cluster that won no rows this iteration (duplicate inits, cosine
        // ties) keeps its previous vector — the array stays nClusters long,
        // the contract ivfTopK's nProbe relies on
        centroids = centroids.map { case (cid, old) =>
          (cid, updated.getOrElse(cid, old))
        }
      }
      centroids
    } finally if (owned) base.unpersist(blocking = false)
  }

  /** IVF-flat approximate top-k: rank centroids against the query on the
    * driver (the model is nClusters entries — a parameter, not data), assign
    * each corpus row to its list with the [[nearestCid]] literal argmax, and
    * brute-force cosine ONLY inside the `nProbe` best inverted lists. The
    * whole query path is a narrow map + TakeOrderedAndProject — zero
    * shuffles at any corpus size. At 100 TB the assignment is computed once
    * and the table written partitioned/bucketed by `cid`, making the probe a
    * partition-pruned scan. */
  def ivfTopK(embs: DataFrame, q: Array[Float], excludeId: Long, k: Int,
      nClusters: Int = 16, nProbe: Int = 4, iters: Int = 2): DataFrame =
    ivfTopKWith(embs, ivfTrain(embs, nClusters, iters), q, excludeId, k, nProbe)

  /** The serve half of [[ivfTopK]] — query with an already-trained model
    * (from [[Models]] or a fresh [[ivfTrain]]): probe-list ranking on the
    * driver, narrow assignment + filter + TakeOrderedAndProject on the
    * executors. Zero shuffles; training cost paid once per corpus. */
  def ivfTopKWith(embs: DataFrame, centroids: Array[(Long, Array[Float])],
      q: Array[Float], excludeId: Long, k: Int, nProbe: Int = 4): DataFrame =
    ivfServe(embs, centroids, q, excludeId, k, nProbe, None)

  /** FILTERED serve — [[ivfTopKWith]] under a metadata predicate:
    * `allowed` is a slim one-column (`vec_id`) frame of ids passing the
    * caller's relational gate (lang, source, license, freshness...),
    * semi-joined into the probed lists BEFORE any cosine is computed.
    * PRE-filter semantics (the q237 correctness contract): the top-k is
    * exact over the filtered probed set — a post-filtered global top-k
    * can come up short of k or miss qualifying neighbors entirely when
    * the filter is selective. Plan: probe-pruned scan → left-semi gate
    * (AQE broadcasts a selective id set; a corpus-shaped gate falls back
    * to a hash semi-join on vec_id) → narrow cosine →
    * TakeOrderedAndProject.
    *
    * ADAPTIVE probing (r10 VERDICT #4): a fixed `nProbe` tuned for the
    * unfiltered corpus under-explores when the gate is selective — the
    * probed lists may hold only a handful of QUALIFYING candidates, and
    * recall against the filtered exact ranking craters. So `nProbe` here
    * is a FLOOR, not the width: the serve first takes the exact per-list
    * gated candidate counts (one ≤`nClusters`-cell map-combined
    * aggregate — a parameter fetch, the same collect budget as the
    * centroid model itself), then probes the SHORTEST prefix of the
    * cosine-ranked lists holding at least `minCandidateFactor`·k gated
    * candidates (all lists if the whole gated corpus is smaller). A
    * non-selective gate degenerates to the fixed-`nProbe` plan; a
    * selective one widens only as far as the gate demands. At deployed
    * scale the per-list gate counts come from the same cid-partitioned
    * layout the probe reads — or from index-time per-list metadata
    * statistics — and the widening decision stays a driver-side
    * ≤nClusters-row computation. */
  def ivfTopKFiltered(embs: DataFrame, centroids: Array[(Long, Array[Float])],
      q: Array[Float], excludeId: Long, k: Int, nProbe: Int,
      allowed: DataFrame, minCandidateFactor: Int = 3): DataFrame = {
    val ranked = rankedCids(centroids, q.map(_.toDouble))
    val assigned = graft.Tables.parallelized(embs)
      .withColumn("cid", nearestCid(centroids))
      .filter(col("vec_id") =!= excludeId)
    // exact gated candidates per inverted list: ≤ nClusters cells
    val perList = assigned
      .join(allowed.select("vec_id"), Seq("vec_id"), "left_semi")
      .groupBy("cid").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val target = minCandidateFactor.toLong * k
    var cum = 0L
    var width = 0
    while (width < ranked.length && cum < target) {
      cum += perList.getOrElse(ranked(width), 0L)
      width += 1
    }
    ivfServe(embs, centroids, q, excludeId, k,
      ranked.take(math.max(nProbe, width)), Some(allowed))
  }

  /** All centroid ids ranked by query cosine — the driver-side probe order.
    * Tie-break MUST mirror [[nearestCid]]'s executor-side rule (greatest
    * struct → larger cid wins exact cosine ties): with duplicate centroids
    * (e.g. a corpus whose k lowest ids are identical vectors, so every init
    * centroid is the same point) the rows all land in the LARGEST tied cid
    * — probing the smallest tied cid instead would miss every one of
    * them. */
  private def rankedCids(centroids: Array[(Long, Array[Float])],
      qd: Array[Double]): Array[Long] = {
    def cos(a: Array[Double], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length && i < b.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      if (na == 0.0 || nb == 0.0) -2.0 else d / (math.sqrt(na) * math.sqrt(nb))
    }
    centroids.map { case (cid, vec) => (cos(qd, vec), cid) }
      .sortBy { case (c, cid) => (-c, -cid) }.map(_._2)
  }

  private def ivfServe(embs: DataFrame, centroids: Array[(Long, Array[Float])],
      q: Array[Float], excludeId: Long, k: Int, nProbe: Int,
      gate: Option[DataFrame]): DataFrame =
    ivfServe(embs, centroids, q, excludeId, k,
      rankedCids(centroids, q.map(_.toDouble)).take(nProbe), gate)

  private def ivfServe(embs: DataFrame, centroids: Array[(Long, Array[Float])],
      q: Array[Float], excludeId: Long, k: Int, probeCids: Array[Long],
      gate: Option[DataFrame]): DataFrame = {
    val qd = q.map(_.toDouble)
    val qLit = typedlit(qd.toSeq)
    val probed = graft.Tables.parallelized(embs)
      .withColumn("cid", nearestCid(centroids))
      .filter(col("cid").isin(probeCids.toSeq: _*) && col("vec_id") =!= excludeId)
    // the metadata gate fires on the PROBED lists, before any cosine
    val gated = gate.fold(probed)(g =>
      probed.join(g.select("vec_id"), Seq("vec_id"), "left_semi"))
    gated
      .select(col("vec_id"),
        floor(V.cosine(col("embedding"), qLit) * 10000.0).as("cos_x10k"))
      .orderBy(desc("cos_x10k"), col("vec_id"))
      .limit(k)
  }

  /** LSH-bucketed approximate top-k: compare only against vectors whose
    * signature is within `maxHamming` of the query's (multi-probe). */
  def lshTopK(embs: DataFrame, q: Array[Float], excludeId: Long, k: Int,
      dim: Int, bits: Int = 8, seed: Long = 42L, maxHamming: Int = 2): DataFrame = {
    val spark = embs.sparkSession
    val qDf = spark.range(1).select(
      typedlit(q.toSeq).cast(ArrayType(FloatType)).as("embedding"))
    // head() on a 1-row literal frame (spark.range(1)) — structurally
    // non-empty, unlike the id-lookup in queryVector above
    val qSig = qDf.select(
      V.hyperplaneSignature(col("embedding"), dim, bits, seed).as("s"))
      .head().getLong(0)

    val qLit = typedlit(q.map(_.toDouble).toSeq)
    graft.Tables.parallelized(embs).filter(col("vec_id") =!= excludeId)
      .withColumn("bucket",
        V.hyperplaneSignature(col("embedding"), dim, bits, seed))
      .filter(bit_count(col("bucket").bitwiseXOR(lit(qSig))) <= maxHamming)
      .select(col("vec_id"),
        floor(V.cosine(col("embedding"), qLit) * 10000.0).as("cos_x10k"))
      .orderBy(desc("cos_x10k"), col("vec_id"))
      .limit(k)
  }

  /** [[lshTopK]] with ENGINE-PORTABLE randomness (r11 VERDICT #1): the q159
    * integer algebra as a serve path. Embeddings quantize to int64 (⌊x·100⌋);
    * the 63-bit arithmetic hyperplane signature
    * ([[graft.plans.PortableHyperplaneSig]]) splits into 9×7-bit bands; the
    * candidate set is every vector sharing ≥ 1 band with the query — the
    * multi-probe analog (a near neighbor's small signature Hamming distance
    * makes an exact band match likely, the SimHash pigeonhole argument) —
    * and candidates rank by the signed integer cos²-ppm score. Every step is
    * md5/integer arithmetic the DuckDB oracle replays verbatim
    * (Extensions.q32Sql), so the LSH serve itself sits under the hash gate.
    *
    * Scale shape: narrow signature map, slim 9-rows-per-vector band explode,
    * band semi-join against the query's 9 band keys (broadcast — the query
    * is a parameter), candidate-only fetch join, one broadcast 1-row
    * parameter join for the query vector, TakeOrderedAndProject. Zero
    * corpus-sized shuffles. */
  def lshTopKPortable(embs0: DataFrame, queryId: Long, k: Int): DataFrame = {
    // one shared quantization kernel (PortableAnn.quantized — must stay
    // bit-identical to the oracle's quant CTE), scratch-barriered because
    // it feeds the band map, the candidate fetch join, and the query-row
    // parameter fetch (the LSH-barrier discipline of lshJaccardPairs)
    val q = graft.operators.Checkpoints.scratch(PortableAnn.quantized(embs0))
    val bands = q
      .withColumn("sig", call_function("portable_hyperplane_sig", col("qv")))
      .select(col("vec_id"), explode(sequence(lit(0), lit(8))).as("band_id"),
        col("sig"))
      .withColumn("band_val", expr("shiftright(sig, band_id * 7) & 127"))
      .select("vec_id", "band_id", "band_val")
    val qBands = bands.filter(col("vec_id") === queryId)
      .select("band_id", "band_val")
    val cand = bands.filter(col("vec_id") =!= queryId)
      .join(broadcast(qBands), Seq("band_id", "band_val"), "left_semi")
      .select("vec_id").distinct()
    val qRow = q.filter(col("vec_id") === queryId)
      .select(col("qv").as("qq"), col("nrm").as("qn"))
    cand.join(q, "vec_id")
      .crossJoin(broadcast(qRow))
      .withColumn("dot", call_function("dot_i64", col("qv"), col("qq")))
      .withColumn("score_x1e6", PortableAnn.cosPpmScore("dot", "nrm", "qn"))
      .select("vec_id", "score_x1e6")
      .orderBy(desc("score_x1e6"), col("vec_id"))
      .limit(k)
  }
}

package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Product quantization (PQ) for approximate-nearest-neighbor search — the
  * memory-scale path for 100 TB similarity search: each D-dim float vector
  * compresses to `m` small codes (here 4 bytes/vector vs 256 bytes of
  * floats), and query scoring reads ONLY the codes via per-subspace
  * distance-table lookups (asymmetric distance computation, ADC), never the
  * original vectors. Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011.
  *
  * Spark shape: training is Lloyd iterations per subspace over a
  * deterministic hash-sample (bounded, never the full corpus); encoding and
  * ADC scoring are NARROW maps — codebooks and distance tables travel as
  * literals, so the query path is scan → score → TakeOrderedAndProject with
  * zero shuffles and zero joins at any corpus size. At 100 TB the codes
  * column is written once next to the corpus and the per-query cost is a
  * code-column scan (m bytes/row), the same plan shape asserted in AnnSpec.
  *
  * Determinism: hash-sampled training set, lowest-id init, lexicographic
  * (distance, code) argmin ties, and fixed-order double arithmetic make the
  * trained codebooks — and therefore every score — reproducible, which is
  * what lets the spec pin exact recall floors.
  */
object Pq {

  /** Squared L2 distance between two float arrays (HOF — stays codegen'd). */
  private[ann] def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)

  /** 1-based slice of subspace `s` (width `w`). */
  private def subSlice(vec: Column, s: Int, w: Int): Column =
    slice(vec, s * w + 1, w)

  /** All m nearest-code ids in one native expression (plans/PqExpressions):
    * the codebooks ride as ONE foldable literal child, the argmin is a fused
    * primitive loop in codegen, and exact ties resolve to the smaller code.
    * The HOF form this replaced (one `transform`+`aggregate` lambda pair per
    * subspace×code) was quadratically slow to PLAN — m·k = 256 lambda
    * subtrees cost Catalyst seconds per Lloyd iteration at any data size.
    * No join, no shuffle. */
  private[ann] def encodeCol(vec: Column, codebooks: Array[Array[Array[Float]]]): Column =
    call_function("pq_encode", vec,
      typedlit(codebooks.map(_.map(_.map(_.toDouble).toSeq).toSeq).toSeq))

  /** HOF reference encoder for ONE subspace — parity-tested against the
    * native `pq_encode` path in AnnSpec, never on the hot path. */
  def nearestCodeHof(sub: Column, codebook: Array[Array[Float]]): Column = {
    val cbLit = typedlit(codebook.map(_.map(_.toDouble).toSeq).toSeq)
    val dists = transform(cbLit, cvec => l2sq(sub, cvec))
    (array_position(dists, array_min(dists)) - 1).cast(IntegerType)
  }

  /** Train per-subspace codebooks with Lloyd iterations over a hash-sample.
    * @return codebooks(s)(c) = centroid of code c in subspace s — `m × k`
    *         entries by construction (a code that wins no rows keeps its
    *         previous centroid, same contract as Knn.ivfTrain). */
  def pqTrain(embs: DataFrame, dim: Int, m: Int = 4, k: Int = 16,
      iters: Int = 2, sampleMod: Int = 10): Array[Array[Array[Float]]] = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val w = dim / m
    // a scratch copy of the sample for the training loop, as in Knn.ivfTrain
    val base = graft.operators.Checkpoints.scratch(graft.Tables.parallelized(embs)
      .filter(pmod(xxhash64(col("vec_id")), lit(sampleMod)) === 0 ||
        col("vec_id") < k) // top-up so init always finds k rows
      .select(col("vec_id"), col("embedding")))
    try {
      // deterministic init: the k lowest vec_ids' subvectors, per subspace
      val initRows = base.orderBy("vec_id").limit(k).collect()
        .map(_.getSeq[Float](1).toArray)
      var codebooks: Array[Array[Array[Float]]] =
        Array.tabulate(m)(s => initRows.map(_.slice(s * w, s * w + w)))
      for (_ <- 0 until iters) {
        // ALL subspaces update in one job: assign m codes per row (narrow
        // native map), posexplode once, recover (subspace, within-subspace
        // pos) from the flat position — one shuffle per Lloyd iteration
        // total, not one per subspace
        val codesCol = encodeCol(col("embedding"), codebooks)
        val updated = base
          .select(col("embedding"), codesCol.as("codes"))
          .select(col("codes"), posexplode(col("embedding")).as(Seq("pos", "v")))
          .withColumn("s", (col("pos") / w).cast(IntegerType))
          .select(col("s"), element_at(col("codes"), col("s") + 1).as("code"),
            pmod(col("pos"), lit(w)).as("sp"), col("v"))
          .groupBy("s", "code", "sp").agg(avg("v").as("mv"))
          .groupBy("s", "code")
          .agg(sort_array(collect_list(struct(col("sp"), col("mv")))).as("pm"))
          .select(col("s"), col("code"),
            transform(col("pm"), x => x.getField("mv").cast(FloatType)).as("cvec"))
          .collect()
          .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Float](2).toArray)).toMap
        // a code that won no rows keeps its previous centroid — m×k entries
        // by construction
        codebooks = Array.tabulate(m)(s => codebooks(s).zipWithIndex.map {
          case (old, c) => updated.getOrElse((s, c), old)
        })
      }
      codebooks
    } finally graft.operators.Checkpoints.release(base)
  }

  /** Encode every vector to its `m` nearest-code ids — one narrow map, the
    * write-once step that shrinks the corpus to m small ints per row. */
  def encode(embs: DataFrame, codebooks: Array[Array[Array[Float]]],
      dim: Int): DataFrame =
    graft.Tables.parallelized(embs).select(col("vec_id"),
      encodeCol(col("embedding"), codebooks).as("codes"))

  /** ADC scoring over pre-encoded codes: the query's per-subspace distance
    * tables are computed on the driver (m×k doubles — a parameter, not data)
    * and shipped as a literal; each row's approximate distance is m table
    * lookups over its codes. Ascending distance, ties to smaller vec_id. */
  def adcScores(encoded: DataFrame, codebooks: Array[Array[Array[Float]]],
      q: Array[Float], dim: Int): DataFrame = {
    val m = codebooks.length
    val w = dim / m
    // distance tables: dt(s)(c) = ||q_sub(s) − codebook(s)(c)||²
    val dt: Seq[Seq[Double]] = (0 until m).map { s =>
      val qs = q.slice(s * w, s * w + w)
      codebooks(s).map { cvec =>
        var d = 0.0; var i = 0
        while (i < w) { val x = qs(i) - cvec(i); d += x * x; i += 1 }
        d
      }.toSeq
    }
    encoded.select(col("vec_id"),
      floor(call_function("adc_dist", col("codes"), typedlit(dt)) * 1e6)
        .cast(LongType).as("adist_x1e6"))
  }

  /** PQ top-k = ADC candidate generation + exact re-rank, the standard
    * two-stage shape (Jégou et al. §V): ADC over the codes column picks
    * `topK × refine` candidates (narrow map + TakeOrdered — zero shuffles at
    * any corpus size), then ONLY those rows' float vectors are re-read for an
    * exact L2 re-rank. The candidate ids come back to the driver (≤ topK ×
    * refine longs — a parameter, not data) and return as an IN filter, so the
    * re-rank scan prunes to the candidate rows via pushed-down predicate /
    * row-group stats rather than re-scanning the corpus. Ascending exact
    * distance, ties to smaller vec_id. */
  def pqTopK(embs: DataFrame, q: Array[Float], excludeId: Long, topK: Int,
      dim: Int, m: Int = 16, k: Int = 16, iters: Int = 2, refine: Int = 5,
      sampleMod: Int = 10): DataFrame =
    pqTopKWith(embs, pqTrain(embs, dim, m, k, iters, sampleMod),
      q, excludeId, topK, dim, refine)

  /** The serve half of [[pqTopK]] — ADC candidates + exact re-rank with an
    * already-trained codebook set (from [[Models]] or a fresh [[pqTrain]]):
    * training cost paid once per corpus, queries pay only scans. */
  def pqTopKWith(embs: DataFrame, codebooks: Array[Array[Array[Float]]],
      q: Array[Float], excludeId: Long, topK: Int, dim: Int,
      refine: Int = 5): DataFrame = {
    val candidates = adcScores(
        encode(embs, codebooks, dim).filter(col("vec_id") =!= excludeId),
        codebooks, q, dim)
      .orderBy(col("adist_x1e6"), col("vec_id"))
      .limit(topK * refine)
      .select("vec_id").collect().map(_.getLong(0))
    val qLit = typedlit(q.map(_.toDouble).toSeq)
    graft.Tables.parallelized(embs)
      .filter(col("vec_id").isInCollection(candidates))
      .select(col("vec_id"),
        floor(l2sq(col("embedding"), qLit) * 1e6).cast(LongType)
          .as("dist_x1e6"))
      .orderBy(col("dist_x1e6"), col("vec_id"))
      .limit(topK)
  }
}

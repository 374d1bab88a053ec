package graft.ann

import graft.functions.{TextFunctions => T}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** ENGINE-PORTABLE integer-arithmetic ANN (r11 VERDICT #2): the same
  * IVF / PQ / IVF-PQ architectures as [[Knn]]/[[Pq]]/[[IvfPq]], with every
  * arithmetic step replayable bit-for-bit by a SQL engine — which puts the
  * WHOLE family (training included) under the driver's DuckDB hash gate
  * instead of the recall-floor specs the float variants rest on.
  *
  * The float variants are legitimately unportable because Lloyd centroid
  * means depend on float accumulation order. This module removes floats
  * entirely:
  *  - embeddings quantize to int64 (⌊x·100⌋ — the q30/q32/q159 convention);
  *  - distances are integer squared L2 (exact, associative — any
  *    accumulation order gives the same value);
  *  - centroid updates are integer truncating-division means (`div` in
  *    Spark, `//` in DuckDB — both truncate toward zero);
  *  - the training sample and every tie-break derive from md5 / integer
  *    comparisons, never a JVM RNG or float rounding.
  * So the trained model, the encoded corpus, and the served top-k are a
  * pure function of the corpus bytes, identical in any engine.
  *
  * Scale shape matches the float family: training scans a hash-sample;
  * assignment/encoding are narrow maps with model-as-literal (the int
  * codebooks ride through the same native `pq_encode`/`adc_dist`/`dot_i64`
  * codegen'd expressions — integer values are exact in double, so the
  * double kernels compute exact integer distances); serves are probe-pruned
  * scans + TakeOrderedAndProject with zero corpus-sized shuffles.
  */
object PortableAnn {

  /** THE portable quantization expression (⌊x·100⌋ per slot) — single owner
    * of the constant and shape every portable vector consumer (and the
    * shared `portableQuantCte` oracle prefix) must match bit-for-bit. */
  def qvExpr(embedding: Column): Column =
    transform(embedding, x => floor(x.cast(DoubleType) * 100).cast(LongType))

  /** Quantized corpus: (vec_id, qv: array<long> = ⌊x·100⌋, nrm = ⟨qv,qv⟩),
    * zero vectors dropped (cosine undefined). */
  def quantized(embs: DataFrame): DataFrame =
    graft.Tables.parallelized(embs)
      .select(col("vec_id"), qvExpr(col("embedding")).as("qv"))
      .withColumn("nrm", call_function("dot_i64", col("qv"), col("qv")))
      .filter(col("nrm") > 0)

  /** Signed integer cos²-ppm score — THE scoring kernel of the portable
    * vector family (q30/q32/q49), kept in exactly one place because every
    * caller must stay bit-identical to the shared DuckDB CTE:
    * ±⟨dot⟩²·10⁶ div (na·nb), sign of the dot preserved. Integer `div`,
    * never double division — a double quotient can round up across an
    * integer boundary and desync the hash gate. Takes column NAMES because
    * `div` lives only in the SQL expression language. */
  def cosPpmScore(dot: String, na: String, nb: String): Column =
    when(col(dot) >= 0, expr(s"$dot * $dot * 1000000 div ($na * $nb)"))
      .otherwise(-expr(s"$dot * $dot * 1000000 div ($na * $nb)"))

  /** Portable hash-sample (md5-60-bit of the id — what DuckDB's
    * `CAST('0x'||substr(md5(id),1,15) AS BIGINT)` computes), topped up with
    * `vec_id < topUp` so tiny fixtures always cover the init set. */
  private[graft] def sampled(q: DataFrame, mod: Int, topUp: Int): DataFrame =
    q.filter(T.portableHash60(col("vec_id")) % mod === 0 ||
      col("vec_id") < topUp)

  private def l2Int(a: Array[Long], b: Array[Long]): Long = {
    var d = 0L; var i = 0
    while (i < a.length && i < b.length) {
      val x = a(i) - b(i); d += x * x; i += 1
    }
    d
  }

  // ------------------------------------------------------------ integer IVF

  /** argmin integer-L2 over literal centroids, ties → smaller cid: `least`
    * over (key, cid) structs where key = ‖c‖² − 2⟨v,c⟩ — the per-row-constant
    * ‖v‖² is dropped, which preserves ordering AND ties exactly (the SQL
    * replay ranks by the full ‖v−c‖²; the two orderings are identical).
    * Narrow, codegen'd, zero shuffles at any corpus size. */
  def nearestCidInt(cents: Array[(Long, Array[Long])]): Column = {
    val scored = cents.map { case (cid, cv) =>
      val nc = cv.map(x => x * x).sum
      struct(
        (lit(nc) - lit(2L) *
          call_function("dot_i64", col("qv"), typedlit(cv.toSeq))).as("d"),
        lit(cid).as("cid"))
    }
    least(scored.toIndexedSeq: _*).getField("cid")
  }

  /** Integer Lloyd over the portable hash-sample. Init = the `nClusters`
    * lowest sampled vec_ids (cid = that vec_id, the [[Knn.ivfTrain]]
    * labeling); update = per-position truncating-division mean; a cluster
    * that wins no rows keeps its previous centroid. `q` must be a
    * [[quantized]] frame. */
  def ivfTrainInt(q: DataFrame, nClusters: Int, iters: Int = 2,
      sampleMod: Int = 10, topUp: Int = 0): Array[(Long, Array[Long])] = {
    val base = graft.operators.Checkpoints.scratch(
      sampled(q, sampleMod, math.max(nClusters, topUp)).select("vec_id", "qv"))
    try {
      var cents: Array[(Long, Array[Long])] =
        base.orderBy("vec_id").limit(nClusters).collect()
          .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      for (_ <- 0 until iters) {
        val updated = base
          .withColumn("cid", nearestCidInt(cents))
          .select(col("cid"), posexplode(col("qv")).as(Seq("pos", "v")))
          .groupBy("cid", "pos")
          .agg(expr("sum(v) div count(1)").as("m"))
          .groupBy("cid")
          .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("pm"))
          .select(col("cid"),
            transform(col("pm"), x => x.getField("m")).as("cvec"))
          .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).toMap
        cents = cents.map { case (cid, old) =>
          (cid, updated.getOrElse(cid, old))
        }
      }
      cents
    } finally graft.operators.Checkpoints.release(base)
  }

  /** Probe order: all cids ranked by integer L2 to the query, ties → smaller
    * cid (driver-side — the model is a parameter). */
  private def probeCids(cents: Array[(Long, Array[Long])], qv: Array[Long],
      nProbe: Int): Array[Long] =
    cents.map { case (cid, cv) => (l2Int(qv, cv), cid) }
      .sortBy(identity).take(nProbe).map(_._2)

  /** Driver-side parameter fetch of one quantized vector. Fails with a
    * diagnosis instead of a bare NoSuchElementException when the id is
    * absent or zero-norm (r12 ADVICE #4): [[quantized]] drops zero-norm
    * rows (cosine undefined), and every portable IVF/PQ serve funnels
    * through here, so the message must name both exclusion rules. */
  def queryVec(q: DataFrame, vecId: Long): (Array[Long], Long) = {
    val rows = q.filter(col("vec_id") === vecId).select("qv", "nrm")
      .limit(1).collect()
    require(rows.nonEmpty,
      s"query vec_id=$vecId not found in the quantized corpus — either " +
        "absent from the embeddings table, or excluded by the zero-norm " +
        "rule (quantized() drops rows with <qv,qv> = 0: cosine undefined)")
    val r = rows.head
    (r.getSeq[Long](0).toArray, r.getLong(1))
  }

  /** IVF-flat portable serve: probe `nProbe` lists by integer L2, rank the
    * probed candidates by the signed cos²-ppm integer score (the q30/q32
    * scoring kernel: ±⟨v,q⟩²·10⁶ div (‖v‖²‖q‖²), sign of the dot
    * preserved). Zero shuffles: narrow assignment + filter +
    * TakeOrderedAndProject. */
  def ivfTopKPortable(embs: DataFrame, queryId: Long, k: Int,
      nClusters: Int = 8, nProbe: Int = 3, iters: Int = 2,
      sampleMod: Int = 10,
      model: Option[Array[(Long, Array[Long])]] = None): DataFrame = {
    val q = quantized(embs)
    val cents = model.getOrElse(ivfTrainInt(q, nClusters, iters, sampleMod))
    val (qv, qn) = queryVec(q, queryId)
    val probes = probeCids(cents, qv, nProbe)
    val qLit = typedlit(qv.toSeq)
    q.filter(col("vec_id") =!= queryId)
      .withColumn("cid", nearestCidInt(cents))
      .filter(col("cid").isin(probes.toIndexedSeq: _*))
      .withColumn("dot", call_function("dot_i64", col("qv"), qLit))
      .withColumn("qn", lit(qn))
      .withColumn("score_x1e6", cosPpmScore("dot", "nrm", "qn"))
      .select("vec_id", "score_x1e6")
      .orderBy(desc("score_x1e6"), col("vec_id"))
      .limit(k)
  }

  // ------------------------------------------------------------- integer PQ

  /** Integer codebooks through the native `pq_encode` kernel: int64 values
    * are exact in double, so the double L2 argmin (ties → smaller code) is
    * bit-identical to the integer argmin the SQL replay runs. */
  def encodeIntCol(qv: Column, cbs: Array[Array[Array[Long]]]): Column =
    call_function("pq_encode", transform(qv, _.cast(DoubleType)),
      typedlit(cbs.map(_.map(_.map(_.toDouble).toSeq).toSeq).toSeq))

  /** Integer Lloyd per subspace over the portable hash-sample (the
    * [[Pq.pqTrain]] one-shuffle-per-iteration shape, integer arithmetic).
    * `q` must be a (vec_id, qv) frame — raw quantized vectors for plain PQ,
    * residuals for IVF-PQ. */
  def pqTrainInt(q: DataFrame, dim: Int, m: Int, k: Int, iters: Int = 2,
      sampleMod: Int = 10): Array[Array[Array[Long]]] = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val w = dim / m
    val base = graft.operators.Checkpoints.scratch(
      sampled(q, sampleMod, k).select("vec_id", "qv"))
    try {
      val initRows = base.orderBy("vec_id").limit(k).collect()
        .map(_.getSeq[Long](1).toArray)
      var cbs: Array[Array[Array[Long]]] =
        Array.tabulate(m)(s => initRows.map(_.slice(s * w, s * w + w)))
      for (_ <- 0 until iters) {
        val updated = base
          .select(col("qv"), encodeIntCol(col("qv"), cbs).as("codes"))
          .select(col("codes"), posexplode(col("qv")).as(Seq("pos", "v")))
          .withColumn("s", (col("pos") / w).cast(IntegerType))
          .select(col("s"), element_at(col("codes"), col("s") + 1).as("code"),
            pmod(col("pos"), lit(w)).as("sp"), col("v"))
          .groupBy("s", "code", "sp")
          .agg(expr("sum(v) div count(1)").as("mv"))
          .groupBy("s", "code")
          .agg(sort_array(collect_list(struct(col("sp"), col("mv")))).as("pm"))
          .select(col("s"), col("code"),
            transform(col("pm"), x => x.getField("mv")).as("cvec"))
          .collect()
          .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Long](2).toArray))
          .toMap
        cbs = Array.tabulate(m)(s => cbs(s).zipWithIndex.map {
          case (old, c) => updated.getOrElse((s, c), old)
        })
      }
      cbs
    } finally graft.operators.Checkpoints.release(base)
  }

  /** Query-side ADC tables: dt(s)(c) = integer ‖q_sub(s) − codebook(s)(c)‖²
    * (driver-side, model-sized). */
  private def adcTables(cbs: Array[Array[Array[Long]]], qv: Array[Long],
      dim: Int): Seq[Seq[Double]] = {
    val m = cbs.length
    val w = dim / m
    (0 until m).map { s =>
      val qs = qv.slice(s * w, s * w + w)
      cbs(s).map(cv => l2Int(qs, cv).toDouble).toSeq
    }
  }

  /** Exact integer L2 re-rank of a driver-collected candidate id list:
    * ‖v−q‖² = ‖v‖² + ‖q‖² − 2⟨v,q⟩ — algebraically identical to the direct
    * sum the SQL replay computes, exact in int64. */
  private def rerank(q: DataFrame, candidates: Array[Long], qv: Array[Long],
      qn: Long, topK: Int): DataFrame = {
    val qLit = typedlit(qv.toSeq)
    q.filter(col("vec_id").isInCollection(candidates.toIndexedSeq))
      .select(col("vec_id"),
        (col("nrm") + lit(qn) - lit(2L) *
          call_function("dot_i64", col("qv"), qLit)).as("dist_i64"))
      .orderBy(col("dist_i64"), col("vec_id"))
      .limit(topK)
  }

  /** PQ portable serve: ADC candidate scan over the int codes (narrow map,
    * model-as-literal) + exact integer re-rank of topK×refine rows. */
  def pqTopKPortable(embs: DataFrame, queryId: Long, topK: Int, dim: Int,
      m: Int = 8, k: Int = 16, iters: Int = 2, refine: Int = 5,
      sampleMod: Int = 10,
      model: Option[Array[Array[Array[Long]]]] = None): DataFrame = {
    val q = quantized(embs)
    val cbs = model.getOrElse(pqTrainInt(q, dim, m, k, iters, sampleMod))
    val (qv, qn) = queryVec(q, queryId)
    val dt = adcTables(cbs, qv, dim)
    val candidates = q.filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), encodeIntCol(col("qv"), cbs).as("codes"))
      .select(col("vec_id"),
        call_function("adc_dist", col("codes"), typedlit(dt))
          .cast(LongType).as("ad"))
      .orderBy(col("ad"), col("vec_id"))
      .limit(topK * refine)
      .select("vec_id").collect().map(_.getLong(0))
    rerank(q, candidates, qv, qn, topK)
  }

  // --------------------------------------------------------- integer IVF-PQ

  /** Coarse int centroids + residual int codebooks — the [[IvfPq.Model]]
    * shape in exact arithmetic. */
  final case class IntModel(cents: Array[(Long, Array[Long])],
      cbs: Array[Array[Array[Long]]])

  private def centMapLit(cents: Array[(Long, Array[Long])]): Column =
    typedlit(cents.map { case (cid, cv) => cid -> cv.toSeq }.toMap)

  /** cid + integer residual per vector (narrow, model-as-literal). */
  def assignResidInt(q: DataFrame,
      cents: Array[(Long, Array[Long])]): DataFrame =
    q.withColumn("cid", nearestCidInt(cents))
      .withColumn("rv",
        zip_with(col("qv"), element_at(centMapLit(cents), col("cid")),
          (a, b) => a - b))

  /** Train coarse + residual-PQ, both over the same portable hash-sample
    * predicate (residual training sees the SAME sampled ids — the sample is
    * keyed on vec_id only, so both engines agree on the rows). */
  def ivfPqTrainInt(q: DataFrame, dim: Int, nClusters: Int = 8, m: Int = 8,
      k: Int = 16, iters: Int = 2, sampleMod: Int = 10): IntModel = {
    val cents = ivfTrainInt(q, nClusters, iters, sampleMod, topUp = k)
    val resid = assignResidInt(q, cents)
      .select(col("vec_id"), col("rv").as("qv"))
    IntModel(cents, pqTrainInt(resid, dim, m, k, iters, sampleMod))
  }

  /** (vec_id, cid, codes): the compressed corpus — the write-once table of
    * the deployed portable index. */
  def encodeIvfPq(q: DataFrame, model: IntModel): DataFrame =
    assignResidInt(q, model.cents)
      .select(col("vec_id"), col("cid"),
        encodeIntCol(col("rv"), model.cbs).as("codes"))

  /** IVF-PQ portable serve over an encoded frame (in-flight or persisted
    * cid-partitioned — the `cid === c` filters prune partitions in the
    * latter case): per-list ADC from the query's residual vs THAT list's
    * centroid, topK×refine candidates, exact integer re-rank. */
  def queryEncodedPortable(encoded: DataFrame, q: DataFrame, model: IntModel,
      queryId: Long, topK: Int, dim: Int, nProbe: Int = 3,
      refine: Int = 5): DataFrame = {
    val (qv, qn) = queryVec(q, queryId)
    val probes = probeCids(model.cents, qv, nProbe)
    val cmap = model.cents.toMap
    val clean = encoded.filter(col("vec_id") =!= queryId)
    val candScans = probes.toIndexedSeq.map { c =>
      val qres = qv.zip(cmap(c)).map { case (x, cv) => x - cv }
      clean.filter(col("cid") === c)
        .select(col("vec_id"),
          call_function("adc_dist", col("codes"),
            typedlit(adcTables(model.cbs, qres, dim)))
            .cast(LongType).as("ad"))
    }
    val candidates = candScans.reduce(_ union _)
      .orderBy(col("ad"), col("vec_id"))
      .limit(topK * refine)
      .select("vec_id").collect().map(_.getLong(0))
    rerank(q, candidates, qv, qn, topK)
  }

  def ivfPqTopKPortable(embs: DataFrame, queryId: Long, topK: Int, dim: Int,
      nClusters: Int = 8, nProbe: Int = 3, m: Int = 8, k: Int = 16,
      iters: Int = 2, refine: Int = 5): DataFrame = {
    val q = quantized(embs)
    val model = ivfPqTrainInt(q, dim, nClusters, m, k, iters)
    queryEncodedPortable(encodeIvfPq(q, model), q, model, queryId, topK, dim,
      nProbe, refine)
  }
}

/** Persistence for the PORTABLE IVF-PQ index — the [[IvfPqIndex]] deployment
  * shape (train once, write model + cid-partitioned codes, serve via
  * partition-pruned probe scans) for the integer model, so q103's
  * steady-state measures the serve path AND every byte of it replays under
  * the DuckDB hash gate. */
object PortableIvfPqIndex {

  // ---- cross-process writer lease ---------------------------------------
  //
  // The maintenance verbs hold this object's monitor, which serializes
  // writers within ONE JVM only (r12 VERDICT #3): a second process
  // compacting the same index concurrently was undefined. The lease file
  // closes that gap: every writer verb acquires `$path/_writer_lease`
  // (atomic create-if-absent — the Hadoop FS primitive; exact on HDFS,
  // best-effort-atomic on a raw local FS) before touching the index, and
  // a live lease held by ANOTHER process is a refusal, not a wait — the
  // caller sees an IllegalStateException naming the holder, because
  // blocking a data pipeline on a foreign writer of unknown progress is
  // worse than failing loudly. A lease older than [[LeaseTtlMs]] is STALE
  // (its holder crashed without releasing — the crash-recovery protocols
  // of compact/appendBatchExactlyOnce make the index state safe to adopt)
  // and is broken and re-acquired. Reentrant per JVM via a hold count, so
  // the composite flows (upsert = delete → compact → append) pay one
  // acquire. This is a LEASE, not a lock-free protocol, but it is FENCED
  // at commit points (r13 VERDICT #4): a writer stalled past the TTL loses
  // the lease, and [[assertLeaseHeld]] makes it DETECT that loss at its
  // next irreversible step (rename into the live tree, marker touch,
  // tombstone write/removal) and abort instead of committing blind.
  //
  // FENCING TOKENS (r14 VERDICT #3, closing the declared residual): every
  // successful acquisition also mints a MONOTONIC EPOCH — read
  // `_writer_epoch`, add one, write it back, remember it for the hold.
  // The epoch is stamped into this writer's private on-disk names (the
  // compact scratch dir and the hidden `.old` swap dirs), so a fenced-out
  // writer's IN-FLIGHT staging writes between fences land at names the
  // usurper never touches — the two writers' scratch state cannot collide
  // even in the window before the loser's next fence fires. And every
  // individual move into or out of the live tree rides [[fencedRename]],
  // which re-reads the epoch file immediately before the (atomic) rename
  // and refuses if any later acquisition has advanced it — strictly
  // stronger than re-reading the lease, because the epoch stays advanced
  // even after the usurper finishes and RELEASES its lease. What remains
  // out of scope is epoch-stamping the LIVE tree's names (`cid=N` is fixed
  // by the partition scheme) — that is a snapshot manifest
  // (Iceberg/Delta-style), the layer production puts on top.

  private val leaseOwner = java.util.UUID.randomUUID().toString
  private val leaseHolds =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private val leaseEpochs =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private[graft] val LeaseTtlMs: Long = 10L * 60L * 1000L
  private[graft] def leaseFile(path: String) = s"$path/_writer_lease"
  private[graft] def epochFile(path: String) = s"$path/_writer_epoch"

  /** The epoch this JVM's live hold on `path` was minted with — staging
    * names embed it so concurrent epochs' scratch state cannot collide. */
  private[graft] def heldEpoch(path: String): Long =
    Option(leaseEpochs.get(path)).map(_.longValue).getOrElse(
      throw new IllegalStateException(
        s"no writer lease held on $path — epoch-stamped names are only " +
          "valid under a hold"))

  private def readSmallFile(h: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[String] =
    if (h.exists(p)) {
      val in = h.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    } else None

  private def writeSmallFile(h: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, s: String, overwrite: Boolean): Unit = {
    val out = h.create(p, overwrite)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  private[graft] def withWriterLease[T](spark: SparkSession, path: String)
      (body: => T): T = synchronized {
    val lease = new org.apache.hadoop.fs.Path(leaseFile(path))
    val h = fs(spark, lease)
    val holds: Int = leaseHolds.getOrDefault(path, 0)
    if (holds == 0) {
      def tryAcquire(): Boolean =
        try { writeSmallFile(h, lease, leaseOwner, overwrite = false); true }
        catch { case _: java.io.IOException => false } // already exists
      if (!tryAcquire()) {
        val owner = readSmallFile(h, lease).getOrElse("<unreadable>")
        val ageMs = try System.currentTimeMillis -
          h.getFileStatus(lease).getModificationTime
          catch { case _: java.io.IOException => 0L }
        if (ageMs > LeaseTtlMs) {
          // stale: the holder crashed without releasing. Break via RENAME,
          // which is atomic on HDFS and local filesystems — so of several
          // contenders observing the same stale lease exactly ONE wins the
          // break (the losers' rename fails); a delete-then-create break
          // would let two breakers each delete the other's fresh lease and
          // BOTH acquire (review finding). The read-back then confirms the
          // fresh lease is ours before the verb proceeds.
          val tomb = new org.apache.hadoop.fs.Path(
            leaseFile(path) + s".broken-$leaseOwner")
          val won = try h.rename(lease, tomb)
            catch { case _: java.io.IOException => false }
          if (won) {
            // re-validate AFTER the rename (second review pass): the rename
            // targets the path, not the inode we stat'ed — a faster breaker
            // may have already broken the stale lease and created a FRESH
            // one, which our rename just stole. Rename preserves mtime, so
            // a fresh tomb means we grabbed a live competitor's lease: put
            // it back and abort instead of double-acquiring.
            val tombAge = try System.currentTimeMillis -
              h.getFileStatus(tomb).getModificationTime
              catch { case _: java.io.IOException => Long.MaxValue }
            if (tombAge <= LeaseTtlMs) {
              // rename-back can itself fail if a THIRD contender created a
              // new lease at the path in this window. Retry once (transient
              // FS hiccups), then — rather than silently stranding the
              // dispossessed holder's lease in a forever-orphaned tomb file
              // (r13 ADVICE #1) — read the tomb to NAME the holder whose
              // protection was lost, reap the tomb, and surface both in the
              // refusal so the operator knows a residual double-writer
              // window existed and who was in it.
              def renameBack(): Boolean =
                try h.rename(tomb, lease)
                catch { case _: java.io.IOException => false }
              if (renameBack() || renameBack())
                throw new IllegalStateException(
                  s"writer lease at ${lease} was re-created by another " +
                    "process during stale-lease recovery; retry the verb")
              val dispossessed = readSmallFile(h, tomb)
                .getOrElse("<unreadable>")
              try h.delete(tomb, false)
              catch { case _: java.io.IOException => () }
              throw new IllegalStateException(
                s"writer lease at ${lease} was re-created by another " +
                  "process during stale-lease recovery, and restoring the " +
                  s"stolen fresh lease of holder $dispossessed failed (a " +
                  "third contender occupied the path) — that holder wrote " +
                  "unprotected until now; its orphaned tomb was reaped. " +
                  "Verify the index state before retrying the verb")
            }
            try h.delete(tomb, false)
            catch { case _: java.io.IOException => () }
          }
          if (!won || !tryAcquire() ||
              !readSmallFile(h, lease).contains(leaseOwner))
            throw new IllegalStateException(
              s"writer lease at ${lease} was taken by another process " +
                "during stale-lease recovery; retry the verb")
        } else throw new IllegalStateException(
          s"index at $path has a live writer lease (owner $owner, " +
            s"age ${ageMs}ms < ttl ${LeaseTtlMs}ms) — a concurrent " +
            "maintenance writer in another process; retry after it " +
            s"releases, or delete ${lease} if the holder is known dead")
      }
    }
    if (holds == 0) {
      // mint this hold's fencing token: acquisitions are serialized by the
      // lease, so read-increment-write is safe here — and any LATER
      // acquisition (including a stale-lease break while this writer
      // stalls) advances the epoch past ours, which every fencedRename and
      // commit-point fence detects. The mint sits BETWEEN lease creation
      // and the try/finally release — a transient IO failure here must
      // release the just-created lease (owner-checked) or every later
      // writer, including this JVM's own retry, is refused for a full TTL
      // (review finding r15)
      try {
        val ef = new org.apache.hadoop.fs.Path(epochFile(path))
        val tmp = new org.apache.hadoop.fs.Path(epochFile(path) + ".tmp")
        // CRASH-SAFE MINT (ADVICE r16 #2): a direct create+write over
        // _writer_epoch is non-atomic — a crash mid-write leaves a
        // truncated file, and a silent getOrElse(0)+1 fallback would
        // regress the token to 1, breaking the documented
        // stays-violated-forever monotonicity. Three rules instead:
        //  (a) an epoch file that EXISTS but fails to parse is refused
        //      loudly (manual repair), never re-minted from zero;
        //  (b) the new value is written to a sibling .tmp and INSTALLED
        //      by delete+rename — every crash window leaves either the
        //      old complete file, or no file plus a complete .tmp,
        //      never a truncated epoch;
        //  (c) a complete .tmp found with NO epoch file (the
        //      delete-to-rename crash window) is RE-INSTALLED by rename
        //      before anything else — never overwritten in place, because
        //      in that window it is the ONLY surviving copy and a crash
        //      mid-overwrite would leave no record at all, regressing the
        //      next mint to 1 (review finding r16 — the double-crash
        //      window the first version of this fix left open).
        def parseLong(s: String): Option[Long] =
          scala.util.Try(s.toLong).toOption
        def refuse(which: org.apache.hadoop.fs.Path, got: String): Nothing =
          throw new IllegalStateException(
            s"fencing epoch at $which exists but is unparseable " +
              s"('${got.take(40)}') — refusing to mint a token that " +
              "could regress the monotonic epoch; inspect and repair (or " +
              "remove) the file manually before retrying the verb")
        if (!h.exists(ef)) {
          // crash-window recovery: .tmp is the sole record — reinstall it.
          // Under the new scheme .tmp is always COMPLETE here (it is fully
          // written and closed before the old epoch is deleted), so an
          // unparseable .tmp with no epoch file is corruption — refuse.
          readSmallFile(h, tmp).foreach { t =>
            if (parseLong(t).isEmpty) refuse(tmp, t)
            if (!h.rename(tmp, ef))
              throw new IllegalStateException(
                s"failed to re-install the surviving fencing epoch $t " +
                  s"from $tmp at $ef — aborting acquisition")
          }
        }
        val raw = readSmallFile(h, ef)
        val cur = raw.flatMap(parseLong)
        if (raw.isDefined && cur.isEmpty) refuse(ef, raw.get)
        val floor = cur.getOrElse(0L)
        val next = floor + 1L
        writeSmallFile(h, tmp, next.toString, overwrite = true)
        if (h.exists(ef)) h.delete(ef, false)
        if (!h.rename(tmp, ef))
          throw new IllegalStateException(
            s"failed to install fencing epoch $next at $ef (rename " +
              "refused) — aborting acquisition; the lease is released")
        leaseEpochs.put(path, next)
      } catch {
        case e: Throwable =>
          try if (readSmallFile(h, lease).contains(leaseOwner))
            h.delete(lease, false)
          catch { case _: java.io.IOException => () } // TTL reaps it
          throw e
      }
    }
    leaseHolds.put(path, holds + 1)
    try body
    finally {
      val now: Int = leaseHolds.getOrDefault(path, 1) - 1
      if (now <= 0) {
        leaseHolds.remove(path)
        leaseEpochs.remove(path)
        // OWNER-CHECKED release (review finding): a holder stalled past the
        // TTL may have had its lease broken and replaced by a live foreign
        // lease — an unconditional delete here would un-protect that new
        // holder and admit a third concurrent writer. Only this JVM's own
        // lease file is deleted; a foreign one is left for its holder (or
        // the TTL) to reap.
        try if (readSmallFile(h, lease).contains(leaseOwner))
          h.delete(lease, false)
        catch { case _: java.io.IOException => () } // TTL reaps it
      } else leaseHolds.put(path, now)
    }
  }

  /** COMMIT-POINT FENCE (r13 VERDICT #4): a writer paused past the lease
    * TTL can have its lease broken and re-acquired by another process —
    * undetected, until now, because [[withWriterLease]] checks ownership
    * only at ACQUISITION. Every irreversible commit point (a rename into
    * the live codes tree, a marker touch, a tombstone write or removal)
    * re-reads the lease file immediately before acting and refuses loudly
    * unless it still names THIS JVM: the dispossessed writer aborts
    * WITHOUT committing, leaving the index to the taker's crash-recovery
    * protocols (which assumed the old holder was dead — an assumption this
    * fence makes true in effect). Since r15 the fence ALSO verifies the
    * fencing token: the on-disk `_writer_epoch` must still equal the epoch
    * this hold minted, which stays violated forever once any usurper
    * acquires — even after that usurper finishes and releases the lease
    * (the one window the lease re-read alone cannot see). */
  private[graft] def assertLeaseHeld(spark: SparkSession, path: String,
      at: String): Unit = {
    val lease = new org.apache.hadoop.fs.Path(leaseFile(path))
    val h = fs(spark, lease)
    // FAIL-SAFE on an unreadable lease (checksum mismatch, transient IO):
    // a fence that cannot prove ownership must refuse, not proceed
    val cur = try readSmallFile(h, lease)
      catch { case _: java.io.IOException => None }
    if (!cur.contains(leaseOwner))
      throw new IllegalStateException(
        s"writer lease at $lease was lost before commit point '$at' " +
          s"(now ${cur.map(o => s"held by $o").getOrElse("absent")}, " +
          s"expected $leaseOwner) — this writer stalled past the " +
          s"${LeaseTtlMs}ms TTL and another process took over; aborting " +
          "without committing. Retry the verb once the other writer is done")
    val mine = heldEpoch(path)
    val ef = new org.apache.hadoop.fs.Path(epochFile(path))
    val onDisk = (try readSmallFile(h, ef)
      catch { case _: java.io.IOException => None })
      .flatMap(s => scala.util.Try(s.toLong).toOption)
    if (!onDisk.contains(mine))
      throw new IllegalStateException(
        s"writer epoch at $ef advanced past this hold before commit point " +
          s"'$at' (on disk ${onDisk.getOrElse("<unreadable>")}, held " +
          s"$mine) — another process acquired the index after this " +
          "writer's lease lapsed; aborting without committing")
  }

  /** A single fenced move: re-verify the lease AND the fencing epoch
    * immediately before the (atomic) rename — every move into or out of
    * the live tree rides this, so a writer fenced out mid-verb has each
    * REMAINING move refused individually, not just its next commit
    * point (r14 VERDICT #3). */
  private def fencedRename(spark: SparkSession, path: String,
      h: org.apache.hadoop.fs.FileSystem, src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path, at: String): Unit = {
    assertLeaseHeld(spark, path, at)
    mustRename(h, src, dst)
  }

  def save(spark: SparkSession, model: PortableAnn.IntModel,
      encoded: DataFrame, path: String): Unit = {
    import spark.implicits._
    // model tables FIRST, codes LAST — the codes _SUCCESS is the
    // build-complete marker (IndexPaths.isBuilt); see IvfPqIndex.save
    model.cents.toSeq.map { case (cid, v) => (cid, v.toSeq) }
      .toDF("cid", "vec")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    model.cbs.zipWithIndex.toSeq
      .flatMap { case (cb, s) =>
        cb.zipWithIndex.map { case (cvec, code) => (s, code, cvec.toSeq) } }
      .toDF("s", "code", "vec")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    encoded.write.mode("overwrite").partitionBy("cid").parquet(s"$path/codes")
  }

  private val modelCache =
    new java.util.concurrent.ConcurrentHashMap[String, PortableAnn.IntModel]()

  def loadModelCached(spark: SparkSession, path: String): PortableAnn.IntModel =
    modelCache.computeIfAbsent(path, _ => loadModel(spark, path))

  def loadModel(spark: SparkSession, path: String): PortableAnn.IntModel = {
    val cents = spark.read.parquet(s"$path/centroids")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    val cbRows = spark.read.parquet(s"$path/codebooks")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2).toArray))
    val m = cbRows.map(_._1).max + 1
    val k = cbRows.map(_._2).max + 1
    val cbs = Array.ofDim[Array[Long]](m, k)
    cbRows.foreach { case (s, code, vec) => cbs(s)(code) = vec }
    PortableAnn.IntModel(cents, cbs)
  }

  /** Build-once gate keyed on the corpus fingerprint (the shared
    * [[IndexPaths]] staleness contract): rebuild = corpus rewrite, queries
    * never retrain. Returns the index path. */
  def ensureBuilt(spark: SparkSession, embs: DataFrame, corpusDir: String,
      dim: Int, nClusters: Int = 8, m: Int = 8, k: Int = 16,
      iters: Int = 2): String = {
    val path = IndexPaths.indexPath(spark, corpusDir, "graft-pivfpq")
    if (!IndexPaths.isBuilt(spark, path)) withWriterLease(spark, path) {
      if (!IndexPaths.isBuilt(spark, path)) {
        val q = PortableAnn.quantized(embs)
        val model = PortableAnn.ivfPqTrainInt(q, dim, nClusters, m, k, iters)
        save(spark, model, PortableAnn.encodeIvfPq(q, model), path)
        // reap indexes orphaned by the corpus rewrite (disk twin of
        // Models.cachedLatest eviction)
        IndexPaths.pruneSuperseded(spark, corpusDir, "graft-pivfpq", path)
      }
    }
    path
  }

  /** Serve from the persisted index: probed code partitions only
    * (PartitionFilters on cid), then the exact integer re-rank. */
  def query(spark: SparkSession, path: String, embs: DataFrame,
      queryId: Long, topK: Int, dim: Int, nProbe: Int = 3,
      refine: Int = 5): DataFrame =
    PortableAnn.queryEncodedPortable(
      spark.read.parquet(s"$path/codes"), PortableAnn.quantized(embs),
      loadModelCached(spark, path), queryId, topK, dim, nProbe, refine)

  /** INCREMENTAL ingest: encode a new batch with the index's FROZEN model
    * and append the codes to the cid-partitioned table — no retraining, no
    * rewrite of existing partitions. This is the standard IVF maintenance
    * contract at scale (FAISS `add` semantics): at 100 TB an index cannot
    * be rebuilt per ingest batch, so batches append under the frozen
    * quantizers and a RETRAIN is a deliberate corpus rewrite (the
    * [[ensureBuilt]] stamp flow). Because encoding is a pure function of
    * (model, vector), build(base) + append(batch) is BIT-IDENTICAL to
    * encode(base ∪ batch) with the same model — asserted in AnnSpec and
    * hash-gated end-to-end by q247's oracle. `newQ` must be a
    * [[PortableAnn.quantized]] frame. */
  def append(spark: SparkSession, path: String, newQ: DataFrame): Unit =
    withWriterLease(spark, path) {
      PortableAnn.encodeIvfPq(newQ, loadModelCached(spark, path))
        .write.mode("append").partitionBy("cid").parquet(s"$path/codes")
    }

  /** Build-once gate for the build-then-ingest flow q247 serves: the model
    * trains on the BASE slice only (vectors outside the md5 ingest bucket —
    * the frozen-model contract), base codes are written, and the ingest
    * bucket is [[append]]ed with the frozen model. Durability marker is an
    * explicit `_INGESTED` file written LAST: the codes `_SUCCESS` lands at
    * the base write, so it alone must not mark this index servable — a
    * crash between build and append would otherwise leave a silently
    * batch-less "built" index. */
  def ensureBuiltWithIngest(spark: SparkSession, embs: DataFrame,
      corpusDir: String, dim: Int, ingestMod: Int = 5, ingestBucket: Int = 4,
      nClusters: Int = 8, m: Int = 8, k: Int = 16,
      iters: Int = 2): String = {
    val path = IndexPaths.indexPath(spark, corpusDir, "graft-pivfpqinc")
    if (!IndexPaths.markerExists(spark, s"$path/_INGESTED"))
      withWriterLease(spark, path) {
        if (!IndexPaths.markerExists(spark, s"$path/_INGESTED")) {
          val q = PortableAnn.quantized(embs)
          val isIngest = graft.functions.TextFunctions
            .hashBucket(col("vec_id"), ingestMod) === ingestBucket
          val model = PortableAnn.ivfPqTrainInt(q.filter(!isIngest), dim,
            nClusters, m, k, iters)
          save(spark, model,
            PortableAnn.encodeIvfPq(q.filter(!isIngest), model), path)
          modelCache.put(path, model) // append must see THIS model, not a reload
          append(spark, path, q.filter(isIngest))
          IndexPaths.touchMarker(spark, s"$path/_INGESTED")
          IndexPaths.pruneSuperseded(spark, corpusDir, "graft-pivfpqinc", path)
        }
      }
    path
  }

  /** EXACTLY-ONCE batch commit for streaming ingest: encode the batch
    * under the frozen model into a batch-stamped STAGING dir, then move
    * each staged file into its cid partition under a name derived from
    * (batchId, staged name) — so every step is replayable without
    * duplicates:
    *  - ledger marker present → the batch is fully committed, skip;
    *  - staging WITHOUT its `_SUCCESS` → the encode crashed mid-write and
    *    no file was ever moved (moves require `_SUCCESS`), so rewrite it;
    *  - staging WITH `_SUCCESS` → RESUME the moves; each move is keyed on
    *    the staged file's name, skipped when the destination exists, so a
    *    crash after any prefix of the moves replays to the same state;
    *  - marker written only after every move, staging dropped last.
    * foreachBatch's at-least-once retry therefore lands each batch's rows
    * exactly once — the ledger pairs 1:1 with a checkpoint (batchIds are
    * checkpoint-scoped), which is why the ledger dir lives under the
    * CALLER-supplied checkpoint, not the index.
    *
    * CHECKPOINT-RESET contract (r12 VERDICT #4): batchIds restart at 0
    * when a checkpoint is wiped, so a user who deletes the checkpoint but
    * KEEPS the index would collide new batch 0 with the old committed
    * batch 0 — the ledger marker would silently no-op a batch whose
    * CONTENT differs from what batch 0 committed. The ledger therefore
    * carries an identity file (`_ledger_id`, minted on first commit) that
    * the index records (`_stream_ledger_id`); a ledger whose identity
    * differs from the index's binding FAILS FAST instead of replaying.
    * One stream feeds one index; re-binding a surviving index to a fresh
    * checkpoint is a deliberate operator action — delete the index's
    * `_stream_ledger_id` after confirming no batch content is lost. */
  private[graft] def appendBatchExactlyOnce(spark: SparkSession, path: String,
      ledgerDir: String, batch: DataFrame, batchId: Long): Unit =
      withWriterLease(spark, path) {
    import org.apache.hadoop.fs.Path
    // checkpoint and index may live on DIFFERENT filesystems — resolve each
    val idFile = new Path(s"$ledgerDir/_ledger_id")
    val boundFile = new Path(s"$path/_stream_ledger_id")
    val hl = fs(spark, idFile)
    val hb = fs(spark, boundFile)
    val ledgerId = readSmallFile(hl, idFile).getOrElse {
      val fresh = java.util.UUID.randomUUID().toString
      writeSmallFile(hl, idFile, fresh, overwrite = true)
      fresh
    }
    readSmallFile(hb, boundFile) match {
      case None => writeSmallFile(hb, boundFile, ledgerId, overwrite = true)
      case Some(b) if b == ledgerId => ()
      case Some(b) => throw new IllegalStateException(
        s"index at $path is bound to stream ledger $b but this " +
          s"checkpoint's ledger is $ledgerId — the checkpoint was reset " +
          "(or a second stream is feeding this index) and its batchIds " +
          "would collide with already-committed batches, silently " +
          "no-opping new data; either restore the original checkpoint, " +
          "rebuild the index, or (after confirming no batch content is " +
          s"lost) delete $boundFile to re-bind")
    }
    val marker = s"$ledgerDir/batch-$batchId"
    val staging = new Path(s"$path/codes.ingest-$batchId")
    val h = fs(spark, staging)
    if (IndexPaths.markerExists(spark, marker)) {
      // fully-committed replay: data is exactly-once already, but a crash
      // between the marker touch and the final staging delete leaks the
      // staging dir forever (r12 ADVICE #1) — the delete is idempotent,
      // so finish that cleanup here before returning
      if (h.exists(staging)) h.delete(staging, true)
      return
    }
    if (!IndexPaths.markerExists(spark, s"$staging/_SUCCESS")) {
      // the ingest staging is batchId-keyed BY NECESSITY (the resume
      // contract above) and therefore shared across epochs — fence before
      // touching it, so a stalled writer re-entering here cannot delete or
      // co-write the staging a usurper is actively rebuilding for the
      // same batch
      assertLeaseHeld(spark, path, "ingest staging write")
      if (h.exists(staging)) h.delete(staging, true)
      PortableAnn.encodeIvfPq(batch, loadModelCached(spark, path))
        .write.mode("overwrite").partitionBy("cid").parquet(staging.toString)
    }
    // fence BEFORE the first irreversible move into the live codes tree,
    // and again before the marker touch (a marker claiming a batch whose
    // files a concurrent compact may have rewritten is the silent-no-op
    // hazard the ledger exists to prevent)
    assertLeaseHeld(spark, path, "ingest staging->codes move")
    // dest names stay EPOCH-FREE by the exactly-once contract: a resumed
    // batch (new epoch) must find its predecessor's already-moved files
    // under the same (batchId, staged-name) key, or it would land a second
    // copy. The epoch fence rides each MOVE instead: fencedRename re-checks
    // `_writer_epoch` per file, so a writer fenced out mid-batch has every
    // remaining move refused (and the frozen-model encode is deterministic,
    // so the usurper's resume of the same batch stages identical bytes)
    if (h.exists(staging)) h.listStatus(staging).foreach { d =>
      if (d.isDirectory && d.getPath.getName.startsWith("cid=")) {
        val destDir = new Path(s"$path/codes/${d.getPath.getName}")
        h.mkdirs(destDir)
        h.listStatus(d.getPath).foreach { f =>
          if (!f.getPath.getName.startsWith("_") &&
              !f.getPath.getName.startsWith(".")) {
            val dest = new Path(destDir, s"batch$batchId-${f.getPath.getName}")
            if (!h.exists(dest))
              fencedRename(spark, path, h, f.getPath, dest,
                s"ingest move batch$batchId/${f.getPath.getName}")
          }
        }
      }
    }
    assertLeaseHeld(spark, path, "ingest ledger marker")
    IndexPaths.touchMarker(spark, marker)
    h.delete(staging, true)
  }

  /** STREAMING ingest: frozen-model encodes of each micro-batch committed
    * through [[appendBatchExactlyOnce]] — the shape a production embedding
    * pipeline feeds a vector index with, and exactly-once under
    * foreachBatch's at-least-once retries (the staged name-keyed commit
    * above; StreamingSpec replays a committed batch and asserts zero
    * duplicates). The maintenance verbs ([[append]], [[delete]],
    * [[compact]]) and this commit each hold the object monitor AND the
    * cross-process writer lease, so a compact racing the stream — in this
    * JVM or another — cannot snapshot, swap, and drop a partition between
    * a batch's commit and its checkpoint commit. A checkpoint RESET is
    * detected and refused via the ledger-identity handshake (see
    * [[appendBatchExactlyOnce]]). */
  def appendStream(spark: SparkSession, path: String, quantizedStream: DataFrame,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    quantizedStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        appendBatchExactlyOnce(spark, path, s"$checkpointDir/_ingest_ledger",
          batch, id)
      }
      .start()

  // ---- deletion: tombstones + partition-pruned compaction --------------
  //
  // The third index maintenance verb (after build and [[append]]): at
  // 100 TB a delete request cannot rewrite the codes table, so deletes are
  // TOMBSTONES — (vec_id, cid) rows appended under the index — that every
  // serve anti-joins out (broadcast: the tombstone set is request-sized,
  // the codes side stays partition-pruned because the cid filters push
  // through the left side of the anti-join). COMPACTION is the deferred
  // physical rewrite, and it touches ONLY the cid partitions that actually
  // hold tombstoned rows — which is why [[delete]] resolves each id's cid
  // up front (one pruned-by-nothing scan at delete time, amortized over
  // every serve until compaction, instead of a full-table rewrite or a
  // serve-time penalty).

  private def fs(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** `FileSystem.rename` reports most failures by returning FALSE, not
    * throwing — and a swallowed false inside [[compact]]'s swap would
    * either resurrect deleted rows or silently drop a partition's
    * survivors. Escalate to an exception so the protocol aborts with the
    * tombstones still in place (serve stays correct; the recovery sweep
    * finishes the job on the next run). */
  private def mustRename(h: org.apache.hadoop.fs.FileSystem,
      src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Unit =
    if (!h.rename(src, dst))
      throw new java.io.IOException(s"rename failed: $src -> $dst")

  /** The codes table, robust to the fully-deleted state: a compaction that
    * removed EVERY row leaves `codes/` with no partition dirs, where a
    * bare `spark.read.parquet` dies on schema inference — an empty index
    * must serve empty results, not throw. */
  private def readCodes(spark: SparkSession, path: String): DataFrame = {
    val codes = new org.apache.hadoop.fs.Path(s"$path/codes")
    val h = fs(spark, codes)
    val hasParts = h.exists(codes) &&
      h.listStatus(codes).exists(st =>
        st.isDirectory && st.getPath.getName.startsWith("cid="))
    if (hasParts) spark.read.parquet(codes.toString)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("vec_id", LongType),
        StructField("codes", ArrayType(IntegerType, containsNull = false)),
        StructField("cid", IntegerType))))
  }

  /** Public accessor for the raw encoded table, robust to the
    * fully-deleted state — consumers (and the lifecycle specs) should read
    * through this, not a bare `spark.read.parquet`. */
  def codesFrame(spark: SparkSession, path: String): DataFrame =
    readCodes(spark, path)

  /** Tombstone the given ids (a frame with a `vec_id` column). Ids absent
    * from the index are dropped by the resolving join (deleting a
    * never-indexed id is a no-op, not an error). Append-mode: deletes
    * accumulate until [[compact]]. An all-misses request writes nothing
    * (an empty parquet dir would break the tombstone read). */
  def delete(spark: SparkSession, path: String, ids: DataFrame): Unit =
    withWriterLease(spark, path) {
      val resolved = readCodes(spark, path).select("vec_id", "cid")
        .join(broadcast(ids.select("vec_id")), Seq("vec_id"))
      if (!resolved.isEmpty) {
        assertLeaseHeld(spark, path, "tombstone append")
        resolved.write.mode("append").parquet(s"$path/tombstones")
      }
    }

  /** The live tombstone set, if any delete is pending. */
  def tombstones(spark: SparkSession, path: String): Option[DataFrame] =
    if (IndexPaths.markerExists(spark, s"$path/tombstones/_SUCCESS"))
      Some(spark.read.parquet(s"$path/tombstones"))
    else None

  /** Physically remove tombstoned rows, rewriting ONLY the affected cid
    * partitions. Commit protocol, restart-safe without a manifest:
    *  1. recover: if a previous compaction crashed mid-swap, restore every
    *     hidden `.cid=N.old` dir whose live dir is missing and drop the
    *     scratch output — correct because tombstones are still present
    *     (step 4 hasn't run), so restored rows stay hidden at serve;
    *  2. write the surviving rows of affected partitions to a scratch dir;
    *  3. per-cid swap: hide the old dir (dot-prefix — Spark's FileIndex
    *     skips dot/underscore names, so a crash here never resurrects
    *     deleted rows), move the new dir in, drop the hidden one;
    *  4. remove the tombstones LAST — any crash before this point leaves
    *     serve correct (anti-join still masks whatever old files remain).
    *
    * Concurrency contract: ONE maintenance writer — [[append]]/[[delete]]/
    * [[compact]] each hold this object's monitor (in-JVM serialization,
    * reentrant under the ensureBuilt* gates) AND the cross-process
    * `_writer_lease` file (r12 VERDICT #3): a second PROCESS running a
    * maintenance verb is refused while the lease is live and may break a
    * lease older than its TTL (the holder crashed; the recovery sweep in
    * step 1 plus the tombstone-last rule make the index safe to adopt).
    * A serve that listed an affected partition
    * mid-swap can see a transient missing-file read error and should
    * retry — the crash-safe guarantee is about DURABILITY (no resurrection,
    * no loss), not about lock-free concurrent reads. A production
    * deployment layers a snapshot manifest (Iceberg/Delta-style) on top;
    * the swap protocol here is the manifest-less primitive underneath. */
  def compact(spark: SparkSession, path: String): Unit =
      withWriterLease(spark, path) {
    import org.apache.hadoop.fs.Path
    val codes = new Path(s"$path/codes")
    // the scratch dir is EPOCH-STAMPED (r14 VERDICT #3): a fenced-out
    // writer still flushing its scratch can never collide with this
    // epoch's scratch — its in-flight writes land at a name only it uses
    val scratch = new Path(s"$path/codes.compact-e${heldEpoch(path)}")
    val h = fs(spark, codes)
    // fence the ENTRY too: the recovery sweep and the scratch reap below
    // delete other epochs' leftovers, which is only safe while this hold's
    // token is still the latest — a stalled writer re-entering here after
    // a usurper acquired must not reap the usurper's LIVE scratch
    assertLeaseHeld(spark, path, "compact recovery sweep")
    // 1. recovery sweep from a crashed prior run — hidden dirs carry the
    // crashed writer's epoch (or none, legacy); restore by the cid alone
    if (h.exists(codes)) h.listStatus(codes).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith(".cid=") && n.endsWith(".old")) {
        val live = new Path(codes, n.stripPrefix(".").stripSuffix(".old")
          .replaceAll("\\.e\\d+$", ""))
        if (!h.exists(live))
          fencedRename(spark, path, h, st.getPath, live, "compact recovery")
        else h.delete(st.getPath, true)
      }
    }
    // reap scratch leftovers of EVERY epoch (ours cannot exist yet; a
    // crashed or fenced-out predecessor's is dead by protocol — its moves
    // are refused, so nothing can ever reference it again)
    val parent = new Path(path)
    if (h.exists(parent)) h.listStatus(parent).foreach { st =>
      if (st.getPath.getName.startsWith("codes.compact"))
        h.delete(st.getPath, true)
    }
    tombstones(spark, path).foreach { t =>
      // affected partition list: tombstones carry cid, so this is a
      // tombstone-sized aggregate, not a codes scan
      val affected = t.select("cid").distinct().collect()
        .map(_.getAs[Number](0).intValue).sorted
      if (affected.nonEmpty) {
        // 2. surviving rows of affected partitions only (PartitionFilters
        // prune the scan to exactly those directories)
        readCodes(spark, path)
          .filter(col("cid").isin(affected.map(Integer.valueOf).toSeq: _*))
          .join(broadcast(t.select("vec_id")), Seq("vec_id"), "left_anti")
          .write.mode("overwrite").partitionBy("cid")
          .parquet(scratch.toString)
        // 3. per-cid swap (a fully-deleted partition has no new dir);
        // every rename is checked — a false return aborts with tombstones
        // intact, and the hidden dir is only dropped once its replacement
        // is in place. Fenced: the scratch write above may have taken
        // arbitrarily long — if the lease was lost meanwhile, swapping in
        // the (now possibly stale) scratch would clobber the taker's work
        assertLeaseHeld(spark, path, "compact partition swap")
        affected.foreach { c =>
          val live = new Path(codes, s"cid=$c")
          // the hidden name carries this hold's epoch: two epochs' swap
          // state can never collide, and recovery restores by cid alone
          val hidden = new Path(codes, s".cid=$c.e${heldEpoch(path)}.old")
          val fresh = new Path(scratch, s"cid=$c")
          // every move re-fences individually (epoch + lease): a writer
          // fenced out MID-LOOP has each remaining swap refused, not just
          // the loop's entry
          if (h.exists(live))
            fencedRename(spark, path, h, live, hidden, s"compact hide cid=$c")
          if (h.exists(fresh))
            fencedRename(spark, path, h, fresh, live, s"compact swap cid=$c")
          h.delete(hidden, true)
        }
      }
      h.delete(scratch, true)
      // 4. tombstones last — the no-resurrection guarantee; fenced because
      // deleting ANOTHER writer's pending tombstones would resurrect its
      // deleted rows at serve
      assertLeaseHeld(spark, path, "compact tombstone removal")
      h.delete(new Path(s"$path/tombstones"), true)
    }
  }

  /** Serve honoring pending tombstones: identical to [[query]] when no
    * delete is pending (the common, compacted state — zero extra plan
    * nodes beyond one existence check), a broadcast anti-join over the
    * probed partitions otherwise. */
  def queryLive(spark: SparkSession, path: String, embs: DataFrame,
      queryId: Long, topK: Int, dim: Int, nProbe: Int = 3,
      refine: Int = 5): DataFrame = {
    val codes = readCodes(spark, path)
    val live = tombstones(spark, path).fold(codes)(t =>
      codes.join(broadcast(t.select("vec_id")), Seq("vec_id"), "left_anti"))
    PortableAnn.queryEncodedPortable(live, PortableAnn.quantized(embs),
      loadModelCached(spark, path), queryId, topK, dim, nProbe, refine)
  }

  /** The deterministic "re-embedding" stand-in for the upsert flow: rows in
    * the md5 bucket get every coordinate shifted by `1 + vec_id % 3` (a
    * pure integer function both engines replay), everything else passes
    * through; norms recomputed. Shared by [[ensureBuiltWithUpsert]] and
    * q250's serve so the index and the vector store can never disagree
    * about what "the new embedding" is. */
  def reembedded(q: DataFrame, mod: Int, bucket: Int): DataFrame =
    q.withColumn("qv",
        when(T.hashBucket(col("vec_id"), mod) === bucket,
          expr("transform(qv, x -> x + 1 + vec_id % 3)"))
          .otherwise(col("qv")))
      .withColumn("nrm", call_function("dot_i64", col("qv"), col("qv")))

  /** UPSERT = delete → COMPACT → append, and the barrier is load-bearing:
    * tombstones are ID-keyed, so a tombstone still pending when the
    * replacement row is appended would mask the NEW row at serve (and a
    * same-cell replacement would be destroyed by the eventual compaction).
    * Re-embedding a batch therefore compacts its deletes before the
    * frozen-model append — the ordering contract this method exists to
    * own. `_UPSERTED` marker written last, as in the sibling flows. */
  /** The upsert bucket knob — ONE definition shared by the build gate,
    * q250's serve-side patched view, and (interpolated) its oracle SQL, so
    * build and serve can never disagree about which vectors re-embedded. */
  val UpsertMod = 9
  val UpsertBucket = 5

  def ensureBuiltWithUpsert(spark: SparkSession, embs: DataFrame,
      corpusDir: String, dim: Int, upMod: Int = UpsertMod,
      upBucket: Int = UpsertBucket,
      nClusters: Int = 8, m: Int = 8, k: Int = 16,
      iters: Int = 2): String = {
    val path = IndexPaths.indexPath(spark, corpusDir, "graft-pivfpqups")
    if (!IndexPaths.markerExists(spark, s"$path/_UPSERTED"))
      withWriterLease(spark, path) {
        if (!IndexPaths.markerExists(spark, s"$path/_UPSERTED")) {
          val q = PortableAnn.quantized(embs)
          // model frozen at its pre-upsert training, exactly as ingest/delete
          val model = PortableAnn.ivfPqTrainInt(q, dim, nClusters, m, k, iters)
          save(spark, model, PortableAnn.encodeIvfPq(q, model), path)
          modelCache.put(path, model)
          val isUp = T.hashBucket(col("vec_id"), upMod) === upBucket
          delete(spark, path, q.filter(isUp).select("vec_id"))
          compact(spark, path)
          append(spark, path, reembedded(q, upMod, upBucket).filter(isUp))
          IndexPaths.touchMarker(spark, s"$path/_UPSERTED")
          IndexPaths.pruneSuperseded(spark, corpusDir, "graft-pivfpqups", path)
        }
      }
    path
  }

  /** Build-then-delete-then-compact gate for q248: the index is built over
    * the FULL corpus (the model keeps its pre-delete training — a delete
    * must not imply a retrain, exactly as [[append]] must not), the md5
    * bucket `delBucket`-of-`delMod` of vec_ids is tombstoned, and the index
    * is compacted. `_DELETED` marker written last: the codes `_SUCCESS`
    * lands at the base write and must not mark this flow complete. */
  def ensureBuiltWithDelete(spark: SparkSession, embs: DataFrame,
      corpusDir: String, dim: Int, delMod: Int = 7, delBucket: Int = 2,
      nClusters: Int = 8, m: Int = 8, k: Int = 16,
      iters: Int = 2): String = {
    val path = IndexPaths.indexPath(spark, corpusDir, "graft-pivfpqdel")
    if (!IndexPaths.markerExists(spark, s"$path/_DELETED"))
      withWriterLease(spark, path) {
        if (!IndexPaths.markerExists(spark, s"$path/_DELETED")) {
          val q = PortableAnn.quantized(embs)
          val model = PortableAnn.ivfPqTrainInt(q, dim, nClusters, m, k, iters)
          save(spark, model, PortableAnn.encodeIvfPq(q, model), path)
          modelCache.put(path, model)
          delete(spark, path, q.filter(
            graft.functions.TextFunctions.hashBucket(col("vec_id"), delMod)
              === delBucket))
          compact(spark, path)
          IndexPaths.touchMarker(spark, s"$path/_DELETED")
          IndexPaths.pruneSuperseded(spark, corpusDir, "graft-pivfpqdel", path)
        }
      }
    path
  }
}

package graft

import graft.ann.{Knn, PortableAnn}
import org.scalatest.funsuite.AnyFunSuite

/** ANN quality: the approximate serves must return k rows and substantially
  * agree with the exact ranking (recall floors), and their building blocks
  * must hold the contracts the DuckDB oracle replay relies on (trainer
  * shapes, native-vs-HOF parity, tie rules, index lifecycle). */
class AnnSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def topIds(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.collect().map(_.getLong(0)).toSet

  lazy val embs = Tables.load(spark, sf, "embeddings")
  lazy val q = Knn.queryVector(embs, 0L)
  lazy val exact = topIds(Knn.bruteForce(embs, q, excludeId = 0L, k = 10))

  test("float queryVector and portable queryVec fail identically on an absent id: named diagnosis, not an empty-head crash") {
    // r13 VERDICT #6: the require-with-message shape landed on the portable
    // path in r12; the float path must match — both serves' parameter fetch
    // names the missing id instead of surfacing NoSuchElementException
    val eFloat = intercept[IllegalArgumentException] {
      Knn.queryVector(embs, 987654321L)
    }
    assert(eFloat.getMessage.contains("987654321"), eFloat.getMessage)
    assert(eFloat.getMessage.contains("not found"), eFloat.getMessage)
    val ePortable = intercept[IllegalArgumentException] {
      PortableAnn.queryVec(PortableAnn.quantized(embs), 987654321L)
    }
    assert(ePortable.getMessage.contains("987654321"), ePortable.getMessage)
    assert(ePortable.getMessage.contains("not found"), ePortable.getMessage)
  }

  test("portable LSH top-k: k rows, an exact duplicate of the query ranks first at score 1e6") {
    import org.apache.spark.sql.functions.{col, lit}
    // clone the query vector onto a fresh id — the serve must surface it
    // first with the exact integer score 1.0 (ppm), since quantization and
    // scoring are deterministic integer algebra
    val cloneId = 999999L
    val withClone = embs.select(col("vec_id"), col("embedding"))
      .union(embs.filter(col("vec_id") === 0L)
        .select(lit(cloneId).as("vec_id"), col("embedding")))
    val out = Knn.lshTopKPortable(withClone, queryId = 0L, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length == 10)
    assert(out.head == ((cloneId, 1000000L)), out.toSeq.toString)
    // recall vs exact on the unmodified corpus: this synthetic fixture's
    // nearest neighbors are only weakly similar (cos ≈ 0.3), where ANY
    // banded LSH has probabilistic recall — a floor on overlap, not a
    // majority
    val portable = topIds(Knn.lshTopKPortable(embs, queryId = 0L, k = 10))
    val recall = (portable & exact).size
    assert(recall >= 2, s"portable LSH recall too low: $recall/10")
  }

  test("portable embedding near-dup pairs: a planted duplicate pair tops the ranking") {
    import org.apache.spark.sql.functions.{col, lit}
    val cloneId = 999999L
    val withClone = embs.select(col("vec_id"), col("embedding"))
      .union(embs.filter(col("vec_id") === 7L)
        .select(lit(cloneId).as("vec_id"), col("embedding")))
    val top = graft.dedup.Dedup.embeddingNearDupsPortable(withClone, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(top.head == ((7L, cloneId, 1000000L)), top.toSeq.toString)
  }

  test("q103 registered query serves from the persisted portable index == in-flight path") {
    // the registry entry builds once per corpus fingerprint then queries
    // from disk; deterministic integer training makes it equal to the
    // in-flight path, so the bench's steady-state measures serving, never
    // training
    val served = SparkEntry.queries("q103_knn_ivfpq")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val direct = PortableAnn.ivfPqTopKPortable(embs, queryId = 0L,
      topK = 10, dim = 64).collect().map(_.toSeq).toSeq
    assert(served == direct)
    // a second invocation reuses the index (same fingerprint → same path)
    val again = SparkEntry.queries("q103_knn_ivfpq")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(again == served)
  }

  test("q49/q80 registered queries serve cached models == fresh training") {
    // the fingerprint-keyed registry must be invisible in the results:
    // training is deterministic, so cache-hit == retrain, bit for bit
    val servedIvf = SparkEntry.queries("q49_knn_ivf")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val directIvf = PortableAnn.ivfTopKPortable(embs, queryId = 0L, k = 10)
      .collect().map(_.toSeq).toSeq
    assert(servedIvf == directIvf)
    val servedPq = SparkEntry.queries("q80_knn_pq")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val directPq = PortableAnn.pqTopKPortable(embs, queryId = 0L, topK = 10,
      dim = 64).collect().map(_.toSeq).toSeq
    assert(servedPq == directPq)
  }

  // ------------------------------------------------- portable integer family

  private def embRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Array[Float])] =
    df.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq

  private def quant(v: Array[Float]): Array[Long] =
    v.map(x => math.floor(x.toDouble * 100).toLong)

  /** Exact signed cos²-ppm top-k over the quantized rows, computed
    * driver-side with the same integer algebra — the deterministic ground
    * truth the portable IVF serve approximates. Ties → smaller id. */
  private def exactCosPpmTop(rows: Seq[(Long, Array[Float])], queryId: Long,
      k: Int): Seq[Long] = {
    val qv = quant(rows.find(_._1 == queryId).get._2)
    val qn = qv.map(x => x * x).sum
    rows.filter(_._1 != queryId)
      .map { case (id, v) =>
        val u = quant(v)
        val nu = u.map(x => x * x).sum
        val dot = u.zip(qv).map { case (a, b) => a * b }.sum
        val mag = dot * dot * 1000000L / (nu * qn)
        (id, if (dot >= 0) mag else -mag)
      }
      .sortBy { case (id, s) => (-s, id) }.take(k).map(_._1)
  }

  /** Exact quantized-L2 top-k, the portable PQ serve's ground truth. */
  private def exactL2Top(rows: Seq[(Long, Array[Float])], queryId: Long,
      k: Int): Seq[Long] = {
    val qv = quant(rows.find(_._1 == queryId).get._2)
    rows.filter(_._1 != queryId).map { case (id, v) =>
      val u = quant(v)
      var d = 0L; var i = 0
      while (i < u.length) { val x = u(i) - qv(i); d += x * x; i += 1 }
      (id, d)
    }.sortBy { case (id, d) => (d, id) }.take(k).map(_._1)
  }

  lazy val exactPortable: Seq[Long] = exactCosPpmTop(embRows(embs), 0L, 10)

  test("portable IVF serve: exact duplicate of the query ranks first at score 1e6") {
    import org.apache.spark.sql.functions.{col, lit}
    // a clone of the query quantizes identically → same coarse list as the
    // query's own assignment, and that list is always probe #1, so the
    // serve MUST surface it with the exact integer score 1.0 ppm
    val cloneId = 999999L
    val withClone = embs.select(col("vec_id"), col("embedding"))
      .union(embs.filter(col("vec_id") === 0L)
        .select(lit(cloneId).as("vec_id"), col("embedding")))
    val out = PortableAnn.ivfTopKPortable(withClone, queryId = 0L, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length == 10)
    assert(out.head == ((cloneId, 1000000L)), out.toSeq.toString)
  }

  test("portable PQ serve: exact duplicate of the query re-ranks first at distance 0") {
    import org.apache.spark.sql.functions.{col, lit}
    // identical vector → identical codes → ADC distance equals the query's
    // own, and the exact integer re-rank pins it at 0
    val cloneId = 999999L
    val withClone = embs.select(col("vec_id"), col("embedding"))
      .union(embs.filter(col("vec_id") === 0L)
        .select(lit(cloneId).as("vec_id"), col("embedding")))
    val out = PortableAnn.pqTopKPortable(withClone, queryId = 0L, topK = 10,
      dim = 64).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length == 10)
    assert(out.head == ((cloneId, 0L)), out.toSeq.toString)
  }

  test("portable IVF: recall vs the exact integer ranking >= 0.5") {
    val got = topIds(PortableAnn.ivfTopKPortable(embs, queryId = 0L, k = 10))
    assert(got.size == 10)
    val recall = (got & exactPortable.toSet).size
    assert(recall >= 5, s"portable IVF recall too low: $recall/10")
  }

  lazy val exactPortableL2: Seq[Long] = exactL2Top(embRows(embs), 0L, 10)

  test("portable PQ: recall vs the exact quantized-L2 ranking >= 0.7, distances exact") {
    val out = PortableAnn.pqTopKPortable(embs, queryId = 0L, topK = 10,
      dim = 64).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length == 10)
    val recall = (out.map(_._1).toSet & exactPortableL2.toSet).size
    assert(recall >= 7, s"portable PQ recall too low: $recall/10 " +
      s"(got=${out.map(_._1).toSeq} exact=$exactPortableL2)")
    // the re-rank distances are EXACT integer L2 — check one against the
    // driver-side ground truth (value parity, not just ranking)
    val rows = embRows(embs).toMap
    val qv = quant(rows(0L))
    val (hitId, hitDist) = out.head
    val u = quant(rows(hitId))
    var d = 0L; var i = 0
    while (i < u.length) { val x = u(i) - qv(i); d += x * x; i += 1 }
    assert(hitDist == d, s"re-rank distance mismatch for $hitId: $hitDist vs $d")
  }

  test("portable IVF serve and PQ candidate scan keep the float family's plan shape") {
    import org.apache.spark.sql.functions.col
    val qz = PortableAnn.quantized(embs)
    // IVF serve with a trained model: narrow assignment + probe filter +
    // TakeOrderedAndProject — zero corpus shuffles
    val cents = PortableAnn.ivfTrainInt(qz, nClusters = 8)
    val serve = PortableAnn.ivfTopKPortable(embs, queryId = 0L, k = 10,
      model = Some(cents))
    val sp = serve.queryExecution.executedPlan.toString
    assert(!sp.contains("Exchange hashpartitioning"),
      s"portable IVF serve must not shuffle the corpus:\n$sp")
    // PQ candidate scan: codes + ADC are a single narrow map with the
    // model as literal — no join, no shuffle at any corpus size
    val cbs = PortableAnn.pqTrainInt(qz, dim = 64, m = 8, k = 16)
    val scan = qz
      .select(col("vec_id"), PortableAnn.encodeIntCol(col("qv"), cbs).as("codes"))
    val pp = scan.queryExecution.executedPlan.toString
    assert(!pp.contains("Exchange hashpartitioning"),
      s"portable PQ encode must not shuffle:\n$pp")
    assert(!pp.contains("Join"), s"portable PQ encode must not join:\n$pp")
  }

  test("portable integer training is deterministic: train twice, same model") {
    val qz = PortableAnn.quantized(embs)
    val a = PortableAnn.ivfTrainInt(qz, nClusters = 8, iters = 2)
    val b = PortableAnn.ivfTrainInt(qz, nClusters = 8, iters = 2)
    assert(a.map(_._1).toSeq == b.map(_._1).toSeq)
    assert(a.zip(b).forall { case ((_, x), (_, y)) => x.toSeq == y.toSeq })
    val ca = PortableAnn.pqTrainInt(qz, dim = 64, m = 8, k = 16)
    val cb = PortableAnn.pqTrainInt(qz, dim = 64, m = 8, k = 16)
    assert(ca.flatten.flatten.toSeq == cb.flatten.flatten.toSeq)
  }

  test("persisted portable IVF-PQ index: model round-trips; probes prune partitions") {
    val qz = PortableAnn.quantized(embs)
    val model = PortableAnn.ivfPqTrainInt(qz, dim = 64)
    val path = java.nio.file.Files.createTempDirectory("pivfpq_index").toString
    graft.ann.PortableIvfPqIndex.save(spark, model,
      PortableAnn.encodeIvfPq(qz, model), path)
    val loaded = graft.ann.PortableIvfPqIndex.loadModel(spark, path)
    assert(loaded.cents.map(_._1).toSeq == model.cents.map(_._1).toSeq)
    assert(loaded.cents.zip(model.cents)
      .forall { case ((_, a), (_, b)) => a.toSeq == b.toSeq })
    assert(loaded.cbs.flatten.flatten.toSeq == model.cbs.flatten.flatten.toSeq)
    // the probed-list scan is partition-pruned on cid
    val codesScan = spark.read.parquet(s"$path/codes")
      .filter(org.apache.spark.sql.functions.col("cid") === model.cents.head._1)
    val plan = codesScan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(cid"), plan)
  }

  test("incremental ingest: frozen-model append equals a full re-encode, serve included") {
    val idx = graft.ann.PortableIvfPqIndex.ensureBuiltWithIngest(
      spark, embs, sf, dim = 64)
    val qz = PortableAnn.quantized(embs)
    val model = graft.ann.PortableIvfPqIndex.loadModel(spark, idx)
    // disk = build(base) + append(batch); it must be EXACTLY the whole
    // corpus encoded under the frozen model — encoding is a pure function
    val disk = graft.ann.PortableIvfPqIndex.codesFrame(spark, idx)
      .select("vec_id", "cid", "codes")
    val rebuilt = PortableAnn.encodeIvfPq(qz, model)
      .select("vec_id", "cid", "codes")
    assert(disk.count() == rebuilt.count(), "append lost or duplicated rows")
    assert(disk.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(disk).isEmpty,
      "append-built codes differ from a frozen-model re-encode")
    // served top-10 from the appended index == the in-flight serve
    val servedDisk = graft.ann.PortableIvfPqIndex
      .query(spark, idx, embs, queryId = 0L, topK = 10, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val servedFlight = PortableAnn.queryEncodedPortable(
      PortableAnn.encodeIvfPq(qz, model), qz, model, queryId = 0L,
      topK = 10, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(servedDisk == servedFlight,
      "the appended index must serve the same ranking as the in-flight path")
    // the ingest slice is genuinely present: some served or encoded rows
    // come from the md5 ingest bucket
    val inBucket = disk.filter(graft.functions.TextFunctions
      .hashBucket(org.apache.spark.sql.functions.col("vec_id"), 5) === 4)
    assert(inBucket.count() > 0, "ingest bucket missing from the index")
  }

  test("delete lifecycle: tombstone serve == compacted serve, physical removal, untouched partitions byte-stable") {
    import org.apache.spark.sql.functions.col
    val fsys = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def partFiles(codes: String): Map[String, Seq[(String, Long, Long)]] =
      fsys.listStatus(new org.apache.hadoop.fs.Path(codes))
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("cid="))
        .map { d =>
          d.getPath.getName -> fsys.listStatus(d.getPath).toSeq
            .map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
            .sortBy(_._1)
        }.toMap
    // stage a standalone index (own tmp path — must not share q103/q248's
    // build-once gates) and drive the verbs directly
    val qz = PortableAnn.quantized(embs)
    val model = PortableAnn.ivfPqTrainInt(qz, dim = 64)
    val path = java.nio.file.Files.createTempDirectory("pivfpq_del").toString
    graft.ann.PortableIvfPqIndex.save(spark, model,
      PortableAnn.encodeIvfPq(qz, model), path)
    val doomed = qz.filter(
      graft.functions.TextFunctions.hashBucket(col("vec_id"), 7) === 2)
    val doomedIds = doomed.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(doomedIds.nonEmpty, "fixture bucket empty — test is vacuous")
    val before = partFiles(s"$path/codes")
    val presentBefore = spark.read.parquet(s"$path/codes")
      .filter(col("vec_id").isin(doomedIds.toSeq.map(Long.box): _*)).count()
    assert(presentBefore == doomedIds.size, "doomed rows missing pre-delete")

    graft.ann.PortableIvfPqIndex.delete(spark, path, doomed.select("vec_id"))
    val affected = spark.read.parquet(s"$path/tombstones")
      .select("cid").distinct().collect().map(_.getAs[Number](0).intValue)
      .toSet
    val served = graft.ann.PortableIvfPqIndex
      .queryLive(spark, path, embs, queryId = 0L, topK = 10, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(served.forall(r => !doomedIds.contains(r._1)),
      "tombstoned id served")
    // ground truth: the in-flight serve over the filtered encoded frame
    val filtered = PortableAnn.encodeIvfPq(qz, model)
      .filter(!col("vec_id").isin(doomedIds.toSeq.map(Long.box): _*))
    val expect = PortableAnn.queryEncodedPortable(filtered, qz, model,
      queryId = 0L, topK = 10, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(served == expect, "tombstone serve diverges from filtered serve")

    graft.ann.PortableIvfPqIndex.compact(spark, path)
    assert(!fsys.exists(new org.apache.hadoop.fs.Path(s"$path/tombstones")),
      "tombstones must be dropped by compaction")
    assert(spark.read.parquet(s"$path/codes")
      .filter(col("vec_id").isin(doomedIds.toSeq.map(Long.box): _*))
      .count() == 0, "compaction left tombstoned rows on disk")
    val servedCompacted = graft.ann.PortableIvfPqIndex
      .queryLive(spark, path, embs, queryId = 0L, topK = 10, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(servedCompacted == served,
      "compacted serve diverges from tombstone serve")
    // partition-pruned rewrite: every UNaffected cid dir is byte-stable
    // (same files, lengths, modification times); every affected one changed
    val after = partFiles(s"$path/codes")
    (before.keySet ++ after.keySet).foreach { p =>
      val cid = p.stripPrefix("cid=").toInt
      if (!affected.contains(cid))
        assert(before.get(p) == after.get(p), s"unaffected $p was rewritten")
      else assert(before.get(p) != after.get(p), s"affected $p untouched")
    }
    // restart safety: a re-run with nothing pending is a no-op
    graft.ann.PortableIvfPqIndex.compact(spark, path)
    assert(partFiles(s"$path/codes") == after, "idle compact not a no-op")
    // delete EVERYTHING and compact: the empty index must serve empty
    // results, not die on parquet schema inference; a further delete
    // against it is a clean no-op (no empty tombstone dir is written)
    graft.ann.PortableIvfPqIndex.delete(spark, path, qz.select("vec_id"))
    graft.ann.PortableIvfPqIndex.compact(spark, path)
    assert(graft.ann.PortableIvfPqIndex
      .queryLive(spark, path, embs, queryId = 0L, topK = 10, dim = 64)
      .count() == 0, "fully-deleted index must serve empty")
    graft.ann.PortableIvfPqIndex.delete(spark, path, qz.select("vec_id"))
    assert(!fsys.exists(new org.apache.hadoop.fs.Path(s"$path/tombstones")),
      "an all-misses delete must not create a tombstone dir")
  }

  test("writer lease: concurrent foreign writer refused, stale lease broken and recovered, lease released after the verb") {
    // r12 VERDICT #3: the verbs' `synchronized` serializes writers within
    // ONE JVM only — the `_writer_lease` file closes the cross-process gap.
    import org.apache.spark.sql.functions.col
    val qz = PortableAnn.quantized(embs)
    val model = PortableAnn.ivfPqTrainInt(qz, dim = 64)
    val path = java.nio.file.Files.createTempDirectory("pivfpq_lease").toString
    graft.ann.PortableIvfPqIndex.save(spark, model,
      PortableAnn.encodeIvfPq(qz, model), path)
    val leaseF = new java.io.File(graft.ann.PortableIvfPqIndex.leaseFile(path))
    val doomed = qz.filter(
      graft.functions.TextFunctions.hashBucket(col("vec_id"), 7) === 2)
      .select("vec_id")
    // 1. a LIVE foreign lease (another process, fresh mtime) → refusal
    java.nio.file.Files.writeString(leaseF.toPath, "some-other-process")
    val e = intercept[IllegalStateException] {
      graft.ann.PortableIvfPqIndex.delete(spark, path, doomed)
    }
    assert(e.getMessage.contains("live writer lease") &&
      e.getMessage.contains("some-other-process"),
      s"refusal must name the holder: ${e.getMessage}")
    assert(!new java.io.File(s"$path/tombstones").exists,
      "refused verb must not have written anything")
    // 2. the same lease aged past the TTL → stale, broken, verb proceeds
    assert(leaseF.setLastModified(System.currentTimeMillis -
      graft.ann.PortableIvfPqIndex.LeaseTtlMs - 60000L))
    graft.ann.PortableIvfPqIndex.delete(spark, path, doomed)
    graft.ann.PortableIvfPqIndex.compact(spark, path)
    // 3. the verbs released the lease on exit (next process may acquire)
    assert(!leaseF.exists, "lease must be released after the verb completes")
    // and the maintenance actually happened under the recovered lease
    val doomedIds = doomed.collect().map(_.getLong(0)).toSet
    assert(doomedIds.nonEmpty)
    assert(graft.ann.PortableIvfPqIndex.codesFrame(spark, path)
      .filter(col("vec_id").isin(doomedIds.toSeq.map(Long.box): _*))
      .count() == 0, "delete+compact did not run after stale-lease recovery")

    // 4. OWNER-CHECKED release (code-review finding): a holder whose lease
    // was broken mid-verb (simulated by swapping in a foreign lease while
    // the verb runs) must NOT delete the new holder's live lease on exit —
    // an unconditional delete would admit a third concurrent writer
    graft.ann.PortableIvfPqIndex.withWriterLease(spark, path) {
      java.nio.file.Files.writeString(leaseF.toPath, "usurper-process")
    }
    assert(leaseF.exists, "release must leave a foreign lease alone")
    assert(java.nio.file.Files.readString(leaseF.toPath).trim ==
      "usurper-process", "the usurper's lease must survive the release")
    leaseF.delete()
  }

  test("commit-point fence: a lease lost mid-write is detected at the next commit point and refused without committing") {
    // r13 VERDICT #4: a writer stalled past the TTL loses the lease
    // UNDETECTED unless every irreversible commit re-checks ownership.
    // Simulated here by swapping in a foreign lease while the verb's JVM
    // still believes it holds (the reentrant hold-count shortcut skips the
    // acquisition check — exactly the blind spot the fence closes).
    import org.apache.spark.sql.functions.col
    val qz = PortableAnn.quantized(embs)
    val model = PortableAnn.ivfPqTrainInt(qz, dim = 64)
    val path = java.nio.file.Files.createTempDirectory("pivfpq_fence").toString
    graft.ann.PortableIvfPqIndex.save(spark, model,
      PortableAnn.encodeIvfPq(qz, model), path)
    val leaseF = new java.io.File(graft.ann.PortableIvfPqIndex.leaseFile(path))
    val doomed = qz.filter(
      graft.functions.TextFunctions.hashBucket(col("vec_id"), 7) === 2)
      .select("vec_id")
    val e = intercept[IllegalStateException] {
      graft.ann.PortableIvfPqIndex.withWriterLease(spark, path) {
        // replace the lease wholesale (file + checksum sidecar), as a
        // foreign breaker's own create would
        leaseF.delete()
        new java.io.File(leaseF.getParent, s".${leaseF.getName}.crc").delete()
        java.nio.file.Files.writeString(leaseF.toPath, "taker-process")
        graft.ann.PortableIvfPqIndex.delete(spark, path, doomed)
      }
    }
    assert(e.getMessage.contains("lost before commit point") &&
      e.getMessage.contains("taker-process"),
      s"fence must name the commit point and the taker: ${e.getMessage}")
    assert(!new java.io.File(s"$path/tombstones").exists,
      "the fenced verb must NOT have committed its tombstones")
    // and the owner-checked release left the taker's live lease alone
    assert(java.nio.file.Files.readString(leaseF.toPath).trim ==
      "taker-process", "the taker's lease must survive the aborted verb")
    leaseF.delete()
  }

  test("epoch fencing: a usurped writer's moves are refused by token; the winner's state survives bit-for-bit") {
    // r14 VERDICT #3: commit-point fences (lease re-read) left two windows
    // — a fenced-out writer's in-flight STAGING writes, and the corner
    // where the lease re-read alone cannot prove dispossession. The epoch
    // token closes both: acquisition advances `_writer_epoch`, staging
    // names embed the holder's epoch, and every individual move re-checks
    // the token. Interleaving simulated from one JVM, as the sibling
    // lease tests do.
    import org.apache.spark.sql.functions.col
    val qz = PortableAnn.quantized(embs)
    val model = PortableAnn.ivfPqTrainInt(qz, dim = 64)
    val path = java.nio.file.Files.createTempDirectory("pivfpq_epoch").toString
    graft.ann.PortableIvfPqIndex.save(spark, model,
      PortableAnn.encodeIvfPq(qz, model), path)
    val leaseF = new java.io.File(graft.ann.PortableIvfPqIndex.leaseFile(path))
    val epochF = new java.io.File(graft.ann.PortableIvfPqIndex.epochFile(path))
    def crumbs() = Seq(leaseF, epochF).map(f =>
      new java.io.File(f.getParent, s".${f.getName}.crc"))
    val doomed = qz.filter(
      graft.functions.TextFunctions.hashBucket(col("vec_id"), 7) === 2)
      .select("vec_id")
    def codesRows(): Seq[String] =
      graft.ann.PortableIvfPqIndex.codesFrame(spark, path)
        .select("vec_id", "cid", "codes")
        .collect().map(_.toString).sorted.toSeq
    val before = codesRows()

    // (a) usurper ACQUIRES mid-verb: foreign lease + advanced epoch —
    //     exactly what a real acquisition writes. The dispossessed writer's
    //     compact must refuse at its FIRST fenced step, touching nothing.
    val ea = intercept[IllegalStateException] {
      graft.ann.PortableIvfPqIndex.withWriterLease(spark, path) {
        graft.ann.PortableIvfPqIndex.delete(spark, path, doomed)
        val myLease = java.nio.file.Files.readString(leaseF.toPath)
        val myEpoch = java.nio.file.Files.readString(epochF.toPath).trim.toLong
        leaseF.delete(); crumbs().foreach(_.delete())
        java.nio.file.Files.writeString(leaseF.toPath, "usurper-process")
        java.nio.file.Files.writeString(epochF.toPath, s"${myEpoch + 1}")
        val e1 = intercept[IllegalStateException] {
          graft.ann.PortableIvfPqIndex.compact(spark, path)
        }
        assert(e1.getMessage.contains("lost before commit point"),
          s"first fenced step must refuse on the lease: ${e1.getMessage}")

        // (b) the corner the lease re-read CANNOT see: the lease file again
        //     names this JVM (same-owner-reacquired class) but the epoch
        //     has advanced — only the token refuses, naming both epochs.
        leaseF.delete(); crumbs().foreach(_.delete())
        java.nio.file.Files.writeString(leaseF.toPath, myLease)
        val e2 = intercept[IllegalStateException] {
          graft.ann.PortableIvfPqIndex.compact(spark, path)
        }
        assert(e2.getMessage.contains("advanced past this hold"),
          s"epoch token must refuse where the lease read passes: ${e2.getMessage}")
        // surface the outer abort the way a dispossessed verb would
        throw e2
      }
    }
    assert(ea.getMessage.contains("advanced past this hold"))
    assert(codesRows() == before,
      "refused moves must leave the codes tree bit-for-bit untouched")
    assert(new java.io.File(s"$path/tombstones").exists,
      "the pending tombstones belong to the index state, not the loser")

    // (c) the winner (fresh acquisition, epoch advances again) compacts:
    //     stale epoch-stamped scratch from any loser is reaped, the doomed
    //     rows go, everything else survives bit-for-bit.
    leaseF.delete(); crumbs().foreach(_.delete())
    val staleScratch = new java.io.File(s"$path/codes.compact-e1")
    staleScratch.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(staleScratch, "junk").toPath, "leftover")
    graft.ann.PortableIvfPqIndex.compact(spark, path)
    assert(!staleScratch.exists,
      "a dead epoch's scratch must be reaped by the next holder")
    val doomedIds = doomed.collect().map(_.getLong(0)).toSet
    val after = codesRows()
    val expected = before.filterNot(r =>
      doomedIds.exists(id => r.startsWith(s"[$id,")))
    assert(after == expected,
      "winner's compact must equal the original build minus the tombstoned rows")
    assert(!new java.io.File(s"$path/tombstones").exists,
      "compact must consume the tombstones")
    assert(java.nio.file.Files.readString(epochF.toPath).trim.toLong >= 3L,
      "every acquisition must advance the fencing epoch monotonically")
  }

  test("epoch mint is crash-safe: unparseable epoch refused, tmp-only window stays monotonic") {
    // ADVICE r16 #2: the old mint wrote _writer_epoch via create+write — a
    // crash mid-write left a truncated file, and the silent
    // getOrElse(0)+1 fallback regressed the token to 1, breaking the
    // stays-violated-forever monotonicity every fence relies on. The mint
    // now installs via .tmp + rename and REFUSES an unparseable epoch.
    val I = graft.ann.PortableIvfPqIndex
    val path = java.nio.file.Files.createTempDirectory("pivfpq_mint").toString
    val epochF = new java.io.File(I.epochFile(path))
    I.withWriterLease(spark, path) { () }
    assert(java.nio.file.Files.readString(epochF.toPath).trim.toLong == 1L,
      "first mint starts the epoch at 1")
    // (a) corrupt epoch (the crash-mid-write artifact): acquisition must
    // refuse loudly, never re-mint from zero. The crc sidecar is removed so
    // the read reaches the parse (a checksum mismatch refuses too, just
    // through the IO path).
    java.nio.file.Files.writeString(epochF.toPath, "12garbage")
    new java.io.File(epochF.getParent, s".${epochF.getName}.crc").delete()
    val ex = intercept[IllegalStateException] {
      I.withWriterLease(spark, path) { () }
    }
    assert(ex.getMessage.contains("unparseable"),
      s"refusal must name the corrupt epoch: ${ex.getMessage}")
    assert(!new java.io.File(I.leaseFile(path)).exists,
      "a refused mint must release its just-created lease — otherwise a " +
        "retry after manual repair waits out a full TTL")
    // (b) crash window between delete and rename: epoch file absent, .tmp
    // holds the last minted value — the next mint must advance PAST it
    java.nio.file.Files.delete(epochF.toPath)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(I.epochFile(path) + ".tmp"), "7")
    I.withWriterLease(spark, path) { () }
    assert(java.nio.file.Files.readString(epochF.toPath).trim.toLong == 8L,
      "the tmp-only crash window must floor the next mint, never reset it")
    // (c) the surviving .tmp is RE-INSTALLED by rename, never overwritten
    // in place (review finding r16: overwriting the sole record reopened
    // the double-crash regression) — so an ef-absent + GARBAGE-tmp state
    // is corruption, and the mint must refuse it like a corrupt epoch
    java.nio.file.Files.delete(epochF.toPath)
    new java.io.File(epochF.getParent, s".${epochF.getName}.crc").delete()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(I.epochFile(path) + ".tmp"), "gar8age")
    new java.io.File(epochF.getParent, s"._writer_epoch.tmp.crc").delete()
    val ex2 = intercept[IllegalStateException] {
      I.withWriterLease(spark, path) { () }
    }
    assert(ex2.getMessage.contains("unparseable"),
      s"garbage sole-copy tmp must refuse, not mint from zero: ${ex2.getMessage}")
  }

  test("upsert: disk equals a whole-corpus re-encode of the patched vectors; barrier honored") {
    import org.apache.spark.sql.functions.col
    val idx = graft.ann.PortableIvfPqIndex.ensureBuiltWithUpsert(
      spark, embs, sf, dim = 64)
    val model = graft.ann.PortableIvfPqIndex.loadModel(spark, idx)
    val q2 = graft.ann.PortableIvfPqIndex.reembedded(
      PortableAnn.quantized(embs),
      mod = graft.ann.PortableIvfPqIndex.UpsertMod,
      bucket = graft.ann.PortableIvfPqIndex.UpsertBucket)
    val disk = graft.ann.PortableIvfPqIndex.codesFrame(spark, idx)
      .select("vec_id", "cid", "codes")
    val reenc = PortableAnn.encodeIvfPq(q2, model)
      .select("vec_id", "cid", "codes")
    assert(disk.count() == reenc.count(), "upsert lost or duplicated rows")
    assert(disk.exceptAll(reenc).isEmpty && reenc.exceptAll(disk).isEmpty,
      "post-upsert codes differ from a frozen-model re-encode of the patched corpus")
    // the replaced rows are PRESENT and live (the compact barrier held —
    // with a pending id-keyed tombstone they would be masked or destroyed)
    val bucket = graft.functions.TextFunctions.hashBucket(col("vec_id"),
      graft.ann.PortableIvfPqIndex.UpsertMod)
    val ub = graft.ann.PortableIvfPqIndex.UpsertBucket
    assert(disk.filter(bucket === ub).count() ==
      q2.filter(bucket === ub).count(), "re-embedded rows missing from the index")
    val fsys = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(!fsys.exists(new org.apache.hadoop.fs.Path(s"$idx/tombstones")),
      "upsert must leave no pending tombstones")
    // the served ranking equals the in-flight serve over the patched store
    val served = graft.ann.PortableAnn.queryEncodedPortable(
      disk, q2, model, queryId = 0L, topK = 10, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val flight = graft.ann.PortableAnn.queryEncodedPortable(
      PortableAnn.encodeIvfPq(q2, model), q2, model, queryId = 0L,
      topK = 10, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(served == flight, "upserted index serve diverges from in-flight serve")
  }

  test("lifecycle property: random delete/append/re-embed sequences leave disk == frozen-model re-encode of the logical state") {
    // Generator-driven: the unit tests above pin each verb individually;
    // this drives random SEQUENCES of verbs against a driver-side mirror of
    // the logical vector set, catching composition bugs (the class the
    // upsert barrier exists for). Model frozen at the initial corpus
    // throughout — the maintenance contract.
    import spark.implicits._
    val dim = 8
    def md5Bucket(id: Long, mod: Int): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16) % mod
    }
    def frame(state: Map[Long, Seq[Long]]) =
      state.toSeq.sortBy(_._1).map { case (id, qv) =>
        (id, qv, qv.map(x => x * x).sum) }
        .toDF("vec_id", "qv", "nrm")
    val rnd = new scala.util.Random(7)
    for (seed <- 0 until 4) {
      val path = java.nio.file.Files
        .createTempDirectory(s"pivfpq_prop$seed").toString
      var state: Map[Long, Seq[Long]] = (0L until (20 + seed * 7))
        .map(i => i -> Seq.fill(dim)((rnd.nextInt(11) - 5).toLong)).toMap
      var nextId = state.keys.max + 1
      val model = PortableAnn.ivfPqTrainInt(frame(state), dim,
        nClusters = 4, m = 4, k = 4, iters = 1)
      graft.ann.PortableIvfPqIndex.save(spark, model,
        PortableAnn.encodeIvfPq(frame(state), model), path)
      for (_ <- 0 until 3) rnd.nextInt(3) match {
        case 0 => // delete an md5 bucket, compact
          val mod = 2 + rnd.nextInt(4); val b = rnd.nextInt(mod)
          val doomed = state.keys.filter(md5Bucket(_, mod) == b).toSet
          graft.ann.PortableIvfPqIndex.delete(spark, path,
            doomed.toSeq.toDF("vec_id"))
          graft.ann.PortableIvfPqIndex.compact(spark, path)
          state = state -- doomed
        case 1 => // append fresh arrivals under the frozen model
          val batch = (0 until 5 + rnd.nextInt(5)).map { _ =>
            val id = nextId; nextId += 1
            id -> Seq.fill(dim)((rnd.nextInt(11) - 5).toLong)
          }.toMap
          graft.ann.PortableIvfPqIndex.append(spark, path, frame(batch))
          state = state ++ batch
        case 2 => // re-embed an md5 bucket: delete -> COMPACT -> append
          val mod = 2 + rnd.nextInt(4); val b = rnd.nextInt(mod)
          val hit = state.keys.filter(md5Bucket(_, mod) == b).toSet
          val patched = hit.map(id =>
            id -> state(id).map(_ + 1 + id % 3)).toMap
          graft.ann.PortableIvfPqIndex.delete(spark, path,
            hit.toSeq.toDF("vec_id"))
          graft.ann.PortableIvfPqIndex.compact(spark, path)
          if (patched.nonEmpty)
            graft.ann.PortableIvfPqIndex.append(spark, path, frame(patched))
          state = state ++ patched
      }
      // disk must be EXACTLY encode(logical state) under the frozen model
      val disk = graft.ann.PortableIvfPqIndex
        .codesFrame(spark, path).select("vec_id", "cid", "codes")
      val expect = PortableAnn.encodeIvfPq(frame(state), model)
        .select("vec_id", "cid", "codes")
      assert(disk.count() == state.size && expect.count() == state.size,
        s"seed=$seed row-count drift: disk=${disk.count()} logical=${state.size}")
      assert(disk.exceptAll(expect).isEmpty && expect.exceptAll(disk).isEmpty,
        s"seed=$seed: disk codes diverge from the logical re-encode")
    }
  }

  test("ensureBuilt: unchanged corpus reuses the index; a rewritten corpus rebuilds") {
    // stage a private copy of the corpus so mutating it is safe
    val dir = java.nio.file.Files.createTempDirectory("pivfpq_stale").toString
    val src = java.nio.file.Paths.get(s"$sf/embeddings.parquet")
    val dst = java.nio.file.Paths.get(s"$dir/embeddings.parquet")
    java.nio.file.Files.copy(src, dst)
    val embs = spark.read.parquet(dst.toString)
    val p1 = graft.ann.PortableIvfPqIndex.ensureBuilt(spark, embs, dir, dim = 64)
    val p2 = graft.ann.PortableIvfPqIndex.ensureBuilt(spark, embs, dir, dim = 64)
    assert(p1 == p2, "unchanged corpus must reuse the same index path")
    // a corpus rewrite (different mtime) must produce a NEW index path —
    // the staleness contract that makes the in-process model cache safe
    java.nio.file.Files.setLastModifiedTime(dst,
      java.nio.file.attribute.FileTime.fromMillis(
        java.nio.file.Files.getLastModifiedTime(dst).toMillis + 60000))
    val p3 = graft.ann.PortableIvfPqIndex.ensureBuilt(spark, embs, dir, dim = 64)
    assert(p3 != p1, "rewritten corpus must get a fresh index")
    // the rebuild reaps the orphaned index (no lookup can ever reach the
    // old stamp again — disk twin of Models.cachedLatest eviction)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(p1)),
      s"superseded index $p1 must be pruned after the rebuild")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(p3)))
  }

  test("IVF centroids: nClusters entries of the right dimensionality") {
    val cents = PortableAnn.ivfTrainInt(PortableAnn.quantized(embs),
      nClusters = 8, iters = 2)
    assert(cents.length == 8)
    assert(cents.forall(_._2.length == 64))
  }

  test("IVF centroids: duplicate init vectors (empty clusters) still yield nClusters") {
    import spark.implicits._
    // vec 0..3 identical → distance ties starve all but one of those
    // clusters; the starved clusters must keep their previous vector, not
    // vanish
    val dup = (0L until 16L).map { i =>
      val v = if (i < 4) Array(1.0f, 0f, 0f) else
        Array(math.cos(i.toDouble).toFloat, math.sin(i.toDouble).toFloat, 0.1f * i)
      (i, v.toSeq)
    }.toDF("vec_id", "embedding")
    val cents = PortableAnn.ivfTrainInt(PortableAnn.quantized(dup),
      nClusters = 6, iters = 3, sampleMod = 1)
    assert(cents.length == 6, s"got ${cents.length} centroids")
    assert(cents.forall(_._2.length == 3))
  }

  test("PQ codebooks: m×k entries of subspace width, empty codes keep old centroids") {
    val cbs = PortableAnn.pqTrainInt(PortableAnn.quantized(embs), dim = 64,
      m = 8, k = 16, iters = 2)
    assert(cbs.length == 8)
    assert(cbs.forall(_.length == 16))
    assert(cbs.forall(_.forall(_.length == 8)))
  }

  /** HOF reference encoder for ONE subspace — the independently derived
    * parity reference for the native `pq_encode`: exact integer squared L2
    * to every code, first minimum wins (ties → smaller code). */
  private def nearestCodeHof(sub: org.apache.spark.sql.Column,
      codebook: Array[Array[Long]]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val dists = transform(typedlit(codebook.map(_.toSeq).toSeq), cvec =>
      aggregate(zip_with(sub, cvec, (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, v) => acc + v))
    (array_position(dists, array_min(dists)) - 1)
      .cast(org.apache.spark.sql.types.IntegerType)
  }

  test("native pq_encode is bit-identical to the HOF per-subspace argmin") {
    import org.apache.spark.sql.functions._
    val qz = PortableAnn.quantized(embs)
    val cbs = PortableAnn.pqTrainInt(qz, dim = 64, m = 8, k = 16, iters = 2)
    val native = qz
      .select(col("vec_id"), PortableAnn.encodeIntCol(col("qv"), cbs).as("codes"))
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getSeq[Int](1)))
    val hof = qz.select(col("vec_id"),
        array((0 until 8).map(s =>
          nearestCodeHof(slice(col("qv"), s * 8 + 1, 8), cbs(s))): _*)
          .as("codes"))
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getSeq[Int](1)))
    assert(native.nonEmpty)
    assert(native.sameElements(hof))
  }

  test("adc_dist degenerate codes: wrong length and out-of-range code go null") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val tables = Seq(Seq(1.0, 2.0), Seq(10.0, 20.0))
    val rows = Seq((1L, Seq(0, 1)), (2L, Seq(0)), (3L, Seq(0, 5)))
      .toDF("id", "codes")
      .select(col("id"),
        call_function("adc_dist", col("codes"), typedlit(tables)).as("d"))
      .orderBy("id").collect()
    assert(rows(0).getDouble(1) == 21.0)
    assert(rows(1).isNullAt(1) && rows(2).isNullAt(1))
  }

  test("clustered duplicates: IVF and PQ keep full recall when the k lowest ids are identical vectors") {
    import spark.implicits._
    // Adversarial fixture: ids 1..40 are copies of the query vector (id 0),
    // so EVERY deterministic lowest-id init centroid/codebook entry is the
    // same point and all assignment/probe decisions are pure tie-breaking —
    // the regime where empty-cluster keep-alive and mismatched tie rules
    // historically broke. ids 41..99 are distinct filler.
    val dim = 8
    def ring(i: Long): Seq[Float] = (0 until dim).map(d =>
      (math.cos(0.7 * i + d) + 0.1 * d).toFloat)
    val rows = (0L until 100L).map { i =>
      (i, if (i <= 40L) ring(0L) else ring(i))
    }
    val dup = rows.toDF("vec_id", "embedding")
    val fixture = rows.map { case (id, v) => (id, v.toArray) }
    val exactCos = exactCosPpmTop(fixture, 0L, 10)
    val exactL2 = exactL2Top(fixture, 0L, 10)
    // every copy scores 1e6 / sits at distance 0; ties resolve to lowest ids
    assert(exactCos == (1L to 10L) && exactL2 == (1L to 10L))
    val ivf = PortableAnn.ivfTopKPortable(dup, queryId = 0L, k = 10,
      nClusters = 6, nProbe = 2, iters = 3, sampleMod = 1)
      .collect().map(_.getLong(0)).toSeq
    assert(ivf == exactCos, s"IVF lost duplicates to a tie-broken cluster: $ivf")
    val pq = PortableAnn.pqTopKPortable(dup, queryId = 0L, topK = 10,
      dim = dim, m = 4, k = 16, iters = 2, sampleMod = 1)
      .collect().map(_.getLong(0)).toSeq
    assert(pq == exactL2, s"PQ lost duplicates: $pq")
  }
}

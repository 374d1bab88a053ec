package graft.ann

import org.apache.spark.sql.SparkSession

/** In-process registry of trained ANN models, keyed by (corpus fingerprint,
  * hyperparameters) — the serving contract every ANN system runs: models are
  * trained per CORPUS, not per query, and a query pays only its scan. The
  * fingerprint is derived from the corpus files' sizes and modification
  * times, so a rewritten corpus invalidates automatically (the same rule
  * the persisted [[PortableIvfPqIndex]] bakes into its index path) and a
  * cached model can never serve stale parameters. Training is deterministic
  * (hash-sampled, lowest-id init, fixed tie rules), so a cache hit is
  * bit-identical to retraining — the spec asserts it.
  */
object Models {

  /** Fingerprint of a parquet table's files: fold of (length, mtime) over
    * the file listing. Cheap (pure metadata), change-sensitive, and stable
    * across JVMs for an unchanged corpus. */
  def corpusStamp(spark: SparkSession, dir: String,
      table: String = "embeddings"): String = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val path = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    val fs = path.getFileSystem(hconf)
    var acc = 17L
    val it = fs.listFiles(path, true)
    while (it.hasNext) {
      val f = it.next()
      acc = (acc * 31L + f.getLen) * 31L + f.getModificationTime
    }
    java.lang.Long.toHexString(acc)
  }

  /** Genuinely unique live-session identity for cache keys.
    * `identityHashCode` alone is NOT unique across a session's lifetime —
    * a stopped session's hash can recycle into a NEW session, which would
    * serve a frame bound to a dead SparkContext. Prefixing the
    * applicationId closes that hole (a stopped context's successor gets a
    * fresh appId), and identity hashes ARE distinct among simultaneously
    * live sessions sharing one context (`newSession()`). */
  def sessionId(spark: SparkSession): String =
    spark.sparkContext.applicationId + "-" +
      System.identityHashCode(spark).toHexString

  private val latest =
    new java.util.concurrent.ConcurrentHashMap[String, (String, AnyRef)]()

  /** Train-once gate: one live entry per `baseKey`, keyed by the corpus
    * `stamp`, trained on first use. A stamp change (fixtures regenerated
    * between runs) EVICTS the superseded value through `onEvict` — a plain
    * key→model map would accumulate entries for dead corpora for the
    * process lifetime, and a persisted DataFrame in such an entry would pin
    * executor storage for data that can never be read again. `baseKey` must
    * embed a genuinely unique session id ([[org.apache.spark.sql.SparkSession.sessionUUID]],
    * not `identityHashCode` — hash values recycle across stopped sessions)
    * plus every hyperparameter; `stamp` carries only the corpus
    * fingerprint.
    *
    * CONTRACT: `train` must NOT call cachedLatest (directly or through
    * [[graft.queries.SharedFrames.sharedFrame]]) — the registry is one
    * ConcurrentHashMap and `compute` forbids reentrant updates
    * (IllegalStateException("Recursive update"), and only once the map is
    * populated enough to collide bins — a latent failure, not a loud one).
    * A per-thread guard makes it loud: any call made while this thread
    * runs a `train` throws an IllegalStateException naming both keys.
    * Resolve nested models BEFORE entering the outer gate, as
    * [[graft.queries.Semantic.memberFrame]] does. */
  def cachedLatest[T <: AnyRef](baseKey: String, stamp: String,
      onEvict: T => Unit = (_: T) => ())(train: => T): T = {
    val outer = building.get
    if (outer != null)
      throw new IllegalStateException(s"Models.cachedLatest re-entered: " +
        s"'$baseKey' requested while building '$outer'; resolve it before " +
        "the outer build")
    latest.compute(baseKey, (_, prev) =>
      if (prev != null && prev._1 == stamp) prev
      else {
        if (prev != null) onEvict(prev._2.asInstanceOf[T])
        building.set(baseKey)
        try (stamp, train) finally building.remove()
      }
    )._2.asInstanceOf[T]
  }

  /** The key whose `train` this thread is running, or null. */
  private val building = new ThreadLocal[String]
}

/** Build-once path scheme shared by the persisted corpus indexes
  * ([[PortableIvfPqIndex]] and the text signature store,
  * [[graft.dedup.PortableSigStore]]) — ONE implementation of the
  * staleness contract so they can't drift: the index lives at a path
  * derived from the corpus location AND a fingerprint of its files, so a
  * rewritten corpus gets a fresh index automatically and an unchanged one
  * is never retrained; "built" is the last-written table's `_SUCCESS`
  * marker (the IVF-PQ codes, the store's sigs), so a partial build never
  * reads as complete. */
private[graft] object IndexPaths {

  /** Human-readable slug + a short md5 of the RAW path. The readable part
    * alone is lossy (all non-alphanumeric runs collapse to '-', so
    * `/data/foo.1` and `/data/foo_1` would share a slug — and
    * [[pruneSuperseded]] for one would delete the other's LIVE index, r12
    * ADVICE #2); the hash suffix makes distinct corpus dirs collision-free
    * by construction. */
  private def slugOf(corpusDir: String): String = {
    val base = corpusDir.replaceAll("[^A-Za-z0-9]+", "-")
      .replaceAll("^-|-$", "")
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(corpusDir.getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
    if (base.isEmpty) h else s"$base-$h"
  }

  /** `table` names the parquet table whose file fingerprint stamps the
    * path — "embeddings" for the vector indexes, "documents" for the text
    * signature store. */
  def indexPath(spark: SparkSession, corpusDir: String,
      prefix: String, table: String = "embeddings"): String = {
    val stamp = Models.corpusStamp(spark, corpusDir, table)
    s"${System.getProperty("java.io.tmpdir")}/$prefix-${slugOf(corpusDir)}-$stamp"
  }

  def isBuilt(spark: SparkSession, path: String): Boolean =
    markerExists(spark, s"$path/codes/_SUCCESS")

  def markerExists(spark: SparkSession, markerPath: String): Boolean = {
    val marker = new org.apache.hadoop.fs.Path(markerPath)
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(marker)
  }

  /** Create an empty durability-marker file (e.g. the ingest-complete flag
    * a multi-write build flow needs beyond the first write's _SUCCESS). */
  def touchMarker(spark: SparkSession, markerPath: String): Unit = {
    val marker = new org.apache.hadoop.fs.Path(markerPath)
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(marker, true).close()
  }

  /** Disk analog of [[Models.cachedLatest]]'s eviction: when a corpus is
    * rewritten its stamp changes and the OLD index directory can never be
    * read again (every lookup goes through [[indexPath]]'s fresh stamp) —
    * without pruning, dead indexes accumulate for the tmpdir lifetime.
    * Deletes every sibling index of the same (prefix, corpus slug) whose
    * stamp differs from `keep`. Best-effort: a failed delete only leaks
    * what was already leaking. */
  def pruneSuperseded(spark: SparkSession, corpusDir: String, prefix: String,
      keep: String): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(
      System.getProperty("java.io.tmpdir"))
    val fs = tmp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lead = s"$prefix-${slugOf(corpusDir)}-"
    val keepName = new org.apache.hadoop.fs.Path(keep).getName
    try fs.listStatus(tmp).foreach { st =>
      val n = st.getPath.getName
      // the post-lead remainder must be a bare hex stamp (no dashes):
      // slug "a" is a PREFIX of slug "a-b", and without this check a
      // prune for corpus a would delete corpus a-b's live index
      if (st.isDirectory && n.startsWith(lead) && n != keepName &&
          !n.substring(lead.length).contains('-'))
        try fs.delete(st.getPath, true)
        catch { case _: java.io.IOException => () }
    } catch { case _: java.io.IOException => () }
  }
}

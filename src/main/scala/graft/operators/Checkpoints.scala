package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The one owner of frames materialized within a query: the block-store RDD
  * behind a `localCheckpoint(eager = true)` Dataset — its plan is a single
  * [[LogicalRDD]] leaf holding the materialized InternalRow RDD. Every
  * mid-query materialization in the engine goes through [[scratch]]; the
  * only state that outlives a query is the
  * [[graft.queries.SharedFrames]] registry's cache entries. Iterative
  * kernels free their rounds' blocks through [[Rounds]], whose scaladoc
  * states when that is safe; a driver loop (a trainer) releases its
  * scratch frame in a `finally`. */
private[graft] object Checkpoints {
  def rddOf(df: DataFrame): Option[RDD[InternalRow]] =
    df.queryExecution.analyzed.collectFirst { case lr: LogicalRDD => lr.rdd }

  /** Materialize a mid-query scratch frame ONCE (eager local checkpoint)
    * so several consumers share a single computation WITHOUT a `persist()`
    * entry: a kernel that returns a lazy result has no post-action point
    * at which to unpersist, so a cache entry it creates outlives the query
    * in the session's CacheManager (the r9 leak class — "Asked to cache
    * already cached data" warnings on every re-execution). A scratch
    * frame's blocks are freed by [[release]], by the between-query
    * [[sweepScratch]], or by the ContextCleaner once the frame is
    * collected. The standard localCheckpoint trade applies at cluster
    * scale: blocks are unreplicated, so an executor loss fails the query
    * instead of recomputing — acceptable for within-query scratch, NOT for
    * cross-query shared frames (those stay in the stamped
    * [[graft.queries.SharedFrames]] registry, which owns an explicit
    * eviction lifecycle). A frame that already IS a live scratch
    * checkpoint (a bare [[LogicalRDD]] leaf from the scratch set) comes
    * back unchanged: a second copy would rewrite the same rows. */
  def scratch(df: DataFrame): DataFrame = df.queryExecution.analyzed match {
    case lr: LogicalRDD if scratchIds.contains(lr.rdd.id) => df
    case _ =>
      val out = df.localCheckpoint(eager = true)
      rddOf(out).foreach(r => scratchIds.add(r.id))
      out
  }

  /** Free the blocks behind each scratch frame now, not at the next sweep.
    * Only for frames nothing will read again (see [[Rounds]]). */
  def release(dfs: DataFrame*): Unit =
    dfs.flatMap(rddOf).foreach { r =>
      r.unpersist(blocking = false)
      scratchIds.remove(r.id)
    }

  /** True iff `df`'s analyzed plan (subqueries included) reads a
    * checkpoint minted by [[scratch]] and not yet swept — i.e. `df` dies
    * at the next query boundary. [[graft.queries.SharedFrames.sharedFrame]]
    * refuses such a frame at build time: a registry entry outlives the
    * query, and after [[sweepScratch]] its recompute would read freed
    * blocks ("Checkpoint block not found"). */
  def scratchRooted(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectWithSubqueries {
      case lr: LogicalRDD if scratchIds.contains(lr.rdd.id) => lr
    }.nonEmpty

  /** [[scratch]] plus a row count matching `pred`, read from the SAME
    * materialization job via `Dataset.observe` (CollectMetricsExec — a
    * codegen-neutral accumulator node): the iterative kernels' per-round
    * convergence probe (`next.filter(pred).count()`) was a whole extra
    * Spark job per round reading the just-written checkpoint blocks (r16
    * measurement: one such job per BFS/CC round at 0.02–0.07 s each, ~10%
    * of a fixed-point query at sf0.1). Counting inside the checkpoint's
    * own execution makes the probe free. */
  def scratchCount(df: DataFrame, pred: Column): (DataFrame, Long) =
    scratchAgg(df, Seq(coalesce(sum(when(pred, 1L)), lit(0L)).cast("long")
      .as("n"))) match { case (out, row) => (out, row.getLong(0)) }

  /** General form of [[scratchCount]]: materialize `df` and return the
    * given (named) aggregates computed by the SAME job via
    * `Dataset.observe`. Should the metric not surface (observe is filled by
    * any full execution of the plan, which an eager checkpoint is), the
    * same aggregates run over the materialized frame instead. */
  def scratchAgg(df: DataFrame, aggs: Seq[Column]): (DataFrame, Row) = {
    val name = "conv_" + java.util.UUID.randomUUID.toString.take(8)
    val observed = df.observe(name, aggs.head, aggs.tail: _*)
    val out = scratch(observed)
    (out, observed.queryExecution.observedMetrics.getOrElse(name,
      out.agg(aggs.head, aggs.tail: _*).head()))
  }

  /** Ids of every checkpoint RDD minted by [[scratch]] and not yet
    * released or swept. */
  private val scratchIds =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private[graft] def liveIds: Set[Int] = scratchIds.asScala.toSet

  /** The between-query sweep: free every checkpoint minted by [[scratch]]
    * and not yet released — exactly those, nothing else. Registry entries
    * ([[graft.queries.SharedFrames]]) are CacheManager entries and survive
    * it; a between-query reset drops them with `clearCache` first
    * ([[graft.Engine.resetBetweenQueries]]).
    *
    * @param blocking the Bench/Verify/probe mains pass true for EVERY
    *   sweep: their sweeps sit outside the timed reps (local block removal
    *   is milliseconds there), each timed rep then starts against a
    *   provably clean block store, and — decisive for the last sweep —
    *   async unpersist futures still in flight when `spark.stop()` shuts
    *   the executor pool die with RejectedExecutionException stack traces
    *   in the process tail, noise the bench's bounded-tail stdout contract
    *   can't afford near the JSON line. The async default remains for
    *   latency-sensitive callers inside a query. */
  def sweepScratch(sc: org.apache.spark.SparkContext,
      blocking: Boolean = false): Unit = {
    // snapshot the ids BEFORE the block listing: scratch() persists before
    // registering, so an id captured here had its blocks listed in `live`
    // unless they are already gone. Only the snapshot is dropped from the
    // set — an id minted while the sweep runs stays registered, to be freed
    // by its owner or the next sweep.
    val ids = liveIds
    val live = sc.getPersistentRDDs
    ids.foreach { id =>
      live.get(id).foreach(_.unpersist(blocking))
      scratchIds.remove(id)
    }
  }
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Corpus-derived frames consumed by SEVERAL query families, cached once per
  * (session, dir, corpus stamp) — the [[graft.ann.Models]] fingerprint
  * discipline applied to derived DataFrames. The motivating case is the
  * market-basket frame: q122/q123/q145 and the whole co-purchase graph
  * family each start from `DISTINCT (l_orderkey, l_partkey)`, and a session
  * running more than one of them would otherwise re-scan and re-shuffle the
  * corpus per query. A rewritten corpus invalidates via the stamp (the
  * superseded frame is unpersisted on eviction); a restarted session via
  * `sessionUUID` in the key.
  */
object SharedFrames {

  /** Re-persist-on-access: an external cache sweep (Bench's between-query
    * block-store reset, a session's own `clearCache`) silently clears the
    * persist marker, and an unpersisted shared frame would recompute its
    * shuffle per consumer — the exact cost the cache exists to pay once. */
  private def repersisted(df: DataFrame): DataFrame = {
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      df.persist()
    df
  }

  /** Generic gate for a shared corpus-derived frame: `table` names the
    * fingerprinted source, `kind` the derivation.
    *
    * A shared frame must be recomputable from its lineage: the registry
    * keeps it across queries, and the between-query sweep
    * ([[graft.operators.Checkpoints.sweepScratch]]) frees every
    * [[graft.operators.Checkpoints.scratch]] block. A newly built frame
    * rooted in such a block is therefore refused with an
    * IllegalStateException naming `kind`; the check runs only on a build,
    * so registry hits pay nothing. `build` must not call the registry
    * itself (see [[graft.ann.Models.cachedLatest]]'s CONTRACT): resolve
    * input shared frames before the call. */
  def sharedFrame(spark: SparkSession, dir: String, table: String,
      kind: String)(build: => DataFrame): DataFrame =
    repersisted(graft.ann.Models.cachedLatest[DataFrame](
      s"frame:$kind:${graft.ann.Models.sessionId(spark)}:$dir",
      graft.ann.Models.corpusStamp(spark, dir, table),
      onEvict = _.unpersist(blocking = false)) {
      val df = build
      if (graft.operators.Checkpoints.scratchRooted(df))
        throw new IllegalStateException(s"shared frame '$kind' is rooted " +
          "in a Checkpoints.scratch block, which the between-query sweep " +
          "frees; build it from recomputable lineage instead")
      df
    })

  /** The market-basket frame: one row per distinct (order, part) incidence.
    * One scan + one hash-distinct shuffle, paid once per corpus per
    * session; every basket/graph query starts here. */
  def basketItems(spark: SparkSession, dir: String): DataFrame =
    sharedFrame(spark, dir, "lineitem", "basket") {
      Tables.load(spark, dir, "lineitem")
        .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
        .distinct()
    }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{Advanced, Analytics, Corpus, Evaluation, Extensions, Graph, Maintenance, Mart, Relational, Retrieval, Semantic, Stats, Training, Valuation}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 is exposed here as a named
  * query over a scale-factor directory, with (where SQL-expressible) an
  * equivalent DuckDB oracle statement for the hash-match correctness gate.
  */
object SparkEntry {

  /** Flagship query (the star-schema revenue rollup, `Project Plan7.md:24-36`
    * analog) on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q06(spark, "/root/testdata/sf0.001")

  private lazy val registry
      : Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Relational.registry ++ Mart.registry ++ Extensions.registry ++
      Advanced.registry ++ Training.registry ++ Analytics.registry ++
      Corpus.registry ++ Stats.registry ++ Retrieval.registry ++ Graph.registry ++
      Evaluation.registry ++ Semantic.registry ++ Maintenance.registry ++
      Valuation.registry

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * CALLER CONTRACT (r10 ADVICE): a builder `fn(spark, dir)` MAY run Spark
    * jobs eagerly during plan CONSTRUCTION — iterative kernels (connected
    * components, BFS, k-means, BPE) execute their rounds there, and
    * mid-query scratch frames are materialized eagerly
    * ([[graft.operators.Checkpoints.scratch]]). Keep the builder call
    * inside your timing / error-handling scope, not just the action on the
    * returned frame. Additionally, the returned plan (and any scratch
    * blocks backing it) is only guaranteed valid until the session's next
    * block-store sweep: between queries Bench/Verify free every scratch
    * checkpoint minted so far ([[graft.operators.Checkpoints.sweepScratch]]),
    * which destroys its blocks irrecoverably — so no builder may defer
    * reading a scratch frame across a sweep boundary — re-invoke the
    * builder (a fresh construction re-checkpoints) rather than re-executing
    * a frame obtained before the sweep. Bench/Verify already follow this:
    * every rep calls the builder anew. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, f, _) => n -> f }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.collect { case (n, _, Some(sql)) => n -> sql }.toMap

  /** Adjudication notes for queries WITHOUT an oracle entry — dumped by
    * [[Verify]] as `notes.json` next to `oracle_sql.json`, so the one
    * `no_oracle` row in the correctness artifact carries its own
    * explanation instead of requiring a VERDICT cross-reference (r12
    * VERDICT #6). */
  def queryNotes: Map[String, String] = Map(
    "q53_sketches" -> ("no_oracle BY DECLARED DESIGN: demonstrates Spark's " +
      "built-in approx sketches (HLL++ approx_count_distinct, " +
      "percentile_approx), whose merge buffers are engine-internal — no " +
      "other engine replays them bit-for-bit. Portable hash-gated twin: " +
      "q215_hll_registers (green) replays an HLL register table in exact " +
      "integer arithmetic; SketchSpec bounds q53's estimates within " +
      "+/-10% of exact on the fixture."))
}

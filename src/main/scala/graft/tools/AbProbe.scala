package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.SharedFrames

/** Dev-only A/B harness for the q145 scratch-materialization question
  * (VERDICT r10 next-round #1): times the triple-itemset kernel under three
  * sharing strategies for the Σ basket² pair-instance frame —
  * `scratch` (eager localCheckpoint, the shipping form), `recompute`
  * (no sharing: the self-join runs once per consumer), and `persist`
  * (CacheManager entry, manually released after the action). Run with
  * `runMain graft.tools.AbProbe [sfDir] [reps]`. */
object AbProbe {

  private def pairInstances(spark: SparkSession, dir: String): DataFrame = {
    val items = SharedFrames.basketItems(spark, dir)
    val a = items.select(col("okey"), col("part").as("part_a"))
    val b = items.select(col("okey").as("okey_b"), col("part").as("part_b"))
    a.join(b, col("okey") === col("okey_b") && col("part_a") < col("part_b"))
      .select("okey", "part_a", "part_b")
  }

  private def triples(spark: SparkSession, dir: String,
      pi: DataFrame): DataFrame = {
    val items = SharedFrames.basketItems(spark, dir)
    val freqPairs = pi
      .groupBy("part_a", "part_b").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 2L)
      .select("part_a", "part_b")
    pi.join(freqPairs, Seq("part_a", "part_b"), "left_semi")
      .join(items.select(col("okey").as("okey_c"), col("part").as("part_c")),
        col("okey") === col("okey_c") && col("part_c") > col("part_b"))
      .groupBy("part_a", "part_b", "part_c")
      .agg(count(lit(1)).as("n_baskets"))
      .filter(col("n_baskets") >= 2L)
      .orderBy(desc("n_baskets"), col("part_a"), col("part_b"), col("part_c"))
  }

  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = Engineered.session()
    graft.Engine.quietSweepLogging() // between-strategy sweeps are intentional
    val n = pairInstances(spark, dir).count()
    println(f"AB pairInstances rows=$n")

    // Bench-style reps: the block store is reset BETWEEN strategies (as
    // Bench resets between queries) but NOT between a strategy's reps — so
    // the warmup rep warms SharedFrames.basketItems exactly as the driver
    // bench's warmup rep does.
    def timed(tag: String)(run: => Long): Unit = {
      (0 to reps).foreach { i =>
        val t0 = System.nanoTime()
        val rows = run
        val lbl = if (i == 0) "warmup" else s"run$i"
        println(f"AB $tag $lbl ${(System.nanoTime - t0) / 1e9}%.2f s ($rows rows)")
      }
      graft.Engine.resetBetweenQueries(spark)
    }

    timed("recompute") {
      triples(spark, dir, pairInstances(spark, dir)).count()
    }
    timed("scratch") {
      triples(spark, dir,
        graft.operators.Checkpoints.scratch(pairInstances(spark, dir))).count()
    }
    timed("persist") {
      val pi = pairInstances(spark, dir).persist()
      try triples(spark, dir, pi).count()
      finally pi.unpersist(blocking = false)
    }
    spark.stop()
  }

  private object Engineered {
    def session(): SparkSession = graft.Engine.session("ab-probe")
  }
}

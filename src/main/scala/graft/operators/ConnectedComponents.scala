package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components by hash-to-min label propagation — the
  * clustering step of a dedup pipeline: near-dup PAIRS (MinHash/SimHash/
  * Jaccard output) become dedup GROUPS, each labeled by its minimum member
  * id, so "keep one doc per cluster" is a deterministic groupBy.
  *
  * Algorithm: every vertex starts labeled with its own id; each round every
  * vertex (a) lowers its label to the minimum of its own and its neighbors',
  * then (b) pointer-jumps: follows its label one hop (comp := label(comp)),
  * which halves the length of any label chain. A round is two hash-joins of
  * bounded-size frames plus one aggregate — no driver-side graph state, so
  * it runs at any corpus size. Neighbor-min alone needs O(diameter) rounds,
  * and PATHS are the typical output of adjacent-pair dedup discovery (a run
  * of k consecutive near-dup docs is a chain of diameter k−1); the jump
  * step cuts that to O(log diameter), the same doubling idea as the
  * large-star/small-star contraction of Kiveris et al., "Connected
  * Components in MapReduce and Beyond" (SoCC'14).
  *
  * Determinism: min() is order-insensitive, so the fixpoint is unique — the
  * same (vertices, edges) input yields the same labeling on any cluster
  * layout, which is what makes the result DuckDB-oracle-checkable.
  */
object ConnectedComponents {
  import Rounds.Round

  /** @param vertices one column `id` (LongType) — every vertex to label,
    *                 including isolated ones (they come back as singletons).
    * @param edges    columns `src`, `dst` — undirected, either orientation.
    * @return (id, comp) where comp = min vertex id reachable from id.
    */
  def run(vertices: DataFrame, edges: DataFrame, maxIters: Int = 25): DataFrame = {
    // Both directions, so one join per round sees every neighbor.
    // Materialized: the edge list is consumed once per round, and upstream
    // it is typically an expensive pair-discovery pipeline (LSH banding,
    // Jaccard verify) that must not re-run O(diameter) times. A scratch
    // checkpoint, not persist (r16): the columnar CachedBatch persist paid
    // decompression on EVERY round's read (measured 5–6 s task time per
    // BFS round against a 24 MB cache in the sibling kernel), where the
    // checkpoint stores raw rows.
    val sym = Checkpoints.scratch(edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst"))))
    try {
      // Only edge-touched vertices iterate: an isolated vertex can never
      // change its label, so it stays out of every round's shuffle entirely
      // and is unioned back as a singleton at the end. In a dedup corpus the
      // touched subgraph is the near-dup fraction — a sliver of the corpus —
      // so the loop's working set scales with the duplicates, not the data.
      val labels0 = Checkpoints.scratch(
        sym.select(col("src").as("id")).distinct()
          .select(col("id"), col("id").as("comp")))
      val (last, _) = Rounds.iterate(Round(labels0, Seq(labels0)), maxIters) {
        (labels, _) =>
          // (a) min label among each vertex's neighbors (one shuffle dst→src)
          val nbrMin = sym
            .join(labels.select(col("id").as("dst"), col("comp")), "dst")
            .groupBy(col("src").as("id")).agg(min("comp").as("nbr"))
          // left lazy although the jump join reads it twice: the round
          // recomputes labels ⋈ nbrMin once more, but runs a fixed number
          // of jobs (a persist here varied the AQE query-stage jobs per rep)
          val stepped = labels.join(nbrMin, Seq("id"), "left")
            .select(col("id"),
              least(col("comp"), coalesce(col("nbr"), col("comp"))).as("comp"),
              (coalesce(col("nbr"), col("comp")) < col("comp")).as("chg"))
          // (b) pointer-jump: comp := min(comp, label(comp)). Labels only ever
          // decrease toward the component's min id, so the fixpoint is the
          // same — but a length-k label chain becomes length ⌈k/2⌉ per round.
          // The round result is local-checkpointed, not just persisted: the
          // jump self-join references the round's plan TWICE, so carrying
          // lineage forward would double the logical plan every round —
          // checkpointing keeps the per-round plan constant-size.
          val jmap = stepped.select(col("id").as("jid"), col("comp").as("jump"))
          // the changed-count rides the checkpoint job itself (observe
          // accumulator) instead of a per-round counting job over the
          // just-written blocks
          val (next, nChanged) = Checkpoints.scratchCount(
            stepped.join(jmap, col("comp") === col("jid"), "left")
              .select(col("id"),
                least(col("comp"), coalesce(col("jump"), col("comp"))).as("comp"),
                (col("chg") ||
                  coalesce(col("jump"), col("comp")) < col("comp")).as("chg")),
            col("chg"))
          Round(next.drop("chg"), Seq(next), more = nChanged > 0)
      }
      try {
        require(!last.more,
          s"connected components did not converge in $maxIters rounds — " +
            s"with pointer jumping this needs a component of diameter ~2^$maxIters; " +
            "check the edge input before raising maxIters")
        // singletons rejoin here: left join against the converged labels is
        // one broadcast-or-hash join, not O(rounds) of them
        val all = vertices.select(col("id"))
          .join(last.state.withColumnRenamed("comp", "lbl"), Seq("id"), "left")
          .select(col("id"), coalesce(col("lbl"), col("id")).as("comp"))
        // detach the result from the iteration state: the caller gets a plan
        // over ONE stable local checkpoint, and the final round's blocks are
        // freed once it has materialized
        Checkpoints.scratch(all)
      } finally Checkpoints.release(last.frames: _*)
    } finally Checkpoints.release(sym)
  }
}

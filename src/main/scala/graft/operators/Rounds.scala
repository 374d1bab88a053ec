package graft.operators

import org.apache.spark.sql.DataFrame

/** The round loop of the iterative kernels whose rounds are Spark frames
  * (PageRank, label propagation, BFS, k-core peeling, connected components,
  * Bradley–Terry): run a step per round, stop at the kernel's own fixed
  * point or at the round budget, and free each round's scratch blocks one
  * round late. HITS keeps its scores as driver-side vectors instead
  * (`Graph.hits`) and has no round frames to free.
  *
  * Free-one-round-late invariant: a round's [[Round.frames]] are freed only
  * after the NEXT round's step has returned. Every kernel materializes its
  * round eagerly ([[Checkpoints.scratch]]), so once the next step returns,
  * its own checkpoints hold everything later rounds read, and the previous
  * round's blocks can never be read again. Earlier is never safe:
  * checkpoint blocks have no lineage, so a frame freed before its reader ran
  * turns that read into "Checkpoint block not found". Freeing at the round
  * boundary instead of waiting for the ContextCleaner matters: it reaps
  * checkpoint blocks only after the JVM happens to collect the frame, which
  * in a long session leaves O(rounds) dead snapshots pinned in storage
  * memory (VERDICT r6: q58 benched 3.9× its solo time for this reason).
  *
  * A round that lists no frames keeps its blocks (a snapshot the caller
  * returns). The last round's frames are never freed here: they usually
  * back the caller's result, so the caller releases them when they do not.
  */
private[graft] object Rounds {

  /** One round's outcome: the state the next round starts from, the scratch
    * frames this round materialized that may be freed once the next round
    * has run, and whether another round is wanted. */
  final case class Round[S](state: S, frames: Seq[DataFrame] = Nil,
      more: Boolean = true)

  /** Run `step(state, r)` for r = 1, 2, … from `init` (round 0, whose
    * frames retire after round 1) until a round returns `more = false` or
    * `maxRounds` rounds have run. Returns the last round and the number of
    * rounds run. If a step throws, the previous round's frames are freed
    * before the exception propagates. */
  def iterate[S](init: Round[S], maxRounds: Int)
      (step: (S, Int) => Round[S]): (Round[S], Int) = {
    var last = init
    var r = 0
    while (last.more && r < maxRounds) {
      val next =
        try step(last.state, r + 1)
        catch { case e: Throwable => Checkpoints.release(last.frames: _*); throw e }
      Checkpoints.release(last.frames: _*)
      last = next
      r += 1
    }
    (last, r)
  }
}

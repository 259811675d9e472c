package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The driver loop behind every iterative operator (PageRank, SSSP,
  * k-core, label propagation, connected components, IVF/PQ Lloyd rounds,
  * BPE training): run `step` from `init` for at most `maxRounds` rounds,
  * stopping early when a round reports the fixpoint (`step` returns None)
  * or the optional [[Check]] says the rounds converged. Returns the final
  * frame and the number of rounds that produced a frame.
  *
  * Every non-final round is checkpointed eagerly and the round it
  * supersedes is released. Without the cut, a round that references the
  * previous frame twice (PageRank's contribs + dangling mass) doubles the
  * lazy plan per round (2^rounds subtree copies), and even
  * single-reference loops grow O(rounds) plans; without the release,
  * round i−1's blocks stay in the storage pool for the life of the JVM.
  * Together they keep BOTH plan depth and block footprint O(1) in the
  * round count.
  *
  * The final round is checkpointed only under `eagerFinal`; otherwise it
  * stays lazy and the caller's own action materializes it (an eager pass
  * would pay that job twice). A lazy final round reads the round before
  * it, so that round is kept.
  *
  * Only frames this loop checkpointed are ever released: `init` is the
  * caller's (often a shared memo) unless `checkpointInit` makes the loop
  * checkpoint it itself.
  */
object Fixpoint {

  /** Convergence test run on every `every`-th round's checkpointed output
    * against the baseline — the output of the previous checked round
    * (`init` before the first check), retained until the next check. The
    * round that hits the cap is never tested: the loop stops either way. */
  final case class Check(every: Int,
                         converged: (DataFrame, DataFrame) => Boolean)

  /** One round's context: its 1-based index, and [[checkpoint]] for
    * per-round intermediates (e.g. k-core's drop set), which are released
    * once the round's own output is checkpointed. */
  final class Round private[Fixpoint] (val index: Int) {
    private[Fixpoint] var scratch = List.empty[DataFrame]

    def checkpoint(df: DataFrame): DataFrame = {
      val cp = df.localCheckpoint()
      scratch ::= cp
      cp
    }
  }

  def run(init: DataFrame, maxRounds: Int, checkpointInit: Boolean,
          eagerFinal: Boolean, check: Option[Check])(
      step: (DataFrame, Round) => Option[DataFrame]): (DataFrame, Int) = {
    var cur = if (checkpointInit) init.localCheckpoint() else init
    def mine(df: DataFrame): Boolean = !(df eq init)
    var base = check.map(_ => cur)
    var rounds = 0
    var done = false
    while (!done && rounds < maxRounds) {
      val round = new Round(rounds + 1)
      step(cur, round) match {
        case None =>
          round.scratch.foreach(release)
          done = true
        case Some(next) if rounds + 1 == maxRounds && !eagerFinal =>
          // `next` reads `cur` and this round's scratch: both stay
          rounds += 1
          base.filter(b => mine(b) && !(b eq cur)).foreach(release)
          base = None
          cur = next
        case Some(next) =>
          rounds += 1
          val cp = next.localCheckpoint()
          round.scratch.foreach(release)
          if (mine(cur) && !base.exists(_ eq cur)) release(cur)
          cur = cp
          for (c <- check; b <- base
               if rounds < maxRounds && rounds % c.every == 0) {
            done = c.converged(b, cp)
            if (mine(b)) release(b)
            base = Some(cp)
          }
      }
    }
    base.filter(b => mine(b) && !(b eq cur)).foreach(release)
    (cur, rounds)
  }

  /** Unpersist the storage blocks behind a frame returned by
    * `localCheckpoint()`. No-op for any other plan shape, so a
    * mistakenly-passed derived frame can never evict a shared upstream
    * checkpoint. */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
    case _              => ()
  }
}

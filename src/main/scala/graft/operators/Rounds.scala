package graft.operators

import scala.annotation.tailrec

import org.apache.spark.sql.{DataFrame, Row}

/** The one round loop of the iterative operators (PageRank, HITS,
  * k-core, connected components, LPA, Louvain, the walks, the power
  * and Markov iterations). In the MapReduce cost model an iterative
  * algorithm is priced by its rounds, so a round has one definition:
  * `step` builds the next state from the current one, and the state
  * is cut with a lazy `localCheckpoint`. Lazy, because an eager one
  * runs an extra Spark job per round only to materialize the frame;
  * lazily, the round's frame is materialized by the first action that
  * reads it — the next round, the convergence test, or the caller's
  * own query — and the plan still stays one round deep.
  *
  * `step` receives the state and the 1-based round number.
  */
object Rounds {

  /** How a round's state is cut: a frame by a lazy `localCheckpoint`,
    * a pair frame by frame.
    */
  trait State[S] { def checkpoint(s: S): S }

  object State {
    implicit val frame: State[DataFrame] = _.localCheckpoint(false)
    implicit def pair[A, B](implicit a: State[A], b: State[B]): State[(A, B)] =
      s => (a.checkpoint(s._1), b.checkpoint(s._2))
  }

  /** `n` rounds from `init`. `init` is not checkpointed: a lazy
    * checkpoint runs its shuffle stages on its own, which adds Spark
    * jobs for an initial frame that round 1 reads once; a caller whose
    * `init` is read more than once checkpoints it.
    */
  def fixed[S](n: Int, init: S)(step: (S, Int) => S)(implicit st: State[S]): S =
    (1 to n).foldLeft(init)((s, r) => st.checkpoint(step(s, r)))

  /** Rounds until `test(prev, next)` holds, at most `max` of them.
    * `test` sees the checkpointed `next`, so its one action both
    * materializes the round and computes the convergence figure.
    * Returns the last state, the rounds run, and whether the test held.
    */
  def atMost[S](max: Int, init: S)(step: (S, Int) => S, test: (S, S) => Boolean)
      (implicit st: State[S]): (S, Int, Boolean) = {
    @tailrec def go(s: S, r: Int): (S, Int, Boolean) =
      if (r >= max) (s, r, false)
      else {
        val next = st.checkpoint(step(s, r + 1))
        if (test(s, next)) (next, r + 1, true) else go(next, r + 1)
      }
    go(init, 0)
  }

  /** [[atMost]] for a loop that must reach its fixpoint: an exhausted
    * budget fails loudly, because the unconverged state would be a
    * silently wrong answer. Returns the state and the rounds run.
    */
  def untilStable[S](max: Int, init: S)(step: (S, Int) => S, test: (S, S) => Boolean)
      (implicit st: State[S]): (S, Int) =
    atMost(max, init)(step, test) match {
      case (s, n, true) => (s, n)
      case _ => throw new IllegalStateException(s"no fixpoint within $max rounds")
    }

  /** `df` lazily checkpointed, and its rows when it holds at most
    * `cap` of them: one bounded `limit(cap + 1).collect()` over the
    * checkpoint. An iterative operator whose whole input fits finishes
    * every round on the driver — Lattanzi et al.'s "Filtering" (SPAA
    * 2011): once the state fits on one machine, the remaining rounds
    * cost no Spark job. Above the cap the caller runs its distributed
    * rounds over the checkpointed frame, which keeps what the collect
    * computed, so the input is not computed twice; the driver never
    * holds more than `cap + 1` input rows. The choice depends on the
    * observed row count only.
    */
  def fits(df: DataFrame, cap: Int): (DataFrame, Option[Array[Row]]) = {
    val cut = df.localCheckpoint(false)
    val rows = cut.limit(cap + 1).collect()
    (cut, if (rows.length <= cap) Some(rows) else None)
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame

/** The one fixed-round loop of the iterative DataFrame operators
  * ([[PageRank]], [[LabelProp]], [[Preference]]'s Bradley–Terry fit,
  * q220's BFS): `n` synchronous rounds of one state frame, with one
  * lineage rule — after every round but the last, the state is cut with a
  * LAZY `localCheckpoint(false)` planned without adaptive execution.
  *
  * Why every round: a round typically reads the previous state more than
  * once (a join on each side, a total), and an uncut plan re-derives every
  * earlier round for each read, so the plan and its work grow with the
  * round count. Why lazy: a round's stages run inside the next round's
  * jobs (or the caller's action) instead of as jobs of their own. Why
  * without adaptive execution: an adaptive plan runs its shuffle map
  * stages as soon as it is executed, so an adaptive lazy cut is not lazy
  * (it runs its round's stages as separate jobs when it is made), and its
  * checkpoint reports unknown partitioning, so the next round shuffles
  * the state again. Planned statically, the cut runs no shuffle stage and
  * reports the round's hash partitioning, which the next round's joins
  * and aggregates on the same key reuse. So every round but the last runs
  * as planned statically (no partition coalescing, no join switched at
  * run time); the last round and the caller's action run under the
  * session's own setting. On q120 at sf0.1 (4 cores), adaptive cuts every
  * third round run 34 jobs a rep and this rule 16. The final round is
  * left uncut, so the caller's projections, filters and limits still
  * fuse with it.
  *
  * Loops of another shape stay outside: connected components runs an RDD
  * loop to convergence, Borůvka converges on a per-round count, HITS cuts
  * inside a half-round, and k-means keeps its state on the driver. */
object Fixpoint {

  /** `step(state, r)` for r = 1..n, returning round n's state. */
  def rounds(init: DataFrame, n: Int)(step: (DataFrame, Int) => DataFrame): DataFrame = {
    require(n >= 1, "need at least one round")
    (1 to n).foldLeft(init) { (state, r) =>
      val next = step(state, r)
      if (r < n) cut(next) else next
    }
  }

  private val Adaptive = "spark.sql.adaptive.enabled"

  /** `df.localCheckpoint(false)`, planned with adaptive execution off.
    * The flag is the session's, switched for the length of one planning
    * call that runs no shuffle stage; cuts on one session hold its conf's
    * lock, so concurrent loops always restore the caller's setting. */
  private def cut(df: DataFrame): DataFrame = {
    val conf = df.sparkSession.conf
    conf.synchronized {
      val prev = conf.getOption(Adaptive)
      conf.set(Adaptive, false)
      try df.localCheckpoint(false)
      finally prev.fold(conf.unset(Adaptive))(conf.set(Adaptive, _))
    }
  }
}

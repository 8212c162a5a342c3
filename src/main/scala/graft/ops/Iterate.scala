package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** When an iterative operator stops. */
sealed trait Stop { def maxRounds: Int }

object Stop {
  /** Exactly `n` rounds and no convergence test: the oracle-replayable form
    * (an unrolled SQL twin knows its round count ahead of time).
    */
  final case class Rounds(n: Int) extends Stop {
    require(n >= 0, s"rounds must be >= 0, got $n")
    def maxRounds: Int = n
  }

  /** Until the operator's fixpoint test holds, at most `maxRounds` rounds —
    * the form a caller runs when it does not know the graph's depth.
    */
  final case class Converge(maxRounds: Int) extends Stop {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
  }
}

/** An iterative operator's output, the rounds it ran, and whether its
  * fixpoint test confirmed convergence (including confirmation on the last
  * allowed round). Always false under `Stop.Rounds`, which runs no test.
  */
final case class Iterated(out: DataFrame, rounds: Int, converged: Boolean)

/** The one loop behind every iterative operator in `Graph`.
  *
  * Materialization policy: the initial state and every round's state are
  * `localCheckpoint`ed. A round therefore reads materialized rows (plan
  * depth stays O(1), no multi-round lineage to re-optimize or replay), and
  * a convergence test reads the same materialization the next round
  * consumes. The caller's setup caches (`release`) are unpersisted when the
  * loop ends, before the result is returned, so a call leaves nothing in
  * the CacheManager; a dead round's checkpoint blocks go with the
  * ContextCleaner once its last reference is dropped.
  *
  * Under `Stop.Converge` the fixpoint test costs one job per round (a
  * signature or a count over the checkpointed state), and a loop that hits
  * the cap without confirming its fixpoint logs one warning.
  */
private[ops] object Iterate {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** `measure` fingerprints a materialized state; the loop stops when the
    * fingerprint equals one of the previous `period` fingerprints or
    * satisfies `terminal`.
    */
  final case class Fixpoint[M](measure: DataFrame => M, period: Int,
                               terminal: M => Boolean)

  /** The state repeats one of the last `period` states: an exact fixpoint
    * (period 1) or also a two-state oscillation (period 2).
    */
  def repeats(period: Int, cols: String*): Fixpoint[String] =
    Fixpoint(stateSig(_, cols), period, _ => false)

  /** The row count is unchanged — a fixpoint for states that only shrink
    * (peeling) or only grow (a visited set).
    */
  val countStable: Fixpoint[Long] = Fixpoint(_.count(), 1, _ => false)

  /** `countStable`, or the state is empty. */
  val countStableOrEmpty: Fixpoint[Long] = Fixpoint(_.count(), 1, _ == 0L)

  /** Order-independent state signature: the sum of per-row xxhash64 in
    * Decimal(38,0) (a Long sum of ±2⁶³ hashes overflows under ANSI) — one
    * small aggregate job, no join. Equal states always collide; different
    * states collide with ~2⁻⁶⁴ probability, so the stop decision is
    * probabilistic while the result is always the exact recurrence state.
    */
  private def stateSig(df: DataFrame, cols: Seq[String]): String =
    df.agg(coalesce(
        sum(xxhash64(cols.map(col): _*).cast(DecimalType(38, 0))),
        lit(0).cast(DecimalType(38, 0)))
      .cast("string"))
      .collect()(0).getString(0)

  /** Runs `step(state, round)` (rounds numbered from 1) from `init` under
    * `stop`, testing `test` after every round when `stop` is `Converge`.
    * Returns the final checkpointed state.
    */
  def run[M](name: String, init: DataFrame, stop: Stop, test: Fixpoint[M],
             release: DataFrame*)(step: (DataFrame, Int) => DataFrame): Iterated = {
    val converging = stop.isInstanceOf[Stop.Converge]
    var state = init.localCheckpoint()
    var seen = if (converging) List(test.measure(state)) else Nil
    var done = seen.exists(test.terminal)
    var rounds = 0
    while (!done && rounds < stop.maxRounds) {
      rounds += 1
      state = step(state, rounds).localCheckpoint()
      if (converging) {
        val m = test.measure(state)
        done = test.terminal(m) || seen.contains(m)
        seen = (m :: seen).take(test.period)
      }
    }
    release.foreach(_.unpersist())
    if (converging && !done)
      log.warn(s"$name hit its round cap (maxRounds=${stop.maxRounds}) " +
        "without confirming a fixpoint; the result is the last round's " +
        "state — raise maxRounds")
    Iterated(state, rounds, done)
  }
}

package graft

import scala.annotation.tailrec
import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, Row}

/** The round protocol of every checkpointed iterative operator (CC,
  * two-phase CC, BFS, label propagation, k-core, BPE training,
  * forward-push PPR), in one place. Each round is ONE driver-synchronous job:
  *
  *  1. `step(prev)` builds the round's lazy frame, which is eagerly
  *     checkpointed through the loop's [[Scope]] — the lineage stays
  *     flat instead of nesting every prior round;
  *  2. the witness columns ride that same job as an `observe()`
  *     metric (a Catalyst `CollectMetrics` node evaluated during the
  *     checkpoint's own pass), so the convergence probe costs no job
  *     of its own; no witness means a plain checkpoint;
  *  3. the previous round is released: its checkpoint plus every
  *     frame its step registered in the scope (a persisted frontier),
  *     so at most two rounds' blocks are live at any moment;
  *  4. the loop stops once `done(previousWitness, witness)` holds, or
  *     after `maxRounds` rounds unconverged.
  *
  * Round 0 is the caller's: `Round(df)` with no witness (a lazy scan,
  * whose release is then a no-op, or a plain checkpoint), or a frame
  * [[ckpt]] already checkpointed with the witness, whose observed row
  * is then tested against the empty row before round 1 runs. A failed step or `done` leaves nothing behind:
  * every frame is the scope's, released when it closes.
  *
  * The scope must materialize: under [[Scope.Lazy]] no job runs, so
  * no witness is ever observed.
  */
object Fixpoint {
  /** A round's state and the witness row its checkpoint job observed
    * (empty when nothing was observed).
    */
  final case class Round(state: DataFrame, witness: Row = Row.empty)

  /** The final state, the witness of every round (round 0 first) and
    * whether `done` held before `maxRounds` ran out.
    */
  final case class Result(state: DataFrame, witnesses: Vector[Row],
      converged: Boolean) {
    def rounds: Int = witnesses.size - 1

    /** The final state, or an `IllegalArgumentException` naming `op`
      * when the loop hit its cap: a capped fixpoint is a wrong
      * answer, not an approximate one.
      */
    def convergedState(op: String): DataFrame = {
      require(converged, s"$op: not converged after $rounds rounds")
      state
    }
  }

  /** Checkpoint `df` through `sc`, observing `witness` in the same job. */
  def ckpt(sc: Scope, df: DataFrame)(witness: Column*): Round =
    if (witness.isEmpty) Round(sc.ckpt(df))
    else {
      val obs = Observation()
      val out = sc.ckpt(df.observe(obs, witness.head, witness.tail: _*))
      Round(out, Await.result(obs.future, Duration.Inf))
    }

  /** Run rounds 1..`maxRounds` from `init` (see the object doc). */
  def iterate(sc: Scope, init: Round, maxRounds: Int)(step: DataFrame => DataFrame)
      (witness: Column*)(done: (Row, Row) => Boolean): Result = {
    @tailrec def go(prev: Round, prevFrames: Seq[Dataset[_]], ws: Vector[Row]): Result =
      if (ws.size > maxRounds) Result(prev.state, ws, converged = false)
      else {
        val (next, frames) = sc.registering(ckpt(sc, step(prev.state))(witness: _*))
        sc.release(prevFrames: _*)
        if (done(prev.witness, next.witness)) Result(next.state, ws :+ next.witness, converged = true)
        else go(next, frames, ws :+ next.witness)
      }
    if (init.witness.size > 0 && done(Row.empty, init.witness))
      Result(init.state, Vector(init.witness), converged = true)
    else go(init, Seq(init.state), Vector(init.witness))
  }
}

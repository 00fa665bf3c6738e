package graft

import org.apache.spark.sql.DataFrame

/** The driver round loop of the iterative operators: round index and cap,
  * the eager per-round lineage cut, the release of superseded cuts, the
  * round observer, and the convergence contract — written once instead
  * of once per operator.
  *
  * A step cuts through its [[Round]] handle rather than returning un-cut
  * frames for the loop to cut afterwards: several rounds cut in sequence
  * (hits' hub half-step reads the authority cut, bfs' reached set unions
  * the frontier cut), and a frame built on an un-cut predecessor would
  * recompute that predecessor inside its own checkpoint job. */
private[graft] object Rounds {

  /** (operator, round, the round's UN-CUT frame, a count of its cut). The
    * frame is for plan capture; the thunk runs a job only when called,
    * and then scans the materialized cut, never the round's join tree. */
  type Observer = (String, Int, DataFrame, () => Long) => Unit

  private val observer = new ThreadLocal[Observer]

  /** Run `body` with `o` seeing every round of every loop `body` runs on
    * this thread. Queries on other threads of the session are not
    * observed — the test seam never leaks into concurrent work. */
  def observe[A](o: Observer)(body: => A): A = {
    val outer = observer.get
    observer.set(o)
    try body finally observer.set(outer)
  }

  /** One round's handle: its 1-based index `i`, the cuts it owns, and
    * its stop flag. */
  final class Round private[Rounds] (op: String, val i: Int, cutting: Boolean,
                                     o: Observer) {
    private[Rounds] var cuts = List.empty[DataFrame]
    private[Rounds] var stopped = false
    private var seen = false

    /** Hand `df` to the observer; only the round's first shown frame is
      * seen ([[keep]] and [[cut]] show theirs). */
    def show(df: DataFrame, count: () => Long): Unit =
      if (!seen) { seen = true; if (o != null) o(op, i, df, count) }

    /** Eager `localCheckpoint` whose blocks the caller owns (walk hops and
      * decided sets the result still reads). On rounds off the cadence it
      * returns `df` un-cut. */
    def keep(df: DataFrame): DataFrame = {
      val c = if (cutting) df.localCheckpoint() else df
      show(df, () => c.count())
      c
    }

    /** [[keep]], owned by the loop: released once the next round's cuts
      * have materialized, so the footprint is O(one iterate). */
    def cut(df: DataFrame): DataFrame = {
      val c = keep(df)
      if (c ne df) cuts ::= c
      c
    }

    /** Release this round's cut `c` now — a fixpoint or rejected round
      * whose state stays the previous round's, whose cuts stay live. */
    def drop(c: DataFrame): Unit = {
      cuts = cuts.filterNot(_ eq c)
      Blocks.release(c)
    }

    /** The round reached the operator's fixpoint; no further round runs. */
    def stop(): Unit = stopped = true
  }

  /** Run `step` from `init` for up to `cap` rounds or until a round
    * [[Round.stop stops]]. Rounds cut every `every`-th round and always
    * on round `cap`. `owned` are the init's cuts, released once round 1's
    * cuts have materialized. With `converge`, reaching the cap without a stop
    * throws: the operator's result is only defined at its fixpoint. */
  def run[S](op: String, cap: Int, init: S, every: Int = 1,
             converge: Boolean = false, owned: Seq[DataFrame] = Nil)
            (step: (Round, S) => S): S = {
    val o = observer.get
    var live = owned.toList
    var state = init
    var i = 0
    var stopped = false
    while (!stopped && i < cap) {
      i += 1
      val r = new Round(op, i, i % every == 0 || i == cap, o)
      state = step(r, state)
      if (r.cuts.nonEmpty) { live.foreach(Blocks.release); live = r.cuts }
      stopped = r.stopped
    }
    if (converge && !stopped) throw new IllegalStateException(
      s"$op did not converge in $cap rounds; raise the cap")
    state
  }
}

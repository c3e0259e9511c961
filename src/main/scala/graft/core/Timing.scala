package graft.core

/** The engine's one step timer. With `GRAFT_TIMING` set in the environment,
  * each timed step prints `[timing] <tag> <secs>s` to stderr (the apply
  * benchmark's tracer turns these lines into spans); unset, a step costs one
  * branch. Nested steps indent their tag with two spaces.
  */
object Timing {
  val enabled: Boolean = sys.env.contains("GRAFT_TIMING")

  /** Runs `f`; when enabled, prints its wall time under `tag`, and with
    * `stamp` the wall clock it ended at (`(at <ms>ms)`, ms mod 10^6).
    */
  def timed[T](tag: => String, stamp: Boolean = false)(f: => T): T =
    if (!enabled) f
    else {
      val t0 = System.nanoTime()
      val r = f
      val at = if (stamp) f" (at ${System.currentTimeMillis() % 1000000}ms)" else ""
      System.err.println(f"[timing] $tag ${(System.nanoTime() - t0) / 1e9}%.3fs" + at)
      r
    }
}

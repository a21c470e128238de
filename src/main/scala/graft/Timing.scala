package graft

/** Phase timer behind `GRAFT_TIMING=1`: each timed phase prints
  * `GRAFT_TIMING <label> <seconds>s`. Generic-lane labels carry a `g-`
  * prefix, so the two table lanes stay apart in one log.
  */
private[graft] object Timing {
  private val enabled = sys.env.get("GRAFT_TIMING").contains("1")

  def timed[T](label: String)(f: => T): T =
    if (!enabled) f
    else {
      val t0 = System.nanoTime()
      val r = f
      println(f"GRAFT_TIMING $label ${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }
}

package graft.util

/** Shared wall-clock helper for the tools mains (MetaScale, MultiScale,
  * MetaSteady), which each had their own copy before.
  */
object Timed {
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r  = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

package graft.util

/** Lightweight stage timers — the shim for the reference's bdg-utils
  * metrics inventory (rice-core/.../Timers.scala:25-63, SURVEY I7).
  * Spark's own SQL metrics/UI cover operator-level detail; this records
  * driver-side stage wall times for parity of reporting. Totals live for
  * the JVM; `cli.Main` resets them when each command starts.
  */
object Timers {
  private val totals = scala.collection.concurrent.TrieMap[String, Long]()

  /** Time a named stage; accumulates wall nanos per name. */
  def time[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f
    finally totals.updateWith(name) {
      case Some(v) => Some(v + (System.nanoTime() - t0))
      case None    => Some(System.nanoTime() - t0)
    }
  }

  /** name → seconds accumulated so far. */
  def snapshot(): Map[String, Double] =
    totals.readOnlySnapshot().map { case (k, v) => k -> v / 1e9 }.toMap

  def reset(): Unit = totals.clear()
}

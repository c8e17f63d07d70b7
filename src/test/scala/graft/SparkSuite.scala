package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared test harness — one SparkSession per JVM (suites share it via
  * getOrCreate), mirroring the reference's riceFunSuite/SparkFunSuite shape
  * (rice-core/src/test/scala/org/bdgenomics/rice/utils/RNAdamFunSuite.scala:22-29).
  */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))

  /** fpEquals semantics from QuantifySuite.scala:41-47 (default 1e-6; wider
    * for e2e). Tolerances deliberately match the reference; do not tighten. */
  def fpEquals(a: Double, b: Double, eps: Double = 1e-6): Boolean = {
    val passed = math.abs(a - b) <= eps
    if (!passed) println(s"|$a - $b| = ${math.abs(a - b)} > $eps")
    passed
  }

  /** Runs `body` with `spark.sql.files.maxPartitionBytes` set to `bytes`,
    * which sizes the byte ranges of a file scan, and restores the previous
    * value after: every suite shares one session, so a leaked split size
    * would change other suites' scans. */
  def withSplitBytes[T](bytes: Long)(body: => T): T = {
    val key = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, bytes)
    try body
    finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** equalDouble from QuantifySuite.scala:318-320. */
  def equalDouble(a: Double, b: Double): Boolean = math.abs(a - b) < 1e-3
}

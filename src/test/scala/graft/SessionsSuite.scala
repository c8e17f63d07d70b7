package graft

import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

/** Session defaults versus a submitted configuration: `Sessions.local`
  * sets its local master and shuffle sizing only where the SparkConf
  * (spark-submit's `--master` / `--conf`, or `-D` properties) names none. */
class SessionsSuite extends AnyFunSuite {
  private def conf(kv: (String, String)*) = new SparkConf(false).setAll(kv)

  test("an empty conf gets local[N] and N shuffle partitions") {
    assert(Sessions.localDefaults(conf(), "3") ===
      Map("spark.master" -> "local[3]", "spark.sql.shuffle.partitions" -> "3"))
  }

  test("a submitted master and shuffle sizing are kept") {
    assert(Sessions.localDefaults(conf("spark.master" -> "yarn"), "3") ===
      Map("spark.sql.shuffle.partitions" -> "3"))
    assert(Sessions.localDefaults(conf("spark.sql.shuffle.partitions" -> "64"), "3") ===
      Map("spark.master" -> "local[3]"))
    assert(Sessions.localDefaults(conf("spark.master" -> "local[2]",
      "spark.sql.shuffle.partitions" -> "8"), "3").isEmpty)
  }
}

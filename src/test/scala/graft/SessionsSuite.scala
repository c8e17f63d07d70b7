package graft

import org.apache.spark.SparkConf

/** Session defaults versus a submitted configuration: `Sessions.local`
  * sets its local master and shuffle sizing only where the SparkConf
  * (spark-submit's `--master` / `--conf`, or `-D` properties) names none,
  * and only on a session it creates. */
class SessionsSuite extends SparkSuite {
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

  test("a running session keeps its own shuffle sizing") {
    withConf("spark.sql.shuffle.partitions", "3") {
      val again = Sessions.local("4")
      assert(again eq spark)
      assert(again.conf.get("spark.sql.shuffle.partitions") === "3")
    }
  }
}

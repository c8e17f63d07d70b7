package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = obs.session()
    new java.io.File(outDir).mkdirs()
    // local-iteration filter: SPARK_GRAFT_ONLY=q18,q54 restricts the dump
    // (and the oracle json) to queries whose name starts with a listed
    // prefix; unset (the driver's invocation) dumps everything
    val keep = obs.keeps(obs.only) _
    SparkEntry.queries.filter(q => keep(q._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        if (sys.env.contains("SPARK_GRAFT_TRACE")) e.printStackTrace()
      }
    }
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${obs.jstr(k)}: ${obs.jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // drop the shared-stage temp-parquet memos: a both-SF Verify in one
    // JVM (sbt runMain twice) would otherwise hold two SFs' worth until
    // the shutdown hook fires
    ops.Memo.evictAll()
    spark.stop()
  }
}

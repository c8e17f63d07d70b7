package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** One place to build sessions so every entry point (Verify, Bench, the CLI,
  * tests) carries the same scale-relevant config.
  *
  * - master and shuffle.partitions: `local[N]` and N (not the 200 default),
  *   unless the SparkConf already names them — under spark-submit its
  *   `--master` and `--conf spark.sql.shuffle.partitions` win, so the CLI
  *   reaches a cluster. AQE coalescing is enabled and does the right thing
  *   at any SF.
  * - nanosAsLong: older vintages of the driver corpus stored `events.ts`
  *   as parquet TIMESTAMP(NANOS), which Spark 4 refuses by default; with
  *   the flag it reads as a nanosecond Long and the loader normalizes it
  *   (Tables.normalizeTs — which also handles the current MICROS-NTZ
  *   vintage, where the flag is simply inert).
  */
object Sessions {
  def local(cpus: String): SparkSession = build(localDefaults(new SparkConf(), cpus))

  /** The settings [[local]] adds to `conf`: master `local[cpus]` and `cpus`
    * shuffle partitions, each only when `conf` has no value of its own. */
  private[graft] def localDefaults(conf: SparkConf, cpus: String): Map[String, String] =
    Map("spark.master" -> s"local[$cpus]", "spark.sql.shuffle.partitions" -> cpus)
      .filter { case (key, _) => !conf.contains(key) }

  /** Same config surface as [[local]] for an arbitrary master URL — the
    * Scale cluster probe passes `local-cluster[n,cores,mem]` here to run
    * the same queries through REAL executor JVMs (separate processes,
    * serialized shuffle/broadcast over localhost) instead of local mode's
    * in-process shortcut. Executors are launched from SPARK_HOME and see
    * only its jars, so the library's own classes are shipped via
    * `spark.executor.extraClassPath` (the compiled classes dir — on a
    * real cluster this is the application jar `spark-submit` distributes). */
  def forMaster(master: String, shufflePartitions: String): SparkSession =
    build(Map("spark.master" -> master, "spark.sql.shuffle.partitions" -> shufflePartitions))

  private def build(conf: Map[String, String]): SparkSession = {
    val builder = SparkSession.builder()
      .config(conf)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    if (conf.get("spark.master").exists(_.startsWith("local-cluster"))) {
      // resolve the classes dir from this class's own code source, not the
      // CWD: launched from any other directory, a relative path would hand
      // executors a nonexistent classpath and every task would die in an
      // opaque ClassNotFoundException far from the cause
      val classes = Option(getClass.getProtectionDomain.getCodeSource)
        .map(cs => new java.io.File(cs.getLocation.toURI).getAbsolutePath)
        .getOrElse(new java.io.File("target/scala-2.13/classes").getAbsolutePath)
      builder.config("spark.executor.extraClassPath", classes)
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the library's optimizer extension (a cluster would set
    // spark.sql.extensions=graft.functions.GraftExtensions instead);
    // idempotent across getOrCreate-shared sessions
    if (!spark.experimental.extraOptimizations.contains(plans.RangeBinJoin))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ plans.RangeBinJoin
    // planner strategy for the native as-of join (plans.AsOfJoinPlan)
    if (!spark.experimental.extraStrategies.contains(plans.AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ plans.AsOfJoinStrategy
    spark
  }
}

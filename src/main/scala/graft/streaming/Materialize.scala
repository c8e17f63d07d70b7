package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

import graft.util.TempDirs

/** foreachBatch materialized view with an IDEMPOTENT sink — the pattern a
  * production pipeline uses when the target store has no transactional
  * sink: each micro-batch writes its partial aggregate into a partition
  * keyed by the batch id under dynamic partition-overwrite, so a RETRIED
  * batch replaces its own partition instead of appending a duplicate.
  * Exactly-once then falls out of at-least-once delivery + idempotent
  * writes; the view is the sum of partials. At 100 TB the stream itself
  * stays stateless (the per-batch aggregate is map-side-combined batch
  * work, no streaming state store), and refreshing readers aggregate
  * |batches|·|keys| partial rows, not events.
  */
object Materialize {

  /** Write one micro-batch's (hour, event_type) partial aggregate into the
    * view's `batch_id=<id>` partition. Safe to call again with the same
    * `batchId` — dynamic overwrite makes the rewrite idempotent (pinned by
    * StreamingSuite). */
  def writePartial(batch: DataFrame, batchId: Long, viewDir: String): Unit =
    batch
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite").partitionBy("batch_id").parquet(viewDir)

  /** Read the materialized view: fold the per-batch partials. */
  def readView(spark: org.apache.spark.sql.SparkSession, viewDir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(viewDir)
      .groupBy($"hour", $"event_type")
      .agg(sum($"n").as("n"), round(sum($"sv"), 4).as("total_value"))
  }

  /** Stage `$d/events.parquet` as FOUR files so `maxFilesPerTrigger=1`
    * yields four micro-batches — the multi-batch shape the idempotence
    * story is about (a single-batch run would never exercise the
    * partial-sum fold). */
  def stageMultiFile(spark: org.apache.spark.sql.SparkSession, d: String): Path = {
    val dir = Files.createTempDirectory("graft_mview_src")
    spark.read.parquet(s"$d/events.parquet")
      .repartition(4).write.mode("overwrite").parquet(dir.toString)
    dir
  }

  /** The q206 drive: stream the staged files batch-by-batch through
    * writePartial, then fold the partials. */
  def run(spark: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val viewDir = Files.createTempDirectory("graft_mview_out")
    // the returned frame reads the view lazily
    TempDirs.deleteAtExit(viewDir)
    val srcDir = stageMultiFile(spark, d)
    try Drive.withConf(spark, "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      Drive.run(Drive.source(spark, d, "events", Some(srcDir.toString), Some(1)).writeStream
        .outputMode("append")
        .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
          writePartial(batch.toDF(), batchId, viewDir.toString)
        })
    } finally TempDirs.delete(srcDir)
    readView(spark, viewDir.toString).orderBy($"hour", $"event_type")
  }
}

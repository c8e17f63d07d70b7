package graft

import org.apache.spark.sql.functions._
import graft.streaming.{Drive, RunningUserCounts, StatefulSessions}

/** Structured Streaming specs: the stateful per-user counter must converge
  * to the same totals as the batch aggregation over the same events table.
  */
class StreamingSuite extends SparkSuite {
  import spark.implicits._

  test("mapGroupsWithState running counts match batch per-user counts") {
    val d = "/root/testdata/sf0.001"
    val sink = RunningUserCounts.runningUserCounts(spark, d, "stateful_counts_test")
    // update-mode sink holds every intermediate state row; the final state
    // per user is the max
    val streamed = sink.groupBy($"user_id").agg(max($"n").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = Tables.events(spark, d)
      .groupBy($"user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed === batch)
  }

  test("flatMapGroupsWithState emits one milestone row per threshold crossed") {
    val d = "/root/testdata/sf0.001"
    val every = 5L
    val sink = StatefulSessions.countMilestones(spark, d, "milestones_test", every)
    val streamed = sink.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = Tables.events(spark, d)
      .groupBy($"user_id").agg(count(lit(1)).as("n"))
      .collect()
      .flatMap(r => (1L to r.getLong(1) / every).map(m => (r.getLong(0), m * every)))
      .toSet
    assert(streamed === expected)
    assert(streamed.nonEmpty)
  }

  test("watermark drops late events in append-mode windowed aggregation") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(v: String) = java.sql.Timestamp.valueOf(v)
    val mem = MemoryStream[java.sql.Timestamp]
    val agg = graft.streaming.Watermarks.hourlyWindowCounts(mem.toDF().toDF("ts"))
    val query = agg.writeStream.outputMode("append")
      .format("memory").queryName("wm_test").start()
    try {
      // batch 1: two on-time events in the 10:00 window; 12:05 pushes the
      // watermark to 11:05, past the 10:00 window's end — it finalizes
      mem.addData(t("2026-01-01 10:00:00"), t("2026-01-01 10:30:00"),
        t("2026-01-01 12:05:00"))
      query.processAllAvailable()
      // batch 2: 10:15 is LATE (its window end 11:00 <= watermark 11:05)
      // and must be dropped; 14:00 just advances the clock
      mem.addData(t("2026-01-01 10:15:00"), t("2026-01-01 14:00:00"))
      query.processAllAvailable()
    } finally query.stop()
    val rows = spark.table("wm_test").collect()
      .map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
    assert(rows("2026-01-01 10:00:00.0") === 2) // the late event did not count
  }

  /** Two-phase arrival through [[Drive.drain]]: land half the
    * events, drain, land the rest, drain AGAIN off the same checkpoint —
    * asserting each drain reads exactly its phase's files and the recovered
    * state still produces the batch answer. */
  private def restartScenario(sinkName: String): Unit = {
    val d = "/root/testdata/sf0.001"
    val land = java.nio.file.Files.createTempDirectory(s"graft_${sinkName}_land").toString
    val ckpt = java.nio.file.Files.createTempDirectory(s"graft_${sinkName}_ckpt").toString
    Seq(land, ckpt).foreach(p => graft.util.TempDirs.deleteAtExit(java.nio.file.Paths.get(p)))
    val events = Tables.events(spark, d)
    val b1 = events.filter($"event_id" % 2 === 0)
    val b2 = events.filter($"event_id" % 2 === 1)
    b1.write.mode("append").parquet(land)
    def agg() = Tables.normalizeTs(
        spark.readStream.schema(spark.read.parquet(land).schema).parquet(land))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"event_id").as("s"))
    val read1 = Drive.drain(agg(), sinkName, "complete", Some(ckpt)).inputRows
    assert(read1 === b1.count())
    // more data lands; the SAME checkpoint must resume, not reprocess
    b2.write.mode("append").parquet(land)
    val Drive.Drained(tbl, read2) = Drive.drain(agg(), sinkName, "complete", Some(ckpt))
    assert(read2 === b2.count(), "restart must read only the newly-landed files")
    val streamed = tbl.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val batch = events.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"event_id").as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(streamed === batch, "recovered state + new data must equal the batch answer")
  }

  test("durable checkpoint: restart resumes state exactly-once, new files only") {
    restartScenario("restart_sink")
  }

  test("RocksDB state store: stateful agg and checkpoint restart off-heap") {
    // the bounded-memory state path a 100 TB stream runs on: keyed state
    // lives in per-partition RocksDB instances (spillable, incremental
    // snapshots) instead of the executor heap; the same exactly-once
    // restart contract must hold on it
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try restartScenario("restart_rocksdb_sink")
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("stream-stream interval join emits exactly the batch theta-join pairs") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), unix_micros(col("ts")).as("us"), col("event_type"))
      .collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("us"),
        r.getAs[String]("event_type")))
    val winUs = 300L * 1000000L
    val expected = (for {
      (eid, eus, et) <- ev if et == "error"
      (pid, pus, pt) <- ev if pt == "purchase" && math.abs(pus - eus) <= winUs
    } yield (eid, pid)).toSet
    val got = SparkEntry.queries("q72_stream_join")(spark, sf).collect()
      .map(r => (r.getAs[Long]("err_id"), r.getAs[Long]("p_id")))
    // exactly once: no duplicate pairs from the bin explode
    assert(got.length === got.toSet.size)
    assert(got.toSet === expected)
    assert(got.nonEmpty)
    // the Scale probe's counting foreachBatch sink drives the SAME join
    // (q72Joined) and must see the same pair count — pins that the probe
    // harness measures the real operator, not a divergent variant
    val counted = Drive.withStatePartitions(spark)(
      streaming.StreamingQueries.q72CountRows(spark, sf))
    assert(counted === expected.size.toLong)
  }

  test("foreachBatch mview: retried batch overwrites its partition, not appends") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val viewDir = java.nio.file.Files.createTempDirectory("graft_mview_spec")
    graft.util.TempDirs.deleteAtExit(viewDir)
    val prevMode =
      spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      def batch(rows: (String, String, Double)*) = rows.toSeq
        .toDF("tss", "event_type", "value")
        .select(to_timestamp($"tss").as("ts"), $"event_type", $"value")
      val b0 = batch(("2026-01-01 10:05:00", "click", 1.0),
        ("2026-01-01 10:55:00", "click", 2.0))
      val b1 = batch(("2026-01-01 10:30:00", "view", 5.0))
      graft.streaming.Materialize.writePartial(b0, 0L, viewDir.toString)
      graft.streaming.Materialize.writePartial(b1, 1L, viewDir.toString)
      val first = graft.streaming.Materialize.readView(spark, viewDir.toString)
        .orderBy($"event_type").collect()
      // the at-least-once retry: batch 0 delivered AGAIN must change nothing
      graft.streaming.Materialize.writePartial(b0, 0L, viewDir.toString)
      val retried = graft.streaming.Materialize.readView(spark, viewDir.toString)
        .orderBy($"event_type").collect()
      assert(retried.toSeq === first.toSeq,
        "idempotent sink: a retried batch must not inflate the view")
      assert(first.map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n")))
        .toSeq === Seq(("click", 2L), ("view", 1L)))
      // a NEW batch id with the same payload is new data, and must append
      graft.streaming.Materialize.writePartial(b1, 2L, viewDir.toString)
      val appended = graft.streaming.Materialize.readView(spark, viewDir.toString)
        .filter($"event_type" === "view").collect()
      assert(appended.head.getAs[Long]("n") === 2L)
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
  }

  test("transformWithState carries Value/List/Map state across micro-batches") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    // stage as 3 files and feed one per trigger: the processor must
    // rebuild (count, sum, top-2, type counts) from the state store on
    // batches 2 and 3, not from the batch alone
    val dir = java.nio.file.Files.createTempDirectory("graft_tws_multi")
    graft.util.TempDirs.deleteAtExit(dir)
    spark.read.parquet(s"$sf/events.parquet")
      .repartition(3).write.mode("overwrite").parquet(dir.toString)
    val sink = graft.streaming.TwsAccount.accountStats(
      spark, sf, "tws_multibatch_sink", Some(dir.toString), Some(1))
    // update-mode sink accumulates one emission per (user, batch) — the
    // final state per user is the row with the largest n
    val lastPerUser = sink.collect()
      .groupBy(_.getAs[Long]("user_id"))
      .map { case (u, rows) => u -> rows.maxBy(_.getAs[Long]("n")) }
    val batch = Tables.events(spark, sf)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 6).as("sv"),
        countDistinct($"event_type").as("n_types"))
      .filter($"n" >= 2)
      .collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n"), r.getAs[Double]("sv"), r.getAs[Long]("n_types")))
      .toMap
    assert(lastPerUser.keySet === batch.keySet)
    lastPerUser.foreach { case (u, row) =>
      val (n, sv, nt) = batch(u)
      assert(row.getAs[Long]("n") === n, s"user $u count")
      assert(fpEquals(row.getAs[Double]("sum_value"), sv, 1e-5), s"user $u sum")
      assert(row.getAs[Long]("n_types") === nt, s"user $u types")
      assert(row.getAs[Double]("top1") >= row.getAs[Double]("top2"), s"user $u top order")
    }
  }

  /** The scratch dirs streaming runs make in `java.io.tmpdir`. */
  private def scratchDirs(): Set[String] =
    new java.io.File(System.getProperty("java.io.tmpdir")).list()
      .filter(n => Seq("graft_stream_", "graft_q181_", "graft_mview_").exists(n.startsWith))
      .toSet

  test("streaming runs delete their scratch dirs once drained") {
    val sf = "/root/testdata/sf0.001"
    val before = scratchDirs()
    // a staged table (documents), a caller-made landing + checkpoint pair
    // (q181) and a caller-staged multi-file source (q206)
    Seq("q79_stream_decontaminate", "q181_stream_restart")
      .foreach(q => assert(SparkEntry.queries(q)(spark, sf).collect().nonEmpty, q))
    val view = SparkEntry.queries("q206_stream_mview")(spark, sf)
    val left = scratchDirs() -- before
    // q206's frame still reads its view dir: that one goes at JVM exit
    assert(left.size === 1 && left.head.startsWith("graft_mview_out"), left)
    assert(view.collect().nonEmpty)
  }

  test("a failed drain reaches the caller, stops its query and restores the conf") {
    val sf = "/root/testdata/sf0.001"
    val boom = udf((id: Long) =>
      if (id >= 0) throw new IllegalStateException("boom in the stream") else id)
    val set = "spark.sql.shuffle.partitions"
    val unset = "spark.graft.test.unsetAroundDrain"
    val prior = spark.conf.get(set)
    val before = scratchDirs()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Drive.withConf(spark, set -> "3", unset -> "x") {
        Drive.drain(Drive.source(spark, sf, "events").select(boom($"event_id")),
          "failing_drain_sink", "append")
      }
    }
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("boom in the stream")))
    assert(spark.streams.active.isEmpty)
    assert(spark.conf.get(set) === prior)
    assert(spark.conf.getOption(unset).isEmpty)
    assert(scratchDirs() -- before === Set.empty[String], "the staged dir goes on failure too")
  }
}

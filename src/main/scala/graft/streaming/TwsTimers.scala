package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Event-time TIMERS on transformWithState: per-user inactivity
  * detection. Each batch advances the user's last-seen clock and
  * re-arms one timer at last_seen + 30 min; when the WATERMARK passes
  * that expiry, handleExpiredTimer emits (user, last_seen) and clears
  * the state — the state store holds exactly one (value, timer) pair per
  * live user at any stream age, and eviction is driven by event time,
  * not by data arrival. This is the state-TTL pattern a 100 TB stream
  * needs to keep keyed state from growing monotonically.
  */
object TwsTimers {

  /** key=user_id, input=(user_id, event-time µs), output=(user_id, µs). */
  private final class InactivityProcessor(gapMs: Long)
      extends StatefulProcessor[Long, (Long, Long), (Long, Long)] {
    @transient private var lastSeen: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      lastSeen = getHandle.getValueState("lastSeen",
        Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(uid: Long, rows: Iterator[(Long, Long)],
        timers: TimerValues): Iterator[(Long, Long)] = {
      val batchMax = rows.map(_._2).max
      val newLast = if (lastSeen.exists()) math.max(lastSeen.get(), batchMax)
        else batchMax
      lastSeen.update(newLast)
      // re-arm: exactly one live timer per key. Materialize the timer list
      // before deleting — mutating timer state under a live state-store
      // iterator has provider-dependent semantics (RocksDB snapshots vs
      // HDFS-backed in-place maps).
      getHandle.listTimers().map(_.asInstanceOf[Long]).toSeq
        .foreach(getHandle.deleteTimer)
      getHandle.registerTimer(newLast / 1000L + gapMs)
      Iterator.empty
    }

    override def handleExpiredTimer(uid: Long, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[(Long, Long)] = {
      val out = Iterator.single((uid, lastSeen.get()))
      lastSeen.clear() // evict: the key re-creates if it ever returns
      out
    }
  }

  /** Streams events as one data micro-batch; the watermark advance after
    * it triggers Spark's no-data batch, which fires every armed timer
    * whose expiry the terminal watermark passed. (A multi-file split
    * would make emissions depend on batch interleaving: the watermark
    * jumps to ~max−10min after the first random-split file, so later
    * files' rows arrive "late" and are dropped from stateful input — the
    * single-batch drive keeps the emission set a pure function of the
    * data. The cross-batch state/timer carry is pinned separately in
    * StreamingSuite.) The final table applies a strict 31-min idle
    * predicate — the 1-min slack absorbs ms-vs-µs rounding between timer
    * expiry and the filter. */
  def inactiveUsers(s: SparkSession, d: String, sinkName: String): DataFrame = {
    import s.implicits._
    Drive.withConf(s, Drive.rocksDbState) {
      val out = Drive.source(s, d, "events")
        .withWatermark("ts", "10 minutes")
        .select($"user_id", unix_micros($"ts").as("us"))
        .as[(Long, Long)]
        .groupByKey(_._1)
        .transformWithState(new InactivityProcessor(30L * 60L * 1000L),
          TimeMode.EventTime(), OutputMode.Append())
        .toDF("user_id", "last_us")
      Drive.drain(out, sinkName, "append").table
        .groupBy($"user_id")
        .agg(timestamp_micros(max($"last_us")).as("last_seen"))
        .crossJoin(broadcast(maxTs(s, d)))
        .filter($"last_seen" + expr("INTERVAL 31 MINUTES")
          <= $"mx" - expr("INTERVAL 10 MINUTES"))
        .select($"user_id", $"last_seen")
        .orderBy($"user_id")
    }
  }

  private def maxTs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.Tables.events(s, d).agg(max($"ts").as("mx"))
  }
}

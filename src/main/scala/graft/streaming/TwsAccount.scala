package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Spark 4's `transformWithState` surface (the successor of
  * mapGroupsWithState): one StatefulProcessor exercising all three typed
  * state primitives — ValueState (running count+sum), ListState (bounded
  * top-2 by value), MapState (per-event-type counts). State is sharded by
  * the group key exactly like any keyed state store; the RocksDB provider
  * (required by transformWithState, and the off-heap spillable choice at
  * 100 TB state) is pinned for the query and restored afterwards.
  */
object TwsAccount {

  /** Per-user account: n, Σvalue, top-2 (value, event_id), type counts. */
  private final class AccountProcessor
      extends StatefulProcessor[Long, (Long, Long, Double, String),
        (Long, Long, Double, Double, Double, Long, String, Long)] {
    @transient private var agg: ValueState[(Long, Double)] = _
    @transient private var top: ListState[(Double, Long)] = _
    @transient private var types: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      agg = getHandle.getValueState("agg",
        Encoders.product[(Long, Double)], TTLConfig.NONE)
      top = getHandle.getListState("top",
        Encoders.product[(Double, Long)], TTLConfig.NONE)
      types = getHandle.getMapState("types",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(uid: Long,
        rows: Iterator[(Long, Long, Double, String)],
        timers: TimerValues): Iterator[(Long, Long, Double, Double, Double, Long, String, Long)] = {
      // deterministic fold order inside the batch (iterator order is
      // shuffle-dependent): sort by event_id
      val batch = rows.toSeq.sortBy(_._2)
      var (n, sum) = if (agg.exists()) agg.get() else (0L, 0.0)
      var best = top.get().toList
      batch.foreach { case (_, eid, v, typ) =>
        n += 1; sum += v
        best = ((v, eid) :: best)
          .sortBy { case (value, id) => (-value, id) }.take(2)
        val c = if (types.containsKey(typ)) types.getValue(typ) else 0L
        types.updateValue(typ, c + 1)
      }
      agg.update((n, sum))
      top.put(best.toArray)
      if (n < 2) Iterator.empty
      else {
        val typePairs = types.iterator().toSeq
        val nTypes = typePairs.size.toLong
        val maxC = typePairs.map(_._2).max
        // deterministic argmax: lexicographically least type at max count
        val topType = typePairs.filter(_._2 == maxC).map(_._1).min
        val r6 = (v: Double) =>
          BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        Iterator((uid, n, r6(sum), r6(best.head._1),
          r6(best(1)._1), nTypes, topType, maxC))
      }
    }
  }

  /** Streams events through the processor and drains the update-mode
    * memory sink. The corpus stages as ONE file → one micro-batch → one
    * emission per qualifying user, so the sink equals the batch oracle. */
  def accountStats(s: SparkSession, d: String, sinkName: String,
      srcDir: Option[String] = None, filesPerTrigger: Option[Int] = None): DataFrame = {
    import s.implicits._
    Drive.withConf(s, Drive.rocksDbState) {
      val out = Drive.source(s, d, "events", srcDir, filesPerTrigger)
        .select($"user_id", $"event_id", $"value", $"event_type")
        .as[(Long, Long, Double, String)]
        .groupByKey(_._1)
        .transformWithState(new AccountProcessor,
          TimeMode.None(), OutputMode.Update())
        .toDF("user_id", "n", "sum_value", "top1", "top2",
          "n_types", "top_type", "top_type_n")
      Drive.drain(out, sinkName, "update").table.orderBy($"user_id")
    }
  }
}

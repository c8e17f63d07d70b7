package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Per-user running event counts via `mapGroupsWithState`, the
  * one-row-per-group state surface: StreamingSuite checks the final state
  * against the batch count. The library's stateful query (q73) is
  * [[StatefulSessions.countMilestones]].
  */
object RunningUserCounts {

  /** Streams the events table through a per-user counting state machine and
    * drains it into a memory sink (update mode); returns the sink table.
    * The latest state per user must equal the batch per-user count. */
  def runningUserCounts(s: SparkSession, d: String, sinkName: String): DataFrame = {
    import s.implicits._
    val counts = Drive.source(s, d, "events").selectExpr("user_id").as[Long]
      .groupByKey(identity)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, events: Iterator[Long], state: GroupState[Long]) =>
          val total = state.getOption.getOrElse(0L) + events.size
          state.update(total)
          (uid, total)
      }
      .toDF("user_id", "n")
    Drive.drain(counts, sinkName, "update").table
  }
}

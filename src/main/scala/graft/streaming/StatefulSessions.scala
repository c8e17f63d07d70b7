package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful Structured Streaming: per-user event-count milestones via
  * `flatMapGroupsWithState` (SURVEY §2.8's KeyValueGroupedDataset
  * custom-state surface), q73's query. The state is one Long per user — at
  * 100 TB the state store shards by the group key like any keyed state.
  */
object StatefulSessions {

  /** The 0..n-rows-per-group state surface: per user, emits a milestone
    * row each time the running event count crosses a multiple of `every`.
    * Unlike mapGroupsWithState (exactly one row per group per batch), the
    * iterator return lets a group stay silent or emit several rows — the
    * shape session-close/alert emission takes.
    * @return DataFrame(user_id, milestone) via the named memory sink
    */
  def countMilestones(s: SparkSession, d: String, sinkName: String,
      every: Long): DataFrame = {
    import s.implicits._
    val milestones = Drive.source(s, d, "events").selectExpr("user_id").as[Long]
      .groupByKey(identity)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, events: Iterator[Long], state: GroupState[Long]) =>
          val before = state.getOption.getOrElse(0L)
          val after = before + events.size
          state.update(after)
          // every milestone crossed within this batch, possibly none or many
          ((before / every + 1) to (after / every)).map(m => (uid, m * every)).iterator
      }
      .toDF("user_id", "milestone")
    Drive.drain(milestones, sinkName, "append").table
  }
}

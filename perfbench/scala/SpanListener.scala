package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Per-job counters attributed to the benchmark span that submitted them.
  *
  * A job belongs to the span named by the [[SpanListener.Key]] local
  * property of the thread that submitted it (Spark copies local properties
  * into every job and stage it starts, including AQE stage jobs, broadcast
  * jobs and jobs of stream threads spawned inside the span). Time windows
  * play no part in the attribution. Jobs submitted outside any span are
  * kept under the empty span name.
  */
final class SpanListener extends SparkListener {
  import SpanListener._

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageSpan = mutable.HashMap[Int, String]()
  private val tasks = mutable.LinkedHashMap[String, Tasks]()

  private def spanOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(Key))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(spanOf(e.properties), e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSpan(e.stageInfo.stageId) = spanOf(e.properties)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val span = stageSpan.getOrElse(e.stageId, "")
    val t = tasks.getOrElseUpdate(span, new Tasks)
    t.count += 1
    Option(e.taskMetrics).foreach { m =>
      t.cpuNs += m.executorCpuTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Jobs in submission order, and task totals per span. Call after the
    * listener bus has drained (SparkContext.stop drains it). */
  def snapshot: (Seq[Job], Map[String, Tasks]) = synchronized {
    (jobs.values.toList, tasks.toMap)
  }
}

object SpanListener {
  val Key = "perfbench.span"

  final case class Job(span: String, startMs: Long) {
    var endMs: Long = -1L
  }

  final class Tasks {
    var count = 0L
    var cpuNs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
  }
}

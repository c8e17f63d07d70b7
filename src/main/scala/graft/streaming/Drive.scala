package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

import graft.util.TempDirs

/** How every stream here runs, one step each: [[source]] opens a file
  * stream over a table, [[run]] starts a query, processes all available
  * input and stops it ([[drain]] does so into a memory sink), and
  * [[withConf]] scopes the session conf a stream starts under. The
  * synchronous drain and the memory sink are what let the correctness gate
  * oracle-check a stream's final table; on a cluster the sink becomes a
  * kafka/delta sink and the drain a continuous trigger.
  */
object Drive {

  // dirs [[source]] staged on this thread; the next [[run]] on it deletes them
  private val staged = new ThreadLocal[List[Path]] {
    override def initialValue: List[Path] = Nil
  }

  /** A file stream over `table`'s parquet, with the schema of the files it
    * reads. By default it reads `$d/$table.parquet`, staged behind a temp
    * dir that the next [[run]] deletes. `dir` reads a caller's directory
    * instead, which the drive never deletes; `filesPerTrigger` caps the
    * files a micro-batch takes. `events` gets [[graft.Tables.normalizeTs]],
    * as the batch [[graft.Tables.events]] does. */
  def source(s: SparkSession, d: String, table: String,
      dir: Option[String] = None, filesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = s.readStream.schema(s.read.parquet(dir.getOrElse(s"$d/$table.parquet")).schema)
    val stream = filesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n.toString))
      .parquet(dir.getOrElse(stage(d, table)))
    if (table == "events") graft.Tables.normalizeTs(stream) else stream
  }

  /** The file stream source reads a DIRECTORY of files; the driver corpus is
    * a single parquet file per table. Links (copies, if the filesystem
    * refuses links) `$d/$table.parquet`'s data into a fresh temp dir. A
    * table that is a DIRECTORY of part files (anything Spark wrote, e.g.
    * the graft.Scale sf1 corpus) is linked file by file: the source does
    * not recurse into a linked subdirectory. */
  private def stage(d: String, table: String): String = {
    val dir = Files.createTempDirectory(s"graft_stream_$table")
    staged.set(dir :: staged.get)
    TempDirs.deleteAtExit(dir)
    val src = Paths.get(s"$d/$table.parquet")
    def link(target: Path, source: Path): Unit =
      try Files.createSymbolicLink(target, source)
      catch { case _: Exception => Files.copy(source, target) }
    if (Files.isDirectory(src)) {
      val files = Files.list(src)
      try files.forEach { f =>
        if (f.getFileName.toString.endsWith(".parquet"))
          link(dir.resolve(f.getFileName.toString), f)
      } finally files.close()
    } else link(dir.resolve(s"$table.parquet"), src)
    dir.toString
  }

  /** Starts `writer`'s query, processes all available input and stops the
    * query, also when the stream fails (its error reaches the caller); then
    * deletes what [[source]] staged on this thread.
    * @return the stopped query */
  def run(writer: DataStreamWriter[_]): StreamingQuery =
    try {
      val query = writer.start()
      try query.processAllAvailable()
      finally query.stop()
      query
    } finally {
      staged.get.foreach(TempDirs.delete)
      staged.remove()
    }

  /** A drained memory sink: its table, and the input rows that drain read. */
  final case class Drained(table: DataFrame, inputRows: Long)

  /** [[run]]s `df` into the memory sink `sinkName` in `outputMode`. With a
    * `checkpointDir`, source offsets and operator state persist there, so
    * draining again after more data lands RESUMES exactly-once from the
    * previous stop instead of reprocessing history — the deploy-restart
    * path of a perpetual ingest (q181; StreamingSuite pins that the resumed
    * result equals the batch answer and that the restart reads only the
    * newly landed files). */
  def drain(df: DataFrame, sinkName: String, outputMode: String,
      checkpointDir: Option[String] = None): Drained = {
    val writer = df.writeStream.outputMode(outputMode).format("memory").queryName(sinkName)
    val query = run(checkpointDir.fold(writer)(writer.option("checkpointLocation", _)))
    Drained(df.sparkSession.table(sinkName), query.recentProgress.map(_.numInputRows).sum)
  }

  /** Runs `body` with each `key -> value` of `conf` set in the session
    * conf, then gives each key back its prior value, or unsets it if it had
    * none — also when `body` throws. */
  def withConf[T](s: SparkSession, conf: (String, String)*)(body: => T): T = {
    val prior = conf.map { case (k, _) => k -> s.conf.getOption(k) }
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** The RocksDB state store: transformWithState requires it, and it is the
    * off-heap, spillable choice for large state. */
  val rocksDbState: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Runs `body` with `spark.sql.shuffle.partitions` set for the streams it
    * starts: 6, or `spark.graft.streaming.statePartitions` when set.
    *
    * A streaming query's shuffle/state partition count is pinned into its
    * checkpoint at FIRST start — a deployment-sized knob, not an optimizer
    * decision: sized to sustained state volume and throughput on a cluster
    * (hundreds+ at 100 TB rates, through the conf override), and to the
    * data on the harness corpus. The batch session's core-count default
    * (32 there) made every micro-batch pay fixed per-store commit overhead
    * on 32 × (up to 4 state stores per stateful operator) mostly-empty
    * stores — q72 5.69 s → 2.64 s sized to 8, the family 32.4 s → 17.5 s.
    * Re-swept over the whole family behind the bench's pre-flight load
    * gate: p=4 → {31.5, 45.2} s across two reps, p=6 → {27.5, 29.6} s,
    * p=8 → 37.3 s (p=2 under-parallelizes the stateful batches: 48.2 s).
    * The RocksDB provider, A/B-tested at the same sizing, is uniformly
    * SLOWER for these one-shot small-state runs (q72 2.98 vs 2.49 s —
    * per-store native init with nothing to amortize it), so only
    * transformWithState (q211/q217) uses it.
    *
    * Every registered streaming query runs inside it (wrapped once at
    * registration, `SparkEntry.sources`): the conf is set while the query
    * function runs — which is when its streams start and complete — and
    * restored before the returned batch frame is planned, so batch tails
    * keep the session's sizing. */
  def withStatePartitions[T](s: SparkSession)(body: => T): T =
    withConf(s, "spark.sql.shuffle.partitions" ->
      s.conf.getOption("spark.graft.streaming.statePartitions").getOrElse("6"))(body)
}

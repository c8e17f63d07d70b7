package graft.ops

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The per-session shared-stage memos: a stage that several registered
  * queries consume identically (the genomics index and k-mer counts, the
  * dedup trigrams, LSH pairs and components, the trained k-means cells, the
  * BPE training loop) is built once per (session, data dir) and every
  * consumer reads the stored result.
  *
  * The policy, which every memo gets by going through [[shared]]:
  *  - Key: (label, session, data dir, an optional extra key such as a cell
  *    count). Oracle SQL is untouched: each query's WITH-chain still derives
  *    the stage from scratch, so a memo cannot change a result unnoticed.
  *  - Storage: the build writes its frames through [[materialize]] to temp
  *    parquet. Nothing stays pinned in the block manager (`localCheckpoint`
  *    pinned RDD blocks that `clearCache()` cannot see, and a long bench run
  *    paid them in storage and GC pressure), every consumer's plan is a plain
  *    parquet scan (history-independent, no CacheManager substitution), and
  *    the scan carries file statistics, so joins against a memo plan
  *    size-aware (broadcast when small).
  *  - Cost: the build's wall time is charged to `label` in
  *    [[buildSecSnapshot]], exclusive of nested memo builds. With best-of-2
  *    timing a memo's one-time build lands in no recorded bench number, so
  *    Bench emits these as `memoBuildSec`: recorded total + memo builds
  *    reconstructs the wall work of a pass.
  *  - Lifetime: [[evictAll]] drops every entry and deletes the temp dirs.
  *
  * At scale this is what a production pipeline does anyway: build the
  * index (or the candidate pairs, or the quantizer) once, persist it, and
  * fan the consumers out from the persisted table.
  */
object Memo {

  /** One memo entry. The build runs on the first read of `value`, outside
    * any map operation: a build may call another memo (documentComponents
    * builds documentPairs), and `ConcurrentHashMap` forbids touching other
    * mappings from inside `computeIfAbsent`. A build that throws leaves the
    * entry unset, so the next call builds again. */
  private final class Entry(build: => Any) {
    lazy val value: Any = build
  }

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[(String, SparkSession, String, Any), Entry]()
  private val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()
  private val buildSecs =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
  // seconds spent in memo builds nested inside the current one
  private val nestedSec = new ThreadLocal[java.lang.Double] {
    override def initialValue: java.lang.Double = 0.0
  }

  /** The memo `label` over data dir `d` in session `s` (and `key`, when the
    * same label is built with different parameters): `build` runs once per
    * key until the next [[evictAll]]. `build` materializes what it returns
    * (see [[materialize]]); each label always returns the same type. */
  def shared[T](label: String, s: SparkSession, d: String, key: Any = ())(build: => T): T =
    entries.computeIfAbsent((label, s, d, key), _ => new Entry(timed(label)(build)))
      .value.asInstanceOf[T]

  /** Charges `build`'s wall time to `label`, less the time of the memo
    * builds nested inside it, so the charges sum to the combined build
    * wall-clock. Charges accumulate across rebuilds after [[evictAll]]. */
  private def timed[T](label: String)(build: => T): T = {
    val saved = nestedSec.get.doubleValue
    nestedSec.set(0.0)
    val t0 = System.nanoTime()
    try build finally {
      val wall = (System.nanoTime() - t0) / 1e9
      buildSecs.merge(label, wall - nestedSec.get.doubleValue, (a, b) => Double.box(a + b))
      nestedSec.set(saved + wall)
    }
  }

  /** Cumulative per-label build seconds since JVM start (or snapshot
    * deltas caller-side for per-pass attribution). */
  def buildSecSnapshot: Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    buildSecs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
  }

  // temp dirs are JVM-scratch: reclaim them at exit so repeated
  // Verify/Bench/test runs don't accumulate parquet junk under /tmp
  Runtime.getRuntime.addShutdownHook(new Thread(() => evictAll(),
    "graft-memo-cleanup"))

  /** Write `df` once to a session-temp parquet dir and return a reader
    * over it. The returned frame's plan is a parquet scan with file
    * statistics; the write is the one-time cost the memo exists to pay. */
  def materialize(df: DataFrame): DataFrame = {
    val dir = Files.createTempDirectory("graft-memo-")
    dirs.add(dir)
    val path = dir.toString
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }

  /** Drop every memo entry and delete the backing temp-parquet dirs —
    * the eviction hook for long-lived sessions that touch many data
    * dirs (unbounded (session, dir)-keyed growth otherwise). Callers
    * must not hold DataFrames read from a memo across an evict: their
    * backing files are gone.
    *
    * The dir set is SNAPSHOTTED-AND-DRAINED before any deletion: a memo
    * rebuilt concurrently with the evict materializes into a new dir
    * that is either in the snapshot (drained, deleted — the rebuilder's
    * map entry was already cleared) or added after the drain (kept,
    * tracked for the next evict) — never deleted out from under a live
    * reader while still registered. */
  def evictAll(): Unit = {
    entries.clear()
    val snapshot = new java.util.ArrayList[Path]()
    dirs.forEach { d => if (dirs.remove(d)) snapshot.add(d) }
    snapshot.forEach(d => graft.util.TempDirs.delete(d))
  }
}

package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** The query-measurement harness: one copy of each building block that
  * the measurement and audit mains (Bench, Scale, Verify, Plans,
  * AuditTwice) and the CLI share, so a change of method lands in every
  * tool at once — the role the reference gives its single instrumentation
  * object (bdg-utils `Timers`, rice-core/.../Timers.scala:25-63).
  *
  * The environment it reads: `SPARK_GRAFT_CPUS` (local cores, default 4)
  * and `SPARK_GRAFT_ONLY` (comma-separated query-name prefixes).
  */
package object obs {

  /** `s` as a JSON string literal: quote, backslash and every control
    * character (< 0x20) escaped — a tab or CR in hand-written oracle SQL
    * would otherwise make a reader's `json.load` fail. Non-ASCII text
    * passes through as is (the artifacts are written as UTF-8). */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Writes one JSON line to `path` and prints it to stdout. */
  def emit(path: String, line: String): Unit = {
    Files.writeString(Paths.get(path), line + "\n")
    println(line)
  }

  /** Local cores for a session: `SPARK_GRAFT_CPUS`, else 4. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The session every main runs on: [[Sessions.local]] at [[cpus]]. */
  def session(): SparkSession = Sessions.local(cpus)

  // --- query selection ---------------------------------------------------

  /** The `SPARK_GRAFT_ONLY` prefix filter, `None` when unset: an unset
    * filter selects the whole surface. */
  def only: Option[Seq[String]] = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSeq)

  /** Whether `name` passes the prefix filter `only` (everything does when
    * it is `None`). */
  def keeps(only: Option[Seq[String]])(name: String): Boolean =
    only.forall(_.exists(name.startsWith))

  /** A query selection argument: `all` is every name in `known`, sorted;
    * otherwise a comma-separated name list, where an unknown name fails
    * here, before any work (a typo would otherwise surface only as a
    * per-query error row after the warm-up ran). */
  def select(sel: String, known: collection.Set[String] = SparkEntry.queries.keySet)
      : Seq[String] =
    if (sel == "all") known.toSeq.sorted
    else {
      val names = sel.split(',').toSeq
      val missing = names.filterNot(known.contains)
      require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
      names
    }

  // --- measurement -------------------------------------------------------

  /** Warm-up for one corpus dir: stream every table's BYTES through the
    * page cache (count() alone reads only footers, leaving the first timed
    * queries to pay the cold read — a 130 s vs 170+ s whole-run spread
    * depending on cache state), then run one cheap query so JIT and
    * codegen start-up do not land on the first timed query. A table may
    * be one parquet file or a directory of them. The bytes go through a
    * fixed buffer, so a table larger than the heap is no problem. */
  def warm(spark: SparkSession, dir: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      val p = Paths.get(s"$dir/$t.parquet")
      val files =
        if (Files.isDirectory(p)) {
          val s = Files.list(p)
          try s.toArray.toSeq.map(_.asInstanceOf[Path]) finally s.close()
        } else Seq(p)
      files.filter(Files.isRegularFile(_)).foreach { f =>
        val in = Files.newInputStream(f)
        try { val buf = new Array[Byte](1 << 20); while (in.read(buf) >= 0) () }
        finally in.close()
      }
      Tables.load(spark, dir, t).count()
    }
    SparkEntry.queries("q06_forecast_revenue")(spark, dir).count()
  }

  /** `body`'s value, or its error as "Class: message" — one failing query
    * is recorded instead of ending the run. */
  def attempt[T](body: => T): Either[String, T] =
    try Right(body) catch { case e: Throwable =>
      Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  /** Best-of-2 seconds of `run`, the two runs BACK-TO-BACK with no hygiene
    * between: the min is the code's warm cost — run 2 reuses run 1's
    * internal caches, the still-resident codegen classes and JIT-hot
    * generated code. This is load-bearing and was re-measured in round
    * 12: an interleaved two-pass variant (each query's samples a full pass
    * apart, tried to decorrelate contention bursts) read 300 s vs 165 s
    * on the same tree — 244 intervening queries flush the codegen LRU
    * (spark.sql.codegen.cache.maxEntries = 100) and every internal cache,
    * so BOTH samples go cold and the min stops measuring the code.
    * Failures are not retried — a crash must stay loud: the first error
    * is the result. */
  def bestOf2(run: => Unit): Either[String, Double] = {
    def once(): Either[String, Double] = attempt {
      val t0 = System.nanoTime()
      run
      (System.nanoTime() - t0) / 1e9
    }
    for (t1 <- once(); t2 <- once()) yield math.min(t1, t2)
  }

  /** Inter-query hygiene: queries cache or checkpoint frames internally
    * and nothing drops them once the query's DataFrames go out of scope
    * until a GC lets the ContextCleaner run. Across a surface the
    * accumulated blocks crowd the storage pool and LATER queries pay in
    * GC and eviction (q46 drifted 5.4 s → 11.6 s as the surface grew),
    * so each query is measured against an empty cache. */
  def hygiene(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc()
  }

  /** Seconds summed per registration family (`SparkEntry.familyOf`,
    * "other" for an unregistered name), sorted by family: a drift that
    * taxes one family is legible without a per-query diff. */
  def familyTotals(times: Seq[(String, Double)]): Seq[(String, Double)] = {
    val fams = SparkEntry.familyOf
    times.groupBy { case (n, _) => fams.getOrElse(n, "other") }
      .view.mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
  }
}

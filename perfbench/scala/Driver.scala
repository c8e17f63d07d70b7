package perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{Read, Transcript}
import graft.quantify.Quantify

/** JVM side of the benchmark: one session at local[cpus], one operation
  * at a time (a closed loop with a single client).
  *
  *   java perfbench.Driver PLAN_FILE
  *
  * PLAN_FILE holds `key=value` lines written by run.py. The driver appends
  * one JSON object per line to the plan's `events` file; run.py turns the
  * events into metrics and checks the outputs.
  *
  * After the session and a first trivial job are up (the `setup` event),
  * the driver repeats cycles until `seconds` have passed, and at least one.
  * Untraced (trace=0) a cycle is what a user runs: `Main index`, `Main
  * quantify`, then one pass over the query list. Traced
  * (trace=1) a cycle calls each layer's public function inside a named span
  * and forces its output, with a [[SpanListener]] attached; the query list
  * runs once, one span per query.
  */
object Driver {

  def main(args: Array[String]): Unit = {
    val plan = readPlan(args(0))
    val events = new Events(plan("events"))
    try run(plan, events) finally events.close()
  }

  private def run(plan: Map[String, String], events: Events): Unit = {
    val spark = graft.Sessions.local(plan("cpus"))
    spark.range(1).count()
    events.emit("setup", "ready_ms" -> System.currentTimeMillis())

    val traced = plan("trace") == "1"
    val listener = new SpanListener
    if (traced) spark.sparkContext.addSparkListener(listener)
    val pipeline = Pipeline(plan)
    val queries = plan.getOrElse("queries", "").split(",").filter(_.nonEmpty).toSeq
    val deadline = System.nanoTime() + (plan("seconds").toDouble * 1e9).toLong
    var cycle = 0
    do {
      if (traced) pipeline.traced(spark, events, cycle)
      else pipeline.untraced(spark, events, cycle)
      runQueries(spark, events, plan("sfdir"), queries, cycle, traced)
      cycle += 1
    } while (System.nanoTime() < deadline)

    spark.stop() // drains the listener bus before the snapshot below
    if (traced) {
      val (jobs, tasks) = listener.snapshot
      jobs.foreach(j => events.emit("job", "span" -> j.span,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs))
      tasks.foreach { case (span, t) =>
        events.emit("tasks", "span" -> span, "count" -> t.count,
          "cpu_ns" -> t.cpuNs, "shuffle_write_bytes" -> t.shuffleWriteBytes,
          "spill_bytes" -> t.spillBytes)
      }
    }
    events.emit("rss", "vmhwm_kb" -> vmHwmKb)
  }

  /** One pass over the query list, memos evicted first so their builds
    * are paid inside the pass. Each query is forced through a `noop` sink;
    * its row count comes from an observed aggregate on the same execution. */
  private def runQueries(spark: SparkSession, events: Events, sfDir: String,
      names: Seq[String], cycle: Int, traced: Boolean): Unit = {
    if (names.isEmpty) return
    spark.catalog.clearCache()
    graft.ops.Memo.evictAll()
    val memo0 = graft.ops.Memo.buildSecSnapshot.values.sum
    val registry = graft.SparkEntry.queries
    val family = graft.SparkEntry.familyOf
    names.foreach { name =>
      val span = if (traced) s"query.${family(name)}.$name" else ""
      events.op("query", name, cycle, span) {
        val obs = Observation(name)
        registry(name)(spark, sfDir).observe(obs, count(lit(1)).as("n"))
          .write.format("noop").mode("overwrite").save()
        Seq("rows" -> obs.get("n"))
      }
    }
    if (traced) events.emit("memo", "cycle" -> cycle,
      "build_s" -> (graft.ops.Memo.buildSecSnapshot.values.sum - memo0))
  }

  /** Peak resident set of this JVM in kB (`VmHWM`), or -1 off Linux. */
  private def vmHwmKb: Long = {
    val status = new File("/proc/self/status")
    if (!status.exists) -1L
    else {
      val src = scala.io.Source.fromFile(status)
      try src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
      }.getOrElse(-1L)
      finally src.close()
    }
  }

  private def readPlan(path: String): Map[String, String] =
    Files.readAllLines(new File(path).toPath, StandardCharsets.UTF_8)
      .toArray(Array.empty[String]).toSeq
      .filter(_.contains("="))
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap
}

/** The Sailfish pipeline inputs and flags of one workload. */
final case class Pipeline(fasta: String, gtf: String, fastq: String, k: Int,
    iterations: Int, calibrateKmers: Boolean, calibrateLength: Boolean,
    work: String) {

  private def index = s"$work/index"
  private def abundances(cycle: Int) = s"$work/abundances_$cycle"

  def cliFlags: Seq[String] =
    Seq("-max_iterations", iterations.toString) ++
      (if (calibrateKmers) Nil else Seq("-disable_kmer_calibration")) ++
      (if (calibrateLength) Nil else Seq("-disable_length_calibration"))

  /** `Main index` then `Main quantify`, as a user runs them. Each starts
    * with an empty cache, as in its own CLI process. */
  def untraced(spark: SparkSession, events: Events, cycle: Int): Unit = {
    spark.catalog.clearCache()
    events.op("index", "index", cycle, "") {
      graft.cli.Main.main(Array("index", fasta, gtf, k.toString, index))
      Nil
    }
    spark.catalog.clearCache()
    events.op("quantify", "quantify", cycle, "") {
      graft.cli.Main.main(Array("quantify", fastq, index, gtf, k.toString,
        abundances(cycle)) ++ cliFlags)
      Seq("out" -> abundances(cycle))
    }
  }

  /** Each layer's public function inside its own span, output forced.
    * Work that only prepares a later span's input runs under the `aux`
    * span, which no metric reads. */
  def traced(spark: SparkSession, events: Events, cycle: Int): Unit = {
    import spark.implicits._
    def span[T](name: String)(body: => T): T = events.span(name, cycle)(body)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    val genome = span("io.genome") { graft.io.Genome.read(fasta) }
    val transcripts = span("io.gtf") {
      val t = graft.io.Gtf.transcripts(spark, gtf).cache(); t.count(); t
    }
    span("io.reads") { noop(graft.io.Fastq.loadReads(spark, fastq)) }

    events.op("index", "index", cycle, "index.build") {
      val bc = spark.sparkContext.broadcast(genome)
      // the transcript hull on its reference sequence, as `Main index` extracts it
      val extract = udf { (exons: Seq[org.apache.spark.sql.Row]) =>
        val regions = exons.map(_.getStruct(3))
        bc.value(regions.head.getString(0)).substring(
          regions.map(_.getLong(1)).min.toInt, regions.map(_.getLong(2)).max.toInt)
      }
      val idx = graft.index.Indexer(
        transcripts.select(col("id"), extract(col("exons")).as("sequence")), k)
      idx.kmerToEc.write.mode("overwrite").parquet(index + "_kmers")
      idx.ecToKmers.write.mode("overwrite").parquet(index + "_classes")
      idx.ecToTx.write.mode("overwrite").parquet(index + "_tx")
      Nil
    }

    val reads = graft.io.Fastq.loadReads(spark, fastq).as[Read]
    val kmerToEc = graft.io.IndexSchema.readNormalized(spark, index + "_kmers")
    val ecToTx = graft.io.IndexSchema.readEcToTx(spark, index, false)
    val txs = transcripts.as[Transcript]

    val counts = span("quantify.count_kmers") {
      val c = Quantify.countKmers(reads.toDF(), k).cache(); c.count(); c
    }
    span("aux") {
      val hit = counts.join(kmerToEc.select("kmer").distinct(), Seq("kmer"), "left_semi")
        .agg(sum("count")).head().getLong(0)
      val all = counts.agg(sum("count")).head().getLong(0)
      events.emit("kmer_hit_ratio", "value" -> hit.toDouble / all)
    }
    val calibrated =
      if (!calibrateKmers) counts
      else span("calibrate.kmers") {
        val c = graft.calibrate.Tare.calibrateKmers(counts).cache(); c.count(); c
      }
    val ecCounts = span("quantify.map_classes") {
      val c = Quantify.mapKmersToClasses(calibrated, kmerToEc).cache(); c.count(); c
    }
    span("quantify.init_em") { noop(Quantify.initializeEM(ecCounts, ecToTx)) }

    // the whole call starts from files, as in a CLI process: no frame cached
    // above (nor Quantify's own caches from the previous call) may stand in
    // for its work
    spark.catalog.clearCache()
    events.op("quantify", "quantify", cycle, "quantify.apply") {
      Quantify(reads, kmerToEc, ecToTx, txs, k, iterations,
        calibrateKmers, calibrateLength)
        .select(concat_ws(", ", col("tid"), col("abundance")).as("value"))
        .write.mode("overwrite").text(abundances(cycle))
      Seq("out" -> abundances(cycle))
    }
    spark.catalog.clearCache()
    span("quantify.apply0") {
      noop(Quantify(reads, kmerToEc, ecToTx, txs, k, 0,
        calibrateKmers, calibrateLength))
    }
    spark.catalog.clearCache()

    if (calibrateLength) {
      val (muHat, tLen) = span("aux") {
        val m = spark.read.text(abundances(cycle))
          .select(split(col("value"), ", ").as("f"))
          .select(col("f")(0).as("tid"), col("f")(1).cast("double").as("muHat"))
          .cache()
        val t = Quantify.transcriptLengths(txs).cache()
        m.count(); t.count(); (m, t)
      }
      span("calibrate.tx_len") {
        noop(graft.calibrate.Tare.calibrateTxLenBias(muHat, tLen))
      }
    }
    spark.catalog.clearCache()
  }
}

object Pipeline {
  def apply(plan: Map[String, String]): Pipeline = Pipeline(
    plan("fasta"), plan("gtf"), plan("fastq"), plan("k").toInt,
    plan("iterations").toInt, plan("calibrate_kmers") == "1",
    plan("calibrate_length") == "1", plan("work"))
}

/** Append-only JSON-lines event log. */
final class Events(path: String) {
  private val out = new PrintWriter(path, "UTF-8")

  def emit(ev: String, fields: (String, Any)*): Unit = {
    val body = (("ev" -> ev) +: fields).map { case (k, v) =>
      s"${Events.quote(k)}:${Events.value(v)}"
    }
    out.println(body.mkString("{", ",", "}"))
    out.flush()
  }

  /** Run `body` with `name#cycle` set as the thread's local property,
    * and record the span's wall time and epoch-ms bounds. */
  def span[T](name: String, cycle: Int)(body: => T): T = {
    val sc = org.apache.spark.SparkContext.getOrCreate()
    sc.setLocalProperty(SpanListener.Key, s"$name#$cycle")
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body finally {
      val wall = (System.nanoTime() - t0) / 1e9
      sc.setLocalProperty(SpanListener.Key, null)
      emit("span", "name" -> name, "cycle" -> cycle, "start_ms" -> startMs,
        "end_ms" -> System.currentTimeMillis(), "wall_s" -> wall)
    }
  }

  /** One user-visible operation: timed, and recorded as failed (not
    * rethrown) when it throws. `body` returns extra fields for the event.
    * A non-empty `spanName` also records the operation as a span. */
  def op(kind: String, name: String, cycle: Int, spanName: String)(
      body: => Seq[(String, Any)]): Unit = {
    val t0 = System.nanoTime()
    val result =
      try Right(if (spanName.isEmpty) body else span(spanName, cycle)(body))
      catch { case NonFatal(e) => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val base = Seq("kind" -> kind, "name" -> name, "cycle" -> cycle, "wall_s" -> wall)
    result match {
      case Right(extra) => emit("op", (base ++ Seq("ok" -> true) ++ extra): _*)
      case Left(e) =>
        emit("op", (base ++ Seq("ok" -> false, "err" -> e.toString.take(500))): _*)
    }
  }

  def close(): Unit = out.close()
}

object Events {
  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case other => quote(String.valueOf(other))
  }
}

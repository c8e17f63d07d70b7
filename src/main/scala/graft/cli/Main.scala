package graft.cli

import org.apache.spark.sql.functions._
import graft.index.Indexer
import graft.model.Read
import graft.quantify.Quantify

/** CLI mirroring the reference's `rice index` / `rice quantify` commands
  * (rice-cli/.../RiceMain.scala:29-64, cli/Index.scala:41-93,
  * cli/Quantify.scala:32-108 — SURVEY §3.1-3.2).
  *
  * index GENOME.fa ANNOTATION.gtf KMER_LENGTH OUTPUT [-avro_compat]
  *   → writes OUTPUT_kmers (kmer, ec) and OUTPUT_classes (ec, kmers)
  *     parquet — the same two-table index layout as the reference
  *     (cli/Index.scala:83,92, SURVEY S6), plus OUTPUT_tx (ec, tid).
  *     With -avro_compat the two side tables use the reference's
  *     on-disk record field names (KmerToClass/ClassContents,
  *     rice.avdl:21-33) so ADAM tooling can read them; quantify
  *     auto-detects either layout (io.IndexSchema). A REFERENCE-written
  *     index carries no _tx table — quantify then fails with a pointed
  *     message unless -classes_as_tx opts into the reference CLI's own
  *     wiring (io.IndexSchema.readEcToTx).
  *
  * quantify READS.parquet INDEX ANNOTATION.gtf KMER_LENGTH OUTPUT
  *         [-max_iterations N] [-disable_kmer_calibration]
  *         [-disable_length_calibration]
  *   → writes "<id>, <abundance>" text (cli/Quantify.scala:107-108,
  *     SURVEY S7/F10).
  */
object Main {

  def main(args: Array[String]): Unit = {
    // stage timings are per command, not per JVM
    graft.util.Timers.reset()
    parse(args.toList).fold(usage, run)
  }

  /** One parsed command line. */
  private[graft] sealed trait Command
  private[graft] final case class IndexCommand(genome: String, gtf: String, k: Int,
      out: String, avroCompat: Boolean) extends Command
  private[graft] final case class QuantifyCommand(reads: String, index: String, gtf: String,
      k: Int, out: String, flags: QuantifyFlags) extends Command
  private[graft] final case class QueryCommand(name: String, sfDir: String, nRows: Int)
      extends Command

  /** Parses a command line; a bad KMER_LENGTH or N_ROWS, an unknown flag or a
    * wrong argument count is a `Left` naming the problem ("" when there is no
    * command to name one for). */
  private[graft] def parse(args: List[String]): Either[String, Command] = args match {
    case "index" :: genome :: gtf :: k :: out :: rest =>
      for {
        kmer <- intAtLeast("KMER_LENGTH", k, least = 1)
        _ <- rest.find(_ != "-avro_compat").map(f => s"index: unknown flag $f").toLeft(())
      } yield IndexCommand(genome, gtf, kmer, out, avroCompat = rest.contains("-avro_compat"))
    case "quantify" :: reads :: index :: gtf :: k :: out :: rest =>
      for (kmer <- intAtLeast("KMER_LENGTH", k, least = 1); f <- quantifyFlags(rest))
        yield QuantifyCommand(reads, index, gtf, kmer, out, f)
    case "query" :: name :: sfDir :: Nil => Right(QueryCommand(name, sfDir, 20))
    case "query" :: name :: sfDir :: n :: Nil =>
      intAtLeast("N_ROWS", n, least = 0).map(QueryCommand(name, sfDir, _))
    case _ => Left("")
  }

  /** `value` as an integer of at least `least` (0 or 1), or a `Left` naming
    * `what` and the value. */
  private def intAtLeast(what: String, value: String, least: Int): Either[String, Int] =
    value.toIntOption.filter(_ >= least).toRight(
      s"$what needs a ${if (least > 0) "positive" else "non-negative"} integer, got $value")

  private def run(c: Command): Unit = c match {
    case IndexCommand(genome, gtf, k, out, avroCompat) => runIndex(genome, gtf, k, out, avroCompat)
    case QuantifyCommand(reads, index, gtf, k, out, f) => runQuantify(reads, index, gtf, k, out, f)
    case QueryCommand(name, sfDir, n) => runQuery(name, sfDir, n)
  }

  private def usage(problem: String): Nothing = {
    if (problem.nonEmpty) System.err.println(problem)
    System.err.println(
      """usage:
        |  index GENOME.fa ANNOTATION.gtf KMER_LENGTH OUTPUT [-avro_compat]
        |  quantify READS.parquet INDEX ANNOTATION.gtf KMER_LENGTH OUTPUT
        |           [-max_iterations N] [-disable_kmer_calibration]
        |           [-disable_length_calibration] [-classes_as_tx]
        |  query QUERY_NAME SF_DIR [N_ROWS]""".stripMargin)
    sys.exit(1)
  }

  /** `quantify`'s trailing flags. */
  private[graft] final case class QuantifyFlags(
      maxIterations: Int = 50, // reference default, cli/Quantify.scala:57-58
      calibrateKmers: Boolean = true,
      calibrateLength: Boolean = true,
      classesAsTx: Boolean = false)

  /** Parses `quantify`'s trailing flags; an unknown flag, or a missing,
    * non-integer or negative `-max_iterations` value, is a `Left` naming it. */
  private[graft] def quantifyFlags(args: List[String],
      f: QuantifyFlags = QuantifyFlags()): Either[String, QuantifyFlags] = args match {
    case Nil => Right(f)
    case "-max_iterations" :: n :: rest =>
      intAtLeast("-max_iterations", n, least = 0)
        .flatMap(m => quantifyFlags(rest, f.copy(maxIterations = m)))
    case "-max_iterations" :: Nil => Left("-max_iterations needs a non-negative integer, got nothing")
    case "-disable_kmer_calibration" :: rest => quantifyFlags(rest, f.copy(calibrateKmers = false))
    case "-disable_length_calibration" :: rest => quantifyFlags(rest, f.copy(calibrateLength = false))
    case "-classes_as_tx" :: rest => quantifyFlags(rest, f.copy(classesAsTx = true))
    case flag :: _ => Left(s"quantify: unknown flag $flag")
  }

  /** Run one registered query against a corpus dir and print the first
    * `n` rows — the ad-hoc entry point for everything in
    * `SparkEntry.queries` (an unknown name lists what exists). */
  private[graft] def runQuery(name: String, sfDir: String, n: Int): Unit =
    graft.SparkEntry.queries.get(name) match {
      case Some(fn) =>
        val spark = graft.obs.session()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        df.show(n, truncate = false)
        println(f"[$name] ${(System.nanoTime() - t0) / 1e9}%.3f s")
      case None =>
        System.err.println(s"unknown query '$name'; available:")
        graft.SparkEntry.queries.keys.toSeq.sorted.foreach(q => System.err.println(s"  $q"))
        sys.exit(1)
    }

  /** Reporting parity with the reference's `.instrument()` + metrics dump
    * (rice-cli/.../Index.scala:68, rice-core/.../Timers.scala:25-63): after
    * each command, print the driver-side stage wall times it recorded. */
  private[cli] def printTimers(): Unit = {
    val snap = graft.util.Timers.snapshot()
    if (snap.nonEmpty) {
      println("== stage timings ==")
      snap.toSeq.sortBy(-_._2).foreach { case (name, sec) =>
        println(f"  $name%-28s $sec%9.3f s")
      }
    }
  }

  private def runIndex(genomePath: String, gtfPath: String, k: Int, out: String,
      avroCompat: Boolean): Unit = {
    import graft.util.Timers
    val spark = graft.obs.session()
    // driver-side genome load + broadcast, as the reference does
    // (cli/Index.scala:59-62 then Index.scala:76-78); .2bit or FASTA
    val genome = Timers.time("loadGenome") { graft.io.Genome.read(genomePath) }
    val transcripts = graft.io.Gtf.transcripts(spark, gtfPath)
    val idx = Timers.time("buildIndex") { Indexer.fromGenome(spark, transcripts, genome, k) }
    Timers.time("writeIndex") {
      val (km, cl) =
        if (avroCompat)
          (graft.io.IndexSchema.kmersToAvroCompat(idx.kmerToEc),
            graft.io.IndexSchema.classesToAvroCompat(idx.ecToKmers))
        else (idx.kmerToEc, idx.ecToKmers)
      km.write.mode("overwrite").parquet(out + "_kmers")
      cl.write.mode("overwrite").parquet(out + "_classes")
      idx.ecToTx.write.mode("overwrite").parquet(out + "_tx")
    }
    printTimers()
  }

  private def runQuantify(readsPath: String, indexPath: String, gtfPath: String,
      k: Int, out: String, flags: QuantifyFlags): Unit = {
    val spark = graft.obs.session()
    import spark.implicits._
    // extension dispatch as the reference's loadAlignments (SURVEY S1):
    // parquet or FASTQ text
    val reads = graft.io.Fastq.loadReads(spark, readsPath).as[Read]
    // accepts graft (kmer, ec) AND reference KmerToClass layouts
    val kmerToEc = graft.io.IndexSchema.readNormalized(spark, indexPath + "_kmers")
    // graft _tx if present; a reference-layout index gets a clear error
    // (or, with -classes_as_tx, the reference CLI's own wiring)
    val ecToTx = graft.io.IndexSchema.readEcToTx(spark, indexPath, flags.classesAsTx)
    val transcripts = graft.io.Gtf.transcripts(spark, gtfPath)
      .as[graft.model.Transcript]
    val abundances = Quantify(reads, kmerToEc, ecToTx, transcripts, k,
      flags.maxIterations, flags.calibrateKmers, flags.calibrateLength)
    // "<id>, <abundance>" text lines, as cli/Quantify.scala:107-108
    graft.util.Timers.time("writeAbundances") {
      abundances
        .select(concat_ws(", ", col("tid"), col("abundance")).as("value"))
        .write.mode("overwrite").text(out)
    }
    printTimers()
    // no spark.stop(): the session is getOrCreate-shared (tests reuse it);
    // standalone CLI JVMs tear it down at exit
  }
}

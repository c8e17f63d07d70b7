package graft.cli

import org.apache.spark.sql.functions._
import graft.{Sessions, Tables}
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
    dispatch(args.toList)
  }

  private def dispatch(args: List[String]): Unit = args match {
    case "index" :: genome :: gtf :: k :: out :: rest
        if rest.forall(_ == "-avro_compat") =>
      runIndex(genome, gtf, k.toInt, out,
        avroCompat = rest.contains("-avro_compat"))
    case "quantify" :: reads :: index :: gtf :: k :: out :: rest =>
      val maxIter = rest.sliding(2).collectFirst {
        case "-max_iterations" :: n :: Nil => n.toInt
      }.getOrElse(50) // reference default, cli/Quantify.scala:57-58
      runQuantify(reads, index, gtf, k.toInt, out, maxIter,
        calibrateKmers = !rest.contains("-disable_kmer_calibration"),
        calibrateLength = !rest.contains("-disable_length_calibration"),
        classesAsTx = rest.contains("-classes_as_tx"))
    case "query" :: name :: sfDir :: rest =>
      runQuery(name, sfDir, rest.headOption.map(_.toInt).getOrElse(20))
    case _ =>
      System.err.println(
        """usage:
          |  index GENOME.fa ANNOTATION.gtf KMER_LENGTH OUTPUT [-avro_compat]
          |  quantify READS.parquet INDEX ANNOTATION.gtf KMER_LENGTH OUTPUT
          |           [-max_iterations N] [-disable_kmer_calibration]
          |           [-disable_length_calibration] [-classes_as_tx]
          |  query QUERY_NAME SF_DIR [N_ROWS]""".stripMargin)
      sys.exit(1)
  }

  /** Run one registered query against a corpus dir and print the first
    * `n` rows — the ad-hoc entry point for everything in
    * `SparkEntry.queries` (an unknown name lists what exists). */
  private[graft] def runQuery(name: String, sfDir: String, n: Int): Unit =
    graft.SparkEntry.queries.get(name) match {
      case Some(fn) =>
        val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
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
      avroCompat: Boolean = false): Unit = {
    import graft.util.Timers
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    // driver-side genome load + broadcast, as the reference does
    // (cli/Index.scala:59-62 then Index.scala:76-78); .2bit or FASTA
    val genome = Timers.time("loadGenome") { graft.io.Genome.read(genomePath) }
    val bc = spark.sparkContext.broadcast(genome)
    val transcripts = graft.io.Gtf.transcripts(spark, gtfPath)
    val extract = udf { (exons: Seq[org.apache.spark.sql.Row]) =>
      // transcript hull on its reference sequence (Index.scala:85 uses t.region)
      val regions = exons.map(_.getStruct(3))
      val name = regions.head.getString(0)
      val start = regions.map(_.getLong(1)).min
      val end = regions.map(_.getLong(2)).max
      bc.value(name).substring(start.toInt, end.toInt)
    }
    val seqs = transcripts.select(col("id"), extract(col("exons")).as("sequence"))
    val idx = Timers.time("buildIndex") { Indexer(seqs, k) }
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
      k: Int, out: String, maxIterations: Int,
      calibrateKmers: Boolean, calibrateLength: Boolean,
      classesAsTx: Boolean = false): Unit = {
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    import spark.implicits._
    // extension dispatch as the reference's loadAlignments (SURVEY S1):
    // parquet or FASTQ text
    val reads = graft.io.Fastq.loadReads(spark, readsPath).as[Read]
    // accepts graft (kmer, ec) AND reference KmerToClass layouts
    val kmerToEc = graft.io.IndexSchema.readNormalized(spark, indexPath + "_kmers")
    // graft _tx if present; a reference-layout index gets a clear error
    // (or, with -classes_as_tx, the reference CLI's own wiring)
    val ecToTx = graft.io.IndexSchema.readEcToTx(spark, indexPath, classesAsTx)
    val transcripts = graft.io.Gtf.transcripts(spark, gtfPath)
      .as[graft.model.Transcript]
    val abundances = Quantify(reads, kmerToEc, ecToTx, transcripts, k,
      maxIterations, calibrateKmers, calibrateLength)
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

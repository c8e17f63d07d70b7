package graft.io

import java.util.Locale
import scala.io.{Codec, Source}

/** Minimal FASTA reference-sequence source, standing in for the reference's
  * TwoBitFile (cli/Index.scala:60-62, SURVEY S5). Like the reference, the
  * genome is loaded at the DRIVER and broadcast — random-access extraction
  * is a per-task substring, not a distributed scan (Index.scala:76-78, J5).
  * The file is opened through Hadoop `FileSystem` ([[Genome.open]]), so the
  * path may be any URI the session can read (hdfs://, s3a://, file://).
  *
  * Sized for transcriptome-scale references (what this pipeline indexes);
  * a chromosome-scale genome would move to a bgzip+faidx range reader with
  * the same `extract` contract.
  */
object Fasta {

  /** name → full sequence, concatenating wrapped lines. Bases are
    * upper-cased, so a soft-masked (lower-case) block indexes like the rest
    * of its sequence and like the same genome read from .2bit. */
  def read(path: String): Map[String, String] = {
    val src = Source.fromInputStream(Genome.open(path))(Codec.UTF8)
    try {
      val out = scala.collection.mutable.LinkedHashMap[String, StringBuilder]()
      var current: StringBuilder = null
      for (line <- src.getLines()) {
        if (line.startsWith(">")) {
          val name = line.drop(1).trim.split("\\s+").head
          current = new StringBuilder
          out(name) = current
        } else if (current != null) current.append(line.trim.toUpperCase(Locale.ROOT))
      }
      out.map { case (k, v) => (k, v.toString) }.toMap
    } finally src.close()
  }
}

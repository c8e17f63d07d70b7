package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.index.Indexer
import graft.ops.Memo
import graft.quantify.Quantify

/** The genomics operators (SURVEY §2: F1 k-merization, A1-A5 aggregation
  * chain, J1 many-to-one join, F9 init split, A7/A8 M-step) exercised over
  * the `documents` corpus so the DuckDB oracle can value-check the REAL
  * Indexer/Quantify code paths: documents play transcripts, 8-char shingles
  * play k-mers.
  *
  * Equivalence-class ids are Indexer's xxhash64 of the class key
  * "tid:mult", computed narrowly on every row, so no global sort appears
  * anywhere in the plan. No query outputs a class id: the oracles key their
  * classes by md5 of the same string and use it only to group.
  */
object GenomicsQueries {

  private val K = 8

  /** The EC index over the documents as (id, sequence) transcripts. The
    * `genomics.index` memo stores `kmerToEc` and `ecToTx` and leaves
    * `ecToKmers` lazy (no registered query reads it). q21 and q22 consume
    * the same (corpus, K) index, the one Sailfish builds once and every
    * quantification reads (`cli index` writes it once too). q24 does not
    * share it: its Quantify.apply contract takes string transcript ids, and
    * coercing the memo's long tids would change join semantics mid-library. */
  private def kmerIndex(s: SparkSession, d: String): Indexer.Result =
    Indexer(Tables.documents(s, d).select(col("doc_id").as("id"), col("text").as("sequence")), K)

  /** Corpus k-mer counts: q20's histogram source and q22's read-side
    * counts, the same `countKmers(documents, K)` pass. */
  private def kmerCounts(s: SparkSession, d: String): DataFrame =
    Quantify.countKmers(Tables.documents(s, d).select(col("text").as("sequence")), K)

  private def sharedIndex(s: SparkSession, d: String): Indexer.Result =
    Memo.shared("genomics.index", s, d) {
      val idx = kmerIndex(s, d)
      idx.copy(kmerToEc = Memo.materialize(idx.kmerToEc), ecToTx = Memo.materialize(idx.ecToTx))
    }

  private def sharedKmerCounts(s: SparkSession, d: String): DataFrame =
    Memo.shared("genomics.kmerCounts", s, d)(Memo.materialize(kmerCounts(s, d)))

  /** The genomics memo builds before materialization, for the plan audit
    * ([[graft.Plans.memoBuildFrames]]). */
  def memoAuditFrames(s: SparkSession, d: String): Seq[(String, DataFrame)] = {
    val idx = kmerIndex(s, d)
    Seq("memo:genomics.kmerToEc" -> idx.kmerToEc,
      "memo:genomics.ecToTx" -> idx.ecToTx,
      "memo:genomics.kmerCounts" -> kmerCounts(s, d))
  }

  /** q178's interval-overlap join with the GENOME SIZE as a parameter: the
    * synthetic intervals spread over `contigs` contigs of 20 kb. The
    * registered query fixes contigs = 64 (the oracle mirrors the literal);
    * the Scale probe calls this with contigs proportional to corpus size —
    * real genomics growth adds contigs/samples rather than densifying a
    * fixed genome, and on the fixed genome the join's semantic OUTPUT grows
    * quadratically (SCALE.md §4.3), which measures data geometry, not the
    * engine. Everything else — bin width 256, the first-bin-of-intersection
    * dedup rule, the (contig, bin) equi-join — is identical at any size. */
  def regionJoinFrame(s: SparkSession, d: String, contigs: Long): DataFrame = {
    import s.implicits._
    val exons = Tables.documents(s, d)
      .select($"doc_id".as("exon_id"), ($"doc_id" % contigs).as("contig"),
        (($"doc_id" * 37) % 20000).as("x_start"),
        (($"doc_id" * 37) % 20000 + 50 + $"n_chars" % 150).as("x_end"))
    val reads = Tables.events(s, d)
      .select($"event_id".as("read_id"), ($"event_id" % contigs).as("contig"),
        (($"event_id" * 13) % 20000).as("r_start"))
      .withColumn("r_end", $"r_start" + 80)
    val rb = reads.withColumn("bin",
      explode(sequence(expr("r_start div 256"), expr("r_end div 256"))))
    val xb = exons.withColumn("bin",
      explode(sequence(expr("x_start div 256"), expr("x_end div 256"))))
    rb.join(xb, Seq("contig", "bin"))
      .filter($"r_start" <= $"x_end" && $"x_start" <= $"r_end" &&
        $"bin" === expr("greatest(r_start, x_start) div 256"))
      .groupBy($"exon_id")
      .agg(count(lit(1)).as("n_reads"),
        sum(least($"r_end", $"x_end") - greatest($"r_start", $"x_start") + 1)
          .as("overlap_bp"))
      .orderBy($"exon_id")
  }

  /** q25's two inputs, keyed by the doc id as a string: µ̂, the token-count
    * share of the 20 lowest-id documents, and their lengths (n_chars). */
  def lengthCalibrationInputs(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val docs = Tables.documents(s, d).filter($"doc_id" < 20)
    val nt = docs.select($"doc_id".cast("string").as("tid"),
      size(split($"text", " ")).cast("double").as("nt"))
    val mu = nt.crossJoin(broadcast(nt.agg(sum($"nt").as("tot"))))
      .select($"tid", ($"nt" / $"tot").as("muHat"))
    val tLen = docs.select($"doc_id".cast("string").as("tid"), $"n_chars".as("len"))
    (mu, tLen)
  }

  /** q26's input, the 4-mer counts of a DNA slice of the corpus. The oracle
    * mirrors the fit for DNA-alphabet k-mers (every context valid, an exact
    * integer Gram), so the slice is mapped to a deterministic DNA sequence
    * first: md5(text) hex → ACGT. k=4 over a 256-kmer space gives
    * multiplicities big enough for the log-count regression to have signal.
    * `kmerBiasFit` executes this aggregate while q26 is built, so q26's
    * returned frame scans its output; `Plans.auditSubstitutes` audits this
    * lazy frame instead. */
  def kmerCalibrationCounts(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dna = Tables.documents(s, d).filter($"doc_id" < 200)
      .select(translate(md5($"text"), "0123456789abcdef", "ACGTACGTACGTACGT").as("sequence"))
    Quantify.countKmers(dna, 4)
  }

  private val kmSql =
    """km AS (
      |  SELECT doc_id, substr(text, i, 8) AS kmer
      |  FROM (SELECT doc_id, text,
      |          unnest(generate_series(1, length(text) - 7)) AS i
      |        FROM documents))""".stripMargin

  /** Unrolled-EM oracle: init + `iters` e/m iterations as repeated CTE
    * blocks. The driver-side loop in Quantify.apply is finite, so the whole
    * computation IS SQL-expressible — each block mirrors
    * Quantify.initializeEM / eStep / mStep exactly, with the portable
    * md5-56 class ids. */
  private def emOracleSql(iters: Int): String = {
    val base = s"""WITH $kmSql,
      |mult AS MATERIALIZED (SELECT doc_id, kmer, count(*) AS mult FROM km GROUP BY 1, 2),
      |classes AS MATERIALIZED (
      |  SELECT doc_id, mult,
      |    ('0x' || substr(md5(doc_id || ':' || mult), 1, 14))::BIGINT AS ec
      |  FROM (SELECT DISTINCT doc_id, mult FROM mult)),
      |k2e AS MATERIALIZED (
      |  SELECT m.kmer, c.ec FROM mult m
      |  JOIN classes c ON m.doc_id = c.doc_id AND m.mult = c.mult),
      |kc AS MATERIALIZED (SELECT kmer, count(*) AS count FROM km GROUP BY kmer),
      |ecc AS MATERIALIZED (
      |  SELECT ec, CAST(sum(count) AS BIGINT) AS count
      |  FROM k2e JOIN kc USING (kmer) GROUP BY ec),
      |rel AS MATERIALIZED (SELECT ec, count * 1.0 / (SELECT sum(count) FROM ecc) AS kj FROM ecc),
      |edges AS MATERIALIZED (SELECT c.ec, c.doc_id AS tid FROM classes c JOIN ecc e USING (ec)),
      |alpha0 AS MATERIALIZED (
      |  SELECT c.ec, c.doc_id AS tid,
      |    e.count * 1.0 / count(*) OVER (PARTITION BY c.ec) AS alpha
      |  FROM classes c JOIN ecc e USING (ec)),""".stripMargin
    // µ stays UNNORMALIZED across iterations (the E step is scale-invariant
    // in µ, so the per-iteration µ̂ = µ/Σµ is algebraically redundant) —
    // mirroring Quantify.emLoop; the single normalization is in the
    // final SELECT.
    def mBlock(i: Int) = s"""
      |mus$i AS MATERIALIZED (
      |  SELECT a.tid, sum(a.alpha * r.kj) / (d.n_chars - $K + 1) AS mu
      |  FROM alpha$i a JOIN rel r USING (ec)
      |  JOIN documents d ON a.tid = d.doc_id
      |  GROUP BY a.tid, d.n_chars)""".stripMargin
    def eBlock(i: Int) = s"""
      |alpha$i AS MATERIALIZED (
      |  SELECT e.ec, e.tid,
      |    m.mu / sum(m.mu) OVER (PARTITION BY e.ec) AS alpha
      |  FROM edges e JOIN mus${i - 1} m USING (tid)),""".stripMargin
    val loop = (1 to iters).map(i => eBlock(i) + mBlock(i)).mkString(",")
    base + mBlock(0) + "," + loop + s"""
      |SELECT tid AS doc_id, round(mu / (SELECT sum(mu) FROM mus$iters), 6) AS abundance
      |FROM mus$iters ORDER BY doc_id""".stripMargin
  }

  /** q26's oracle: the md5→DNA corpus slice, 4-mer counting, integer
    * dinucleotide featurization, then Tare.exactSolveSql's mirrored
    * normal-equation solve. */
  private def q26OracleSql: String = {
    val cs = graft.calibrate.Tare.dinucs.zipWithIndex.map { case (dn, b) =>
      (1 to 3).map(p => s"CASE WHEN substr(kmer, $p, 2) = '$dn' THEN 1 ELSE 0 END")
        .mkString("(", " + ", s") AS c$b")
    }
    s"""WITH dna AS (
       |  SELECT translate(md5(text), '0123456789abcdef', 'ACGTACGTACGTACGT') AS seq
       |  FROM documents WHERE doc_id < 200),
       |km4 AS (
       |  SELECT substr(seq, i, 4) AS kmer
       |  FROM (SELECT seq, unnest(generate_series(1, length(seq) - 3)) AS i FROM dna)),
       |kc AS MATERIALIZED (SELECT kmer, count(*) AS cnt FROM km4 GROUP BY kmer),
       |f AS MATERIALIZED (
       |  SELECT kmer, cnt,
       |    ${cs.mkString(",\n    ")}
       |  FROM kc),
       |${graft.calibrate.Tare.exactSolveSql()}""".stripMargin
  }

  val queries: Seq[Q] = Seq(
    // A3/F1: corpus-wide k-mer histogram through Quantify.countKmers.
    Q("q20_kmer_histogram",
      (s, d) => {
        import s.implicits._
        sharedKmerCounts(s, d)
          .filter($"count" >= 3)
          .orderBy($"count".desc, $"kmer")
          .limit(100)
      },
      Some(s"""WITH $kmSql
             |SELECT kmer, count(*) AS count FROM km
             |GROUP BY kmer HAVING count(*) >= 3
             |ORDER BY count DESC, kmer LIMIT 100""".stripMargin)),

    // A1/A2: per-document multiplicity classes (the EC construction run
    // through Indexer), summarized per document.
    Q("q21_ec_summary",
      (s, d) => {
        import s.implicits._
        val idx = sharedIndex(s, d)
        idx.kmerToEc.join(idx.ecToTx, "ec")
          .groupBy($"tid".as("doc_id"))
          .agg(count(lit(1)).as("n_kmers"),
            countDistinct($"ec").as("n_classes"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH $kmSql,
             |mult AS (SELECT doc_id, kmer, count(*) AS mult FROM km GROUP BY 1, 2)
             |SELECT doc_id, count(*) AS n_kmers, count(DISTINCT mult) AS n_classes
             |FROM mult GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // J1+A4+A5+F9+A7+A8: one full EM initialization round (init split + M
    // step) through the real Quantify functions, oracle-checked end to end.
    Q("q22_em_init_round",
      (s, d) => {
        import s.implicits._
        val idx = sharedIndex(s, d)
        val kmerCounts = sharedKmerCounts(s, d)
        val ecCounts = Quantify.mapKmersToClasses(kmerCounts, idx.kmerToEc).cache()
        val relEc = ecCounts
          .crossJoin(broadcast(ecCounts.agg(sum("count").as("tc"))))
          .select($"ec", ($"count".cast("double") / $"tc").as("kj"))
        val alpha0 = Quantify.initializeEM(ecCounts, idx.ecToTx)
        val tLen = Tables.documents(s, d)
          .select($"doc_id".as("tid"), $"n_chars".as("len"))
        Quantify.mStep(alpha0, relEc, tLen, K)
          .select($"tid".as("doc_id"), round($"muHat", 6).as("mu_hat"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH $kmSql,
             |mult AS (SELECT doc_id, kmer, count(*) AS mult FROM km GROUP BY 1, 2),
             |classes AS (
             |  SELECT doc_id, mult,
             |    ('0x' || substr(md5(doc_id || ':' || mult), 1, 14))::BIGINT AS ec
             |  FROM (SELECT DISTINCT doc_id, mult FROM mult)),
             |k2e AS (
             |  SELECT m.kmer, c.ec FROM mult m
             |  JOIN classes c ON m.doc_id = c.doc_id AND m.mult = c.mult),
             |kc AS (SELECT kmer, count(*) AS count FROM km GROUP BY kmer),
             |ecc AS (
             |  SELECT ec, CAST(sum(count) AS BIGINT) AS count
             |  FROM k2e JOIN kc USING (kmer) GROUP BY ec),
             |rel AS (SELECT ec, count * 1.0 / (SELECT sum(count) FROM ecc) AS kj FROM ecc),
             |alpha AS (
             |  SELECT c.ec, c.doc_id AS tid,
             |    e.count * 1.0 / count(*) OVER (PARTITION BY c.ec) AS alpha
             |  FROM classes c JOIN ecc e USING (ec)),
             |mus AS (
             |  SELECT a.tid, sum(a.alpha * r.kj) / (d.n_chars - 8 + 1) AS mu
             |  FROM alpha a JOIN rel r USING (ec)
             |  JOIN documents d ON a.tid = d.doc_id
             |  GROUP BY a.tid, d.n_chars)
             |SELECT tid AS doc_id, round(mu / (SELECT sum(mu) FROM mus), 6) AS mu_hat
             |FROM mus ORDER BY doc_id""".stripMargin)),

    // I1/§2.9: the FULL iterative EM (5 iterations) through Quantify.apply,
    // documents playing both transcripts and reads. The driver-side loop is
    // finite, so the oracle unrolls init + 5 e/m iterations as repeated CTE
    // blocks (emOracleSql below) — full rows+schema+hash check.
    Q("q24_em_full",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
        val seqs = docs.select($"doc_id".cast("string").as("id"), $"text".as("sequence"))
        val idx = Indexer(seqs, K)
        val reads = docs.select($"text".as("sequence")).as[graft.model.Read]
        val tx = docs.select($"doc_id".cast("string").as("id"), $"n_chars").map { r =>
          val id = r.getString(0)
          // region [0, n_chars+1) so Σ(width−1) gives the true length
          graft.model.Transcript(id, Seq(id), id, strand = true,
            Seq(graft.model.Exon(id, id, strand = true,
              graft.model.ReferenceRegion(id, 0L, r.getLong(1) + 1))))
        }
        Quantify(reads, idx.kmerToEc, idx.ecToTx, tx, K, maxIterations = 5,
            calibrateKmerBias = false, calibrateLengthBias = false)
          .select($"tid".cast("long").as("doc_id"), round($"abundance", 6).as("abundance"))
          .orderBy($"doc_id")
      },
      Some(emOracleSql(5))),

    // A6: the E-step ratio-to-class-total, value-checked on lineitem-derived
    // relations (tid=l_suppkey, ec=l_partkey, µ̂=Σ quantity) through
    // Quantify.eStep.
    Q("q23_estep",
      (s, d) => {
        import s.implicits._
        val li = Tables.lineitem(s, d)
        val edges = li.select($"l_partkey".as("ec"), $"l_suppkey".as("tid")).distinct()
        val weights = li.groupBy($"l_suppkey".as("tid"))
          .agg(sum($"l_quantity").as("muHat"))
        Quantify.eStep(weights, edges)
          .select($"ec", $"tid", round($"alpha", 6).as("alpha"))
          .orderBy($"ec", $"tid")
      },
      Some("""WITH edges AS (SELECT DISTINCT l_partkey AS ec, l_suppkey AS tid FROM lineitem),
             |w AS (SELECT l_suppkey AS tid, sum(l_quantity) AS muHat FROM lineitem GROUP BY 1)
             |SELECT e.ec, e.tid,
             |  round(w.muHat / sum(w.muHat) OVER (PARTITION BY e.ec), 6) AS alpha
             |FROM edges e JOIN w USING (tid) ORDER BY ec, tid""".stripMargin)),

    // I4/A12/F6: Tare.calibrateTxLenBias under the oracle gate. µ̂ is the
    // token-count share of the 20 lowest-id documents (positive, non-linear
    // in length, identical in both engines); len is n_chars. The driver-side
    // closed-form OLS of log(µ̂) on log(len) is reproduced by DuckDB's
    // regr_slope/regr_intercept (same normal equations), and the as-built
    // quirk — the fitted line applied to µ̂ itself, not log-length
    // (reference Tare.scala:187) — plus the Σ=1 renormalization
    // (Tare.scala:189-192) are both in the SQL.
    // I3: the sequence-context (GC) bias regression (reference
    // Tare.scala:110-136): regress log(count) on the 16-dim
    // dinucleotide-context features, keep the residual, rescale to the
    // mean. Runs through Tare.kmerBiasFit, the fit Quantify calibrates
    // with (one typed pass for the exact integer Gram + integer
    // ×1e6-quantized Xᵀy, driver-side no-pivot elimination mirrored
    // term-for-term by Tare.exactSolveSql, a StrictMath UDF for the
    // output), and projects its calibrated abundance to 6 dp — so the FULL
    // 16-feature OLS is hash-checked against DuckDB. TareSuite pins the fit
    // against a spark.ml LinearRegression reference (same predictions: the
    // raw-count column space contains the intercept) and against
    // exactSolveSql run by Spark SQL.
    Q("q26_kmer_calibration",
      (s, d) => {
        import s.implicits._
        graft.calibrate.Tare.kmerBiasFit(kmerCalibrationCounts(s, d))
          .select($"kmer", round($"calibrated", 6).as("cal_count"))
          .orderBy($"kmer")
      },
      Some(q26OracleSql)),

    Q("q25_length_calibration",
      (s, d) => {
        import s.implicits._
        val (mu, tLen) = lengthCalibrationInputs(s, d)
        graft.calibrate.Tare.calibrateTxLenBias(mu, tLen)
          .select($"tid".cast("long").as("doc_id"), round($"muHat", 6).as("mu_cal"))
          .orderBy($"doc_id")
      },
      Some("""WITH nt AS (
             |  SELECT doc_id, len(string_split(text, ' ')) * 1.0 AS nt, n_chars
             |  FROM documents WHERE doc_id < 20),
             |mu AS (
             |  SELECT doc_id, nt / (SELECT sum(nt) FROM nt) AS mu, n_chars FROM nt),
             |fit AS (
             |  SELECT regr_slope(ln(mu), ln(n_chars)) AS slope,
             |    regr_intercept(ln(mu), ln(n_chars)) AS icept,
             |    -ln(count(*)) AS mean
             |  FROM mu),
             |cal AS (
             |  SELECT m.doc_id, exp(f.mean + f.slope * m.mu + f.icept - m.mu) AS cal
             |  FROM mu m, fit f)
             |SELECT doc_id, round(cal / (SELECT sum(cal) FROM cal), 6) AS mu_cal
             |FROM cal ORDER BY doc_id""".stripMargin)),

    // Genomic interval-OVERLAP join — the region join at the heart of the
    // reference's ADAM substrate (BroadcastRegionJoin/ShuffleRegionJoin;
    // reads-vs-features overlap is THE genomics join). Neither side is a
    // point (q18/q84 are point-in-window band joins), so the rewrite is the
    // 2D interval one: both sides explode into the fixed-width genome bins
    // their interval covers, the join runs as a (contig, bin) equi-join —
    // shuffle keys grow with the genome, so the join parallelizes across a
    // cluster — and a pair that shares several bins is kept exactly once,
    // WITHOUT a distinct, by the first-bin-of-intersection rule
    // (bin = greatest(start_a, start_b) div W). Overlap then verifies
    // exactly. Intervals are derived deterministically from the corpus:
    // documents play exons, events play reads, 64 contigs of 20 kb.
    Q("q178_region_join",
      (s, d) => regionJoinFrame(s, d, contigs = 64),
      Some("""WITH exons AS (
             |  SELECT doc_id AS exon_id, doc_id % 64 AS contig,
             |    (doc_id * 37) % 20000 AS x_start,
             |    (doc_id * 37) % 20000 + 50 + n_chars % 150 AS x_end
             |  FROM documents),
             |reads AS (
             |  SELECT event_id AS read_id, event_id % 64 AS contig,
             |    (event_id * 13) % 20000 AS r_start,
             |    (event_id * 13) % 20000 + 80 AS r_end
             |  FROM events),
             |rb AS (
             |  SELECT read_id, contig, r_start, r_end,
             |    unnest(generate_series(r_start // 256, r_end // 256)) AS bin
             |  FROM reads),
             |xb AS (
             |  SELECT exon_id, contig, x_start, x_end,
             |    unnest(generate_series(x_start // 256, x_end // 256)) AS bin
             |  FROM exons)
             |SELECT exon_id, count(*) AS n_reads,
             |  CAST(sum(least(r_end, x_end) - greatest(r_start, x_start) + 1)
             |    AS BIGINT) AS overlap_bp
             |FROM rb JOIN xb USING (contig, bin)
             |WHERE r_start <= x_end AND x_start <= r_end
             |  AND bin = greatest(r_start, x_start) // 256
             |GROUP BY exon_id ORDER BY exon_id""".stripMargin)),

    // Coverage pileup (samtools-depth equivalent) as a difference array:
    // each read contributes (+1 at start, −1 at end+1); the per-contig
    // running sum of deltas IS the depth, and each breakpoint's depth holds
    // for lead(pos) − pos bases. One shuffle on (contig, pos) plus windows
    // PARTITIONED BY contig — depth at every one of 1.28 M positions
    // without ever materializing per-base rows, and no single-partition
    // exchange (contigs shard the sort). Output: the corpus-wide depth
    // histogram (depth → covered bases), the summary a 100 TB pileup
    // actually ships.
    Q("q179_pileup",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val reads = Tables.events(s, d)
          .select(($"event_id" % 64).as("contig"),
            (($"event_id" * 13) % 20000).as("r_start"))
          .withColumn("r_end", $"r_start" + 80)
        // one scan, not a 2-branch union: each read explodes into its two
        // boundary deltas — at 100 TB that halves the events read
        val deltas = reads.select($"contig",
            explode(array(
              struct($"r_start".as("pos"), lit(1L).as("d")),
              struct(($"r_end" + 1).as("pos"), lit(-1L).as("d")))).as("x"))
          .select($"contig", $"x.pos".as("pos"), $"x.d".as("d"))
          .groupBy($"contig", $"pos").agg(sum($"d").as("d"))
        val w = Window.partitionBy($"contig").orderBy($"pos")
        deltas
          .withColumn("depth", sum($"d").over(w))
          .withColumn("span", lead($"pos", 1).over(w) - $"pos")
          .filter($"span".isNotNull && $"depth" > 0)
          .groupBy($"depth")
          .agg(sum($"span").as("covered_bp"), count(lit(1)).as("n_segments"))
          .orderBy($"depth")
      },
      Some("""WITH reads AS (
             |  SELECT event_id % 64 AS contig,
             |    (event_id * 13) % 20000 AS r_start,
             |    (event_id * 13) % 20000 + 80 AS r_end
             |  FROM events),
             |deltas AS (
             |  SELECT contig, pos, CAST(sum(d) AS BIGINT) AS d FROM (
             |    SELECT contig, r_start AS pos, 1 AS d FROM reads
             |    UNION ALL
             |    SELECT contig, r_end + 1 AS pos, -1 AS d FROM reads)
             |  GROUP BY contig, pos),
             |cum AS (
             |  SELECT contig, pos,
             |    CAST(sum(d) OVER (PARTITION BY contig ORDER BY pos) AS BIGINT) AS depth,
             |    lead(pos) OVER (PARTITION BY contig ORDER BY pos) - pos AS span
             |  FROM deltas)
             |SELECT depth, CAST(sum(span) AS BIGINT) AS covered_bp,
             |  count(*) AS n_segments
             |FROM cum WHERE span IS NOT NULL AND depth > 0
             |GROUP BY depth ORDER BY depth""".stripMargin))
  )
}

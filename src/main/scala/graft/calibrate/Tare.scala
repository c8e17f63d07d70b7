package graft.calibrate

import java.util.Locale
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bias calibration — Spark-SQL re-expression of the reference's Tare
  * (rice-core .../algorithms/Tare.scala).
  *
  * Two corrections, each a least-squares fit whose normal equations are
  * solved on the driver:
  *  - k-mer GC/sequence-context bias: regress log(count) on the k-mer's 16
  *    dinucleotide-context counts, keep the residual (Tare.scala:110-136).
  *    One typed pass over the k-mers gives the 16×16 Gram; the
  *    reference's distributed SGD is not needed for a 16-column design.
  *  - transcript length bias: driver-side OLS of log(µ̂) on log(len) over a
  *    collected sample — deliberately NOT distributed; the reference found
  *    MLlib SGD does not converge for 1-D features (Tare.scala:156-177 and
  *    the comment at :164-167), and the sample is tiny.
  */
object Tare {
  private val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Recalibrate k-mer counts for sequence-context bias
    * (Tare.scala:110-136): [[kmerBiasFit]]'s calibrated abundance,
    * truncated to a Long.
    *
    * @param kmers DataFrame(kmer, count)
    * @return DataFrame(kmer, count long) with calibrated counts
    */
  def calibrateKmers(kmers: DataFrame): DataFrame =
    kmerBiasFit(kmers).select(col("kmer"),
      col("calibrated").cast("long").as("count"))

  /** The k-mer sequence-context bias fit (reference Tare.scala:110-136):
    *
    *   calibrated = exp(ln(Σ count / n) + ln(count) − x·w)
    *
    * where w is the least-squares fit of ln(count) on x, and the mean runs
    * over the n fitted k-mers (the reference's two accumulators,
    * Tare.scala:112-117).
    *
    * Design: one typed pass, no generated columns. A Scala featurizer
    * ([[contexts]]) reads x_b, the number of the k-mer's positions whose
    * context is dinucleotide b ([[dinucs]] order, case-insensitive). A
    * k-mer whose k−1 contexts are all valid keeps these integer counts; one
    * with some non-ACGT base has them scaled by (k−1)/n_valid. Every row
    * then sums to k−1, so for k-mers of one length the constant lies in the
    * column space and the no-intercept fit predicts exactly what the
    * reference's fit-with-intercept on the normalized histogram
    * (Kmers.dinucFeatures) predicts, without the collinearity an intercept
    * column would add. A k-mer with no valid context (the reference
    * asserts, Tare.scala:91) is left out of the fit and of the mean, keeps
    * its raw count, and is counted in a warning.
    *
    * Solve: one `mapPartitions` pass emits a partial per partition (the
    * Gram XᵀX, Xᵀy with y = ln(count) floor-quantized per row to ×1e6
    * integers, Σ count, n); only these partials reach the driver, never the
    * k-mers. For an integer design every sum is then an exact integer below
    * 2^53 (addition-order independent, so the partitioning cannot move the
    * fit); the driver runs a no-pivot Gaussian elimination whose operation
    * tree [[exactSolveSql]] mirrors term for term, so q26 hash-matches a
    * DuckDB oracle. A pivot that vanishes against its column's diagonal
    * marks a column in the span of the earlier ones (a rank-deficient
    * design, e.g. a dinucleotide no k-mer holds): its weight is 0, which
    * leaves the projection unchanged. With no fitted k-mer (empty input)
    * there is no solve.
    *
    * Output: one Scala UDF over (kmer, count) that closes over w and the
    * mean. Its ln and exp are `StrictMath`'s, the functions Spark's `log`
    * and `exp` call, and x·w is summed in ascending order, so the result
    * is bit-identical to the same formula written as SQL columns.
    *
    * @param kmers DataFrame(kmer, count)
    * @return DataFrame(kmer, count, calibrated double)
    */
  def kmerBiasFit(kmers: DataFrame): DataFrame = {
    import kmers.sparkSession.implicits._
    val d = 16
    val nGram = d * (d + 1) / 2
    // per partition: the upper triangle of XᵀX then Xᵀy, row by row in scan
    // order, with Σ count, n and skipped; the driver adds the partials in
    // partition order
    val partials = kmers.select(col("kmer"), col("count").cast("long"))
      .as[(String, Long)]
      .mapPartitions { rows =>
        val s = new Array[Double](nGram + d)
        var total, n, skipped = 0L
        rows.foreach { case (kmer, count) =>
          contexts(kmer) match {
            case None => skipped += 1
            case Some(x) =>
              // ln(count) quantized to a ×1e6 integer (floor — unambiguous
              // across engines)
              val y = StrictMath.floor(StrictMath.log(count.toDouble) * 1e6)
              var t = 0
              for (i <- 0 until d; j <- i until d) { s(t) += x(i) * x(j); t += 1 }
              for (i <- 0 until d) s(nGram + i) += x(i) * y
              total += count
              n += 1
          }
        }
        Iterator((s, total, n, skipped))
      }.collect()
    val sums = new Array[Double](nGram + d)
    for ((s, _, _, _) <- partials; t <- sums.indices) sums(t) += s(t)
    val total = partials.map(_._2).sum
    val n = partials.map(_._3).sum
    val skipped = partials.map(_._4).sum
    if (skipped > 0)
      logger.warn(s"$skipped k-mer(s) have no valid dinucleotide context; " +
        "they pass through bias calibration with their raw counts")

    // with no fitted k-mer every row passes through, so there is no solve
    val (w, mean) =
      if (n == 0) (new Array[Double](d), 0.0)
      else {
        val a = Array.ofDim[Double](d, d)
        var t = 0
        for (i <- 0 until d; j <- i until d) { a(i)(j) = sums(t); t += 1 }
        (solve(a, Array.tabulate(d)(i => sums(nGram + i) / 1e6)),
          math.log(total.toDouble / n))
      }
    val calibrate = udf { (kmer: String, count: Long) =>
      contexts(kmer).fold(count.toDouble) { x =>
        var pred = w(0) * x(0)
        for (i <- 1 until d) pred += w(i) * x(i)
        StrictMath.exp(mean + StrictMath.log(count.toDouble) - pred)
      }
    }
    kmers.select(col("kmer"), col("count"),
      calibrate(col("kmer"), col("count").cast("long")).as("calibrated"))
  }

  /** The k-mer's 16 dinucleotide-context counts, x_b = the number of
    * adjacent base pairs equal to dinucleotide b ([[dinucs]] order,
    * case-insensitive). If some of the k−1 contexts hold a non-ACGT base the
    * counts are scaled by (k−1)/n_valid; None when no context is valid. */
  private def contexts(kmer: String): Option[Array[Double]] = {
    val u = kmer.toUpperCase(Locale.ROOT)
    val x = new Array[Double](16)
    var nValid = 0
    for (p <- 0 until u.length - 1) {
      val i = "ACGT".indexOf(u(p).toInt)
      val j = "ACGT".indexOf(u(p + 1).toInt)
      if (i >= 0 && j >= 0) { x(4 * i + j) += 1; nValid += 1 }
    }
    if (nValid == 0) None
    else {
      val scale = (kmer.length - 1).toDouble / nValid // 1.0 when all are valid
      for (b <- x.indices) x(b) *= scale
      Some(x)
    }
  }

  /** Solve the symmetric system (upper triangle of `a`, right-hand side
    * `b`; both overwritten) by no-pivot Gaussian elimination: each update
    * is written x - (p / q) * y and back substitution subtracts in
    * ascending-j order, the exact shapes [[exactSolveSql]] emits. A Gram
    * of a full-column-rank design is SPD, so every pivot is positive; a
    * pivot at or below 1e-9 of its original diagonal drops its column
    * (weight 0, no elimination step). */
  private def solve(a: Array[Array[Double]], b: Array[Double]): Array[Double] = {
    val d = b.length
    val diag = Array.tabulate(d)(i => a(i)(i))
    def live(i: Int) = a(i)(i) > 1e-9 * diag(i)
    for (kk <- 0 until d - 1 if live(kk); i <- kk + 1 until d) {
      for (j <- i until d)
        a(i)(j) = a(i)(j) - (a(kk)(i) / a(kk)(kk)) * a(kk)(j)
      b(i) = b(i) - (a(kk)(i) / a(kk)(kk)) * b(kk)
    }
    val w = new Array[Double](d)
    for (i <- d - 1 to 0 by -1 if live(i)) {
      var s = b(i)
      for (j <- i + 1 until d) s = s - a(i)(j) * w(j)
      w(i) = s / a(i)(i)
    }
    w
  }

  /** ACGT-ordered dinucleotides — index b = 4·idx(first) + idx(second),
    * the same ordering Kmers.dinucFeatures bins into. */
  val dinucs: Seq[String] = for (x <- "ACGT"; y <- "ACGT") yield s"$x$y"

  /** The DuckDB mirror of [[kmerBiasFit]]'s solve: CTEs from a relation
    * `f(kmer, cnt, c0..c15)` of DNA-alphabet k-mers (every context valid,
    * full-rank design) to the final SELECT of the fit's calibrated
    * abundance rounded to 6 dp. Every elimination/back-substitution term
    * is generated with the same association order as the Scala loops, so
    * the double arithmetic is bit-identical given identical inputs: exact
    * integer Gram, and Xᵀy summed as exact ×1e6-scaled integers (per-row
    * floor-quantized ln — addition-order independent, so no FP-boundary
    * caveat survives). */
  def exactSolveSql(d: Int = 16): String = {
    val gram =
      (for { i <- 0 until d; j <- i until d }
        yield s"CAST(sum(c$i*c$j) AS DOUBLE) AS a${i}_$j") ++
      (0 until d).map(i =>
        s"sum(c$i * CAST(floor(ln(cnt) * 1e6) AS BIGINT)) / 1e6 AS b$i") ++
      Seq("CAST(sum(cnt) AS BIGINT) AS total", "count(*) AS n")
    val g = s"g AS (SELECT\n    ${gram.mkString(",\n    ")}\n  FROM f)"
    val steps = (0 until d - 1).map { kk =>
      val src = if (kk == 0) "g" else s"e${kk - 1}"
      val cols = scala.collection.mutable.Buffer[String]()
      for (p <- 0 to kk; q <- p until d) cols += s"a${p}_$q"
      for (p <- 0 to kk) cols += s"b$p"
      for (i <- kk + 1 until d) {
        for (j <- i until d)
          cols += s"a${i}_$j - (a${kk}_$i / a${kk}_$kk) * a${kk}_$j AS a${i}_$j"
        cols += s"b$i - (a${kk}_$i / a${kk}_$kk) * b$kk AS b$i"
      }
      cols += "total"; cols += "n"
      s"e$kk AS (SELECT ${cols.mkString(", ")} FROM $src)"
    }
    val ws = (d - 1 to 0 by -1).map { i =>
      val src = if (i == d - 1) s"e${d - 2}" else s"w${i + 1}"
      val terms = (i + 1 until d).map(j => s" - a${i}_$j * w$j").mkString
      s"w$i AS (SELECT *, (b$i$terms) / a${i}_$i AS w$i FROM $src)"
    }
    val predTerms = (0 until d).map(i => s"m.w$i*f.c$i").mkString(" + ")
    (Seq(g) ++ steps ++ ws).mkString(",\n") + s"""
      |SELECT f.kmer,
      |  round(exp(ln(m.total * 1.0 / m.n) + ln(f.cnt) - ($predTerms)), 6)
      |    AS cal_count
      |FROM f, w0 m ORDER BY f.kmer""".stripMargin
  }

  /** Recalibrate transcript abundances for length bias
    * (Tare.scala:150-193). As-built semantics preserved exactly, including
    * the quirk that the fitted line is applied to the abundance µ̂ itself,
    * not to log-length (Tare.scala:187, SURVEY F6):
    *
    *   cal_i = exp(mean + slope·µ̂_i + intercept − µ̂_i),  mean = −log(n_sample)
    *
    * then renormalized to Σ = 1 (Tare.scala:189-192).
    *
    * The line is fitted on the µ̂ > 0 only (log 0 would make every sum, and
    * so every output, NaN), and a µ̂ of 0 stays 0. A fit with fewer than two
    * positive µ̂, or with all their lengths equal, has no slope
    * (n·sxx − sx² = 0): it logs a warning and µ̂ passes through uncalibrated,
    * apart from the renormalization.
    *
    * @param muHat DataFrame(tid, muHat) — abundances ≥ 0
    * @param tLen  DataFrame(tid, len)
    * @return DataFrame(tid, muHat) calibrated
    */
  def calibrateTxLenBias(muHat: DataFrame, tLen: DataFrame,
      samplingRate: Double = 1.0): DataFrame = {
    // driver-side OLS on the (small, possibly sampled) (log µ̂, log len) pairs
    val local = muHat.join(broadcast(tLen), "tid")
      .select(col("muHat"), col("len").cast("double"))
      .sample(withReplacement = false, samplingRate)
      .collect()
      .filter(_.getDouble(0) > 0)
      .map(r => (math.log(r.getDouble(0)), math.log(r.getDouble(1))))

    val calibrated =
      if (local.length < 2 || local.forall(_._2 == local.head._2)) {
        logger.warn(s"length-bias fit is degenerate (${local.length} positive " +
          "abundance(s), distinct lengths needed); abundances are not length-calibrated")
        col("muHat")
      } else {
        val n = local.length.toDouble
        val mean = -math.log(n)
        val sx = local.map(_._2).sum
        val sy = local.map(_._1).sum
        val sxx = local.map(p => p._2 * p._2).sum
        val sxy = local.map(p => p._1 * p._2).sum
        // closed-form normal equations for y = slope·x + intercept (the
        // reference solves the same 2×2 system with jblas, Tare.scala:168-176)
        val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        val intercept = (sy - slope * sx) / n
        when(col("muHat") > 0, exp(lit(mean) +
          (lit(slope) * col("muHat") + lit(intercept)) - col("muHat"))).otherwise(0.0)
      }
    val cal = muHat.withColumn("cal", calibrated)
    // Σ=1 renormalization (Tare.scala:189-192) via broadcast scalar agg
    cal.crossJoin(broadcast(cal.agg(sum("cal").as("totalCal"))))
      .select(col("tid"), (col("cal") / col("totalCal")).as("muHat"))
  }
}

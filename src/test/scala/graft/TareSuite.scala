package graft

import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.regression.LinearRegression
import org.apache.spark.sql.{DataFrame, functions}
import org.apache.spark.sql.functions._
import scala.math.{exp, log}
import scala.util.Random
import graft.calibrate.Tare
import graft.kmer.Kmers
import graft.utils.TranscriptGenerator

/** Port of the reference's TareSuite invariants
  * (rice-core/.../algorithms/TareSuite.scala), driven through columns.
  */
class TareSuite extends SparkSuite {
  import spark.implicits._

  private def featurize(kmer: String): Array[Double] =
    Seq(kmer).toDF("kmer").select(Kmers.dinucFeatures(col("kmer")))
      .head().getSeq[Double](0).toArray

  test("can't process illegal k-mers") { // TareSuite.scala:36-46
    for (bad <- Seq("AN", "A", "ANTNC")) {
      try {
        val r = featurize(bad)
        fail(s"no exception for $bad, got: ${r.mkString(",")}")
      } catch {
        case e: org.scalatest.exceptions.TestFailedException => throw e
        case e: Throwable =>
          assert(e.getMessage.contains("valid"), s"for $bad got: ${e.getClass} ${e.getMessage}")
      }
    }
  }

  test("chop a 2-mer into a feature") { // TareSuite.scala:48-58
    val featureAA = featurize("AA")
    assert(fpEquals(featureAA(0), 1.0))
    (1 to 15).foreach(i => assert(fpEquals(featureAA(i), 0.0)))
    val featureTT = featurize("TT")
    assert(fpEquals(featureTT(15), 1.0))
    (0 to 14).foreach(i => assert(fpEquals(featureTT(i), 0.0)))
  }

  test("chop an 5-mer with a bad base into a feature") { // TareSuite.scala:60-66
    val feature = featurize("AANTT")
    assert(fpEquals(feature(0), 0.5))
    assert(fpEquals(feature(15), 0.5))
    (1 to 14).foreach(i => assert(fpEquals(feature(i), 0.0)))
  }

  test("generate biased kmers and try correcting their counts") { // TareSuite.scala:68-94
    val sampleString = TranscriptGenerator.generateString(500, new Random(121212L))
    val kmerSamples = sampleString.sliding(15).map { s =>
      val gc = s.count(c => c == 'C' || c == 'G').toDouble / 15.0
      (s, (100.0 * exp(2.0 + 1.0 * (gc - 0.5))).toLong)
    }.toSeq

    val df = kmerSamples.toDF("kmer", "count")
    val Array(origMax, origMin) =
      df.agg(max("count"), min("count")).head().toSeq.map(_.asInstanceOf[Long]).toArray
    val cal = Tare.calibrateKmers(df).cache()
    val Array(newMax, newMin) =
      cal.agg(max("count"), min("count")).head().toSeq.map(_.asInstanceOf[Long]).toArray
    assert(origMax > newMax)
    assert(origMin < newMin)
  }

  /** Test-side reference for the k-mer bias fit: spark.ml
    * LinearRegression of ln(count) on the normalized dinucleotide histogram
    * (Kmers.dinucFeatures) plus an intercept, its residual rescaled to the
    * sample mean — the reference's design (Tare.scala:110-136).
    * @return kmer → calibrated abundance */
  private def mlReference(kmers: DataFrame): Map[String, Double] = {
    val f = kmers
      .withColumn("label", functions.log($"count".cast("double")))
      .withColumn("features", array_to_vector(Kmers.dinucFeatures($"kmer")))
    val mean = math.log(f.agg(avg($"count")).head().getDouble(0))
    new LinearRegression().setFitIntercept(true).fit(f).transform(f)
      .select($"kmer", functions.exp(lit(mean) + $"label" - $"prediction"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
  }

  private def dna(n: Int, rand: Random): String =
    Seq.fill(n)("ACGT"(rand.nextInt(4))).mkString

  /** GC-biased counts, as the reference's biased-k-mer fixture draws them. */
  private def gcBiased(kmers: Seq[String]): DataFrame = kmers.map { s =>
    val gc = s.count(ch => "CGcg".contains(ch)).toDouble / s.length
    (s, (100.0 * exp(2.0 + 1.0 * (gc - 0.5))).toLong)
  }.toDF("kmer", "count")

  /** The fit against [[mlReference]] on `kmers`: the calibrated abundance
    * to 1e-6 relative, and calibrateKmers' Long within 1.01 of it. */
  private def assertMatchesReference(kmers: DataFrame): Unit = {
    val ref = mlReference(kmers)
    val fit = Tare.kmerBiasFit(kmers).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    val floored = Tare.calibrateKmers(kmers).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fit.keySet === ref.keySet)
    assert(floored.keySet === ref.keySet)
    ref.foreach { case (k, v) =>
      assert(math.abs(fit(k) - v) <= 1e-6 * v, s"$k: fit=${fit(k)} vs ml=$v")
      assert(math.abs(floored(k) - v) < 1.01, s"$k: floored=${floored(k)} vs ml=$v")
    }
  }

  test("the k-mer bias fit matches the spark.ml reference on all 256 4-mers") {
    // the no-intercept fit on raw integer dinucleotide counts and spark.ml's
    // fit-with-intercept on the normalized histogram span the same column
    // space, so their OLS projections coincide
    val bases = "ACGT"
    assertMatchesReference(gcBiased(
      for (a <- bases; b <- bases; c <- bases; d <- bases) yield s"$a$b$c$d"))
  }

  test("k = 20 k-mers with N bases: N-scaled counts keep the reference's fit") {
    // k-mers of a random sequence, every fifth with one to three bases
    // masked to N (upper or lower case), some of them in lower case
    val rand = new Random(20200L)
    val kmers = dna(600, rand).sliding(20).zipWithIndex.map { case (s, i) =>
      if (i % 5 != 0) s
      else (1 to 1 + rand.nextInt(3)).foldLeft(s) { (m, _) =>
        m.updated(rand.nextInt(20), if (rand.nextBoolean()) 'N' else 'n')
      }
    }.map(s => if (s.hashCode % 7 == 0) s.toLowerCase else s).toSeq.distinct
    assert(kmers.exists(_.exists("Nn".contains(_))))
    val fixture = gcBiased(kmers)
    assertMatchesReference(fixture)
    // a k-mer with no valid context stays out of the fit and of the mean
    // (the reference rejects it) and keeps its raw count
    val noContext = Seq(("N" * 20, 17L), ("ANNNNNNNNNNNNNNNNNNA", 4L)).toDF("kmer", "count")
    val withNoContext = Tare.kmerBiasFit(fixture.union(noContext)).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    val fit = Tare.kmerBiasFit(fixture).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(withNoContext("N" * 20) === 17.0)
    assert(withNoContext("ANNNNNNNNNNNNNNNNNNA") === 4.0)
    assert(withNoContext.size === fit.size + 2)
    // N-scaled rows make the sums inexact, so summation order may move ulps
    fit.foreach { case (k, v) => assert(math.abs(withNoContext(k) - v) <= 1e-12 * v, k) }
  }

  test("a rank-deficient design keeps the reference's fit") {
    // only the AC, CA, AG and GA contexts occur: 12 of the 16 columns are
    // zero and the rest are collinear with the constant
    val kmers = Seq("ACACACAC", "CACACACA", "AGAGAGAG", "GAGAGAGA", "ACAGACAG",
      "CAGACAGA", "AGACAGAC", "GACAGACA")
    assertMatchesReference(
      kmers.zipWithIndex.map { case (k, i) => (k, 10L + 7L * i) }.toDF("kmer", "count"))
  }

  /** Counted k-mers of a seeded random DNA string. */
  private def dnaKmerCounts(n: Int, k: Int, seed: Long): Seq[(String, Long)] =
    dna(n, new Random(seed)).sliding(k).toSeq.groupBy(identity)
      .map { case (s, hits) => (s, hits.size.toLong) }.toSeq.sortBy(_._1)

  test("the k-mer bias fit equals exactSolveSql run by Spark SQL, row for row") {
    // q26's oracle shape: f(kmer, cnt, c0..c15) with integer context counts
    val counts = dnaKmerCounts(3000, 4, 2626L)
    val f = counts.map { case (s, cnt) =>
      val c = Array.fill(16)(0L)
      s.sliding(2).foreach(p => c(Tare.dinucs.indexOf(p)) += 1)
      (s, cnt, c.toSeq)
    }.toDF("kmer", "cnt", "c")
      .select(($"kmer" +: $"cnt" +: (0 until 16).map(b => $"c"(b).as(s"c$b"))): _*)
    f.createOrReplaceTempView("f")
    try {
      val sql = spark.sql("WITH " + Tare.exactSolveSql()).collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
      val fit = Tare.kmerBiasFit(counts.toDF("kmer", "count"))
        .select($"kmer", round($"calibrated", 6)).orderBy($"kmer").collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
      assert(sql.length === 256)
      assert(fit === sql)
    } finally spark.catalog.dropTempView("f")
  }

  test("the k-mer bias fit does not depend on the partitioning") {
    // every context valid: the Gram and Xᵀy partials are exact integers,
    // so summing them per partition in any grouping gives the same bits
    val kmers = dnaKmerCounts(4000, 6, 777L).toDF("kmer", "count")
    def bits(parts: Int): Map[String, Long] =
      Tare.kmerBiasFit(kmers.repartition(parts)).collect()
        .map(r => r.getString(0) ->
          java.lang.Double.doubleToRawLongBits(r.getDouble(2))).toMap
    val one = bits(1)
    assert(one.size === kmers.count())
    assert(bits(7) === one)
  }

  test("calibrateTxLenBias keeps a µ̂ of 0 at 0 and fits on the positive µ̂") {
    val muHat = Seq(("a", 0.5), ("b", 0.5), ("c", 0.0)).toDF("tid", "muHat")
    val tLen = Seq(("a", 100L), ("b", 300L), ("c", 200L)).toDF("tid", "len")
    val cal = Tare.calibrateTxLenBias(muHat, tLen)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(cal.size === 3)
    assert(cal("c") === 0.0)
    Seq("a", "b").foreach(t => assert(fpEquals(cal(t), 0.5), s"at $t: ${cal(t)}"))
  }

  test("calibrateTxLenBias with a degenerate fit leaves µ̂ unchanged") {
    // one positive µ̂, then two positive µ̂ of one length: no slope either way
    for ((mus, lens) <- Seq((Seq(1.0, 0.0, 0.0), Seq(100L, 300L, 200L)),
        (Seq(0.25, 0.75, 0.0), Seq(150L, 150L, 90L)))) {
      val ids = mus.indices.map(i => s"t$i")
      val cal = Tare.calibrateTxLenBias(ids.zip(mus).toDF("tid", "muHat"),
        ids.zip(lens).toDF("tid", "len"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(cal === ids.zip(mus).toMap)
    }
  }

  test("calibrateTxLenBias for 4 hand-picked values") { // TareSuite.scala:96-118
    val muHat = Seq(("a", 0.28), ("b", 0.17), ("c", 0.31), ("d", 0.24)).toDF("tid", "muHat")
    val tLen = Seq(("a", 28L), ("b", 17L), ("c", 31L), ("d", 24L)).toDF("tid", "len")
    val cal = Tare.calibrateTxLenBias(muHat, tLen)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(cal.size === 4)
    Seq("a", "b", "c", "d").foreach(t => assert(fpEquals(cal(t), 0.25), s"at $t"))
  }

  private def lengthOnlyVariation(dataSize: Int): Unit = { // TareSuite.scala:120-147
    val rand = new Random(113402062015L)
    val r = (0 to dataSize).map(i => (i.toString, 1L + rand.nextInt(10)))
    val sum = r.map(_._2).sum.toDouble
    val muHat = r.map(x => (x._1, x._2 / sum)).toDF("tid", "muHat")
    val tLen = r.toDF("tid", "len")
    val cal = Tare.calibrateTxLenBias(muHat, tLen).collect()
    cal.foreach(row => assert(fpEquals(row.getDouble(1), 1.0 / (dataSize + 1))))
  }

  test("randomized calibrateTxLenBias, small data size") { lengthOnlyVariation(10) }
  test("randomized calibrateTxLenBias, larger data size") { lengthOnlyVariation(10000) }
}

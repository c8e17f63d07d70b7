package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.index.Indexer
import graft.model.{Exon, Read, ReferenceRegion, Transcript}
import graft.quantify.Quantify
import graft.utils.{ReadGenerator, TranscriptGenerator}

/** Port of the reference's QuantifySuite — the same hand-computed expected
  * fractions and end-to-end statistical fixtures, driven through the
  * DataFrame API (reference rice-core/.../algorithms/QuantifySuite.scala).
  */
class QuantifySuite extends SparkSuite {
  import spark.implicits._

  // stub genome from QuantifySuite.scala:31-37
  val testSeq = "CAATCCTTCGCCGCAGTGCA"

  test("mapKmersToClasses totals counts per class") { // QuantifySuite.scala:49-61
    val kmerToEc = Seq(("a", 2L), ("b", 3L), ("c", 2L), ("d", 1L), ("e", 3L)).toDF("kmer", "ec")
    val kmerCounts = Seq(("d", 80L), ("a", 25L), ("c", 35L), ("b", 37L), ("e", 38L)).toDF("kmer", "count")
    val got = Quantify.mapKmersToClasses(kmerCounts, kmerToEc)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 80L, 2L -> 60L, 3L -> 75L))
  }

  test("initializeEM splits counts equally across member transcripts") { // :63-98
    val ecCounts = Seq((1L, 45L), (2L, 52L), (3L, 49L)).toDF("ec", "count")
    val ecToTx = (
      ('a' to 'm').map(c => (2L, c.toString)) ++
      ('a' to 'g').map(c => (3L, c.toString)) ++
      ('a' to 'e').map(c => (1L, c.toString))).toDF("ec", "tid")
    val alpha = Quantify.initializeEM(ecCounts, ecToTx)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(alpha.count(_._1._1 == 1L) === 5)
    assert(alpha.filter(_._1._1 == 1L).values.forall(fpEquals(_, 9.0)))
    assert(alpha.count(_._1._1 == 2L) === 13)
    assert(alpha.filter(_._1._1 == 2L).values.forall(fpEquals(_, 4.0)))
    assert(alpha.count(_._1._1 == 3L) === 7)
    assert(alpha.filter(_._1._1 == 3L).values.forall(fpEquals(_, 7.0)))
  }

  test("e step computes per-class alpha ratios") { // QuantifySuite.scala:100-241
    val weights = Seq(("a", 2.0), ("b", 3.0), ("c", 4.0), ("d", 5.0)).toDF("tid", "muHat")
    val membership = Seq(
      "a" -> Seq(1L, 3L, 5L, 6L), "b" -> Seq(2L, 4L, 5L),
      "c" -> Seq(1L, 2L, 5L, 6L, 7L), "d" -> Seq(1L, 2L, 3L))
      .flatMap { case (t, ecs) => ecs.map(ec => (ec, t)) }.toDF("ec", "tid")
    val alpha = Quantify.eStep(weights, membership)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
    val expected = Map(
      (1L, "a") -> 2.0 / 11, (1L, "c") -> 4.0 / 11, (1L, "d") -> 5.0 / 11,
      (2L, "b") -> 0.25, (2L, "c") -> 1.0 / 3, (2L, "d") -> 5.0 / 12,
      (3L, "a") -> 2.0 / 7, (3L, "d") -> 5.0 / 7,
      (4L, "b") -> 1.0,
      (5L, "a") -> 2.0 / 9, (5L, "b") -> 1.0 / 3, (5L, "c") -> 4.0 / 9,
      (6L, "a") -> 1.0 / 3, (6L, "c") -> 2.0 / 3,
      (7L, "c") -> 1.0)
    assert(alpha.keySet === expected.keySet)
    expected.foreach { case (k, v) => assert(equalDouble(alpha(k), v), s"at $k") }
  }

  test("m step computes normalized mu-hat") { // QuantifySuite.scala:243-316
    val alpha = Seq(
      (1L, "a", 0.6), (1L, "c", 0.4),
      (2L, "b", 0.1), (2L, "d", 0.5), (2L, "a", 0.4),
      (3L, "a", 1.0),
      (4L, "c", 0.7), (4L, "a", 0.3)).toDF("ec", "tid", "alpha")
    val tLen = Seq(("a", 5L), ("b", 6L), ("c", 7L), ("d", 3L)).toDF("tid", "len")
    val relEc = Seq((1L, 0.25), (2L, 0.25), (3L, 0.25), (4L, 0.25)).toDF("ec", "kj")
    val mu = Quantify.mStep(alpha, relEc, tLen, 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(equalDouble(mu("a"), 460.0 / 907))
    assert(equalDouble(mu("b"), 15.0 / 907))
    assert(equalDouble(mu("c"), 132.0 / 907))
    assert(equalDouble(mu("d"), 300.0 / 907))
  }

  test("extract lengths from transcripts") { // QuantifySuite.scala:322-340
    val exons1 = Seq(Exon("e1", "t1", true, ReferenceRegion("1", 0L, 101L)),
      Exon("e2", "t1", true, ReferenceRegion("1", 200L, 401L)),
      Exon("e3", "t1", true, ReferenceRegion("1", 500L, 576L)))
    val exons2 = Seq(Exon("e1", "t2", false, ReferenceRegion("1", 600L, 651L)),
      Exon("e2", "t2", false, ReferenceRegion("1", 200L, 401L)),
      Exon("e3", "t2", false, ReferenceRegion("1", 125L, 176L)),
      Exon("e4", "t2", false, ReferenceRegion("1", 25L, 76L)))
    val ds = Seq(
      Transcript("t1", Seq("t1"), "g1", true, exons1),
      Transcript("t2", Seq("t2"), "g1", false, exons2)).toDS()
    val lengths = Quantify.transcriptLengths(ds)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(lengths === Map("t1" -> 375L, "t2" -> 350L))
  }

  test("index of stub genome groups shared-multiplicity kmers") { // :432-482
    val transcripts = Seq(
      ("transcript1", Seq(Exon("exon1", "transcript1", true, ReferenceRegion("region1", 0L, 10L)))),
      ("transcript2", Seq(Exon("exon2", "transcript2", true, ReferenceRegion("region2", 11L, 20L)))))
      .toDF("id", "exons")
      .select(col("id"), expr("transform(exons, e -> struct(e.region.start AS start, e.region.end AS end))").as("exons"))
    val idx = Indexer.fromGenome(spark, transcripts, testSeq, 5, deterministicIds = true)

    val kToEq = idx.kmerToEc.collect().map(r => r.getString(0) -> r.getLong(1))
    assert(kToEq.count(_._1 == "CAATC") === 1)
    assert(kToEq.count(_._1 == "GTGCA") === 1)
    assert(kToEq.count(_._1 == "CTTCG") === 1)
    val class1 = kToEq.find(_._1 == "CAATC").get._2
    val class2 = kToEq.find(_._1 == "GTGCA").get._2
    val class3 = kToEq.find(_._1 == "CTTCG").get._2
    assert(class1 != class2)
    assert(class1 === class3)

    val eqToK = idx.ecToKmers.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(eqToK(class1).contains("CAATC"))
    assert(eqToK(class1).contains("CTTCG"))
    assert(!eqToK(class1).contains("GTGCA"))
    assert(eqToK(class2).contains("GTGCA"))
    assert(!eqToK(class2).contains("CAATC"))

    // ids are unique per class (QuantifySuite.scala:467-471's contract)
    val ecToTx = idx.ecToTx.collect()
    assert(ecToTx.map(_.getLong(0)).distinct.length === ecToTx.length)
  }

  test("e step is skew-safe: one hot class holding half the edges") {
    // SURVEY §7.4's watch item: equivalence classes are naturally skewed.
    // Build a membership table where ONE class holds 50% of all edges and
    // assert (a) the plan has no Window — the per-class normalization must
    // be the partial-agg + join-back shape, which map-side-combines the hot
    // key and lets AQE split the join — and (b) values stay exact.
    val nHot = 2000
    val hot = (0 until nHot).map(i => (0L, s"t$i"))
    val cold = (0 until nHot).map(i => ((i % 500) + 1L, s"t$i"))
    val membership = (hot ++ cold).toDF("ec", "tid")
    val weights = (0 until nHot).map(i => (s"t$i", (i % 7 + 1).toDouble))
      .toDF("tid", "muHat")

    val alpha = Quantify.eStep(weights, membership)
    assert(!alpha.queryExecution.optimizedPlan.toString.contains("Window"),
      "E step must not window-partition by ec — a hot class would serialize")

    val rows = alpha.collect().map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(rows.size === 2 * nHot)
    // hot class: alpha(t_i) = w_i / Σ w over ALL transcripts
    val totalW = (0 until nHot).map(i => (i % 7 + 1).toDouble).sum
    assert(fpEquals(rows((0L, "t13")), (13 % 7 + 1).toDouble / totalW))
    // every class's alphas sum to 1
    val byClass = rows.groupBy(_._1._1).map { case (ec, m) => ec -> m.values.sum }
    byClass.foreach { case (ec, s) => assert(fpEquals(s, 1.0, 1e-9), s"class $ec") }
  }

  /** Shared e2e runner: quantify generated reads and return tid → abundance. */
  private def runQuantify(transcripts: Seq[String], names: Seq[String],
      kmerMap: Map[String, Long], classMap: Map[Long, Iterable[String]],
      reads: Seq[Read], k: Int, iterations: Int,
      calibrate: Boolean = false): Map[String, Double] = {
    val readsDs = reads.toDS()
    val kmerToEc = kmerMap.toSeq.toDF("kmer", "ec")
    val ecToTx = classMap.toSeq.flatMap { case (ec, ts) => ts.map(t => (ec, t)) }.toDF("ec", "tid")
    val txDs = names.zip(transcripts.map(_.length)).map { case (n, len) =>
      Transcript(n, Seq(n), n, true,
        Seq(Exon(n + "exon", n, true, ReferenceRegion(n, 0L, len.toLong))))
    }.toDS()
    val out = Quantify(readsDs, kmerToEc, ecToTx, txDs, k, iterations,
      calibrateKmerBias = calibrate, calibrateLengthBias = calibrate)
    // J3 parity: the full transcript descriptor rides along with the
    // abundance (reference Quantify.scala:286-295 returns (Transcript, Double))
    assert(out.columns.toSeq ===
      Seq("tid", "names", "geneId", "strand", "exons", "abundance"))
    out.select("tid", "abundance")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
  }

  test("quantify unique transcripts") { // QuantifySuite.scala:383-424
    val tLen = Seq(1000, 600, 400, 550, 1275, 1400)
    val (transcripts, names, kmerMap, classMap) =
      TranscriptGenerator.generateIndependentTranscripts(20, tLen, Some(1234L))
    val reads = ReadGenerator(transcripts, Seq(0.2, 0.1, 0.3, 0.2, 0.1, 0.1), 10000, 75, Some(4321L))
    val ab = runQuantify(transcripts, names, kmerMap, classMap, reads, 20, 20)
    assert(ab.size === 6)
    assert(fpEquals(ab("0"), 0.2, 0.05))
    assert(fpEquals(ab("1"), 0.1, 0.05))
    assert(fpEquals(ab("2"), 0.3, 0.05))
    assert(fpEquals(ab("3"), 0.2, 0.05))
    assert(fpEquals(ab("4"), 0.1, 0.05))
    assert(fpEquals(ab("5"), 0.1, 0.05))
  }

  test("quantify where all abundance variation is due to length bias") { // :589-630
    val tLen = Seq(1000, 600, 400, 550, 1275, 1400)
    val (transcripts, names, kmerMap, classMap) =
      TranscriptGenerator.generateIndependentTranscripts(20, tLen, Some(1234L))
    val totLen = tLen.sum.toDouble
    val reads = ReadGenerator(transcripts, tLen.map(_ / totLen), 10000, 75, Some(4321L))
    val ab = runQuantify(transcripts, names, kmerMap, classMap, reads, 20, 20,
      calibrate = true)
    assert(ab.size === 6)
    names.foreach(n => assert(fpEquals(ab(n), 1.0 / 6, 0.05), s"at $n"))
  }

  test("quantify with a weaker length bias: calibration moves directionally") { // :632-677
    val tLen = Seq(1000, 600, 400, 550, 1275, 1400)
    val (transcripts, names, kmerMap, classMap) =
      TranscriptGenerator.generateIndependentTranscripts(20, tLen, Some(1234L))
    val reads = ReadGenerator(transcripts, Seq(0.2, 0.1, 0.05, 0.2, 0.05, 0.4), 10000, 75, Some(4321L))
    val ab = runQuantify(transcripts, names, kmerMap, classMap, reads, 20, 20,
      calibrate = true)
    assert(ab.size === 6)
    // shortest transcript: length bias depressed it → calibration raises it
    assert(ab("2") > 0.05)
    // longest transcript: length bias inflated it → calibration lowers it
    assert(ab("5") < 0.4)
  }

  test("quantify a small set of more realistic but unbiased transcripts") { // :484-544
    val classSize = Seq(1000, 500, 700, 400, 400, 200, 100)
    val classMultiplicity = Seq(1, 1, 1, 1, 2, 2, 3)
    val classMembership = Seq(Set(0), Set(1, 2), Set(1, 3), Set(1, 4),
      Set(2, 5), Set(2, 6), Set(3, 6), Set(6))
    val (transcripts, names, kmerMap, classMap) = TranscriptGenerator.generateTranscripts(
      20, classSize, classMultiplicity, classMembership, Some(1000L))
    val abundances = Seq(0.05, 0.1, 0.25, 0.1, 0.05, 0.025, 0.025, 0.4)
    val reads = ReadGenerator(transcripts, abundances, 50000, 75, Some(5000L))
    val ab = runQuantify(transcripts, names, kmerMap, classMap, reads, 20, 50)
    assert(ab.size === 8)
    assert(fpEquals(ab("0"), 0.05, 0.01))
    assert(fpEquals(ab("1"), 0.1, 0.05))
    assert(fpEquals(ab("2"), 0.25, 0.05))
    assert(fpEquals(ab("3"), 0.1, 0.05))
    assert(fpEquals(ab("4"), 0.05, 0.025))
    assert(fpEquals(ab("5"), 0.025, 0.0125))
    assert(fpEquals(ab("6"), 0.025, 0.0125))
    assert(fpEquals(ab("7"), 0.4, 0.05))
  }

  test("calibrated quantify: an all-N read and scattered Ns leave the estimate defined") {
    val tLen = Seq(1000, 600, 400, 550, 1275, 1400)
    val (transcripts, names, kmerMap, classMap) =
      TranscriptGenerator.generateIndependentTranscripts(20, tLen, Some(1234L))
    // every fourth read has one to three bases masked to N
    val rand = new scala.util.Random(99L)
    val reads = ReadGenerator(transcripts, Seq(0.2, 0.1, 0.3, 0.2, 0.1, 0.1), 4000, 75,
      Some(4321L)).zipWithIndex.map { case (r, i) =>
        if (i % 4 != 0) r
        else Read((0 to rand.nextInt(3)).foldLeft(r.sequence)((s, _) =>
          s.updated(rand.nextInt(s.length), 'N')))
      }
    def run(rs: Seq[Read]) = runQuantify(transcripts, names, kmerMap, classMap, rs, 20, 20,
      calibrate = true)
    // the all-N read's one k-mer has no valid context: it is left out of the
    // bias fit and matches no class, so the estimate is the same to the bit
    // (appended last, the read moves no other read to another partition, so
    // every sum runs in the same order)
    val withAllN = run(reads :+ Read("N" * 75))
    assert(withAllN.size === 6)
    assertSimplex(withAllN.values)
    assert(withAllN === run(reads))
  }

  test("calibrated quantify of an empty read set or reads shorter than k gives zero rows") {
    val (_, kmerToEc, ecToTx, txDs) = emInputs(emWidths)
    for (reads <- Seq(Seq.empty[Read], Seq(Read("AC"), Read("G"), Read("")))) {
      val out = Quantify(reads.toDS(), kmerToEc, ecToTx, txDs, emK, 5,
        calibrateKmerBias = true, calibrateLengthBias = true)
      assert(out.count() === 0, reads)
    }
  }

  // EM fixture for the specs below, k = 3. Classes 1-4 and 6 are counted,
  // 1-3 with several members; class 5 has no read k-mer, and "f", in no
  // other class, drops out; class 7 is counted but has no member (it still
  // feeds k_j's denominator); "e" has no length row.
  private val emK = 3
  private val emReads = Seq("AAAAA", "CCCC", "GGGGGG", "TTT", "GTAC", "CATT", "AAAT")
  private val emKmers = Map("AAA" -> 1L, "CCC" -> 2L, "GGG" -> 3L, "TTT" -> 4L,
    "ACG" -> 5L, "GTA" -> 6L, "CAT" -> 7L, "AAT" -> 3L)
  private val emClasses = Map(1L -> Seq("a", "b"), 2L -> Seq("b", "c", "e"),
    3L -> Seq("a", "c", "d"), 4L -> Seq("d"), 5L -> Seq("a", "f"), 6L -> Seq("c"))
  private val emWidths = Map("a" -> 11L, "b" -> 15L, "c" -> 9L, "d" -> 21L, "f" -> 12L)

  private def emInputs(widths: Map[String, Long]) = {
    val kmerToEc = emKmers.toSeq.toDF("kmer", "ec")
    val ecToTx = emClasses.toSeq.flatMap { case (ec, ts) => ts.map(t => (ec, t)) }
      .toDF("ec", "tid")
    val txDs = widths.toSeq.map { case (n, w) =>
      Transcript(n, Seq(n), n, true, Seq(Exon(n + "exon", n, true, ReferenceRegion(n, 0L, w))))
    }.toDS()
    (emReads.map(Read(_)).toDS(), kmerToEc, ecToTx, txDs)
  }

  private def abundances(df: DataFrame, value: String): Map[String, Double] =
    df.select("tid", value).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  /** Quantify.apply (calibrations off) and the DataFrame reference chain
    * initializeEM → mStep → (eStep → mStep)×n on the same inputs. */
  private def applyAndReference(widths: Map[String, Long], n: Int) = {
    val (reads, kmerToEc, ecToTx, txDs) = emInputs(widths)
    val got = abundances(Quantify(reads, kmerToEc, ecToTx, txDs, emK, n,
      calibrateKmerBias = false, calibrateLengthBias = false), "abundance")
    val ecCounts = Quantify.mapKmersToClasses(Quantify.countKmers(reads.toDF(), emK), kmerToEc)
    val relEc = ecCounts.crossJoin(ecCounts.agg(sum("count").as("total")))
      .select($"ec", ($"count".cast("double") / $"total").as("kj"))
    val tLen = Quantify.transcriptLengths(txDs)
    var muHat = Quantify.mStep(Quantify.initializeEM(ecCounts, ecToTx), relEc, tLen, emK)
    for (_ <- 0 until n) muHat = Quantify.mStep(Quantify.eStep(muHat, ecToTx), relEc, tLen, emK)
    (got, abundances(muHat, "muHat"))
  }

  private def assertSimplex(ab: Iterable[Double]): Unit = {
    assert(ab.forall(v => !v.isNaN && !v.isInfinite && v >= 0), ab)
    assert(fpEquals(ab.sum, 1.0, 1e-9))
  }

  test("the driver-side EM equals the DataFrame reference chain") {
    for (n <- Seq(0, 1, 5)) {
      val (got, ref) = applyAndReference(emWidths, n)
      assert(got.keySet === Set("a", "b", "c", "d"), s"n = $n")
      assert(ref.keySet === got.keySet, s"n = $n")
      got.foreach { case (t, v) => assert(math.abs(v - ref(t)) <= 1e-12, s"$t at n = $n") }
      assertSimplex(got.values)
    }
  }

  test("effective lengths of 0 and below are floored at 1") {
    // len = width − 1, so with k = 3 "a" has len − k + 1 = 0 and "c" −1;
    // the reference chain floors through the same helper
    val widths = emWidths ++ Map("a" -> 3L, "c" -> 2L)
    val (got, ref) = applyAndReference(widths, 5)
    assert(got.keySet === Set("a", "b", "c", "d"))
    assertSimplex(got.values)
    got.foreach { case (t, v) => assert(math.abs(v - ref(t)) <= 1e-12, t) }
  }

  test("a zero-count class contributes nothing and leaves the estimate finite") {
    // t2 is only in zero-count classes 1 and 3, so its µ is 0 and class
    // 1's µ total is 0 in every E step
    val mu = Quantify.emLoop(edgeClass = Array(0, 0, 1, 2, 3, 3),
      edgeTx = Array(0, 1, 2, 1, 0, 2), classCount = Array(5.0, 0.0, 3.0, 0.0),
      effLen = Array(4.0, 2.0, 1.0), iterations = 5)
    assertSimplex(mu)
    assert(mu(0) > 0 && mu(1) > 0)
    assert(mu(2) === 0.0)
    // with no count at all the estimate is the equal split
    val none = Quantify.emLoop(Array(0, 1), Array(0, 1), Array(0.0, 0.0),
      Array(4.0, 2.0), iterations = 3)
    assert(none.toSeq === Seq(0.5, 0.5))
  }

  test("uncalibrated quantify: no read k-mer in the index gives zero rows and a warning") {
    val (reads, kmerToEc, ecToTx, txDs) = emInputs(emWidths)
    def run(rs: Seq[Read], k: Int): (Long, Seq[String]) = {
      var rows = -1L
      val warned = quantifyWarnings {
        rows = Quantify(rs.toDS(), kmerToEc, ecToTx, txDs, k, 5,
          calibrateKmerBias = false, calibrateLengthBias = false).count()
      }
      (rows, warned.filter(_.contains("matches the index")))
    }
    // an empty read set, reads shorter than k, and a k the index was not built with
    for ((rs, k) <- Seq((Seq.empty[Read], emK), (Seq(Read("AC"), Read("G"), Read("")), emK),
        (emReads.map(Read(_)), emK + 1))) {
      val (rows, warned) = run(rs, k)
      assert(rows === 0, (rs, k))
      assert(warned.size === 1, (rs, k))
    }
    val (rows, warned) = run(emReads.map(Read(_)), emK)
    assert(rows === 4)
    assert(warned.isEmpty)
  }

  /** Messages that Quantify logs while `body` runs. */
  private def quantifyWarnings(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val logger = LogManager.getLogger(Quantify.getClass.getName).asInstanceOf[Logger]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("quantify-warnings", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    logger.addAppender(appender)
    try body
    finally { logger.removeAppender(appender); appender.stop() }
    seen.toArray(Array.empty[String]).toSeq
  }

  test("Quantify.apply's Spark job count does not depend on the iteration count") {
    val (reads, kmerToEc, ecToTx, txDs) = emInputs(emWidths)
    val jobs = Seq(1, 50).map { n =>
      spark.catalog.clearCache()
      jobsSubmitted {
        Quantify(reads, kmerToEc, ecToTx, txDs, emK, n,
          calibrateKmerBias = false, calibrateLengthBias = false).collect()
      }
    }
    assert(jobs.head > 0)
    assert(jobs.head === jobs.last)
  }

  /** Spark jobs submitted while `body` runs, as a SparkListener sees them:
    * the body runs in its own job group, and a marker job in a second group
    * shows that the listener has been sent every earlier job's start. */
  private def jobsSubmitted(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"quantify-jobs-${System.nanoTime()}"
    val marker = group + "-end"
    val jobs = new AtomicInteger
    val seen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`marker`) => seen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      body
      sc.setJobGroup(marker, marker)
      sc.parallelize(Seq(1), 1).count()
      assert(seen.await(60, TimeUnit.SECONDS), "listener never saw the marker job")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    jobs.get
  }
}

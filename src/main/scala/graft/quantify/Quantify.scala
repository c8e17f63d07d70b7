package graft.quantify

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, StructField, StructType}
import graft.kmer.Kmers
import graft.model.{Read, Transcript}

/** Sailfish-style EM abundance quantification — the Spark-SQL re-expression
  * of the reference's Quantify (rice-core .../algorithms/Quantify.scala:42-295).
  *
  * Every groupByKey of the reference becomes a hash aggregate with partial
  * (map-side) aggregation; the E-step's per-class normalization
  * (Quantify.scala:200-212, SURVEY A6) is a partial aggregate of class
  * totals joined back to the edges — NOT a window, see eStep; the M-step
  * normalizer (Quantify.scala:263-274, SURVEY A8) is a broadcast scalar
  * over the tiny per-transcript frame.
  *
  * Scale design: the distributed part ends at the per-class read counts —
  * k-mer counting, the k-mer → class join and the class aggregate scale
  * with the read set. The EM itself runs over the (class, transcript)
  * membership edges of the counted classes, and those number one per
  * (transcript, multiplicity) class (Indexer), so they grow with the
  * annotation, not the reads. They are collected ONCE, with the class
  * counts and effective lengths, and every iteration is a loop over flat
  * arrays on the driver ([[emLoop]]), as Sailfish and Salmon run it in
  * memory: no Spark job per iteration, and a job count that does not
  * depend on `maxIterations`. µ stays UNNORMALIZED across iterations (the
  * E step is scale-invariant), and Σ=1 is applied once at the end. The
  * length calibration ([[graft.calibrate.Tare.lengthBias]]) runs over the
  * same arrays, so the whole tail after the collect is on the driver. The
  * DataFrame steps [[initializeEM]], [[eStep]] and [[mStep]] remain the
  * query-surface and reference form of the same math.
  *
  * Each input is read once. The read k-mer counts are one aggregate: with
  * k-mer calibration on, [[graft.calibrate.Tare.kmerBiasFit]] executes it
  * once, and the class map reads its shuffle output. The annotation is
  * collected once, in one job that runs beside the read counting, as
  * descriptors plus lengths: the driver looks the edges' lengths up in it,
  * and the result is a local relation of the collected descriptors of the
  * transcripts that have a µ̂, plus their abundance. There is no final
  * join, and no second scan of the annotation.
  *
  * The EM is a fixed point after its first round, as in the reference. The
  * index keys each class by (transcript, multiplicity)
  * ([[graft.index.Indexer]]), so every class has one transcript: the E step
  * gives α = µ/µ = 1 and every later M step recomputes the same µ. Any
  * `maxIterations` ≥ 1 therefore gives the same µ̂ to the bit on an index
  * built by `Indexer`; QuantifySuite pins 1 against 50. The loop is kept
  * for class tables that hold several transcripts per class (the
  * reference's hand-built fixtures).
  */
object Quantify {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Count k-mers across a read set — ADAM's adamCountKmers re-expressed
    * (reference Quantify.scala:57-60, SURVEY A3).
    * @param reads DataFrame with a `sequence` string column
    * @return DataFrame(kmer string, count long)
    */
  def countKmers(reads: DataFrame, k: Int): DataFrame =
    reads
      .select(Kmers.kmerExplode(col("sequence"), k).as("kmer"))
      .groupBy("kmer")
      .agg(count(lit(1)).as("count"))

  /** Total count of read k-mers per equivalence class (reference
    * Quantify.scala:153-158, SURVEY J1+A4). The kmer→class relation is
    * many-to-one by design: a k-mer shared by N transcripts appears in N
    * classes and its count is credited to each.
    * @param kmerCounts DataFrame(kmer, count)
    * @param kmerToEc   DataFrame(kmer, ec)
    * @return DataFrame(ec long, count long)
    */
  def mapKmersToClasses(kmerCounts: DataFrame, kmerToEc: DataFrame): DataFrame =
    kmerToEc.join(kmerCounts, "kmer")
      .groupBy("ec")
      .agg(sum("count").as("count"))

  /** Split each equivalence-class count equally across its member
    * transcripts (reference Quantify.scala:175-184, SURVEY F9). Raw counts,
    * not normalized — the first M step applies k_j and length adjustment.
    * @param ecCounts DataFrame(ec, count)
    * @param ecToTx   DataFrame(ec, tid) — flat membership edge table
    * @return DataFrame(ec, tid, alpha)
    */
  def initializeEM(ecCounts: DataFrame, ecToTx: DataFrame): DataFrame = {
    // class sizes via partial aggregate + join-back, not a window: a hot
    // class (one EC holding half the edges) collapses to one row per map
    // task in the agg shuffle, and the join-back is AQE-skew-splittable —
    // a window partitioned by ec would funnel the hot class through a
    // single un-splittable partition (SURVEY §7.4 skew watch item)
    val classSizes = ecToTx.groupBy("ec").agg(count(lit(1)).as("classSize"))
    ecToTx.join(ecCounts, "ec").join(classSizes, "ec")
      .withColumn("alpha", col("count").cast("double") / col("classSize"))
      .select("ec", "tid", "alpha")
  }

  /** E step: α(j,i) = µ̂ᵢ / Σ_{t ⊇ sⱼ} µ̂ₜ per class j (reference
    * Quantify.scala:200-212). The reference's flatMap+groupByKey becomes a
    * partial aggregate of per-class µ totals joined back to the edges.
    *
    * Deliberately NOT a `sum over (partition by ec)` window: equivalence
    * classes are naturally skewed (one promiscuous k-mer class can hold
    * half the edges — SURVEY §7.4's watch item), and a window partition
    * cannot be split, so the hot class would serialize through one task.
    * With agg+join the hot key collapses map-side to one partial row per
    * task (the agg shuffle carries per-task partials, not edges), the
    * class-total frame is one row per EC (broadcastable when small, and
    * the join-back is AQE-skew-splittable when not), and the full edge set
    * never shuffles at all when the totals broadcast.
    * @param weights DataFrame(tid, muHat)
    * @param ecToTx  DataFrame(ec, tid)
    * @return DataFrame(ec, tid, alpha)
    */
  def eStep(weights: DataFrame, ecToTx: DataFrame): DataFrame = {
    // no broadcast hint on weights: one row per transcript — usually tiny,
    // but at extreme transcript cardinality a forced broadcast would OOM
    // where AQE's runtime size check gracefully falls back to SMJ
    val edges = ecToTx.join(weights, "tid")
    val classTotals = edges.groupBy("ec").agg(sum("muHat").as("classTotal"))
    // `edges` is referenced twice, but ReuseExchange dedupes any shuffle
    // under it and the weights join is a cheap broadcast-hash re-run
    edges.join(classTotals, "ec")
      .withColumn("alpha", col("muHat") / col("classTotal"))
      .select("ec", "tid", "alpha")
  }

  /** M step: µᵢ = (Σ_{sⱼ ⊆ tᵢ} α(j,i)·kⱼ) / max(lᵢ − k + 1, 1), then
    * µ̂ᵢ = µᵢ / Σµ (reference Quantify.scala:238-275; the floor is
    * [[effectiveLength]]'s). `relEc` carries
    * k_j = relative k-mer count of class j (Quantify.scala:79-87); `tLen`
    * is the broadcast transcript-length dim (J4).
    * @param alpha DataFrame(ec, tid, alpha)
    * @param relEc DataFrame(ec, kj double)
    * @param tLen  DataFrame(tid, len long)
    * @return DataFrame(tid, muHat)
    */
  def mStep(alpha: DataFrame, relEc: DataFrame, tLen: DataFrame, k: Int): DataFrame = {
    // relEc is one row per equivalence class — not provably tiny, so no
    // broadcast hint; AQE picks broadcast when the runtime size allows.
    // mus is referenced twice below (its rows AND its scalar total), so it
    // is materialized ONCE via localCheckpoint — without it the whole
    // join/aggregate chain would execute twice. The checkpoint also
    // truncates lineage, so a caller chaining eStep/mStep keeps a
    // constant-depth plan (SURVEY §7.4 risk I1).
    val mus = alpha
      .join(relEc, "ec")
      .groupBy("tid")
      .agg(sum(col("alpha") * col("kj")).as("sumAlpha"))
      .join(broadcast(tLen), "tid")
      .withColumn("mu", col("sumAlpha") / effectiveLength(col("len"), k))
      .localCheckpoint() // small: one row per transcript
    // scalar normalizer as a broadcast 1-row cross join — a global window here
    // would funnel every row through one partition (Quantify.scala:263-274's
    // reduce, without the single-partition hazard)
    mus.crossJoin(broadcast(mus.agg(sum("mu").as("totalMu"))))
      .select(col("tid"), (col("mu") / col("totalMu")).as("muHat"))
  }

  /** Effective length max(len − k + 1, 1) as a double: the number of k-mer
    * start positions, floored at 1 so that a transcript shorter than k
    * divides by 1 instead of by zero or a negative. */
  private def effectiveLength(len: Column, k: Int): Column =
    greatest(len - (k - 1), lit(1L)).cast("double")

  /** The counted classes' membership edges in flat form, for [[emLoop]].
    * @param tx         annotation row of each transcript
    * @param len        length of each transcript
    * @param effLen     effective length of each transcript
    * @param classCount read count of each counted class
    * @param edgeClass  class of each edge
    * @param edgeTx     transcript of each edge, −1 when its length is unknown
    * @param clamped    transcripts whose effective length was floored
    */
  private final case class Edges(tx: Array[Int], len: Array[Double],
      effLen: Array[Double], classCount: Array[Double], edgeClass: Array[Int],
      edgeTx: Array[Int], clamped: Int)

  /** The collected annotation: one row per transcript, (tid, names,
    * geneId, strand, exons, len, effLen), and each tid's row index. */
  private final case class Annotation(rows: Array[Row], index: collection.Map[Any, Int]) {
    /** (row index, len, effLen) of transcript `tid`; None when it is not
      * annotated or its length is unknown. */
    def lengthOf(tid: Any): Option[(Int, Long, Double)] =
      index.get(tid).filterNot(rows(_).isNullAt(5))
        .map(i => (i, rows(i).getLong(5), rows(i).getDouble(6)))
  }

  private object Annotation {
    /** Index `rows` by tid; a tid that appears twice fails, naming it. */
    def apply(rows: Array[Row]): Annotation = {
      val index = scala.collection.mutable.HashMap.empty[Any, Int]
      rows.indices.foreach { i =>
        require(index.put(rows(i).get(0), i).isEmpty,
          s"transcript id '${rows(i).get(0)}' appears more than once in the annotation")
      }
      Annotation(rows, index)
    }
  }

  /** The value of a `GraftColumnBridge.async` job, or the exception it
    * threw. */
  private def await[T](job: java.util.concurrent.Future[T]): T =
    try job.get()
    catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }

  /** Collect every class of `ecCounts` with its `ecToTx` rows, in one job,
    * then look each member up in the annotation on the driver, once the
    * `annotation` job has delivered it. Members match by tid in the
    * annotation's id type `tidType`, to which `ecToTx.tid` is cast. The
    * left join keeps what the DataFrame form's inner joins drop from the EM
    * but not from its constants: a counted class with no member still feeds
    * k_j's denominator, and a member with no known length still counts in
    * its class's size. Transcripts are the members with a known length. The
    * rows are sorted by (ec, tid) on the driver before any index is
    * assigned, so [[emLoop]] and the length calibration sum in one order
    * whatever the partition layout that delivered them: µ̂ is the same to
    * the bit at any shuffle-partition count or executor layout. */
  private def collectEdges(ecCounts: DataFrame, ecToTx: DataFrame, tidType: DataType,
      annotation: java.util.concurrent.Future[Annotation], k: Int): Edges = {
    val rows = ecCounts
      .join(ecToTx, Seq("ec"), "left")
      .select(col("ec"), col("count").cast("double"), col("tid").cast(tidType))
      .collect()
      .sortBy(r => (r.get(0), r.get(2)))(Ordering.Tuple2(byValue, byValue))
    val annotated = await(annotation)
    val classIdx = scala.collection.mutable.HashMap.empty[Any, Int]
    val txIdx = scala.collection.mutable.HashMap.empty[Int, Int]
    val tx = Array.newBuilder[Int]
    val len, effLen, classCount = Array.newBuilder[Double]
    val edgeClass, edgeTx = Array.newBuilder[Int]
    var clamped = 0
    rows.foreach { r =>
      val c = classIdx.getOrElseUpdate(r.get(0), {
        classCount += r.getDouble(1); classIdx.size
      })
      if (!r.isNullAt(2)) {
        edgeClass += c
        edgeTx += annotated.lengthOf(r.get(2)).fold(-1) { case (row, l, eff) =>
          txIdx.getOrElseUpdate(row, {
            tx += row; len += l.toDouble; effLen += eff
            if (eff > l - k + 1) clamped += 1
            txIdx.size
          })
        }
      }
    }
    Edges(tx.result(), len.result(), effLen.result(), classCount.result(),
      edgeClass.result(), edgeTx.result(), clamped)
  }

  /** Orders the key values of a collected row: null first, then by the
    * value's own `compareTo` (the ids are strings or numbers). */
  private val byValue: Ordering[Any] = (x, y) => (x, y) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (a: Comparable[Any @unchecked], b) => a.compareTo(b)
  }

  /** The EM over flat edge arrays: the equal split and one M step, then
    * `iterations` E/M rounds — the same math as [[initializeEM]] →
    * [[mStep]] → ([[eStep]] → [[mStep]])×n. k_j = count_j / Σ count over
    * every counted class; the initial α is count_j over the class's edge
    * count; the E step's class totals and the M step run over transcripts
    * with a length row only. A class whose µ total is 0 contributes α = 0.
    * µ stays unnormalized until the end.
    * @return µ̂ per transcript, Σ = 1 (the equal split when no class has a
    *   non-zero count)
    */
  private[graft] def emLoop(edgeClass: Array[Int], edgeTx: Array[Int],
      classCount: Array[Double], effLen: Array[Double], iterations: Int): Array[Double] = {
    val nTx = effLen.length
    val totalCount = classCount.sum
    val kj = classCount.map(c => if (totalCount > 0) c / totalCount else 0.0)
    val classSize = new Array[Int](classCount.length)
    edgeClass.foreach(c => classSize(c) += 1)

    val acc = new Array[Double](nTx)
    for (e <- edgeClass.indices if edgeTx(e) >= 0) {
      val c = edgeClass(e)
      acc(edgeTx(e)) += classCount(c) / classSize(c) * kj(c)
    }
    val mu = Array.tabulate(nTx)(t => acc(t) / effLen(t))

    val classTotal = new Array[Double](classCount.length)
    for (_ <- 0 until iterations) {
      java.util.Arrays.fill(classTotal, 0.0)
      java.util.Arrays.fill(acc, 0.0)
      for (e <- edgeClass.indices if edgeTx(e) >= 0)
        classTotal(edgeClass(e)) += mu(edgeTx(e))
      for (e <- edgeClass.indices if edgeTx(e) >= 0) {
        val c = edgeClass(e)
        val t = edgeTx(e)
        if (classTotal(c) != 0) acc(t) += mu(t) / classTotal(c) * kj(c)
      }
      for (t <- 0 until nTx) mu(t) = acc(t) / effLen(t)
    }

    val total = mu.sum
    if (total > 0) mu.map(_ / total) else Array.fill(nTx)(1.0 / nTx)
  }

  /** Transcript length = Σ over exons of (region.width − 1) — exactly the
    * reference's Σ(end − start − 1) (Quantify.scala:137-141 with
    * QuantifySuite.scala:322-339; SURVEY A9). Computed with the `aggregate`
    * higher-order function over the nested exon array: no shuffle at all.
    * @return DataFrame(tid, len)
    */
  def transcriptLengths(transcripts: Dataset[Transcript]): DataFrame =
    transcripts.select(col("id").as("tid"), transcriptLength.as("len"))

  /** The one definition of a transcript's length, over its `exons` column. */
  private def transcriptLength: Column =
    expr("aggregate(exons, 0L, (acc, e) -> acc + (e.region.end - e.region.start - 1))")

  /** End-to-end quantification (reference Quantify.scala:42-127).
    *
    * @param reads    read set (only `.sequence` is consumed)
    * @param kmerToEc index half 1: DataFrame(kmer, ec)
    * @param ecToTx   class membership: DataFrame(ec, tid)
    * @param transcripts transcript descriptors (lengths and the result's
    *   descriptors), collected to the driver once; an id that appears twice
    *   fails with an error that names it
    * @return DataFrame(tid, names, geneId, strand, exons, abundance) — the
    *   full transcript descriptor plus abundance (Σ abundance = 1), as the
    *   reference's RDD[(Transcript, Double)], as a local relation; no row
    *   for a transcript with no counted class, and no rows, with a warning,
    *   when no read k-mer matches the index
    */
  def apply(
      reads: Dataset[Read],
      kmerToEc: DataFrame,
      ecToTx: DataFrame,
      transcripts: Dataset[Transcript],
      kmerLength: Int,
      maxIterations: Int,
      calibrateKmerBias: Boolean = true,
      calibrateLengthBias: Boolean = true): DataFrame = {

    import graft.util.Timers
    val spark = reads.sparkSession
    // the annotation is collected once, in one job, while the reads are
    // counted: the descriptors the result carries and the lengths the EM
    // divides by
    val descriptors = transcripts.select(col("id").as("tid"), col("names"),
      col("geneId"), col("strand"), col("exons"))
    val annotation = org.apache.spark.sql.GraftColumnBridge.async(spark) {
      Timers.time("loadAnnotation") {
        Annotation(descriptors.select(col("*"), transcriptLength.as("len"))
          .select(col("*"), effectiveLength(col("len"), kmerLength).as("effLen"))
          .collect())
      }
    }
    val readKmers = Timers.time("countKmers") { countKmers(reads.toDF(), kmerLength) }
    val calibrated =
      if (calibrateKmerBias) Timers.time("tareKmers") {
        graft.calibrate.Tare.calibrateKmers(readKmers)
      }
      else readKmers

    val ecCounts = Timers.time("mapKmersToClasses") {
      mapKmersToClasses(calibrated, kmerToEc)
    }

    // the edges are collected once and the EM and the length calibration
    // run on the driver. The collect is this thread's first action after the
    // k-mer calibration's, so `em` also times the lazy stages above.
    val (edges, mu) = Timers.time("em") {
      val edges = collectEdges(ecCounts, ecToTx, descriptors.schema("tid").dataType,
        annotation, kmerLength)
      if (edges.classCount.isEmpty)
        log.warn(s"no read $kmerLength-mer matches the index: the read set is " +
          s"empty, every read is shorter than k = $kmerLength, or the index was " +
          "built with another k; the result has no rows")
      if (edges.clamped > 0)
        log.warn(s"${edges.clamped} transcript(s) have len - k + 1 < 1; " +
          "their effective length is floored at 1")
      (edges, emLoop(edges.edgeClass, edges.edgeTx, edges.classCount,
        edges.effLen, maxIterations))
    }
    val calibratedMu =
      if (calibrateLengthBias) Timers.time("calibrateTxLenBias") {
        graft.calibrate.Tare.lengthBias(mu, edges.len)
      }
      else mu

    // the full transcript descriptor rides along with the abundance, as the
    // reference's RDD[(Transcript, Double)] (Quantify.scala:286-295), so
    // gene-level rollups need no second join: a local relation of the
    // transcripts that have a µ̂, in the EM's order
    val described = await(annotation).rows
    spark.createDataFrame(
      edges.tx.indices.map { t =>
        val d = described(edges.tx(t))
        Row(d.get(0), d.get(1), d.get(2), d.get(3), d.get(4), calibratedMu(t))
      }.asJava,
      StructType(descriptors.schema.fields :+ StructField("abundance", DoubleType)))
  }
}

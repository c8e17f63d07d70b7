package graft

import java.nio.file.{Files, Paths}

/** Benchmark main: times every declared query at SPARK_GRAFT_SF_DIR and
  * emits ONE machine-readable JSON line. The line is (a) printed to stdout
  * and (b) written to BENCH.json (or SPARK_GRAFT_BENCH_OUT) so the driver
  * never has to scrape it out of sbt's log prefix.
  *
  * A query that throws is NOT timed-as-crashed-and-forgotten: it is excluded
  * from `queries`/total and its message lands in `errors`, and the process
  * exits non-zero so the failure is loud.
  *
  * The methodology it shares with Scale (warm-up, best-of-2, inter-query
  * hygiene, SPARK_GRAFT_ONLY selection, family totals, the JSON line)
  * lives in [[graft.obs]]; what is Bench's own is the canary legs, the
  * per-query attribution and the context [[verdict]].
  */
object Bench {
  /** Committed quiet anchor for the ABSOLUTE context checks (r13 verdict
    * #1b): first-leg canary medians and the full-surface total, READ AT
    * RUNTIME from a committed bench_runs artifact whose own
    * `contextVerdict` is "ok" (r14 verdict #2: the r14 constants were
    * hard-coded from SCALE.md prose and matched no committed file — an
    * unauditable anchor that tripped on every official run). Three
    * consecutive official rounds (r11-r13) sampled externally contended
    * windows, and r13's slipped past the ratio-only rerun trigger because
    * UNIFORM contention inflates first/mid/last legs together — last/mid
    * stays in-band while every absolute number is 2x the same binary's
    * quiet cost. Absolutes are only comparable under the anchor's own
    * conditions, so the checks apply IFF the anchor file parses with an
    * "ok" verdict, sf dir and core count match, and no SPARK_GRAFT_ONLY
    * filter is set; re-point SPARK_GRAFT_ANCHOR_FILE (or the default
    * below) whenever a newer quiet run is committed under bench_runs/. */
  private val AnchorSfSuffix = "sf0.1"
  private val AnchorCpus = "32"
  // the newest committed full-surface 32c artifact whose own verdict is
  // "ok" — still the r12 run: r14 and r15 each sampled only contended
  // windows (r15's best, bench_runs/r15_32c_157s_best_degraded.json,
  // reads "degraded" and loadAnchor would reject it). Re-point this
  // when a genuinely quiet capture lands under bench_runs/. Resolved
  // against the working directory, like the default output below, so a run
  // reads and writes only the checkout it is started from.
  private[graft] def defaultAnchorFile: String =
    Paths.get("bench_runs", "r12_builder_146s.json").toAbsolutePath.toString

  /** Where the artifact goes without SPARK_GRAFT_BENCH_OUT: BENCH.json in
    * the working directory, or a scratch file for a filtered run. */
  private[graft] def defaultOut(only: Option[Seq[String]]): String =
    if (only.isEmpty) Paths.get("BENCH.json").toAbsolutePath.toString
    else "/tmp/BENCH_only.json"

  final case class Anchor(file: String, q70First: Double, q03First: Double,
      total: Double)

  /** Parse the three anchor values out of a committed bench artifact.
    * Left(reason) when the file is missing, unparseable, from the wrong
    * sf, or its own contextVerdict is not "ok" — an anchor that cannot be
    * traced to a committed clean run is recorded as inapplicable rather
    * than silently trusted. */
  private[graft] def loadAnchor(path: String): Either[String, Anchor] = try {
    if (!Files.isRegularFile(Paths.get(path)))
      return Left(s"anchor file not found: $path")
    val line = Files.readString(Paths.get(path)).linesIterator
      .find(_.trim.startsWith("{")).getOrElse("")
    def num(re: String): Option[Double] =
      re.r.findFirstMatchIn(line).map(_.group(1).toDouble)
    val verdict = "\"contextVerdict\":\"([^\"]*)".r
      .findFirstMatchIn(line).map(_.group(1))
    val sf = "\"sf\":\"([^\"]*)".r.findFirstMatchIn(line).map(_.group(1))
    (num("\"value\":([0-9.Ee+-]+)"),
      num("\"canary\":\\{\"query\":\"q70_stream_hourly\",\"first\":([0-9.Ee+-]+)"),
      num("\"canaryBatch\":\\{\"query\":\"q03_shipping_priority\",\"first\":([0-9.Ee+-]+)"),
      verdict, sf) match {
      case (_, _, _, Some(v), _) if !v.startsWith("ok") =>
        Left(s"anchor file's own contextVerdict is not ok: $path ($v)")
      case (_, _, _, _, Some(s)) if !s.stripSuffix("/").endsWith(AnchorSfSuffix) =>
        Left(s"anchor file is not an $AnchorSfSuffix run: $path ($s)")
      case (Some(t), Some(q70), Some(q03), Some(_), Some(_)) =>
        Right(Anchor(path, q70, q03, t))
      case _ => Left(s"anchor file missing value/canary/verdict fields: $path")
    }
  } catch { case e: Throwable =>
    Left(s"anchor file unreadable: $path (${e.getClass.getSimpleName})")
  }

  /** The context verdict of one measurement pass (`text`) and the trips
    * and load statistics it derives from. */
  final case class Verdict(slowTrips: Seq[String], fastTrips: Seq[String],
      anchorTrips: Seq[String], loadMedian: Double,
      loadPeak: Option[(String, Double)], text: String)

  /** The context verdict as a pure function of values the artifact
    * records, so a committed bench_runs/ artifact replays to its own
    * `contextVerdict` and `anchor.tripped`.
    * @param first  canary medians of the first leg, (q70, q03)
    * @param mid    the same at the halfway mark
    * @param last   the same after the whole surface
    * @param total  the pass's summed best-of-2 seconds
    * @param loads  host 1-min load average per query, in run order
    *   (negative when the platform does not report one)
    * @param anchor the quiet anchor, when its absolute checks apply
    */
  private[graft] def verdict(first: Seq[Double], mid: Seq[Double], last: Seq[Double],
      total: Double, loads: Seq[(String, Double)], anchor: Option[Anchor]): Verdict = {
    val streamRatio = last(0) / mid(0)
    val batchRatio = last(1) / mid(1)
    // direction matters: a canary ABOVE its band means the back half ran
    // slower (the contention signature — per-query numbers are inflated);
    // BELOW the band means the back half ran faster (a warming/quieting
    // drift — totals are honest-or-conservative, never inflated). Both
    // r12 quiet runs (120.8/120.3 s, the fastest recorded) tripped only
    // the low side, which the old single-word "degraded" mislabeled.
    val slowTrips = Seq(
      Option.when(streamRatio > 1.3)(f"q70 last/mid $streamRatio%.2f > 1.3"),
      Option.when(batchRatio > 1.1)(f"q03 last/mid $batchRatio%.2f > 1.1")).flatten
    val fastTrips =
      Option.when(batchRatio < 0.9)(f"q03 last/mid $batchRatio%.2f < 0.9").toSeq
    // ABSOLUTE anchor checks (r13 verdict #1b): uniform contention keeps
    // the last/mid ratios in-band because every leg is inflated alike —
    // the r13 official run read canary ratios 0.75/0.92 ("ok") while its
    // absolutes sat at 2-10x the same binary's quiet values. Against the
    // committed quiet anchor, two independent trips: (a) BOTH first-leg
    // canary medians above 1.3x their anchor (one canary alone can bounce
    // — q70 carries ±15% micro-batch jitter); (b) the whole-run total
    // above 1.25x the anchor total (catches a burst that hits mid-run
    // blocks after healthy first legs — the r12 incident shape — at the
    // only resolution that matters, the recorded headline). Either trip
    // marks the pass degraded and arms the one bounded rerun. Only
    // meaningful under the anchor's own conditions (sf/cpus match, full
    // surface); a genuine >25% code regression reruns once and keeps the
    // still-slow pass — both verdicts land in the artifact, so the
    // series stays auditable. A loadavg spike ALONE (self-load from a
    // fully-parallel block reads 10+ on quiet runs, e.g. r12's q26 peak
    // 10.3 at median 3.4) stays a post-hoc queryAttr adjudication: it
    // cannot distinguish self-load from neighbors, but any spike big
    // enough to matter moves the total through trip (b).
    // Trip (a) is a FIRST-PASS-ONLY signal (ADVICE r14): on a rerun pass
    // the first legs are measured post-surface-warm (q70 plateaus ~0.9 s
    // vs ~1.2-1.4 s fresh), so they sit far below a fresh-leg anchor and
    // (a) is nearly unreachable there — trip (b), the total, carries all
    // the rerun-pass signal. That is fine: (a) exists to catch a
    // contended LAUNCH before 240 queries get paid for, which only the
    // first pass experiences.
    val anchorTrips = anchor.toSeq.flatMap { a => Seq(
      Option.when(first(0) > 1.3 * a.q70First && first(1) > 1.3 * a.q03First)(
        f"both first-leg canaries >1.3x quiet anchor " +
          f"(q70 ${first(0)}%.2f vs ${a.q70First}%.2f, " +
          f"q03 ${first(1)}%.2f vs ${a.q03First}%.2f)"),
      Option.when(total > 1.25 * a.total)(
        f"total $total%.1f s >1.25x quiet anchor ${a.total}%.1f s")).flatten
    }
    // loadavg spike locator: the canary legs sample context at exactly
    // three instants, and a contention burst strictly between legs is
    // invisible to them (measured mid-round-12: genomics block 2-3×
    // inflated, both canaries in-band). The per-query series is the
    // evidence; this names the peak so a judge starts there.
    // Threshold (peak > 2×median + 2) is a heuristic calibrated on that
    // incident: quiet series median ≈1-2, contended block read 3-6.
    val known = loads.map(_._2).filter(_ >= 0)
    val loadMedian = if (known.isEmpty) 0.0 else known.sorted.apply(known.size / 2)
    val loadPeak = Option.when(known.nonEmpty)(loads.maxBy(_._2))
    val spikeNote = loadPeak match {
      case Some((n, load)) if load > 2 * loadMedian + 2 =>
        // the in-band clause is only claimable when no canary tripped
        // (ADVICE r12: the old unconditional text contradicted a
        // degraded/shifted-faster verdict it was appended to)
        val canaryState =
          if (slowTrips.isEmpty && fastTrips.isEmpty)
            " even though the canary legs sat in-band"
          else ""
        f"; loadavg spike mid-run at $n ($load%.1f vs median " +
          f"$loadMedian%.1f) - queries near it may be inflated$canaryState" +
          "; see queryAttr"
      case _ => ""
    }
    // auto-verdict (round-11 verdict #1): the artifact states whether its
    // own measuring context held, so adjudicating a round-over-round
    // delta never needs repo folklore. Thresholds are the calibrated
    // bands from the canary block in main.
    val text =
      (if (slowTrips.nonEmpty)
        "degraded (" + (slowTrips ++ fastTrips ++ anchorTrips).mkString("; ") +
          "): back half ran slower - believe per-query deltas with " +
          "suspicion; see contextAttr for contention vs GC"
      else if (anchorTrips.nonEmpty)
        "degraded-absolute (" + (anchorTrips ++ fastTrips).mkString("; ") +
          "): ratios in-band but the run sits far above the committed " +
          "quiet anchor - uniform contention; see contextAttr/queryAttr"
      else if (fastTrips.nonEmpty)
        "shifted-faster (" + fastTrips.mkString("; ") +
          "): back half ran faster than mid-run - totals are honest or " +
          "conservative, not inflated"
      else "ok: both canaries in-band") + spikeNote
    Verdict(slowTrips, fastTrips, anchorTrips, loadMedian, loadPeak, text)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = obs.cpus
    // SPARK_GRAFT_ONLY (same prefix filter as Verify/Plans): local
    // iteration harness for timing a handful of queries under the exact
    // bench conditions (warm-up, best-of-2, inter-query hygiene).
    val only = obs.only
    // a filtered run must never clobber the official artifact: its totals
    // are not comparable to a full-surface run, so it defaults to a
    // scratch path AND the JSON line records the filter either way
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut(only))
    // anchor resolution: explicit env override, else the committed
    // default above. A Left records the anchor as
    // inapplicable-with-reason instead of inventing constants
    // (r14 verdict #2).
    val anchor: Either[String, Anchor] =
      loadAnchor(sys.env.getOrElse("SPARK_GRAFT_ANCHOR_FILE", defaultAnchorFile))
    anchor match {
      case Right(a) => println(s"[bench] anchor from ${a.file}: " +
        f"total ${a.total}%.1f s, q70First ${a.q70First}%.2f, q03First ${a.q03First}%.2f")
      case Left(reason) => println(s"[bench] anchor inapplicable: $reason")
    }
    val anchorApplicable = anchor.isRight && only.isEmpty &&
      cpus == AnchorCpus && sfDir.stripSuffix("/").endsWith(AnchorSfSuffix)
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    def loadAvg: Double = osBean.getSystemLoadAverage
    // Pre-flight load gate (r13 verdict #1a): at this point the process
    // has submitted no work, so the host 1-min load is pure AMBIENT
    // signal — if neighbors are already above the threshold, starting now
    // measures them, not the code (the r13 official run launched into
    // first-leg loadavg 11.7 and recorded 206.6 s against a 115-117 s
    // quiet band). Wait in bounded steps for a quiet window; a
    // never-quiet host still produces an artifact, with the gate's
    // outcome recorded in the `preflight` field either way.
    val gateMax = sys.env.getOrElse("SPARK_GRAFT_LOAD_GATE_MAX", "2.5").toDouble
    val gateCapSec = sys.env.getOrElse("SPARK_GRAFT_LOAD_GATE_SEC", "600").toInt
    val loadAtLaunch = loadAvg
    var gateWaitedSec = 0
    while (loadAvg > gateMax && gateWaitedSec < gateCapSec) {
      println(f"[bench] pre-flight: ambient 1-min load $loadAvg%.2f > " +
        f"$gateMax%.1f before any work - waiting ($gateWaitedSec/$gateCapSec s)")
      Thread.sleep(30000L)
      gateWaitedSec += 30
    }
    val loadAtStart = loadAvg
    val spark = obs.session()
    obs.warm(spark, sfDir)

    // context canaries: two cheap queries timed at three points each —
    // right after warm-up (first), after half the surface (mid), and
    // after the whole surface (last); each leg is median-of-5 (see the
    // canaryLeg comment — min-of-N estimates a floor that drifts with
    // the warming plateau). The degradation signal is
    // last/mid: both legs measure a fully-warm query, so ratio >> 1
    // unambiguously means the measuring context degraded across the
    // back half (the per-query numbers then say WHAT got slow; the
    // canary says whether to believe it was the code). Two instruments
    // because sensitivity and calibration pull apart, measured r9–r11:
    //  - q70 (streaming) is the SENSITIVE probe — state-store/micro-
    //    batch machinery is what historically degraded (r8 memo
    //    residency) — but a ~1 s streaming query carries ±15%
    //    micro-batch scheduling jitter and keeps warming all run long
    //    (healthy-run last/mid measured 0.82–1.17), so its healthy band
    //    is wide: flag only >1.3.
    //  - q03 (batch, scan→join→agg→topk) is the CALIBRATED instrument:
    //    no micro-batch quanta, fully warm by mid-run — healthy runs
    //    read ≈ 1.0 and [0.9, 1.1] is a real acceptance band.
    // The first legs are reported but are NOT the signal: canary-only
    // warming (one untimed run in r9/r10; a warm-until-settled loop
    // tried in r11) reliably plateaus q70 near 1.2 s while the full
    // surface pushes it to ~0.9 s — shared JIT/buffer warming a canary
    // cannot self-induce, which kept last/first near 0.77 on healthy
    // runs and would have hidden a mild real degradation.
    val canaryNames = Seq("q70_stream_hourly", "q03_shipping_priority")
    def canaryOnce(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }
    // in-artifact context attribution (round-11 verdict #1): r11's 1.06×
    // headline regression was adjudicated as external VM contention, but
    // proving it needed out-of-artifact forensics (the quiet-run band +
    // a per-query diff). Each canary leg now records the host 1-min load
    // average plus this JVM's process-CPU and GC time spent DURING the
    // leg, so the artifact itself separates the three degradation modes:
    // external contention (loadavg ≫ allotted cores while the leg's
    // cpu/wall ratio drops), GC pressure (gc/wall rises), and a real
    // code regression (neither moves, the ratio still does).
    def procCpuSec: Double = osBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => -1.0 // not the HotSpot bean; field reads -1 rather than lying
    }
    def gcSec: Double = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime.toDouble).sum / 1e3
    }
    final case class LegAttr(wall: Double, cpu: Double, gc: Double, load: Double) {
      def json: String =
        f"""{"wallSec":$wall%.3f,"cpuSec":$cpu%.3f,"gcSec":$gc%.3f,""" +
        f""""cpuPerWall":$cpuPerWall%.2f,"loadAvg":$load%.2f}"""
      def cpuPerWall: Double = if (wall > 0) cpu / wall else 0.0
    }
    /** `body` with the wall, process CPU, GC and host load of its window. */
    def attributed[T](body: => T): (T, LegAttr) = {
      val w0 = System.nanoTime(); val c0 = procCpuSec; val g0 = gcSec
      val r = body
      (r, LegAttr((System.nanoTime() - w0) / 1e9, procCpuSec - c0, gcSec - g0, loadAvg))
    }
    // median-of-5 per leg: min-of-N estimates a floor that itself drifts
    // with the warming plateau (measured legs 0.46 vs 0.53 on a healthy
    // run — a phantom 1.14), while the median both rejects stragglers
    // and averages scheduling jitter; ~15 s of total overhead across all
    // six legs buys the instrument its calibration
    def canaryLeg(): (Seq[Double], LegAttr) = {
      val leg = attributed(canaryNames.map(n => Seq.fill(5)(canaryOnce(n)).sorted.apply(2)))
      // inter-leg hygiene (ADVICE r11): the canaries cache/stage
      // internally like any query; without this the query timed right
      // after a leg is measured against canary residue, unlike the
      // other 243. Done AFTER the attribution snapshot so the explicit
      // System.gc doesn't pollute the leg's own gcSec.
      obs.hygiene(spark)
      leg
    }

    val timed = SparkEntry.queries.toSeq.filter(t => obs.keeps(only)(t._1)).sortBy(_._1)
    val midAt = timed.size / 2

    /** One full measurement pass over the surface, with its own canary
      * legs and verdict — factored out so a context-degraded pass can be
      * retried once (round-12 verdict #2). */
    final case class Run(
        results: Seq[(String, Either[String, Double], LegAttr)],
        canaryFirst: Seq[Double], canaryMid: Seq[Double],
        canaryLast: Seq[Double],
        attrFirst: LegAttr, attrMid: LegAttr, attrLast: LegAttr,
        // wall seconds spent building shared-stage memos DURING this pass
        // (r14 verdict #3: best-of-2 + end-of-run eviction means the build
        // cost lands in no per-query min and no total; this field makes
        // the pass's true wall work reconstructible as total + Σ values,
        // and per-query claims for memo consumers auditable)
        memoBuild: Map[String, Double]) {
      val ok: Seq[(String, Double)] = results.collect { case (n, Right(t), _) => n -> t }
      val failed: Seq[(String, String)] = results.collect { case (n, Left(m), _) => n -> m }
      val total: Double = ok.map(_._2).sum
      val verdict: Verdict = Bench.verdict(canaryFirst, canaryMid, canaryLast, total,
        results.map { case (n, _, a) => n -> a.load },
        anchor.toOption.filter(_ => anchorApplicable))
      // health order for the keep decision: ok < shifted-faster < degraded
      // (a crashed pass is worst of all); ties break on the lower total —
      // on equal context evidence the smaller sum is the less-contended one
      def healthRank: (Int, Int, Double) =
        (failed.size,
          if (slowDegraded) 2 else if (verdict.fastTrips.nonEmpty) 1 else 0,
          total)
      def slowDegraded: Boolean =
        verdict.slowTrips.nonEmpty || verdict.anchorTrips.nonEmpty
    }

    def measureSurface(): Run = {
      val memoSec0 = ops.Memo.buildSecSnapshot
      canaryNames.foreach(canaryOnce) // one-time machinery (state-store, staging)
      val (canaryFirst, attrFirst) = canaryLeg()
      var canaryMid = canaryFirst // overwritten at the halfway mark below
      var attrMid = attrFirst
      val results = timed.zipWithIndex.map { case ((name, fn), qi) =>
        if (qi == midAt) {
          val (ts, attr) = canaryLeg()
          canaryMid = ts
          attrMid = attr
        }
        // per-query attribution (the canary legs alone have a blind spot,
        // measured mid-round-12: a contention spike strictly BETWEEN the
        // mid and last legs inflated one query block 3× — q24 13.7 s vs
        // 4.1 s isolated, genomics family 2× — while both canary ratios
        // sat in-band and the whole-run verdict read healthy). Recording
        // this JVM's cpu/wall ratio, GC time, and the host load average
        // across each query's timed window lets the artifact localize a
        // spike to the block it hit: a starved query shows wall up with
        // cpuPerWall DOWN vs its round-over-round self, which no honest
        // code regression can produce. Burst-contention robustness of the
        // best-of-2 comes from this series (see obs.bestOf2).
        val (t, qAttr) = attributed(obs.bestOf2(fn(spark, sfDir).count()))
        obs.hygiene(spark)
        (name, t, qAttr)
      }
      // context canaries, last leg (first and mid were timed inline above)
      val (canaryLast, attrLast) = canaryLeg()
      // memo builds charged to THIS pass: cumulative snapshot delta
      val memoBuild = ops.Memo.buildSecSnapshot.map { case (k, v) =>
        k -> (v - memoSec0.getOrElse(k, 0.0))
      }.filter(_._2 > 1e-3)
      Run(results, canaryFirst, canaryMid, canaryLast,
        attrFirst, attrMid, attrLast, memoBuild)
    }

    val first = measureSurface()
    // auto-rerun on a tripped verdict (round-12 verdict #2): rounds 11 and
    // 12 both sampled contended windows (r12: loadPeak 11.14 vs median
    // 4.82, verdict "degraded") while the same binary's quiet band sat at
    // 120-121 s — the official series measured the host, not the code.
    // The instrumentation above PROVES contention in-artifact; this is the
    // recovery: when the first pass reads degraded on the slow side —
    // within-run canary drift OR (since r14) the absolute anchor checks,
    // which catch the uniform contention that r13 proved slips past
    // ratio-only triggers — and nothing crashed, measure the whole surface
    // once more (bounded — one retry) and keep the healthier pass. Both
    // verdicts land in the artifact so the series stays auditable. A
    // crashed pass is never retried — failures must stay loud, not be
    // rerolled.
    val retried: Option[Run] =
      if (first.slowDegraded && first.failed.isEmpty) {
        println(s"[bench] first pass context verdict: ${first.verdict.text}")
        println("[bench] degraded measuring context - rerunning the surface once")
        // evict memos too (ADVICE r14): without this the rerun inherits the
        // first pass's temp-parquet memo builds, skips their cost entirely,
        // and its total is systematically below the first pass's
        // independent of contention — the two passes must measure the same
        // work for healthRank's smaller-total tiebreak to mean anything
        ops.Memo.evictAll()
        obs.hygiene(spark)
        Some(measureSurface())
      } else None
    val run = retried
      .filter(second => Ordering[(Int, Int, Double)].lt(second.healthRank, first.healthRank))
      .getOrElse(first)
    import obs.jstr
    val rerunJson = retried match {
      case None => "null"
      case Some(second) =>
        val keptName = if (run eq first) "first" else "rerun"
        f"""{"kept":${jstr(keptName)},""" +
        f""""firstTotal":${first.total}%.3f,""" +
        s""""firstVerdict":${jstr(first.verdict.text)},""" +
        f""""rerunTotal":${second.total}%.3f,""" +
        s""""rerunVerdict":${jstr(second.verdict.text)},""" +
        s""""rerunErrors":${second.failed.size},""" +
        // names, not just a count (ADVICE r13): a clean-but-degraded first
        // pass followed by a crashing rerun exits 1 with errors:{} — the
        // loud exit must be explainable from the artifact alone
        s""""rerunErrorNames":${
          second.failed.map(f => jstr(f._1)).mkString("[", ",", "]")},""" +
        // r14 verdict #2: when the bounded rerun ALSO trips the anchor the
        // series should say the anchor was unmeetable in this window (a
        // persistently loud host), not just record two degraded verdicts
        s""""anchorUnmeetable":${second.verdict.anchorTrips.nonEmpty}}"""
    }

    def jsonMap(kv: Seq[(String, String)]): String =
      kv.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    val qs = jsonMap(run.ok.map { case (k, v) => k -> v.toString })
    val errs = jsonMap(run.failed.map { case (k, m) => k -> jstr(m) })
    val famJson = jsonMap(obs.familyTotals(run.ok).map { case (f, t) => f -> t.toString })
    // "canary" stays the streaming probe (cross-round comparability),
    // "canaryBatch" is the calibrated instrument — see the block above.
    // "ratioDef" is written into the artifact because the key's meaning
    // changed in round 11 (rounds ≤10 wrote last/first): cross-round
    // tooling must not compare the two silently (ADVICE r11).
    def canaryJsonFor(i: Int): String =
      s"""{"query":${jstr(canaryNames(i))},"first":${run.canaryFirst(i)},""" +
      s""""mid":${run.canaryMid(i)},"last":${run.canaryLast(i)},""" +
      s""""ratio":${run.canaryLast(i) / run.canaryMid(i)},""" +
      s""""ratioDef":"last/mid (since r11; rounds <=10 wrote last/first)",""" +
      s""""ratioVsFirst":${run.canaryLast(i) / run.canaryFirst(i)}}"""
    val attrJson =
      s"""{"first":${run.attrFirst.json},"mid":${run.attrMid.json},""" +
      s""""last":${run.attrLast.json},"cpus":${jstr(cpus)}}"""
    // per-query attribution series, compact: name -> [cpuPerWall, gcSec,
    // loadAvg] over that query's timed window (both best-of-2 runs).
    // Placed at the FRONT of the line, before the queries map: the
    // driver's artifact wrapper keeps only the LAST 2000 bytes of the
    // line (measured across BENCH_r09-r11), and this series is ~9 KB —
    // at the end it would evict every query time, family subtotal, and
    // canary from the preserved tail. Up front it is the sacrificial
    // field; the full line survives in BENCH.json and any committed
    // bench_runs/ anchor. loadAvg is a 1-min average so it lags
    // short queries — read it as a series, not per-row truth; the crisp
    // per-row signal is cpuPerWall (a starved query's wall grows while
    // its cpuPerWall drops, which no code regression can produce).
    val queryAttrJson = jsonMap(run.results.map { case (n, _, a) =>
      n -> f"[${a.cpuPerWall}%.2f,${a.gc}%.3f,${a.load}%.2f]"
    })
    val loadPeakJson = run.verdict.loadPeak.fold("null") { case (n, load) =>
      f"""{"query":${jstr(n)},"loadAvg":$load%.2f,"median":${run.verdict.loadMedian}%.2f}"""
    }
    val onlyField =
      only.map(o => s""""only":${jstr(o.mkString(","))},""").getOrElse("")
    // memo-build accounting (r14 verdict #3): per-label wall seconds the
    // KEPT pass spent building shared-stage memos. These costs are outside
    // every per-query best-of-2 min by construction, so the pass's true
    // wall work = value + memoBuildTotalSec, and any per-query claim for a
    // memo consumer must be read alongside its family's build charge.
    val memoJson = jsonMap(run.memoBuild.toSeq.sortBy(_._1)
      .map { case (k, v) => k -> f"$v%.3f" })
    val memoTotal = run.memoBuild.values.sum
    val anchorJson = anchor match {
      case Right(a) =>
        s"""{"applicable":$anchorApplicable,"file":${jstr(a.file)},""" +
        f""""q70First":${a.q70First}%.3f,"q03First":${a.q03First}%.3f,""" +
        f""""total":${a.total}%.1f,"tripped":${run.verdict.anchorTrips.nonEmpty}}"""
      case Left(reason) =>
        s"""{"applicable":false,"reason":${jstr(reason)},"tripped":false}"""
    }
    obs.emit(outPath,
      s"""{"metric":"total","value":${run.total},"unit":"sec",$onlyField""" +
      s""""queryAttr":$queryAttrJson,"queries":$qs,""" +
      s""""families":$famJson,"canary":${canaryJsonFor(0)},""" +
      s""""canaryBatch":${canaryJsonFor(1)},"contextAttr":$attrJson,""" +
      s""""loadPeak":$loadPeakJson,""" +
      f""""preflight":{"loadAtLaunch":$loadAtLaunch%.2f,""" +
      f""""loadAtStart":$loadAtStart%.2f,"waitedSec":$gateWaitedSec,""" +
      f""""threshold":$gateMax%.2f},""" +
      s""""anchor":$anchorJson,""" +
      s""""memoBuildSec":$memoJson,""" +
      f""""memoBuildTotalSec":$memoTotal%.3f,""" +
      s""""contextVerdict":${jstr(run.verdict.text)},""" +
      s""""rerun":$rerunJson,"errors":$errs,"sf":"$sfDir"}""")
    println(s"[bench] context verdict: ${run.verdict.text}")
    // exercise the memo eviction hook (long-lived-session hygiene): all
    // shared-stage temp-parquet memos are dropped before shutdown
    ops.Memo.evictAll()
    spark.stop()
    val anyFailed = first.failed ++ retried.map(_.failed).getOrElse(Nil)
    if (anyFailed.nonEmpty) {
      anyFailed.foreach { case (n, m) => System.err.println(s"[bench] FAILED $n: $m") }
      sys.exit(1)
    }
  }
}

package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The shared measurement harness (`graft.obs`) and Bench's context
  * verdict, as pure functions: no session is started. */
class ObsSuite extends AnyFunSuite {
  private val json = new ObjectMapper

  test("the JSON escaper's output parses back to its input") {
    for (s <- Seq("\"", "\\", "\n", "\t", "\u0001", "\r\u001f", "",
        "façade — µ̂ Σ 日本語", "a \"q\" \\d\n\tb"))
      assert(json.readValue(obs.jstr(s), classOf[String]) === s, s)
  }

  test("selection: SPARK_GRAFT_ONLY prefixes, `all`, and unknown names") {
    val known = Set("q10_c", "q01_a", "q02_b")
    val sorted = known.toSeq.sorted
    assert(sorted.filter(obs.keeps(None)) === sorted)
    assert(sorted.filter(obs.keeps(Some(Seq("q0")))) === Seq("q01_a", "q02_b"))
    assert(sorted.filter(obs.keeps(Some(Seq("q1", "q02_b")))) === Seq("q02_b", "q10_c"))
    assert(sorted.filter(obs.keeps(Some(Seq("q9")))).isEmpty)
    assert(obs.select("all", known) === sorted)
    assert(obs.select("q10_c,q01_a", known) === Seq("q10_c", "q01_a"))
    val e = intercept[IllegalArgumentException](obs.select("q01_a,q99_x,q0", known))
    assert(e.getMessage.contains("unknown queries: q99_x,q0"))
  }

  test("Bench's context verdict replays the committed r15 artifacts") {
    for (f <- Seq("r15_32c_157s_best_degraded.json", "r15_32c_189s_pair.json",
        "r15_8c_221s_pair.json")) {
      val doc = json.readTree(new java.io.File(s"bench_runs/$f"))
      val Seq(first, mid, last) = Seq("first", "mid", "last").map(leg =>
        Seq("canary", "canaryBatch").map(c => doc.get(c).get(leg).asDouble))
      val loads = doc.get("queryAttr").properties.asScala.toSeq
        .map(e => e.getKey -> e.getValue.get(2).asDouble)
      val anchorDoc = doc.get("anchor")
      val anchor = Option.when(anchorDoc.get("applicable").asBoolean) {
        val file = new java.io.File(anchorDoc.get("file").asText).getName
        Bench.loadAnchor(s"bench_runs/$file").fold(fail(_), identity)
      }
      val v = Bench.verdict(first, mid, last, doc.get("value").asDouble, loads, anchor)
      assert(v.text === doc.get("contextVerdict").asText, f)
      assert(v.anchorTrips.nonEmpty === anchorDoc.get("tripped").asBoolean, f)
      val peak = doc.get("loadPeak")
      assert(f"${v.loadPeak.get._2}%.2f" === f"${peak.get("loadAvg").asDouble}%.2f", f)
      assert(f"${v.loadMedian}%.2f" === f"${peak.get("median").asDouble}%.2f", f)
    }
  }

  test("Bench's default anchor and output resolve against the working directory") {
    val cwd = java.nio.file.Paths.get("").toAbsolutePath
    assert(Bench.defaultAnchorFile === cwd.resolve("bench_runs/r12_builder_146s.json").toString)
    assert(new java.io.File(Bench.defaultAnchorFile).isFile)
    assert(Bench.defaultOut(None) === cwd.resolve("BENCH.json").toString)
    assert(Bench.defaultOut(Some(Seq("q01"))) === "/tmp/BENCH_only.json")
  }

  test("Bench's context verdict: in-band canaries and a load spike") {
    val loads = Seq("q1" -> 1.0, "q2" -> 9.0, "q3" -> 1.5, "q4" -> -1.0)
    val v = Bench.verdict(Seq(1.0, 0.5), Seq(1.0, 0.5), Seq(1.2, 0.5), 100.0, loads, None)
    assert(v.slowTrips.isEmpty && v.fastTrips.isEmpty && v.anchorTrips.isEmpty)
    assert(v.loadPeak === Some("q2" -> 9.0))
    assert(v.loadMedian === 1.5)
    assert(v.text === "ok: both canaries in-band; loadavg spike mid-run at q2 " +
      "(9.0 vs median 1.5) - queries near it may be inflated even though the " +
      "canary legs sat in-band; see queryAttr")
    val anchor = Bench.Anchor("a.json", q70First = 0.5, q03First = 0.3, total = 70.0)
    val absolute = Bench.verdict(Seq(1.0, 0.5), Seq(1.0, 0.5), Seq(1.0, 0.4), 100.0,
      Nil, Some(anchor))
    assert(absolute.loadPeak === None)
    assert(absolute.text === "degraded-absolute (both first-leg canaries >1.3x quiet " +
      "anchor (q70 1.00 vs 0.50, q03 0.50 vs 0.30); total 100.0 s >1.25x quiet anchor " +
      "70.0 s; q03 last/mid 0.80 < 0.9): ratios in-band but the run sits far above " +
      "the committed quiet anchor - uniform contention; see contextAttr/queryAttr")
  }
}

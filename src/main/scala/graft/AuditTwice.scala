package graft

/** Plan-determinism diagnostic: audits the whole surface twice in one
  * JVM — cold, then with every shared-stage memo warm — and prints any
  * per-query count drift. A DIFF line means some query's physical plan
  * depends on session history (the usual culprit: a `.cache()`d subtree
  * being substituted into later plans only when it happens to be
  * registered), which makes PLANS.md's headline and PlanAuditSuite's
  * gate environment-dependent. Caught q157 doing exactly that in
  * round 8. Clean output = `PASS1` equals `PASS2`, no DIFF lines. */
object AuditTwice {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local("4")
    val sf = "/root/testdata/sf0.001"
    val a1 = Plans.audit(spark, sf, collectText = false)
    obs.hygiene(spark)
    // run one streaming query TO COMPLETION between the passes: round 8
    // proved the memo/stream interaction is the coupling point (pinned
    // memo storage taxed the streaming family), so the determinism gate
    // must also hold after a streaming query has executed — state-store
    // providers, sink tables, and watermark bookkeeping included.
    SparkEntry.queries("q70_stream_hourly")(spark, sf).count()
    obs.hygiene(spark)
    val a2 = Plans.audit(spark, sf, collectText = false)
    println(s"PASS1: ${Plans.summaryLine(a1)}")
    println(s"PASS2: ${Plans.summaryLine(a2)}")
    for (k <- a1.perQuery.keys.toSeq.sorted
         if a1.perQuery(k) != a2.perQuery.getOrElse(k, PlanAudit.Counts.zero))
      println(s"DIFF $k: ${a1.perQuery(k)} -> ${a2.perQuery(k)}")
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.kmer.Kmers
import graft.utils.KmerColumns

/** The native KmerGenerator must agree with Scala's `String.sliding` —
  * the reference's own definition of k-merization (Index.scala:87-89) —
  * on BOTH of its code paths: the ASCII byte-slicing fast path and the
  * char-indexed multibyte fallback. The index built on the same slicing
  * (`KmerClasses`) runs without a shuffle, and the read k-mer counts in one. */
class KmersSuite extends SparkSuite {
  import spark.implicits._

  private def check(cases: Seq[String], k: Int): Unit = {
    val got = cases.toDF("s")
      .select(Kmers.kmerExplode($"s", k).as("km"))
      .collect().map(_.getString(0)).sorted.toSeq
    val want = cases.flatMap(s =>
      if (s.length >= k) s.sliding(k).toSeq else Nil).sorted
    assert(got === want, s"k=$k over ${cases.length} strings")
  }

  test("generator matches String.sliding on random ASCII text") {
    val rnd = new scala.util.Random(99)
    val alphabet = "ACGT ab.z"
    val cases = Seq.tabulate(200) { _ =>
      (0 until rnd.nextInt(40)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    Seq(1, 3, 8).foreach(check(cases, _))
  }

  test("generator matches String.sliding on multibyte text (char fallback)") {
    val rnd = new scala.util.Random(7)
    // BMP-only multibyte chars so UTF-16 chars == code points on both sides
    val alphabet = "ACGTαßé日本語 ."
    val cases = Seq.tabulate(200) { _ =>
      (0 until rnd.nextInt(40)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    Seq(1, 3, 8).foreach(check(cases, _))
  }

  test("kmer_explode is callable from plain SQL after registration") {
    Seq("CAATCC", "GCA").toDF("sequence").createOrReplaceTempView("kmer_sql_test")
    val got = spark.sql(
      "SELECT kmer_explode(sequence, 3) AS km FROM kmer_sql_test")
      .collect().map(_.getString(0)).sorted.toSeq
    val want = Seq("CAATCC", "GCA").flatMap(_.sliding(3).toSeq).sorted
    assert(got === want)
  }

  test("array form and generator form agree") {
    val cases = Seq("CAATCCTTCG", "日本語abc", "", "xy")
    val viaArray = cases.toDF("s")
      .select(explode(KmerColumns.kmers($"s", 3)).as("km"))
      .collect().map(_.getString(0)).sorted.toSeq
    val viaGen = cases.toDF("s")
      .select(Kmers.kmerExplode($"s", 3).as("km"))
      .collect().map(_.getString(0)).sorted.toSeq
    assert(viaArray === viaGen)
  }

  /** Every node of an executed plan, inside AQE query stages and cached
    * relations too. */
  private def nodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
      case other => other.children.flatMap(nodes)
    })
  }

  test("the index tables execute with no shuffle exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val seqs = Seq("t1" -> "CAATCCTTCGCAATCC", "t2" -> "GCAGTGCAGTGCA", "t3" -> "AC")
      .toDF("id", "sequence")
    val idx = graft.index.Indexer(seqs, 4)
    for ((name, df) <- Seq("kmerToEc" -> idx.kmerToEc, "ecToKmers" -> idx.ecToKmers,
        "ecToTx" -> idx.ecToTx)) {
      assert(df.collect().nonEmpty, name)
      val plan = df.queryExecution.executedPlan
      assert(nodes(plan).count(_.isInstanceOf[ShuffleExchangeExec]) === 0, s"$name:\n$plan")
    }
  }

  test("countKmers executes in one shuffle exchange and no generator") {
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val reads = Seq("CAATCCTTCGCAATCC", "GCAGTGCAGTGCA", "AC", null).toDF("sequence")
    val counts = graft.quantify.Quantify.countKmers(reads, 4)
    assert(counts.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Seq("CAATCCTTCGCAATCC", "GCAGTGCAGTGCA").flatMap(_.sliding(4))
        .groupMapReduce(identity)(_ => 1L)(_ + _))
    val plan = counts.queryExecution.executedPlan
    assert(nodes(plan).count(_.isInstanceOf[ShuffleExchangeExec]) === 1, plan)
    assert(!nodes(plan).exists(_.isInstanceOf[GenerateExec]), plan)
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 (and the scale extensions)
  * is exposed as a named query over the driver corpus, each paired with a
  * DuckDB oracle where the semantics are ANSI-SQL-expressible.
  */
object SparkEntry {

  /** Registration sources, named — the names double as the benchmark's
    * per-family subtotal keys (Bench emits a `families` object so a
    * run-context drift that taxes one family, as the round-8 memo
    * residency taxed streaming, is visible in the JSON itself). */
  private def sources: Seq[(String, Seq[Q])] = Seq(
    "relational" -> relational.RelationalQueries.all,
    "genomics" -> relational.GenomicsQueries.queries,
    "text" -> ops.TextAnalysis.queries,
    "dedup" -> ops.Dedup.queries,
    "similarity" -> ops.Similarity.queries,
    "multimodal" -> ops.Multimodal.queries,
    "audits" -> ops.Audits.queries,
    "metrics" -> ops.Metrics.queries,
    "learn" -> ops.Learn.queries,
    // the streaming family runs inside withStatePartitions: state
    // partition count is a deployment knob pinned at stream start, sized
    // here to the harness corpus (see Drive.withStatePartitions)
    "streaming" -> streaming.StreamingQueries.queries.map(q => q.copy(
      fn = (s, d) =>
        streaming.Drive.withStatePartitions(s)(q.fn(s, d)))))

  /** All declared queries, in registration order. */
  def allQueries: Seq[Q] = sources.flatMap(_._2)

  /** Query name → declaring family (see [[sources]]). */
  def familyOf: Map[String, String] =
    sources.flatMap { case (f, qs) => qs.map(_.name -> f) }.toMap

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allQueries.collect { case Q(n, _, Some(sql)) => n -> sql }.toMap
}

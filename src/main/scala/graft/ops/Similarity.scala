package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Q, Tables}

/** Similarity search over the `embeddings` table (vec_id, embedding
  * array<float>, label).
  *
  *  - q50: brute-force cosine top-k — the exactness baseline. Query side is
  *    tiny and broadcast; the dot product is a codegen'd
  *    `aggregate(zip_with(...))` over the arrays, no explode of the
  *    database side.
  *  - q51: IVF-style ANN — deterministic coarse centroids, every vector
  *    assigned to its nearest centroid (one broadcast join), queries probe
  *    only their own cell. At 100 TB the cell assignment is the partition
  *    key, so a probe touches 1/C of the data.
  *
  * Cosines are rounded to 4 dp on BOTH engines before ranking so that
  * float-summation order can't flip the oracle hash; ties break on vec_id.
  */
object Similarity {

  /** Coarse-quantizer size — a FIXED constant, independent of corpus
    * cardinality. This is the scale invariant of the whole IVF design: the
    * centroid set broadcast to every task stays C·dim doubles (a few KB) and
    * cell assignment costs n·C dot products with constant C, no matter
    * whether n is 500 vectors or 100 TB of them. (A corpus-proportional C —
    * e.g. "every 100th vector" — would make assignment quadratic and the
    * broadcast unbounded.) Production IVF indexes pick C ≈ √n; at the
    * driver's SFs 64 cells is already past that. */
  val CoarseCells = 64

  /** How many nearest cells a query probes — the standard IVF recall lever.
    * A probe touches Nprobe/C of the corpus. */
  val Nprobe = 8

  /** Σ xᵢ·yᵢ over two float/double arrays, accumulated in double,
    * sequential left-to-right (deterministic per pair). Backed by the
    * native codegen'd `functions.DotProduct` expression — bit-identical to
    * the previous `aggregate(zip_with(...))` form but a primitive loop
    * inside whole-stage codegen instead of an interpreted higher-order
    * function with an intermediate zipped array. */
  def dot(x: Column, y: Column): Column =
    graft.functions.DotProduct.dot_product(x, y)

  def norm(x: Column): Column = sqrt(dot(x, x))

  /** Deterministic hash-sampled centroid seeds: the `c` vectors with the
    * smallest md5(vec_id) — a uniform pseudo-random sample that (a) has
    * corpus-INDEPENDENT cardinality, (b) needs no stored RNG state, and
    * (c) is bit-reproducible in DuckDB (`ORDER BY md5(CAST(vec_id AS
    * VARCHAR)) LIMIT c`). Spark executes sort+limit as TakeOrdered — a
    * per-partition top-c merged at the driver, NOT a global sort.
    * @return DataFrame(cid, ce array<double>)
    */
  def seedCentroids(e: DataFrame, c: Int): DataFrame =
    e.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(c)
      .select(col("vec_id").as("cid"),
        expr("transform(embedding, x -> cast(x as double))").as("ce"))

  /** The seed-selection predicate mirrored in oracle SQL. */
  def seedSqlPredicate(c: Int): String =
    s"vec_id IN (SELECT vec_id FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $c)"

  /** Assign every vector to its nearest centroid (cosine rounded to 4 dp,
    * centroid-id tiebreak — deterministic in both engines). Norms are
    * projected BELOW the cross join, so each is computed once per vector /
    * centroid — not once per (vector, centroid) pair.
    *
    * The argmax is a `max_by` AGGREGATION, not a `row_number` window: the
    * window formulation shuffles and per-task SORTS all n·C scored rows
    * (each carrying the embedding) — measured pathological at the k ∝ N
    * probe regime (sf10 × 640 cells = 128M rows × ~300 B through ONE
    * WindowGroupLimit sort task, >10 min single-core before it was
    * killed). The aggregation collapses each vector's C candidates
    * map-side — the shuffle carries n rows, never n·C — and the ordering
    * struct (cc, −cid) is strictly total (cid is unique), so the result
    * is the window's exact argmax row regardless of combine order.
    * @param e    DataFrame(vec_id, embedding)
    * @param cent DataFrame(cid, ce) — centroids, broadcast (≪ vectors)
    * @return DataFrame(vec_id, embedding, cid)
    */
  def assignCells(e: DataFrame, cent: DataFrame): DataFrame = {
    // the n·C scoring work is the stage's cost, and its parallelism is
    // capped by the SCAN's split count. A probe corpus is one ~20 MB
    // parquet file = one split, which would run the whole crossJoin on
    // one core (the same small-file artifact the skew probe documents);
    // a production-sized scan has thousands of splits and takes the
    // no-shuffle branch, so nothing is re-shuffled at scale. The guard
    // costs one physical planning of `e` (no job).
    val sc = e.sparkSession.sparkContext
    val ee =
      if (e.rdd.getNumPartitions >= sc.defaultParallelism) e
      else e.repartition(sc.defaultParallelism)
    ee.withColumn("vnrm", norm(col("embedding")))
      .crossJoin(broadcast(cent.withColumn("cnrm", norm(col("ce")))))
      .select(col("vec_id"), col("embedding"), col("cid"),
        round(dot(col("embedding"), col("ce")) /
          (col("vnrm") * col("cnrm")), 4).as("cc"))
      .groupBy(col("vec_id"))
      // coalesce(cc, -2.0) in the ordering (ADVICE r13): max_by SKIPS rows
      // whose ordering value is null, so a vector whose cosine is null
      // against every centroid (zero-norm or null embedding → division
      // null) would yield a null cid/embedding row where the old
      // row_number formulation kept a concrete assignment. Cosine lives in
      // [-1, 1], so -2.0 orders strictly below every real score: non-null
      // scores still win exactly as before (bit-identical on any input
      // with at least one scorable centroid), and the all-null edge case
      // now deterministically takes the lowest cid instead of null rows.
      .agg(max_by(struct(col("cid"), col("embedding")),
        struct(coalesce(col("cc"), lit(-2.0)).as("cc"),
          (-col("cid")).as("nc"))).as("best"))
      .select(col("vec_id"), col("best.embedding").as("embedding"),
        col("best.cid").as("cid"))
  }

  /** One Lloyd (k-means) update: each centroid becomes the component-wise
    * mean of its cell's members. Components are rounded to 6 dp so the
    * trained centroids are bit-identical across engines regardless of
    * summation order — that is what keeps the whole training loop
    * oracle-checkable. The posexplode/re-collect shuffles (cid, i) keys —
    * |cells|·dim rows, tiny next to the corpus.
    * @return DataFrame(cid, ce array<double>)
    */
  def lloydUpdate(assign: DataFrame): DataFrame =
    assign.select(col("cid"), posexplode(col("embedding")).as(Seq("i", "v")))
      .groupBy(col("cid"), col("i"))
      .agg(round(avg(col("v").cast("double")), 6).as("cv"))
      .groupBy(col("cid"))
      .agg(array_sort(collect_list(struct(col("i"), col("cv")))).as("pairs"))
      .select(col("cid"), expr("transform(pairs, p -> p.cv)").as("ce"))

  /** q146's DISTRIBUTED portion: the d²-row between-class scatter matrix
    * B = Σ_c d_c·d_cᵀ over 1e-4-quantized embedding components — two
    * corpus-sized partial aggregates (per-dim totals g, per-(label,dim)
    * totals cl) and a label-keyed self-join of the d·#labels deviation
    * rows. q146's registered fn collects this frame (d² = 64×64 rows by
    * the embedding schema) and runs the power iteration driver-side, so
    * its RETURNED frame is a local relation with nothing distributed left
    * to audit; the plan audit and the shuffle-bytes probe audit THIS
    * frame instead (Plans.auditSubstitutes) — the audit gate keeps
    * watching the query's real distributed work, and constructing the
    * audited plan no longer executes the corpus-sized jobs as a side
    * effect. */
  def scatterFrame(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    import s.implicits._
    val u = Tables.embeddings(s, d)
      .select($"label", posexplode($"embedding").as(Seq("i", "v")))
      .select($"label", $"i",
        expr("cast(round(cast(v as double) * 1e4) as bigint)").as("u"))
    val g = u.groupBy($"i").agg(sum($"u").as("m"), count(lit(1)).as("n"))
    val cl = u.groupBy($"label", $"i")
      .agg(sum($"u").as("sc"), count(lit(1)).as("nc"))
    val dv = cl.join(g, "i")
      .select($"label", $"i", ($"n" * $"sc" - $"nc" * $"m").as("dv"))
    dv.join(dv.select($"label", $"i".as("j"), $"dv".as("dw")), "label")
      .groupBy($"i", $"j")
      .agg(sum($"dv".cast("decimal(19,0)") * $"dw".cast("decimal(19,0)")).as("c"))
  }

  val queries: Seq[Q] = Seq(
    Q("q50_knn_brute",
      (s, d) => {
        import s.implicits._
        val e = Tables.embeddings(s, d)
        val q = e.filter($"vec_id" < 8)
          .select($"vec_id".as("qid"), $"embedding".as("qe"),
            norm($"embedding").as("qn"))
        val pairs = e.select($"vec_id".as("did"), $"embedding".as("de"),
            norm($"embedding").as("dn"))
          .crossJoin(broadcast(q))
          .filter($"did" =!= $"qid")
          .select($"qid", $"did", (dot($"qe", $"de") / ($"qn" * $"dn")).as("c"))
        pairs
          .withColumn("rnk", row_number().over(
            Window.partitionBy($"qid").orderBy(round($"c", 4).desc, $"did")))
          .filter($"rnk" <= 5)
          .select($"qid", $"did", round($"c", 4).as("cosine"), $"rnk")
          .orderBy($"qid", $"rnk")
      },
      Some("""WITH e AS (
             |  SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
             |  FROM embeddings),
             |q AS (SELECT * FROM e WHERE vec_id < 8),
             |dots AS (
             |  SELECT q.vec_id AS qid, e.vec_id AS did,
             |    sum(CAST(q.v AS DOUBLE) * CAST(e.v AS DOUBLE)) AS dot
             |  FROM q JOIN e USING (i) WHERE e.vec_id != q.vec_id
             |  GROUP BY 1, 2),
             |nrm AS (
             |  SELECT vec_id, sqrt(sum(CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) AS nrm
             |  FROM e GROUP BY vec_id),
             |cos AS (
             |  SELECT qid, did, dot / (nq.nrm * nd.nrm) AS c
             |  FROM dots JOIN nrm nq ON nq.vec_id = qid JOIN nrm nd ON nd.vec_id = did),
             |topk AS (
             |  SELECT qid, did, c,
             |    row_number() OVER (PARTITION BY qid ORDER BY round(c, 4) DESC, did) AS rnk
             |  FROM cos)
             |SELECT qid, did, round(c, 4) AS cosine, rnk
             |FROM topk WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin)),

    // IVF with TRAINED coarse centroids: deterministic k-means — seeds are
    // the CoarseCells hash-sampled vectors (fixed C, corpus-independent),
    // then 2 Lloyd iterations with centroid components rounded to 6 dp,
    // making the training reproducible bit-for-bit in DuckDB (same seeds,
    // same unrolled iterations). Data vectors live in exactly one cell;
    // queries multi-probe their Nprobe nearest cells (the standard IVF
    // recall lever). At 100 TB the cell id is the partition key, so a probe
    // touches Nprobe/C of the data.
    Q("q51_knn_ivf",
      (s, d) => {
        import s.implicits._
        val e = Tables.embeddings(s, d).select($"vec_id", $"embedding")
        val (cent, assign0) = trainedCellsShared(s, d)
        val assign = assign0.cache()
        // query side: top-nprobe cells by (rounded) centroid cosine
        val qcells = e.filter($"vec_id" < 8)
          .withColumn("qn", norm($"embedding"))
          .crossJoin(broadcast(cent.withColumn("cnrm", norm($"ce"))))
          .select($"vec_id".as("qid"), $"embedding".as("qe"), $"qn", $"cid",
            round(dot($"embedding", $"ce") / ($"qn" * $"cnrm"), 4).as("cc"))
          .withColumn("rn", row_number().over(
            Window.partitionBy($"qid").orderBy($"cc".desc, $"cid")))
          .filter($"rn" <= Nprobe)
          .select($"qid", $"qe", $"qn", $"cid")
        val probe = assign
          .select($"vec_id".as("did"), $"embedding".as("de"), $"cid",
            norm($"embedding").as("dn"))
          .join(broadcast(qcells), "cid")
          .filter($"did" =!= $"qid")
          .select($"qid", $"did", (dot($"qe", $"de") / ($"qn" * $"dn")).as("c"))
        probe
          .withColumn("rnk", row_number().over(
            Window.partitionBy($"qid").orderBy(round($"c", 4).desc, $"did")))
          .filter($"rnk" <= 3)
          .select($"qid", $"did", round($"c", 4).as("cosine"), $"rnk")
          .orderBy($"qid", $"rnk")
      },
      Some(ivfOracleSql(2))),

    // Random-hyperplane (sign-random-projection) LSH — the bucketed ANN
    // alternative to IVF (q51): 16 deterministic pseudo-random hyperplanes
    // (component p,i = md5-derived uniform in [-0.5, 0.5), no stored RNG
    // state, bit-identical in DuckDB), each vector's signature = the 16
    // projection sign bits, candidates meet on 4-bit signature BANDS — by
    // pigeonhole, any pair agreeing on ≥ 13 of 16 bits shares a band — and
    // are verified by exact cosine. At 100 TB the plane matrix is a
    // broadcast constant (P·dim doubles), signatures are one partial-agg
    // pass, and the band join keys on (band, value) — never all-pairs.
    // Projections are rounded to 6 dp before the sign test so summation
    // order can't flip a bit near zero.
    Q("q53_knn_srp_lsh",
      (s, d) => {
        import s.implicits._
        val e = Tables.embeddings(s, d).select($"vec_id", $"embedding")
        val planes = s.range(16L * 64L).select(
          ($"id" / 64).cast("int").as("p"), ($"id" % 64).cast("int").as("i"),
          (expr("cast(conv(substring(md5(concat(cast(id div 64 as string), ':', " +
              "cast(id % 64 as string))), 1, 8), 16, 10) as bigint)") /
            lit(4294967296.0) - 0.5).as("h"))
        val ev = e.select($"vec_id", posexplode($"embedding").as(Seq("i", "v")))
        val proj = ev.join(broadcast(planes), "i")
          .groupBy($"vec_id", $"p")
          .agg(round(sum($"v".cast("double") * $"h"), 6).as("proj"))
        val sig = proj.groupBy($"vec_id")
          .agg(sum(when($"proj" > 0, expr("cast(pow(2, p) as bigint)"))
            .otherwise(0L)).as("sig"))
          // cached: both sides of the banded join read this frame, and its
          // lineage is the full projection pass
          .cache()
        val bandCols = (0 until 4).map(j =>
          struct(lit(j).as("band"), expr(s"shiftright(sig, ${4 * j}) & 15").as("bv")))
        val bands = sig.select($"vec_id", explode(array(bandCols: _*)).as("bb"))
          .select($"vec_id", $"bb.band".as("band"), $"bb.bv".as("bv"))
        val cand = bands.filter($"vec_id" < 8)
          .select($"vec_id".as("qid"), $"band", $"bv")
          .join(bands.select($"vec_id".as("did"), $"band", $"bv"), Seq("band", "bv"))
          .filter($"did" =!= $"qid")
          .select($"qid", $"did")
          .distinct()
        val eq = e.select($"vec_id".as("qid"), $"embedding".as("qe"),
          norm($"embedding").as("qn"))
        val ed = e.select($"vec_id".as("did"), $"embedding".as("de"),
          norm($"embedding").as("dn"))
        cand.join(broadcast(eq), "qid").join(ed, "did")
          .select($"qid", $"did", (dot($"qe", $"de") / ($"qn" * $"dn")).as("c"))
          .withColumn("rnk", row_number().over(
            Window.partitionBy($"qid").orderBy(round($"c", 4).desc, $"did")))
          .filter($"rnk" <= 3)
          .select($"qid", $"did", round($"c", 4).as("cosine"), $"rnk")
          .orderBy($"qid", $"rnk")
      },
      Some("""WITH e AS (
             |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
             |    generate_subscripts(embedding, 1) - 1 AS i
             |  FROM embeddings),
             |nrm AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
             |planes AS (
             |  SELECT tp.p, ti.i,
             |    ('0x' || substr(md5(tp.p || ':' || ti.i), 1, 8))::BIGINT
             |      / 4294967296.0 - 0.5 AS h
             |  FROM generate_series(0, 15) AS tp(p), generate_series(0, 63) AS ti(i)),
             |proj AS (
             |  SELECT e.vec_id, pl.p, round(sum(e.v * pl.h), 6) AS proj
             |  FROM e JOIN planes pl USING (i) GROUP BY 1, 2),
             |sig AS (
             |  SELECT vec_id,
             |    CAST(sum(CASE WHEN proj > 0 THEN CAST(pow(2, p) AS BIGINT)
             |             ELSE 0 END) AS BIGINT) AS sig
             |  FROM proj GROUP BY vec_id),
             |bands AS (
             |  SELECT vec_id, tj.j AS band, (sig >> (4 * tj.j)) & 15 AS bv
             |  FROM sig, generate_series(0, 3) AS tj(j)),
             |cand AS (
             |  SELECT DISTINCT q.vec_id AS qid, x.vec_id AS did
             |  FROM bands q JOIN bands x ON q.band = x.band AND q.bv = x.bv
             |  WHERE q.vec_id < 8 AND x.vec_id != q.vec_id),
             |dots AS (
             |  SELECT c.qid, c.did, sum(eq.v * ed.v) AS dot
             |  FROM cand c
             |  JOIN e eq ON eq.vec_id = c.qid
             |  JOIN e ed ON ed.vec_id = c.did AND ed.i = eq.i
             |  GROUP BY 1, 2),
             |cos AS (
             |  SELECT qid, did, dot / (nq.nrm * nd.nrm) AS c
             |  FROM dots JOIN nrm nq ON nq.vec_id = qid JOIN nrm nd ON nd.vec_id = did),
             |topk AS (
             |  SELECT qid, did, c,
             |    row_number() OVER (PARTITION BY qid ORDER BY round(c, 4) DESC, did) AS rnk
             |  FROM cos)
             |SELECT qid, did, round(c, 4) AS cosine, rnk
             |FROM topk WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin)),

    // Scalar int8 quantization — the embedding-compression step a 100 TB
    // vector corpus needs before ANN serving (4× smaller than float32,
    // 8× than the double working form). Per-VECTOR absmax scaling:
    // scale = max|x|, code = floor(x·127/scale + 0.5) — one pass of
    // higher-order array functions per row, no shuffle anywhere, fully
    // codegen'd. Output pins scale and the code distribution per vector.
    Q("q52_embed_quantize",
      (s, d) => {
        import s.implicits._
        Tables.embeddings(s, d)
          .select($"vec_id", $"embedding",
            expr("""aggregate(embedding, cast(0.0 as double),
                   |  (a, x) -> greatest(a, abs(cast(x as double))))""".stripMargin)
              .as("scale"))
          .select($"vec_id", round($"scale", 6).as("qscale"),
            // greatest(scale, 1e-30) guards the all-zero embedding: scale 0
            // would yield NaN codes, where Spark's non-ANSI bigint cast (0)
            // and DuckDB's CAST (error) diverge — the guard maps zero
            // vectors to all-zero codes identically in both engines
            expr("""transform(embedding,
                   |  x -> cast(floor(cast(x as double) * 127 / greatest(scale, 1e-30d) + 0.5) as bigint))""".stripMargin)
              .as("codes"))
          .select($"vec_id", $"qscale",
            expr("aggregate(codes, 0L, (a, x) -> a + x)").as("code_sum"),
            expr("aggregate(codes, 127L, (a, x) -> least(a, x))").as("code_min"),
            expr("aggregate(codes, -127L, (a, x) -> greatest(a, x))").as("code_max"))
          .orderBy($"vec_id")
      },
      Some("""WITH s AS (
             |  SELECT vec_id, embedding,
             |    list_aggregate(list_transform(embedding,
             |      x -> abs(CAST(x AS DOUBLE))), 'max') AS scale
             |  FROM embeddings),
             |c AS (
             |  SELECT vec_id, scale,
             |    list_transform(embedding,
             |      x -> CAST(floor(CAST(x AS DOUBLE) * 127 / greatest(scale, 1e-30) + 0.5) AS BIGINT)) AS codes
             |  FROM s)
             |SELECT vec_id, round(scale, 6) AS qscale,
             |  CAST(list_aggregate(codes, 'sum') AS BIGINT) AS code_sum,
             |  CAST(list_aggregate(codes, 'min') AS BIGINT) AS code_min,
             |  CAST(list_aggregate(codes, 'max') AS BIGINT) AS code_max
             |FROM c ORDER BY vec_id""".stripMargin)),

    // Dimension-wise mean pooling — class centroids / corpus mean vectors,
    // the aggregation behind both k-means seeding and "average embedding
    // per label" analytics. posexplode flattens (vector → 64 (dim, value)
    // rows) INSIDE the scan stage, so the shuffle carries (label, dim)
    // partial sums — 10 labels × 64 dims = 640 groups regardless of corpus
    // size; the map-side partial aggregation means 100 TB of vectors
    // reduces to kilobytes before the exchange. The float components are
    // widened to double BEFORE summing on both engines so the accumulator
    // semantics match.
    Q("q66_mean_embedding",
      (s, d) => {
        import s.implicits._
        Tables.embeddings(s, d)
          .select($"label", posexplode($"embedding").as(Seq("dim", "v")))
          .groupBy($"label", $"dim")
          .agg(round(avg($"v".cast("double")), 6).as("mean_v"),
            count(lit(1)).as("n"))
          .orderBy($"label", $"dim")
      },
      Some("""WITH u AS (
             |  SELECT label,
             |    unnest(range(len(embedding))) AS dim,
             |    unnest(embedding) AS v
             |  FROM embeddings)
             |SELECT label, CAST(dim AS INT) AS dim,
             |  round(avg(CAST(v AS DOUBLE)), 6) AS mean_v, count(*) AS n
             |FROM u GROUP BY label, dim ORDER BY label, dim""".stripMargin)),

    // Semantic outliers — embedding-space quality filtering: the vectors
    // farthest (lowest cosine) from their label's mean embedding are the
    // mislabeled / off-topic candidates a curation pass reviews first.
    // Centroids are a bounded (labels × dims) aggregate broadcast to the
    // scoring join, the score is one codegen'd dot product per row, and
    // the bottom-5 ranking partitions by label — per-partition state is
    // label-sized, never corpus-sized. Cosines round to 4 dp before
    // ranking (ties break on vec_id) so float-summation order can't flip
    // the oracle hash; centroid components round to 6 dp, mirroring the
    // q51 Lloyd convention.
    Q("q102_centroid_outliers",
      (s, d) => {
        import s.implicits._
        val e = Tables.embeddings(s, d)
        val cents = e
          .select($"label", posexplode($"embedding").as(Seq("dim", "v")))
          .groupBy($"label", $"dim")
          .agg(round(avg($"v".cast("double")), 6).as("cv"))
          .groupBy($"label")
          .agg(expr("transform(array_sort(collect_list(struct(dim, cv))), x -> x.cv)")
            .as("ce"))
        val scored = e.join(broadcast(cents), "label")
          .select($"label", $"vec_id",
            round(dot($"embedding", $"ce") / (norm($"embedding") * norm($"ce")), 4)
              .as("cos_c"))
        val byLabel = Window.partitionBy($"label").orderBy($"cos_c".asc, $"vec_id")
        scored.withColumn("rn", row_number().over(byLabel).cast("long"))
          .filter($"rn" <= 5)
          .orderBy($"label", $"rn")
      },
      Some("""WITH u AS (
             |  SELECT label, vec_id, unnest(range(len(embedding))) AS dim,
             |    CAST(unnest(embedding) AS DOUBLE) AS v
             |  FROM embeddings),
             |cent AS (
             |  SELECT label, dim, round(avg(v), 6) AS cv FROM u GROUP BY label, dim),
             |nrm AS (SELECT vec_id, sqrt(sum(v * v)) AS nv FROM u GROUP BY vec_id),
             |cn AS (SELECT label, sqrt(sum(cv * cv)) AS nc FROM cent GROUP BY label),
             |cosv AS (
             |  SELECT u.label, u.vec_id,
             |    round(sum(u.v * c.cv) / (any_value(n.nv) * any_value(cn.nc)), 4) AS cos_c
             |  FROM u JOIN cent c ON c.label = u.label AND c.dim = u.dim
             |  JOIN nrm n ON n.vec_id = u.vec_id
             |  JOIN cn ON cn.label = u.label
             |  GROUP BY u.label, u.vec_id),
             |rk AS (
             |  SELECT label, vec_id, cos_c,
             |    row_number() OVER (PARTITION BY label ORDER BY cos_c, vec_id) AS rn
             |  FROM cosv)
             |SELECT label, vec_id, cos_c, rn FROM rk WHERE rn <= 5
             |ORDER BY label, rn""".stripMargin)),

    // Product quantization — the memory-side half of ANN at 100 TB: the
    // 64-dim embedding splits into 8 contiguous 8-dim subvectors, each
    // subspace trains a 4-centroid codebook (seeds = vectors 0–3, one
    // Lloyd refinement), and every vector compresses to 8 2-bit codes.
    // The query reports each codebook cell's population and mean L2²
    // reconstruction distortion — the number a PQ deployment watches
    // before trusting compressed distances. All 8 subspaces train in ONE
    // generic dataflow (subspace is a grouping column, not an unrolled
    // loop); distances round to 6 dp before the argmin (ties → lower
    // cid) so float summation order cannot flip an assignment on either
    // engine, mirroring the q51 Lloyd conventions.
    Q("q118_pq",
      (s, d) => {
        import s.implicits._
        val e = Tables.embeddings(s, d)
          .select($"vec_id", posexplode($"embedding").as(Seq("i", "v0")))
          .select($"vec_id", expr("i div 8").as("sub"), ($"i" % 8).as("j"),
            $"v0".cast("double").as("v"))
          .cache() // probed three times: init, refine, final assign
        val cent0 = e.filter($"vec_id" < 4)
          .select($"vec_id".as("cid"), $"sub", $"j", $"v".as("cv"))
        // the argmin stays a rank-1 window (r14 A/B, measured): the input
        // is the POST-aggregate (vec, sub, cid) distance frame — 4 narrow
        // rows per group — and Spark 4's partial WindowGroupLimit prunes
        // it to one row per group per map task before the exchange, so
        // the codegen'd window beat the min_by replan (struct ordering ⇒
        // non-codegen SortAggregate ×2 assign stages, ~+0.4 s). Contrast
        // assignCells, where the replan pays because rows carry the
        // embedding — see OPTIMIZATION_r14.md.
        def assign(cent: DataFrame) =
          e.join(broadcast(cent), Seq("sub", "j"))
            .groupBy($"vec_id", $"sub", $"cid")
            .agg(round(sum(($"v" - $"cv") * ($"v" - $"cv")), 6).as("d2"))
            .withColumn("rn", row_number().over(
              Window.partitionBy($"vec_id", $"sub").orderBy($"d2", $"cid")))
            .filter($"rn" === 1)
            .select($"vec_id", $"sub", $"cid", $"d2")
        val a1 = assign(cent0)
        val cent1 = e.join(a1.select($"vec_id", $"sub", $"cid"), Seq("vec_id", "sub"))
          .groupBy($"sub", $"cid", $"j").agg(round(avg($"v"), 6).as("cv"))
        // distortion averages in integer micro-units — a double avg() over
        // the rounded d2s can land ±1 ulp off the 6-dp boundary depending
        // on summation order
        assign(cent1)
          .withColumn("d2u", round($"d2" * 1e6).cast("long"))
          .groupBy($"sub", $"cid")
          .agg(count(lit(1)).as("n_assigned"), sum($"d2u").as("su"))
          .select($"sub", $"cid", $"n_assigned",
            (expr("(2 * su + n_assigned) div (2 * n_assigned)") / 1e6)
              .as("distortion"))
          .orderBy($"sub", $"cid")
      },
      Some("""WITH e AS (
             |  SELECT vec_id, (i - 1) // 8 AS sub, (i - 1) % 8 AS j,
             |    CAST(v AS DOUBLE) AS v
             |  FROM (SELECT vec_id, unnest(embedding) AS v,
             |          generate_subscripts(embedding, 1) AS i FROM embeddings)),
             |c0 AS (SELECT vec_id AS cid, sub, j, v AS cv FROM e WHERE vec_id < 4),
             |d1 AS (
             |  SELECT e.vec_id, e.sub, c.cid,
             |    round(sum((e.v - c.cv) * (e.v - c.cv)), 6) AS d2
             |  FROM e JOIN c0 c ON c.sub = e.sub AND c.j = e.j
             |  GROUP BY 1, 2, 3),
             |a1 AS (
             |  SELECT vec_id, sub, cid FROM (
             |    SELECT vec_id, sub, cid, row_number() OVER (
             |      PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
             |    FROM d1) WHERE rn = 1),
             |c1 AS (
             |  SELECT a.cid, e.sub, e.j, round(avg(e.v), 6) AS cv
             |  FROM e JOIN a1 a ON a.vec_id = e.vec_id AND a.sub = e.sub
             |  GROUP BY 1, 2, 3),
             |d2t AS (
             |  SELECT e.vec_id, e.sub, c.cid,
             |    round(sum((e.v - c.cv) * (e.v - c.cv)), 6) AS d2
             |  FROM e JOIN c1 c ON c.sub = e.sub AND c.j = e.j
             |  GROUP BY 1, 2, 3),
             |a2 AS (
             |  SELECT vec_id, sub, cid, d2 FROM (
             |    SELECT vec_id, sub, cid, d2, row_number() OVER (
             |      PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
             |    FROM d2t) WHERE rn = 1)
             |SELECT sub, cid, count(*) AS n_assigned,
             |  ((2 * sum(CAST(round(d2 * 1e6) AS BIGINT)) + count(*))
             |    // (2 * count(*))) / 1000000.0 AS distortion
             |FROM a2 GROUP BY sub, cid ORDER BY sub, cid""".stripMargin)),

    // Hard-negative mining — the training-pair construction step of
    // contrastive / embedding-model fine-tuning: for each query vector,
    // the most cosine-similar vectors whose LABEL differs (the "hard"
    // negatives that sit near the decision boundary). Identical dataflow
    // shape to q50's brute top-k — query side broadcast, codegen'd
    // dot_product, norms projected below the pair join — plus a label
    // inequality predicate evaluated before ranking, so the window ranks
    // only eligible negatives. At 100 TB this composes with q51/q53:
    // replace the brute pair source with the IVF/LSH candidate stream and
    // keep the same label filter + rank.
    Q("q139_hard_negatives",
      (s, d) => {
        import s.implicits._
        val e = Tables.embeddings(s, d)
        val q = e.filter($"vec_id" < 8)
          .select($"vec_id".as("qid"), $"label".as("qlabel"),
            $"embedding".as("qe"), norm($"embedding").as("qn"))
        e.select($"vec_id".as("did"), $"label".as("dlabel"),
            $"embedding".as("de"), norm($"embedding").as("dn"))
          .crossJoin(broadcast(q))
          .filter($"dlabel" =!= $"qlabel")
          .select($"qid", $"did", $"dlabel",
            (dot($"qe", $"de") / ($"qn" * $"dn")).as("c"))
          .withColumn("rnk", row_number().over(
            Window.partitionBy($"qid").orderBy(round($"c", 4).desc, $"did")))
          .filter($"rnk" <= 3)
          .select($"qid", $"did", $"dlabel", round($"c", 4).as("cosine"), $"rnk")
          .orderBy($"qid", $"rnk")
      },
      Some("""WITH e AS (
             |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
             |    generate_subscripts(embedding, 1) AS i
             |  FROM embeddings),
             |nrm AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
             |lab AS (SELECT vec_id, label FROM embeddings),
             |dots AS (
             |  SELECT q.vec_id AS qid, e.vec_id AS did, sum(q.v * e.v) AS dot
             |  FROM e q JOIN e USING (i)
             |  WHERE q.vec_id < 8 AND e.vec_id != q.vec_id
             |  GROUP BY 1, 2),
             |cos AS (
             |  SELECT qid, did, ld.label AS dlabel, dot / (nq.nrm * nd.nrm) AS c
             |  FROM dots
             |  JOIN nrm nq ON nq.vec_id = qid JOIN nrm nd ON nd.vec_id = did
             |  JOIN lab lq ON lq.vec_id = qid JOIN lab ld ON ld.vec_id = did
             |  WHERE ld.label != lq.label),
             |rk AS (
             |  SELECT qid, did, dlabel, c,
             |    row_number() OVER (PARTITION BY qid ORDER BY round(c, 4) DESC, did) AS rnk
             |  FROM cos)
             |SELECT qid, did, dlabel, round(c, 4) AS cosine, rnk
             |FROM rk WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin)),

    // Cluster-quality audit — simplified silhouette over the trained
    // k-means partition that q51 (IVF) and q135 (SemDeDup) both rely on:
    // per vector, a = cosine distance to its OWN centroid, b = distance
    // to the nearest OTHER centroid, s = (b − a)/max(a, b) ∈ [−1, 1];
    // per-cell mean s is the number that says whether a cell is a real
    // cluster (s → 1) or an arbitrary slice of space (s → 0) before
    // anyone trusts cell-local dedup decisions. Centroid distances come
    // from the SAME broadcast cross join the assignment uses (n·C dot
    // products, constant C), the per-vector a/b reduce to the top-2
    // assignment scores (cc desc ordering makes the 2nd-ranked cosine
    // the nearest-other by construction), and the per-cell mean
    // averages in integer 1e-4 units so summation order is moot.
    Q("q141_silhouette",
      (s, d) => {
        import s.implicits._
        val e = Tables.embeddings(s, d).select($"vec_id", $"embedding")
        val cent = trainedCellsShared(s, d)._1
        val scored = e.withColumn("vnrm", norm($"embedding"))
          .crossJoin(broadcast(cent.withColumn("cnrm", norm($"ce"))))
          .select($"vec_id", $"cid",
            round(dot($"embedding", $"ce") / ($"vnrm" * $"cnrm"), 4).as("cc"))
          .withColumn("rn", row_number().over(
            Window.partitionBy($"vec_id").orderBy($"cc".desc, $"cid")))
          .filter($"rn" <= 2)
        val tops = scored.groupBy($"vec_id")
          .agg(max(when($"rn" === 1, $"cid")).as("cid"),
            max(when($"rn" === 1, $"cc")).as("cc1"),
            max(when($"rn" === 2, $"cc")).as("cc2"))
          .withColumn("a", lit(1.0) - $"cc1")
          .withColumn("b", lit(1.0) - $"cc2")
          .withColumn("sil", when(greatest($"a", $"b") <= 0, 0.0)
            .otherwise(round(($"b" - $"a") / greatest($"a", $"b"), 4)))
        tops
          .withColumn("su", round($"sil" * 10000).cast("long"))
          .groupBy($"cid")
          .agg(count(lit(1)).as("n_members"), sum($"su").as("ssu"))
          .select($"cid", $"n_members",
            (expr("(2 * ssu + n_members) div (2 * n_members)") / 10000.0)
              .as("mean_silhouette"))
          .orderBy($"cid")
      },
      Some(kmeansTrainSql(2) + """
             |,top2 AS (
             |  SELECT vec_id, cid, cc,
             |    row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rn
             |  FROM cc2),
             |tops AS (
             |  SELECT vec_id,
             |    max(CASE WHEN rn = 1 THEN cid END) AS cid,
             |    1.0 - max(CASE WHEN rn = 1 THEN cc END) AS a,
             |    1.0 - max(CASE WHEN rn = 2 THEN cc END) AS b
             |  FROM top2 WHERE rn <= 2 GROUP BY vec_id),
             |sil AS (
             |  SELECT vec_id, cid,
             |    CAST(round((CASE WHEN greatest(a, b) <= 0 THEN 0.0
             |      ELSE round((b - a) / greatest(a, b), 4) END) * 10000) AS BIGINT) AS su
             |  FROM tops)
             |SELECT cid, count(*) AS n_members,
             |  ((2 * sum(su) + count(*)) // (2 * count(*))) / 10000.0 AS mean_silhouette
             |FROM sil GROUP BY cid ORDER BY cid""".stripMargin)),

    // ANN recall curve — the tuning measurement behind q51's Nprobe
    // choice: recall@3 of the IVF index as a function of how many cells
    // a query probes. Ground truth is the brute-force top-3 (q50's
    // dataflow); because those are the globally highest cosines, a
    // ground-truth neighbor is retrieved at probe depth p iff its cell
    // ranks ≤ p in the query's centroid ordering — so the whole curve
    // falls out of ONE join of the truth set against the assignment and
    // the query's cell ranking, no per-p re-execution. At 100 TB this is
    // the cheap offline audit: truth for a small query sample via brute
    // scan, then a constant-size rank join, recall averaged in integer
    // 1e-4 units per probe depth.
    Q("q142_ann_recall",
      (s, d) => {
        import s.implicits._
        val e = Tables.embeddings(s, d).select($"vec_id", $"embedding")
        val (cent, assign0) = trainedCellsShared(s, d)
        val assign = assign0.cache()
        val q = e.filter($"vec_id" < 8)
          .select($"vec_id".as("qid"), $"embedding".as("qe"),
            norm($"embedding").as("qn"))
        // ground truth: brute top-3 per query (q50 semantics)
        val truth = e.select($"vec_id".as("did"), $"embedding".as("de"),
            norm($"embedding").as("dn"))
          .crossJoin(broadcast(q))
          .filter($"did" =!= $"qid")
          .select($"qid", $"did",
            round(dot($"qe", $"de") / ($"qn" * $"dn"), 4).as("c"))
          .withColumn("rnk", row_number().over(
            Window.partitionBy($"qid").orderBy($"c".desc, $"did")))
          .filter($"rnk" <= 3)
          .select($"qid", $"did")
        // the query's centroid ordering (cell rank 1..C)
        val qrank = q.crossJoin(broadcast(cent.withColumn("cnrm", norm($"ce"))))
          .select($"qid", $"cid",
            round(dot($"qe", $"ce") / ($"qn" * $"cnrm"), 4).as("cc"))
          .withColumn("cellrank", row_number().over(
            Window.partitionBy($"qid").orderBy($"cc".desc, $"cid")))
          .select($"qid", $"cid", $"cellrank")
        val hitDepth = truth
          .join(assign.select($"vec_id".as("did"), $"cid"), "did")
          .join(qrank, Seq("qid", "cid"))
          .select($"qid", $"did", $"cellrank")
        val probes = s.range(1, Nprobe + 1).select($"id".cast("int").as("nprobe"))
        hitDepth.crossJoin(broadcast(probes))
          .groupBy($"nprobe")
          .agg(sum(when($"cellrank" <= $"nprobe", 1L).otherwise(0L)).as("n_hit"),
            count(lit(1)).as("n_truth"))
          .select($"nprobe", $"n_hit", $"n_truth",
            (expr("(2 * n_hit * 10000 + n_truth) div (2 * n_truth)") / 10000.0)
              .as("recall"))
          .orderBy($"nprobe")
      },
      Some(kmeansTrainSql(2) + s"""
             |,qv AS (SELECT vec_id AS qid FROM embeddings WHERE vec_id < 8),
             |dots AS (
             |  SELECT q.vec_id AS qid, e.vec_id AS did, sum(q.v * e.v) AS dot
             |  FROM e q JOIN e USING (i)
             |  WHERE q.vec_id < 8 AND e.vec_id != q.vec_id
             |  GROUP BY 1, 2),
             |truth AS (
             |  SELECT qid, did FROM (
             |    SELECT qid, did, row_number() OVER (PARTITION BY qid
             |      ORDER BY round(dot / (nq.nrm * nd.nrm), 4) DESC, did) AS rnk
             |    FROM dots JOIN nrm nq ON nq.vec_id = qid
             |    JOIN nrm nd ON nd.vec_id = did) WHERE rnk <= 3),
             |qrank AS (
             |  SELECT vec_id AS qid, cid,
             |    row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid)
             |      AS cellrank
             |  FROM cc2 WHERE vec_id < 8),
             |hd AS (
             |  SELECT t.qid, t.did, qr.cellrank
             |  FROM truth t JOIN a2 a ON a.vec_id = t.did
             |  JOIN qrank qr ON qr.qid = t.qid AND qr.cid = a.cid),
             |pr AS (SELECT unnest(generate_series(1, $Nprobe)) AS nprobe)
             |SELECT pr.nprobe,
             |  CAST(sum(CASE WHEN hd.cellrank <= pr.nprobe THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_hit,
             |  count(*) AS n_truth,
             |  ((2 * CAST(sum(CASE WHEN hd.cellrank <= pr.nprobe THEN 1 ELSE 0 END)
             |      AS BIGINT) * 10000 + count(*)) // (2 * count(*))) / 10000.0
             |    AS recall
             |FROM pr CROSS JOIN hd
             |GROUP BY pr.nprobe ORDER BY pr.nprobe""".stripMargin)),

    // Embedding-dimension health audit — the feature-store check run
    // before trusting any ANN index: per dimension, mean, variance, and
    // the fraction of exact zeros. A dead dimension (zero variance) or a
    // sparsity spike flags an upstream encoder bug long before recall
    // drops. One posexplode pass into a 64-row aggregate: the shuffle
    // carries (dim, partial moment) rows, never vectors; moments
    // accumulate as exact integer sums of 1e-6-scaled components so
    // summation order cannot move a bit at any corpus size.
    Q("q145_dim_stats",
      (s, d) => {
        import s.implicits._
        Tables.embeddings(s, d)
          .select(posexplode($"embedding").as(Seq("dim", "v")))
          // exact integer micro-units: Σx and Σx² in 1e-6/1e-12 scale
          .select($"dim", expr("cast(round(cast(v as double) * 1e6) as bigint)").as("u"))
          .groupBy($"dim")
          .agg(count(lit(1)).as("n"), sum($"u").as("su"),
            sum($"u" * $"u").as("squ"),
            sum(when($"u" === 0L, 1L).otherwise(0L)).as("n_zero"))
          // mean in exact integers: Spark's `div` and DuckDB's `//` both
          // truncate toward zero (verified: -9//2 = -4 in DuckDB), so the
          // same half-up expression matches bit-for-bit on either sign;
          // variance numerator squ·n − su² is ≥ 0 regardless. The
          // numerator terms leave 64 bits at ~20k rows/dim (squ reads
          // 2e16 at sf1, ×n = 4e20 — the r12 materialization probe caught
          // the ANSI overflow), so they accumulate in decimal(38,0),
          // mirrored HUGEINT in the oracle — exact at any corpus size up
          // to 38 digits, and IntegralDivide lands back in a long.
          .select($"dim", $"n",
            (expr("(2*su + n) div (2*n)") / 1e6).as("mean"),
            (expr("(2*(cast(squ as decimal(38,0))*n - cast(su as decimal(38,0))*su) " +
              "+ cast(n as decimal(38,0))*n*1000000) div " +
              "(2*cast(n as decimal(38,0))*n*1000000)") / 1e6)
              .as("variance"),
            round($"n_zero" / $"n".cast("double"), 6).as("zero_frac"))
          .orderBy($"dim")
      },
      Some("""WITH u AS (
             |  SELECT generate_subscripts(embedding, 1) - 1 AS dim,
             |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS u
             |  FROM embeddings),
             |m AS (
             |  SELECT dim, count(*) AS n, CAST(sum(u) AS BIGINT) AS su,
             |    CAST(sum(u * u) AS BIGINT) AS squ,
             |    CAST(sum(CASE WHEN u = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
             |  FROM u GROUP BY dim)
             |SELECT dim, n, ((2*su + n) // (2*n)) / 1e6 AS mean,
             |  CAST((2*(CAST(squ AS HUGEINT)*n - CAST(su AS HUGEINT)*su)
             |      + CAST(n AS HUGEINT)*n*1000000)
             |    // (2*CAST(n AS HUGEINT)*n*1000000) AS BIGINT) / 1e6
             |    AS variance,
             |  round(n_zero * 1.0 / n, 6) AS zero_frac
             |FROM m ORDER BY dim""".stripMargin)),

    // Class-separation axis: the leading eigenvector of the between-class
    // scatter matrix over the labeled embeddings, by power iteration — the
    // embedding-space diagnostic for "which direction separates the
    // classes" (low-rank by construction: rank ≤ #classes−1, so the
    // spectral gap is large and 4 iterations converge; cos > 0.997 to the
    // exact eigenvector on this corpus). Everything is exact until the
    // final rounding: components quantize to 1e-4 integers, per-class
    // deviations d_ci = n·Σ_c uᵢ − n_c·Σuᵢ are exact BIGINTs, and the
    // d²-sized scatter B = Σ_c d_c·d_cᵀ accumulates in DECIMAL(38,0)
    // (HUGEINT in the oracle) so summation order cannot move a bit. The
    // only corpus-sized passes are the two partial aggregates (per-dim
    // totals g and per-(label,dim) totals cl) feeding B's build; B itself
    // is d² = 64×64 rows by the embedding schema, so the power iteration
    // runs driver-side over the collected matrix (bounded-collect, the
    // Tare-OLS pattern) — at 100 TB the plan is two map-side-combined
    // aggregates plus d²-bounded driver-scale algebra, independent of
    // row count (see the in-body comment for the measured history). Each
    // iteration renormalizes by max|w| rounded to 1e-6 identically on both
    // engines, so the 4-step unroll is bit-reproducible.
    Q("q146_scatter_axis",
      (s, d) => {
        import s.implicits._
        val b = scatterFrame(s, d)
        // The matvec unroll runs DRIVER-SIDE over the collected scatter
        // matrix — the same sanctioned bounded-collect pattern as Tare's
        // driver-side OLS (I4): B is exactly d² = 64×64 rows by the
        // embedding schema, independent of corpus row count, and each
        // iteration is d² exact BigInt multiplies. The lazy-DataFrame
        // unroll this replaces was measurably wrong BOTH ways at scale:
        // every iteration's broadcast-max subquery replayed the
        // exploded-corpus aggregate through its own v-chain (O(k²) corpus
        // passes — surfaced by the multi-executor probe, where q146 was
        // the one query whose cluster/local ratio GREW with data, 2.3× at
        // sf0.1 → 4.1× at sf1), and patching that with caches/broadcast
        // hints just moved the cost into cache-build and per-iteration
        // broadcast jobs (isolated sf1 wall 2.5 s → 4.0 s). Distributed
        // work is now exactly the two corpus-sized partial aggregates
        // feeding B, as the 100 TB claim above requires. Arithmetic
        // mirrors the replaced column expressions bit-for-bit: BigInt is
        // exact like decimal(38,0), BigInt.toDouble rounds-to-nearest
        // like cast(decimal as double), and the 1e6 renormalization uses
        // BigDecimal.valueOf(...).setScale(0, HALF_UP) — the same path
        // Spark's Round takes for DoubleType.
        val bLocal = b.collect().map { r =>
          (r.getInt(0), r.getInt(1), BigInt(r.getDecimal(2).toBigInteger))
        }
        // empty corpus → empty axis, matching the replaced lazy plan's
        // behavior (an empty-collection .max would throw instead)
        val out: Seq[(Int, Double)] = if (bLocal.isEmpty) Seq.empty else {
          val dims = bLocal.map(_._1).distinct.sorted
          def matvec(vq: Map[Int, BigInt]): Map[Int, BigInt] =
            bLocal.groupBy(_._1).map { case (i, row) =>
              i -> row.iterator.map { case (_, j, c) => c * vq(j) }.sum
            }
          def halfUp(x: Double): Long =
            java.math.BigDecimal.valueOf(x)
              .setScale(0, java.math.RoundingMode.HALF_UP).longValue
          var vq = dims.map(_ -> BigInt(1000000L)).toMap
          for (_ <- 1 to 3) {
            val w = matvec(vq)
            val mx = w.valuesIterator.map(_.abs).max
            vq = w.map { case (i, wi) =>
              i -> BigInt(halfUp(wi.toDouble / mx.toDouble * 1e6))
            }
          }
          val w4 = matvec(vq)
          val mx4 = w4.valuesIterator.map(_.abs).max
          dims.map { i =>
            val q = java.math.BigDecimal.valueOf(w4(i).toDouble / mx4.toDouble)
              .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
            (i, q)
          }.toIndexedSeq
        }
        s.createDataFrame(out).toDF("dim", "loading")
          .orderBy($"dim")
      },
      Some("""WITH u AS (
             |  SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS i,
             |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e4) AS BIGINT) AS u
             |  FROM embeddings),
             |g AS (SELECT i, CAST(sum(u) AS BIGINT) AS m, count(*) AS n FROM u GROUP BY i),
             |cl AS (SELECT label, i, CAST(sum(u) AS BIGINT) AS sc, count(*) AS nc
             |       FROM u GROUP BY 1, 2),
             |dv AS (SELECT cl.label, cl.i, g.n * cl.sc - cl.nc * g.m AS dv
             |       FROM cl JOIN g USING (i)),
             |b AS (SELECT x.i AS i, y.i AS j, sum(CAST(x.dv AS HUGEINT) * y.dv) AS c
             |      FROM dv x JOIN dv y USING (label) GROUP BY 1, 2),
             |v0 AS (SELECT i AS dim, CAST(1000000 AS HUGEINT) AS vq FROM g),
             |w1 AS (SELECT b.i AS dim, sum(b.c * v0.vq) AS w FROM b JOIN v0 ON b.j = v0.dim GROUP BY 1),
             |m1 AS (SELECT max(abs(w)) AS mx FROM w1),
             |v1 AS (SELECT dim, CAST(round(CAST(w AS DOUBLE) / CAST(mx AS DOUBLE) * 1e6) AS HUGEINT) AS vq FROM w1, m1),
             |w2 AS (SELECT b.i AS dim, sum(b.c * v1.vq) AS w FROM b JOIN v1 ON b.j = v1.dim GROUP BY 1),
             |m2 AS (SELECT max(abs(w)) AS mx FROM w2),
             |v2 AS (SELECT dim, CAST(round(CAST(w AS DOUBLE) / CAST(mx AS DOUBLE) * 1e6) AS HUGEINT) AS vq FROM w2, m2),
             |w3 AS (SELECT b.i AS dim, sum(b.c * v2.vq) AS w FROM b JOIN v2 ON b.j = v2.dim GROUP BY 1),
             |m3 AS (SELECT max(abs(w)) AS mx FROM w3),
             |v3 AS (SELECT dim, CAST(round(CAST(w AS DOUBLE) / CAST(mx AS DOUBLE) * 1e6) AS HUGEINT) AS vq FROM w3, m3),
             |w4 AS (SELECT b.i AS dim, sum(b.c * v3.vq) AS w FROM b JOIN v3 ON b.j = v3.dim GROUP BY 1),
             |m4 AS (SELECT max(abs(w)) AS mx FROM w4)
             |SELECT dim, round(CAST(w AS DOUBLE) / CAST(mx AS DOUBLE), 6) AS loading
             |FROM w4, m4 ORDER BY dim""".stripMargin)),

    // Reciprocal-rank-fusion hybrid retrieval — the step that combines a
    // lexical ranker (BM25, q119's scorer) with a semantic ranker (cosine
    // to a query embedding, q50's scorer) into one list:
    // rrf = Σ 1/(60 + rank_i), the score that needs no calibration between
    // incomparable scales. Each ranker contributes only its TOP-100 list
    // (TakeOrdered — no global sort shuffle), so the fusion join runs over
    // two query-result-sized frames no matter the corpus size; a document
    // found by only one ranker still scores on that list alone. Scores
    // round before ranking on both sides so last-ulp sums can't reorder.
    Q("q158_rrf_fusion",
      (s, d) => {
        import s.implicits._
        val qTerms = Seq("spark", "join", "filter")
        val docs = Tables.documents(s, d)
          .select($"doc_id", split($"text", " ").as("w"))
          .select($"doc_id", size($"w").cast("long").as("dl"), $"w")
        val stats = docs.agg(count(lit(1)).as("n_docs"),
          (sum($"dl") / count(lit(1))).as("avgdl"))
        val tf = docs
          .select($"doc_id", $"dl", explode($"w").as("t"))
          .filter($"t".isin(qTerms: _*))
          .groupBy($"doc_id", $"dl", $"t").agg(count(lit(1)).as("tf"))
        val df = tf.groupBy($"t").agg(count(lit(1)).as("df"))
        val lexTop = tf.join(broadcast(df), "t").crossJoin(broadcast(stats))
          .select($"doc_id",
            (log(($"n_docs" - $"df" + 0.5) / ($"df" + 0.5) + 1.0) *
              ($"tf" * 2.2) /
              ($"tf" + (lit(0.25) + $"dl" / $"avgdl" * 0.75) * 1.2)).as("ts"))
          .groupBy($"doc_id").agg(round(sum($"ts"), 6).as("bm25"))
          .orderBy($"bm25".desc, $"doc_id").limit(100)
        val lex = lexTop.withColumn("lex_rk",
          row_number().over(Window.orderBy($"bm25".desc, $"doc_id")))
        val e = Tables.embeddings(s, d)
        val qv = e.filter($"vec_id" === 0)
          .select($"embedding".as("qe"), norm($"embedding").as("qn"))
        val semTop = e.filter($"vec_id" =!= 0)
          .select($"vec_id".as("doc_id"), $"embedding".as("de"),
            norm($"embedding").as("dn"))
          .crossJoin(broadcast(qv))
          .select($"doc_id", round(dot($"qe", $"de") / ($"qn" * $"dn"), 4).as("cos"))
          .orderBy($"cos".desc, $"doc_id").limit(100)
        val sem = semTop.withColumn("sem_rk",
          row_number().over(Window.orderBy($"cos".desc, $"doc_id")))
        lex.join(sem, Seq("doc_id"), "full_outer")
          .select($"doc_id",
            round(coalesce(lit(1.0) / (lit(60) + $"lex_rk"), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60) + $"sem_rk"), lit(0.0)), 6).as("rrf"),
            $"lex_rk", $"sem_rk")
          .orderBy($"rrf".desc, $"doc_id").limit(20)
      },
      Some("""WITH d AS (
             |  SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
             |st AS (SELECT count(*) AS n_docs, sum(dl) * 1.0 / count(*) AS avgdl FROM d),
             |tf AS (
             |  SELECT doc_id, dl, t, count(*) AS tf
             |  FROM (SELECT doc_id, dl, unnest(string_split(text, ' ')) AS t
             |        FROM documents JOIN d USING (doc_id))
             |  WHERE t IN ('spark', 'join', 'filter')
             |  GROUP BY doc_id, dl, t),
             |dfq AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
             |lexTop AS (
             |  SELECT doc_id,
             |    round(sum(ln((n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
             |      * (tf.tf * 2.2)
             |      / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / avgdl))), 6) AS bm25
             |  FROM tf JOIN dfq USING (t), st
             |  GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 100),
             |lex AS (
             |  SELECT doc_id, bm25,
             |    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rk
             |  FROM lexTop),
             |e AS (
             |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
             |    generate_subscripts(embedding, 1) AS i
             |  FROM embeddings),
             |nrm AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
             |semTop AS (
             |  SELECT ed.vec_id AS doc_id,
             |    round(sum(eq.v * ed.v) / (nq.nrm * nd.nrm), 4) AS cos
             |  FROM e eq JOIN e ed ON ed.i = eq.i AND eq.vec_id = 0 AND ed.vec_id != 0
             |  JOIN nrm nq ON nq.vec_id = 0 JOIN nrm nd ON nd.vec_id = ed.vec_id
             |  GROUP BY ed.vec_id, nq.nrm, nd.nrm
             |  ORDER BY cos DESC, doc_id LIMIT 100),
             |sem AS (
             |  SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS sem_rk
             |  FROM semTop)
             |SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
             |  round(COALESCE(1.0 / (60 + lex_rk), 0) +
             |        COALESCE(1.0 / (60 + sem_rk), 0), 6) AS rrf,
             |  lex_rk, sem_rk
             |FROM lex FULL OUTER JOIN sem USING (doc_id)
             |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin)),

    // Johnson–Lindenstrauss sparse random projection (Achlioptas): dim-64
    // embeddings down to k=8 via a deterministic {+1, −1, 0} matrix drawn
    // from md5 (P = 1/6, 1/6, 2/3), with the distance-preservation audit
    // that justifies using the projection for blocking at 100 TB. The whole
    // computation is EXACT integer arithmetic: components quantize to 1e-4
    // units, the projection is an integer dot, and squared distances are
    // integer sums — no float summation anywhere until the final ratios,
    // so both engines agree bit-for-bit regardless of aggregation order.
    // The projection itself is one broadcast join + partial agg (corpus ×
    // 64·8 constant matrix); the audit pairs only the vec_id < 30 sample.
    Q("q159_jl_projection",
      (s, d) => {
        import s.implicits._
        // r(i, p) ∈ {+1, −1, 0}: md5("jl:p:i") mod 6 → 0 ⇒ +1, 1 ⇒ −1
        val proj = s.range(64L * 8L).select(
          ($"id" % 64).cast("int").as("i"),
          ($"id" / 64).cast("int").as("p"),
          expr("""cast(conv(substring(md5(concat('jl:', cast(id div 64 as string),
                 |  ':', cast(id % 64 as string))), 1, 8), 16, 10) as bigint) % 6"""
            .stripMargin).as("m"))
          .select($"i", $"p",
            when($"m" === 0, 1L).when($"m" === 1, -1L).otherwise(0L).as("r"))
        val e = Tables.embeddings(s, d).filter($"vec_id" < 30)
          .select($"vec_id", posexplode($"embedding").as(Seq("i", "x")))
          .select($"vec_id", $"i",
            expr("cast(round(cast(x as double) * 1e4) as bigint)").as("xi"))
        val y = e.join(broadcast(proj), "i")
          .groupBy($"vec_id", $"p").agg(sum($"xi" * $"r").as("y"))
        val projD = y.as("a").join(y.as("b"),
            $"a.p" === $"b.p" && $"a.vec_id" < $"b.vec_id")
          .groupBy($"a.vec_id".as("u"), $"b.vec_id".as("v"))
          .agg(sum(($"a.y" - $"b.y") * ($"a.y" - $"b.y")).as("pd2"))
        val origD = e.as("a").join(e.as("b"),
            $"a.i" === $"b.i" && $"a.vec_id" < $"b.vec_id")
          .groupBy($"a.vec_id".as("u"), $"b.vec_id".as("v"))
          .agg(sum(($"a.xi" - $"b.xi") * ($"a.xi" - $"b.xi")).as("od2"))
        val ratios = projD.join(origD, Seq("u", "v"))
          .select(expr("cast(round(3.0 * pd2 / (8.0 * od2) * 1e6) as bigint)")
            .as("rq"))
        ratios.agg(count(lit(1)).as("n_pairs"),
            round(min($"rq") / 1e6, 4).as("min_ratio"),
            round(max($"rq") / 1e6, 4).as("max_ratio"),
            round(sum($"rq") / (count(lit(1)) * 1e6), 4).as("mean_ratio"),
            round(sum(when($"rq".between(700000L, 1300000L), 1L).otherwise(0L))
              / count(lit(1)).cast("double"), 4).as("frac_within_30pct"))
      },
      Some("""WITH proj AS (
             |  SELECT (t.g % 64) AS i, (t.g // 64) AS p,
             |    CASE ('0x' || substr(md5('jl:' || (t.g // 64) || ':' || (t.g % 64)),
             |        1, 8))::BIGINT % 6
             |      WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 0 END AS r
             |  FROM (SELECT unnest(generate_series(0, 511)) AS g) t),
             |e AS (
             |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
             |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e4) AS BIGINT) AS xi
             |  FROM embeddings WHERE vec_id < 30),
             |y AS (
             |  SELECT e.vec_id, proj.p, CAST(sum(e.xi * proj.r) AS BIGINT) AS y
             |  FROM e JOIN proj USING (i) GROUP BY 1, 2),
             |pd AS (
             |  SELECT a.vec_id AS u, b.vec_id AS v,
             |    CAST(sum((a.y - b.y) * (a.y - b.y)) AS BIGINT) AS pd2
             |  FROM y a JOIN y b ON a.p = b.p AND a.vec_id < b.vec_id
             |  GROUP BY 1, 2),
             |od AS (
             |  SELECT a.vec_id AS u, b.vec_id AS v,
             |    CAST(sum((a.xi - b.xi) * (a.xi - b.xi)) AS BIGINT) AS od2
             |  FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id
             |  GROUP BY 1, 2),
             |r AS (
             |  SELECT CAST(round(3.0 * pd2 / (8.0 * od2) * 1e6) AS BIGINT) AS rq
             |  FROM pd JOIN od USING (u, v))
             |SELECT count(*) AS n_pairs,
             |  round(min(rq) / 1e6, 4) AS min_ratio,
             |  round(max(rq) / 1e6, 4) AS max_ratio,
             |  round(CAST(sum(rq) AS BIGINT) / (count(*) * 1e6), 4) AS mean_ratio,
             |  round(sum(CASE WHEN rq BETWEEN 700000 AND 1300000 THEN 1 ELSE 0 END)
             |    / CAST(count(*) AS DOUBLE), 4) AS frac_within_30pct
             |FROM r""".stripMargin)),

    // Maximal-marginal-relevance diversification — the re-ranking step that
    // keeps a retrieval (or a dedup-aware sampling pass) from returning five
    // copies of the same neighborhood: greedily pick argmax of
    // 0.7·relevance − 0.3·max-similarity-to-already-picked. The greedy loop
    // is inherently sequential, but its STATE is k−1 picked ids over a
    // candidate list that is already a top-20 — so each of the 4 unrolled
    // steps is an agg over ≤ 20×k rows regardless of corpus size (the
    // corpus-sized work all happened in the candidate retrieval). Relevance
    // and pairwise sims round to 4 dp, scores to 6 dp before every argmax,
    // making the whole greedy trace bit-identical in the oracle's CTE chain.
    Q("q168_mmr_diversify",
      (s, d) => {
        import s.implicits._
        val e = Tables.embeddings(s, d)
        val qv = e.filter($"vec_id" === 0)
          .select($"embedding".as("qe"), norm($"embedding").as("qn"))
        val cand = e.filter($"vec_id" =!= 0)
          .select($"vec_id", $"embedding", norm($"embedding").as("nm"))
          .crossJoin(broadcast(qv))
          .select($"vec_id", $"embedding", $"nm",
            round(dot($"qe", $"embedding") / ($"qn" * $"nm"), 4).as("rel"))
          .orderBy($"rel".desc, $"vec_id").limit(20)
          .cache() // the pair join reads both sides; steps re-read it
        val sims = cand.as("x").join(cand.as("y"),
            $"x.vec_id" =!= $"y.vec_id")
          .select($"x.vec_id".as("a"), $"y.vec_id".as("b"),
            round(dot($"x.embedding", $"y.embedding") /
              ($"x.nm" * $"y.nm"), 4).as("sim"))
          .cache()
        // The greedy state is ≤ 4 picked ids — keep it on the DRIVER as
        // literals instead of chaining each round's limit(1) subtree into
        // the next round's plan: the chained form replans (and re-codegens)
        // an exponentially-referenced tree in one giant job, while this
        // form runs 5 tiny actions against the two cached 20-row frames
        // (the corpus-sized work — candidate retrieval — ran once above).
        val first = cand.orderBy($"rel".desc, $"vec_id").limit(1)
          .select($"vec_id", $"rel").head()
        var picked = Vector((1, first.getLong(0), first.getDouble(1),
          first.getDouble(1)))
        for (t <- 2 to 5) {
          val ids = picked.map(_._2)
          val r = cand.filter(!$"vec_id".isin(ids: _*))
            .join(sims.filter($"b".isin(ids: _*))
              .groupBy($"a".as("vec_id")).agg(max($"sim").as("ms")), "vec_id")
            .select($"vec_id", $"rel",
              round(lit(0.7) * $"rel" - lit(0.3) * $"ms", 6).as("score"))
            .orderBy($"score".desc, $"vec_id").limit(1).head()
          picked = picked :+ ((t, r.getLong(0), r.getDouble(1), r.getDouble(2)))
        }
        picked.toDF("rank", "vec_id", "rel", "score").orderBy($"rank")
      },
      Some {
        def step(t: Int): String = {
          val prev = (1 until t).map(i => s"SELECT vec_id FROM s$i").mkString(" UNION ALL ")
          s"""s$t AS (
             |  SELECT vec_id, rel, score, $t AS rank FROM (
             |    SELECT c.vec_id, c.rel,
             |      round(0.7 * c.rel - 0.3 * max(p.sim), 6) AS score
             |    FROM cand c JOIN sims p ON p.a = c.vec_id
             |      AND p.b IN ($prev)
             |    WHERE c.vec_id NOT IN ($prev)
             |    GROUP BY c.vec_id, c.rel)
             |  ORDER BY score DESC, vec_id LIMIT 1)""".stripMargin
        }
        s"""WITH e AS (
           |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
           |    generate_subscripts(embedding, 1) AS i
           |  FROM embeddings),
           |nrm AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
           |cand AS (
           |  SELECT ed.vec_id,
           |    round(sum(eq.v * ed.v) / (nq.nrm * nd.nrm), 4) AS rel
           |  FROM e eq JOIN e ed ON ed.i = eq.i AND eq.vec_id = 0 AND ed.vec_id != 0
           |  JOIN nrm nq ON nq.vec_id = 0 JOIN nrm nd ON nd.vec_id = ed.vec_id
           |  GROUP BY ed.vec_id, nq.nrm, nd.nrm
           |  ORDER BY rel DESC, ed.vec_id LIMIT 20),
           |sims AS (
           |  SELECT x.vec_id AS a, y.vec_id AS b,
           |    round(sum(ex.v * ey.v) / (nx.nrm * ny.nrm), 4) AS sim
           |  FROM cand x JOIN cand y ON x.vec_id != y.vec_id
           |  JOIN e ex ON ex.vec_id = x.vec_id
           |  JOIN e ey ON ey.vec_id = y.vec_id AND ey.i = ex.i
           |  JOIN nrm nx ON nx.vec_id = x.vec_id
           |  JOIN nrm ny ON ny.vec_id = y.vec_id
           |  GROUP BY x.vec_id, y.vec_id, nx.nrm, ny.nrm),
           |s1 AS (
           |  SELECT vec_id, rel, rel AS score, 1 AS rank
           |  FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
           |${step(2)},
           |${step(3)},
           |${step(4)},
           |${step(5)}
           |SELECT rank, vec_id, rel, score
           |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
           |      UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
           |      UNION ALL SELECT * FROM s5)
           |ORDER BY rank""".stripMargin
      }),

    // Bloom-filter false-positive audit — the sketch behind q80's join
    // pruning, built from first principles and CHECKED against its theory:
    // k = 4 double-hashed probes (the same Kirsch–Mitzenmacher h_i = a + i·b
    // construction as MinHash) into m = 65536 bits, membership = all-probes-
    // set via a semi-join against the distinct bit set, and the observed
    // false-positive rate on a provably-disjoint test set lands next to
    // (1 − (1−1/m)^{kn})^k. At 100 TB the bit set IS the broadcastable
    // pruning structure (≤ m rows after distinct), and the audit is the
    // go/no-go for shipping it to a join — all integer/hash arithmetic,
    // engine-identical.
    Q("q169_bloom_fpr",
      (s, d) => {
        import s.implicits._
        val m = 65536
        def probes(df: DataFrame, key: String): DataFrame =
          df.select(col(key).as("key"),
              expr(s"cast(conv(substring(md5(concat('bf:', cast($key as string))), 1, 14), 16, 10) as bigint)").as("a"),
              expr(s"cast(conv(substring(md5(concat('bf:', cast($key as string))), 15, 14), 16, 10) as bigint)").as("b"))
            .select(col("key"), explode(expr(
              s"transform(sequence(0, 3), i -> pmod(a + i * b, $m))")).as("h"))
        val members = Tables.lineitem(s, d)
          .filter($"l_shipdate" < lit("1995-01-01"))
          .select($"l_partkey").distinct()
        val bits = probes(members, "l_partkey").select($"h").distinct().cache()
        val tests = Tables.part(s, d).select($"p_partkey")
          .join(members.withColumnRenamed("l_partkey", "p_partkey"),
            Seq("p_partkey"), "left_anti")
        val hits = probes(tests, "p_partkey")
          .join(bits, "h")
          .groupBy($"key").agg(count(lit(1)).as("nset"))
          .filter($"nset" === 4)
        val nm = members.agg(count(lit(1)).as("n_members"))
        val nb = bits.agg(count(lit(1)).as("bits_set"))
        val nt = tests.agg(count(lit(1)).as("n_test"))
        val fp = hits.agg(count(lit(1)).as("n_fp"))
        nm.crossJoin(broadcast(nb)).crossJoin(broadcast(nt))
          .crossJoin(broadcast(fp))
          .select($"n_members", $"bits_set", $"n_test", $"n_fp",
            round($"n_fp" / $"n_test".cast("double"), 6).as("fpr"),
            round(pow(lit(1.0) - pow(lit(1.0) - 1.0 / m, $"n_members" * 4.0),
              4.0), 6).as("theo_fpr"))
      },
      Some("""WITH members AS (
             |  SELECT DISTINCT l_partkey AS key FROM lineitem
             |  WHERE l_shipdate < DATE '1995-01-01'),
             |mh AS (
             |  SELECT key,
             |    ('0x' || substr(md5('bf:' || CAST(key AS VARCHAR)), 1, 14))::BIGINT AS a,
             |    ('0x' || substr(md5('bf:' || CAST(key AS VARCHAR)), 15, 14))::BIGINT AS b
             |  FROM members),
             |bits AS (
             |  SELECT DISTINCT (a + t.i * b) % 65536 AS h
             |  FROM mh, generate_series(0, 3) AS t(i)),
             |tests AS (
             |  SELECT p_partkey AS key FROM part
             |  WHERE p_partkey NOT IN (SELECT key FROM members)),
             |th AS (
             |  SELECT key,
             |    ('0x' || substr(md5('bf:' || CAST(key AS VARCHAR)), 1, 14))::BIGINT AS a,
             |    ('0x' || substr(md5('bf:' || CAST(key AS VARCHAR)), 15, 14))::BIGINT AS b
             |  FROM tests),
             |probes AS (
             |  SELECT key, (a + t.i * b) % 65536 AS h
             |  FROM th, generate_series(0, 3) AS t(i)),
             |fp AS (
             |  SELECT count(*) AS n_fp FROM (
             |    SELECT key FROM probes JOIN bits USING (h)
             |    GROUP BY key HAVING count(*) = 4)),
             |nm AS (SELECT count(*) AS n_members FROM members),
             |nb AS (SELECT count(*) AS bits_set FROM bits),
             |nt AS (SELECT count(*) AS n_test FROM tests)
             |SELECT n_members, bits_set, n_test, n_fp,
             |  round(n_fp / CAST(n_test AS DOUBLE), 6) AS fpr,
             |  round(pow(1.0 - pow(1.0 - 1.0 / 65536, n_members * 4.0), 4.0), 6)
             |    AS theo_fpr
             |FROM nm, nb, nt, fp""".stripMargin)),

    // kNN-graph construction audit — the index-quality read behind every
    // graph-based ANN structure (NSW/HNSW start from exactly this graph):
    // each vector links to its top-3 cell-mates by cosine (the trained
    // IVF cells bound candidate generation, so edge building is cell-local
    // — no all-pairs), and the audit reports the numbers that predict
    // search quality: edge count, RECIPROCITY (mutual-neighbor fraction —
    // low reciprocity means hub-and-spoke neighborhoods that trap greedy
    // search), and how many vectors sit isolated in singleton cells (they
    // need the multi-probe rescue q51 implements). Cosines round to 4 dp
    // with vec_id tiebreaks, so the whole graph is engine-identical.
    Q("q177_knn_graph",
      (s, d) => {
        import s.implicits._
        val e = Tables.embeddings(s, d).select($"vec_id", $"embedding")
        val assign = trainedCellsShared(s, d)._2
          .withColumn("nrm", norm($"embedding")).cache()
        val u = assign.select($"cid", $"vec_id".as("a"),
          $"embedding".as("ea"), $"nrm".as("na"))
        val v = assign.select($"cid", $"vec_id".as("b"),
          $"embedding".as("eb"), $"nrm".as("nb"))
        val edges = u.join(v, "cid").filter($"a" =!= $"b")
          .select($"a", $"b",
            round(dot($"ea", $"eb") / ($"na" * $"nb"), 4).as("cos"))
          .withColumn("rk", row_number().over(
            Window.partitionBy($"a").orderBy($"cos".desc, $"b")))
          .filter($"rk" <= 3)
          .select($"a", $"b").cache()
        val recip = edges.as("x").join(edges.as("y"),
          $"x.a" === $"y.b" && $"x.b" === $"y.a")
        val nNodes = edges.select($"a").distinct()
          .agg(count(lit(1)).as("n_linked"))
        val total = e.agg(count(lit(1)).as("n_vectors"))
        edges.agg(count(lit(1)).as("n_edges"))
          .crossJoin(broadcast(recip.agg((count(lit(1)) / 2).as("n_mutual"))))
          .crossJoin(broadcast(nNodes))
          .crossJoin(broadcast(total))
          .select($"n_vectors", $"n_linked",
            ($"n_vectors" - $"n_linked").as("n_isolated"),
            $"n_edges", $"n_mutual".cast("long").as("n_mutual"),
            round($"n_mutual" * 2 / $"n_edges".cast("double"), 4)
              .as("reciprocity"))
      },
      Some(kmeansTrainSql(2) + s"""
             |,pr AS (
             |  SELECT u.cid, u.vec_id AS a, v.vec_id AS b,
             |    round(sum(eu.v * ev.v) / (nu.nrm * nv.nrm), 4) AS cos
             |  FROM a2 u JOIN a2 v ON u.cid = v.cid AND u.vec_id != v.vec_id
             |  JOIN e eu ON eu.vec_id = u.vec_id
             |  JOIN e ev ON ev.vec_id = v.vec_id AND ev.i = eu.i
             |  JOIN nrm nu ON nu.vec_id = u.vec_id
             |  JOIN nrm nv ON nv.vec_id = v.vec_id
             |  GROUP BY u.cid, u.vec_id, v.vec_id, nu.nrm, nv.nrm),
             |edges AS (
             |  SELECT a, b FROM (
             |    SELECT a, b, row_number() OVER (PARTITION BY a
             |      ORDER BY cos DESC, b) AS rk
             |    FROM pr) WHERE rk <= 3),
             |mu AS (
             |  SELECT count(*) // 2 AS n_mutual
             |  FROM edges x JOIN edges y ON x.a = y.b AND x.b = y.a),
             |nl AS (SELECT count(DISTINCT a) AS n_linked FROM edges),
             |ne AS (SELECT count(*) AS n_edges FROM edges),
             |nv AS (SELECT count(*) AS n_vectors FROM embeddings)
             |SELECT n_vectors, n_linked, n_vectors - n_linked AS n_isolated,
             |  n_edges, CAST(n_mutual AS BIGINT) AS n_mutual,
             |  round(n_mutual * 2 / CAST(n_edges AS DOUBLE), 4) AS reciprocity
             |FROM nv, nl, ne, mu""".stripMargin))
  )

  /** Trained-cell Spark-side pipeline shared by q51 and Dedup's q135: seeds
    * → 2 Lloyd updates → final cell assignment. `keep` is applied to the
    * trained centroids before the assignment reads them, and to the
    * assignment: the memo passes [[Memo.materialize]], the plan audit the
    * identity, so both read this one definition.
    *
    * `cells` defaults to the oracle-locked CoarseCells constant (the
    * DuckDB oracle unrolls the same training with the same seed count);
    * the scale probe passes cells ∝ corpus size — the SemDeDup paper's
    * own k ∝ N operating regime, which holds per-cell density (and so
    * cell-local pair volume per vector) constant as the corpus grows.
    * @return (trained centroids (cid, ce), assignment (vec_id, embedding, cid))
    */
  private def trainedCells(s: SparkSession, d: String, cells: Int,
      keep: DataFrame => DataFrame = identity): (DataFrame, DataFrame) = {
    val e = graft.Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val cent = keep(lloydUpdate(assignCells(e,
      lloydUpdate(assignCells(e, seedCentroids(e, cells))))))
    (cent, keep(assignCells(e, cent)))
  }

  /** The k-means training frames before materialization, for the plan
    * audit ([[graft.Plans.memoBuildFrames]]): the memo moved the training
    * subtree's scalar combines off every registered query's plan, so these
    * rows keep a partitioning regression in it visible. */
  private[graft] def trainedCellsAuditFrames(s: SparkSession, d: String)
      : Seq[(String, DataFrame)] = {
    val (cent, assign) = trainedCells(s, d, CoarseCells)
    Seq("memo:cells.centroids" -> cent, "memo:cells.assign" -> assign)
  }

  /** Memoized [[trainedCells]] over the standard `embeddings` table: five
    * registered queries (q51/q135/q141/q142/q177) consume the same (corpus,
    * cells) k-means training, three n·C scoring passes over the corpus — the
    * quantizer an ANN deployment trains once and persists. The scale
    * probe's k ∝ N variants pass other `cells` and memoize separately. */
  private[ops] def trainedCellsShared(s: SparkSession, d: String,
      cells: Int = CoarseCells): (DataFrame, DataFrame) =
    Memo.shared("similarity.trainedCells", s, d, cells)(
      trainedCells(s, d, cells, Memo.materialize))

  /** Unrolled deterministic-k-means WITH-prefix shared by the q51 and
    * Dedup-q135 oracles: CTEs `e` (exploded vectors), `nrm` (norms), seeds →
    * `iters` Lloyd updates (centroid components rounded to 6 dp, mirroring
    * lloydUpdate) → final cell assignment `a{iters}(vec_id, cid)` and its
    * score frame `cc{iters}`. Callers append their continuation CTEs. */
  private[ops] def kmeansTrainSql(iters: Int): String = {
    def assignBlock(t: Int, centFrom: String) = s"""
      |cn$t AS (SELECT cid, sqrt(sum(cv * cv)) AS cnrm FROM $centFrom GROUP BY cid),
      |cc$t AS (
      |  SELECT e.vec_id, c.cid,
      |    round(sum(e.v * c.cv) / (ne.nrm * cn.cnrm), 4) AS cc
      |  FROM e JOIN $centFrom c USING (i)
      |  JOIN nrm ne ON ne.vec_id = e.vec_id JOIN cn$t cn ON cn.cid = c.cid
      |  GROUP BY e.vec_id, c.cid, ne.nrm, cn.cnrm),
      |a$t AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY cc DESC, cid) AS rn
      |    FROM cc$t) WHERE rn = 1)""".stripMargin
    def centBlock(t: Int) = s"""
      |cent$t AS (
      |  SELECT a.cid, e.i, round(avg(e.v), 6) AS cv
      |  FROM e JOIN a${t - 1} a ON a.vec_id = e.vec_id
      |  GROUP BY a.cid, e.i)""".stripMargin
    val train = (0 to iters).map { t =>
      (if (t == 0) "" else centBlock(t) + ",") + assignBlock(t, s"cent$t")
    }.mkString(",")
    s"""WITH e AS (
      |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
      |    generate_subscripts(embedding, 1) AS i
      |  FROM embeddings),
      |nrm AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
      |cent0 AS (SELECT vec_id AS cid, v AS cv, i FROM e WHERE ${seedSqlPredicate(CoarseCells)}),""".stripMargin +
      train
  }

  /** q51's oracle: the trained assignment, then probe-own-cell top-k. */
  private def ivfOracleSql(iters: Int): String =
    kmeansTrainSql(iters) + s"""
      |,q AS (
      |  SELECT vec_id AS qid, cid FROM (
      |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY cc DESC, cid) AS rn
      |    FROM cc$iters WHERE vec_id < 8) WHERE rn <= $Nprobe),
      |cand AS (
      |  SELECT q.qid, a.vec_id AS did
      |  FROM q JOIN a$iters a USING (cid) WHERE a.vec_id != q.qid),
      |dots AS (
      |  SELECT c.qid, c.did, sum(eq.v * ed.v) AS dot
      |  FROM cand c
      |  JOIN e eq ON eq.vec_id = c.qid
      |  JOIN e ed ON ed.vec_id = c.did AND ed.i = eq.i
      |  GROUP BY c.qid, c.did),
      |cos AS (
      |  SELECT qid, did, dot / (nq.nrm * nd.nrm) AS c
      |  FROM dots JOIN nrm nq ON nq.vec_id = qid JOIN nrm nd ON nd.vec_id = did),
      |topk AS (
      |  SELECT qid, did, c,
      |    row_number() OVER (PARTITION BY qid ORDER BY round(c, 4) DESC, did) AS rnk
      |  FROM cos)
      |SELECT qid, did, round(c, 4) AS cosine, rnk
      |FROM topk WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin
}

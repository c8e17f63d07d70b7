package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Q, Tables}

/** Deduplication operators over `documents` — exact, MinHash+LSH, SimHash,
  * and n-gram Jaccard. The hash primitive everywhere is md5 (identical in
  * Spark and DuckDB, so every variant has a full value-level oracle).
  *
  * Scale design:
  *  - exact dedup: hash-groupBy on the fingerprint — one shuffle of
  *    (hash, id), never the text itself;
  *  - MinHash/LSH: signatures are a per-doc aggregate (map-side partial),
  *    the candidate join runs on (band, bucket) keys so only near-dup
  *    candidates ever meet — no O(n²) pair enumeration;
  *  - SimHash: per-doc 16-bit signature, groupable/bucketable;
  *  - n-gram Jaccard: self-join on shared shingles (inverted-index join),
  *    again avoiding the quadratic cross join.
  */
object Dedup {

  /** Document-frequency cap for q43's inverted-index join — a shingle in m
    * docs yields m² candidate rows, so ubiquitous shingles must be dropped
    * before the self-join. 64 is a no-op at the driver SFs (max df there is
    * 25) but bounds the worst join key at 64² rows at any corpus size. */
  val MaxShingleDf = 64

  /** q135 (SemDeDup) cosine threshold: within a trained cluster, a vector
    * with a lower-id neighbor at or above this cosine is a semantic
    * duplicate. 0.4 sits just under the synthetic corpus's near-dup band
    * (within-cell cosines top out near 0.5). */
  val SemDedupTau = 0.4

  /** q137's document-frequency cap for CHARACTER trigrams — much more
    * ubiquitous than q43's word trigrams, so the cap is higher; same
    * purpose: bound the inverted-index join's worst key at cap² rows. */
  val MaxCharShingleDf = 250

  /** q137 ignores docs whose informative-shingle set is smaller than this —
    * a 3-shingle set fully covered by accident is not containment. */
  val MinContainSetSize = 30

  /** Memoized distinct word-trigram sets over `documents` —
    * DataFrame(doc_id, s), one row per (document, distinct trigram). Six
    * queries (q37/q43/q100/q105/q133/q205) shingle the corpus identically
    * before their own caps/filters. The short-doc guard matches the
    * oracles' `generate_series` semantics (empty for <3 words — Spark's
    * unguarded `sequence(1, n)` would count DOWN and emit null shingles
    * there). */
  def wordTrigrams(s: SparkSession, d: String): DataFrame =
    Memo.shared("dedup.trigrams", s, d)(Memo.materialize(trigramSets(s, d)))

  private def trigramSets(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), explode(expr(
        """case when size(w) < 3 then cast(array() as array<string>)
          |else transform(sequence(1, size(w) - 2),
          |  i -> concat_ws(' ', slice(w, i, 3))) end""".stripMargin)).as("s"))
      .distinct()

  /** The trigram memo's build before materialization, for the plan audit
    * ([[graft.Plans.memoBuildFrames]]). */
  private[graft] def trigramsAuditFrames(s: SparkSession, d: String): Seq[(String, DataFrame)] =
    Seq("memo:dedup.trigrams" -> trigramSets(s, d))

  /** Memoized [[minhashPairs]] over the standard `documents` table —
    * DataFrame(a, b, est_j). Eleven queries (q41/q46/q87/q98/q100/q115/
    * q117/q156/q162/q221 here, q186 in Audits) consume the same candidate
    * retrieval, which derived from the raw text per query was ~20% of the
    * whole bench. */
  def documentPairs(s: SparkSession, d: String): DataFrame =
    Memo.shared("dedup.pairs", s, d)(Memo.materialize(minhashPairs(Tables.documents(s, d))))

  /** Memoized [[connectedComponents]] over [[documentPairs]] —
    * DataFrame(id, component). */
  def documentComponents(s: SparkSession, d: String): DataFrame =
    Memo.shared("dedup.components", s, d)(Memo.materialize(connectedComponents(
      documentPairs(s, d).select(col("a"), col("b")))))

  /** Character shingles of length `k`, distinct per doc:
    * DataFrame(doc_id, s). Shingling streams through the native
    * KmerGenerator — no intermediate array materialization per document. */
  private def shingles(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"),
      graft.kmer.Kmers.kmerExplode(col("text"), k).as("s"))
      .distinct()

  /** Fixed constants for the 16 MinHash permutations: h_i(x) =
    * (A(i)·x + B(i)) mod P over the md5-derived 56-bit element hash x
    * reduced mod P (P = 2^31 − 1; A(i)·x < 2^62, so the arithmetic is
    * exact in a signed 64-bit integer on BOTH engines). Drawn once from
    * a fixed seed and frozen here so Spark and the DuckDB oracle compute
    * identical signatures.
    *
    * The mod-P reduction narrows the element fingerprint from 56 to 31
    * bits BEFORE all 16 permutations, so two distinct shingles colliding
    * mod P merge under EVERY hash function — a small upward est_j bias of
    * ~|doc shingles| / 2³¹ per document pair (≈ 2×10⁻⁴ for a 1 MB doc),
    * growing with corpus vocabulary (birthday-certain somewhere beyond
    * ~65k distinct shingles, but still negligible per pair). This is the
    * standard single-fingerprint MinHash trade-off, accepted deliberately:
    * keeping 56 bits through the permutations would force either
    * 128-bit/modular arithmetic the DuckDB oracle cannot mirror exactly
    * or a second digest per shingle (doubling the dominant cost). */
  private[ops] val MinhashP = 2147483647L
  private[ops] val MinhashA = Vector(
    188173298L, 62257559L, 1614569235L, 1541888526L, 1123302577L,
    1183693762L, 941201756L, 612741584L, 1915815023L, 145743896L,
    1042332867L, 1469431004L, 1586907769L, 1724705302L, 1367643000L,
    567634414L)
  private[ops] val MinhashB = Vector(
    1182429424L, 1450717929L, 1840887319L, 92282879L, 2033346062L,
    1574816040L, 1426551801L, 1173352586L, 2087082878L, 168846213L,
    1825997515L, 891168106L, 124724674L, 334069097L, 1102350414L,
    1146895919L)

  /** MinHash signatures: ONE md5 per shingle yields the element hash x;
    * the 16 permutations are independent universal hashes
    * h_i(x) = (A(i)·x + B(i)) mod P, and the 16 minima are computed as
    * ONE wide aggregate — no per-hash-function explode, so the shuffle
    * input is |shingles| rows, not 16×, and the dominant cost is a
    * single digest per shingle. DataFrame(doc_id, mh0..mh{h-1}).
    *
    * NOT Kirsch-Mitzenmacher double hashing (h_i = a + i·b), which this
    * replaced: that family is LINEAR in i, so an element minimal at both
    * i=0 and i=h−1 is minimal at every i — one corpus-common shingle
    * drawing a globally small (a, b) gives every document containing it
    * an IDENTICAL signature. Measured on a 2-copy probe corpus: pairs
    * with true Jaccard 0.01 reported est_j = 1.0, tripling the pair
    * count; at 100 TB the event is near-certain somewhere in the corpus
    * and its est_j=1.0 cliques grow quadratically. The mod-P wrap with
    * per-i multipliers decorrelates the 16 orderings, which is the
    * property the banded LSH actually needs.
    */
  def minhashWide(docs: DataFrame, k: Int, h: Int): DataFrame = {
    require(h <= MinhashA.length, s"at most ${MinhashA.length} permutations")
    val hx = shingles(docs, k).select(col("doc_id"),
      expr(s"cast(conv(substring(md5(s), 1, 14), 16, 10) as bigint) % $MinhashP")
        .as("x"))
    val mins = (0 until h).map(i =>
      min((col("x") * lit(MinhashA(i)) + lit(MinhashB(i))) % lit(MinhashP))
        .as(s"mh$i"))
    hx.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** MinHash-LSH near-duplicate pairs (q41's retrieval, shared with the
    * component clustering in q46): 8 bands of 2 signature rows; candidates
    * meet on (band, bucket) keys, never all-pairs; estimated Jaccard =
    * matching-minima fraction, kept at ≥ 0.25. DataFrame(a, b, est_j). */
  def minhashPairs(docs: DataFrame): DataFrame = {
    // localCheckpoint, NOT cache(): the signature frame is read three
    // times below (bands, both verify sides), but a CacheManager entry
    // would be substituted into ANY later plan with the same minhashWide
    // subtree (q157 builds one) — making that query's physical plan
    // depend on whether/when the memo was built in this session. The
    // checkpoint materializes once with no catalog registration, so
    // every consumer's plan is history-independent.
    val mh = minhashWide(docs, 12, 16).localCheckpoint()
    val bandCols = (0 until 8).map { j =>
      struct(lit(j).as("band"),
        md5(concat_ws("|", col(s"mh${2 * j}"), col(s"mh${2 * j + 1}"))).as("bucket"))
    }
    val bands = mh.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    val xa = mh.toDF(mh.columns.map(c => if (c == "doc_id") "a" else c + "_a"): _*)
    val xb = mh.toDF(mh.columns.map(c => if (c == "doc_id") "b" else c + "_b"): _*)
    val matches = (0 until 16)
      .map(i => when(col(s"mh${i}_a") === col(s"mh${i}_b"), 1).otherwise(0))
      .reduce(_ + _)
    cand.join(xa, "a").join(xb, "b")
      .withColumn("est_j", matches / lit(16.0))
      .filter(col("est_j") >= 0.25)
      .select(col("a"), col("b"), col("est_j"))
  }

  /** The q41/q46 pair retrieval as shared oracle WITH-blocks ending in
    * `pairs(a, b, est_j)` — the SQL mirror of [[minhashPairs]]. */
  /** The sh → hx → mh CTE prefix shared by every minhash oracle — kept in
    * ONE place so the hash family (constants included) can never drift
    * between the Scala path and an oracle. */
  private[ops] def minhashMhSql: String = {
    val mhCols = (0 until 16)
      .map(i => s"min((x * ${MinhashA(i)} + ${MinhashB(i)}) % $MinhashP) AS mh$i")
      .mkString(", ")
    s"""sh AS (
       |  SELECT DISTINCT doc_id, substr(text, i, 12) AS s
       |  FROM (SELECT doc_id, text,
       |          unnest(generate_series(1, length(text) - 11)) AS i
       |        FROM documents)),
       |hx AS (
       |  SELECT doc_id,
       |    (('0x' || substr(md5(s), 1, 14))::BIGINT % $MinhashP) AS x
       |  FROM sh),
       |mh AS (SELECT doc_id, $mhCols FROM hx GROUP BY doc_id)""".stripMargin
  }

  private[ops] def minhashPairsSql: String = {
    val bandCases = (0 until 8)
      .map(j => s"WHEN $j THEN md5(mh${2 * j} || '|' || mh${2 * j + 1})").mkString(" ")
    val eqSum = (0 until 16)
      .map(i => s"(CASE WHEN x.mh$i = y.mh$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""$minhashMhSql,
       |bands AS (
       |  SELECT doc_id, t.i AS band, CASE t.i $bandCases END AS bucket
       |  FROM mh, generate_series(0, 7) AS t(i)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM bands x JOIN bands y
       |    ON x.bucket = y.bucket AND x.band = y.band AND x.doc_id < y.doc_id),
       |sim AS (
       |  SELECT c.a, c.b, ($eqSum) / 16.0 AS est_j
       |  FROM cand c JOIN mh x ON x.doc_id = c.a JOIN mh y ON y.doc_id = c.b),
       |pairs AS (SELECT a, b, est_j FROM sim WHERE est_j >= 0.25)""".stripMargin
  }

  /** Minimum-label-propagation connected components over an undirected
    * edge list (a, b): DataFrame(id, component), component = smallest id
    * reachable. The driver loop carries a monotone convergence certificate:
    * labels only ever decrease, so the label SUM strictly decreases until
    * the fixpoint — one scalar agg per round instead of a row-diff join.
    * Each round is a neighbor-min shuffle keyed on id PLUS a
    * pointer-jumping step (component := label(component) — every label is
    * itself a node id, so the lookup is a self-join on the label frame):
    * path halving makes the round count O(log diameter) instead of
    * O(diameter). That matters beyond latency — near-dup graphs are NOT
    * always clique-like: chained partial overlaps produce paths (the
    * sf0.1 corpus graph has diameter ~15, which cost 16 rounds without
    * the jump step). Every round boundary is materialized with a
    * stats-resetting checkpoint (see `materialize` below). */
  def connectedComponents(edges: DataFrame): DataFrame = {
    // ONE pass over the pair stream emits both edge directions — a
    // two-select union would execute the (expensive, un-cached) pair
    // retrieval twice.
    val symRaw = edges.select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .localCheckpoint() // re-read every round: cut the pair-retrieval lineage
    // Size the propagation parallelism to the EDGE LIST, not the session
    // default: the loop's frames are usually orders of magnitude smaller
    // than the corpus that produced them, and a driver-looped iteration
    // pays per-round fixed cost proportional to its partition count. One
    // partition per ~500k edges (bounded) keeps the sf0.1 graph (~113k
    // directed edges) on a single task per round while a 100 TB pair
    // graph still fans out to hundreds of tasks.
    val parts = math.max(1, math.min(512, (symRaw.count() / 500000L).toInt))
    val sym = symRaw.repartition(parts, col("src")).localCheckpoint()
    var labels = sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("component"))
      .localCheckpoint()
    // component := label(component) — every label is itself a node id, so
    // the lookup is a self-join on the label frame; two jumps per round
    // quadruple the distance a discovered minimum covers.
    def jump(l: DataFrame): DataFrame =
      l.as("x")
        .join(l.select(col("id").as("cid"), col("component").as("cc")).as("y"),
          col("x.component") === col("y.cid"), "left")
        .select(col("x.id").as("id"),
          least(col("x.component"), coalesce(col("cc"), col("x.component"))).as("component"))
    // Materialize a round boundary AND reset plan statistics. A bare
    // localCheckpoint cuts the execution lineage but PROPAGATES the origin
    // plan's size estimate — and every self-join in the next round
    // multiplies it, so across N rounds the stats BigInt's bit length
    // grows ~4^N and the driver ends up spending whole minutes inside
    // BigInteger.multiply during planning (observed: round 9 at sf0.1 took
    // 11 s of pure driver CPU). Re-wrapping the checkpointed RDD in a
    // fresh DataFrame restarts every round from a constant-size estimate.
    def materialize(df: DataFrame): DataFrame = {
      val ck = df.localCheckpoint()
      ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
    }
    // Materialize AND compute the label sum in ONE job: the summing action
    // is what forces the local checkpoint's persistence, so each round pays
    // a single action here instead of a checkpoint job plus a separate
    // scalar agg (the agg itself was cheap, but its per-round fixed cost —
    // job scheduling + Catalyst planning — dominates small/late rounds of
    // a driver loop). The sum comes from task RESULTS, not an accumulator:
    // a retried task contributes exactly once, so a lost executor cannot
    // inflate the sum and trip the monotone convergence certificate into
    // stopping early.
    def materializeWithSum(df: DataFrame): (DataFrame, Long) = {
      val rdd = df.rdd
      rdd.localCheckpoint()
      val total = rdd.mapPartitions { it =>
        var s = 0L
        while (it.hasNext) s += it.next().getLong(1)
        Iterator.single(s)
      }.fold(0L)(_ + _)
      (df.sparkSession.createDataFrame(rdd, df.schema), total)
    }
    var prevSum = Long.MaxValue
    var curSum = labels.agg(sum(col("component"))).head().getLong(0)
    while (curSum < prevSum) {
      val nbrMin = sym
        .join(labels.select(col("id").as("src"), col("component").as("nc")), "src")
        .groupBy(col("dst").as("id")).agg(min(col("nc")).as("nbrc"))
      // materialize BEFORE jumping: jump(jump(x)) references x four times,
      // and re-executing the three-join neighbor-min subtree 4× per round
      // costs more than one extra eager materialization of a label-sized
      // frame.
      val stepped = materialize(labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("nbrc"), col("component"))).as("component")))
      val (next, nextSum) = materializeWithSum(jump(jump(stepped)))
      labels = next
      prevSum = curSum
      curSum = nextSum
    }
    labels
  }

  /** q135's dataflow with the trained cell count as a parameter: cluster
    * the embedding space with the shared deterministic k-means
    * ([[Similarity.trainedCells]]), compare pairs ONLY within a cell,
    * drop every vector with a lower-id neighbor above [[SemDedupTau]].
    *
    * The registered query passes the oracle-locked
    * [[Similarity.CoarseCells]] (the DuckDB oracle unrolls the same
    * training, so C must be a constant there). At a FIXED C, per-cell
    * density grows linearly with the corpus and cell-local pair volume
    * as N²/C — the documented SCALE.md §4.4 output-geometry boundary.
    * The SemDeDup paper's own operating regime scales k ∝ N (per-cell
    * density constant, pair volume linear); the scale probe measures the
    * operator there by passing cells = CoarseCells × the corpus ratio. */
  def semDedupFrame(s: SparkSession, d: String, cells: Int): DataFrame = {
    import s.implicits._
    val assign = Similarity.trainedCellsShared(s, d, cells)._2
      .withColumn("nrm", Similarity.norm($"embedding"))
      .cache() // both sides of the cell-local pair join read this
    val u = assign.select($"cid", $"vec_id".as("a"),
      $"embedding".as("ea"), $"nrm".as("na"))
    val v = assign.select($"cid", $"vec_id".as("b"),
      $"embedding".as("eb"), $"nrm".as("nb"))
    u.join(v, "cid").filter($"a" < $"b")
      .select($"cid", $"a", $"b",
        round(Similarity.dot($"ea", $"eb") / ($"na" * $"nb"), 4).as("cos"))
      .filter($"cos" >= SemDedupTau)
      .groupBy($"b", $"cid")
      .agg(min($"a").as("dup_of"), max($"cos").as("max_cos"))
      .select($"b".as("vec_id"), $"cid", $"dup_of", $"max_cos")
      .orderBy($"vec_id")
  }

  /** q45's dataflow with the blocking cell count as a parameter: each
    * vector lands in its top-2 nearest quantizer cells (so boundary pairs
    * aren't lost), candidates meet on the cell key, exact rounded cosine
    * verifies. The registered query passes the oracle-locked
    * [[Similarity.CoarseCells]]; like q135 (§4.4), a FIXED C makes the
    * blocked candidate volume (2N)²/C — the r13 probe measured exactly
    * that geometry filling the disk with SMJ spill at sf10 — and the
    * scale probe passes cells ∝ corpus size, holding per-cell density
    * (and so candidates per vector) constant. */
  def embedNearDupFrame(s: SparkSession, d: String, cellCount: Int): DataFrame = {
    import s.implicits._
    import graft.ops.Similarity.{dot, norm}
    val e = Tables.embeddings(s, d).select($"vec_id", $"embedding")
    // parallelism guard, as in Similarity.assignCells: the n·C scoring
    // stage inherits the SCAN's split count, and a probe corpus is one
    // parquet file = one split; production scans take the no-op branch
    val sc = s.sparkContext
    val ee =
      if (e.rdd.getNumPartitions >= sc.defaultParallelism) e
      else e.repartition(sc.defaultParallelism)
    // fixed-size hash-sampled quantizer: C is corpus-independent in the
    // registered query, so the centroid broadcast and the n·C assignment
    // cost don't grow with the corpus
    val cent = Similarity.seedCentroids(e, cellCount)
    // the top-2 window's input is (vec_id, cid, cc) — 24-byte rows, no
    // embedding carried, so unlike the assignCells argmax this window is
    // shuffle-narrow and WindowGroupLimit prunes it map-side
    val cells = ee.withColumn("vnrm", norm($"embedding"))
      .crossJoin(broadcast(cent.withColumn("cnrm", norm($"ce"))))
      .select($"vec_id", $"cid",
        round(dot($"embedding", $"ce") / ($"vnrm" * $"cnrm"), 4).as("cc"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"vec_id").orderBy($"cc".desc, $"cid")))
      .filter($"rn" <= 2)
      .select($"vec_id", $"cid")
    // attach embedding + norm to each block row with ONE narrow
    // vec_id-keyed join (2n cell rows ⋈ n vectors), then verify INSIDE
    // the cell-local pair join, exactly q135's shape: the cosine filter
    // consumes candidate pairs as the join streams them, so the
    // candidate set is never materialized. The previous shape built a
    // DISTINCT (a, b) candidate list and re-joined embeddings per side —
    // at the k ∝ N probe regime the second SMJ sorted 125M rows each
    // carrying a 64-float embedding (~37 GB; the fixed-C run spilled
    // (2N)²/C such rows until the disk filled). The blocked join's
    // shuffle is 2n embedding-carrying rows, keyed by cid, at any scale.
    val blocks = cells
      .join(e.withColumn("nrm", norm($"embedding")), "vec_id")
      // cached: both sides of the blocking self-join read this frame —
      // uncached, the n·C assignment + top-2 window would run twice
      .cache()
    val u = blocks.select($"cid", $"vec_id".as("a"),
      $"embedding".as("ea"), $"nrm".as("na"))
    val v = blocks.select($"cid", $"vec_id".as("b"),
      $"embedding".as("eb"), $"nrm".as("nb"))
    u.join(v, "cid").filter($"a" < $"b")
      .select($"a", $"b",
        round(dot($"ea", $"eb") / ($"na" * $"nb"), 4).as("cosine"))
      .filter($"cosine" >= 0.42)
      // a pair sharing BOTH its cells meets twice with the same rounded
      // cosine; distinct runs over the tiny survivor set, not candidates
      .distinct()
      .orderBy($"a", $"b")
  }

  val queries: Seq[Q] = Seq(
    Q("q40_dedup_exact",
      (s, d) => {
        import s.implicits._
        val fp = Tables.documents(s, d)
          .select($"doc_id", md5(lower($"text")).as("fp"))
        fp.groupBy($"fp")
          .agg(count(lit(1)).as("n_copies"), min($"doc_id").as("keeper"))
          .agg(count(lit(1)).as("n_unique"),
            sum($"n_copies").as("n_docs"),
            sum(when($"n_copies" > 1, $"n_copies" - 1).otherwise(0)).as("n_dropped"))
      },
      Some("""WITH fp AS (SELECT doc_id, md5(lower(text)) AS fp FROM documents),
             |g AS (SELECT fp, count(*) AS n_copies, min(doc_id) AS keeper
             |      FROM fp GROUP BY fp)
             |SELECT count(*) AS n_unique, CAST(sum(n_copies) AS BIGINT) AS n_docs,
             |  CAST(sum(CASE WHEN n_copies > 1 THEN n_copies - 1 ELSE 0 END) AS BIGINT) AS n_dropped
             |FROM g""".stripMargin)),

    Q("q41_minhash_lsh",
      (s, d) => {
        import s.implicits._
        documentPairs(s, d)
          .select($"a", $"b", round($"est_j", 4).as("est_jaccard"))
          .orderBy($"a", $"b")
      },
      Some(s"""WITH $minhashPairsSql
             |SELECT a, b, round(est_j, 4) AS est_jaccard
             |FROM pairs ORDER BY a, b""".stripMargin)),

    // Duplicate-cluster resolution — the step every pretraining dedup
    // pipeline runs AFTER candidate retrieval: near-dup pairs form a graph,
    // its connected components are the duplicate clusters, and one canonical
    // representative (the smallest doc_id) is kept per cluster. Components
    // come from driver-looped min-label propagation (connectedComponents
    // above); the oracle reproduces them with a recursive transitive-closure
    // CTE, so cluster assignment is value-checked end to end on top of the
    // real q41 retrieval.
    Q("q46_dedup_components",
      (s, d) => {
        import s.implicits._
        val comp = documentComponents(s, d)
        val sizes = comp.groupBy($"component").agg(count(lit(1)).as("n_members"))
        comp.join(sizes, "component")
          .select($"id".as("doc_id"), $"component", $"n_members",
            ($"id" === $"component").as("is_keeper"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH RECURSIVE $minhashPairsSql,
             |sym AS (SELECT a AS src, b AS dst FROM pairs
             |        UNION ALL SELECT b, a FROM pairs),
             |reach(id, r) AS (
             |  SELECT DISTINCT src, src FROM sym
             |  UNION
             |  SELECT x.id, e.dst FROM reach x JOIN sym e ON e.src = x.r),
             |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
             |sizes AS (SELECT component, count(*) AS n_members FROM comp GROUP BY component)
             |SELECT c.id AS doc_id, c.component, s.n_members,
             |  c.id = c.component AS is_keeper
             |FROM comp c JOIN sizes s USING (component) ORDER BY doc_id""".stripMargin)),

    Q("q42_simhash",
      (s, d) => {
        import s.implicits._
        // the md5 is decoded ONCE into two 32-bit words; each bit test is a
        // shift+mask on a long instead of an instr/substring string op —
        // nibble b of the digest sits at shift 4·(7−b) of its word
        val hh = Tables.documents(s, d)
          .select($"doc_id", graft.kmer.Kmers.kmerExplode($"text", 12).as("s"))
          .select($"doc_id",
            expr("cast(conv(substring(md5(s), 1, 8), 16, 10) as bigint)").as("h1"),
            expr("cast(conv(substring(md5(s), 9, 8), 16, 10) as bigint)").as("h2"))
        // one wide aggregate: per bit b, sum of ±1 by parity of md5 nibble b —
        // no per-bit explode, shuffle input stays |shingles| rows
        val vcols = (0 until 16).map { b =>
          val (word, shift) =
            if (b < 8) ("h1", 4 * (7 - b)) else ("h2", 4 * (15 - b))
          sum(when(expr(s"(shiftright($word, $shift) & 1) = 1"), 1).otherwise(-1))
            .as(s"v$b")
        }
        val bits = hh.groupBy($"doc_id").agg(vcols.head, vcols.tail: _*)
        val simhash = (0 until 16)
          .map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _)
        bits.select($"doc_id", simhash.as("simhash"))
          .groupBy($"simhash")
          .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("first_doc"))
          .orderBy($"simhash")
      },
      Some {
        val vbs = (0 until 16).map { b =>
          val (word, shift) =
            if (b < 8) ("h1", 4 * (7 - b)) else ("h2", 4 * (15 - b))
          s"sum(CASE WHEN ((($word >> $shift) & 1) = 1) THEN 1 ELSE -1 END) AS v$b"
        }.mkString(",\n|    ")
        val simExpr = (0 until 16)
          .map(b => s"(CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
        s"""WITH sh AS (
           |  SELECT doc_id, substr(text, i, 12) AS s
           |  FROM (SELECT doc_id, text,
           |          unnest(generate_series(1, length(text) - 11)) AS i
           |        FROM documents)),
           |hh AS (
           |  SELECT doc_id,
           |    ('0x' || substr(md5(s), 1, 8))::BIGINT AS h1,
           |    ('0x' || substr(md5(s), 9, 8))::BIGINT AS h2
           |  FROM sh),
           |bits AS (
           |  SELECT doc_id,
           |    $vbs
           |  FROM hh GROUP BY doc_id),
           |simhash AS (SELECT doc_id, CAST($simExpr AS BIGINT) AS simhash FROM bits)
           |SELECT simhash, count(*) AS n_docs, min(doc_id) AS first_doc
           |FROM simhash GROUP BY simhash ORDER BY simhash""".stripMargin
      }),

    Q("q43_ngram_jaccard",
      (s, d) => {
        import s.implicits._
        val all = wordTrigrams(s, d)
        // hot-shingle guard: a shingle present in m documents contributes m²
        // rows to the inverted-index self-join — one ubiquitous trigram is
        // quadratic at corpus scale. Shingles with document frequency >
        // MaxShingleDf are dropped from BOTH the intersection and the set
        // sizes (Jaccard over the informative-shingle universe — the
        // stopword-removal trick), bounding any join key's fan-out at
        // MaxShingleDf² regardless of corpus size.
        val hot = all.groupBy($"s").agg(count(lit(1)).as("df"))
          .filter($"df" > MaxShingleDf).select($"s")
        val sh = all.join(hot, Seq("s"), "left_anti").cache()
        val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
        val common = sh.as("x").join(sh.as("y"),
            $"x.s" === $"y.s" && $"x.doc_id" < $"y.doc_id")
          .groupBy($"x.doc_id".as("a"), $"y.doc_id".as("b"))
          .agg(count(lit(1)).as("c"))
        common
          .join(sizes.select($"doc_id".as("a"), $"n".as("na")), "a")
          .join(sizes.select($"doc_id".as("b"), $"n".as("nb")), "b")
          .withColumn("jac", $"c" / ($"na" + $"nb" - $"c"))
          .filter($"jac" >= 0.12)
          .select($"a", $"b", round($"jac", 4).as("jaccard"))
          .orderBy($"a", $"b")
      },
      Some(s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |allsh AS (
             |  SELECT DISTINCT doc_id, concat(w[i], ' ', w[i+1], ' ', w[i+2]) AS s
             |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
             |        FROM toks)),
             |sh AS (
             |  SELECT doc_id, s FROM allsh
             |  WHERE s NOT IN (SELECT s FROM allsh GROUP BY s HAVING count(*) > $MaxShingleDf)),
             |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
             |common AS (
             |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
             |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
             |  GROUP BY 1, 2)
             |SELECT a, b, round(c * 1.0 / (sa.n + sb.n - c), 4) AS jaccard
             |FROM common JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
             |WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.12
             |ORDER BY a, b""".stripMargin)),

    // Benchmark decontamination — the eval-overlap scan every pretraining
    // pipeline runs before training: corpus documents sharing ≥2 word
    // trigrams with any document of the held-out eval set (here the 20
    // lowest doc_ids) are flagged with the matching eval doc and the overlap
    // count. Scale shape: the EVAL side is small by construction (a
    // benchmark, not a corpus), so its shingle set broadcasts and the
    // corpus-side join is map-only — the corpus never shuffles; only the
    // (corpus_doc, eval_doc) hit counts do, and those are bounded by the
    // eval set's size.
    Q("q37_decontamination",
      (s, d) => {
        import s.implicits._
        val sh = wordTrigrams(s, d)
        val eval = sh.filter($"doc_id" < 20)
          .select($"doc_id".as("eval_doc"), $"s")
        sh.filter($"doc_id" >= 20)
          .join(broadcast(eval), "s")
          .groupBy($"doc_id", $"eval_doc")
          .agg(count(lit(1)).as("n_shared"))
          .filter($"n_shared" >= 2)
          .orderBy($"doc_id", $"eval_doc")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |sh AS (
             |  SELECT DISTINCT doc_id, concat(w[i], ' ', w[i+1], ' ', w[i+2]) AS s
             |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
             |        FROM toks))
             |SELECT c.doc_id, e.doc_id AS eval_doc, count(*) AS n_shared
             |FROM sh c JOIN sh e ON c.s = e.s AND e.doc_id < 20 AND c.doc_id >= 20
             |GROUP BY 1, 2 HAVING count(*) >= 2
             |ORDER BY 1, 2""".stripMargin)),

    // SimHash near-dup retrieval: 63-bit signature (bit 63 left clear so the
    // value stays non-negative in both engines), banded Hamming-distance
    // probes. 4 bands of 16/16/16/15 bits: by pigeonhole, any pair with
    // Hamming distance ≤ 3 matches exactly in at least one band, so the
    // banded join is EXACT for radius 3 — candidates meet on (band, value)
    // keys, never all-pairs, and the final bit_count(xor) check filters
    // false candidates. At 100 TB the band tables shard on (band, value).
    Q("q44_simhash_neardup",
      (s, d) => {
        import s.implicits._
        // digest decoded ONCE into two 32-bit words; every bit test is a
        // shift+mask on a long, not a string op (nibble i sits at shift
        // 4·(7−i) of its word, bit b lives in nibble b/4 at offset b%4)
        val hh = Tables.documents(s, d)
          .select($"doc_id", graft.kmer.Kmers.kmerExplode($"text", 12).as("sh"))
          .select($"doc_id",
            expr("cast(conv(substring(md5(sh), 1, 8), 16, 10) as bigint)").as("h1"),
            expr("cast(conv(substring(md5(sh), 9, 8), 16, 10) as bigint)").as("h2"))
        // v_b = Σ ±1 over shingles — one 63-column wide aggregate, no
        // per-bit explode
        val vcols = (0 until 63).map { b =>
          val nib = b / 4
          val (word, shift) =
            if (nib < 8) ("h1", 4 * (7 - nib) + b % 4) else ("h2", 4 * (15 - nib) + b % 4)
          sum(when(expr(s"(shiftright($word, $shift) & 1) = 1"), 1).otherwise(-1))
            .as(s"v$b")
        }
        val bits = hh.groupBy($"doc_id").agg(vcols.head, vcols.tail: _*)
        def sigBits(lo: Int, hi: Int): Column =
          (lo until hi).map(b =>
            when(col(s"v$b") > 0, lit(1L << (b - lo))).otherwise(lit(0L))).reduce(_ + _)
        val sig = bits.select(
          ($"doc_id" +: sigBits(0, 63).as("sig") +:
            (0 until 4).map(j => sigBits(16 * j, math.min(16 * j + 16, 63)).as(s"band$j"))): _*)
          // cached: both sides of the banded self-join read this frame, and
          // its lineage is the full shingle-explode + 63-column signature
          // aggregate — uncached it would compute twice (q41 already caches
          // its minhash frame for the same reason)
          .cache()
        val bands = sig.select($"doc_id", $"sig", explode(array(
            (0 until 4).map(j => struct(lit(j).as("band"), col(s"band$j").as("bv"))): _*)).as("bb"))
          .select($"doc_id", $"sig", $"bb.band".as("band"), $"bb.bv".as("bv"))
        bands.as("x").join(bands.as("y"),
            $"x.band" === $"y.band" && $"x.bv" === $"y.bv" && $"x.doc_id" < $"y.doc_id")
          .select($"x.doc_id".as("a"), $"y.doc_id".as("b"),
            $"x.sig".as("siga"), $"y.sig".as("sigb"))
          .distinct() // a pair can collide in several bands
          .withColumn("hamming", expr("bit_count(siga ^ sigb)"))
          .filter($"hamming" <= 3)
          .select($"a", $"b", $"hamming")
          .orderBy($"a", $"b")
      },
      Some {
        val vbs = (0 until 63).map { b =>
          val nib = b / 4
          val (word, shift) =
            if (nib < 8) ("h1", 4 * (7 - nib) + b % 4) else ("h2", 4 * (15 - nib) + b % 4)
          s"sum(CASE WHEN ((($word >> $shift) & 1) = 1) THEN 1 ELSE -1 END) AS v$b"
        }.mkString(",\n|    ")
        def sigBits(lo: Int, hi: Int) = (lo until hi)
          .map(b => s"(CASE WHEN v$b > 0 THEN ${1L << (b - lo)} ELSE 0 END)").mkString(" + ")
        val bandCases = (0 until 4)
          .map(j => s"WHEN $j THEN b$j").mkString(" ")
        s"""WITH sh AS (
           |  SELECT doc_id, substr(text, i, 12) AS s
           |  FROM (SELECT doc_id, text,
           |          unnest(generate_series(1, length(text) - 11)) AS i
           |        FROM documents)),
           |hh AS (
           |  SELECT doc_id,
           |    ('0x' || substr(md5(s), 1, 8))::BIGINT AS h1,
           |    ('0x' || substr(md5(s), 9, 8))::BIGINT AS h2
           |  FROM sh),
           |bits AS (
           |  SELECT doc_id,
           |    $vbs
           |  FROM hh GROUP BY doc_id),
           |sig AS (
           |  SELECT doc_id, CAST(${sigBits(0, 63)} AS BIGINT) AS sig,
           |    ${(0 until 4).map(j => s"CAST(${sigBits(16 * j, math.min(16 * j + 16, 63))} AS BIGINT) AS b$j").mkString(",\n|    ")}
           |  FROM bits),
           |bands AS (
           |  SELECT doc_id, sig, t.j AS band, CASE t.j $bandCases END AS bv
           |  FROM sig, generate_series(0, 3) AS t(j)),
           |cand AS (
           |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, x.sig AS siga, y.sig AS sigb
           |  FROM bands x JOIN bands y
           |    ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id)
           |SELECT a, b, CAST(bit_count(xor(siga, sigb)) AS INT) AS hamming
           |FROM cand WHERE bit_count(xor(siga, sigb)) <= 3 ORDER BY a, b""".stripMargin
      }),

    // Embedding-cosine near-dup — the fifth dedup modality: coarse-quantizer
    // cells as BLOCKS (each vector lands in its top-2 cells so boundary
    // pairs aren't lost), pairwise cosine computed only within a block,
    // never all-pairs. This is the shape embedding dedup takes at 100 TB:
    // candidate generation is a self-join on the cell key, verification is
    // the exact rounded cosine against a corpus-calibrated threshold (the
    // synthetic embeddings are near-orthogonal — max pairwise cosine ≈ 0.51
    // — so 0.42 plays the "near duplicate" role the 0.95+ band plays for
    // real embedding corpora).
    Q("q45_embed_neardup",
      (s, d) => embedNearDupFrame(s, d, Similarity.CoarseCells),
      Some(s"""WITH e AS (
             |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
             |    generate_subscripts(embedding, 1) AS i
             |  FROM embeddings),
             |nrm AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
             |cent AS (SELECT vec_id AS cid, v AS cv, i FROM e WHERE ${Similarity.seedSqlPredicate(Similarity.CoarseCells)}),
             |cn AS (SELECT cid, sqrt(sum(cv * cv)) AS cnrm FROM cent GROUP BY cid),
             |cc AS (
             |  SELECT e.vec_id, c.cid,
             |    round(sum(e.v * c.cv) / (ne.nrm * cn.cnrm), 4) AS cc
             |  FROM e JOIN cent c USING (i)
             |  JOIN nrm ne ON ne.vec_id = e.vec_id JOIN cn ON cn.cid = c.cid
             |  GROUP BY e.vec_id, c.cid, ne.nrm, cn.cnrm),
             |cells AS (
             |  SELECT vec_id, cid FROM (
             |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
             |      ORDER BY cc DESC, cid) AS rn
             |    FROM cc) WHERE rn <= 2),
             |cand AS (
             |  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
             |  FROM cells x JOIN cells y ON x.cid = y.cid AND x.vec_id < y.vec_id),
             |dots AS (
             |  SELECT c.a, c.b, sum(ea.v * eb.v) AS d
             |  FROM cand c
             |  JOIN e ea ON ea.vec_id = c.a
             |  JOIN e eb ON eb.vec_id = c.b AND eb.i = ea.i
             |  GROUP BY c.a, c.b),
             |cos AS (
             |  SELECT a, b, round(d / (na.nrm * nb.nrm), 4) AS cosine
             |  FROM dots JOIN nrm na ON na.vec_id = a JOIN nrm nb ON nb.vec_id = b)
             |SELECT a, b, cosine FROM cos WHERE cosine >= 0.42 ORDER BY a, b""".stripMargin)),

    // Sub-document (chunk-level) exact dedup — the C4-style pass that
    // removes REPEATED SPANS across the corpus, not just whole-document
    // duplicates (q40): boilerplate shared by thousands of pages survives
    // whole-doc dedup but dominates token counts. Docs split into
    // non-overlapping 32-token chunks; the keeper of each distinct chunk
    // fingerprint is the (min doc_id, min chunk_id) occurrence. Keeper
    // election is a partial AGGREGATE over the fp (min(struct) collapses a
    // ubiquitous chunk map-side — a `row_number() over (partition by fp)`
    // window would funnel the hot fingerprint's every occurrence through
    // one task at 100 TB), then a join back marks survivors; the shuffle
    // carries (fp, id) pairs, never chunk text. Output is the per-doc
    // retention profile a curation run reports.
    Q("q58_chunk_dedup",
      (s, d) => {
        import s.implicits._
        val chunks = Tables.documents(s, d)
          .select($"doc_id", split($"text", " ").as("w"))
          .select($"doc_id", $"w", size($"w").as("n"))
          .select($"doc_id", $"w", $"n",
            explode(expr("sequence(0, greatest(n - 1, 0), 32)")).as("st"))
          .select($"doc_id",
            expr("cast(st div 32 as bigint)").as("chunk_id"),
            md5(concat_ws(" ", expr("slice(w, st + 1, 32)"))).as("fp"),
            least(lit(32), $"n" - $"st").cast("long").as("toks"))
          // read twice (keeper election + survivor join) over the explode
          .cache()
        val keepers = chunks.groupBy($"fp")
          .agg(min(struct($"doc_id", $"chunk_id")).as("k"))
          .select($"fp", $"k.doc_id".as("kd"), $"k.chunk_id".as("kc"))
        chunks.join(keepers, "fp")
          .withColumn("kept", ($"doc_id" === $"kd" && $"chunk_id" === $"kc")
            .cast("long"))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_chunks"),
            sum($"kept").as("kept_chunks"),
            sum($"toks").as("n_tokens"),
            sum($"kept" * $"toks").as("kept_tokens"))
          .withColumn("retained",
            round($"kept_tokens".cast("double") / $"n_tokens", 6))
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(text, ' ') AS w,
             |    len(string_split(text, ' ')) AS n
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, st // 32 AS chunk_id,
             |    md5(array_to_string(list_slice(w, st + 1, st + 32), ' ')) AS fp,
             |    least(32, n - st) AS toks
             |  FROM (SELECT doc_id, w, n,
             |          unnest(generate_series(0, greatest(n - 1, 0), 32)) AS st
             |        FROM t)),
             |r AS (
             |  SELECT doc_id, chunk_id, fp, toks,
             |    row_number() OVER (PARTITION BY fp ORDER BY doc_id, chunk_id) AS rk
             |  FROM c)
             |SELECT doc_id, count(*) AS n_chunks,
             |  CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept_chunks,
             |  CAST(sum(toks) AS BIGINT) AS n_tokens,
             |  CAST(sum(CASE WHEN rk = 1 THEN toks ELSE 0 END) AS BIGINT) AS kept_tokens,
             |  round(sum(CASE WHEN rk = 1 THEN toks ELSE 0 END) * 1.0 / sum(toks), 6) AS retained
             |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Cross-document duplicated-SPAN detection — the substring-level dedup
    // of "Deduplicating Training Data Makes Language Models Better" (Lee
    // et al., 2022), Spark-practical form: every 8-token gram is keyed by
    // position, grams appearing in ≥2 documents are marked shared via ONE
    // group-by (df count) + a semi join — no doc×doc pair join anywhere,
    // so the cost is linear in corpus size where pairwise dedup is
    // quadratic. Consecutive shared positions merge into maximal runs with
    // the gaps-and-islands window (pos − row_number), giving each doc its
    // duplicated-token count and longest duplicated span (run + 7 tokens).
    // At 100 TB the gram table shuffles once on the gram key and once on
    // doc_id — both already reduced; ubiquitous grams cost df, not df².
    Q("q83_substring_dedup",
      (s, d) => {
        import s.implicits._
        val grams = Tables.documents(s, d)
          .select($"doc_id", split($"text", " ").as("w"))
          .filter(size($"w") >= 8)
          .select($"doc_id", posexplode(expr(
            "transform(sequence(1, size(w) - 7), i -> array_join(slice(w, i, 8), ' '))"))
            .as(Seq("p", "g")))
          .select($"doc_id", ($"p" + 1).as("i"), $"g")
          .cache()
        val shared = grams.groupBy($"g")
          .agg(countDistinct($"doc_id").as("df"))
          .filter($"df" >= 2).select($"g")
        val byDoc = Window.partitionBy($"doc_id").orderBy($"i")
        grams.join(shared, Seq("g"), "left_semi")
          .withColumn("rid", $"i" - row_number().over(byDoc))
          .groupBy($"doc_id", $"rid").agg(count(lit(1)).as("cnt"))
          .groupBy($"doc_id")
          .agg(sum($"cnt").as("n_shared"),
            (max($"cnt") + 7).as("max_dup_span"))
          .orderBy($"doc_id")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |grams AS (
             |  SELECT doc_id, i, array_to_string(w[i:i+7], ' ') AS g
             |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS i
             |        FROM toks WHERE len(w) >= 8)),
             |shared AS (
             |  SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
             |sg AS (SELECT doc_id, i FROM grams WHERE g IN (SELECT g FROM shared)),
             |runs AS (
             |  SELECT doc_id,
             |    i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS rid
             |  FROM sg),
             |rl AS (SELECT doc_id, rid, count(*) AS cnt
             |       FROM runs GROUP BY doc_id, rid)
             |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_shared,
             |  CAST(max(cnt) + 7 AS BIGINT) AS max_dup_span
             |FROM rl GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // PageRank over the near-dup graph — centrality ranks the canonical
    // representative inside each duplicate cluster (the most-connected
    // near-dup is the best keeper). Same driver-loop discipline as the EM
    // (q24) and components (q46) iterations: a FIXED iteration count, each
    // round one join-aggregate pass over the edge list (contribution =
    // p/odeg to each neighbor, damping 0.85), localCheckpoint at every
    // round boundary so the plan stays constant-depth. Ranks are rounded
    // to 6 dp per round — the same trick that makes q51's Lloyd iterations
    // bit-reproducible in SQL — so the oracle can unroll the three rounds
    // as CTE blocks. At 100 TB the per-round cost is one shuffle of the
    // edge list on src plus one on dst; rank frames are node-sized.
    Q("q87_pagerank",
      (s, d) => {
        import s.implicits._
        val pairs = documentPairs(s, d).select($"a", $"b")
        val edges = pairs.select(explode(array(
            struct($"a".as("src"), $"b".as("dst")),
            struct($"b".as("src"), $"a".as("dst")))).as("e"))
          .select($"e.src".as("src"), $"e.dst".as("dst"))
          .localCheckpoint()
        val odeg = edges.groupBy($"src").agg(count(lit(1)).as("deg")).cache()
        val nodes = edges.select($"src".as("id")).distinct().cache()
        var rank = nodes.withColumn("p", lit(1.0))
        for (_ <- 1 to 3) {
          val contrib = edges
            .join(rank.withColumnRenamed("id", "src"), "src")
            .join(odeg, "src")
            .groupBy($"dst".as("id"))
            .agg(sum($"p" / $"deg").as("v"))
          rank = nodes.join(contrib, Seq("id"), "left")
            .select($"id",
              round(lit(0.15) + lit(0.85) * coalesce($"v", lit(0.0)), 6).as("p"))
            .localCheckpoint()
        }
        rank.select($"id".as("doc_id"), round($"p", 4).as("pagerank"))
          .orderBy($"doc_id")
      },
      Some {
        def round(prev: String, cur: String) =
          s"""$cur AS (
             |  SELECT n.id, round(0.15 + 0.85 * coalesce(s.v, 0), 6) AS p
             |  FROM nodes n LEFT JOIN (
             |    SELECT e.dst AS id, sum($prev.p / odeg.deg) AS v
             |    FROM edges e JOIN $prev ON e.src = $prev.id
             |    JOIN odeg ON e.src = odeg.src
             |    GROUP BY e.dst) s USING (id))""".stripMargin
        s"""WITH $minhashPairsSql,
           |edges AS (SELECT a AS src, b AS dst FROM pairs
           |          UNION ALL SELECT b, a FROM pairs),
           |odeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
           |nodes AS (SELECT DISTINCT src AS id FROM edges),
           |p0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS p FROM nodes),
           |${round("p0", "p1")},
           |${round("p1", "p2")},
           |${round("p2", "p3")}
           |SELECT id AS doc_id, round(p, 4) AS pagerank
           |FROM p3 ORDER BY doc_id""".stripMargin
      }),

    // Triangle counting — the near-dup graph's clustering texture (how
    // clique-like duplicate neighborhoods are, which picks between
    // cluster-collapse and pairwise-drop dedup policies). The a<b<c
    // ORIENTED wedge join counts each triangle exactly once with two
    // equi-joins over the ordered edge list — no 6× symmetric blow-up, no
    // per-node adjacency materialization; at 100 TB both joins shuffle on
    // an edge endpoint and the heaviest wedge fan-out is bounded by the
    // LSH band width that generated the pairs.
    Q("q98_triangles",
      (s, d) => {
        import s.implicits._
        // no .cache(): the memo is parquet-backed, so the three reads
        // below are cheap file re-scans — and a CacheManager entry here
        // would be substituted into every later query planning the same
        // pairs subtree (q100/q115/q117/q162/q221), making their
        // physical plans depend on whether q98 ran first (ADVICE r8)
        val e = documentPairs(s, d)
          .select($"a", $"b")
        val wedges = e.as("e1").join(e.as("e2"), $"e1.b" === $"e2.a")
          .select($"e1.a".as("x"), $"e1.b".as("y"), $"e2.b".as("z"))
        val tri = wedges.join(e.as("e3"),
          $"x" === $"e3.a" && $"z" === $"e3.b")
        tri.agg(count(lit(1)).as("n_triangles"))
          .crossJoin(broadcast(e.agg(count(lit(1)).as("n_edges"))))
      },
      Some(s"""WITH $minhashPairsSql
             |SELECT
             |  (SELECT count(*)
             |   FROM pairs e1 JOIN pairs e2 ON e1.b = e2.a
             |   JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b) AS n_triangles,
             |  (SELECT count(*) FROM pairs) AS n_edges""".stripMargin)),

    // The END-TO-END curation pipeline as ONE declarative dataflow —
    // the composition every stage above exists for: quality gate (q49's
    // length + word-length signals) → exact dedup (min-doc_id keeper per
    // text hash, q40's policy) → near-dup drop (MinHash pair graph,
    // smaller id wins, q41) → benchmark decontamination (q37's trigram
    // overlap against the eval slice). One logical plan: Catalyst sees
    // every stage, so filters push into the shared scans and the stage
    // frames never materialize to storage; the five survivor counts +
    // surviving token budget combine via broadcast 1-row cross joins. At
    // 100 TB each stage is the already-audited shape of its standalone
    // query — composition adds no new shuffle.
    Q("q100_curation_pipeline",
      (s, d) => {
        import s.implicits._
        val base = Tables.documents(s, d)
          .select($"doc_id", $"text",
            size(split($"text", " ")).cast("long").as("n_tokens"))
        val qual = base.filter($"n_tokens".between(25, 95) &&
          ((length($"text") - $"n_tokens" + 1) / $"n_tokens".cast("double"))
            .between(4.0, 5.1))
        val keepers = qual.groupBy(md5($"text").as("h"))
          .agg(min($"doc_id").as("doc_id")).select($"doc_id")
        val exq = qual.join(keepers, Seq("doc_id"), "left_semi").cache()
        val pairs = documentPairs(s, d).select($"a", $"b")
        val ndDrop = pairs
          .join(exq.select($"doc_id".as("a")), Seq("a"), "left_semi")
          .join(exq.select($"doc_id".as("b")), Seq("b"), "left_semi")
          .select($"b".as("doc_id")).distinct()
        val nd = exq.join(ndDrop, Seq("doc_id"), "left_anti")
        val sh = wordTrigrams(s, d).withColumnRenamed("s", "sg")
        val cont = sh.filter($"doc_id" >= 20)
          .join(broadcast(sh.filter($"doc_id" < 20)
            .select($"doc_id".as("ed"), $"sg")), "sg")
          .groupBy($"doc_id", $"ed").agg(count(lit(1)).as("ns"))
          .filter($"ns" >= 2).select($"doc_id").distinct()
        val clean = nd.filter($"doc_id" >= 20)
          .join(cont, Seq("doc_id"), "left_anti")
        def n(df: DataFrame, as: String) = df.agg(count(lit(1)).as(as))
        n(base, "n_all")
          .crossJoin(broadcast(n(qual, "n_quality")))
          .crossJoin(broadcast(n(exq, "n_exact")))
          .crossJoin(broadcast(n(nd, "n_neardup")))
          .crossJoin(broadcast(n(clean, "n_clean")))
          .crossJoin(broadcast(
            clean.agg(sum($"n_tokens").as("kept_tokens"))))
      },
      Some(s"""WITH $minhashPairsSql,
             |base AS (
             |  SELECT doc_id, text, len(string_split(text, ' ')) AS n_tokens
             |  FROM documents),
             |qual AS (
             |  SELECT doc_id, text, n_tokens FROM base
             |  WHERE n_tokens BETWEEN 25 AND 95
             |    AND (length(text) - n_tokens + 1) * 1.0 / n_tokens
             |      BETWEEN 4.0 AND 5.1),
             |keepers AS (
             |  SELECT min(doc_id) AS doc_id FROM qual GROUP BY md5(text)),
             |exq AS (SELECT q.* FROM qual q JOIN keepers USING (doc_id)),
             |nddrop AS (
             |  SELECT DISTINCT p.b AS doc_id FROM pairs p
             |  JOIN exq x ON x.doc_id = p.a
             |  JOIN exq y ON y.doc_id = p.b),
             |nd AS (SELECT * FROM exq
             |       WHERE doc_id NOT IN (SELECT doc_id FROM nddrop)),
             |tk AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |shg AS (
             |  SELECT DISTINCT doc_id, concat(w[i], ' ', w[i+1], ' ', w[i+2]) AS sg
             |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
             |        FROM tk)),
             |cont AS (
             |  SELECT DISTINCT doc_id FROM (
             |    SELECT c.doc_id, e.doc_id AS ed, count(*) AS ns
             |    FROM shg c JOIN shg e ON c.sg = e.sg
             |      AND e.doc_id < 20 AND c.doc_id >= 20
             |    GROUP BY 1, 2) WHERE ns >= 2),
             |clean AS (
             |  SELECT * FROM nd WHERE doc_id >= 20
             |    AND doc_id NOT IN (SELECT doc_id FROM cont))
             |SELECT
             |  (SELECT count(*) FROM base) AS n_all,
             |  (SELECT count(*) FROM qual) AS n_quality,
             |  (SELECT count(*) FROM exq) AS n_exact,
             |  (SELECT count(*) FROM nd) AS n_neardup,
             |  (SELECT count(*) FROM clean) AS n_clean,
             |  (SELECT CAST(sum(n_tokens) AS BIGINT) FROM clean) AS kept_tokens""".stripMargin)),

    // Edit-distance fuzzy matching — the near-dup modality the hash
    // families miss: small in-place edits (typo fixes, template fills)
    // that shift every shingle but leave the string metrically close.
    // All-pairs Levenshtein is O(n²·L²) and unrunnable at scale, so pairs
    // are blocked by (lang, first token) — cheap stable keys under which
    // true edit-variants almost always collide — and only the 40-char
    // prefixes of block-mates are compared (bounds the DP matrix at 40×40
    // per pair). The block self-join is an equi-join on the block key,
    // AQE-splittable on skew; levenshtein() is a codegen'd built-in in
    // both engines with identical classic-DP semantics.
    Q("q104_fuzzy_match",
      (s, d) => {
        import s.implicits._
        val base = Tables.documents(s, d)
          .select($"doc_id", $"lang",
            split($"text", " ").getItem(0).as("blk"),
            substring($"text", 1, 40).as("p"))
        val a = base.select($"doc_id".as("id_a"), $"lang", $"blk", $"p".as("pa"))
        val b = base.select($"doc_id".as("id_b"), $"lang", $"blk", $"p".as("pb"))
        a.join(b, Seq("lang", "blk"))
          .filter($"id_a" < $"id_b")
          .select($"id_a", $"id_b",
            levenshtein($"pa", $"pb").cast("long").as("lev"))
          .filter($"lev" <= 12)
          .orderBy($"id_a", $"id_b")
      },
      Some("""WITH base AS (
             |  SELECT doc_id, lang, string_split(text, ' ')[1] AS blk,
             |    substr(text, 1, 40) AS p
             |  FROM documents)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  CAST(levenshtein(a.p, b.p) AS BIGINT) AS lev
             |FROM base a JOIN base b
             |  ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id
             |WHERE levenshtein(a.p, b.p) <= 12
             |ORDER BY id_a, id_b""".stripMargin)),

    // Benchmark contamination sweep — the decontamination check run
    // before any training shard ships: treat one source (src0) as the
    // held-out eval set and find training documents sharing any distinct
    // 5-token gram with it. Inverted-index shape: the eval gram set
    // dedupes to a bounded build side, training grams probe it with one
    // hash join on the gram key, and the per-doc roll-up is a partial
    // agg — linear in corpus grams, never a doc×doc comparison. The
    // overlap fraction (hit grams / doc's distinct grams) ranks docs for
    // removal versus span-level scrubbing.
    Q("q109_contamination",
      (s, d) => {
        import s.implicits._
        def grams(df: DataFrame) = df
          .select($"doc_id", $"source", split($"text", " ").as("w"))
          .select($"doc_id", $"source", explode(expr(
            """case when size(w) < 5 then cast(array() as array<string>)
              |else transform(sequence(1, size(w) - 4),
              |  i -> concat_ws(' ', slice(w, i, 5))) end""".stripMargin)).as("g"))
          .distinct()
        val all = Tables.documents(s, d)
        val evalG = grams(all.filter($"source" === "src0"))
          .select($"g").distinct()
        val trainG = grams(all.filter($"source" =!= "src0"))
        trainG.join(evalG.withColumn("hit", lit(1L)), Seq("g"), "left")
          .groupBy($"doc_id", $"source")
          .agg(count(lit(1)).as("n_gram"), sum(coalesce($"hit", lit(0L))).as("n_hit"))
          .filter($"n_hit" > 0)
          .select($"doc_id", $"source", $"n_gram", $"n_hit",
            round($"n_hit".cast("double") / $"n_gram", 6).as("contam_frac"))
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, source, string_split(text, ' ') AS w,
             |    len(string_split(text, ' ')) AS n FROM documents),
             |g AS (
             |  SELECT DISTINCT doc_id, source,
             |    array_to_string(list_slice(w, i, i + 4), ' ') AS g
             |  FROM (SELECT doc_id, source, w, unnest(generate_series(1, n - 4)) AS i FROM t)),
             |ev AS (SELECT DISTINCT g FROM g WHERE source = 'src0'),
             |tr AS (SELECT doc_id, source, g.g, CASE WHEN ev.g IS NULL THEN 0 ELSE 1 END AS hit
             |  FROM g LEFT JOIN ev ON g.g = ev.g WHERE g.source != 'src0')
             |SELECT doc_id, source, count(*) AS n_gram,
             |  CAST(sum(hit) AS BIGINT) AS n_hit,
             |  round(sum(hit) * 1.0 / count(*), 6) AS contam_frac
             |FROM tr GROUP BY doc_id, source
             |HAVING sum(hit) > 0 ORDER BY doc_id""".stripMargin)),

    // MinHash estimator calibration — before trusting a 16-row signature
    // to gate dedup at 100 TB, measure it: for every LSH-retrieved pair,
    // the signature's Jaccard estimate against the EXACT shingle-set
    // Jaccard, with the per-pair error. The exact overlap never goes
    // pairwise over documents — the candidate list (already bounded by
    // LSH retrieval) joins each side's distinct shingle set on the
    // shingle key, so cost is pairs × shingles-per-doc, and set sizes
    // ride a broadcast dim. A drifting mean error here is the signal to
    // widen the signature before the production dedup run.
    Q("q115_minhash_calibration",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
        val sh = docs
          .select($"doc_id", graft.kmer.Kmers.kmerExplode($"text", 12).as("sg"))
          .distinct().cache()
        val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("nsh"))
        val pairs = documentPairs(s, d).select($"a", $"b", $"est_j")
        val inter = pairs.select($"a", $"b")
          .join(sh.toDF("a", "sg"), "a")
          .join(sh.toDF("b", "sg2"), "b")
          .filter($"sg" === $"sg2")
          .groupBy($"a", $"b").agg(count(lit(1)).as("n_inter"))
        pairs
          .join(inter, Seq("a", "b"), "left")
          .na.fill(0L, Seq("n_inter"))
          .join(broadcast(sizes.toDF("a", "nsh_a")), "a")
          .join(broadcast(sizes.toDF("b", "nsh_b")), "b")
          .select($"a", $"b", round($"est_j", 4).as("est_j"),
            round($"n_inter".cast("double") / ($"nsh_a" + $"nsh_b" - $"n_inter"), 6)
              .as("exact_j"))
          .withColumn("err", round($"est_j" - $"exact_j", 6))
          .orderBy($"a", $"b")
      },
      Some(s"""WITH $minhashPairsSql,
             |szs AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
             |iv AS (
             |  SELECT p.a, p.b, count(*) AS n_inter
             |  FROM pairs p
             |  JOIN sh sa ON sa.doc_id = p.a
             |  JOIN sh sb ON sb.doc_id = p.b AND sb.s = sa.s
             |  GROUP BY p.a, p.b)
             |SELECT p.a, p.b, round(p.est_j, 4) AS est_j,
             |  round(coalesce(iv.n_inter, 0) * 1.0
             |    / (xa.nsh + xb.nsh - coalesce(iv.n_inter, 0)), 6) AS exact_j,
             |  round(round(p.est_j, 4) - round(coalesce(iv.n_inter, 0) * 1.0
             |    / (xa.nsh + xb.nsh - coalesce(iv.n_inter, 0)), 6), 6) AS err
             |FROM pairs p
             |LEFT JOIN iv ON iv.a = p.a AND iv.b = p.b
             |JOIN szs xa ON xa.doc_id = p.a
             |JOIN szs xb ON xb.doc_id = p.b
             |ORDER BY p.a, p.b""".stripMargin)),

    // Threshold sweep — how many near-dup pairs a given Jaccard cutoff
    // would act on, as a cumulative curve over 0.05-wide estimate bins.
    // Planners read this before picking the production threshold: the
    // knee of the curve separates boilerplate twins from borderline
    // paraphrases. Costs one bounded (≤16-bin) aggregate over the
    // already-retrieved pair list; the cumulative window runs over that
    // bin list, never over pairs.
    Q("q117_threshold_sweep",
      (s, d) => {
        import s.implicits._
        val bins = documentPairs(s, d)
          .select((floor($"est_j" * 20) / 20.0).as("j_bin"))
          .groupBy($"j_bin").agg(count(lit(1)).as("n_pairs"))
        // cumulative-from-the-top via a triangular self-join over the
        // bounded bin list — a global ordered window here would plan the
        // banned single-partition exchange for no reason
        bins.join(broadcast(bins.toDF("j_bin2", "n_pairs2")),
            $"j_bin2" >= $"j_bin")
          .groupBy($"j_bin", $"n_pairs")
          .agg(sum($"n_pairs2").as("n_at_or_above"))
          .orderBy($"j_bin")
      },
      Some(s"""WITH $minhashPairsSql,
             |b AS (
             |  SELECT floor(est_j * 20) / 20.0 AS j_bin, count(*) AS n_pairs
             |  FROM pairs GROUP BY 1)
             |SELECT x.j_bin, x.n_pairs,
             |  CAST(sum(y.n_pairs) AS BIGINT) AS n_at_or_above
             |FROM b x JOIN b y ON y.j_bin >= x.j_bin
             |GROUP BY x.j_bin, x.n_pairs ORDER BY x.j_bin""".stripMargin)),

    // 3-hop BFS over the near-dup graph — the blast-radius probe run
    // before deleting a duplicate cluster: which documents are within k
    // edges of a suspect doc (here doc 0). Driver-looped frontier
    // expansion, the same constant-depth discipline as the component/
    // PageRank loops: each round is one edge join + one anti-join
    // against the visited set, localCheckpoint'ed so three rounds can't
    // grow the Catalyst plan; per-round cost is one shuffle of the
    // (bounded) frontier against the edge list, never the whole graph.
    Q("q123_bfs",
      (s, d) => {
        import s.implicits._
        val sym = documentPairs(s, d).select($"a", $"b")
          .select(explode(array(
            struct($"a".as("src"), $"b".as("dst")),
            struct($"b".as("src"), $"a".as("dst")))).as("e"))
          .select($"e.src".as("src"), $"e.dst".as("dst"))
          .localCheckpoint()
        var frontier = Seq(0L).toDF("doc_id").withColumn("hop", lit(0L))
        var visited = frontier
        for (h <- 1 to 3) {
          val nxt = sym
            .join(frontier.select($"doc_id".as("src")), "src")
            .select($"dst".as("doc_id")).distinct()
            .join(visited.select($"doc_id"), Seq("doc_id"), "left_anti")
            .withColumn("hop", lit(h.toLong))
            .localCheckpoint()
          visited = visited.union(nxt).localCheckpoint()
          frontier = nxt
        }
        visited.orderBy($"hop", $"doc_id")
      },
      Some(s"""WITH $minhashPairsSql,
             |sym AS (SELECT a AS src, b AS dst FROM pairs
             |        UNION ALL SELECT b, a FROM pairs),
             |h0 AS (SELECT CAST(0 AS BIGINT) AS doc_id),
             |h1 AS (
             |  SELECT DISTINCT s.dst AS doc_id FROM sym s JOIN h0 ON s.src = h0.doc_id
             |  WHERE s.dst NOT IN (SELECT doc_id FROM h0)),
             |h2 AS (
             |  SELECT DISTINCT s.dst AS doc_id FROM sym s JOIN h1 ON s.src = h1.doc_id
             |  WHERE s.dst NOT IN (SELECT doc_id FROM h0 UNION ALL SELECT doc_id FROM h1)),
             |h3 AS (
             |  SELECT DISTINCT s.dst AS doc_id FROM sym s JOIN h2 ON s.src = h2.doc_id
             |  WHERE s.dst NOT IN (SELECT doc_id FROM h0 UNION ALL
             |    SELECT doc_id FROM h1 UNION ALL SELECT doc_id FROM h2))
             |SELECT doc_id, CAST(0 AS BIGINT) AS hop FROM h0
             |UNION ALL SELECT doc_id, 1 FROM h1
             |UNION ALL SELECT doc_id, 2 FROM h2
             |UNION ALL SELECT doc_id, 3 FROM h3
             |ORDER BY hop, doc_id""".stripMargin)),

    // Train/test leakage through near-duplicates — the failure a naive
    // random split cannot see: a document and its near-copy landing on
    // opposite sides of the split, leaking eval content into training.
    // Split assignment is the stable md5-fraction rule (engine- and
    // run-reproducible); the audit joins each LSH-retrieved pair to both
    // members' splits and reports pair counts and mean similarity per
    // split combination. The cross-split row is the leak — its n_pairs
    // is the number of eval documents that must be re-assigned or
    // dropped (the reason production splits assign by CLUSTER, not doc).
    Q("q128_split_leakage",
      (s, d) => {
        import s.implicits._
        val split = Tables.documents(s, d).select($"doc_id",
          when(expr("cast(conv(substring(md5(concat('sp:', cast(doc_id as string))), 1, 8), 16, 10) as bigint)")
            / 4294967296.0 < 0.8, "train").otherwise("test").as("sp"))
        val pairs = documentPairs(s, d)
          .withColumn("ju", round($"est_j" * 10000).cast("long"))
        pairs
          .join(split.toDF("a", "sp_a"), "a")
          .join(split.toDF("b", "sp_b"), "b")
          .select(
            when($"sp_a" <= $"sp_b", concat_ws("|", $"sp_a", $"sp_b"))
              .otherwise(concat_ws("|", $"sp_b", $"sp_a")).as("combo"),
            $"ju")
          .groupBy($"combo")
          .agg(count(lit(1)).as("n_pairs"), sum($"ju").as("su"))
          .select($"combo", $"n_pairs",
            (expr("(2 * su + n_pairs) div (2 * n_pairs)") / 10000.0).as("avg_est_j"))
          .orderBy($"combo")
      },
      Some(s"""WITH $minhashPairsSql,
             |sp AS (
             |  SELECT doc_id,
             |    CASE WHEN ('0x' || substr(md5('sp:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
             |      / 4294967296.0 < 0.8 THEN 'train' ELSE 'test' END AS sp
             |  FROM documents),
             |lab AS (
             |  SELECT CASE WHEN sa.sp <= sb.sp THEN sa.sp || '|' || sb.sp
             |              ELSE sb.sp || '|' || sa.sp END AS combo,
             |    CAST(round(p.est_j * 10000) AS BIGINT) AS ju
             |  FROM pairs p
             |  JOIN sp sa ON sa.doc_id = p.a
             |  JOIN sp sb ON sb.doc_id = p.b)
             |SELECT combo, count(*) AS n_pairs,
             |  ((2 * sum(ju) + count(*)) // (2 * count(*))) / 10000.0 AS avg_est_j
             |FROM lab GROUP BY combo ORDER BY combo""".stripMargin)),

    // Prefix-filtered set-similarity join (PPJoin's core) — the
    // EXACT-recall complement to MinHash: for token-set Jaccard ≥ 0.6,
    // two sets MUST share a token among each one's first
    // m − ⌈0.6·m⌉ + 1 tokens when both are ordered by global rarity —
    // so the inverted index is built over those short prefixes only,
    // rare tokens first (tiny posting lists), and no qualifying pair
    // can be missed. Candidates then verify exactly on the full sets
    // via one token-keyed join. Same shuffle-bounded shape as LSH
    // retrieval but with a guarantee instead of an estimate.
    Q("q133_ppjoin",
      (s, d) => {
        import s.implicits._
        // trigram sets, not unigram: the corpus vocabulary is tiny, so
        // unigram sets saturate (every pair looks similar) and even
        // bigram prefixes keep posting lists long enough to explode the
        // candidate stage ~25× — trigrams give the distinctive, RARE
        // element universe prefix filtering needs
        val tok = wordTrigrams(s, d).withColumnRenamed("s", "t")
        val freq = tok.groupBy($"t").agg(count(lit(1)).as("f"))
        val pos = tok.join(freq, "t")
          .withColumn("m", count(lit(1)).over(Window.partitionBy($"doc_id")))
          .withColumn("pos", row_number().over(
            Window.partitionBy($"doc_id").orderBy($"f", $"t")))
        val pref = pos.filter($"pos" <= $"m" - ceil($"m" * 0.6) + 1)
          .select($"doc_id", $"t", $"pos", $"m")
        // positional filter (PPJoin proper): a match at prefix positions
        // (pa, pb) can contribute at most 1 + min(ma−pa, mb−pb) overlap;
        // below the α = ⌈0.375·(ma+mb)⌉ overlap bound implied by J ≥ 0.6
        // the pair cannot qualify, so it never reaches the verify join
        // (0.375 = 0.6/1.6 written exactly so both engines agree)
        val cand = pref.toDF("a", "t", "pa", "ma")
          .join(pref.toDF("b", "t", "pb", "mb"), "t")
          .filter($"a" < $"b" &&
            lit(1) + least($"ma" - $"pa", $"mb" - $"pb")
              >= ceil(($"ma" + $"mb") * 0.375))
          .select($"a", $"b").distinct()
        // verify via per-doc token ARRAYS, not an exploded token join: the
        // exploded form shuffles |cand|·m̄ rows (measured 510M at the sf1
        // scale probe — the dominant cost), while this shape shuffles only
        // the token table once into arrays and then intersects per pair,
        // so the verify traffic is bounded by |cand| itself. The doc→array
        // side is join-key-equality on doc id; AQE broadcasts it at small
        // SF and falls back to SMJ when corpus-sized — both correct.
        val docTok = tok.groupBy($"doc_id").agg(collect_list($"t").as("arr"))
        cand
          .join(docTok.toDF("a", "arr_a"), "a")
          .join(docTok.toDF("b", "arr_b"), "b")
          .select($"a", $"b",
            size(array_intersect($"arr_a", $"arr_b")).cast("long").as("inter"),
            size($"arr_a").as("ma"), size($"arr_b").as("mb"))
          .withColumn("jaccard",
            round($"inter".cast("double") / ($"ma" + $"mb" - $"inter"), 6))
          .filter($"jaccard" >= 0.6)
          .select($"a", $"b", $"inter", $"jaccard")
          .orderBy($"a", $"b")
      },
      Some("""WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |tok AS (
             |  SELECT DISTINCT doc_id,
             |    array_to_string(list_slice(w, i, i + 2), ' ') AS t
             |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
             |        FROM t0)),
             |freq AS (SELECT t, count(*) AS f FROM tok GROUP BY t),
             |pos AS (
             |  SELECT tok.doc_id, tok.t,
             |    count(*) OVER (PARTITION BY tok.doc_id) AS m,
             |    row_number() OVER (PARTITION BY tok.doc_id ORDER BY f.f, tok.t) AS pos
             |  FROM tok JOIN freq f USING (t)),
             |pref AS (SELECT doc_id, t, pos, m FROM pos
             |         WHERE pos <= m - ceil(m * 0.6) + 1),
             |cand AS (
             |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
             |  FROM pref x JOIN pref y ON x.t = y.t AND x.doc_id < y.doc_id
             |  WHERE 1 + least(x.m - x.pos, y.m - y.pos)
             |    >= ceil((x.m + y.m) * 0.375)),
             |dt AS (SELECT doc_id, list(t) AS arr FROM tok GROUP BY doc_id),
             |iv AS (
             |  SELECT c.a, c.b,
             |    CAST(len(list_intersect(xa.arr, xb.arr)) AS BIGINT) AS inter,
             |    len(xa.arr) AS ma, len(xb.arr) AS mb
             |  FROM cand c
             |  JOIN dt xa ON xa.doc_id = c.a
             |  JOIN dt xb ON xb.doc_id = c.b)
             |SELECT a, b, inter,
             |  round(inter * 1.0 / (ma + mb - inter), 6) AS jaccard
             |FROM iv
             |WHERE round(inter * 1.0 / (ma + mb - inter), 6) >= 0.6
             |ORDER BY a, b""".stripMargin)),

    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — SEMANTIC dedup:
    // cluster the embedding space with the shared deterministic k-means
    // (Similarity.trainedCells — fixed CoarseCells cells, 2 Lloyd
    // iterations, 6-dp centroids), then compare pairs ONLY within a
    // cluster and drop every vector that has a lower-id neighbor above
    // the cosine threshold. Differs from q45 (embed_neardup) exactly the
    // way the paper differs from blocking-LSH: candidates come from the
    // TRAINED partition of the space, and the keep-rule is per-cluster
    // (min id survives), so the operator both finds near-dups and
    // resolves them in one pass. At 100 TB the cluster id is the shuffle
    // key: the pair join is cell-local (cells are bounded by corpus/C on
    // average, and a pathological hot cell is AQE-skew-splittable), the
    // centroid set is a constant-size broadcast, and nothing all-pairs.
    Q("q135_semdedup",
      (s, d) => semDedupFrame(s, d, Similarity.CoarseCells),
      Some(Similarity.kmeansTrainSql(2) + s"""
             |,pr AS (
             |  SELECT u.cid, u.vec_id AS a, v.vec_id AS b,
             |    round(sum(eu.v * ev.v) / (nu.nrm * nv.nrm), 4) AS cos
             |  FROM a2 u JOIN a2 v ON u.cid = v.cid AND u.vec_id < v.vec_id
             |  JOIN e eu ON eu.vec_id = u.vec_id
             |  JOIN e ev ON ev.vec_id = v.vec_id AND ev.i = eu.i
             |  JOIN nrm nu ON nu.vec_id = u.vec_id
             |  JOIN nrm nv ON nv.vec_id = v.vec_id
             |  GROUP BY u.cid, u.vec_id, v.vec_id, nu.nrm, nv.nrm)
             |SELECT b AS vec_id, cid, min(a) AS dup_of, max(cos) AS max_cos
             |FROM pr WHERE cos >= $SemDedupTau
             |GROUP BY b, cid ORDER BY vec_id""".stripMargin)),

    // Shingle-CONTAINMENT near-dup detection — the asymmetric complement
    // of q43's Jaccard: C(A→B) = |S_A ∩ S_B| / |S_A| finds a document
    // embedded inside a larger one (quote farms, wrapper pages, train/test
    // contamination by inclusion), which symmetric Jaccard under-scores
    // when |S_B| ≫ |S_A|. Character-trigram sets (the q133 shingling) with
    // a document-frequency cap: ubiquitous trigrams are dropped from BOTH
    // the intersection and the set sizes, bounding the inverted-index
    // join's worst key fan-out at cap² rows at any corpus size. The small
    //-set floor (MinContainSetSize) keeps docs whose informative-shingle
    // set is tiny from reporting vacuous 100% containment.
    Q("q137_containment",
      (s, d) => {
        import s.implicits._
        val all = Tables.documents(s, d)
          .select($"doc_id", graft.kmer.Kmers.kmerExplode($"text", 3).as("s"))
          .distinct()
        val hot = all.groupBy($"s").agg(count(lit(1)).as("df"))
          .filter($"df" > MaxCharShingleDf).select($"s")
        val sh = all.join(hot, Seq("s"), "left_anti").cache()
        val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("sz"))
        val shared = sh.as("x").join(sh.as("y"),
            $"x.s" === $"y.s" && $"x.doc_id" =!= $"y.doc_id")
          .groupBy($"x.doc_id".as("a"), $"y.doc_id".as("b"))
          .agg(count(lit(1)).as("shared"))
        shared
          .join(sizes.select($"doc_id".as("a"), $"sz".as("sz_a")), "a")
          .filter($"sz_a" >= MinContainSetSize)
          .withColumn("containment", round($"shared" / $"sz_a".cast("double"), 4))
          .filter($"containment" >= 0.85)
          .select($"a", $"b", $"sz_a", $"shared", $"containment")
          .orderBy($"a", $"b")
      },
      Some(s"""WITH allsh AS (
             |  SELECT DISTINCT doc_id, substr(text, i, 3) AS s
             |  FROM (SELECT doc_id, text, unnest(generate_series(1, len(text) - 2)) AS i
             |        FROM documents)),
             |sh AS (
             |  SELECT doc_id, s FROM allsh
             |  WHERE s NOT IN (SELECT s FROM allsh GROUP BY s
             |                  HAVING count(*) > $MaxCharShingleDf)),
             |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
             |ov AS (
             |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS shared
             |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id != y.doc_id
             |  GROUP BY 1, 2)
             |SELECT a, b, sz_a, shared, containment FROM (
             |  SELECT ov.a, ov.b, sa.sz AS sz_a, ov.shared,
             |    round(ov.shared / CAST(sa.sz AS DOUBLE), 4) AS containment
             |  FROM ov JOIN sizes sa ON sa.doc_id = ov.a
             |  WHERE sa.sz >= $MinContainSetSize)
             |WHERE containment >= 0.85 ORDER BY a, b""".stripMargin)),

    // Quality-aware cluster resolution — q46 keeps the SMALLEST doc_id per
    // duplicate cluster; production curation keeps the BEST document (the
    // highest-quality member), because near-dup clusters routinely pair a
    // clean original with truncated or boilerplate-padded copies. Clusters
    // are the q41/q46 components; the representative is the member with the
    // highest lexical-diversity score (distinct-token ratio, the q31
    // signal), doc_id as the deterministic tiebreak. One row_number window
    // per cluster — the cluster frame is |dup docs| ≪ corpus, so the
    // ranking shuffle is on the small side of the pipeline at any scale.
    Q("q156_dedup_keep_best",
      (s, d) => {
        import s.implicits._
        val comp = documentComponents(s, d)
        val qual = Tables.documents(s, d)
          .select($"doc_id",
            (size(array_distinct(split($"text", " "))).cast("double") /
              size(split($"text", " "))).as("uniq_ratio"))
        // window-then-aggregate kept over a single max_by aggregate (r14
        // A/B, measured): both share the one component-keyed exchange, the
        // cluster frame is |dup docs| ≪ corpus, and the codegen'd window
        // measured slightly ahead of the max_by replan (struct ordering ⇒
        // non-codegen SortAggregate) — see OPTIMIZATION_r14.md
        val ranked = comp.join(qual, comp("id") === qual("doc_id"))
          .select($"component", $"doc_id", $"uniq_ratio")
          .withColumn("rk", row_number().over(Window.partitionBy($"component")
            .orderBy($"uniq_ratio".desc, $"doc_id".asc)))
        ranked.groupBy($"component")
          .agg(count(lit(1)).as("n_members"),
            max(when($"rk" === 1, $"doc_id")).as("keeper"),
            round(max(when($"rk" === 1, $"uniq_ratio")), 6).as("keeper_uniq"),
            (count(lit(1)) - 1).as("n_dropped"))
          .orderBy($"component")
      },
      Some(s"""WITH RECURSIVE $minhashPairsSql,
             |sym AS (SELECT a AS src, b AS dst FROM pairs
             |        UNION ALL SELECT b, a FROM pairs),
             |reach(id, r) AS (
             |  SELECT DISTINCT src, src FROM sym
             |  UNION
             |  SELECT x.id, e.dst FROM reach x JOIN sym e ON e.src = x.r),
             |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
             |qual AS (
             |  SELECT doc_id,
             |    len(list_distinct(string_split(text, ' '))) * 1.0
             |      / len(string_split(text, ' ')) AS uniq_ratio
             |  FROM documents),
             |ranked AS (
             |  SELECT c.component, c.id AS doc_id, q.uniq_ratio,
             |    row_number() OVER (PARTITION BY c.component
             |      ORDER BY q.uniq_ratio DESC, c.id ASC) AS rk
             |  FROM comp c JOIN qual q ON q.doc_id = c.id)
             |SELECT component, count(*) AS n_members,
             |  max(CASE WHEN rk = 1 THEN doc_id END) AS keeper,
             |  round(max(CASE WHEN rk = 1 THEN uniq_ratio END), 6) AS keeper_uniq,
             |  count(*) - 1 AS n_dropped
             |FROM ranked GROUP BY component ORDER BY component""".stripMargin)),

    // Incremental (batch-vs-corpus) dedup — the ingest-time path a live
    // 100 TB pipeline actually runs: the standing corpus keeps its LSH band
    // index materialized (here sources src0–src15); an incoming batch
    // (src16–src19) is signed, banded, and joined ONLY against the corpus
    // index — never against itself and never re-bucketing the corpus. The
    // join is incoming-bands ⋈ corpus-bands on (band, bucket): its cost is
    // proportional to the BATCH, not the corpus, which is what makes
    // continuous ingestion feasible (the full self-join of q41 would grow
    // quadratically with every shard added). Collisions are verified by the
    // signature-match estimate before a document is dropped, so bucket
    // coincidences don't delete clean docs.
    Q("q157_incremental_dedup",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
        val newSrc = Seq("src16", "src17", "src18", "src19")
        val mhs = minhashWide(docs, 12, 16)
          .join(docs.select($"doc_id", $"source"), "doc_id").cache()
        val bandCols = (0 until 8).map { j =>
          struct(lit(j).as("band"),
            md5(concat_ws("|", col(s"mh${2 * j}"), col(s"mh${2 * j + 1}"))).as("bucket"))
        }
        val bands = mhs.select($"doc_id", $"source",
            explode(array(bandCols: _*)).as("bb"))
          .select($"doc_id", $"source", $"bb.band".as("band"), $"bb.bucket".as("bucket"))
        val corpus = bands.filter(!$"source".isInCollection(newSrc))
          .select($"doc_id".as("cid"), $"band", $"bucket")
        val incoming = bands.filter($"source".isInCollection(newSrc))
        val cand = incoming.join(corpus, Seq("band", "bucket"))
          .select($"doc_id", $"source", $"cid").distinct()
        val xa = mhs.select((0 until 16).map(i => col(s"mh$i").as(s"mh${i}_a")) :+
          $"doc_id": _*)
        val xb = mhs.select((0 until 16).map(i => col(s"mh$i").as(s"mh${i}_b")) :+
          $"doc_id".as("cid"): _*)
        val matches = (0 until 16)
          .map(i => when(col(s"mh${i}_a") === col(s"mh${i}_b"), 1).otherwise(0))
          .reduce(_ + _)
        val dropped = cand.join(xa, "doc_id").join(xb, "cid")
          .withColumn("est_j", matches / lit(16.0))
          .filter($"est_j" >= 0.25)
          .select($"doc_id", $"source").distinct()
          .groupBy($"source").agg(count(lit(1)).as("n_dropped"))
        docs.filter($"source".isInCollection(newSrc))
          .groupBy($"source").agg(count(lit(1)).as("n_docs"))
          .join(dropped, Seq("source"), "left")
          .select($"source", $"n_docs",
            coalesce($"n_dropped", lit(0L)).as("n_dropped"),
            ($"n_docs" - coalesce($"n_dropped", lit(0L))).as("n_kept"))
          .orderBy($"source")
      },
      Some {
        val bandCases = (0 until 8)
          .map(j => s"WHEN $j THEN md5(mh${2 * j} || '|' || mh${2 * j + 1})").mkString(" ")
        val eqSum = (0 until 16)
          .map(i => s"(CASE WHEN x.mh$i = y.mh$i THEN 1 ELSE 0 END)").mkString(" + ")
        s"""WITH $minhashMhSql,
           |mhs AS (SELECT mh.*, d.source FROM mh JOIN documents d USING (doc_id)),
           |bands AS (
           |  SELECT doc_id, source, t.i AS band, CASE t.i $bandCases END AS bucket
           |  FROM mhs, generate_series(0, 7) AS t(i)),
           |corpus AS (SELECT doc_id AS cid, band, bucket FROM bands
           |           WHERE source NOT IN ('src16','src17','src18','src19')),
           |incoming AS (SELECT * FROM bands
           |             WHERE source IN ('src16','src17','src18','src19')),
           |cand AS (
           |  SELECT DISTINCT i.doc_id, i.source, c.cid
           |  FROM incoming i JOIN corpus c USING (band, bucket)),
           |dropped AS (
           |  SELECT source, count(*) AS n_dropped FROM (
           |    SELECT DISTINCT cand.doc_id, cand.source
           |    FROM cand JOIN mh x ON x.doc_id = cand.doc_id
           |    JOIN mh y ON y.doc_id = cand.cid
           |    WHERE ($eqSum) / 16.0 >= 0.25)
           |  GROUP BY source),
           |nd AS (
           |  SELECT source, count(*) AS n_docs FROM documents
           |  WHERE source IN ('src16','src17','src18','src19') GROUP BY source)
           |SELECT nd.source, nd.n_docs,
           |  COALESCE(dropped.n_dropped, 0) AS n_dropped,
           |  nd.n_docs - COALESCE(dropped.n_dropped, 0) AS n_kept
           |FROM nd LEFT JOIN dropped USING (source) ORDER BY source""".stripMargin
      }),

    // Majority-vote label propagation (community detection) over the
    // near-dup graph — unlike q46's min-label components (which find the
    // CONNECTED pieces), LPA's majority vote finds the DENSE cores inside
    // a component: a chain of borderline overlaps does not pull two tight
    // duplicate cliques into one community. Three synchronous rounds, each
    // one neighbor-join + a per-node argmax (count DESC, label ASC — fully
    // deterministic), unrolled in the oracle as CTE blocks. Per round the
    // shuffle is edge-list-sized on dst, and label frames are node-sized;
    // the fixed round count is the driver-loop discipline every iterative
    // op in this repo uses.
    Q("q162_label_prop",
      (s, d) => {
        import s.implicits._
        val sym = documentPairs(s, d).select($"a", $"b")
          .select(explode(array(
            struct($"a".as("src"), $"b".as("dst")),
            struct($"b".as("src"), $"a".as("dst")))).as("e"))
          .select($"e.src".as("src"), $"e.dst".as("dst"))
          .localCheckpoint()
        val nodes = sym.select($"src".as("id")).distinct().cache()
        var labels = nodes.select($"id", $"id".as("lbl"))
        for (_ <- 1 to 3) {
          val votes = sym
            .join(labels.select($"id".as("src"), $"lbl"), "src")
            .groupBy($"dst".as("id"), $"lbl").agg(count(lit(1)).as("n"))
          // the per-node argmax stays a rank-1 window (r14 A/B, measured):
          // the vote frame is already aggregated (≤ degree rows per node,
          // no payload), partial WindowGroupLimit prunes it map-side, and
          // the codegen'd window measured at par with the min_by replan
          // (struct ordering ⇒ non-codegen SortAggregate) — see
          // OPTIMIZATION_r14.md on when the argmax-as-aggregate pays
          labels = votes
            .withColumn("rk", row_number().over(Window.partitionBy($"id")
              .orderBy($"n".desc, $"lbl".asc)))
            .filter($"rk" === 1).select($"id", $"lbl")
            .localCheckpoint()
        }
        labels.groupBy($"lbl".as("community"))
          .agg(count(lit(1)).as("n_members"), min($"id").as("min_doc"))
          .orderBy($"n_members".desc, $"community").limit(10)
      },
      Some {
        def round(prev: String, cur: String) =
          s"""$cur AS (
             |  SELECT id, lbl FROM (
             |    SELECT e.dst AS id, p.lbl, count(*) AS n,
             |      row_number() OVER (PARTITION BY e.dst
             |        ORDER BY count(*) DESC, p.lbl ASC) AS rk
             |    FROM edges e JOIN $prev p ON p.id = e.src
             |    GROUP BY e.dst, p.lbl) WHERE rk = 1)""".stripMargin
        s"""WITH $minhashPairsSql,
           |edges AS (SELECT a AS src, b AS dst FROM pairs
           |          UNION ALL SELECT b, a FROM pairs),
           |l0 AS (SELECT DISTINCT src AS id, src AS lbl FROM edges),
           |${round("l0", "l1")},
           |${round("l1", "l2")},
           |${round("l2", "l3")}
           |SELECT lbl AS community, count(*) AS n_members, min(id) AS min_doc
           |FROM l3 GROUP BY lbl ORDER BY n_members DESC, community
           |LIMIT 10""".stripMargin
      }),

    // HITS (hubs & authorities) over the supplier→customer supply graph —
    // the mutual-reinforcement centrality: a supplier is a good hub when it
    // supplies well-connected customers, a customer a good authority when
    // supplied by broad hubs. The graph is bipartite so the two scores live
    // on disjoint node sets and each half-iteration is ONE join-aggregate
    // over the edge list (shuffle on one endpoint), max-normalized and
    // rounded to 6 dp per round — the same per-round rounding that lets
    // q87/q51 unroll bit-reproducibly into oracle CTEs. Edge extraction
    // dedups (supplier, customer) once; score frames are node-sized.
    Q("q163_hits",
      (s, d) => {
        import s.implicits._
        val edges = Tables.lineitem(s, d)
          .join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
          .select($"l_suppkey".as("s"), $"o_custkey".as("c")).distinct()
          .localCheckpoint()
        var auth = edges.select($"c").distinct().withColumn("a", lit(1.0))
        var hub = edges.select($"s").distinct().withColumn("h", lit(1.0))
        for (_ <- 1 to 2) {
          // checkpoint ONLY the raw aggregate (r15, guide §2.4; r14 verdict
          // #6): the max-normalizer's broadcast subtree and the normalized
          // frame both read the materialized result, so the edge join
          // executes once per half-round — un-materialized, the
          // crossJoin(broadcast(agg)) shape re-evaluates the join inside
          // the broadcast stage. The NORMALIZED frame stays lazy: its plan
          // is a checkpointed-scan × 1-row broadcast max, so the next
          // half-round's single checkpoint job absorbs it as one tiny
          // broadcast stage instead of paying a separate materialization
          // job per half-round (was 2 jobs/half-round, now 1 + an absorbed
          // broadcast; values identical — hr/ar are FIXED in the
          // checkpoint, max over them is exact, round(·,6) unchanged).
          // broadcast the NODE-sized score frame into each edge join
          // (guide §3.1): the checkpointed frames carry no usable stats,
          // so the planner was sort-merge-joining — shuffling AND sorting
          // the edge list once per half-round to meet a frame that is one
          // row per graph node (≤ |suppliers| / |customers|, orders of
          // magnitude below the edge list on any real supply graph; A/B
          // and plan diff in OPTIMIZATION_r15.md). With the hint the edge
          // list never moves: every half-round is scan → broadcast join →
          // partial agg. At a scale where a node frame outgrew the
          // broadcast cap the hint would need a size gate — that bound is
          // documented, not load-bearing at any bench/probe SF.
          val hraw = edges.join(broadcast(auth), "c").groupBy($"s")
            .agg(sum($"a").as("hr")).localCheckpoint()
          hub = hraw.crossJoin(broadcast(hraw.agg(max($"hr").as("mx"))))
            .select($"s", round($"hr" / $"mx", 6).as("h"))
          val araw = edges.join(broadcast(hub), "s").groupBy($"c")
            .agg(sum($"h").as("ar")).localCheckpoint()
          auth = araw.crossJoin(broadcast(araw.agg(max($"ar").as("mx"))))
            .select($"c", round($"ar" / $"mx", 6).as("a"))
        }
        val topHub = hub.orderBy($"h".desc, $"s").limit(15)
          .select(lit("hub").as("role"), $"s".cast("long").as("node_id"),
            $"h".as("score"))
        val topAuth = auth.orderBy($"a".desc, $"c").limit(15)
          .select(lit("authority").as("role"), $"c".cast("long").as("node_id"),
            $"a".as("score"))
        topHub.unionAll(topAuth).orderBy($"role", $"score".desc, $"node_id")
      },
      Some("""WITH edges AS (
             |  SELECT DISTINCT l_suppkey AS s, o_custkey AS c
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
             |a0 AS (SELECT DISTINCT c, CAST(1.0 AS DOUBLE) AS a FROM edges),
             |h1r AS (SELECT s, sum(a) AS hr FROM edges JOIN a0 USING (c) GROUP BY s),
             |h1 AS (SELECT s, round(hr / (SELECT max(hr) FROM h1r), 6) AS h FROM h1r),
             |a1r AS (SELECT c, sum(h) AS ar FROM edges JOIN h1 USING (s) GROUP BY c),
             |a1 AS (SELECT c, round(ar / (SELECT max(ar) FROM a1r), 6) AS a FROM a1r),
             |h2r AS (SELECT s, sum(a) AS hr FROM edges JOIN a1 USING (c) GROUP BY s),
             |h2 AS (SELECT s, round(hr / (SELECT max(hr) FROM h2r), 6) AS h FROM h2r),
             |a2r AS (SELECT c, sum(h) AS ar FROM edges JOIN h2 USING (s) GROUP BY c),
             |a2 AS (SELECT c, round(ar / (SELECT max(ar) FROM a2r), 6) AS a FROM a2r),
             |th AS (SELECT 'hub' AS role, CAST(s AS BIGINT) AS node_id, h AS score
             |       FROM h2 ORDER BY h DESC, s LIMIT 15),
             |ta AS (SELECT 'authority' AS role, CAST(c AS BIGINT) AS node_id, a AS score
             |       FROM a2 ORDER BY a DESC, c LIMIT 15)
             |SELECT * FROM (SELECT * FROM th UNION ALL SELECT * FROM ta)
             |ORDER BY role, score DESC, node_id""".stripMargin)),

    // Sorted-neighborhood record linkage — the second classic blocking
    // family for edit-distance matching. q104's (lang, first-token) hash
    // blocks are blind to edits in the FIRST token; sorting the records
    // brings lexically adjacent variants together no matter which token
    // diverges later, and each record is compared only with its next two
    // neighbors in sort order (lead() over a per-language window). One
    // window shuffle on lang, O(w) comparisons per record, never
    // all-pairs; string sort order is plain codepoint order in both
    // engines for this ASCII corpus. A production SNM would sub-salt
    // oversized languages and overlap the partition boundaries.
    Q("q191_snm_linkage",
      (s, d) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"lang").orderBy($"p", $"doc_id")
        val led = Tables.documents(s, d)
          .select($"doc_id", $"lang", substring($"text", 1, 40).as("p"))
          .select($"doc_id", $"lang", $"p",
            lead($"doc_id", 1).over(w).as("id1"), lead($"p", 1).over(w).as("p1"),
            lead($"doc_id", 2).over(w).as("id2"), lead($"p", 2).over(w).as("p2"))
        val cand = led.filter($"id1".isNotNull)
          .select($"doc_id".as("id_a"), $"id1".as("id_b"), $"p".as("pa"), $"p1".as("pb"))
          .union(led.filter($"id2".isNotNull)
            .select($"doc_id".as("id_a"), $"id2".as("id_b"), $"p".as("pa"), $"p2".as("pb")))
        cand
          .select(least($"id_a", $"id_b").as("id_lo"),
            greatest($"id_a", $"id_b").as("id_hi"),
            levenshtein($"pa", $"pb").cast("long").as("lev"))
          .filter($"lev" <= 12)
          .orderBy($"id_lo", $"id_hi")
      },
      Some("""WITH base AS (
             |  SELECT doc_id, lang, substr(text, 1, 40) AS p FROM documents),
             |led AS (
             |  SELECT doc_id, lang, p,
             |    lead(doc_id, 1) OVER w AS id1, lead(p, 1) OVER w AS p1,
             |    lead(doc_id, 2) OVER w AS id2, lead(p, 2) OVER w AS p2
             |  FROM base WINDOW w AS (PARTITION BY lang ORDER BY p, doc_id)),
             |cand AS (
             |  SELECT doc_id AS id_a, id1 AS id_b, p AS pa, p1 AS pb
             |  FROM led WHERE id1 IS NOT NULL
             |  UNION ALL
             |  SELECT doc_id, id2, p, p2 FROM led WHERE id2 IS NOT NULL)
             |SELECT least(id_a, id_b) AS id_lo, greatest(id_a, id_b) AS id_hi,
             |  CAST(levenshtein(pa, pb) AS BIGINT) AS lev
             |FROM cand WHERE levenshtein(pa, pb) <= 12
             |ORDER BY id_lo, id_hi""".stripMargin)),

    // IDF-weighted Jaccard — q43's similarity with boilerplate discounted:
    // each trigram shingle contributes idf = ln(N/df) instead of 1, so two
    // documents sharing only ubiquitous phrasing score near zero while a
    // shared rare passage dominates — the weighting production dedup uses
    // to stop template text from fusing unrelated pages. idf is scaled to
    // an exact integer (round(1e6·ln)) so every sum compared across
    // engines is order-independent; df stays capped at MaxShingleDf, which
    // both bounds the inverted-index fan-out at df² AND is exactly the
    // stopword-removal semantics (hot shingles leave the universe).
    Q("q205_weighted_jaccard",
      (s, d) => {
        import s.implicits._
        val all = wordTrigrams(s, d)
        val df = all.groupBy($"s").agg(count(lit(1)).as("df"))
          .filter($"df" <= MaxShingleDf)
        val nDocs = Tables.documents(s, d)
          .agg(countDistinct($"doc_id").as("nd"))
        val wsh = all.join(df, "s").crossJoin(broadcast(nDocs))
          .select($"doc_id", $"s",
            expr("cast(round(1000000 * ln(nd / cast(df as double))) as bigint)").as("wt"))
          .cache()
        val tot = wsh.groupBy($"doc_id").agg(sum($"wt").as("tw"))
        val common = wsh.as("x").join(wsh.as("y"),
            $"x.s" === $"y.s" && $"x.doc_id" < $"y.doc_id")
          .groupBy($"x.doc_id".as("a"), $"y.doc_id".as("b"))
          .agg(sum($"x.wt").as("cw"))
        common
          .join(tot.select($"doc_id".as("a"), $"tw".as("wa")), "a")
          .join(tot.select($"doc_id".as("b"), $"tw".as("wb")), "b")
          .withColumn("wjac", $"cw" / ($"wa" + $"wb" - $"cw"))
          .filter($"wjac" >= 0.10)
          .select($"a", $"b", round($"wjac", 4).as("wjaccard"))
          .orderBy($"a", $"b")
      },
      Some(s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |allsh AS (
             |  SELECT DISTINCT doc_id, concat(w[i], ' ', w[i+1], ' ', w[i+2]) AS s
             |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
             |        FROM toks)),
             |df AS (SELECT s, count(*) AS df FROM allsh GROUP BY s
             |       HAVING count(*) <= $MaxShingleDf),
             |nd AS (SELECT count(DISTINCT doc_id) AS nd FROM toks),
             |wsh AS (
             |  SELECT a.doc_id, a.s,
             |    CAST(round(1000000 * ln(nd.nd / CAST(df.df AS DOUBLE))) AS BIGINT) AS wt
             |  FROM allsh a JOIN df USING (s) CROSS JOIN nd),
             |tot AS (SELECT doc_id, CAST(sum(wt) AS BIGINT) AS tw FROM wsh GROUP BY doc_id),
             |common AS (
             |  SELECT x.doc_id AS a, y.doc_id AS b, CAST(sum(x.wt) AS BIGINT) AS cw
             |  FROM wsh x JOIN wsh y ON x.s = y.s AND x.doc_id < y.doc_id
             |  GROUP BY 1, 2)
             |SELECT a, b, round(cw * 1.0 / (ta.tw + tb.tw - cw), 4) AS wjaccard
             |FROM common JOIN tot ta ON ta.doc_id = a JOIN tot tb ON tb.doc_id = b
             |WHERE cw * 1.0 / (ta.tw + tb.tw - cw) >= 0.10
             |ORDER BY a, b""".stripMargin)),

    // Bag-of-words canonical dedup — order-insensitive exact duplicate
    // detection: the fingerprint is md5 over the SORTED distinct word
    // set, so shuffled/reordered copies (which q40's exact-text hash
    // misses) collapse to one group. Same scale shape as q40: only
    // (fingerprint, id) crosses the shuffle; groups of size 1 are
    // filtered map-side-combined.
    Q("q232_bow_dedup",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .select($"doc_id",
            md5(concat_ws(" ", array_sort(array_distinct(split($"text", " ")))))
              .as("bow_fp"))
          .groupBy($"bow_fp")
          .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("keeper"),
            sort_array(collect_list($"doc_id")).as("members"))
          .filter($"n_docs" > 1)
          .select($"bow_fp", $"n_docs", $"keeper",
            concat_ws(",", $"members".cast("array<string>")).as("member_ids"))
          .orderBy($"bow_fp")
      },
      Some("""WITH fp AS (
             |  SELECT doc_id,
             |    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
             |      AS bow_fp
             |  FROM documents)
             |SELECT bow_fp, count(*) AS n_docs,
             |  CAST(min(doc_id) AS BIGINT) AS keeper,
             |  array_to_string(list_sort(list(doc_id)), ',') AS member_ids
             |FROM fp GROUP BY bow_fp HAVING count(*) > 1
             |ORDER BY bow_fp""".stripMargin)),

    // Newman modularity of the near-dup cluster partition — the
    // community-quality certificate for the q46 components. Every LSH
    // edge is intra-component by construction (components are the
    // transitive closure), so Σe_c = m and Q reduces to
    // 1 − Σ_c (d_c / 2m)², computed from exact integer degree sums with
    // ONE final double expression. At 100 TB this adds one groupBy over
    // the (bounded) pair list to the CC cost it reuses; nothing touches
    // the corpus again.
    Q("q221_modularity",
      (s, d) => {
        import s.implicits._
        val pairs = documentPairs(s, d).select($"a", $"b").cache()
        try {
          val comp = documentComponents(s, d)
            .withColumnRenamed("id", "node")
          val deg = pairs.select($"a".as("node"))
            .unionAll(pairs.select($"b".as("node")))
            .groupBy($"node").agg(count(lit(1)).as("deg"))
          val dc = deg.join(comp, "node")
            .groupBy($"component").agg(sum($"deg").as("d_c"))
          val m = pairs.count()
          dc.agg(count(lit(1)).as("n_communities"),
              sum($"d_c" * $"d_c").as("sum_d2"))
            .select(lit(m).as("m"), $"n_communities", $"sum_d2",
              round(lit(1.0d) - $"sum_d2" / (4.0d * m * m), 6).as("modularity"))
        } finally pairs.unpersist()
      },
      Some(s"""WITH RECURSIVE $minhashPairsSql,
             |sym AS (SELECT a AS src, b AS dst FROM pairs
             |        UNION ALL SELECT b, a FROM pairs),
             |reach(id, r) AS (
             |  SELECT DISTINCT src, src FROM sym
             |  UNION
             |  SELECT x.id, e.dst FROM reach x JOIN sym e ON e.src = x.r),
             |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
             |deg AS (SELECT src AS node, count(*) AS deg FROM sym GROUP BY 1),
             |dc AS (
             |  SELECT c.component, CAST(sum(g.deg) AS BIGINT) AS d_c
             |  FROM deg g JOIN comp c ON c.id = g.node GROUP BY 1),
             |m AS (SELECT count(*) AS m FROM pairs)
             |SELECT CAST(m.m AS BIGINT) AS m,
             |  count(*) AS n_communities,
             |  CAST(sum(d_c * d_c) AS BIGINT) AS sum_d2,
             |  round(1.0 - sum(d_c * d_c) / (4.0 * m.m * m.m), 6) AS modularity
             |FROM dc, m
             |GROUP BY m.m""".stripMargin)),

    // Near-duplicate cluster-size distribution — the first diagnostic a
    // dedup paper reports (and the sizing input for keeper election):
    // how many clusters of each size did LSH+CC find, and what fraction
    // of the corpus sits in them. Heavy-tailed cluster sizes are the
    // signature of template/boilerplate families; a single giant
    // component usually means the banding threshold is too loose.
    // Reads the memoized components table, so the whole query is two
    // tiny aggregates plus one broadcast scalar — the corpus-sized work
    // happened once in the shared retrieval stage. Singletons (docs in
    // no candidate pair) are restored as size-1 clusters so the
    // distribution partitions the full corpus.
    Q("q245_cluster_sizes",
      (s, d) => {
        import s.implicits._
        val comp = documentComponents(s, d)
        val dist = comp.groupBy($"component")
          .agg(count(lit(1)).as("cluster_size"))
          .groupBy($"cluster_size")
          .agg(count(lit(1)).as("n_clusters"),
            sum($"cluster_size").as("n_docs"))
        val tot = Tables.documents(s, d).agg(count(lit(1)).as("tt"))
        val inComp = comp.agg(count(lit(1)).as("ic"))
        val singles = tot.crossJoin(inComp)
          .select(lit(1L).as("cluster_size"),
            ($"tt" - $"ic").as("n_clusters"), ($"tt" - $"ic").as("n_docs"))
        dist.unionAll(singles)
          .groupBy($"cluster_size")
          .agg(sum($"n_clusters").as("n_clusters"), sum($"n_docs").as("n_docs"))
          .crossJoin(broadcast(tot))
          .select($"cluster_size", $"n_clusters", $"n_docs",
            round($"n_docs" / $"tt".cast("double"), 6).as("frac_docs"))
          .orderBy($"cluster_size")
      },
      Some(s"""WITH RECURSIVE $minhashPairsSql,
             |sym AS (SELECT a AS src, b AS dst FROM pairs
             |        UNION ALL SELECT b, a FROM pairs),
             |reach(id, r) AS (
             |  SELECT DISTINCT src, src FROM sym
             |  UNION
             |  SELECT x.id, e.dst FROM reach x JOIN sym e ON e.src = x.r),
             |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
             |dist AS (
             |  SELECT cluster_size, count(*) AS n_clusters,
             |    CAST(sum(cluster_size) AS BIGINT) AS n_docs
             |  FROM (SELECT count(*) AS cluster_size FROM comp GROUP BY component)
             |  GROUP BY 1),
             |tot AS (SELECT count(*) AS tt FROM documents),
             |ic AS (SELECT count(*) AS ic FROM comp),
             |uni AS (
             |  SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
             |    CAST(n_clusters AS BIGINT) AS n_clusters, n_docs FROM dist
             |  UNION ALL
             |  SELECT 1, tt - ic, tt - ic FROM tot, ic)
             |SELECT cluster_size,
             |  CAST(sum(n_clusters) AS BIGINT) AS n_clusters,
             |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
             |  round(CAST(sum(n_docs) AS BIGINT) / CAST(tt AS DOUBLE), 6)
             |    AS frac_docs
             |FROM uni, tot
             |GROUP BY cluster_size, tt
             |ORDER BY cluster_size""".stripMargin))
  )
}

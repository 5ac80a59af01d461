package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** Similarity search over the embedding column (SURVEY §2C).
  *
  * `ann_topk` is the exact brute-force baseline (the oracle); [[blockedTopK]]
  * is the scale path: IVF-style blocking on the coarse cluster id so each
  * probe scans one cluster instead of the corpus. At 100 TB the blocked
  * variant's probe-side join is a broadcast of the (tiny) query set against
  * a cluster-pruned scan.
  */
object Similarity {

  /** Number of query vectors (lowest vec_ids) and neighbors per query —
    * conf-driven (`spark.graft.ann.*`); the oracle SQL generators read the
    * same accessors so parity holds at any setting.
    */
  def NumQueries: Int = GraftConf.annQueries
  def TopK: Int = GraftConf.annTopK

  private def withDoubleEmb(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("label"),
      expr("transform(embedding, x -> cast(x as double))").as("emb"))

  /** `ann_topk`: exact top-k cosine neighbors for the first NumQueries
    * vectors (embeddings are unit-norm ⇒ cosine = dot).
    */
  def annTopK(spark: SparkSession, dir: String): DataFrame =
    annTopKAt(spark, dir, TopK)

  /** [[annTopK]] at an explicit cut — the RRF fusion reads the dense list
    * at its own depth through the identical ranking.
    */
  private def annTopKAt(spark: SparkSession, dir: String, k: Int): DataFrame =
    denseTopKOf(Tables.embeddings(spark, dir), k)

  private[graft] def denseTopKOf(embs: DataFrame, k: Int): DataFrame = {
    // label-free projection: planted spec frames carry only (vec_id,
    // embedding), and this ranking never reads the label column
    val e = embs.select(col("vec_id"),
      expr("transform(embedding, x -> cast(x as double))").as("emb"))
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
    val scored = broadcast(q).join(e, col("vec_id") =!= col("query_id"))
      .withColumn("cos",
        round(expr("graft_dot(qemb, emb)"), 4))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("neighbor_id"), col("cos"))
      .contractOrderBy("query_id", "rank")
  }

  def annTopKSql: String =
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qemb
       |  FROM embeddings WHERE vec_id < $NumQueries
       |), scored AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |    round(list_inner_product(q.qemb, CAST(e.embedding AS DOUBLE[])), 4) AS cos
       |  FROM q JOIN embeddings e ON e.vec_id <> q.query_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM scored
       |)
       |SELECT query_id, rank, neighbor_id, cos FROM ranked
       |WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  /** `retrieve_similar_docs`: the retrieval shape — ANN neighbors joined
    * back to the document store (vec_id aligns with doc_id), returning the
    * neighbor text preview alongside the score. At scale the doc-store join
    * is a key-shuffle against the (much larger) documents table with the
    * tiny neighbor set broadcast.
    */
  def retrieveSimilarDocs(spark: SparkSession, dir: String): DataFrame = {
    val hits = annTopK(spark, dir).filter(col("rank") <= 3)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), substring(col("text"), 1, 60).as("preview"), col("lang"))
    broadcast(hits).join(docs, hits("neighbor_id") === docs("doc_id"))
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"),
        col("lang"), col("preview"))
      .contractOrderBy("query_id", "rank")
  }

  def retrieveSimilarDocsSql: String =
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qemb
       |  FROM embeddings WHERE vec_id < $NumQueries
       |), scored AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |    round(list_inner_product(q.qemb, CAST(e.embedding AS DOUBLE[])), 4) AS cos
       |  FROM q JOIN embeddings e ON e.vec_id <> q.query_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM scored
       |)
       |SELECT query_id, rank, neighbor_id, cos, d.lang, substr(d.text, 1, 60) AS preview
       |FROM ranked JOIN documents d ON neighbor_id = d.doc_id
       |WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin

  /** `ann_topk_ivf` — the scale path: top-k restricted to the query's own
    * coarse cluster (IVF nprobe=1) — each probe scans 1/n_clusters of the
    * corpus instead of all of it. This is the variant the 100 TB ANN story
    * runs on; `ann_topk` (brute force) is its exact-recall baseline.
    */
  def blockedTopK(spark: SparkSession, dir: String, numQueries: Int = NumQueries,
      k: Int = TopK): DataFrame = {
    val e = withDoubleEmb(Tables.embeddings(spark, dir))
    val q = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"), col("emb").as("qemb"))
    val scored = broadcast(q).join(e,
        col("label") === col("qlabel") && col("vec_id") =!= col("query_id"))
      .withColumn("cos",
        round(expr("graft_dot(qemb, emb)"), 4))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("neighbor_id"), col("cos"))
      .contractOrderBy("query_id", "rank")
  }

  /** Contract wrapper for [[blockedTopK]] (driver needs the 2-arg shape). */
  def annTopKIvf(spark: SparkSession, dir: String): DataFrame =
    blockedTopK(spark, dir)

  def annTopKIvfSql: String =
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, label AS qlabel, CAST(embedding AS DOUBLE[]) AS qemb
       |  FROM embeddings WHERE vec_id < $NumQueries
       |), scored AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |    round(list_inner_product(q.qemb, CAST(e.embedding AS DOUBLE[])), 4) AS cos
       |  FROM q JOIN embeddings e ON e.label = q.qlabel AND e.vec_id <> q.query_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM scored
       |)
       |SELECT query_id, rank, neighbor_id, cos FROM ranked
       |WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  /** `ann_recall_report`: per-query recall of the IVF path against the
    * brute-force ground truth — AS A QUERY, not a notebook ritual. Every
    * approximate index deployed at 100 TB needs its recall measured on a
    * query sample before anyone trusts it (the faiss discipline), and here
    * the measurement is the same engine, same rounding, same tie-breaks as
    * the production paths it compares: `n_hits` = |IVF top-k ∩ exact
    * top-k|, `recall_bp` = basis points of the exact list recovered —
    * integer division, so no float ever decides a reported value.
    *
    * Scale: both rankings are the existing paths (broadcast queries, the
    * IVF side scanning only its cells); the intersection joins two
    * queries×k row sets — trivially broadcast. The report is O(queries).
    */
  def annRecallReport(spark: SparkSession, dir: String): DataFrame = {
    val brute = annTopK(spark, dir).select(col("query_id"), col("neighbor_id"))
    val ivf = annTopKIvf(spark, dir)
      .select(col("query_id").as("qi"), col("neighbor_id").as("ni"))
    val exact = brute.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"))
    val hits = brute.join(ivf,
        col("query_id") === col("qi") && col("neighbor_id") === col("ni"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_hits"))
    exact.join(hits, Seq("query_id"), "left_outer")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("recall_bp", expr("n_hits * 10000 div n_exact"))
      .select("query_id", "n_exact", "n_hits", "recall_bp")
      .contractOrderBy("query_id")
  }

  def annRecallReportSql: String =
    s"""WITH brute AS (
       |  SELECT query_id, neighbor_id FROM (
       |$annTopKSql
       |  ) b
       |), ivf AS (
       |  SELECT query_id, neighbor_id FROM (
       |$annTopKIvfSql
       |  ) v
       |), exact AS (
       |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact
       |  FROM brute GROUP BY query_id
       |), hits AS (
       |  SELECT b.query_id, CAST(count(*) AS BIGINT) AS n_hits
       |  FROM brute b JOIN ivf v
       |    ON b.query_id = v.query_id AND b.neighbor_id = v.neighbor_id
       |  GROUP BY b.query_id
       |)
       |SELECT e.query_id, e.n_exact,
       |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       |  CAST(coalesce(h.n_hits, 0) * 10000 // e.n_exact AS BIGINT) AS recall_bp
       |FROM exact e LEFT JOIN hits h ON e.query_id = h.query_id
       |ORDER BY e.query_id""".stripMargin

  /** IVF probe width for the trained-quantizer path
    * (`spark.graft.ann.nprobe`).
    */
  def NProbe: Int = GraftConf.annNProbe

  /** The end-to-end IVF stack: [[Clustering.trainedCentroids]] (trained
    * in-engine, exact integer grid) acts as the coarse quantizer — every
    * corpus vector is assigned to its argmin centroid cell, each query
    * probes its `nprobe` nearest cells, and exact cosine runs only inside
    * the probed cells. nprobe ≥ 2 recovers neighbors that sit just across a
    * cell boundary — the classic IVF recall lever.
    *
    * Scale shape: the quantizer is K rows (broadcast); cell assignment is
    * one corpus scan (argmin over K, codegen'd graft_l2sq); each probe
    * touches nprobe/K of the corpus. The (query × probed-cell) set stays
    * tiny and is broadcast — the corpus never shuffles.
    */
  def trainedIvfTopK(spark: SparkSession, dir: String, nprobe: Int = NProbe): DataFrame = {
    val e = withDoubleEmb(Tables.embeddings(spark, dir))
    // the quantizer is K rows but costs Lloyd rounds over the corpus to
    // build — pin it so the plan's two consumers (cell assignment, query
    // probe) don't each retrain it
    val cents = Intermediates.persist(Clustering.trainedCentroids(spark, dir))
    val dAll = Clustering.scaledEmb(spark, dir)
      .crossJoin(broadcast(cents))
      .withColumn("d2", expr("graft_l2sq(se, cemb)"))
    val assigned = dAll.groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cluster"))
    val wq = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("cid"))
    val probe = dAll.filter(col("vec_id") < NumQueries)
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nprobe)
      .select(col("vec_id").as("query_id"), col("cid").as("pcell"))
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"))
    val qcells = probe.join(q, col("query_id") === col("qid"))
      .select("query_id", "pcell", "qemb")
    // cells are disjoint (argmin assignment), so probing 2 cells can never
    // produce a duplicate candidate
    val scored = broadcast(qcells)
      .join(e.join(assigned, "vec_id"),
        col("cluster") === col("pcell") && col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(expr("graft_dot(qemb, emb)"), 4))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("neighbor_id"), col("cos"))
      .contractOrderBy("query_id", "rank")
  }

  /** `ann_topk_ivf2`: contract wrapper for [[trainedIvfTopK]] at nprobe=2. */
  def annTopKIvf2(spark: SparkSession, dir: String): DataFrame =
    trainedIvfTopK(spark, dir)

  def annTopKIvf2Sql: String =
    s"""WITH ${Clustering.kmeansCtesSql},
       |assign_final AS (
       |  SELECT vec_id, cid AS cluster FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |    FROM d2t) WHERE rn = 1
       |), probe AS (
       |  SELECT vec_id AS query_id, cid AS pcell FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |    FROM d2t WHERE vec_id < $NumQueries) WHERE rn <= $NProbe
       |), qv AS (
       |  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qemb
       |  FROM embeddings WHERE vec_id < $NumQueries
       |), scored AS (
       |  SELECT p.query_id, e.vec_id AS neighbor_id,
       |    round(list_inner_product(q.qemb, CAST(e.embedding AS DOUBLE[])), 4) AS cos
       |  FROM probe p
       |  JOIN qv q ON p.query_id = q.qid
       |  JOIN assign_final ON assign_final.cluster = p.pcell
       |  JOIN embeddings e ON e.vec_id = assign_final.vec_id AND e.vec_id <> p.query_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM scored
       |)
       |SELECT query_id, rank, neighbor_id, cos FROM ranked
       |WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  /** Quantization levels for [[annTopKQ8]] (`spark.graft.ann.quantLevels`). */
  def QuantLevels: Int = GraftConf.annQuantLevels

  /** `ann_topk_q8`: top-k cosine over INT8-QUANTIZED embeddings — the
    * ANN memory lever at 100 TB. A 64-dim float64 vector is 512 B/row; at
    * corpus scale the vector table dominates probe-side IO. Scale-per-vector
    * quantization stores 1 byte per component plus one float scale
    * (~8× less probe-side IO): `s = max|x| / QuantLevels`,
    * `q_i = floor(x_i/s + 0.5)` (clipped into a signed byte by
    * construction), and `cos ≈ s_a·s_b·Σ q_a·q_b` — the integer dot is
    * EXACT in double (|q| ≤ 127, 64 terms), so the only loss is the
    * per-component rounding, which the recall spec bounds against the
    * float path on the planted neighbors.
    *
    * Determinism: `floor(x/s + 0.5)` (never `round(double)` — the two
    * engines disagree on decimal-string-vs-binary .5 ties), zero-vector
    * scale coalesced to 1.0, and the final score composes left-associated
    * `(s_a · s_b) · dot` in both engines.
    *
    * The quantized column materializes as `array<tinyint>` (1 byte per
    * element in Tungsten) — the layout a persisted quantized index would
    * carry — and is widened back to double only inside the codegen'd dot.
    */
  def annTopKQ8(spark: SparkSession, dir: String): DataFrame = {
    val levels = QuantLevels
    val qt = Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("emb"))
      .withColumn("mx", expr("array_max(transform(emb, x -> abs(x)))"))
      .withColumn("s", when(col("mx") === 0.0, lit(1.0))
        .otherwise(col("mx") / lit(levels).cast("double")))
      .withColumn("q8", expr("transform(emb, x -> cast(floor(x / s + 0.5d) as tinyint))"))
      .select(col("vec_id"), col("s"), col("q8"),
        expr("transform(q8, v -> cast(v as double))").as("qd"))
    val q = qt.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("s").as("qs"), col("qd").as("qqd"))
    val scored = broadcast(q).join(qt, col("vec_id") =!= col("query_id"))
      .withColumn("cos_q8",
        round(col("qs") * col("s") * expr("graft_dot(qqd, qd)"), 4))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos_q8").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("neighbor_id"), col("cos_q8"))
      .contractOrderBy("query_id", "rank")
  }

  def annTopKQ8Sql: String =
    s"""WITH base AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
       |    list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS mx
       |  FROM embeddings
       |), qt AS (
       |  SELECT vec_id, s, list_transform(emb, x -> floor(x / s + 0.5)) AS qd
       |  FROM (SELECT vec_id, emb,
       |        CASE WHEN mx = 0 THEN CAST(1.0 AS DOUBLE) ELSE mx / CAST($QuantLevels AS DOUBLE) END AS s
       |        FROM base)
       |), q AS (
       |  SELECT vec_id AS query_id, s AS qs, qd AS qqd FROM qt WHERE vec_id < $NumQueries
       |), scored AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |    round(q.qs * e.s * list_inner_product(q.qqd, e.qd), 4) AS cos_q8
       |  FROM q JOIN qt e ON e.vec_id <> q.query_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id, cos_q8,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_q8 DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM scored
       |)
       |SELECT query_id, rank, neighbor_id, cos_q8 FROM ranked
       |WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  // ---- ann_topk_bq --------------------------------------------------------

  /** Hamming candidate pool per query (`spark.graft.ann.bqRerank`). */
  def BqRerank: Int = GraftConf.annBqRerank

  /** `ann_topk_bq`: BINARY quantization + Hamming pre-rank + exact
    * re-rank — the cheapest rung of the quantization ladder (sign bit per
    * dimension: 64-dim float32 = 256 B → 8 B of bits, a 32× cut below
    * even `ann_topk_q8`'s 8×; the faiss `IndexBinaryFlat` / modern
    * vector-DB "binary quantization" pre-filter shape). Candidates are
    * the [[BqRerank]] Hamming-nearest sign patterns per query; only those
    * raw vectors are touched for the exact cosine re-rank — at 100 TB the
    * Hamming scan reads the bit table (xor + popcount, the cheapest
    * possible distance) and the re-rank reads queries × BqRerank rows.
    *
    * Determinism: the sign bit is `x > 0` on the stored float bits
    * (bit-identical in both engines; 0 → 0), Hamming is an exact integer,
    * both the candidate cut (hamming asc, vec_id) and the final rank
    * (4-dp cos desc, vec_id) order on values the engines hash-agree on.
    *
    * Two independent formulations (the `events_session_window`
    * discipline): the engine packs bits 32-per-BIGINT and counts
    * `bit_count(xor)` over the packed words — the real storage layout —
    * while the oracle computes `Σa + Σb − 2·a·b` over the 0/1 vectors;
    * the spec asserts the packed and arithmetic forms agree in-engine.
    */
  def annTopKBq(spark: SparkSession, dir: String): DataFrame =
    annTopKBqOf(Tables.embeddings(spark, dir))

  private[graft] def annTopKBqOf(embs: DataFrame): DataFrame = {
    val bt = Intermediates.persist(embs
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("emb"))
      .withColumn("sbits", expr(
        "transform(emb, x -> CASE WHEN x > 0D THEN 1L ELSE 0L END)"))
      .withColumn("words", expr(
        "transform(sequence(0, (size(sbits) + 31) div 32 - 1), " +
          "w -> aggregate(slice(sbits, w * 32 + 1, 32), 0L, (acc, b) -> acc * 2L + b))"))
      .select(col("vec_id"), col("emb"), col("words")))
    val q = bt.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"), col("words").as("qw"))
    val ham = broadcast(q).join(bt, col("vec_id") =!= col("query_id"))
      .withColumn("hamming", expr(
        "aggregate(zip_with(qw, words, (x, y) -> cast(bit_count(x ^ y) as bigint)), 0L, (a, b) -> a + b)"))
    val cw = Window.partitionBy(col("query_id")).orderBy(col("hamming"), col("vec_id"))
    val cand = ham.withColumn("crank", row_number().over(cw))
      .filter(col("crank") <= BqRerank)
      .withColumn("cos", round(expr("graft_dot(qemb, emb)"), 4))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("neighbor_id"), col("hamming"), col("cos"))
      .contractOrderBy("query_id", "rank")
  }

  def annTopKBqSql: String =
    s"""WITH be AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> CASE WHEN x > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END) AS bits
       |  FROM embeddings
       |), bq AS (
       |  SELECT vec_id AS query_id, emb AS qemb, bits AS qbits FROM be
       |  WHERE vec_id < $NumQueries
       |), bham AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id, q.qemb, e.emb,
       |    CAST(list_sum(q.qbits) + list_sum(e.bits)
       |      - 2 * list_inner_product(q.qbits, e.bits) AS BIGINT) AS hamming
       |  FROM bq q JOIN be e ON e.vec_id <> q.query_id
       |), bcand AS (
       |  SELECT query_id, neighbor_id, hamming,
       |    round(list_inner_product(qemb, emb), 4) AS cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS crank
       |  FROM bham
       |), branked AS (
       |  SELECT query_id, neighbor_id, hamming, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM bcand WHERE crank <= $BqRerank
       |)
       |SELECT query_id, rank, neighbor_id, hamming, cos FROM branked
       |WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  // ---- ann_topk_pq --------------------------------------------------------

  /** ADC candidate pool size (`spark.graft.ann.pqRerank`). */
  def PqRerank: Int = GraftConf.annPqRerank

  /** `ann_topk_pq`: product quantization with asymmetric distance
    * computation + exact re-rank — the canonical 100 TB ANN index
    * (IVFADC, Jégou et al. 2011). Each vector's index entry is
    * [[Clustering.PqSubs]] small codes (8 bytes at defaults vs 256 bytes
    * of raw float — a ~32× index-IO cut, the step past `ann_topk_q8`'s
    * 8×); scoring never touches raw vectors until the final re-rank of
    * [[PqRerank]] candidates per query.
    *
    * Determinism: codebooks train on the exact integer grid
    * ([[Clustering.pqCodebooksOf]] — same Lloyd discipline as
    * `kmeans_train`); PQ codes are integer-distance argmins (ties to
    * lower cid); ADC tables and scores are EXACT BIGINTs (products ≤
    * (1e6)²·dims < 2⁵³, so even the double-valued dot is exact);
    * candidate and final ranks order by (exact integer score, vec_id).
    * The one display float, `cos_pq = round(dot / Scale², 4)`, is a
    * single identical IEEE division+round in both engines.
    *
    * Scale shape: codebooks and per-query distance tables are tiny
    * broadcasts; code assignment is one corpus scan (map-side
    * slice + codegen'd `graft_l2sq` argmin, partial-agg collapsed to
    * corpus×M rows before its one index-build shuffle); ADC is a
    * map-side array-lookup sum over the CODES table only (corpus×queries
    * rows, no shuffle before the per-query top-R window); the exact
    * re-rank touches queries×[[PqRerank]] raw vectors.
    */
  def annTopKPq(spark: SparkSession, dir: String): DataFrame = {
    // bench-session amortization of the codebook TRAIN (the
    // ann_topk_ivfpq_r discipline): the raw train store is SHARED with
    // ann_topk_ivfpq — same centroids+codebooks artifact, built once
    val path = ArtifactCatalog.storedDirRoot(spark, "graft-ivfpq-train", dir)(p =>
      AnnIndex.writeIvfPqTrain(spark, dir, p))
    val (_, cb) = AnnIndex.readIvfPqTrain(spark, path)
    annTopKPqCore(Clustering.scaledEmb(spark, dir), cb)
  }

  private[graft] def annTopKPqOf(scaled: DataFrame): DataFrame =
    annTopKPqCore(scaled, Intermediates.persist(
      Clustering.pqCodebookArrays(Clustering.pqCodebooksOf(scaled))))

  private def annTopKPqCore(scaled: DataFrame, cb: DataFrame): DataFrame = {
    val idx = pqIndexWith(scaled, cb)
    // full-corpus ADC: every (query, code-row) pair is scored — the
    // baseline the IVF-restricted variant's recall is judged against
    val pairs = idx.codesArr.crossJoin(broadcast(idx.dq))
      .filter(col("vec_id") =!= col("query_id"))
    pqAdcRerank(pairs, scaled, "cos_pq")
  }

  /** The PQ index pair: per-vector code arrays + per-query flat ADC
    * distance tables — the plumbing [[annTopKPqOf]] (full-corpus ADC) and
    * [[annTopKIvfPqOf]] (cell-restricted ADC) share, so the two variants
    * can never drift on codes or tables.
    */
  private final case class PqIndex(codesArr: DataFrame, dq: DataFrame)

  private def pqIndexWith(scaled: DataFrame, cb: DataFrame): PqIndex = {
    val sarr = pqSubArrays(scaled)
    PqIndex(pqCodesArr(sarr, cb), pqQueryDt(sarr, cb))
  }

  /** Corpus cut into per-subspace subvector arrays map-side: slice, no
    * explode-regroup. (vec_id, sub, sarr).
    */
  private[operators] def pqSubArrays(scaled: DataFrame): DataFrame = {
    val m = Clustering.PqSubs
    val subdimE = s"greatest(size(se) div $m, 1)"
    scaled.select(col("vec_id"), col("se"), posexplode(expr(
        s"""transform(sequence(0, ${m - 1}), mm ->
           | CASE WHEN mm = ${m - 1}
           |   THEN slice(se, mm * $subdimE + 1, size(se) - mm * $subdimE)
           |   ELSE slice(se, mm * $subdimE + 1, $subdimE) END)"""
          .stripMargin.replace("\n", "")))
        .as(Seq("sub", "sarr")))
      .select(col("vec_id"), col("sub"), col("sarr"))
  }

  /** PQ codes: integer-L2 argmin per (vector, subspace), regrouped to one
    * sub-ordered code array per vector; dense cidx rides the argmin struct
    * (cid↔cidx are monotone per sub, ties unchanged). (vec_id, codes).
    */
  private[operators] def pqCodesArr(sarr: DataFrame, cb: DataFrame): DataFrame =
    sarr.join(broadcast(cb), "sub")
      .withColumn("d2", expr("graft_l2sq(sarr, cemb)"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(struct(col("d2"), col("cid"), col("cidx"))).as("mn"))
      .select(col("vec_id"), col("sub"), col("mn.cidx").as("code"))
      .groupBy(col("vec_id"))
      .agg(expr("transform(sort_array(collect_list(struct(sub, code))), x -> x.code)")
        .as("codes"))

  /** Per-query ADC tables: exact integer dot of each query subvector with
    * each centroid, flattened to ONE array ordered by (sub, cidx).
    * (query_id, dt).
    */
  private[operators] def pqQueryDt(sarr: DataFrame, cb: DataFrame): DataFrame =
    sarr.filter(col("vec_id") < NumQueries)
      .join(broadcast(cb), "sub")
      .withColumn("dot", expr(
        """cast(graft_dot(transform(sarr, x -> cast(x as double)),
          | transform(cemb, x -> cast(x as double))) as bigint)"""
          .stripMargin.replace("\n", "")))
      .groupBy(col("vec_id").as("query_id"))
      .agg(expr("transform(sort_array(collect_list(struct(sub, cidx, dot))), x -> x.dot)")
        .as("dt"))

  /** ADC scoring + candidate cut + exact re-rank over any
    * (query_id, vec_id, codes, dt) pair set: array-lookup ADC sum, top
    * [[PqRerank]] per query by (adc, vec_id), exact integer-dot re-rank of
    * the survivors. The tail is shared so the full-corpus and
    * IVF-restricted variants differ ONLY in which pairs reach ADC.
    */
  private[operators] def pqAdcRerank(pairs: DataFrame, scaled: DataFrame,
      scoreName: String, adcOffset: Column = lit(0L),
      topK: Int = TopK): DataFrame = {
    val m = Clustering.PqSubs
    // ADC score: per-row array-lookup sum — dt[sub * K + code]; K recovered
    // as size(dt)/M so a sample smaller than pqK still indexes correctly.
    // adcOffset: the residual variant adds the per-(query, cell) exact
    // centroid dot (q·x ≈ q·c_cell + q·decoded-residual).
    val scored = pairs.withColumn("adc", adcOffset + expr(
        s"""aggregate(sequence(0, $m - 1), 0L, (acc, mm) ->
           | acc + element_at(dt, cast(mm * (size(dt) div $m) + element_at(codes, mm + 1) + 1 as int)))"""
          .stripMargin.replace("\n", "")))
    val wc = Window.partitionBy(col("query_id")).orderBy(col("adc").desc, col("vec_id"))
    val cand = scored.withColumn("crn", row_number().over(wc))
      .filter(col("crn") <= PqRerank)
      .select(col("query_id"), col("vec_id"))
    // exact re-rank of the ADC pool: integer dot on the scaled grid
    val qfull = scaled.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("se").as("qse"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("dot").desc, col("vec_id"))
    cand.join(scaled, "vec_id")
      .join(broadcast(qfull), "query_id")
      .withColumn("dot", expr(
        """cast(graft_dot(transform(qse, x -> cast(x as double)),
          | transform(se, x -> cast(x as double))) as bigint)"""
          .stripMargin.replace("\n", "")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("dot").cast("double") /
          lit(Clustering.Scale.toDouble * Clustering.Scale), 4).as(scoreName))
      .contractOrderBy("query_id", "rank")
  }

  /** `ann_topk_ivfpq`: the full IVFADC composition (Jégou et al. 2011,
    * §IV) — the coarse IVF quantizer restricts which code rows reach ADC
    * at all, completing the ladder past `ann_topk_pq` (which ADC-scans
    * EVERY code row per query). A query's candidates are the members of
    * its [[NProbe]] nearest trained cells, so ADC row count is
    * ≈ queries × corpus × nprobe / K instead of queries × corpus — the
    * index-probe cost cut that makes PQ viable at 100 TB (the ~32×
    * smaller code entries AND a ~K/nprobe smaller probe set multiply).
    *
    * Variant note: codes encode the RAW vector, not the cell residual
    * (faiss `IndexIVFPQ(by_residual=false)`) — raw-vector codes keep the
    * code table cell-independent (one codebook set, reusable by the
    * no-IVF `ann_topk_pq` twin and rebuildable without re-assigning
    * cells) at a small recall cost the spec measures against the
    * full-scan PQ baseline.
    *
    * Determinism: same exact-integer contracts as both parents — cell
    * argmin/probe ties to lower cid over BIGINT distances, ADC sums exact
    * BIGINTs, both rank windows tie on vec_id.
    *
    * Scale shape: the cell equi-join (`pcell = cell`) runs BEFORE any ADC
    * work — IvfPqSpec pins the candidate count to the probed-cell sizes
    * and the plan to a broadcast equi-join (never a corpus×queries
    * cross). Quantizer + codebooks are tiny broadcast tables; assignment
    * is one corpus scan; ADC is a map-side lookup-sum over the candidate
    * rows; the exact re-rank touches queries × [[PqRerank]] raw vectors.
    */
  def annTopKIvfPq(spark: SparkSession, dir: String): DataFrame = {
    // bench-session amortization of the TRAIN half through the SHARED
    // raw train store (see annTopKPq); the query half — assignment,
    // probes, encode, cell equi-join, ADC, exact re-rank — re-runs
    val path = ArtifactCatalog.storedDirRoot(spark, "graft-ivfpq-train", dir)(p =>
      AnnIndex.writeIvfPqTrain(spark, dir, p))
    val (cents, cb) = AnnIndex.readIvfPqTrain(spark, path)
    annTopKIvfPqCore(Clustering.scaledEmb(spark, dir), cents, cb)
  }

  private[graft] def annTopKIvfPqOf(scaled: DataFrame): DataFrame =
    annTopKIvfPqCore(scaled,
      Intermediates.persist(Clustering.trainedCentroidsOf(scaled)),
      Intermediates.persist(
        Clustering.pqCodebookArrays(Clustering.pqCodebooksOf(scaled))))

  /** The query half under GIVEN trained artifacts — one body for the
    * in-memory and stored-train forms so their arithmetic cannot drift.
    */
  private def annTopKIvfPqCore(scaled: DataFrame, cents: DataFrame,
      cb: DataFrame): DataFrame = {
    // coarse quantizer + cell assignment + query probes — the same
    // trained-IVF discipline as ann_topk_ivf2
    val dAll = scaled.crossJoin(broadcast(cents))
      .withColumn("d2", expr("graft_l2sq(se, cemb)"))
    val assigned = dAll.groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cell"))
    val wq = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("cid"))
    val probe = dAll.filter(col("vec_id") < NumQueries)
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= NProbe)
      .select(col("vec_id").as("query_id"), col("cid").as("pcell"))
    val idx = pqIndexWith(scaled, cb)
    // the cell equi-join comes FIRST: only probed-cell members reach ADC
    val cand = broadcast(probe).join(assigned, col("pcell") === col("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
    pqAdcRerank(
      cand.join(idx.codesArr, "vec_id").join(broadcast(idx.dq), "query_id"),
      scaled, "cos_ivfpq")
  }

  def annTopKIvfPqSql: String =
    s"""WITH $ivfPqChainCtes
       |SELECT query_id, rank, neighbor_id, cos_ivfpq FROM (
       |  SELECT query_id, vec_id AS neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, vec_id) AS BIGINT) AS rank,
       |    round(CAST(dot AS DOUBLE) / ${Clustering.Scale.toDouble * Clustering.Scale}, 4) AS cos_ivfpq
       |  FROM pqrr)
       |WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  /** The full IVFADC CTE chain through the exact re-rank (`pqrr`:
    * query_id, vec_id, exact integer dot) — shared verbatim by
    * `ann_topk_ivfpq` and the stored-index MMR oracle, so the candidate
    * generators can never drift.
    */
  private[graft] def ivfPqChainCtes: String =
    s"""${Clustering.kmeansCtesSql},
       |${Clustering.pqCtesSql},
       |ivfassign AS (
       |  SELECT vec_id, cid AS cluster FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |    FROM d2t) WHERE rn = 1
       |), ivfprobe AS (
       |  SELECT vec_id AS query_id, cid AS pcell FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |    FROM d2t WHERE vec_id < $NumQueries) WHERE rn <= $NProbe
       |), pqcodes AS (
       |  SELECT vec_id, sub, cid AS code FROM (
       |    SELECT vec_id, sub, cid,
       |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
       |    FROM (
       |      SELECT vec_id, sub, cid, CAST(sum((v - cv) * (v - cv)) AS BIGINT) AS d2
       |      FROM pqsv JOIN pqcb USING (sub, spos) GROUP BY vec_id, sub, cid))
       |  WHERE rn = 1
       |), pqdt AS (
       |  SELECT q.vec_id AS query_id, c.sub, c.cid, CAST(sum(q.v * c.cv) AS BIGINT) AS dot
       |  FROM pqsv q JOIN pqcb c USING (sub, spos)
       |  WHERE q.vec_id < $NumQueries
       |  GROUP BY q.vec_id, c.sub, c.cid
       |), ivfcand AS (
       |  SELECT p.query_id, a.vec_id
       |  FROM ivfprobe p JOIN ivfassign a ON a.cluster = p.pcell
       |  WHERE a.vec_id <> p.query_id
       |), pqadc AS (
       |  SELECT c.query_id, c.vec_id, CAST(sum(t.dot) AS BIGINT) AS adc
       |  FROM ivfcand c
       |  JOIN pqcodes k ON k.vec_id = c.vec_id
       |  JOIN pqdt t ON t.query_id = c.query_id AND t.sub = k.sub AND t.cid = k.code
       |  GROUP BY c.query_id, c.vec_id
       |), pqcand AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, vec_id) AS crn
       |    FROM pqadc) WHERE crn <= $PqRerank
       |), pqrr AS (
       |  SELECT c.query_id, c.vec_id, CAST(sum(qv.v * e.v) AS BIGINT) AS dot
       |  FROM pqcand c
       |  JOIN pqsv e ON c.vec_id = e.vec_id
       |  JOIN pqsv qv ON qv.vec_id = c.query_id AND qv.sub = e.sub AND qv.spos = e.spos
       |  GROUP BY c.query_id, c.vec_id
       |)""".stripMargin

  def annTopKPqSql: String =
    s"""WITH ${Clustering.pqCtesSql},
       |pqcodes AS (
       |  SELECT vec_id, sub, cid AS code FROM (
       |    SELECT vec_id, sub, cid,
       |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
       |    FROM (
       |      SELECT vec_id, sub, cid, CAST(sum((v - cv) * (v - cv)) AS BIGINT) AS d2
       |      FROM pqsv JOIN pqcb USING (sub, spos) GROUP BY vec_id, sub, cid))
       |  WHERE rn = 1
       |), pqdt AS (
       |  SELECT q.vec_id AS query_id, c.sub, c.cid, CAST(sum(q.v * c.cv) AS BIGINT) AS dot
       |  FROM pqsv q JOIN pqcb c USING (sub, spos)
       |  WHERE q.vec_id < $NumQueries
       |  GROUP BY q.vec_id, c.sub, c.cid
       |), pqadc AS (
       |  SELECT t.query_id, k.vec_id, CAST(sum(t.dot) AS BIGINT) AS adc
       |  FROM pqcodes k JOIN pqdt t ON k.sub = t.sub AND k.code = t.cid
       |  WHERE k.vec_id <> t.query_id
       |  GROUP BY t.query_id, k.vec_id
       |), pqcand AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, vec_id) AS crn
       |    FROM pqadc) WHERE crn <= $PqRerank
       |), pqrr AS (
       |  SELECT c.query_id, c.vec_id, CAST(sum(qv.v * e.v) AS BIGINT) AS dot
       |  FROM pqcand c
       |  JOIN pqsv e ON c.vec_id = e.vec_id
       |  JOIN pqsv qv ON qv.vec_id = c.query_id AND qv.sub = e.sub AND qv.spos = e.spos
       |  GROUP BY c.query_id, c.vec_id
       |)
       |SELECT query_id, rank, neighbor_id, cos_pq FROM (
       |  SELECT query_id, vec_id AS neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, vec_id) AS BIGINT) AS rank,
       |    round(CAST(dot AS DOUBLE) / ${Clustering.Scale.toDouble * Clustering.Scale}, 4) AS cos_pq
       |  FROM pqrr)
       |WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  // ---- ann_topk_ivfpq_r (residual encoding) -------------------------------

  /** `ann_topk_ivfpq_r`: IVFADC with RESIDUAL encoding — faiss
    * `IndexIVFPQ`'s default (`by_residual=true`) and Jégou et al. §IV's
    * canonical form. PQ codebooks train on `x − c_cell(x)` (each vector's
    * offset from its coarse centroid) instead of raw vectors: residuals
    * concentrate near the origin so the same codebook budget quantizes
    * them with less error — the recall-per-byte step past
    * `ann_topk_ivfpq`'s cell-independent codes.
    *
    * Dot-product ADC with residuals decomposes exactly:
    * `q·x = q·c_cell + q·r_x ≈ q·c_cell + Σ_sub dt[code]` where the
    * distance tables hold the FULL query subvectors dotted with the
    * residual codebook entries and the per-(query, probed-cell) constant
    * `q·c` joins in as the ADC offset. Everything stays on the exact
    * integer grid (residuals are differences of grid points; products
    * < 2⁵³), so candidate selection can't float-flip; the exact re-rank
    * on raw vectors is unchanged.
    *
    * Scale shape: identical to `ann_topk_ivfpq` (cell equi-join before
    * ADC, tiny broadcast tables) plus one broadcast K-row join for the
    * residual computation and a queries×nprobe offset table.
    */
  def annTopKIvfPqR(spark: SparkSession, dir: String): DataFrame = {
    // bench-session amortization of the TRAIN half (coarse centroids +
    // residual codebooks) through the directory-store cache — the same
    // discipline as the three r16 retrieval stores, applied to the last
    // retrieval row that still trained in-query. With the cache off (the
    // default Verify posture) → tmp-root unconditional build; the verify
    // finals' cache-on pass reads the store back. Answers are bit-equal
    // either way (trained tables round-trip exactly; parity spec-asserted
    // and oracle-checked in both postures).
    val path = ArtifactCatalog.storedDirRoot(spark, "graft-ivfpqr-train", dir)(p =>
      AnnIndex.writeIvfPqRTrain(spark, dir, p))
    // NOT Intermediates.persist'd: the stored-table query paths broadcast
    // the parquet reads directly (ivfPqTopKFrom's shape) — caching a
    // parquet-backed relation trips Kryo task serialization under the
    // bare-JVM bench classpath, and the tables are K-row tiny anyway
    val (cents, cb) = AnnIndex.readIvfPqRTrain(spark, path)
    annTopKIvfPqRCore(Clustering.scaledEmb(spark, dir), cents, cb)
  }

  private[graft] def annTopKIvfPqROf(scaled: DataFrame): DataFrame = {
    // in-memory train form (specs compare it against the stored paths).
    // The corpus cell assignment — the most expensive step of this path —
    // is computed ONCE, persisted, reused for residual codebook training
    // AND passed into the core (which would otherwise re-derive it).
    val cents = Intermediates.persist(Clustering.trainedCentroidsOf(scaled))
    val assigned0 = Intermediates.persist(
      scaled.crossJoin(broadcast(cents))
        .withColumn("d2", expr("graft_l2sq(se, cemb)"))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("d2"), col("cid"))).as("m"))
        .select(col("vec_id"), col("m.cid").as("cell")))
    val resid0 = scaled.join(assigned0, "vec_id")
      .join(broadcast(cents.select(col("cid").as("cell"), col("cemb").as("ccemb"))), "cell")
      .select(col("vec_id"), expr("zip_with(se, ccemb, (a, b) -> a - b)").as("se"))
    val cb = Intermediates.persist(
      Clustering.pqCodebookArrays(Clustering.pqCodebooksOf(resid0)))
    annTopKIvfPqRCore(scaled, cents, cb, Some(assigned0))
  }

  /** The query half under GIVEN trained artifacts — assignment, probes,
    * residual encode, ADC with the per-(query, cell) centroid offset,
    * exact re-rank. One body for the in-memory and stored-train forms so
    * the arithmetic can never drift between them.
    */
  private def annTopKIvfPqRCore(scaled: DataFrame, cents: DataFrame,
      cb: DataFrame, assignedPre: Option[DataFrame] = None): DataFrame = {
    val dAll = scaled.crossJoin(broadcast(cents))
      .withColumn("d2", expr("graft_l2sq(se, cemb)"))
    // callers that already computed the corpus cell assignment (the
    // in-memory train form needs it for residual training) pass it in
    // rather than paying the scaled×centroids argmin a second time.
    // When the core derives it itself, it persists it (r19): the
    // assignment feeds BOTH the residual encode and the probe cell join —
    // unpersisted, the corpus×K argmin crossJoin executed twice per query
    val assigned = assignedPre.getOrElse(Intermediates.persist(
      dAll.groupBy(col("vec_id"))
        .agg(min(struct(col("d2"), col("cid"))).as("m"))
        .select(col("vec_id"), col("m.cid").as("cell"))))
    val wq = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("cid"))
    val probe = dAll.filter(col("vec_id") < NumQueries)
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= NProbe)
      .select(col("vec_id").as("query_id"), col("cid").as("pcell"))
    // residuals vs each vector's OWN cell centroid — exact grid differences
    val resid = scaled.join(assigned, "vec_id")
      .join(broadcast(cents.select(col("cid").as("cell"), col("cemb").as("ccemb"))), "cell")
      .select(col("vec_id"), expr("zip_with(se, ccemb, (a, b) -> a - b)").as("se"))
    val codesArr = pqCodesArr(pqSubArrays(resid), cb)
    // dt: FULL query subvectors vs residual codebooks (q·r̂ decomposition)
    val dq = pqQueryDt(pqSubArrays(scaled.filter(col("vec_id") < NumQueries)), cb)
    // per-(query, probed cell) exact centroid dot — the ADC offset
    val qcell = probe
      .join(scaled.select(col("vec_id").as("query_id"), col("se").as("qse")), "query_id")
      .join(broadcast(cents.select(col("cid").as("pcell"), col("cemb").as("pcemb"))), "pcell")
      .select(col("query_id"), col("pcell"), expr(
        """cast(graft_dot(transform(qse, x -> cast(x as double)),
          | transform(pcemb, x -> cast(x as double))) as bigint)"""
          .stripMargin.replace("\n", "")).as("qc"))
    val cand = broadcast(probe).join(assigned, col("pcell") === col("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "pcell", "vec_id")
    val pairs = cand.join(codesArr, "vec_id")
      .join(broadcast(dq), "query_id")
      .join(broadcast(qcell), Seq("query_id", "pcell"))
    pqAdcRerank(pairs, scaled, "cos_ivfpqr", adcOffset = col("qc"))
  }

  def annTopKIvfPqRSql: String = {
    val residPrelude =
      s"""rassign AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
         |    FROM d2t) WHERE rn = 1
         |), rscaled AS (
         |  SELECT s.vec_id,
         |    list_transform(generate_series(1, len(s.se)), i -> s.se[i] - c.cemb[i]) AS se
         |  FROM scaled s
         |  JOIN rassign a ON s.vec_id = a.vec_id
         |  JOIN cent${Clustering.Iters - 1} c ON c.cid = a.cid
         |)""".stripMargin
    s"""WITH ${Clustering.kmeansCtesSql},
       |${Clustering.pqTrainCtesFrom(residPrelude, "rscaled")},
       |ivfprobe AS (
       |  SELECT vec_id AS query_id, cid AS pcell FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |    FROM d2t WHERE vec_id < $NumQueries) WHERE rn <= $NProbe
       |), pqcodes AS (
       |  SELECT vec_id, sub, cid AS code FROM (
       |    SELECT vec_id, sub, cid,
       |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
       |    FROM (
       |      SELECT vec_id, sub, cid, CAST(sum((v - cv) * (v - cv)) AS BIGINT) AS d2
       |      FROM pqsv JOIN pqcb USING (sub, spos) GROUP BY vec_id, sub, cid))
       |  WHERE rn = 1
       |), fsv AS (
       |  SELECT vec_id,
       |    least(${Clustering.PqSubs} - 1, (pos - 1) // subdim) AS sub,
       |    (pos - 1) - least(${Clustering.PqSubs} - 1, (pos - 1) // subdim) * subdim AS spos,
       |    v
       |  FROM (
       |    SELECT vec_id, greatest(len(se) // ${Clustering.PqSubs}, 1) AS subdim,
       |      unnest(se) AS v, unnest(generate_series(1, len(se))) AS pos
       |    FROM scaled)
       |), pqdt AS (
       |  SELECT q.vec_id AS query_id, c.sub, c.cid, CAST(sum(q.v * c.cv) AS BIGINT) AS dot
       |  FROM fsv q JOIN pqcb c USING (sub, spos)
       |  WHERE q.vec_id < $NumQueries
       |  GROUP BY q.vec_id, c.sub, c.cid
       |), qc AS (
       |  SELECT p.query_id, p.pcell, CAST(sum(e.v * c.cv) AS BIGINT) AS qc
       |  FROM ivfprobe p
       |  JOIN ev e ON e.vec_id = p.query_id
       |  JOIN cvf c ON c.cid = p.pcell AND c.pos = e.pos
       |  GROUP BY p.query_id, p.pcell
       |), ivfcand AS (
       |  SELECT p.query_id, p.pcell, a.vec_id
       |  FROM ivfprobe p JOIN rassign a ON a.cid = p.pcell
       |  WHERE a.vec_id <> p.query_id
       |), pqadc AS (
       |  SELECT c.query_id, c.vec_id, CAST(q.qc + sum(t.dot) AS BIGINT) AS adc
       |  FROM ivfcand c
       |  JOIN qc q ON q.query_id = c.query_id AND q.pcell = c.pcell
       |  JOIN pqcodes k ON k.vec_id = c.vec_id
       |  JOIN pqdt t ON t.query_id = c.query_id AND t.sub = k.sub AND t.cid = k.code
       |  GROUP BY c.query_id, c.vec_id, q.qc
       |), pqcand AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, vec_id) AS crn
       |    FROM pqadc) WHERE crn <= $PqRerank
       |), pqrr AS (
       |  SELECT c.query_id, c.vec_id, CAST(sum(qv.v * e.v) AS BIGINT) AS dot
       |  FROM pqcand c
       |  JOIN fsv e ON c.vec_id = e.vec_id
       |  JOIN fsv qv ON qv.vec_id = c.query_id AND qv.sub = e.sub AND qv.spos = e.spos
       |  GROUP BY c.query_id, c.vec_id
       |)
       |SELECT query_id, rank, neighbor_id, cos_ivfpqr FROM (
       |  SELECT query_id, vec_id AS neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, vec_id) AS BIGINT) AS rank,
       |    round(CAST(dot AS DOUBLE) / ${Clustering.Scale.toDouble * Clustering.Scale}, 4) AS cos_ivfpqr
       |  FROM pqrr)
       |WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin
  }

  // ---- bm25_search --------------------------------------------------------

  /** Keyword retrieval query terms — `spark.graft.bm25.terms`
    * (comma-separated); defaults chosen for spread document frequency in
    * the synthetic vocabulary. Conf-driven so a deployment queries its own
    * terms without a recompile; the oracle SQL generator reads the same
    * conf, so parity holds for any term set.
    */
  def QueryTerms: Seq[String] = GraftConf.bm25Terms
  val Bm25TopK = 20

  /** `bm25_search`: Okapi BM25 (k1=1.2, b=0.75) keyword retrieval over the
    * corpus — the lexical side of a retrieval stack next to [[annTopK]]'s
    * dense side. Corpus stats (N, avgdl, per-term df) are one tiny
    * aggregated row BROADCAST over a single corpus scan; top-k is
    * TakeOrdered (never a global sort of all scored docs).
    *
    * Determinism: idf is rounded to 6 places the moment it leaves `ln` (the
    * one libm call — both engines then compose identical doubles), term
    * contributions sum in fixed term order, ranking ties break on doc_id
    * over the ROUNDED score.
    */
  def bm25Search(spark: SparkSession, dir: String): DataFrame = {
    // snapshot the conf-driven term list once: a conf change mid-build must
    // not desync the tf_i columns from the scoring expressions
    val terms = QueryTerms
    val d = Tables.documents(spark, dir)
      .withColumn("ws", split(col("text"), " "))
      .withColumn("dl", size(col("ws")).cast("long"))
    val withTf = terms.zipWithIndex.foldLeft(d) { case (df, (t, i)) =>
      df.withColumn(s"tf_$i", expr(s"size(filter(ws, w -> w = '$t'))").cast("long"))
    }
    val statAggs = count(lit(1)).as("n_docs") +: sum(col("dl")).as("sum_dl") +:
      terms.indices.map(i =>
        sum(when(col(s"tf_$i") > 0, 1).otherwise(0)).cast("long").as(s"df_$i"))
    val stats = withTf.agg(statAggs.head, statAggs.tail: _*)
    bm25RankOf(withTf.crossJoin(broadcast(stats)), terms)
  }

  /** The Okapi scoring + top-k tail over a prepared (doc_id, dl, tf_i…,
    * n_docs, sum_dl, df_i…) frame — ONE arithmetic path shared by the
    * corpus-scan query and the stored-postings query
    * ([[PostingsIndex.bm25From]]), so the two can never drift by a float
    * (the values feeding it are exact integers on both sides).
    */
  private[graft] def bm25RankOf(scoredIn: DataFrame, terms: Seq[String]): DataFrame = {
    val scored = scoredIn
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
    val termW = terms.indices.map { i =>
      val idf = round(log((col("n_docs") - col(s"df_$i") + lit(0.5)) /
        (col(s"df_$i") + lit(0.5)) + lit(1.0)), 6)
      idf * (col(s"tf_$i") * lit(2.2)) /
        (col(s"tf_$i") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / col("avgdl"))))
    }
    val hits = scored
      .filter(terms.indices.map(i => col(s"tf_$i")).reduce(_ + _) > 0)
      .withColumn("score", round(termW.reduce(_ + _), 4))
      .select(Seq(col("doc_id")) ++ terms.indices.map(i => col(s"tf_$i")) :+ col("score"): _*)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(Bm25TopK)
    // single-partition window over the already-limited top-k rows is
    // exactly the right plan; the partition key is a constant-valued but
    // NON-foldable expression (a bare literal gets constant-folded out of
    // the spec, and an empty spec makes WindowExec log its move-all-data
    // warning on every run)
    hits.withColumn("rank",
        row_number().over(Window.partitionBy(pmod(col("doc_id"), lit(1)))
          .orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .select(Seq(col("rank"), col("doc_id")) ++
        terms.indices.map(i => col(s"tf_$i")) :+ col("score"): _*)
      .contractOrderBy("rank")
  }

  def bm25SearchSql: String = {
    val terms = QueryTerms
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(ws, w -> w = '$t')) AS BIGINT) AS tf_$i"
    }.mkString(",\n    ")
    val dfCols = terms.indices.map(i =>
      s"CAST(sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$i").mkString(", ")
    val termW = terms.indices.map { i =>
      s"""round(ln((n_docs - df_$i + CAST(0.5 AS DOUBLE)) / (df_$i + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE)), 6)
         | * (tf_$i * CAST(2.2 AS DOUBLE)) / (tf_$i + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * (dl / avgdl)))"""
        .stripMargin.replace("\n", "")
    }
    val tfOut = terms.indices.map(i => s"tf_$i").mkString(", ")
    s"""WITH f AS (
       |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl,
       |    $tfCols
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
       |), s AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl, $dfCols
       |  FROM f
       |), scored AS (
       |  SELECT doc_id, $tfOut,
       |    round(${termW.mkString("\n      + ")}, 4) AS score
       |  FROM (SELECT f.*, s.*, CAST(sum_dl AS DOUBLE) / n_docs AS avgdl FROM f CROSS JOIN s)
       |  WHERE ${terms.indices.map(i => s"tf_$i").mkString(" + ")} > 0
       |)
       |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
       |  doc_id, $tfOut, score
       |FROM scored
       |ORDER BY score DESC, doc_id
       |LIMIT $Bm25TopK""".stripMargin
  }

  // ---- hybrid retrieval: reciprocal rank fusion ----------------------------

  def RrfK: Int = GraftConf.rrfK
  def RrfDepth: Int = GraftConf.rrfDepth
  def RrfVocabPushdownMax: Int = GraftConf.rrfVocabPushdownMax

  /** Scaled-integer reciprocal rank: 10^15 div (k + rank). Exact bigint in
    * both engines (truncating division on positive operands); two fused
    * lists sum to < 2·10^15/(k+1), far under bigint range. Distinct true
    * RRF sums (unit fractions with denominators ≤ k + depth) differ by at
    * least 1/(k+depth)^4 of a unit — ≥ hundreds of scaled units at any
    * sane (k, depth) — so the integer ranking can never disagree with the
    * real-valued one, while a float sum of 1/(k+r) could tie-break
    * differently across engines in the last ulp.
    */
  private val RrfScale = 1000000000000000L

  /** `hybrid_search_rrf`: reciprocal-rank fusion (Cormack et al. 2009 —
    * "outperforms Condorcet and individual rank learning methods"; the
    * standard hybrid-retrieval merge) of the DENSE list ([[annTopK]]'s
    * exact cosine ranking at [[RrfDepth]]) and a LEXICAL list: per-query
    * query-by-example BM25 — the query DOCUMENT's distinct words score
    * every other document through the same Okapi weighting `bm25_search`
    * uses, computed relationally at the (query, doc, word) grain instead
    * of per-term columns (the per-query term set is data, not conf).
    * vec_id ≡ doc_id across the embeddings/documents tables (one corpus,
    * two signals).
    *
    * Determinism (§5): per-word idf AND each (query, doc, word) Okapi
    * component are frozen once as round(·, 6) DECIMAL(18,6); per-(q,d)
    * lexical scores are exact decimal sums (an unordered float sum over
    * join rows would be partition-order dependent), ranked (score DESC,
    * doc_id). Fusion arithmetic is pure bigint ([[RrfScale]] div (k+r)),
    * ties to lower doc_id; the one display float is a single identical
    * IEEE divide rounded once.
    *
    * Scale: the query side is NumQueries docs — its distinct-word table
    * BROADCASTS into the corpus-grain (doc, word, tf) join, so the corpus
    * streams through one broadcast join + one (q,d)-grain map-side-combined
    * aggregation; per-query rank windows partition by query_id (never
    * global); the fusion full-outer join touches ≤ 2·depth rows per query.
    * At 100 TB the dense list comes from the stored IVF-PQ index
    * ([[graft.operators.AnnIndex]]) and the lexical side from a persisted
    * (word → postings) table — both artifacts this library already ships;
    * the fusion cost is unchanged: rank lists are queries×depth rows.
    */
  def hybridSearchRrf(spark: SparkSession, dir: String): DataFrame =
    hybridSearchRrfOf(Tables.documents(spark, dir), Tables.embeddings(spark, dir))

  /** Core over any (doc_id, text) + (vec_id, embedding) pair of relations
    * — specs plant a corpus where the lexical and dense signals disagree.
    */
  private[graft] def hybridSearchRrfOf(docs: DataFrame, embs: DataFrame): DataFrame = {
    val depth = RrfDepth
    val d = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    val dl = d.select(col("doc_id"), size(col("ws")).cast("long").as("dl"))
    val tf = d.select(col("doc_id"), explode(col("ws")).as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val qwords = d.filter(col("doc_id") < NumQueries)
      .select(col("doc_id").as("query_id"), explode(col("ws")).as("word"))
      .distinct()
    val lex = rrfLexList(tf, dl, stats, qwords, depth)
    val dense = denseTopKOf(embs, depth)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("r_dense"))
    rrfFuse(dense, lex)
  }

  /** The query-by-example LEXICAL ranking over explicit component tables
    * — tf (doc_id, word, tf), dl (doc_id, dl), stats (n_docs, sum_dl),
    * qwords (query_id, word) — ONE arithmetic path shared by the
    * corpus-scan hybrid and the stored-postings hybrid, fed the same
    * exact integers on both sides so the two lexical lists are bit-equal
    * by construction (the `bm25RankOf` discipline). df per word is
    * tf's row count for that word, so a tf table PRE-PRUNED to the query
    * vocabulary (the stored path's pushed-filter read) yields identical
    * idf on every word that can score.
    */
  private def rrfLexList(tf: DataFrame, dl: DataFrame, stats: DataFrame,
      qwords: DataFrame, depth: Int): DataFrame = {
    val dfT = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val idf = dfT.crossJoin(broadcast(stats))
      .select(col("word"),
        round(log((col("n_docs") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5)) + lit(1.0)), 6).cast("decimal(18,6)").as("idf"))
    val comp = broadcast(qwords).join(tf, Seq("word"))
      .filter(col("doc_id") =!= col("query_id"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
      .join(idf, Seq("word"))
      .withColumn("wgt",
        round(col("idf").cast("double") * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / col("avgdl")))), 6)
          .cast("decimal(18,6)"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    comp.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("wgt")).as("score"))
      .withColumn("r_lex", row_number().over(wq).cast("long"))
      .filter(col("r_lex") <= depth)
      .select(col("query_id"), col("doc_id"), col("r_lex"))
  }

  /** Pure-BIGINT reciprocal-rank fusion of two ranked lists — shared by
    * both hybrids (the selection can't drift from the scan query).
    */
  private def rrfFuse(dense: DataFrame, lex: DataFrame): DataFrame = {
    val k = RrfK
    val fused = dense.join(lex, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_s",
        coalesce(expr(s"${RrfScale}L div (${k}L + r_dense)"), lit(0L)) +
        coalesce(expr(s"${RrfScale}L div (${k}L + r_lex)"), lit(0L)))
    val wf = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_s").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(wf).cast("long"))
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("r_dense"), col("r_lex"), col("rrf_s"),
        round(col("rrf_s").cast("double") / lit(RrfScale.toDouble), 6).as("score"))
      .contractOrderBy("query_id", "rank")
  }

  /** `hybrid_search_rrf_stored` (r12): the FULL production retrieval
    * stack the scan hybrid's Scaladoc promised — BOTH lists from stored
    * artifacts: the dense list from the IVF-PQ store (probe →
    * partition-pruned ADC → exact re-rank at [[RrfDepth]]) and the
    * lexical list from the postings store (pushed `word IN (query
    * vocabulary)` filter pruning the range-partitioned postings to the
    * queried terms' row groups; tf/dl/stats are the SAME exact integers
    * the scan derives, through the shared [[rrfLexList]] arithmetic, so
    * the stored lexical list is bit-equal to the scan's). Fusion is the
    * shared [[rrfFuse]] BIGINT tail. The corpus text and raw embeddings
    * are touched only for query tokenization and the dense exact
    * re-rank — at 100 TB a query set's IO is its probed cells + its
    * terms' postings row groups, never a corpus scan. Oracle: dense
    * from the shared [[ivfPqChainCtes]] at depth; lexical + fusion CTEs
    * shared verbatim with `hybrid_search_rrf`.
    */
  def hybridSearchRrfStored(spark: SparkSession, dir: String): DataFrame = {
    // bench-session amortization of the BUILD half: production builds
    // its retrieval stores once per corpus snapshot and queries many
    // times — with the artifact cache on, the conf-keyed store
    // root persists across rows/reps and the timed work is the QUERY
    // path (probed cells + pruned postings row groups). With the cache
    // off (the default Verify posture) → build+query; the verify finals'
    // cache-on pass checks the stored path. Parity spec-asserted.
    val path = ArtifactCatalog.storedDirRoot(spark, "graft-hybrid-store", dir) { p =>
      AnnIndex.writeIvfPq(spark, dir, s"$p/ivfpq")
      PostingsIndex.writePostings(spark, dir, s"$p/lex")
    }
    hybridSearchRrfStoredFrom(spark, path,
      Tables.documents(spark, dir), Tables.embeddings(spark, dir))
  }

  /** The stored-stack hybrid over ALREADY-written indexes — the spec
    * seam (lexical bit-equality + dense recall are asserted separately).
    */
  def hybridSearchRrfStoredFrom(spark: SparkSession, path: String,
      docs: DataFrame, embs: DataFrame): DataFrame = {
    val depth = RrfDepth
    val dense = AnnIndex.ivfPqTopKFrom(spark, s"$path/ivfpq", embs, topK = depth)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("r_dense"))
    val qwords = docs.filter(col("doc_id") < NumQueries)
      .select(col("doc_id").as("query_id"),
        explode(split(col("text"), " ")).as("word"))
      .distinct()
    // the query vocabulary — queries × words-per-doc values, driver-
    // bounded by construction — pushes as a LITERAL In filter, so the
    // range-partitioned postings scan prunes to the queried terms'
    // files/row groups (the ivfPqTopKFrom probed-cell discipline; a
    // broadcast join would leave the scan unpruned). BOUNDED: a
    // production batch of 10⁵ queries would inline a multi-MB IN-list
    // into the plan, so vocabularies above rrfVocabPushdownMax fall back
    // to a broadcast LEFT SEMI join — no file pruning, but no plan
    // blowup either; results are identical either way (spec-asserted)
    val qvocab = qwords.select("word").distinct()
      .limit(RrfVocabPushdownMax + 1).collect().map(_.getString(0))
    val postRaw = spark.read.parquet(s"$path/lex/postings")
    val post = Intermediates.persist(
      if (qvocab.length <= RrfVocabPushdownMax)
        postRaw.filter(col("word").isin(qvocab.toIndexedSeq: _*))
      else
        postRaw.join(broadcast(qwords.select("word").distinct()),
          Seq("word"), "left_semi"))
    val dl = spark.read.parquet(s"$path/lex/doclens")
    // stats derived from doclens at read time (PostingsIndex discipline:
    // no stored 1-row stats table to tear on append)
    val stats = PostingsIndex.statsFromDoclens(dl)
    rrfFuse(dense, rrfLexList(post, dl, stats, qwords, depth))
  }

  def hybridSearchRrfSql: String = {
    val depth = RrfDepth
    s"""WITH $rrfLexCtesSql,
       |dense AS (
       |  SELECT query_id, neighbor_id AS doc_id, rank AS r_dense FROM (
       |    SELECT q.query_id, e.vec_id AS neighbor_id,
       |      CAST(row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY round(list_inner_product(q.qemb, CAST(e.embedding AS DOUBLE[])), 4) DESC,
       |          e.vec_id) AS BIGINT) AS rank
       |    FROM (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qemb
       |          FROM embeddings WHERE vec_id < $NumQueries) q
       |    JOIN embeddings e ON e.vec_id <> q.query_id)
       |  WHERE rank <= $depth
       |),
       |$rrfFusedTailSql""".stripMargin
  }

  /** `hybrid_search_rrf_stored`'s oracle: dense list from the shared
    * IVFADC chain at [[RrfDepth]]; lexical chain and fusion tail shared
    * verbatim with the scan hybrid (the stored lexical path is bit-equal
    * by construction, so ONE oracle chain serves both).
    */
  def hybridSearchRrfStoredSql: String = {
    val depth = RrfDepth
    s"""WITH $ivfPqChainCtes,
       |$rrfLexCtesSql,
       |dense AS (
       |  SELECT query_id, vec_id AS doc_id, rank AS r_dense FROM (
       |    SELECT query_id, vec_id,
       |      CAST(row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, vec_id) AS BIGINT) AS rank
       |    FROM pqrr) WHERE rank <= $depth
       |),
       |$rrfFusedTailSql""".stripMargin
  }

  /** The query-by-example lexical CTE chain (`d`..`lex`) — one string for
    * both hybrid oracles.
    */
  private def rrfLexCtesSql: String = {
    val depth = RrfDepth
    s"""d AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
       |), dl AS (
       |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl FROM d
       |), tf AS (
       |  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest(ws) AS word FROM d) GROUP BY doc_id, word
       |), s AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl
       |), idf AS (
       |  SELECT word,
       |    CAST(round(ln((n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE))
       |      + CAST(1.0 AS DOUBLE)), 6) AS DECIMAL(18,6)) AS idf
       |  FROM (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word)
       |  CROSS JOIN s
       |), qw AS (
       |  SELECT DISTINCT doc_id AS query_id, unnest(ws) AS word
       |  FROM d WHERE doc_id < $NumQueries
       |), comp AS (
       |  SELECT qw.query_id, tf.doc_id,
       |    CAST(round(CAST(idf.idf AS DOUBLE) * (tf.tf * CAST(2.2 AS DOUBLE))
       |      / (tf.tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)
       |        + CAST(0.75 AS DOUBLE) * (dl.dl / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))), 6)
       |      AS DECIMAL(18,6)) AS wgt
       |  FROM qw
       |  JOIN tf ON qw.word = tf.word AND tf.doc_id <> qw.query_id
       |  JOIN dl ON tf.doc_id = dl.doc_id
       |  JOIN idf ON qw.word = idf.word
       |  CROSS JOIN s
       |), lex AS (
       |  SELECT query_id, doc_id, r_lex FROM (
       |    SELECT query_id, doc_id,
       |      CAST(row_number() OVER (PARTITION BY query_id
       |        ORDER BY score DESC, doc_id) AS BIGINT) AS r_lex
       |    FROM (SELECT query_id, doc_id, sum(wgt) AS score
       |          FROM comp GROUP BY query_id, doc_id))
       |  WHERE r_lex <= $depth
       |)""".stripMargin
  }

  /** The BIGINT RRF fusion tail (`fused` + final select) — one string for
    * both hybrid oracles.
    */
  private def rrfFusedTailSql: String = {
    val k = RrfK
    s"""fused AS (
       |  SELECT coalesce(dn.query_id, lx.query_id) AS query_id,
       |    coalesce(dn.doc_id, lx.doc_id) AS doc_id,
       |    dn.r_dense, lx.r_lex,
       |    coalesce($RrfScale // (${k} + dn.r_dense), 0)
       |      + coalesce($RrfScale // (${k} + lx.r_lex), 0) AS rrf_s
       |  FROM dense dn FULL OUTER JOIN lex lx
       |    ON dn.query_id = lx.query_id AND dn.doc_id = lx.doc_id
       |)
       |SELECT query_id,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf_s DESC, doc_id) AS BIGINT) AS rank,
       |  doc_id, r_dense, r_lex, rrf_s,
       |  round(CAST(rrf_s AS DOUBLE) / $RrfScale, 6) AS score
       |FROM fused
       |ORDER BY query_id, rank""".stripMargin
  }

  // ---- ann_mmr_rerank ------------------------------------------------------

  def MmrLambdaPct: Int = GraftConf.mmrLambdaPct
  def MmrDepth: Int = GraftConf.mmrDepth

  /** `ann_mmr_rerank` (r11): MAXIMAL MARGINAL RELEVANCE diversification
    * (Carbonell & Goldstein 1998 — the standard redundancy-aware re-rank;
    * in a dedup-aware retrieval stack it is the query-time complement of
    * SemDeDup's corpus-time pruning): greedily select topK of the
    * [[MmrDepth]] relevance-ranked candidates, each step taking the
    * argmax of `λ·rel(q,c) − (1−λ)·max_{s∈selected} sim(c,s)` — a result
    * list of near-identical neighbors (exactly what a deduplicated-but-
    * not-perfectly corpus returns) trades its redundant tail for
    * coverage.
    *
    * Determinism (§5): rel and pairwise sims are the standard 4-dp
    * cosines SCALED TO INTEGERS (`floor(round(cos,4)·10000 + 0.5)` —
    * exact, never a float compare), λ is the integer
    * [[MmrLambdaPct]], so the greedy score `lambdaPct·rel10k −
    * (100−lambdaPct)·maxsim10k` is pure BIGINT and the argmax (ties to
    * lower vec_id) can never float-flip. Step 1 has an empty selected
    * set: maxsim ≡ 0, so the seed is the relevance argmax.
    *
    * Scale shape: the candidate pool and its pairwise sim matrix are
    * queries × depth(²) rows — driver-bounded tiny frames; the k-step
    * greedy loop is k joins of those frames (localCheckpoint per step,
    * the BPE/CC discipline — never a growing expression tree). The
    * corpus-scale work is only the candidate generation, which reuses
    * the existing ANN ranking (brute force here as the oracle-checkable
    * baseline; production feeds the stored IVF-PQ list through the same
    * selector).
    *
    * Oracle: the greedy loop UNROLLED as one generated CTE block per
    * step (the kmeans/BPE discipline — loops in the engine become
    * generated SQL, keeping the two implementations independent).
    */
  def annMmrRerank(spark: SparkSession, dir: String): DataFrame =
    annMmrRerankFrom(Tables.embeddings(spark, dir))

  /** [[annMmrRerank]] over an explicit (vec_id, embedding) frame — the
    * planted-corpus spec seam.
    */
  def annMmrRerankFrom(embs: DataFrame): DataFrame = {
    val depth = MmrDepth
    val e = embs
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("emb"))
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
    val scored = broadcast(q).join(e, col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(expr("graft_dot(qemb, emb)"), 4))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    val cand = scored.withColumn("crank", row_number().over(w))
      .filter(col("crank") <= depth)
      .withColumn("rel10k", expr("cast(floor(cos * 10000 + 0.5d) as bigint)"))
      .select("query_id", "vec_id", "emb", "cos", "rel10k")
    mmrSelectFrom(cand, TopK)
  }

  /** The GREEDY MMR selector over an explicit candidate pool
    * `(query_id, vec_id, emb, cos, rel10k)` — the seam both the
    * brute-force baseline ([[annMmrRerank]]) and the stored-index
    * production path ([[graft.operators.AnnIndex]]'s IVF-PQ candidates)
    * feed. Candidates are queries × depth rows; everything here is
    * driver-bounded tiny frames under localCheckpoint.
    */
  def mmrSelectFrom(candidates: DataFrame, k: Int): DataFrame = {
    val lp = MmrLambdaPct.toLong
    val mu = (100 - MmrLambdaPct).toLong
    val ss = candidates.sparkSession
    import ss.implicits._
    // One per-query local pass instead of k-1 checkpointed join+window
    // rounds (the r16 fusion): a query's pool is ≤ depth rows and the
    // greedy is pure integer arithmetic — rel10k/sim10k BIGINTs with a
    // deterministic vec_id-ascending tie rule — so a single
    // flatMapGroups reproduces the iterative selection BIT-EQUAL (the
    // oracle keeps the unrolled-CTE spelling; parity is the driver's
    // hash check + MmrSpec's brute-force compare). sim10k replicates
    // `floor(round(graft_dot(a,b), 4) * 10000 + 0.5)` exactly:
    // graft_dot is a left-to-right double fold and Spark's round(d, 4)
    // is BigDecimal.valueOf(d).setScale(4, HALF_UP).
    val cand = candidates
      .select(col("query_id").cast("long"), col("vec_id").cast("long"),
        col("cos").cast("double"), col("rel10k").cast("long"), col("emb"))
      .as[(Long, Long, Double, Long, Array[Double])]
    def sim10k(a: Array[Double], b: Array[Double]): Long = {
      var acc = 0.0
      var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      val r = java.math.BigDecimal.valueOf(acc)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
      math.floor(r * 10000 + 0.5d).toLong
    }
    cand.groupByKey(_._1).flatMapGroups { (q, it) =>
      val cs = it.toArray.sortBy(_._2) // vec_id asc = the tie-break order
      val n = cs.length
      val isSel = new Array[Boolean](n)
      // max over SELECTED of sim10k — which can be NEGATIVE (anti-similar
      // candidates), so the running max must start below any real sim,
      // never at 0 (a zero floor would silently clamp negative maxima
      // and inflate their MMR scores). Rank 1 never reads it.
      val maxsim = Array.fill(n)(Long.MinValue)
      val res = Vector.newBuilder[(Long, Long, Long, Double, Long)]
      var rank = 1
      while (rank <= math.min(k, n)) {
        var best = -1
        var bestScore = Long.MinValue
        var i = 0
        while (i < n) {
          if (!isSel(i)) {
            val sc =
              if (rank == 1) lp * cs(i)._4
              else lp * cs(i)._4 - mu * maxsim(i)
            if (best < 0 || sc > bestScore) { best = i; bestScore = sc }
          }
          i += 1
        }
        isSel(best) = true
        res += ((q, rank.toLong, cs(best)._2, cs(best)._3, bestScore))
        var j = 0
        while (j < n) {
          if (!isSel(j)) {
            val s = sim10k(cs(j)._5, cs(best)._5)
            if (s > maxsim(j)) maxsim(j) = s
          }
          j += 1
        }
        rank += 1
      }
      res.result().iterator
    }.toDF("query_id", "rank", "neighbor_id", "cos", "mmr10k")
      .contractOrderBy("query_id", "rank")
  }

  /** The greedy-selection CTE block + final select, reading a `mcand`
    * CTE of shape (query_id, vec_id, emb DOUBLE[], cos, rel10k) — ONE
    * string shared by the brute-force and stored-index MMR oracles, so
    * the two selectors can never drift (the `bm25RankOf` discipline
    * applied to the oracle side).
    */
  private def mmrSelectSqlTail: String = {
    val (lp, k) = (MmrLambdaPct, TopK)
    val l = lp.toLong
    val m = (100 - lp).toLong
    val steps = (2 to k).map { i =>
      s"""mm$i AS (
         |  SELECT c.query_id, c.vec_id, c.cos, c.rel10k, max(x.sim10k) AS maxsim10k
         |  FROM mcand c
         |  JOIN msel${i - 1} s ON s.query_id = c.query_id
         |  JOIN msimm x ON x.query_id = c.query_id AND x.ca = c.vec_id AND x.cb = s.vec_id
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM msel${i - 1} z
         |    WHERE z.query_id = c.query_id AND z.vec_id = c.vec_id)
         |  GROUP BY c.query_id, c.vec_id, c.cos, c.rel10k
         |), mp$i AS (
         |  SELECT query_id, vec_id, cos, $l * rel10k - $m * maxsim10k AS mmr10k,
         |    CAST($i AS BIGINT) AS rank
         |  FROM (
         |    SELECT query_id, vec_id, cos, rel10k, maxsim10k,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY $l * rel10k - $m * maxsim10k DESC, vec_id) AS rn
         |    FROM mm$i) WHERE rn = 1
         |), msel$i AS (
         |  SELECT * FROM msel${i - 1} UNION ALL SELECT * FROM mp$i
         |)""".stripMargin
    }.mkString(",\n")
    s"""msimm AS (
       |  SELECT a.query_id, a.vec_id AS ca, b.vec_id AS cb,
       |    CAST(floor(round(list_inner_product(a.emb, b.emb), 4) * 10000 + 0.5) AS BIGINT) AS sim10k
       |  FROM mcand a JOIN mcand b
       |    ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
       |), msel1 AS (
       |  SELECT query_id, vec_id, cos, $l * rel10k AS mmr10k, CAST(1 AS BIGINT) AS rank
       |  FROM (
       |    SELECT query_id, vec_id, cos, rel10k,
       |      row_number() OVER (PARTITION BY query_id ORDER BY rel10k DESC, vec_id) AS rn
       |    FROM mcand) WHERE rn = 1
       |),
       |$steps
       |SELECT query_id, rank, vec_id AS neighbor_id, cos, mmr10k
       |FROM msel$k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** `ann_mmr_rerank_stored` (r12): the production retrieval stack
    * END-TO-END — stored IVF-PQ index → static-partition-pruned ADC →
    * exact re-rank cut at [[MmrDepth]] → the IDENTICAL greedy
    * [[mmrSelectFrom]] diversifier the brute baseline feeds. The corpus-
    * scale work is the stored-index probe (the `ann_topk_ivfpq_stored`
    * read path, cells pruned to queries × nprobe); the selector sees the
    * same (query_id, vec_id, emb, cos, rel10k) shape, so swapping the
    * candidate generator is exactly the one-line production story the
    * brute operator's Scaladoc promises. Oracle shares [[ivfPqChainCtes]]
    * (candidates) and [[mmrSelectSqlTail]] (selection) verbatim with
    * `ann_topk_ivfpq` and `ann_mmr_rerank` — neither stage can drift.
    * Index lands in a per-session tmp dir (applicationId-salted).
    */
  def annMmrRerankStored(spark: SparkSession, dir: String): DataFrame = {
    // same build-half amortization as [[hybridSearchRrfStored]]
    val path = ArtifactCatalog.storedDirRoot(spark, "graft-mmr-store", dir)(p =>
      AnnIndex.writeIvfPq(spark, dir, p))
    annMmrRerankStoredFrom(spark, path, Tables.embeddings(spark, dir))
  }

  /** The stored-candidates MMR core over an ALREADY-written index — the
    * recall-vs-brute spec seam.
    */
  def annMmrRerankStoredFrom(spark: SparkSession, indexPath: String,
      embs: DataFrame): DataFrame = {
    val depthList = AnnIndex.ivfPqTopKFrom(spark, indexPath, embs, topK = MmrDepth)
    val e = embs.select(col("vec_id"),
      expr("transform(embedding, x -> cast(x as double))").as("emb"))
    val cand = depthList
      .select(col("query_id"), col("neighbor_id").as("vec_id"),
        col("cos_ivfpq").as("cos"))
      .join(e, "vec_id")
      .withColumn("rel10k", expr("cast(floor(cos * 10000 + 0.5d) as bigint)"))
      .select("query_id", "vec_id", "emb", "cos", "rel10k")
    mmrSelectFrom(cand, TopK)
  }

  def annMmrRerankStoredSql: String = {
    val depth = MmrDepth
    s"""WITH $ivfPqChainCtes,
       |mcand AS (
       |  SELECT r.query_id, r.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb, r.cos,
       |    CAST(floor(r.cos * 10000 + 0.5) AS BIGINT) AS rel10k
       |  FROM (
       |    SELECT query_id, vec_id,
       |      round(CAST(dot AS DOUBLE) / ${Clustering.Scale.toDouble * Clustering.Scale}, 4) AS cos,
       |      row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, vec_id) AS crank
       |    FROM pqrr) r
       |  JOIN embeddings e ON e.vec_id = r.vec_id
       |  WHERE r.crank <= $depth
       |),
       |$mmrSelectSqlTail""".stripMargin
  }

  def annMmrRerankSql: String = {
    val depth = MmrDepth
    s"""WITH mq AS (
       |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qemb
       |  FROM embeddings WHERE vec_id < $NumQueries
       |), mscored AS (
       |  SELECT q.query_id, e.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb,
       |    round(list_inner_product(q.qemb, CAST(e.embedding AS DOUBLE[])), 4) AS cos
       |  FROM mq q JOIN embeddings e ON e.vec_id <> q.query_id
       |), mcand AS (
       |  SELECT query_id, vec_id, emb, cos,
       |    CAST(floor(cos * 10000 + 0.5) AS BIGINT) AS rel10k
       |  FROM (
       |    SELECT query_id, vec_id, emb, cos,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS crank
       |    FROM mscored) WHERE crank <= $depth
       |),
       |$mmrSelectSqlTail""".stripMargin
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import ArtifactCatalog.AnnStamp

/** Persisted IVF-PQ index artifacts — the "index once, query many"
  * production seam for the ANN stack, the ANN twin of the dedup band-index
  * catalog path (`dedupDeltaFrom` over a stored band table).
  *
  * `ann_topk_ivfpq` recomputes its quantizer + codebooks + codes every
  * invocation (correct for the oracle, wasteful in production: at 100 TB
  * the code table is the expensive artifact and queries arrive forever).
  * [[writeIvfPq]] persists the three tables — centroids (K rows),
  * codebooks (M·K rows), codes (corpus rows, PARTITIONED BY CELL so a
  * probe reads only its cells' directories) — and [[ivfPqTopKFrom]]
  * answers queries from the store, touching raw vectors only in the exact
  * re-rank.
  *
  * Same safety contract as the stored dedup indexes: every artifact is
  * stamped with its conf fingerprint (survives the parquet round-trip in
  * column metadata), and the query path fails FAST on drift instead of
  * silently mis-decoding codes built under different PQ geometry.
  */
object AnnIndex {

  /** Live fingerprint matching a STORED stamp's encoding flag — the
    * catalog's way to compare a store against the live conf without
    * knowing a priori whether it holds residual codes.
    */
  private[graft] def fingerprintFor(stored: String): String =
    fingerprint(stored.contains("residual=true"))

  /** Every knob that changes the stored bytes: coarse-quantizer training
    * (k, iters, sample mod), PQ geometry/training (subs, k, iters), the
    * fixed-point grid, and whether codes encode residuals (a residual
    * store decoded as raw codes — or vice versa — is silent garbage, so
    * the encoding IS part of the fingerprint). Query-time knobs (nprobe,
    * rerank, topK) are deliberately excluded — the same index serves any
    * of them.
    */
  private def fingerprint(residual: Boolean): String =
    s"kmeansK=${Clustering.K};kmeansIters=${Clustering.Iters};" +
      s"trainMod=${Clustering.TrainSampleMod};pqSubs=${Clustering.PqSubs};" +
      s"pqK=${Clustering.PqK};pqIters=${Clustering.PqIters};scale=${Clustering.Scale};" +
      s"residual=$residual"

  private def stamp(df: DataFrame, colName: String, residual: Boolean): DataFrame =
    AnnStamp.stamp(df, fingerprint(residual), colName)

  /** The stored stamp's encoding flag — the store, not the caller, says
    * whether its codes are residuals.
    */
  private def storedResidual(df: DataFrame, colName: String): Boolean =
    AnnStamp.stored(df.schema, colName).exists(_.contains("residual=true"))

  /** Fail fast on a missing stamp or on drift from the live conf for the
    * encoding the READER asks for: a residual store decoded as raw codes
    * (or vice versa) is silent garbage.
    */
  private[graft] def validateConf(df: DataFrame, colName: String, what: String,
      residual: Boolean = false): Unit =
    AnnStamp.check(df, what, colName, Some(fingerprint(residual)))

  /** Coarse-cell assignment of scaled vectors against GIVEN centroids:
    * (vec_id, cell). Broadcast centroids, one scan.
    */
  private def assignCells(scaled: DataFrame, cents: DataFrame): DataFrame =
    scaled.crossJoin(broadcast(cents))
      .withColumn("d2", expr("graft_l2sq(se, cemb)"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cell"))

  /** Encode scaled vectors into (vec_id, codes, cell) under GIVEN
    * artifacts — the ONE encode used by both the train-and-write paths
    * and [[appendToIvfPq]], so an appended vector's code can never be
    * produced by different arithmetic than a build-time one's.
    */
  private[graft] def encodeWithArtifacts(scaled: DataFrame, cents: DataFrame,
      cb: DataFrame, residual: Boolean): DataFrame = {
    val assigned = assignCells(scaled, cents)
    val encIn =
      if (!residual) scaled
      else scaled.join(assigned, "vec_id")
        .join(broadcast(cents.select(col("cid").as("cell"), col("cemb").as("ccemb"))), "cell")
        .select(col("vec_id"), expr("zip_with(se, ccemb, (a, b) -> a - b)").as("se"))
    Similarity.pqCodesArr(Similarity.pqSubArrays(encIn), cb)
      .join(assigned, "vec_id")
  }

  /** Train + persist the IVF-PQ index under `path`: `centroids/`,
    * `codebooks/`, and `codes/` partitioned by coarse cell (probe-time
    * directory pruning — a query's IO is its probed cells only).
    */
  def writeIvfPq(spark: SparkSession, dir: String, path: String): Unit =
    writeIvfPqFrom(Tables.embeddings(spark, dir), path)

  /** [[writeIvfPq]] over an explicit embeddings frame (specs carve
    * base/delta corpora from one table with it).
    */
  /** RAW (cell-independent) training: coarse centroids + codebooks on
    * the scaled vectors themselves — shared by [[writeIvfPq]]'s full
    * store and [[writeIvfPqTrain]]'s train-only artifact.
    */
  private def trainRaw(scaled: DataFrame): (DataFrame, DataFrame) = {
    val cents = Intermediates.persist(Clustering.trainedCentroidsOf(scaled))
    val cb = Intermediates.persist(
      Clustering.pqCodebookArrays(Clustering.pqCodebooksOf(scaled)))
    (cents, cb)
  }

  /** Train-only half of the raw store — `centroids/` + `codebooks/`, NO
    * corpus code table: the artifact `ann_topk_ivfpq` and `ann_topk_pq`
    * amortize per bench session (the `ann_topk_ivfpq_r` discipline —
    * production trains once per corpus snapshot; the rows' measured work
    * stays the full encode + probe/scan + ADC query path).
    */
  def writeIvfPqTrain(spark: SparkSession, dir: String, path: String): Unit = {
    val (cents, cb) = trainRaw(Clustering.scaledEmb(spark, dir))
    stamp(cb, "cemb", residual = false).write.mode("overwrite").parquet(s"$path/codebooks")
    stamp(cents, "cemb", residual = false).write.mode("overwrite")
      .parquet(s"$path/centroids")
    Dedup.releaseIntermediates()
  }

  /** Read the raw train-only artifact back, conf-validated: (cents, cb). */
  private[graft] def readIvfPqTrain(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    val cents = spark.read.parquet(s"$path/centroids")
    validateConf(cents, "cemb", s"$path/centroids")
    val cb = spark.read.parquet(s"$path/codebooks")
    validateConf(cb, "cemb", s"$path/codebooks")
    (cents, cb)
  }

  def writeIvfPqFrom(embs: DataFrame, path: String): Unit = {
    val scaled = Clustering.scaledEmbOf(embs)
    val (cents, cb) = trainRaw(scaled)
    val codes = encodeWithArtifacts(scaled, cents, cb, residual = false)
    graft.sources.Sinks.writeAllParallel(Seq(
      () => stamp(codes, "codes", residual = false).write.mode("overwrite")
        .partitionBy("cell").parquet(s"$path/codes"),
      () => stamp(cb, "cemb", residual = false).write.mode("overwrite")
        .parquet(s"$path/codebooks"),
      () => stamp(cents, "cemb", residual = false).write.mode("overwrite")
        .parquet(s"$path/centroids")))
    Dedup.releaseIntermediates()
  }

  /** Train + persist the RESIDUAL IVF-PQ index (faiss `by_residual=true`,
    * the `ann_topk_ivfpq_r` encoding): codebooks train on each vector's
    * offset from its coarse centroid and codes encode those residuals —
    * same layout as [[writeIvfPq]] (`centroids/`, `codebooks/`, `codes/`
    * partitioned by cell), stamped `residual=true` so the two stores can
    * never be mistaken for each other.
    */
  def writeIvfPqR(spark: SparkSession, dir: String, path: String): Unit =
    writeIvfPqRFrom(Tables.embeddings(spark, dir), path)

  /** Residual TRAINING: coarse centroids + codebooks trained on each
    * vector's offset from its centroid — the one arithmetic shared by
    * [[writeIvfPqR]]'s full store and [[writeIvfPqRTrain]]'s train-only
    * artifact, so their codebooks can never drift.
    */
  private def trainResidual(scaled: DataFrame): (DataFrame, DataFrame) = {
    val cents = Intermediates.persist(Clustering.trainedCentroidsOf(scaled))
    val assigned = assignCells(scaled, cents)
    val resid = scaled.join(assigned, "vec_id")
      .join(broadcast(cents.select(col("cid").as("cell"), col("cemb").as("ccemb"))), "cell")
      .select(col("vec_id"), expr("zip_with(se, ccemb, (a, b) -> a - b)").as("se"))
    val cb = Intermediates.persist(
      Clustering.pqCodebookArrays(Clustering.pqCodebooksOf(resid)))
    (cents, cb)
  }

  /** Train-only half of the residual store — `centroids/` + `codebooks/`,
    * NO corpus code table: the artifact `ann_topk_ivfpq_r` amortizes per
    * bench session (production trains once per corpus snapshot; the row's
    * measured work stays the full encode + probe + ADC query path, which
    * at 100 TB is the per-query cost — training is not).
    */
  def writeIvfPqRTrain(spark: SparkSession, dir: String, path: String): Unit = {
    val (cents, cb) = trainResidual(Clustering.scaledEmb(spark, dir))
    stamp(cb, "cemb", residual = true).write.mode("overwrite").parquet(s"$path/codebooks")
    stamp(cents, "cemb", residual = true).write.mode("overwrite")
      .parquet(s"$path/centroids")
    Dedup.releaseIntermediates()
  }

  /** Read the train-only artifact back, conf-validated: (cents, cb). */
  private[graft] def readIvfPqRTrain(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    val cents = spark.read.parquet(s"$path/centroids")
    validateConf(cents, "cemb", s"$path/centroids", residual = true)
    val cb = spark.read.parquet(s"$path/codebooks")
    validateConf(cb, "cemb", s"$path/codebooks", residual = true)
    (cents, cb)
  }

  /** [[writeIvfPqR]] over an explicit embeddings frame. */
  def writeIvfPqRFrom(embs: DataFrame, path: String): Unit = {
    val scaled = Clustering.scaledEmbOf(embs)
    val (cents, cb) = trainResidual(scaled)
    val codes = encodeWithArtifacts(scaled, cents, cb, residual = true)
    graft.sources.Sinks.writeAllParallel(Seq(
      () => stamp(codes, "codes", residual = true).write.mode("overwrite")
        .partitionBy("cell").parquet(s"$path/codes"),
      () => stamp(cb, "cemb", residual = true).write.mode("overwrite")
        .parquet(s"$path/codebooks"),
      () => stamp(cents, "cemb", residual = true).write.mode("overwrite")
        .parquet(s"$path/centroids")))
    Dedup.releaseIntermediates()
  }

  /** Encode-only APPEND of a new crawl's vectors into an EXISTING store —
    * faiss's add-with-trained-index shape, and the piece that was missing
    * from the stored-artifact matrix (MinHash/SRP/winnow indexes all had
    * delta paths; the ANN store was rebuild-only). NO retrain: the STORED
    * coarse centroids and codebooks encode the delta (auto-detecting
    * residual encoding from the stored stamp), and the new codes land in
    * the existing `codes/cell=…` partition layout, so a following
    * [[ivfPqTopKFrom]]/[[ivfPqRTopKFrom]] sees old and new vectors
    * identically. At 100 TB this is the difference between re-encoding
    * the whole corpus per crawl and touching only the crawl.
    *
    * Scale shape: one delta scan (broadcast centroid assign + broadcast
    * codebook encode — both artifact tables are broadcast-sized), one
    * partitioned append write; the existing code table is never read.
    *
    * Caller contract: delta vec_ids are disjoint from those already
    * indexed (id allocation is upstream's job — enforcing it here would
    * scan the whole store per crawl). Fails fast on conf drift or a
    * missing stamp via [[validateConf]].
    */
  def appendToIvfPq(spark: SparkSession, indexPath: String, embs: DataFrame): Unit = {
    val cb = spark.read.parquet(s"$indexPath/codebooks")
    val residual = storedResidual(cb, "cemb")
    validateConf(cb, "cemb",
      s"stored IVF-PQ codebooks at $indexPath", residual)
    // The centroids table is validated too (r11): an append encodes
    // against it and PERSISTS the result into codes/, so foreign or
    // drifted centroids would durably mis-assign cells — unlike the
    // query paths, the damage would outlive the session.
    val cents = spark.read.parquet(s"$indexPath/centroids")
    validateConf(cents, "cemb",
      s"stored IVF-PQ centroids at $indexPath", residual)
    val scaled = Clustering.scaledEmbOf(embs)
    val codes = encodeWithArtifacts(scaled, cents, cb, residual)
    stamp(codes, "codes", residual).write.mode("append")
      .partitionBy("cell").parquet(s"$indexPath/codes")
  }

  /** COMPACT the code table to one file per cell directory. Every append
    * lands its own file(s) in each touched `cell=` directory, so K crawls
    * leave up to K small files per hot cell and the probe-time read pays
    * K file opens (and K parquet footers) per probed cell instead of one.
    * Compaction hash-repartitions on `cell` — each cell's rows land in
    * exactly one task, hence exactly one parquet file per cell directory —
    * and swaps the layout in via [[graft.sources.Sinks.compactSwap]]'s
    * rename dance. The conf stamp rides the schema metadata through the
    * read-rewrite-write cycle, so post-compaction reads still validate;
    * answers are bit-equal (same rows, same ADC arithmetic;
    * spec-asserted). Refuses foreign/drifted stores the same way the
    * query path does.
    */
  def compactIvfPq(spark: SparkSession, indexPath: String): Unit = {
    val codes = spark.read.parquet(s"$indexPath/codes")
    val residual = storedResidual(codes, "codes")
    validateConf(codes, "codes",
      s"stored IVF-PQ code table at $indexPath", residual)
    graft.sources.Sinks.compactSwap(spark, s"$indexPath/codes",
      partitionCols = Seq("cell"))(_.repartition(col("cell")))
  }

  /** Answer top-k from the stored index. Identical results to
    * `ann_topk_ivfpq` (AnnIndexSpec asserts bit-for-bit): probes rank
    * against the stored centroids, ADC runs over the stored codes of the
    * probed cells only (the probed cell ids — queries × nprobe values,
    * driver-bounded by construction — are pushed as a LITERAL partition
    * filter, so the scan prunes directories, not rows), and the exact
    * re-rank reads raw vectors from the live embeddings relation.
    */
  def ivfPqTopKFrom(spark: SparkSession, indexPath: String, embs: DataFrame,
      topK: Int = Similarity.TopK): DataFrame = {
    val codes = spark.read.parquet(s"$indexPath/codes")
    validateConf(codes, "codes", "stored IVF-PQ code table")
    val cb = spark.read.parquet(s"$indexPath/codebooks")
    validateConf(cb, "cemb", "stored IVF-PQ codebooks")
    val cents = spark.read.parquet(s"$indexPath/centroids")
    val scaled = Clustering.scaledEmbOf(embs)
    val qscaled = scaled.filter(col("vec_id") < Similarity.NumQueries)
    val dq = Similarity.pqQueryDt(Similarity.pqSubArrays(qscaled), cb)
    val dAllQ = qscaled.crossJoin(broadcast(cents))
      .withColumn("d2", expr("graft_l2sq(se, cemb)"))
    val wq = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("cid"))
    val probe = dAllQ.withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= Similarity.NProbe)
      .select(col("vec_id").as("query_id"), col("cid").as("pcell"))
    // queries × nprobe (query_id, pcell) rows — ONE bounded driver-side
    // collect that buys BOTH the static partition filter on the stored
    // code table AND a literal local relation for the probe side of the
    // cell join (r19, guide §1.2: the old shape collected the distinct
    // cells and then re-executed the whole probe subplan — query scan,
    // centroid cross-join, rank window — a second time as the broadcast
    // build side; same rows, one probe execution)
    val probeRows = probe.collect().map(r => (r.getLong(0), r.getLong(1)))
    val cells = probeRows.map(_._2).distinct
    val probeLit = probeLocalRelation(spark, probeRows)
    val pruned = codes.filter(col("cell").isin(cells.toIndexedSeq: _*))
    val pairs = broadcast(probeLit).join(pruned, col("pcell") === col("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(dq), "query_id")
    Similarity.pqAdcRerank(pairs, scaled, "cos_ivfpq", topK = topK)
  }

  /** The collected (query_id, pcell) probe list as a literal local
    * relation — the broadcast side of every stored-index cell join.
    */
  private def probeLocalRelation(spark: SparkSession,
      rows: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("query_id", "pcell")
  }

  /** Answer top-k from the stored RESIDUAL index — identical results to
    * `ann_topk_ivfpq_r` (AnnIndexSpec asserts bit-for-bit). Same probe +
    * partition-pruned code scan as [[ivfPqTopKFrom]], plus the
    * per-(query, probed-cell) exact centroid dot joining in as the ADC
    * offset (`q·x = q·c_cell + q·r̂`, the integer-grid decomposition).
    */
  def ivfPqRTopKFrom(spark: SparkSession, indexPath: String, embs: DataFrame): DataFrame = {
    val codes = spark.read.parquet(s"$indexPath/codes")
    validateConf(codes, "codes", "stored residual IVF-PQ code table", residual = true)
    val cb = spark.read.parquet(s"$indexPath/codebooks")
    validateConf(cb, "cemb", "stored residual IVF-PQ codebooks", residual = true)
    val cents = spark.read.parquet(s"$indexPath/centroids")
    val scaled = Clustering.scaledEmbOf(embs)
    val qscaled = scaled.filter(col("vec_id") < Similarity.NumQueries)
    // dt: FULL query subvectors vs the residual codebooks
    val dq = Similarity.pqQueryDt(Similarity.pqSubArrays(qscaled), cb)
    val dAllQ = qscaled.crossJoin(broadcast(cents))
      .withColumn("d2", expr("graft_l2sq(se, cemb)"))
    val wq = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("cid"))
    val probe = dAllQ.withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= Similarity.NProbe)
      .select(col("vec_id").as("query_id"), col("cid").as("pcell"))
    // one probe execution, three consumers (r19 — the residual variant
    // re-ran the probe subplan for the offset join, the cell collect AND
    // the pair join): collect the bounded list once, feed the literal
    // relation everywhere
    val probeRows = probe.collect().map(r => (r.getLong(0), r.getLong(1)))
    val cells = probeRows.map(_._2).distinct
    val probeLit = probeLocalRelation(spark, probeRows)
    val qcell = probeLit
      .join(qscaled.select(col("vec_id").as("query_id"), col("se").as("qse")), "query_id")
      .join(broadcast(cents.select(col("cid").as("pcell"), col("cemb").as("pcemb"))), "pcell")
      .select(col("query_id"), col("pcell"), expr(
        """cast(graft_dot(transform(qse, x -> cast(x as double)),
          | transform(pcemb, x -> cast(x as double))) as bigint)"""
          .stripMargin.replace("\n", "")).as("qc"))
    val pruned = codes.filter(col("cell").isin(cells.toIndexedSeq: _*))
    val pairs = broadcast(probeLit).join(pruned, col("pcell") === col("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(dq), "query_id")
      .join(broadcast(qcell), Seq("query_id", "pcell"))
    Similarity.pqAdcRerank(pairs, scaled, "cos_ivfpqr", adcOffset = col("qc"))
  }

  /** `ann_topk_ivfpq_stored`: the stored-index path AS an oracle query
    * (r10, the `doc_perplexity_sbo_stored` discipline applied to the ANN
    * artifact) — train + write the IVF-PQ index to parquet, then answer
    * the standard query set FROM the store. Bit-equal to
    * `ann_topk_ivfpq` by construction (AnnIndexSpec asserts it), so it
    * shares that query's oracle SQL verbatim; the row puts the store's
    * write→stamp→partition-prune→read cycle under the driver's hash
    * check every round. Write lands under java.io.tmpdir keyed by the sf
    * dir, mode overwrite.
    */
  def annTopKIvfPqStored(spark: SparkSession, dir: String): DataFrame = {
    // build-half amortization + the applicationId salt the un-cached
    // branch carries (two concurrent sessions must never race
    // overwrite-vs-read on one store root) — [[ArtifactCatalog.storedDirRoot]]
    val path = ArtifactCatalog.storedDirRoot(spark, "graft-ann-store", dir)(p =>
      writeIvfPq(spark, dir, p))
    ivfPqTopK(spark, path, dir)
  }

  /** RETRACT vectors from a stored IVF-PQ index — takedown/erasure for
    * the ANN artifact: one anti-join rewrite of the code table through
    * the cell-partitioned [[graft.sources.Sinks.compactSwap]] rename
    * dance (centroids/codebooks are corpus STATISTICS, not per-doc data —
    * they stay, exactly as after [[appendToIvfPq]]; re-training is
    * [[appendRecallReport]]'s scheduling call). Codes are per-vector
    * independent rows, so retraction is EXACT: append ∘ retract =
    * identity (spec asserts bit-equal stored answers), and a retracted
    * vector can never be returned. Refuses foreign/drifted stores like
    * every other store op.
    */
  def retractFromIvfPq(spark: SparkSession, indexPath: String,
      retractIds: DataFrame): Unit = {
    val codes = spark.read.parquet(s"$indexPath/codes")
    val residual = storedResidual(codes, "codes")
    validateConf(codes, "codes",
      s"stored IVF-PQ code table at $indexPath", residual)
    val ids = retractIds.select(col("doc_id").as("vec_id")).localCheckpoint(true)
    graft.sources.Sinks.compactSwap(spark, s"$indexPath/codes",
      partitionCols = Seq("cell"))(
      _.join(ids, Seq("vec_id"), "left_anti").repartition(col("cell")))
  }

  /** Per-query recall@K of a STORED IVF-PQ index against the exact
    * brute-force ranking over `embs` — (query_id, n_hits, recall). The
    * measure-before-trust read applied to a LIVE store (the recall report
    * the training path has, pointed at an artifact on disk).
    */
  def storedRecallReportFrom(spark: SparkSession, indexPath: String,
      embs: DataFrame): DataFrame = {
    val truth = Similarity.denseTopKOf(embs, Similarity.TopK)
      .select(col("query_id"), col("neighbor_id"))
    val got = ivfPqTopKFrom(spark, indexPath, embs)
      .select(col("query_id"), col("neighbor_id"))
    val hits = truth.join(got, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    truth.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") / Similarity.TopK, 4)
          .as("recall"))
  }

  /** `ann_append_recall_report` core: recall of an APPENDED store vs a
    * FRESH REBUILD over the same corpus, per query. [[appendToIvfPq]]
    * encodes every crawl against the ORIGINAL centroids/codebooks, so K
    * crawls of drifting embeddings silently degrade recall — the append
    * path needs the same measure-before-trust read the training path has
    * (`ann_recall_report`), and this is the signal that schedules
    * re-training, exactly as [[ArtifactCatalog.health]] schedules
    * compaction. Output: (query_id, recall_appended, recall_rebuilt,
    * recall_drop ≥ 0 means the rebuild would win).
    */
  def appendRecallReport(spark: SparkSession, appendedPath: String,
      rebuiltPath: String, embs: DataFrame): DataFrame =
    storedRecallReportFrom(spark, appendedPath, embs)
      .select(col("query_id"), col("recall").as("recall_appended"))
      .join(storedRecallReportFrom(spark, rebuiltPath, embs)
        .select(col("query_id"), col("recall").as("recall_rebuilt")),
        Seq("query_id"))
      .withColumn("recall_drop",
        round(col("recall_rebuilt") - col("recall_appended"), 4))

  /** Convenience: query the stored index against the corpus at `dir`. */
  def ivfPqTopK(spark: SparkSession, indexPath: String, dir: String): DataFrame =
    ivfPqTopKFrom(spark, indexPath, Tables.embeddings(spark, dir))

  /** Convenience: query the stored residual index at `dir`. */
  def ivfPqRTopK(spark: SparkSession, indexPath: String, dir: String): DataFrame =
    ivfPqRTopKFrom(spark, indexPath, Tables.embeddings(spark, dir))
}

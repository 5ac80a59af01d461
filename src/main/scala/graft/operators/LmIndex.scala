package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import ArtifactCatalog.SboStamp

/** Persisted n-gram language model — the "train once, score many" seam for
  * the perplexity stack, completing the stored-artifact matrix (ANN index,
  * dedup band index, SRP index, winnow fingerprint index, BPE merge table
  * — and now the LM). `doc_perplexity_sbo` retrains its count-ratio tables
  * every invocation (correct for the oracle, wasteful in production: the
  * Brants 2007 point is precisely that the count tables ARE the model and
  * scoring is joins). [[writeSbo]] persists the three COUNT tables;
  * [[appendToSbo]] / [[retractFromSbo]] advance them per crawl and per
  * takedown; [[sboNllFrom]] derives the frozen log tables from the counts
  * and scores any corpus through the SAME [[TextAnalysis.sboScoreOf]] the
  * in-plan operator uses, so stored-path results are bit-equal by
  * construction (spec-asserted).
  *
  * Same safety contract as the other stores: artifacts are stamped with
  * the train-time conf fingerprint (survives the parquet round-trip in
  * column metadata) and the score path fails FAST on drift. α is a
  * SCORE-time knob (frozen identically in both engines at score time), so
  * one stored model serves any α — it is deliberately NOT in the
  * fingerprint, the nprobe/topK discipline of [[AnnIndex]].
  *
  * Reference anchor: utils/validation.py:92 scores extraction text quality
  * per form; this is that scoring rung as a reusable corpus-level model.
  */
object LmIndex {

  /** Train-time knobs only: the held-out slice (`trainMod`) changes every
    * stored count; α does not.
    */
  def sboFingerprint: String =
    s"model=sbo;trainMod=${GraftConf.pplSboTrainMod};logScale=6"


  /** Train + persist the SBO model under `path`: `c1/` (train unigram
    * counts), `c2/`, `c3/` (bigram/trigram counts). The store holds the
    * COUNT tables, not the derived log-ratios — the Brants 2007 point
    * taken to its lifecycle conclusion: counts are sums of per-doc
    * contributions, so a crawl appends as an increment
    * ([[appendToSbo]]) and a takedown retracts as a decrement
    * ([[retractFromSbo]]), neither of which the frozen `lt*` tables
    * could absorb (removing one doc shifts N+V and with it EVERY lt1
    * value). The log tables derive at score time via
    * [[TextAnalysis.sboModelFromCounts]] — vocab-grain maps and joins,
    * corpus-independent, bit-equal to the in-plan derivation.
    */
  def writeSbo(spark: SparkSession, dir: String, path: String): Unit =
    writeSboDocs(Tables.documents(spark, dir), path)

  /** [[writeSbo]] over an explicit (doc_id, text) frame — the seam the
    * lifecycle oracle rows carve base/full stores through.
    */
  def writeSboDocs(docs: DataFrame, path: String): Unit = {
    val d = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
    val (c1, c2, c3) = TextAnalysis.sboCountsOf(d)
    // three independent tables → concurrent write jobs (guide §2.6)
    graft.sources.Sinks.writeAllParallel(Seq(
      () => SboStamp.stamp(c1, on = "word").write.mode("overwrite").parquet(s"$path/c1"),
      () => SboStamp.stamp(c2, on = "w1").write.mode("overwrite").parquet(s"$path/c2"),
      () => SboStamp.stamp(c3, on = "w1").write.mode("overwrite").parquet(s"$path/c3")))
  }

  /** APPEND a crawl's contribution to the stored count tables — the
    * per-crawl lifecycle step ([[graft.operators.PostingsIndex.appendToPostings]]
    * discipline for the LM): the crawl's train-slice n-gram counts merge
    * into the stored tables by key (full-outer sum). Work is O(crawl
    * grams + touched stored keys); scoring afterwards is bit-equal to a
    * fresh train over base ∪ crawl (counts are sums — spec-asserted).
    * Unlike the postings append, a count merge is NOT idempotent, so all
    * three tables advance in ONE [[graft.sources.Sinks.swapRoot]] — the
    * op fully applies or leaves the store untouched; exactly-once across
    * caller retries is the caller's contract (key ops by crawl id, the
    * UnifiedDedupStore journal discipline). Fails fast on stamp drift —
    * appending under a different trainMod would merge counts from two
    * different questions.
    */
  def appendToSbo(spark: SparkSession, path: String, docs: DataFrame): Unit =
    mergeCounts(spark, path, docs, add = true)

  /** RETRACT docs from the stored count tables — takedown /
    * right-to-be-forgotten for the LM store (the
    * [[graft.operators.PostingsIndex.retractFromPostings]] lifecycle):
    * the erased docs' train-slice contributions DECREMENT the stored
    * counts, rows hitting zero are deleted, all three tables advancing
    * in one atomic [[graft.sources.Sinks.swapRoot]] (decrements are not
    * idempotent — a mixed-version store after a mid-sequence crash
    * would double-subtract on re-run). The result is exactly the store
    * a fresh train over corpus ∖ S writes, and append ∘ retract =
    * identity (spec-asserted bit-equal). Caller passes the docs'
    * (doc_id, text) rows — the store holds no per-doc state, so erasure
    * needs the erased text once more to know what to subtract; a doc
    * never appended simply subtracts nothing it finds.
    */
  def retractFromSbo(spark: SparkSession, path: String, docs: DataFrame): Unit =
    mergeCounts(spark, path, docs, add = false)

  private def mergeCounts(spark: SparkSession, path: String, docs: DataFrame,
      add: Boolean): Unit = {
    // heal BEFORE reading: a prior advance may have crashed between the
    // root renames, leaving the live store absent until rolled forward
    graft.sources.Sinks.healSwap(spark, path)
    val d = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
    val (d1, d2, d3) = TextAnalysis.sboCountsOf(d)
    def merged(sub: String, keyCol: String, delta: DataFrame, keys: Seq[String],
        cnt: String): DataFrame = {
      val stored = spark.read.parquet(s"$path/$sub")
      SboStamp.check(stored, on = keyCol, what = s"stored SBO count table at $path/$sub")
      val dl = delta.withColumnRenamed(cnt, "graft_delta_c")
      val joined =
        if (add) stored.join(dl, keys, "full_outer")
          .select(keys.map(col) :+
            (coalesce(col(cnt), lit(0L)) + coalesce(col("graft_delta_c"), lit(0L))).as(cnt): _*)
        else stored.join(dl, keys, "left")
          .select(keys.map(col) :+
            (col(cnt) - coalesce(col("graft_delta_c"), lit(0L))).as(cnt): _*)
          .filter(col(cnt) > 0)
      SboStamp.stamp(joined, on = keyCol)
    }
    graft.sources.Sinks.swapRoot(spark, path)(Seq(
      "c1" -> merged("c1", "word", d1, Seq("word"), "c"),
      "c2" -> merged("c2", "w1", d2, Seq("w1", "w2"), "c2"),
      "c3" -> merged("c3", "w1", d3, Seq("w1", "w2", "w3"), "c3")))
  }

  /** Score a corpus against the stored model — fails fast if the live
    * conf's train-time knobs drifted from the stamp. Scoring is n-gram
    * key joins against the stored tables (broadcast when small, shuffle
    * on the gram key when not) — no retraining, no corpus-sized state.
    */
  /** `doc_perplexity_sbo_stored`: the stored-artifact path AS an oracle
    * query (r10) — write the SBO model to parquet, read it back, score
    * the corpus from the STORE. Output is bit-equal to
    * `doc_perplexity_sbo` by construction (the same
    * [[TextAnalysis.sboScoreOf]] over the round-tripped tables —
    * LmIndexSpec asserts it row for row), so it shares that query's
    * oracle SQL verbatim; what this row adds is the driver's hash check
    * standing guard over the parquet round-trip + stamp machinery itself,
    * exactly as `dedup_delta` does for the stored MinHash band index.
    * The write lands under java.io.tmpdir keyed by the sf dir, mode
    * overwrite — rebuilt per invocation (that cost is the train pass the
    * in-plan query pays anyway; Bench times the honest train+store+score
    * cycle).
    */
  def docPerplexitySboStored(spark: SparkSession, dir: String): DataFrame = {
    // bench-session amortization of the BUILD half (the retrieval-store
    // discipline, [[ArtifactCatalog.storedDirRoot]]): production
    // trains its LM once per corpus snapshot and scores many — the
    // timed work is the scoring joins. Uncached: app-id-salted build
    // (which also keeps concurrent sessions off one store root).
    val path = ArtifactCatalog.storedDirRoot(spark, "graft-sbo-full", dir)(p =>
      writeSbo(spark, dir, p))
    // sboScoreOf already applies the contract ordering
    sboNllFrom(spark, path, Tables.documents(spark, dir))
  }

  /** `doc_perplexity_sbo_incr` (r15): the APPEND lifecycle as an oracle
    * row — write the store from the BASE carve (doc_id ≢ 0 mod
    * [[graft.operators.Dedup.DeltaIdMod]]), [[appendToSbo]] the standard
    * crawl, score the full corpus FROM the advanced store. Counts are
    * sums, so the merged store is bit-equal to a full-corpus train and
    * the row shares `doc_perplexity_sbo`'s oracle SQL VERBATIM — the
    * driver's hash check stands guard over the count-merge + atomic
    * root-swap machinery every round (the `dedup_delta` discipline
    * applied to the LM lifecycle).
    */
  def docPerplexitySboIncr(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isD = col("doc_id") % graft.operators.Dedup.DeltaIdMod === 0
    // the base-carve store is INDEX TIME (production amortizes it; the
    // lmstore probe builds it untimed for the same reason) — the
    // measured op is the append merge + swap + scoring. The append
    // MUTATES, so amortized mode hands each run a fresh COPY of the
    // pristine artifact, never the shared store itself.
    val path = ArtifactCatalog.storedDirCopy(spark, "graft-sbo-base", dir)(p =>
      writeSboDocs(docs.filter(!isD), p))
    appendToSbo(spark, path, docs.filter(isD))
    sboNllFrom(spark, path, docs)
  }

  /** `doc_perplexity_sbo_retract` (r15): the TAKEDOWN lifecycle as an
    * oracle row — write the full store, [[retractFromSbo]] the standard
    * erasure carve (doc_id ≡ 0 mod [[graft.operators.Dedup.RetractIdMod]]),
    * score the full corpus from what remains. Oracle: the same SBO chain
    * trained on the slice MINUS the erased set — the independent
    * cross-engine formulation of "retract ≡ fresh train over corpus ∖ S",
    * hash-checked by the driver every round.
    */
  def docPerplexitySboRetract(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // mutable copy of the SAME full-corpus pristine store
    // `doc_perplexity_sbo_stored` reads — one artifact, two consumers
    val path = ArtifactCatalog.storedDirCopy(spark, "graft-sbo-full", dir)(p =>
      writeSbo(spark, dir, p))
    retractFromSbo(spark, path,
      docs.filter(col("doc_id") % graft.operators.Dedup.RetractIdMod === 0))
    sboNllFrom(spark, path, docs)
  }

  def docPerplexitySboRetractSql: String =
    TextAnalysis.docPerplexitySboSqlFor(
      s" AND doc_id % ${graft.operators.Dedup.RetractIdMod} <> 0")

  def sboNllFrom(spark: SparkSession, path: String, docs: DataFrame): DataFrame = {
    val c1 = spark.read.parquet(s"$path/c1")
    val c2 = spark.read.parquet(s"$path/c2")
    val c3 = spark.read.parquet(s"$path/c3")
    SboStamp.check(c1, on = "word", what = s"stored SBO unigram count table at $path/c1")
    SboStamp.check(c2, on = "w1", what = s"stored SBO bigram count table at $path/c2")
    SboStamp.check(c3, on = "w1", what = s"stored SBO trigram count table at $path/c3")
    val d = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
    TextAnalysis.sboScoreOf(d, TextAnalysis.sboModelFromCounts(c1, c2, c3))
  }
}

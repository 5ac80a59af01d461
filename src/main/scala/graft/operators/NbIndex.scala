package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import ArtifactCatalog.NbStamp

/** Persisted Naive-Bayes classifier — the "train once, score many" seam
  * for the labeling stack ([[Classify]]), completing the stored-artifact
  * matrix alongside the MinHash/SRP/winnow/line indexes, the BPE merge
  * table, the SBO LM ([[LmIndex]]) and the IVF-PQ store ([[AnnIndex]]).
  * `nb_classify` / `lang_id_nb` retrain their count tables every
  * invocation (correct for the oracle; wasteful in production — a
  * fastText-shaped labeler is trained on one curated slice and then
  * scores every crawl forever). [[writeNb]] persists the two COUNT
  * tables — the sparse observed-(class, token) counts and the per-class
  * doc counts; [[appendToNb]] / [[retractFromNb]] advance them per crawl
  * and per takedown (counts are sums of per-doc contributions — the
  * [[LmIndex]] lifecycle argument) — and [[nbScoreFrom]] derives the
  * frozen model tables from the counts
  * ([[Classify.nbModelFromCounts]]) and scores ANY corpus through the
  * SAME [[Classify.nbScoreAllOf]] the in-plan operators use, so
  * stored-path predictions are bit-equal by construction (NbIndexSpec
  * asserts it).
  *
  * Same safety contract as the other stores: artifacts are stamped with
  * the train-time conf fingerprint (survives the parquet round-trip in
  * column metadata) and the score path fails FAST on drift or a missing
  * stamp. The fingerprint carries the TOKENIZER TAG (`tok=words` /
  * `tok=chartri`) as well as the train-slice modulus: a word-trained
  * model scored with trigram features is silent garbage, so the
  * tokenization is part of the model's identity and the score path
  * re-derives its feature extractor FROM the stamp
  * ([[Classify.tokArrFor]]), never from the caller.
  *
  * Reference anchor: the reference's classification rungs are LLM calls
  * (extraction/extraction.py:13); this persists the deterministic
  * corpus-scale rung below them.
  */
object NbIndex {

  /** The train-slice modulus the given tokenizer tag trains under —
    * `nb_classify`'s knob for word models, `lang_id_nb`'s for char
    * trigrams, so the stored model mirrors exactly one oracle operator.
    */
  private def evalModFor(tok: String): Int = tok match {
    case "words"   => Classify.NbEvalMod
    case "chartri" => Classify.LangIdEvalMod
    case other => throw new IllegalArgumentException(
      s"unknown NB tokenizer tag '$other' (expected words|chartri)")
  }

  /** Every knob that changes the stored bytes: the tokenization and the
    * train-slice modulus.
    */
  def nbFingerprint(tok: String): String =
    s"model=nb;tok=$tok;evalMod=${evalModFor(tok)}"

  /** The quality-distillation model's identity (r10): word features, the
    * quality sweep's own train slice, AND the teacher's threshold —
    * a model distilled at one `hi`/`lo` bar scored under another is
    * silently answering a different question, so τ is part of the
    * stored bytes' identity exactly as the tokenizer is.
    */
  def qualityNbFingerprint: String =
    "model=nb;tok=words;labeler=quality;" +
      s"evalMod=${Classify.QnbEvalMod};tau=${Classify.QnbTauQint}"

  /** Live fingerprint matching a STORED stamp's tokenizer + labeler tags
    * — the artifact-catalog hook (the catalog compares a store against
    * the live conf without knowing a priori which model family it holds).
    */
  private[graft] def fingerprintFor(stored: String): String = {
    val tags = stored.split(";").flatMap(_.split("=", 2) match {
      case Array(k, v) => Some(k -> v); case _ => None
    }).toMap
    val tok = tags.getOrElse("tok", "words")
    if (tags.get("labeler").contains("quality")) qualityNbFingerprint
    else {
      try nbFingerprint(tok)
      catch { case _: IllegalArgumentException => s"model=nb;tok=$tok;evalMod=?" }
    }
  }

  private def tagsOf(fp: String): Map[String, String] =
    fp.split(";").flatMap(_.split("=", 2) match {
      case Array(k, v) => Some(k -> v); case _ => None
    }).toMap

  private def tokOf(fp: String): String = tagsOf(fp).getOrElse("tok", "words")

  /** Train on the labeled `doc_id % evalMod != 0` slice of the corpus at
    * `dir` under tokenizer `tok` ("words" | "chartri") and persist the
    * model under `path`: `classes/`, `sparse/`, `vocab/`. Each table is
    * a counting aggregation's output — writing the model costs one
    * in-plan training pass, and every later scoring pass skips it.
    */
  def writeNb(spark: SparkSession, dir: String, path: String, tok: String): Unit =
    writeNbDocs(Tables.documents(spark, dir), path, tok)

  /** [[writeNb]] over an explicit labeled frame — the seam the
    * incremental oracle row carves a base store through.
    */
  def writeNbDocs(labeled: DataFrame, path: String, tok: String): Unit = {
    val m = evalModFor(tok)
    val train = labeled.filter(col("doc_id") % m =!= 0)
    val (cw, cdc) = Classify.nbCountsOf(train, Classify.tokArrFor(tok))
    graft.sources.Sinks.writeAllParallel(Seq(
      () => NbStamp.stamp(cw, nbFingerprint(tok)).write.mode("overwrite").parquet(s"$path/cw"),
      () => NbStamp.stamp(cdc, nbFingerprint(tok)).write.mode("overwrite").parquet(s"$path/cdc")))
  }

  /** `nb_classify_incr` (r15): the NB APPEND lifecycle as an oracle row —
    * write the model from the BASE carve, [[appendToNb]] the standard
    * crawl's labeled rows, score the held-out slice FROM the advanced
    * store. Counts compose, so the merged model is bit-equal to the
    * full-corpus train and the row shares `nb_classify`'s oracle SQL
    * VERBATIM — the driver's hash check standing guard over the NB
    * count-merge + atomic root swap every round.
    */
  def nbClassifyIncr(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isD = col("doc_id") % Dedup.DeltaIdMod === 0
    // base-carve store = index time; the measured op is the count merge
    // + swap + scoring — amortized mode hands each run a fresh COPY of
    // the pristine artifact ([[LmIndex.docPerplexitySboIncr]]'s shape);
    // uncached, the app-id salt keeps concurrent sessions off one root
    val path = ArtifactCatalog.storedDirCopy(spark, "graft-nb-base", dir)(p =>
      writeNbDocs(docs.filter(!isD), p, "words"))
    appendToNb(spark, path, docs.filter(isD))
    val evalDocs = docs.filter(col("doc_id") % Classify.NbEvalMod === 0)
    nbScoreFrom(spark, path, evalDocs)
      .join(evalDocs.select("doc_id", "lang"), "doc_id")
      .select(col("doc_id"), col("lang"), col("pred_lang"),
        when(col("lang") === col("pred_lang"), 1).otherwise(0).as("correct"))
      .contractOrderBy("doc_id")
  }

  /** Train + persist the QUALITY-distillation model (r10): the
    * [[Classify.qualityLabeledOf]] teacher labels (`hi`/`lo` at the
    * [[Classify.QnbTauQint]] bar) on the `doc_id % qnbEvalMod != 0`
    * slice, word features — the stored twin of `quality_classifier_nb`
    * exactly as [[writeNb]]'s tok variants twin `nb_classify` /
    * `lang_id_nb`. The production economics this buys are LARGER than
    * the lang models': the teacher is the full rule cascade, so every
    * scoring pass against the store skips not just training but the
    * whole rule evaluation.
    */
  def writeQualityNb(spark: SparkSession, dir: String, path: String): Unit = {
    // planted grade markers included: the stored model must train on the
    // bit-identical text the in-plan quality_classifier_nb tokenizes
    val labeled = Classify.plantQualityLexicon(
      Classify.qualityLabeledOf(Tables.documents(spark, dir)))
    val train = labeled.filter(col("doc_id") % Classify.QnbEvalMod =!= 0)
    val (cw, cdc) = Classify.nbCountsOf(train, Classify.tokArrFor("words"))
    val fp = qualityNbFingerprint
    NbStamp.stamp(cw, fp).write.mode("overwrite").parquet(s"$path/cw")
    NbStamp.stamp(cdc, fp).write.mode("overwrite").parquet(s"$path/cdc")
  }

  /** APPEND labeled docs' contributions to the stored count tables — the
    * per-crawl lifecycle step ([[LmIndex.appendToSbo]]'s NB twin). The
    * tokenizer AND the train-slice modulus come from the STORED stamp
    * (the score-path discipline: the model's identity decides, never a
    * caller argument), the docs' train-slice (class, word) counts and
    * class doc counts merge in by key, both tables advancing in ONE
    * atomic [[graft.sources.Sinks.swapRoot]] (count merges are not
    * idempotent — the [[LmIndex.appendToSbo]] argument). Scoring
    * afterwards is bit-equal to a fresh train over base ∪ crawl
    * (spec-asserted). Caller contract: doc sets disjoint across appends,
    * and `labeled` carries the SAME (lang, text) the train path saw —
    * for quality models that is the teacher-labeled planted frame.
    */
  def appendToNb(spark: SparkSession, path: String, labeled: DataFrame): Unit =
    mergeCounts(spark, path, labeled, add = true)

  /** RETRACT labeled docs from the stored count tables — takedown /
    * right-to-be-forgotten for the NB store
    * ([[LmIndex.retractFromSbo]]'s twin): decrement by key, delete rows
    * hitting zero (a class whose last doc leaves disappears entirely),
    * one atomic root swap. Result is exactly the store a fresh train
    * over corpus ∖ S writes, and append ∘ retract = identity
    * (spec-asserted bit-equal). The store holds no per-doc state, so
    * erasure re-derives the erased docs' contributions from the rows
    * the caller passes.
    */
  def retractFromNb(spark: SparkSession, path: String, labeled: DataFrame): Unit =
    mergeCounts(spark, path, labeled, add = false)

  private def mergeCounts(spark: SparkSession, path: String, labeled: DataFrame,
      add: Boolean): Unit = {
    // heal BEFORE reading: a prior advance may have crashed between the
    // root renames, leaving the live store absent until rolled forward
    graft.sources.Sinks.healSwap(spark, path)
    val fp = NbStamp.check(spark.read.parquet(s"$path/cw"), s"stored NB count table at $path/cw")
    val tags = tagsOf(fp)
    val m = tags.getOrElse("evalMod", throw new IllegalStateException(
      s"stored NB stamp [$fp] carries no evalMod tag")).toInt
    val train = labeled.filter(col("doc_id") % m =!= 0)
    val (dcw, dcdc) = Classify.nbCountsOf(train, Classify.tokArrFor(tokOf(fp)))
    def merged(sub: String, delta: DataFrame, keys: Seq[String], cnt: String): DataFrame = {
      val stored = spark.read.parquet(s"$path/$sub")
      NbStamp.check(stored, s"stored NB count table at $path/$sub")
      // NULL is a real class key here ([[Classify.nbModelFromCounts]] keeps
      // the NULL-lang group as its own class), but a USING join matches with
      // null-unsafe equality — a NULL-labeled delta would duplicate NULL-key
      // rows on append and skip their decrement on retract. Join with <=>
      // and coalesce the key pair so the NULL class merges like any other.
      val dl = delta.withColumnRenamed(cnt, "graft_delta_c")
        .select(keys.map(k => col(k).as(s"graft_d_$k")) :+ col("graft_delta_c"): _*)
      val cond = keys.map(k => col(k) <=> col(s"graft_d_$k")).reduce(_ && _)
      val j =
        if (add) stored.join(dl, cond, "full_outer")
          .select(keys.map(k => coalesce(col(k), col(s"graft_d_$k")).as(k)) :+
            (coalesce(col(cnt), lit(0L)) +
              coalesce(col("graft_delta_c"), lit(0L))).as(cnt): _*)
        else stored.join(dl, cond, "left")
          .select(keys.map(col) :+
            (col(cnt) - coalesce(col("graft_delta_c"), lit(0L))).as(cnt): _*)
          .filter(col(cnt) > 0)
      NbStamp.stamp(j, fp)
    }
    graft.sources.Sinks.swapRoot(spark, path)(Seq(
      "cw" -> merged("cw", dcw, Seq("lang", "word"), "c"),
      "cdc" -> merged("cdc", dcdc, Seq("lang"), "dc")))
  }

  /** Score any (doc_id, text) corpus against the stored model →
    * (doc_id, pred_lang). The feature extractor is resolved from the
    * STORED tokenizer tag; fails fast on drift or a missing stamp.
    * Scoring is the production pass: one vocab join, one sparse join,
    * one C-row broadcast — no training work, no corpus-sized state.
    */
  def nbScoreFrom(spark: SparkSession, path: String, docs: DataFrame): DataFrame = {
    val cw = spark.read.parquet(s"$path/cw")
    val cdc = spark.read.parquet(s"$path/cdc")
    val fp = NbStamp.check(cw, s"stored NB count table at $path/cw")
    NbStamp.check(cdc, s"stored NB class-count table at $path/cdc")
    Classify.nbScoreAllOf(docs, Classify.tokArrFor(tokOf(fp)),
      Classify.nbModelFromCounts(cw, cdc))
  }
}

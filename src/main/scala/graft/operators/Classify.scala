package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** In-engine-trained document classification (SURVEY §2C).
  *
  * The model-based rung of the corpus-labeling ladder: production
  * pipelines (FineWeb-Edu's quality classifier, DCLM's fastText filter,
  * CCNet's LID) label every crawled document with a cheap linear model
  * trained on a labeled slice. The deterministic, oracle-checkable member
  * of that family is multinomial Naive Bayes with Laplace smoothing —
  * training IS two counting aggregations, so the whole train+apply cycle
  * runs inside the engine with no external model artifact, and the same
  * exact-decimal log-prob discipline as `doc_perplexity` (one `ln`
  * rounded to 6 dp, then only exact DECIMAL adds) makes both engines
  * agree on every argmax bit-for-bit.
  *
  * Reference anchor: the reference's classification steps are LLM calls
  * (extraction/extraction.py:13 ladder); this is the deterministic
  * corpus-scale rung below them, exactly as keyword capture is for
  * field extraction.
  */
object Classify {

  /** Held-out modulus (`spark.graft.nb.evalMod`): docs with
    * `doc_id % evalMod == 0` are scored, the rest train the model.
    */
  def NbEvalMod: Int = GraftConf.nbEvalMod

  /** `nb_classify`: train multinomial NB on the `doc_id % m != 0` slice
    * (class = `lang`), classify the held-out `doc_id % m == 0` docs, and
    * report each prediction against the gold label.
    *
    * Scale shape — the SPARSE scoring identity. The textbook dense
    * formulation scores `score(d,c) = prior(c) + Σ_tokens logp(w|c)` via a
    * vocab×classes table (at 100 TB: ~1e8 vocab × dozens of classes =
    * billions of rows materialized and joined per token). Instead, with
    * `dflt(c) = ln(1/(T_c+V))` the smoothed log-prob of a class-unseen
    * word, the identical score is
    *
    *   prior(c) + n_iv·dflt(c) + Σ_{tokens seen in c} (logp(w|c) − dflt(c))
    *
    * where n_iv counts the doc's in-vocab tokens. Only the OBSERVED
    * (class, word) pairs — the training co-occurrences that exist anyway —
    * are materialized; the correction term (`bonus`) is a difference of
    * two already-rounded decimals, so the sparse and dense scores are
    * equal EXACTLY, not approximately. Cost: one token-grain equi-join
    * against the sparse table + one C-row broadcast, never vocab×C.
    *
    * Determinism: every `ln` is rounded once to 6 dp and cast to
    * DECIMAL(18,6) (the §5 discipline); scores then compose through exact
    * decimal +/−/×(bigint) only, so cross-engine argmax can't float-flip.
    * Ties (exact equal scores) break to the lexicographically first class.
    * Out-of-vocab eval tokens are dropped (standard NB convention; the
    * vocab membership join makes it explicit); an eval doc with NO
    * in-vocab token gets `pred_lang = ''`.
    */
  def nbClassify(spark: SparkSession, dir: String): DataFrame =
    nbClassifyOf(Tables.documents(spark, dir))

  /** Core over any (doc_id, text, lang) frame — specs plant a
    * class-correlated corpus and assert the model actually learns.
    */
  def nbClassifyOf(docs: DataFrame): DataFrame =
    nbPredictionsOf(docs, NbEvalMod, split(col("text"), " "))
      .select(col("doc_id"), col("lang"), col("pred_lang"),
        when(col("lang") === col("pred_lang"), 1).otherwise(0).as("correct"))
      .contractOrderBy("doc_id")

  /** The trained-NB model artifact: the C-row class table (prior +
    * class-unseen default), the sparse observed-(class, word) bonus
    * table, and the train vocabulary. These three tables ARE the model —
    * [[graft.operators.NbIndex]] persists exactly them, and
    * [[nbScoreAllOf]] scores any corpus from them.
    */
  private[graft] final case class NbModel(classes: DataFrame,
      sparse: DataFrame, vocab: DataFrame)

  /** The shared sparse-NB train+score core over ANY tokenization (r10 —
    * extracted so `lang_id_nb`'s char-trigram model and `nb_classify`'s
    * word model are the SAME arithmetic): train on the `doc_id % m != 0`
    * slice with class = `lang` and features = `tokArr(text)`, score the
    * held-out slice, return (doc_id, lang, pred_lang) at the eval-doc
    * grain (`pred_lang = ''` for a doc with no in-vocab token).
    */
  private[graft] def nbPredictionsOf(docs: DataFrame, m: Int,
      tokArr: org.apache.spark.sql.Column): DataFrame = {
    val train = docs.filter(col("doc_id") % m =!= 0)
    val (cw, cdc) = nbCountsOf(train, tokArr)
    nbPredictionsFromCounts(docs, m, tokArr, cw, cdc)
  }

  /** [[nbPredictionsOf]] over EXPLICIT count tables — the seam the
    * stored-artifact path feeds, so read-back counts score through
    * byte-identical arithmetic (counts are longs; the frozen-decimal
    * model derivation is downstream of them either way).
    */
  private[graft] def nbPredictionsFromCounts(docs: DataFrame, m: Int,
      tokArr: org.apache.spark.sql.Column,
      cw: DataFrame, cdc: DataFrame): DataFrame = {
    val evalDocs = docs.filter(col("doc_id") % m === 0)
    evalDocs.select(col("doc_id"), col("lang"))
      .join(nbScoreAllOf(evalDocs, tokArr, nbModelFromCounts(cw, cdc)), "doc_id")
  }

  /** Train the three NB model tables on a labeled (doc_id, text, lang)
    * slice — two counting aggregations plus the frozen-decimal log maps;
    * the write path's whole cost ([[NbIndex.writeNb]]).
    */
  private[graft] def nbTrainOf(train: DataFrame,
      tokArr: org.apache.spark.sql.Column): NbModel = {
    val (cw, cdc) = nbCountsOf(train, tokArr)
    nbModelFromCounts(cw, cdc)
  }

  /** The raw NB COUNT tables — `cw` (class, word, c) token counts and
    * `cdc` (class, dc) doc counts. The store's PRIMARY artifact
    * ([[graft.operators.NbIndex]]): counts are sums of per-doc
    * contributions, so append/takedown are increments/decrements on
    * these, which the derived log tables can never absorb (one erased
    * doc shifts d_total, V and a class total — and with them prior,
    * dflt and every bonus of that class).
    */
  private[graft] def nbCountsOf(train: DataFrame,
      tokArr: org.apache.spark.sql.Column): (DataFrame, DataFrame) = {
    val tokT = train.select(col("lang"), explode(tokArr).as("word"))
    (tokT.groupBy(col("lang"), col("word")).agg(count(lit(1)).as("c")),
      train.groupBy(col("lang")).agg(count(lit(1)).as("dc")))
  }

  /** Derive the frozen model tables from the count tables — each ln
    * rounded once then frozen as DECIMAL, so the model is bit-equal
    * whether the counts were just aggregated or read back from parquet
    * after any number of append/retract cycles.
    */
  private[graft] def nbModelFromCounts(cwIn: DataFrame, cdc: DataFrame): NbModel = {
    // persisted: vocab, per-class totals, the v scalar, and the bonus
    // table ALL derive from the sparse count table (r10 — the token-grain
    // explode used to run three times; now it runs once and everything
    // else reads this small aggregated table)
    val cw = Intermediates.persist(cwIn)
    // per-class token totals from the sparse table (C rows)
    val ctot = cw.groupBy(col("lang")).agg(sum(col("c")).as("t"))
    // train vocabulary = words observed in ANY class — identical to
    // distinct(tokT.word), derived from cw so the corpus isn't re-exploded
    val vocab = cw.select(col("word")).distinct()
    // vocab size + train doc total: 1-row broadcast scalars. d_total =
    // Σ dc — every train doc lands in exactly one class group (a NULL
    // lang is its own group), so the sum IS the train doc count
    val scalars = vocab.agg(count(lit(1)).as("v"))
      .crossJoin(cdc.agg(sum(col("dc")).cast("long").as("d_total")))
    // C-row class table: doc-count prior and the class-unseen default
    // log-prob, each ln rounded ONCE then frozen as DECIMAL(18,6)
    val classes = cdc
      .join(ctot, "lang")
      .crossJoin(broadcast(scalars))
      .select(col("lang"),
        round(log(col("dc").cast("double") / col("d_total").cast("double")), 6)
          .cast("decimal(18,6)").as("prior"),
        round(log(lit(1.0) / (col("t") + col("v")).cast("double")), 6)
          .cast("decimal(18,6)").as("dflt"),
        col("t"), col("v"))
    // sparse bonus: logp(w|c) − dflt(c), a difference of two rounded
    // decimals — exact, so sparse scoring ≡ dense scoring
    val sparse = cw.join(classes.select("lang", "dflt", "t", "v"), "lang")
      .select(col("lang"), col("word"),
        (round(log((col("c") + lit(1)).cast("double") / (col("t") + col("v")).cast("double")), 6)
          .cast("decimal(18,6)") - col("dflt")).as("bonus"))
    NbModel(classes.select("lang", "prior", "dflt"), sparse, vocab)
  }

  /** Score EVERY doc of a (doc_id, text) frame against a trained
    * [[NbModel]] → (doc_id, pred_lang) — a doc with no in-vocab token
    * gets `''`. The production scoring pass: one token-grain vocab join,
    * one sparse join, one C-row broadcast; no training work.
    */
  /** Per-(doc, class) NB scores — (doc_id, lang, score, n_iv) for every
    * doc with ≥ 1 in-vocab token. Extracted from the argmax path so the
    * calibration report reads the IDENTICAL score table the classifier
    * argmaxes over.
    */
  private[graft] def nbScoresOf(docs: DataFrame,
      tokArr: org.apache.spark.sql.Column, m: NbModel): DataFrame = {
    val tokE = docs.select(col("doc_id"), explode(tokArr).as("word"))
    // persisted: the in-vocab token table feeds BOTH the n_iv count and
    // the sparse-bonus join (r10 — the explode + vocab join used to run
    // twice; for the trigram model that was the dominant scan)
    val tokIv = Intermediates.persist(tokE.join(m.vocab, Seq("word")))
    val nIv = tokIv.groupBy(col("doc_id")).agg(count(lit(1)).as("n_iv"))
    // per-(doc, class) bonus sums exist only where the doc shares a word
    // with the class — the sparse join; decimal sum is exact
    val hits = tokIv.join(m.sparse, Seq("word"))
      .groupBy(col("doc_id"), col("lang")).agg(sum(col("bonus")).as("bonus"))
    nIv
      .crossJoin(broadcast(m.classes))
      .join(hits, Seq("doc_id", "lang"), "left")
      .select(col("doc_id"), col("lang"),
        (col("prior") + col("n_iv") * col("dflt") +
          coalesce(col("bonus"), lit(0).cast("decimal(19,6)"))).as("score"),
        col("n_iv"))
  }

  private[graft] def nbScoreAllOf(docs: DataFrame,
      tokArr: org.apache.spark.sql.Column, m: NbModel): DataFrame = {
    val scored = nbScoresOf(docs, tokArr, m)
    // argmax per doc: score desc, class asc on ties — exact decimals, so
    // both engines pick the same row. As ONE hash aggregation (r18 — was a
    // row_number window, i.e. shuffle + per-partition SORT of the doc×C
    // score table): graft_min1(struct(-score, lang)) compares fields in
    // order, so it is exactly "highest exact-decimal score, ties to the
    // lexicographically first class", with map-side partial aggregation.
    // graft_min1, not min: the builtin's struct buffer forces a
    // SortAggregate (measured slower than the window it replaced); the
    // typed-imperative twin routes through ObjectHashAggregate.
    val best = scored
      .groupBy(col("doc_id"))
      .agg(call_function("graft_min1",
        struct((-col("score")).as("ns"), col("lang").as("lang"))).as("m"))
      .select(col("doc_id"), col("m.lang").as("pred_lang"))

    docs.select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("pred_lang"), lit("")).as("pred_lang"))
  }

  /** Char-trigram array of `text` — `lang_id_nb`'s feature extractor
    * (fastText's char-n-gram shape). Guarded for texts shorter than 3
    * chars: Spark's `sequence(1, 0)` DESCENDS instead of emitting empty,
    * so the short-text branch is explicit in BOTH engines.
    */
  private val TrigramArrSpark: String =
    "CASE WHEN length(text) >= 3 THEN transform(sequence(1, length(text) - 2), i -> substring(text, i, 3)) " +
      "ELSE cast(array() as array<string>) END"

  private val TrigramArrDuck: String =
    "CASE WHEN length(text) >= 3 THEN list_transform(generate_series(1, length(text) - 2), i -> substr(text, i, 3)) " +
      "ELSE CAST([] AS VARCHAR[]) END"

  /** Held-out modulus for `lang_id_nb` (`spark.graft.langid.evalMod`). */
  def LangIdEvalMod: Int = GraftConf.langIdEvalMod

  /** Tokenizer registry for the stored-model path ([[NbIndex]]): the
    * stamp's `tok=` tag resolves here, so a word-trained model can never
    * be scored with trigram features (or vice versa) — the tag is part
    * of the fingerprint and the resolver rejects unknown tags loudly.
    */
  private[graft] def tokArrFor(tok: String): org.apache.spark.sql.Column =
    tok match {
      case "words"   => split(col("text"), " ")
      case "chartri" => expr(TrigramArrSpark)
      case other => throw new IllegalArgumentException(
        s"unknown NB tokenizer tag '$other' (expected words|chartri)")
    }

  /** `lang_id_nb`: TRAINED language identification — the production rung
    * above `lang_id`'s stopword heuristic (fastText's shape: a linear
    * model over character n-grams; CCNet ships exactly this as its LID
    * stage). Multinomial NB over CHARACTER TRIGRAMS trained in-engine on
    * the labeled `doc_id % langIdEvalMod != 0` slice via
    * [[nbPredictionsOf]] — the same sparse-scoring identity and
    * exact-decimal argmax as `nb_classify`, so scoring cost is one
    * trigram-grain equi-join + one C-row broadcast, never vocab×C.
    * Output is the compact agreement cube (lang, pred_nb, pred_heur,
    * n_docs) of gold label × trained prediction × stopword-heuristic
    * prediction over the held-out slice — the measure-before-trust
    * report for swapping the heuristic out.
    *
    * Why char trigrams: same-SCRIPT languages share short words (the
    * stopword rule ties at ratio 0 on both) but not trigram
    * distributions; ClassifySpec plants Latin-script lookalikes the
    * heuristic cannot separate and asserts the trained model splits them.
    */
  def langIdNb(spark: SparkSession, dir: String): DataFrame = {
    // bench-session artifact: the trained trigram COUNT tables (the
    // r15 tokenizer discipline — train once per corpus snapshot, score
    // many; production deploys a trained LID model, it does not retrain
    // per report). Parity is spec-asserted (DedupMembershipApplySpec).
    val docs = Tables.documents(spark, dir)
    val m = LangIdEvalMod
    val tokArr = expr(TrigramArrSpark)
    val train = docs.filter(col("doc_id") % m =!= 0)
    val cw = ArtifactCatalog.storedIndex(spark, "langidcw", dir)(
      nbCountsOf(train, tokArr)._1)
    val cdc = ArtifactCatalog.storedIndex(spark, "langidcdc", dir)(
      nbCountsOf(train, tokArr)._2)
    langIdNbFromPreds(docs, m, nbPredictionsFromCounts(docs, m, tokArr, cw, cdc))
  }

  def langIdNbOf(docs: DataFrame): DataFrame = {
    val m = LangIdEvalMod
    langIdNbFromPreds(docs, m, nbPredictionsOf(docs, m, expr(TrigramArrSpark)))
  }

  private def langIdNbFromPreds(docs: DataFrame, m: Int,
      preds: DataFrame): DataFrame = {
    val stopList = TextAnalysis.EnStopwords.map("'" + _ + "'").mkString(",")
    val heur = docs.filter(col("doc_id") % m === 0)
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"),
        when(expr(s"size(filter(ws, w -> w IN ($stopList)))").cast("double") /
            size(col("ws")) > TextAnalysis.EnTau, "en")
          .otherwise("unknown").as("pred_heur"))
    preds.select(col("doc_id"), col("lang"), col("pred_lang").as("pred_nb"))
      .join(heur, "doc_id")
      .groupBy(col("lang"), col("pred_nb"), col("pred_heur"))
      .agg(count(lit(1)).as("n_docs"))
      .contractOrderBy("lang", "pred_nb", "pred_heur")
  }

  def langIdNbSql: String = {
    val m = LangIdEvalMod
    val stopList = TextAnalysis.EnStopwords.map("'" + _ + "'").mkString(",")
    s"""WITH ${nbChainSql(m, TrigramArrDuck)},
       |heur AS (
       |  SELECT doc_id,
       |    CASE WHEN CAST(len(list_filter(string_split(text, ' '), w -> w IN ($stopList))) AS DOUBLE)
       |           / len(string_split(text, ' ')) > ${TextAnalysis.EnTau} THEN 'en'
       |         ELSE 'unknown' END AS pred_heur
       |  FROM ev
       |)
       |SELECT e.lang, COALESCE(b.pred_lang, '') AS pred_nb, h.pred_heur,
       |  CAST(count(*) AS BIGINT) AS n_docs
       |FROM ev e
       |LEFT JOIN (SELECT doc_id, pred_lang FROM best WHERE rn = 1) b USING (doc_id)
       |JOIN heur h ON h.doc_id = e.doc_id
       |GROUP BY e.lang, COALESCE(b.pred_lang, ''), h.pred_heur
       |ORDER BY e.lang, pred_nb, h.pred_heur""".stripMargin
  }

  /** `langIdApply`: label a lang-less corpus with a STORED LID model —
    * the crawl → curation language seam. [[graft.sources.Warc.toDocuments]]
    * leaves `lang` NULL by design (wire formats carry no trustworthy
    * language metadata), but `ccnet_filter` / `bpe_fertility` /
    * `stratified_sample` key on `lang`: this is the one pass that closes
    * the gap, exactly what CCNet does between its WARC reader and its
    * per-language pipeline (Wenzek et al. 2020 §3.1, the fastText LID
    * stage). Scoring rides [[NbIndex.nbScoreFrom]] — the oracle-checked
    * sparse NB pass (one vocab join, one C-row broadcast, no training
    * work), tokenizer resolved from the stored stamp, fail-fast on conf
    * drift. An EXISTING label wins over the prediction (this is
    * "fill the missing", not "overrule the source"), and a document the
    * scorer ABSTAINS on (its empty-string prediction) keeps lang NULL
    * rather than carrying a fake label — downstream per-lang operators
    * treat NULL as its own stratum. Schema in = schema out, so the call
    * drops into any pipeline between the front door and the first
    * lang-keyed operator.
    *
    * Test-only seam (no oracle row): it composes two oracle-checked
    * cores — `nb_classify`'s scoring arithmetic and the documents
    * schema — through a left join + coalesce; LangIdApplySpec proves
    * the WARC → label → ccnet_filter composition end-to-end.
    */
  def langIdApply(spark: SparkSession, modelPath: String,
      docs: DataFrame): DataFrame = {
    val preds = NbIndex.nbScoreFrom(spark, modelPath, docs)
      .select(col("doc_id"), col("pred_lang"))
    docs.join(preds, Seq("doc_id"), "left")
      .select(col("doc_id"), col("text"),
        coalesce(col("lang"),
          when(col("pred_lang") =!= "", col("pred_lang"))).as("lang"),
        col("source"), col("n_chars"))
  }

  /** Held-out modulus for `quality_classifier_nb`
    * (`spark.graft.qnb.evalMod`).
    */
  def QnbEvalMod: Int = GraftConf.qnbEvalMod

  /** `hi`/`lo` label bar on the integer quality composite
    * (`spark.graft.qnb.tauQint`).
    */
  def QnbTauQint: Int = GraftConf.qnbTauQint

  /** `quality_classifier_nb`: TRAINED document-quality classification —
    * the FineWeb-Edu / DCLM-fastText shape, where an expensive teacher's
    * judgments are distilled into a cheap linear model that then labels
    * the whole crawl. The deterministic analog: the teacher is the
    * engine's own exact-integer quality composite
    * ([[TextAnalysis.qualityIntScoreOf]] — `quality_score`'s composite
    * before its single division), binarized at [[QnbTauQint]] into
    * `hi`/`lo`; a word-feature multinomial NB trains on the
    * `doc_id % qnbEvalMod != 0` slice through the SAME sparse-scoring
    * chain as `nb_classify` ([[nbPredictionsOf]]) and labels the
    * held-out docs. Output is per-doc (doc_id, label, pred, correct) —
    * the distillation-fidelity read: where the student disagrees with
    * the teacher is where the rule set and the vocabulary distribution
    * pull apart.
    *
    * Scale: teacher labeling is one stateless map-side projection
    * (integer composite, no joins), then the NB chain's costs —
    * token-grain equi-joins + a 2-row class broadcast, never vocab×C.
    * The real win this models: the composite needs the full rule
    * cascade; the trained model scores ANY future crawl with one
    * token join (and persists via [[NbIndex]], tokenizer tag `words`).
    */
  def qualityClassifierNb(spark: SparkSession, dir: String): DataFrame = {
    val labeled = plantQualityLexicon(qualityLabeledOf(Tables.documents(spark, dir)))
    val (cw, cdc) = qnbStoredCounts(spark, dir, labeled)
    nbPredictionsFromCounts(labeled, QnbEvalMod, split(col("text"), " "), cw, cdc)
      .select(col("doc_id"), col("lang").as("label"),
        col("pred_lang").as("pred"),
        when(col("lang") === col("pred_lang"), 1).otherwise(0).as("correct"))
      .contractOrderBy("doc_id")
  }

  /** The planted-lexicon quality-NB COUNT tables through the bench-session
    * artifact cache (r18) — the `lang_id_nb`/r15 "train once per corpus
    * snapshot, score many" discipline applied to the quality-NB family:
    * THREE rows (`quality_classifier_nb`, `qnb_calibration_report`,
    * `qnb_quarantine`) train the identical word-NB on the identical
    * planted teacher labels, so the stored counts are ONE artifact, and
    * the timed work is the scoring path each row actually claims. Parity
    * is the oracle gate itself, and read-back counts score bit-identically
    * ([[nbPredictionsFromCounts]], the stamped-counts seam NbIndex
    * already proves).
    */
  private def qnbStoredCounts(spark: SparkSession, dir: String,
      labeled: DataFrame): (DataFrame, DataFrame) = {
    val m = QnbEvalMod
    val tokArr = split(col("text"), " ")
    val train = labeled.filter(col("doc_id") % m =!= 0)
    (ArtifactCatalog.storedIndex(spark, "qnbcw", dir)(
      nbCountsOf(train, tokArr)._1),
      ArtifactCatalog.storedIndex(spark, "qnbcdc", dir)(
        nbCountsOf(train, tokArr)._2))
  }

  /** Core over any (doc_id, text) frame — specs plant a
    * vocabulary-correlated hi/lo corpus and assert the student matches
    * the teacher on held-out docs.
    */
  def qualityClassifierNbOf(docs: DataFrame): DataFrame =
    qualityClassifierNbFromLabeled(qualityLabeledOf(docs))

  private def qualityClassifierNbFromLabeled(labeled: DataFrame): DataFrame =
    nbPredictionsOf(labeled, QnbEvalMod, split(col("text"), " "))
      .select(col("doc_id"), col("lang").as("label"),
        col("pred_lang").as("pred"),
        when(col("lang") === col("pred_lang"), 1).otherwise(0).as("correct"))
      .contractOrderBy("doc_id")

  /** The planted vocabulary-separable slice (r14): the synthetic corpus's
    * vocabulary barely correlates with the teacher's hi/lo bar, so the
    * shipped board's calibration curve was FLAT — every margin bucket
    * read was vacuous and the quarantine bar only fired in planted specs.
    * A real quality-labeled corpus IS vocabulary-separable (hi-quality
    * prose genuinely uses different words), so the dir-level queries
    * plant the separability deterministically in BOTH engines (the
    * `extract_fields_nda` planting discipline): each doc's NB text gains
    * a suffix of BOTH marker tokens in a class-dependent mix — see
    * [[plantedSuffix]] (whose own doc is authoritative): a
    * length-proportional unit count, a `doc_id % 3 + 1` margin grade,
    * and a mix that pits `1 + grade` copies of the own-class marker
    * against a fixed 2 of the other (hi = qlexhi-heavy, lo =
    * qlexlo-heavy). Grade 1 is a zero-signal 2:2 mix, grade 3 a strong
    * 4:2 — genuinely graded margins: strongly-marked docs are
    * unambiguous (high bucket, near-always right), weakly-marked docs
    * are hard (low bucket, often wrong) — the classic calibration
    * shape, so
    * `qnb_calibration_report` shows a populated rising curve and
    * `qnb_quarantine`'s default bar splits train/quarantine on real
    * rows. The teacher never sees the markers (labels derive from the
    * ORIGINAL text), and the `*Of` cores stay plant-free for spec
    * corpora.
    */
  private[graft] def plantQualityLexicon(labeled: DataFrame): DataFrame =
    labeled.withColumn("text", concat(col("text"),
      expr(plantedSuffix("size(split(text, ' '))", "div", "doc_id", "lang"))))

  /** The planted marker suffix, templated over the two dialects' word
    * count and integer division so the query and its oracle can never
    * drift on the planting arithmetic:
    *   - `w` = length-proportional unit (markers scale with the doc so
    *     per-token margins stay comparable across lengths),
    *   - `m` = 1..3 margin grade (mod-3 walk over doc_id — coprime with
    *     the eval mod, so the held-out slice sees every grade),
    *   - the mislabel window SHRINKS with m (confidently-marked docs
    *     mislabel less — what makes accuracy RISE with the bucket),
    *   - 3:2 vs 2:3 marker mix — both classes see both tokens, so the
    *     per-copy log-ratio stays moderate and margins SPREAD across
    *     buckets instead of clamping at 9.
    */
  private def plantedSuffix(wordLen: String, idiv: String,
      id: String, lab: String): String = {
    val dir = s"$lab = 'hi'"
    val unit = s"greatest($wordLen $idiv 10, 1)"
    val grade = s"($id % 3 + 1)" // 1 = zero-signal 2:2 mix, 3 = strong 4:2
    s"repeat(' qlexhi', CAST($unit * (CASE WHEN $dir THEN 1 + $grade ELSE 2 END) AS INT)) || " +
      s"repeat(' qlexlo', CAST($unit * (CASE WHEN $dir THEN 2 ELSE 1 + $grade END) AS INT))"
  }

  /** The teacher's labeled frame — (doc_id, text, lang = hi|lo at the
    * [[QnbTauQint]] bar). Extracted so [[NbIndex.writeQualityNb]]'s
    * stored model trains on the bit-identical labeling the in-plan
    * operator uses.
    */
  private[graft] def qualityLabeledOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"))
      .join(TextAnalysis.qualityIntScoreOf(docs), "doc_id")
      .select(col("doc_id"), col("text"),
        when(col("qint") >= QnbTauQint, "hi").otherwise("lo").as("lang"))

  /** The planted grade-marker suffix ([[plantQualityLexicon]]'s SQL
    * twin): teacher label from the ORIGINAL text's qint, then the same
    * [[plantedSuffix]] template (unit × grade × class mix) rendered in
    * the DuckDB dialect — one template, two dialects, zero drift.
    */
  private def qsrcPlantedSql: String =
    s"""qsrc0 AS (
       |  SELECT d.doc_id, d.text,
       |    CASE WHEN q.qint >= $QnbTauQint THEN 'hi' ELSE 'lo' END AS lang
       |  FROM documents d JOIN qscore q USING (doc_id)
       |), qsrc AS (
       |  SELECT doc_id,
       |    text || ${plantedSuffix("len(string_split(text, ' '))", "//", "doc_id", "lang")} AS text,
       |    lang
       |  FROM qsrc0
       |)""".stripMargin

  def qualityClassifierNbSql: String = {
    val m = QnbEvalMod
    s"""WITH ${TextAnalysis.qualityIntCtesSql},
       |$qsrcPlantedSql, ${nbChainSql(m, "string_split(text, ' ')", "qsrc")}
       |SELECT e.doc_id, e.lang AS label,
       |  COALESCE(b.pred_lang, '') AS pred,
       |  CASE WHEN e.lang = COALESCE(b.pred_lang, '') THEN 1 ELSE 0 END AS correct
       |FROM ev e LEFT JOIN (SELECT doc_id, pred_lang FROM best WHERE rn = 1) b USING (doc_id)
       |ORDER BY e.doc_id""".stripMargin
  }

  def QnbCalBucketMicro: Long = GraftConf.qnbCalBucketMicro

  /** `qnb_calibration_report` (r12): CALIBRATION read for the trained
    * quality classifier — the measure-before-trust discipline
    * (`ann_recall_report`, `minhash_recall_report`, `lm_coverage_report`)
    * applied to the model-based rung before it labels a 100 TB crawl:
    * per CONFIDENCE bucket, how often is the student actually right?
    * A well-calibrated distillation shows accuracy rising with margin;
    * a flat curve means the margin carries no signal and the
    * quarantine threshold built on it is noise.
    *
    * Confidence WITHOUT a float softmax (§5): the margin is the exact
    * DECIMAL difference between the top and runner-up class scores,
    * scaled to integer micro-log units, floor-divided by
    * `n_iv × [[QnbCalBucketMicro]]` — per-token normalization and
    * bucketing in ONE integer division ((a div b) div c = a div (b·c)),
    * clamped at bucket 9; docs with no in-vocab token land in bucket −1
    * (the model abstains — `pred ''` can never be correct). Accuracy is
    * integer basis points. Scale: rides the existing NB chain + one
    * doc-grain window over the (eval docs × C)-row score table + an
    * O(buckets) rollup.
    */
  def qnbCalibrationReport(spark: SparkSession, dir: String): DataFrame =
    qnbCalibrationRollup(qnbBucketedStored(spark, dir))

  /** The dir-level bucketed frame over the SHARED stored count artifact
    * ([[qnbStoredCounts]]) — one trained model behind all three qnb rows.
    */
  private def qnbBucketedStored(spark: SparkSession, dir: String): DataFrame = {
    val labeled = plantQualityLexicon(qualityLabeledOf(Tables.documents(spark, dir)))
    val (cw, cdc) = qnbStoredCounts(spark, dir, labeled)
    qnbBucketedFromModel(labeled, nbModelFromCounts(cw, cdc))
  }

  /** The per-doc (doc_id, label, pred, bucket) frame shared by the
    * calibration rollup and the quarantine router — one derivation of the
    * NB margin bucketing so the read (`qnb_calibration_report`) and the
    * act (`qnb_quarantine`) can never disagree on a doc's bucket.
    */
  private[graft] def qnbBucketedOf(docs: DataFrame): DataFrame =
    qnbBucketedFromLabeled(qualityLabeledOf(docs))

  private def qnbBucketedFromLabeled(labeled: DataFrame): DataFrame = {
    val tokArr = split(col("text"), " ")
    val train = labeled.filter(col("doc_id") % QnbEvalMod =!= 0)
    qnbBucketedFromModel(labeled, nbTrainOf(train, tokArr))
  }

  /** [[qnbBucketedFromLabeled]] over an explicit trained model — the seam
    * the stored-counts dir path feeds (r18); same arithmetic by
    * construction.
    */
  private def qnbBucketedFromModel(labeled: DataFrame, m0: NbModel): DataFrame = {
    val m = QnbEvalMod
    val width = QnbCalBucketMicro
    val tokArr = split(col("text"), " ")
    val evalDocs = labeled.filter(col("doc_id") % m === 0)
    val scored = nbScoresOf(evalDocs, tokArr, m0)
    // top-2 scores per doc as ONE hash aggregation (r18 — was a
    // row_number window, shuffle + per-partition sort, then a second
    // aggregation): a doc carries at most C scored rows (C = 2 here), so
    // sort_array(collect_list(struct(-score, lang, score))) is a bounded
    // in-group sort with map-side partial aggregation; element [0] is
    // exactly the window's rn=1 (score desc, lang asc — decimal negation
    // is exact), element [1] its rn=2, absent on a single-class slice.
    val margins = scored.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(
          struct((-col("score")).as("ns"), col("lang").as("lang"),
            col("score").as("score")))).as("ranked"),
        max(col("n_iv")).as("n_iv"))
      .select(col("doc_id"),
        col("ranked")(0).getField("lang").as("pred0"),
        col("ranked")(0).getField("score").as("s1"),
        when(size(col("ranked")) >= 2, col("ranked")(1).getField("score")).as("s2"),
        col("n_iv"))
      // a margin needs TWO scored classes: on a degenerate single-class
      // train slice only rn=1 exists — null the pred so the doc counts
      // as an abstention (bucket −1, never correct), matching the
      // oracle's rn=1 ⋈ rn=2 inner join which drops it from calm
      .withColumn("pred",
        when(col("s2").isNotNull, col("pred0")))
      .withColumn("margin_micro",
        expr("cast((s1 - s2) * 1000000 as bigint)"))
    evalDocs.select(col("doc_id"), col("lang").as("label"))
      .join(margins, Seq("doc_id"), "left")
      .withColumn("bucket",
        when(col("margin_micro").isNull, lit(-1L))
          .otherwise(least(expr(s"margin_micro div (n_iv * ${width}L)"), lit(9L))))
      .select("doc_id", "label", "pred", "bucket")
  }

  def qnbCalibrationReportOf(docs: DataFrame): DataFrame =
    qnbCalibrationRollup(qnbBucketedOf(docs))

  private def qnbCalibrationRollup(bucketed: DataFrame): DataFrame =
    bucketed
      .withColumn("correct",
        when(col("pred").isNotNull && col("label") === col("pred"), 1L).otherwise(0L))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("correct")).as("n_correct"))
      .withColumn("accuracy_bp", expr("n_correct * 10000 div n_docs"))
      .contractOrderBy("bucket")

  def QnbQuarantineBucket: Long = GraftConf.qnbQuarantineBucket

  /** `qnb_quarantine` (r13): CALIBRATION-GATED labeling — the act step
    * `qnb_calibration_report` is the read for. The NB student labels the
    * crawl slice, but a prediction only reaches the train split when its
    * margin bucket (the report's exact integer bucketing) clears
    * [[QnbQuarantineBucket]]; everything below the bar — low-margin
    * predictions AND abstentions (bucket −1: no in-vocab token, or a
    * degenerate single-class model) — routes to a quarantine split for
    * human/teacher review instead of silently entering training data.
    * This is the FineWeb-Edu-style deployment discipline: a classifier
    * labels 100 TB only inside the confidence region the calibration
    * report proved out.
    *
    * Scale: rides [[qnbBucketedOf]] (the NB chain + one doc-grain window
    * + one doc-grain aggregation); the routing itself is one stateless
    * projection.
    */
  def qnbQuarantine(spark: SparkSession, dir: String): DataFrame =
    qnbQuarantineRoute(qnbBucketedStored(spark, dir))

  def qnbQuarantineOf(docs: DataFrame): DataFrame =
    qnbQuarantineRoute(qnbBucketedOf(docs))

  private def qnbQuarantineRoute(bucketed: DataFrame): DataFrame = {
    val thr = QnbQuarantineBucket
    bucketed
      .select(col("doc_id"),
        coalesce(col("pred"), lit("")).as("pred"),
        col("bucket"),
        when(col("bucket") >= thr && col("pred").isNotNull, "train")
          .otherwise("quarantine").as("split"))
      .contractOrderBy("doc_id")
  }

  /** The shared margin-bucketing CTE chain ending in
    * `calb(doc_id, label, pred, bucket)` — the SQL twin of
    * [[qnbBucketedOf]], consumed by both the calibration rollup and the
    * quarantine router.
    */
  private def qnbCalCtes: String = {
    val m = QnbEvalMod
    val width = QnbCalBucketMicro
    s"""WITH ${TextAnalysis.qualityIntCtesSql},
       |$qsrcPlantedSql, ${nbChainSql(m, "string_split(text, ' ')", "qsrc")},
       |cal1 AS (
       |  SELECT doc_id, lang, score,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang ASC) AS rn
       |  FROM scored
       |), calm AS (
       |  SELECT s1.doc_id, s1.lang AS pred,
       |    CAST((s1.score - s2.score) * 1000000 AS BIGINT) AS margin_micro
       |  FROM (SELECT * FROM cal1 WHERE rn = 1) s1
       |  JOIN (SELECT * FROM cal1 WHERE rn = 2) s2 USING (doc_id)
       |), calb AS (
       |  SELECT e.doc_id, e.lang AS label, cm.pred,
       |    CASE WHEN cm.margin_micro IS NULL THEN CAST(-1 AS BIGINT)
       |         ELSE least(cm.margin_micro // (n.n_iv * $width), 9) END AS bucket
       |  FROM ev e
       |  LEFT JOIN calm cm USING (doc_id)
       |  LEFT JOIN n_iv n USING (doc_id)
       |)""".stripMargin
  }

  def qnbCalibrationReportSql: String =
    qnbCalCtes +
      s"""
         |SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN pred IS NOT NULL AND label = pred THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         |  CAST(sum(CASE WHEN pred IS NOT NULL AND label = pred THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT) AS accuracy_bp
         |FROM calb GROUP BY bucket
         |ORDER BY bucket""".stripMargin

  def qnbQuarantineSql: String = {
    val thr = QnbQuarantineBucket
    qnbCalCtes +
      s"""
         |SELECT doc_id, COALESCE(pred, '') AS pred, bucket,
         |  CASE WHEN bucket >= $thr AND pred IS NOT NULL THEN 'train'
         |       ELSE 'quarantine' END AS split
         |FROM calb
         |ORDER BY doc_id""".stripMargin
  }

  /** Oracle: the same sparse identity, CTE for CTE. */
  def nbClassifySql: String = {
    val m = NbEvalMod
    s"""WITH ${nbChainSql(m, "string_split(text, ' ')")}
       |SELECT e.doc_id, e.lang,
       |  COALESCE(b.pred_lang, '') AS pred_lang,
       |  CASE WHEN e.lang = COALESCE(b.pred_lang, '') THEN 1 ELSE 0 END AS correct
       |FROM ev e LEFT JOIN (SELECT doc_id, pred_lang FROM best WHERE rn = 1) b USING (doc_id)
       |ORDER BY e.doc_id""".stripMargin
  }

  /** The shared NB CTE chain (train/ev → tok → sparse model → `best`
    * prediction per eval doc), parameterized by the token-array SQL so
    * `nb_classify` (words) and `lang_id_nb` (char trigrams) run the SAME
    * generated arithmetic, and (r10) by the labeled source relation so
    * `quality_classifier_nb` can feed a DERIVED (doc_id, text, lang)
    * relation through the identical chain. Callers prepend `WITH ` and
    * append their report SELECT (plus any extra CTEs after a comma).
    */
  private def nbChainSql(m: Int, arrSql: String,
      srcRel: String = "documents"): String =
    s"""train AS (
       |  SELECT * FROM $srcRel WHERE doc_id % $m != 0
       |), ev AS (
       |  SELECT * FROM $srcRel WHERE doc_id % $m = 0
       |), tok_t AS (
       |  SELECT lang, unnest($arrSql) AS word FROM train
       |), cw AS (
       |  SELECT lang, word, count(*) AS c FROM tok_t GROUP BY lang, word
       |), ctot AS (
       |  SELECT lang, sum(c) AS t FROM cw GROUP BY lang
       |), scalars AS (
       |  SELECT (SELECT count(DISTINCT word) FROM tok_t) AS v,
       |         (SELECT count(*) FROM train) AS d_total
       |), classes AS (
       |  SELECT p.lang,
       |    CAST(round(ln(CAST(p.dc AS DOUBLE) / CAST(s.d_total AS DOUBLE)), 6) AS DECIMAL(18,6)) AS prior,
       |    CAST(round(ln(1.0 / CAST(ct.t + s.v AS DOUBLE)), 6) AS DECIMAL(18,6)) AS dflt,
       |    ct.t, s.v
       |  FROM (SELECT lang, count(*) AS dc FROM train GROUP BY lang) p
       |  JOIN ctot ct USING (lang) CROSS JOIN scalars s
       |), sparse AS (
       |  SELECT cw.lang, cw.word,
       |    CAST(round(ln(CAST(cw.c + 1 AS DOUBLE) / CAST(cl.t + cl.v AS DOUBLE)), 6) AS DECIMAL(18,6))
       |      - cl.dflt AS bonus
       |  FROM cw JOIN classes cl USING (lang)
       |), tok_e AS (
       |  SELECT doc_id, unnest($arrSql) AS word FROM ev
       |), tok_iv AS (
       |  SELECT doc_id, word FROM tok_e
       |  WHERE word IN (SELECT DISTINCT word FROM tok_t)
       |), n_iv AS (
       |  SELECT doc_id, count(*) AS n_iv FROM tok_iv GROUP BY doc_id
       |), hits AS (
       |  SELECT doc_id, s.lang, sum(s.bonus) AS bonus
       |  FROM tok_iv t JOIN sparse s USING (word)
       |  GROUP BY doc_id, s.lang
       |), scored AS (
       |  SELECT n.doc_id, c.lang,
       |    c.prior + n.n_iv * c.dflt + COALESCE(h.bonus, CAST(0 AS DECIMAL(19,6))) AS score
       |  FROM n_iv n CROSS JOIN classes c
       |  LEFT JOIN hits h ON h.doc_id = n.doc_id AND h.lang = c.lang
       |), best AS (
       |  SELECT doc_id, lang AS pred_lang,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang ASC) AS rn
       |  FROM scored
       |)""".stripMargin
}

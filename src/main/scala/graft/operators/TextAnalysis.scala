package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** Text-analysis operators for training-data curation (SURVEY §2C):
  * language-ID heuristic, quality scoring, token counting, fingerprinting.
  * All stateless projections + one small aggregation — they stream through
  * a 100 TB corpus at scan speed.
  */
object TextAnalysis {

  /** English function words present in the corpus vocabulary (the n-gram/
    * stopword-ratio heuristic of fastText-style langid, reduced to the
    * synthetic vocab).
    */
  val EnStopwords = Seq("the", "a")
  /** Stopword-ratio above this ⇒ English. */
  val EnTau = 0.03

  /** `lang_id`: predicted language per doc vs the labeled `lang`, aggregated
    * into a compact agreement matrix.
    */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .withColumn("ws", split(col("text"), " "))
      .withColumn("n_words", size(col("ws")).cast("long"))
      .withColumn("n_stop",
        expr(s"size(filter(ws, w -> w IN (${EnStopwords.map("'" + _ + "'").mkString(",")})))").cast("long"))
      .withColumn("pred_lang",
        when(col("n_stop").cast("double") / col("n_words") > EnTau, "en").otherwise("unknown"))
    d.groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("n_stop")).cast("double") / sum(col("n_words")), 4).as("avg_stop_ratio"))
      .contractOrderBy("lang", "pred_lang")
  }

  val langIdSql: String = {
    val stopList = EnStopwords.map("'" + _ + "'").mkString(",")
    s"""WITH d AS (
       |  SELECT lang, string_split(text, ' ') AS ws FROM documents
       |), f AS (
       |  SELECT lang, CAST(len(ws) AS BIGINT) AS n_words,
       |    CAST(len(list_filter(ws, w -> w IN ($stopList))) AS BIGINT) AS n_stop
       |  FROM d
       |)
       |SELECT lang,
       |  CASE WHEN CAST(n_stop AS DOUBLE) / n_words > $EnTau THEN 'en' ELSE 'unknown' END AS pred_lang,
       |  count(*) AS n_docs,
       |  round(CAST(sum(n_stop) AS DOUBLE) / CAST(sum(n_words) AS DOUBLE), 4) AS avg_stop_ratio
       |FROM f
       |GROUP BY lang, pred_lang
       |ORDER BY lang, pred_lang""".stripMargin
  }

  /** `quality_score`: per-doc quality features + composite score
    * (length / stopword ratio / type-token ratio — the C4/Gopher-rule
    * family reduced to deterministic column math).
    */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val stopList = EnStopwords.map("'" + _ + "'").mkString(",")
    Tables.documents(spark, dir)
      .withColumn("ws", split(col("text"), " "))
      .withColumn("n_words", size(col("ws")).cast("long"))
      .withColumn("n_distinct", size(array_distinct(col("ws"))).cast("long"))
      .withColumn("ttr", round(col("n_distinct").cast("double") / col("n_words"), 4))
      .withColumn("stop_ratio",
        round(expr(s"size(filter(ws, w -> w IN ($stopList)))").cast("double") / col("n_words"), 4))
      .withColumn("avg_word_len",
        round((col("n_chars") - (col("n_words") - 1)).cast("double") / col("n_words"), 4))
      // Composite score in exact integer space (scaled by 1e4 per component)
      // then ONE double division — no float rounding boundary to disagree on.
      .withColumn("score",
        (expr("(10000 * n_distinct) div n_words") * 3
          + (lit(10000L) - expr(s"(10000 * size(filter(ws, w -> w IN ($stopList)))) div n_words")) * 3
          + least(col("n_words") * 100, lit(10000L)) * 4).cast("double") / 100000.0)
      .select("doc_id", "n_words", "n_distinct", "ttr", "stop_ratio", "avg_word_len", "score")
      .contractOrderBy("doc_id")
  }

  val qualityScoreSql: String = {
    val stopList = EnStopwords.map("'" + _ + "'").mkString(",")
    s"""WITH d AS (
       |  SELECT doc_id, n_chars, string_split(text, ' ') AS ws FROM documents
       |), f AS (
       |  SELECT doc_id, n_chars,
       |    CAST(len(ws) AS BIGINT) AS n_words,
       |    CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct,
       |    CAST(len(list_filter(ws, w -> w IN ($stopList))) AS BIGINT) AS n_stop
       |  FROM d
       |)
       |SELECT doc_id, n_words, n_distinct,
       |  round(CAST(n_distinct AS DOUBLE) / n_words, 4) AS ttr,
       |  round(CAST(n_stop AS DOUBLE) / n_words, 4) AS stop_ratio,
       |  round(CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words, 4) AS avg_word_len,
       |  CAST(((10000 * n_distinct) // n_words) * 3
       |      + (10000 - ((10000 * n_stop) // n_words)) * 3
       |      + least(n_words * 100, 10000) * 4 AS DOUBLE) / 100000.0 AS score
       |FROM f
       |ORDER BY doc_id""".stripMargin
  }

  /** (doc_id, qint) — `quality_score`'s composite BEFORE its one division:
    * an exact integer in both engines, so argmax comparisons (e.g.
    * [[Dedup.dedupKeepBest]]'s canonical pick) can never float-flip.
    * `qint / 100000.0` IS `quality_score.score`.
    */
  private[graft] def qualityIntScoreOf(docs: DataFrame): DataFrame = {
    val stopList = EnStopwords.map("'" + _ + "'").mkString(",")
    docs
      .withColumn("ws", split(col("text"), " "))
      .withColumn("n_words", size(col("ws")).cast("long"))
      .select(col("doc_id"),
        (expr("(10000 * cast(size(array_distinct(ws)) as bigint)) div n_words") * 3
          + (lit(10000L) - expr(s"(10000 * cast(size(filter(ws, w -> w IN ($stopList))) as bigint)) div n_words")) * 3
          + least(col("n_words") * 100, lit(10000L)) * 4).as("qint"))
  }

  /** CTE body `..., qscore(doc_id, qint)` mirroring [[qualityIntScoreOf]];
    * appended to other oracles' WITH chains (names prefixed `q` to avoid
    * collisions).
    */
  private[graft] def qualityIntCtesSql: String = {
    val stopList = EnStopwords.map("'" + _ + "'").mkString(",")
    s"""qd AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
       |), qf AS (
       |  SELECT doc_id,
       |    CAST(len(ws) AS BIGINT) AS n_words,
       |    CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct,
       |    CAST(len(list_filter(ws, w -> w IN ($stopList))) AS BIGINT) AS n_stop
       |  FROM qd
       |), qscore AS (
       |  SELECT doc_id, ((10000 * n_distinct) // n_words) * 3
       |    + (10000 - ((10000 * n_stop) // n_words)) * 3
       |    + least(n_words * 100, 10000) * 4 AS qint
       |  FROM qf
       |)""".stripMargin
  }

  /** `token_count`: whitespace tokens + BPE-ish regex tokens (alpha runs /
    * digit runs / other non-space) per doc.
    */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("ws_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("alpha_tokens", regexp_count(col("text"), lit("[a-zA-Z]+")).cast("long"))
      .withColumn("digit_tokens", regexp_count(col("text"), lit("[0-9]+")).cast("long"))
      .withColumn("bpe_tokens",
        regexp_count(col("text"), lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]")).cast("long"))
      .withColumn("chars_per_token",
        round(col("n_chars").cast("double") / nullif(col("bpe_tokens"), lit(0L)), 4))
      .select("doc_id", "ws_tokens", "alpha_tokens", "digit_tokens", "bpe_tokens", "chars_per_token")
      .contractOrderBy("doc_id")

  val tokenCountSql: String =
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+')) AS BIGINT) AS alpha_tokens,
      |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS digit_tokens,
      |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT) AS bpe_tokens,
      |  round(CAST(n_chars AS DOUBLE) / nullif(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')), 0), 4) AS chars_per_token
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** `doc_perplexity`: unigram language-model scoring — the CCNet-style
    * quality signal (Wenzek et al. 2020): documents whose tokens are
    * improbable under the corpus unigram distribution (high mean negative
    * log-likelihood ≈ high perplexity) are gibberish/rare-junk candidates;
    * CCNet buckets a crawl into head/middle/tail exactly this way (with a
    * 5-gram KenLM — the unigram MLE is the deterministic, in-engine
    * rung of that ladder).
    *
    * Determinism (SURVEY §5 discipline, bm25 precedent): each token's
    * log-probability leaves `ln` rounded to 6 places, is carried as
    * DECIMAL(18,6), and per-doc summation is therefore EXACT and
    * order-independent — never a parallel float sum; one double division
    * at the end. Scale shape: one token explode, one vocabulary-grain
    * count (map-side combined), one corpus⋈vocabulary key join (AQE
    * broadcasts the vocabulary side when it fits), one doc-grain
    * aggregation — all linear.
    */
  def docPerplexity(spark: SparkSession, dir: String): DataFrame =
    docPerplexityOf(Tables.documents(spark, dir))

  /** Core over any (doc_id, text) frame — specs plant rare-token docs. */
  def docPerplexityOf(docs: DataFrame): DataFrame =
    perplexityCoreOf(docs).contractOrderBy("doc_id")

  /** The unordered (doc_id, n_tokens, nll) core — shared by
    * [[docPerplexityOf]] and [[perplexityBuckets]] so the bucket cut and
    * the per-doc score can never drift on tokenization or rounding.
    */
  private[graft] def perplexityCoreOf(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val cnt = tok.groupBy(col("word")).agg(count(lit(1)).as("c"))
    // corpus token total as a 1-row broadcast (q11-style scalar aggregate)
    val total = cnt.agg(sum(col("c")).as("total"))
    val logp = cnt.crossJoin(broadcast(total))
      .select(col("word"),
        round(log(col("c").cast("double") / col("total").cast("double")), 6)
          .cast("decimal(18,6)").as("logp"))
    tok.join(logp, "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        (-sum(col("logp"))).as("nll_sum"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("nll_sum").cast("double") / col("n_tokens"), 4).as("nll"))
  }

  /** The tok/cnt/logp/ppl CTE chain shared by [[docPerplexitySql]] and
    * [[perplexityBucketsSql]] — one string, same no-drift treatment as
    * Dedup.minhashBandedCtes.
    */
  private[graft] val perplexityCtes: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
      |), cnt AS (
      |  SELECT word, count(*) AS c FROM tok GROUP BY word
      |), logp AS (
      |  SELECT word,
      |    CAST(round(ln(CAST(c AS DOUBLE) / (SELECT CAST(sum(c) AS DOUBLE) FROM cnt)), 6) AS DECIMAL(18,6)) AS logp
      |  FROM cnt
      |), ppl AS (
      |  SELECT doc_id, count(*) AS n_tokens,
      |    round(CAST(-sum(logp) AS DOUBLE) / count(*), 4) AS nll
      |  FROM tok JOIN logp USING (word)
      |  GROUP BY doc_id
      |)""".stripMargin

  val docPerplexitySql: String =
    s"""$perplexityCtes
      |SELECT doc_id, n_tokens, nll FROM ppl
      |ORDER BY doc_id""".stripMargin

  /** Threshold-sample modulus (`spark.graft.ppl.sampleMod`). */
  def PplSampleMod: Int = GraftConf.pplSampleMod

  /** `perplexity_buckets`: CCNet's head/middle/tail corpus cut (Wenzek et
    * al. 2020 §4.3 — the step after scoring: bucket the crawl into thirds
    * by LM perplexity, then train on head/middle and drop or downweight
    * tail). Each doc gets its [[docPerplexity]] nll plus the bucket label.
    *
    * Determinism: the two cut points are ORDER STATISTICS — the nll at
    * rank ceil(n/3) and ceil(2n/3) (ties broken by doc_id, ceil as the
    * integer form `(n+k-1) div k`, never float interpolation, so the two
    * engines can't disagree on a percentile convention) — of the sample
    * `doc_id % sampleMod == 0`. Bucket compare is `nll <= t` on the
    * already-rounded 4-dp doubles both engines agree on hash-exactly.
    *
    * Scale shape: thresholds come from the mod-sized SAMPLE, exactly as
    * CCNet computes them from a held-out slice — the only ordered pass is
    * a row_number over that sample (single reducer, sized by the mod, the
    * documented knob), emitted as ONE broadcast row; the corpus itself is
    * scored in one linear pass and bucket-labeled map-side. Never a global
    * sort or percentile over the full corpus.
    */
  def perplexityBuckets(spark: SparkSession, dir: String): DataFrame =
    perplexityBucketsOf(Tables.documents(spark, dir))

  def perplexityBucketsOf(docs: DataFrame): DataFrame = {
    val ppl = Intermediates.persist(perplexityCoreOf(docs))
    val smp = ppl.filter(col("doc_id") % PplSampleMod === 0)
      .select(col("nll"), col("doc_id"))
    val ordered = smp.withColumn("rn",
      row_number().over(Window.orderBy(col("nll"), col("doc_id"))))
    val n = smp.agg(count(lit(1)).as("n"))
    val th = ordered.crossJoin(broadcast(n))
      .agg(max(when(col("rn") === expr("(n + 2) div 3"), col("nll"))).as("t_head"),
           max(when(col("rn") === expr("(2 * n + 2) div 3"), col("nll"))).as("t_mid"))
    ppl.crossJoin(broadcast(th))
      .select(col("doc_id"), col("n_tokens"), col("nll"),
        when(col("nll") <= col("t_head"), lit("head"))
          .when(col("nll") <= col("t_mid"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
      .contractOrderBy("doc_id")
  }

  def perplexityBucketsSql: String =
    s"""$perplexityCtes,
      |smp AS (
      |  SELECT nll, doc_id, row_number() OVER (ORDER BY nll, doc_id) AS rn
      |  FROM ppl WHERE doc_id % $PplSampleMod = 0
      |), th AS (
      |  SELECT
      |    max(CASE WHEN rn = ((SELECT count(*) FROM smp) + 2) // 3 THEN nll END) AS t_head,
      |    max(CASE WHEN rn = (2 * (SELECT count(*) FROM smp) + 2) // 3 THEN nll END) AS t_mid
      |  FROM smp
      |)
      |SELECT p.doc_id, p.n_tokens, p.nll,
      |  CASE WHEN p.nll <= t.t_head THEN 'head'
      |       WHEN p.nll <= t.t_mid THEN 'middle'
      |       ELSE 'tail' END AS bucket
      |FROM ppl p, th t
      |ORDER BY p.doc_id""".stripMargin

  /** `ccnet_filter` (r10): the full CCNet keep decision — per-LANGUAGE
    * perplexity terciles plus the act step (Wenzek et al. 2020 §4.3:
    * bucket each language's crawl into thirds by LM score, train on
    * head+middle, drop tail). [[perplexityBuckets]] is the single-corpus
    * diagnostic; this is the production form, because perplexity is NOT
    * comparable across languages (each language's LM normalizes
    * differently) — CCNet cuts within language, so a high-resource
    * language's tail can't crowd out a low-resource language's head.
    *
    * Same order-statistic discipline as [[perplexityBuckets]], one level
    * down: cut points are the per-lang sample's nll at integer-ceil
    * ranks n/3 and 2n/3 (ties by doc_id, never float interpolation).
    * A language with NO sampled doc gets null thresholds → every doc
    * falls to the `tail` branch (conservative: an unsampled language is
    * not silently kept; production sizes `spark.graft.ppl.sampleMod`
    * so every language samples).
    *
    * Scale shape: scoring is [[perplexityCoreOf]]'s linear pass; the
    * only ordered pass is a row_number over the SAMPLE partitioned by
    * lang (partitions sized sample/langs, bounded by the mod knob); the
    * threshold table is O(languages) rows and broadcasts; the corpus is
    * labeled map-side through that broadcast join. Never a global sort
    * or a corpus-grain window.
    */
  def ccnetFilter(spark: SparkSession, dir: String): DataFrame =
    ccnetFilterOf(Tables.documents(spark, dir))

  /** Core over any (doc_id, text, lang) frame — specs plant per-lang
    * frequency tiers and assert the cuts are per-language.
    */
  def ccnetFilterOf(docs: DataFrame): DataFrame = {
    val ppl = Intermediates.persist(perplexityCoreOf(docs)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id"))
    val smp = ppl.filter(col("doc_id") % PplSampleMod === 0)
      .select(col("lang"), col("nll"), col("doc_id"))
    val ordered = smp.withColumn("rn", row_number().over(
      Window.partitionBy(col("lang")).orderBy(col("nll"), col("doc_id"))))
    val n = smp.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val th = ordered.join(n, "lang")
      .groupBy(col("lang"))
      .agg(max(when(col("rn") === expr("(n + 2) div 3"), col("nll"))).as("t_head"),
           max(when(col("rn") === expr("(2 * n + 2) div 3"), col("nll"))).as("t_mid"))
    ppl.join(broadcast(th), Seq("lang"), "left")
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("nll"),
        when(col("nll") <= col("t_head"), lit("head"))
          .when(col("nll") <= col("t_mid"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
      .withColumn("keep", col("bucket") =!= "tail")
      .contractOrderBy("doc_id")
  }

  def ccnetFilterSql: String =
    s"""$perplexityCtes,
      |pl AS (
      |  SELECT p.doc_id, d.lang, p.n_tokens, p.nll
      |  FROM ppl p JOIN documents d USING (doc_id)
      |), smp AS (
      |  SELECT lang, nll, doc_id,
      |    row_number() OVER (PARTITION BY lang ORDER BY nll, doc_id) AS rn
      |  FROM pl WHERE doc_id % $PplSampleMod = 0
      |), nl AS (
      |  SELECT lang, count(*) AS n FROM smp GROUP BY lang
      |), th AS (
      |  SELECT s.lang,
      |    max(CASE WHEN s.rn = (c.n + 2) // 3 THEN s.nll END) AS t_head,
      |    max(CASE WHEN s.rn = (2 * c.n + 2) // 3 THEN s.nll END) AS t_mid
      |  FROM smp s JOIN nl c USING (lang) GROUP BY s.lang
      |), lab AS (
      |  SELECT p.doc_id, p.lang, p.n_tokens, p.nll,
      |    CASE WHEN p.nll <= t.t_head THEN 'head'
      |         WHEN p.nll <= t.t_mid THEN 'middle'
      |         ELSE 'tail' END AS bucket
      |  FROM pl p LEFT JOIN th t USING (lang)
      |)
      |SELECT doc_id, lang, n_tokens, nll, bucket, bucket != 'tail' AS keep
      |FROM lab
      |ORDER BY doc_id""".stripMargin

  /** `doc_perplexity_bigram`: Jelinek-Mercer interpolated bigram LM score
    * — the rung above [[docPerplexity]]'s unigram scorer on the CCNet
    * ladder (Wenzek et al. 2020 train a 5-gram KenLM; interpolation per
    * Chen & Goodman 1999 §2). Per token after the first,
    * `p(w2|w1) = λ·c(w1,w2)/c(w1) + (1-λ)·c(w2)/T`; the first token is
    * scored by its unigram probability. A doc whose word PAIRS are
    * corpus-typical now scores better than a bag-of-frequent-words doc —
    * the signal the unigram model is blind to.
    *
    * Determinism: each distinct bigram's interpolated log-prob is frozen
    * ONCE as `round(ln(p), 6)` DECIMAL(18,6) (§5 discipline — λ and 1-λ
    * are printed into the oracle from the same Scala doubles, so both
    * engines evaluate the identical IEEE expression), then per-doc scoring
    * is exact-decimal summation and one final 4-dp rounding.
    *
    * Scale shape: one bigram explode, one bigram-vocabulary-grain count
    * (map-side combined — the bigram vocab is the Heaps-law fringe, still
    * orders below the corpus), two vocab-grain key joins to attach c(w1)
    * and c(w2), one doc-grain aggregation. All linear, no windows, no
    * driver state beyond the 1-row total.
    */
  def docPerplexityBigram(spark: SparkSession, dir: String): DataFrame =
    docPerplexityBigramOf(Tables.documents(spark, dir))

  def docPerplexityBigramOf(docs: DataFrame): DataFrame = {
    val lam = GraftConf.pplLambda
    val oml = 1.0 - lam
    val d = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
    val tok = d.select(col("doc_id"), explode(col("ws")).as("word"))
    val c1 = tok.groupBy(col("word")).agg(count(lit(1)).as("c"))
    val total = c1.agg(sum(col("c")).cast("double").as("t"))
    // guard BEFORE sequence: sequence(1, 0) steps DOWN in Spark
    val bg = d.filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(ws) - 1),
          |  i -> named_struct('w1', element_at(ws, i), 'w2', element_at(ws, i + 1)))"""
          .stripMargin.replace("\n", ""))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c2 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val lp1 = c1.crossJoin(broadcast(total))
      .select(col("word"),
        round(log(col("c").cast("double") / col("t")), 6)
          .cast("decimal(18,6)").as("logp"))
    val lp2 = c2
      .join(c1.select(col("word").as("w1"), col("c").as("ca")), Seq("w1"))
      .join(c1.select(col("word").as("w2"), col("c").as("cb")), Seq("w2"))
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"),
        round(log(lit(lam) * (col("c2").cast("double") / col("ca").cast("double"))
          + lit(oml) * (col("cb").cast("double") / col("t"))), 6)
          .cast("decimal(18,6)").as("logp"))
    val first = d.select(col("doc_id"), element_at(col("ws"), 1).as("w1"),
      size(col("ws")).cast("long").as("n_tokens"))
      .join(lp1.select(col("word").as("w1"), col("logp").as("l1")), Seq("w1"))
    val bsum = bg.join(lp2, Seq("w1", "w2"))
      .groupBy(col("doc_id")).agg(sum(col("logp")).as("l2"))
    first.join(bsum, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        round((-(col("l1") + coalesce(col("l2"), lit(0)))).cast("double")
          / col("n_tokens"), 4).as("nll"))
      .contractOrderBy("doc_id")
  }

  def docPerplexityBigramSql: String = {
    val lam = GraftConf.pplLambda
    val oml = 1.0 - lam
    s"""WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |), tok AS (
      |  SELECT doc_id, unnest(ws) AS word FROM d
      |), c1 AS (
      |  SELECT word, count(*) AS c FROM tok GROUP BY word
      |), tot AS (
      |  SELECT CAST(sum(c) AS DOUBLE) AS t FROM c1
      |), bg0 AS (
      |  SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
      |  FROM d WHERE len(ws) >= 2
      |), bg AS (
      |  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2 FROM bg0
      |), c2 AS (
      |  SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2
      |), lp1 AS (
      |  SELECT word,
      |    CAST(round(ln(CAST(c AS DOUBLE) / (SELECT t FROM tot)), 6) AS DECIMAL(18,6)) AS logp
      |  FROM c1
      |), lp2 AS (
      |  SELECT c2.w1, c2.w2,
      |    CAST(round(ln($lam * (CAST(c2.c2 AS DOUBLE) / CAST(a.c AS DOUBLE))
      |      + $oml * (CAST(b.c AS DOUBLE) / (SELECT t FROM tot))), 6) AS DECIMAL(18,6)) AS logp
      |  FROM c2 JOIN c1 a ON c2.w1 = a.word JOIN c1 b ON c2.w2 = b.word
      |), first AS (
      |  SELECT d.doc_id, ws[1] AS w1, CAST(len(ws) AS BIGINT) AS n_tokens FROM d
      |), bsum AS (
      |  SELECT bg.doc_id, sum(lp2.logp) AS l2
      |  FROM bg JOIN lp2 ON bg.w1 = lp2.w1 AND bg.w2 = lp2.w2
      |  GROUP BY bg.doc_id
      |)
      |SELECT f.doc_id, f.n_tokens,
      |  round(CAST(-(lp1.logp + coalesce(b.l2, 0)) AS DOUBLE) / f.n_tokens, 4) AS nll
      |FROM first f
      |JOIN lp1 ON f.w1 = lp1.word
      |LEFT JOIN bsum b ON f.doc_id = b.doc_id
      |ORDER BY f.doc_id""".stripMargin
  }

  /** `doc_perplexity_kn`: interpolated KNESER-NEY bigram scoring (Kneser &
    * Ney 1995; Chen & Goodman 1999 §2.7 — the smoothing KenLM implements,
    * i.e. the ACTUAL arithmetic inside CCNet's quality LM): p(w2|w1) =
    * (c(w1,w2) − D)/c(w1) + (D/c(w1))·N1+(w1·)·p_cont(w2), with the
    * continuation probability p_cont(w2) = N1+(·w2)/N1+(··). The rung the
    * perplexity ladder was missing between [[docPerplexityBigram]]'s
    * Jelinek-Mercer interpolation and [[docPerplexitySbo]]'s backoff: KN
    * backs off to how many CONTEXTS a word completes, not how often it
    * occurs — the canonical "francisco" failure (frequent, but only ever
    * after "san") scores low where JM's unigram interpolation scores it
    * high, and the spec plants exactly that reversal. The LM trains on the
    * scored corpus itself ([[docPerplexityBigram]]'s convention), so every
    * scored bigram is observed and `max(c−D, 0) = c−D` since D < 1.
    *
    * §5 determinism: D printed into both engines from one Scala double;
    * each distinct bigram's ln p frozen ONCE as round(·,6) DECIMAL(18,6)
    * with an IDENTICALLY-parenthesized IEEE expression; first token by
    * the frozen unigram MLE; exact-decimal per-doc sums, one 4-dp round.
    *
    * Scale: the two continuation tables are bigram-TYPE-grain counts
    * (strictly smaller than the bigram table), all aggregations map-side
    * combined, scoring is n-gram-grain key joins — corpus-linear, no
    * windows; the four count tables are the persistable model artifact,
    * exactly KenLM's.
    */
  def docPerplexityKn(spark: SparkSession, dir: String): DataFrame =
    docPerplexityKnOf(Tables.documents(spark, dir))

  def docPerplexityKnOf(docs: DataFrame): DataFrame = {
    val dD = GraftConf.pplKnDiscountPct / 100.0
    val d = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
    val tok = d.select(col("doc_id"), explode(col("ws")).as("word"))
    val c1 = tok.groupBy(col("word")).agg(count(lit(1)).as("c"))
    val total = c1.agg(sum(col("c")).cast("double").as("t"))
    val bg = d.filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(ws) - 1),
          |  i -> named_struct('w1', element_at(ws, i), 'w2', element_at(ws, i + 1)))"""
          .stripMargin.replace("\n", ""))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c2 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val nfw = c2.groupBy(col("w1")).agg(count(lit(1)).as("nfw"))
    val nbw = c2.groupBy(col("w2")).agg(count(lit(1)).as("nbw"))
    val na = c2.agg(count(lit(1)).cast("double").as("na"))
    val lp1 = c1.crossJoin(broadcast(total))
      .select(col("word"),
        round(log(col("c").cast("double") / col("t")), 6)
          .cast("decimal(18,6)").as("logp"))
    val lp2 = c2
      .join(c1.select(col("word").as("w1"), col("c").as("ca")), Seq("w1"))
      .join(nfw, Seq("w1"))
      .join(nbw, Seq("w2"))
      .crossJoin(broadcast(na))
      .select(col("w1"), col("w2"),
        round(log((col("c2").cast("double") - lit(dD)
          + lit(dD) * col("nfw").cast("double")
            * (col("nbw").cast("double") / col("na")))
          / col("ca").cast("double")), 6)
          .cast("decimal(18,6)").as("logp"))
    val first = d.select(col("doc_id"), element_at(col("ws"), 1).as("w1"),
      size(col("ws")).cast("long").as("n_tokens"))
      .join(lp1.select(col("word").as("w1"), col("logp").as("l1")), Seq("w1"))
    val bsum = bg.join(lp2, Seq("w1", "w2"))
      .groupBy(col("doc_id")).agg(sum(col("logp")).as("l2"))
    first.join(bsum, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        round((-(col("l1") + coalesce(col("l2"), lit(0)))).cast("double")
          / col("n_tokens"), 4).as("nll"))
      .contractOrderBy("doc_id")
  }

  def docPerplexityKnSql: String = {
    val dD = GraftConf.pplKnDiscountPct / 100.0
    s"""WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |), tok AS (
      |  SELECT doc_id, unnest(ws) AS word FROM d
      |), c1 AS (
      |  SELECT word, count(*) AS c FROM tok GROUP BY word
      |), tot AS (
      |  SELECT CAST(sum(c) AS DOUBLE) AS t FROM c1
      |), bg0 AS (
      |  SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
      |  FROM d WHERE len(ws) >= 2
      |), bg AS (
      |  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2 FROM bg0
      |), c2 AS (
      |  SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2
      |), nfw AS (
      |  SELECT w1, count(*) AS nfw FROM c2 GROUP BY w1
      |), nbw AS (
      |  SELECT w2, count(*) AS nbw FROM c2 GROUP BY w2
      |), nat AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS na FROM c2
      |), lp1 AS (
      |  SELECT word,
      |    CAST(round(ln(CAST(c AS DOUBLE) / (SELECT t FROM tot)), 6) AS DECIMAL(18,6)) AS logp
      |  FROM c1
      |), lp2 AS (
      |  SELECT c2.w1, c2.w2,
      |    CAST(round(ln((CAST(c2.c2 AS DOUBLE) - $dD
      |      + $dD * CAST(f.nfw AS DOUBLE) * (CAST(b2.nbw AS DOUBLE) / (SELECT na FROM nat)))
      |      / CAST(a.c AS DOUBLE)), 6) AS DECIMAL(18,6)) AS logp
      |  FROM c2 JOIN c1 a ON c2.w1 = a.word
      |  JOIN nfw f ON c2.w1 = f.w1
      |  JOIN nbw b2 ON c2.w2 = b2.w2
      |), first AS (
      |  SELECT d.doc_id, ws[1] AS w1, CAST(len(ws) AS BIGINT) AS n_tokens FROM d
      |), bsum AS (
      |  SELECT bg.doc_id, sum(lp2.logp) AS l2
      |  FROM bg JOIN lp2 ON bg.w1 = lp2.w1 AND bg.w2 = lp2.w2
      |  GROUP BY bg.doc_id
      |)
      |SELECT f.doc_id, f.n_tokens,
      |  round(CAST(-(lp1.logp + coalesce(b.l2, 0)) AS DOUBLE) / f.n_tokens, 4) AS nll
      |FROM first f
      |JOIN lp1 ON f.w1 = lp1.word
      |LEFT JOIN bsum b ON f.doc_id = b.doc_id
      |ORDER BY f.doc_id""".stripMargin
  }

  /** `doc_perplexity_sbo`: trigram Stupid Backoff scoring (Brants et al.
    * 2007 §4 — THE web-scale distributed LM: no discount normalization,
    * just count ratios with a fixed α per backoff level, chosen precisely
    * because it trains/serves as embarrassingly parallel count tables).
    * The rung above [[docPerplexityBigram]]'s interpolated bigram toward
    * CCNet's 5-gram KenLM.
    *
    * Counts come from the `doc_id % `[[GraftConf.pplSboTrainMod]]` == 0`
    * slice (the held-out-LM shape — `perplexity_buckets`' sample
    * discipline; training on everything would make backoff unreachable:
    * every observed trigram has count ≥ 1 in its own LM). Every doc is
    * scored. Per position: S = c3/c2(prefix) at the trigram level, else
    * α·c2/c1(prefix), else α²·(c1+1)/(N+V) (+1-smoothed unigram so OOV
    * words score finitely; N = train tokens, V = train vocab). Positions
    * 1-2 start at their highest available level.
    *
    * §5 determinism: each level's log-ratio is frozen ONCE per distinct
    * n-gram as round(ln(·),6) DECIMAL(18,6) (the [[docPerplexityBigram]]
    * precedent); ln α is computed from the SAME Scala double and printed
    * into both engines' plans, so a backed-off position's contribution
    * `k·lnα + frozen` is exact decimal arithmetic; per-doc sums are exact
    * decimal, one 4-dp rounding at the end. Level counts (n_tri/n_big/
    * n_uni) partition n_tokens exactly.
    *
    * Scale: three map-side-combined count aggregations (token, bigram,
    * trigram grain) over the train slice, n-gram-grain key joins for the
    * frozen tables, position rows join those tables by n-gram key — all
    * linear, no windows, no driver state. The count tables ARE the model
    * artifact (Brants' whole point): a deployment persists them once and
    * every scoring pass is joins.
    */
  def docPerplexitySbo(spark: SparkSession, dir: String): DataFrame =
    docPerplexitySboOf(Tables.documents(spark, dir))

  def docPerplexitySboOf(docs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
    sboScoreOf(d, sboModelOf(d))
  }

  /** `lm_coverage_report`: per-source LM coverage — how much of each crawl
    * source the trigram model actually EXPLAINS, in integer basis points
    * of scoring positions per backoff level. `tri_bp` and `uni_bp` are
    * floor-divided from the raw counts; `big_bp` is emitted as
    * `10000 − tri_bp − uni_bp` (r10), so `tri_bp + big_bp + uni_bp =
    * 10000` holds LITERALLY — the bigram level absorbs both floor
    * remainders, a ≤ 2 bp distortion on the level nobody alarms on
    * (the raw `n_tri/n_big/n_uni` counts ride along un-rounded). This
    * is the drift alarm for a STORED model ([[LmIndex]]): a new crawl of
    * the same source whose `uni_bp` jumps is vocabulary the model has
    * never seen (topic shift, spam injection, language drift) and is the
    * trigger to retrain — cheaper to read than any perplexity threshold
    * because it needs no calibration. Rides [[docPerplexitySboOf]]
    * unchanged + one doc_id equi-join to recover `source` + an O(sources)
    * rollup.
    */
  def lmCoverageReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // the coverage dashboard is a monitoring READ against the deployed LM:
    // score from the same stored full-corpus SBO model
    // `doc_perplexity_sbo_stored` reads (one artifact, two consumers —
    // bench-session amortized; Verify never sets the cache and the
    // uncached path builds + scores, bit-equal by the LmIndexSpec
    // round-trip). `doc_perplexity_sbo` itself stays the in-plan
    // train+score row.
    val path = ArtifactCatalog.storedDirRoot(spark, "graft-sbo-full", dir)(p =>
      LmIndex.writeSbo(spark, dir, p))
    val perDoc = LmIndex.sboNllFrom(spark, path, docs)
      .select("doc_id", "n_tokens", "n_tri", "n_big", "n_uni")
    docs.select(col("doc_id"), col("source"))
      .join(perDoc, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_tri")).as("n_tri"),
        sum(col("n_big")).as("n_big"),
        sum(col("n_uni")).as("n_uni"))
      .withColumn("tri_bp", expr("n_tri * 10000 div n_tokens"))
      .withColumn("uni_bp", expr("n_uni * 10000 div n_tokens"))
      .withColumn("big_bp", lit(10000L) - col("tri_bp") - col("uni_bp"))
      .contractOrderBy("source")
  }

  def lmCoverageReportSql: String =
    s"""WITH s AS (
       |  SELECT * FROM (
       |$docPerplexitySboSql
       |  ) inner_s
       |)
       |SELECT d.source, count(*) AS n_docs,
       |  CAST(sum(s.n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(sum(s.n_tri) AS BIGINT) AS n_tri,
       |  CAST(sum(s.n_big) AS BIGINT) AS n_big,
       |  CAST(sum(s.n_uni) AS BIGINT) AS n_uni,
       |  CAST(sum(s.n_tri) * 10000 // sum(s.n_tokens) AS BIGINT) AS tri_bp,
       |  CAST(sum(s.n_uni) * 10000 // sum(s.n_tokens) AS BIGINT) AS uni_bp,
       |  CAST(10000 - (sum(s.n_tri) * 10000 // sum(s.n_tokens))
       |    - (sum(s.n_uni) * 10000 // sum(s.n_tokens)) AS BIGINT) AS big_bp
       |FROM s JOIN documents d ON s.doc_id = d.doc_id
       |GROUP BY d.source
       |ORDER BY d.source""".stripMargin

  /** The persisted-model shape of the SBO LM: train-vocab unigram table
    * (+1-smoothed), bigram/trigram ratio tables, and the OOV constant
    * `round(ln(1/(N+V)),6)` as a 1-row frame. Scoring left-joins `lt1`
    * and coalesces misses to the OOV row — BIT-EQUAL to the old inline
    * corpus-vocab formulation (a known word scores log((c+1)/nv) and an
    * unknown one log(1/nv) either way), but the model no longer depends
    * on the SCORED corpus's vocabulary — which is what makes it storable
    * and reusable against any future crawl ([[LmIndex]]).
    */
  private[graft] final case class SboModel(lt1: DataFrame, lt2: DataFrame,
      lt3: DataFrame, oov: DataFrame)

  private[graft] def sboGrams(src: DataFrame, n: Int, cols: Seq[String]): DataFrame = {
    val fields = (0 until n)
      .map(k => s"'${cols(k)}', element_at(ws, i + $k)").mkString(", ")
    src.filter(size(col("ws")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(ws) - ${n - 1}), i -> named_struct($fields))")).as("g"))
      .select(col("doc_id") +: cols.map(c => col(s"g.$c").as(c)): _*)
  }

  /** Train the SBO count-ratio tables from the `doc_id % trainMod == 0`
    * slice of a (doc_id, ws) frame. Three map-side-combined count
    * aggregations + n-gram-grain key joins — the count tables ARE the
    * model (Brants 2007's point), so this is the write path's whole cost.
    */
  private[graft] def sboModelOf(d: DataFrame): SboModel = {
    val (c1, c2, c3) = sboCountsOf(d)
    sboModelFromCounts(c1, c2, c3)
  }

  /** The raw train-slice n-gram COUNT tables — (c1, c2, c3) at unigram/
    * bigram/trigram grain. These are the store's PRIMARY artifact
    * ([[LmIndex]]): counts are sums of per-doc contributions, so the
    * store lifecycle (append a crawl = increment, takedown = decrement)
    * is table algebra on them, which the derived log-ratio tables can
    * never support (every `lt1` row's value shifts when N+V shifts).
    */
  private[graft] def sboCountsOf(d: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val mod = GraftConf.pplSboTrainMod
    val train = d.filter(col("doc_id") % mod === 0)
    val tok = train.select(explode(col("ws")).as("word"))
    (tok.groupBy(col("word")).agg(count(lit(1)).as("c")),
      sboGrams(train, 2, Seq("w1", "w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2")),
      sboGrams(train, 3, Seq("w1", "w2", "w3"))
        .groupBy(col("w1"), col("w2"), col("w3")).agg(count(lit(1)).as("c3")))
  }

  /** Derive the frozen log-ratio tables from the count tables — pure
    * deterministic arithmetic (each ln rounded once to 6 dp, frozen as
    * DECIMAL), so the model is bit-equal whether the counts were just
    * aggregated in-plan or read back from [[LmIndex]]'s parquet store
    * after any number of append/retract cycles.
    */
  private[graft] def sboModelFromCounts(c1in: DataFrame, c2: DataFrame,
      c3: DataFrame): SboModel = {
    val c1 = Intermediates.persist(c1in)
    // (N + V) as one broadcast row: train token count + train vocab size
    val tot = c1.agg((sum(col("c")) + count(lit(1))).cast("double").as("nv"))
    // frozen log tables, one row per distinct TRAIN n-gram
    val lt1 = c1.crossJoin(broadcast(tot))
      .select(col("word"),
        round(log((col("c") + 1).cast("double") / col("nv")), 6)
          .cast("decimal(18,6)").as("lp1"))
    val lt2 = c2.join(c1.select(col("word").as("w1"), col("c").as("cp")), Seq("w1"))
      .select(col("w1"), col("w2"),
        round(log(col("c2").cast("double") / col("cp").cast("double")), 6)
          .cast("decimal(18,6)").as("lp2"))
    val lt3 = c3.join(c2.select(col("w1"), col("w2"), col("c2").as("cp")), Seq("w1", "w2"))
      .select(col("w1"), col("w2"), col("w3"),
        round(log(col("c3").cast("double") / col("cp").cast("double")), 6)
          .cast("decimal(18,6)").as("lp3"))
    val oov = tot.select(round(log(lit(1.0) / col("nv")), 6)
      .cast("decimal(18,6)").as("lp_oov"))
    SboModel(lt1, lt2, lt3, oov)
  }

  /** Score a (doc_id, ws) frame against an [[SboModel]] — whether the
    * model was just trained in-plan or read back from [[LmIndex]]'s
    * parquet store. ln α is a SCORE-time knob (frozen the same way in
    * both engines), so one stored model serves any α.
    */
  private[graft] def sboScoreOf(d: DataFrame, m: SboModel): DataFrame = {
    val lnA = java.math.BigDecimal.valueOf(
      math.log(GraftConf.pplSboAlphaPct / 100.0))
      .setScale(6, java.math.RoundingMode.HALF_UP).toPlainString
    val lnAlpha = expr(s"cast($lnA as decimal(18,6))")
    val oovB = broadcast(m.oov)
    // per-position contributions tagged with the level that scored them
    val p1 = d.select(col("doc_id"), element_at(col("ws"), 1).as("word"))
      .join(m.lt1, Seq("word"), "left")
      .crossJoin(oovB)
      .select(col("doc_id"), lit(1).as("lvl"),
        coalesce(col("lp1"), col("lp_oov")).as("lp"))
    val p2 = d.filter(size(col("ws")) >= 2)
      .select(col("doc_id"), element_at(col("ws"), 1).as("w1"),
        element_at(col("ws"), 2).as("w2"))
      .join(m.lt2, Seq("w1", "w2"), "left")
      .join(m.lt1.select(col("word").as("w2"), col("lp1")), Seq("w2"), "left")
      .crossJoin(oovB)
      .select(col("doc_id"),
        when(col("lp2").isNotNull, lit(2)).otherwise(lit(1)).as("lvl"),
        when(col("lp2").isNotNull, col("lp2"))
          .otherwise(lnAlpha + coalesce(col("lp1"), col("lp_oov"))).as("lp"))
    val p3 = sboGrams(d, 3, Seq("w1", "w2", "w3"))
      .join(m.lt3, Seq("w1", "w2", "w3"), "left")
      .join(m.lt2.select(col("w1").as("w2"), col("w2").as("w3"), col("lp2")),
        Seq("w2", "w3"), "left")
      .join(m.lt1.select(col("word").as("w3"), col("lp1")), Seq("w3"), "left")
      .crossJoin(oovB)
      .select(col("doc_id"),
        when(col("lp3").isNotNull, lit(3))
          .when(col("lp2").isNotNull, lit(2)).otherwise(lit(1)).as("lvl"),
        when(col("lp3").isNotNull, col("lp3"))
          .when(col("lp2").isNotNull, lnAlpha + col("lp2"))
          .otherwise(lnAlpha + lnAlpha + coalesce(col("lp1"), col("lp_oov"))).as("lp"))
    p1.unionByName(p2).unionByName(p3)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("lvl") === 3, 1L).otherwise(0L)).as("n_tri"),
        sum(when(col("lvl") === 2, 1L).otherwise(0L)).as("n_big"),
        sum(when(col("lvl") === 1, 1L).otherwise(0L)).as("n_uni"),
        sum(col("lp")).as("l"))
      .select(col("doc_id"), col("n_tokens"), col("n_tri"), col("n_big"),
        col("n_uni"),
        round((-col("l")).cast("double") / col("n_tokens"), 4).as("nll"))
      .contractOrderBy("doc_id")
  }

  def docPerplexitySboSql: String = docPerplexitySboSqlFor("")

  /** The SBO oracle with an extra train-slice predicate — the takedown
    * row's oracle trains on the slice MINUS the erased set (`AND doc_id
    * % 7 <> 0`), the independent formulation of "retract = the store a
    * fresh train over corpus ∖ S writes". Scoring always covers the
    * full corpus; only the training relation shrinks.
    */
  private[graft] def docPerplexitySboSqlFor(extraTrainFilter: String): String = {
    val mod = GraftConf.pplSboTrainMod
    val lnA = java.math.BigDecimal.valueOf(
      math.log(GraftConf.pplSboAlphaPct / 100.0))
      .setScale(6, java.math.RoundingMode.HALF_UP).toPlainString
    s"""WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |), tr AS (
      |  SELECT * FROM d WHERE doc_id % $mod = 0$extraTrainFilter
      |), c1 AS (
      |  SELECT word, count(*) AS c FROM (SELECT unnest(ws) AS word FROM tr)
      |  GROUP BY word
      |), tot AS (
      |  SELECT CAST(sum(c) + count(*) AS DOUBLE) AS nv FROM c1
      |), bg AS (
      |  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
      |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
      |        FROM tr WHERE len(ws) >= 2)
      |), c2 AS (
      |  SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2
      |), tg AS (
      |  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2, ws[i + 2] AS w3
      |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i
      |        FROM tr WHERE len(ws) >= 3)
      |), c3 AS (
      |  SELECT w1, w2, w3, count(*) AS c3 FROM tg GROUP BY w1, w2, w3
      |), lt1 AS (
      |  SELECT v.word,
      |    CAST(round(ln(CAST(coalesce(c1.c, 0) + 1 AS DOUBLE) / (SELECT nv FROM tot)), 6)
      |      AS DECIMAL(18,6)) AS lp1
      |  FROM (SELECT DISTINCT unnest(ws) AS word FROM d) v
      |  LEFT JOIN c1 ON v.word = c1.word
      |), lt2 AS (
      |  SELECT c2.w1, c2.w2,
      |    CAST(round(ln(CAST(c2.c2 AS DOUBLE) / CAST(p.c AS DOUBLE)), 6)
      |      AS DECIMAL(18,6)) AS lp2
      |  FROM c2 JOIN c1 p ON c2.w1 = p.word
      |), lt3 AS (
      |  SELECT c3.w1, c3.w2, c3.w3,
      |    CAST(round(ln(CAST(c3.c3 AS DOUBLE) / CAST(p.c2 AS DOUBLE)), 6)
      |      AS DECIMAL(18,6)) AS lp3
      |  FROM c3 JOIN c2 p ON c3.w1 = p.w1 AND c3.w2 = p.w2
      |), la AS (
      |  SELECT CAST($lnA AS DECIMAL(18,6)) AS v
      |), p1 AS (
      |  SELECT d.doc_id, 1 AS lvl, lt1.lp1 AS lp
      |  FROM d JOIN lt1 ON ws[1] = lt1.word
      |), p2 AS (
      |  SELECT b.doc_id,
      |    CASE WHEN l2.lp2 IS NOT NULL THEN 2 ELSE 1 END AS lvl,
      |    CASE WHEN l2.lp2 IS NOT NULL THEN l2.lp2
      |         ELSE (SELECT v FROM la) + l1.lp1 END AS lp
      |  FROM (SELECT doc_id, ws[1] AS w1, ws[2] AS w2 FROM d WHERE len(ws) >= 2) b
      |  LEFT JOIN lt2 l2 ON b.w1 = l2.w1 AND b.w2 = l2.w2
      |  JOIN lt1 l1 ON b.w2 = l1.word
      |), p3 AS (
      |  SELECT g.doc_id,
      |    CASE WHEN l3.lp3 IS NOT NULL THEN 3
      |         WHEN l2.lp2 IS NOT NULL THEN 2 ELSE 1 END AS lvl,
      |    CASE WHEN l3.lp3 IS NOT NULL THEN l3.lp3
      |         WHEN l2.lp2 IS NOT NULL THEN (SELECT v FROM la) + l2.lp2
      |         ELSE (SELECT v FROM la) + (SELECT v FROM la) + l1.lp1 END AS lp
      |  FROM (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2, ws[i + 2] AS w3
      |        FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i
      |              FROM d WHERE len(ws) >= 3)) g
      |  LEFT JOIN lt3 l3 ON g.w1 = l3.w1 AND g.w2 = l3.w2 AND g.w3 = l3.w3
      |  LEFT JOIN lt2 l2 ON g.w2 = l2.w1 AND g.w3 = l2.w2
      |  JOIN lt1 l1 ON g.w3 = l1.word
      |), allp AS (
      |  SELECT * FROM p1 UNION ALL SELECT * FROM p2 UNION ALL SELECT * FROM p3
      |)
      |SELECT doc_id,
      |  CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(sum(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_tri,
      |  CAST(sum(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
      |  CAST(sum(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_uni,
      |  round(CAST(-sum(lp) AS DOUBLE) / count(*), 4) AS nll
      |FROM allp GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin
  }

  /** `doc_fingerprint`: whole-content md5 + winnowing-style min-shingle
    * fingerprint (min md5 over 5-gram shingles — the rolling-hash
    * fingerprint family).
    */
  val FpShingle = 5

  def docFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val parts = (1 to FpShingle).map(k => s"element_at(ws, i + $k)").mkString(", ")
    Tables.documents(spark, dir)
      .withColumn("ws", split(col("text"), " "))
      // short-doc guard: ANSI element_at past the end throws (see Dedup)
      .withColumn("sh5",
        expr(s"CASE WHEN size(ws) >= $FpShingle THEN transform(sequence(0, size(ws) - $FpShingle), i -> concat_ws(' ', $parts)) ELSE array(text) END"))
      .withColumn("content_md5", md5(col("text")))
      .withColumn("winnow_fp", expr("array_min(transform(sh5, s -> substr(md5(s), 1, 16)))"))
      .select("doc_id", "content_md5", "winnow_fp")
      .contractOrderBy("doc_id")
  }

  val docFingerprintSql: String = {
    val parts = (0 until FpShingle).map(k => s"ws[i + $k]").mkString(" || ' ' || ")
    s"""WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents)
       |SELECT doc_id, md5(text) AS content_md5,
       |  list_min(list_transform(
       |    CASE WHEN len(ws) >= $FpShingle
       |      THEN list_transform(generate_series(1, len(ws) - ${FpShingle - 1}), i -> $parts)
       |      ELSE [text] END,
       |    s -> substr(md5(s), 1, 16))) AS winnow_fp
       |FROM d
       |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------------
  // PII scrubbing — training corpora redact emails/phones/IPs before any
  // model sees them. Patterns are fixed constants (NOT conf-driven: a
  // regex in a conf would be an injection surface into generated SQL, the
  // same reason bm25 terms are validated) and deliberately use only
  // syntax with identical semantics in Java regex and RE2: character
  // classes, bounded repetition, ASCII \b. No lookaround, no backrefs.
  // --------------------------------------------------------------------

  /** Email, RFC-ish practical form. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  /** NANP-style phone: 3-3-4 digit groups with -, . or space separators. */
  val PhoneRe = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"
  /** Dotted-quad IPv4 (permissive octets — a scrubber over-redacts). */
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Scrub order is semantic and must match the oracle exactly: emails
    * first (their domains contain dots that the IPv4 pattern could
    * otherwise bite), then phones, then IPs. Counts are taken on the
    * ORIGINAL text. Exposed as a Column→Column so specs can run it over
    * planted in-memory rows, not just the documents table.
    */
  def scrubPiiCol(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "[EMAIL]"),
        PhoneRe, "[PHONE]"),
      Ipv4Re, "[IP]")

  /** Per-row PII category counts, taken on the original text. Factored
    * over an arbitrary DataFrame so specs run it on planted rows — the
    * shipped corpus is synthetic word-soup with no PII, so the planted
    * path is where the semantics are actually exercised.
    */
  def piiCountsOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("n_emails", regexp_count(col("text"), lit(EmailRe)).cast("long"))
      .withColumn("n_phones", regexp_count(col("text"), lit(PhoneRe)).cast("long"))
      .withColumn("n_ipv4", regexp_count(col("text"), lit(Ipv4Re)).cast("long"))

  /** `pii_audit`: per-source PII exposure report — documents affected and
    * hits per category. The compliance-dashboard twin of
    * [[CorpusOps.textNormalize]]'s rewriting (which redacts but does not
    * account): an auditor asks WHICH crawl source leaks PII and how much,
    * before anyone rewrites anything. Stateless projection + one
    * source-keyed hash aggregation — corpus-linear, map-side partials,
    * output is O(sources).
    */
  def piiAudit(spark: SparkSession, dir: String): DataFrame =
    piiCountsOf(Tables.documents(spark, dir))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_emails") + col("n_phones") + col("n_ipv4") > 0, 1L).otherwise(0L))
          .as("docs_with_pii"),
        sum(col("n_emails")).as("n_emails"),
        sum(col("n_phones")).as("n_phones"),
        sum(col("n_ipv4")).as("n_ipv4"))
      .contractOrderBy("source")

  val piiAuditSql: String =
    s"""WITH c AS (
       |  SELECT source,
       |    CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS n_emails,
       |    CAST(len(regexp_extract_all(text, '$PhoneRe')) AS BIGINT) AS n_phones,
       |    CAST(len(regexp_extract_all(text, '$Ipv4Re')) AS BIGINT) AS n_ipv4
       |  FROM documents
       |)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN n_emails + n_phones + n_ipv4 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
       |  CAST(sum(n_emails) AS BIGINT) AS n_emails, CAST(sum(n_phones) AS BIGINT) AS n_phones,
       |  CAST(sum(n_ipv4) AS BIGINT) AS n_ipv4
       |FROM c GROUP BY source
       |ORDER BY source""".stripMargin

  /** `doc_repetition`: Gopher-style repetition signals per document —
    * the most-frequent word bigram and the character fraction it covers,
    * plus the character fraction covered by duplicated trigrams (Rae et
    * al. 2021 §A1.1 "repetition" filters, reduced to deterministic
    * integer counts + ONE rounded division each). Three doc_id-keyed
    * hash aggregations — linear, fully distributed, no global state;
    * the per-doc window is partitioned on doc_id, never a single
    * partition.
    */
  def docRepetition(spark: SparkSession, dir: String): DataFrame =
    docRepetitionOf(Tables.documents(spark, dir))

  /** Core over any (doc_id, text, n_chars) frame — specs plant crafted docs. */
  def docRepetitionOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs
      .withColumn("ws", split(col("text"), " "))
    val base = d.select("doc_id", "n_chars")

    def grams(n: Int): DataFrame = {
      val parts = (1 to n).map(j => s"element_at(ws, i + $j)").mkString(", ")
      d.filter(size(col("ws")) >= n)
        .select(col("doc_id"),
          explode(expr(s"transform(sequence(0, size(ws) - $n), i -> concat_ws(' ', $parts))")).as("g"))
    }

    val biCnt = grams(2).groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
    val topBi = biCnt
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("cnt").desc, col("g"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("g").as("top_bigram"), col("cnt").as("top_bigram_n"))

    val triDup = grams(3).groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
      .groupBy("doc_id")
      .agg(sum(col("cnt") * length(col("g")).cast("long")).as("dup3_chars"))

    // greatest(n_chars, 1): a zero-length document must yield DEFINED zero
    // fractions in both engines, not a silent null/NaN division
    val denom = greatest(col("n_chars"), lit(1L))
    base.join(topBi, Seq("doc_id"), "left")
      .join(triDup, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("top_bigram"), lit("")).as("top_bigram"),
        coalesce(col("top_bigram_n"), lit(0L)).as("top_bigram_n"),
        round((coalesce(col("top_bigram_n"), lit(0L)) *
          length(coalesce(col("top_bigram"), lit(""))).cast("long")).cast("double") / denom, 4)
          .as("top2_char_frac"),
        round(coalesce(col("dup3_chars"), lit(0L)).cast("double") / denom, 4)
          .as("dup3_char_frac"))
      .contractOrderBy("doc_id")
  }

  val docRepetitionSql: String =
    """WITH d AS (
      |  SELECT doc_id, n_chars, string_split(text, ' ') AS ws FROM documents
      |), bi AS (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ws)-1), i -> ws[i] || ' ' || ws[i+1])) AS g
      |  FROM d WHERE len(ws) >= 2
      |), bic AS (
      |  SELECT doc_id, g, count(*) AS cnt FROM bi GROUP BY doc_id, g
      |), topbi AS (
      |  SELECT doc_id, g AS top_bigram, cnt AS top_bigram_n
      |  FROM (SELECT doc_id, g, cnt, row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g) AS rn FROM bic)
      |  WHERE rn = 1
      |), tri AS (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ws)-2), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g
      |  FROM d WHERE len(ws) >= 3
      |), tric AS (
      |  SELECT doc_id, sum(cnt * CAST(length(g) AS BIGINT)) AS dup3_chars
      |  FROM (SELECT doc_id, g, count(*) AS cnt FROM tri GROUP BY doc_id, g) WHERE cnt >= 2 GROUP BY doc_id
      |)
      |SELECT d.doc_id, coalesce(top_bigram, '') AS top_bigram,
      |  coalesce(top_bigram_n, 0) AS top_bigram_n,
      |  round(CAST(coalesce(top_bigram_n, 0) * CAST(length(coalesce(top_bigram, '')) AS BIGINT) AS DOUBLE) / greatest(n_chars, 1), 4) AS top2_char_frac,
      |  round(CAST(coalesce(dup3_chars, 0) AS DOUBLE) / greatest(n_chars, 1), 4) AS dup3_char_frac
      |FROM d LEFT JOIN topbi ON d.doc_id = topbi.doc_id LEFT JOIN tric ON d.doc_id = tric.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** `dup_substrings`: cross-document repeated K-word windows — the signal
    * behind exact-substring dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better": a 100 TB corpus carries
    * boilerplate repeated verbatim across documents; suffix arrays find
    * it single-node, a distributed engine finds it as duplicated rolling
    * windows). One explode + one hash aggregation with map-side partial
    * counts, then TakeOrdered top-N — never a global sort of the gram
    * table. Window width and N are deployment knobs.
    */
  def dupSubstrings(spark: SparkSession, dir: String): DataFrame =
    dupSubstringsOf(Tables.documents(spark, dir))

  /** Core over any (doc_id, text) frame — specs plant cross-doc windows. */
  def dupSubstringsOf(docs: DataFrame): DataFrame = {
    val k = GraftConf.dupWindowWords
    val topN = GraftConf.dupTopN
    val parts = (1 to k).map(j => s"element_at(ws, i + $j)").mkString(", ")
    docs
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= k)
      .select(col("doc_id"),
        explode(expr(s"transform(sequence(0, size(ws) - $k), i -> concat_ws(' ', $parts))")).as("g"))
      .groupBy("g")
      .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occ"))
      .filter(col("n_docs") >= 2)
      // semantic top-N (TakeOrderedAndProject), not a contract sort
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("g"))
      .limit(topN)
  }

  def dupSubstringsSql: String = {
    val k = GraftConf.dupWindowWords
    val topN = GraftConf.dupTopN
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |g AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - ${k - 1}), i -> array_to_string(ws[i:i+${k - 1}], ' '))) AS g
       |  FROM d WHERE len(ws) >= $k
       |)
       |SELECT g, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
       |FROM g GROUP BY g HAVING count(DISTINCT doc_id) >= 2
       |ORDER BY n_docs DESC, n_occ DESC, g LIMIT $topN""".stripMargin
  }

  /** Occurrence order key for the ORACLE SQL (always) and the Spark
    * fast path (opt-in): (doc_id, offset) packed into one BIGINT so
    * "first occurrence" of a duplicated window is a plain min(). 2^20
    * bounds the word offset and keeps doc_id ≤ 2^43 overflow-free —
    * true of the synthetic corpus the oracle runs on. The SPARK side
    * DEFAULTS to min()ing a `struct(doc_id, offset)` (same
    * lexicographic order, still map-side combinable, no window sort):
    * crawl-bridged corpora carry 60-bit hashed doc_ids, where the
    * packed BIGINT would overflow ANSI-fatally.
    */
  private val OccKey = 1048576L

  /** The keep-first occurrence key, in whichever representation the
    * session selected: `struct(doc_id, offset)` by default (correct for
    * ANY id width), or the packed BIGINT when
    * `spark.graft.dedup.packedOccKey` opts in — a codegen-primitive
    * min/compare instead of interpreted struct ordering, measurably
    * faster on the fingerprint-heavy `winnow_cut` lane (r18 A/B:
    * 6.98 → 5.70 s min at sf0.1), valid ONLY where doc_id < 2^43 is a
    * corpus invariant (the synthetic tables; never the 60-bit crawl
    * bridge). Both representations order identically under the
    * precondition, so the kept set — and the oracle, which always uses
    * the packed form — cannot drift.
    */
  private def occFirstKey(d: Column, p: Column): Column =
    if (GraftConf.dedupPackedOccKey) d * OccKey + p else struct(d, p)

  /** `dedup_substrings_cut`: the ACT step of exact-substring dedup (Lee et
    * al. 2022) — [[dupSubstrings]] *reports* cross-document duplicated
    * K-word windows; this removes them. Deterministic span selection: for
    * every window duplicated across ≥ 2 docs, the globally first occurrence
    * (min (doc_id, offset)) keeps its words; every word position covered by
    * any OTHER occurrence is cut. Output is the cleaned text plus removed
    * word/char accounting per document.
    *
    * Scale shape: one explode to the gram table, one map-side-combined
    * aggregation per gram (dup detection + first-occurrence min in the same
    * pass), one key-join back on the gram, a bounded K-row explode per cut
    * occurrence, and doc-grain aggregations — all key shuffles, never a
    * per-doc O(L²) expression or a global sort. The cut-position set is
    * bounded by K × duplicated occurrences, a small fraction of corpus
    * words on a real crawl.
    */
  def dedupSubstringsCut(spark: SparkSession, dir: String): DataFrame =
    dedupSubstringsCutOf(Tables.documents(spark, dir))

  /** Core over any (doc_id, text) frame — specs plant cross-doc windows and
    * re-run [[dupSubstringsOf]] over the output to prove zero residue.
    */
  def dedupSubstringsCutOf(docs: DataFrame): DataFrame = {
    val k = GraftConf.dupWindowWords
    val parts = (1 to k).map(j => s"element_at(ws, i + $j)").mkString(", ")
    val d = docs.withColumn("ws", split(col("text"), " "))
    val grams = d.filter(size(col("ws")) >= k)
      .select(col("doc_id"),
        posexplode(expr(s"transform(sequence(0, size(ws) - $k), i -> concat_ws(' ', $parts))"))
          .as(Seq("i", "g")))
    // dup windows and their first occurrence in ONE aggregation over the
    // gram table; only duplicated grams survive to the join back
    val dup = grams.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("nd"),
        min(occFirstKey(col("doc_id"), col("i"))).as("first_key"))
      .filter(col("nd") >= 2)
      .select("g", "first_key")
    val cuts = grams.join(dup, "g")
      .filter(occFirstKey(col("doc_id"), col("i")) =!= col("first_key"))
      .select(col("doc_id"), explode(expr(s"sequence(i, i + ${k - 1})")).as("pos"))
      .distinct()
    // per-doc cut-position ARRAY joined back to the intact doc row (r18 —
    // the winnow_cut reconstruction rewrite, 0-based positions here): the
    // corpus-grain word posexplode + collect_list(struct) shuffle is gone;
    // only cut positions shuffle, the rebuild is one stateless projection.
    val cutsArr = cuts.groupBy(col("doc_id"))
      .agg(collect_list(col("pos")).as("cutp"))
    d.join(cutsArr, Seq("doc_id"), "left_outer")
      .withColumn("cutp",
        coalesce(col("cutp"), expr("cast(array() as array<int>)")))
      .select(col("doc_id"),
        expr("array_join(transform(array_except(sequence(0, size(ws) - 1), cutp), " +
          "p -> element_at(ws, p + 1)), ' ')").as("clean_text"),
        (size(col("ws")) - size(col("cutp"))).cast("long").as("n_words_kept"),
        size(col("cutp")).cast("long").as("n_words_cut"),
        expr("aggregate(cutp, 0L, (acc, p) -> acc + length(element_at(ws, p + 1)))")
          .as("n_chars_cut"))
      .contractOrderBy("doc_id")
  }

  // ---- winnowing ----------------------------------------------------------

  /** Per-doc winnowing fingerprint selection (Schleimer et al. 2003, the
    * MOSS algorithm): hash every [[GraftConf.winnowK]]-word gram, slide a
    * [[GraftConf.winnowW]]-gram window, keep each window's MINIMUM hash —
    * the distinct kept hashes are the doc's fingerprints. Guarantees:
    * any exact match of ≥ w+k-1 words between two docs shares at least
    * one fingerprint (detection), no match shorter than k words is ever
    * seen (noise), and the expected kept fraction is 2/(w+1) of grams —
    * the index is a ~w/2× cheaper SAMPLE of [[dupSubstrings]]' full gram
    * table with a detection guarantee MinHash doesn't give (MinHash bounds
    * whole-doc Jaccard; winnowing bounds the matched SPAN).
    *
    * Gram hashes are the repo's standard 40-bit md5 prefix (`u40`
    * discipline) so both engines agree bit-for-bit; window argmin is the
    * plain hash min (hash ties collapse to the same fingerprint VALUE, so
    * the selected set is tiebreak-free by construction).
    */
  private def winnowHashExpr(k: Int): String =
    // fused native gram-hash (r18): one digest pass per window, no joined
    // gram string / hex / conv allocations; empty for size(ws) < k exactly
    // like the guarded transform chain it replaces
    s"graft_gram_hash(ws, $k, 10)"

  /** Window-argmin over a BOUND `hs` column. `hs` must be materialized by its
    * own projection first (Spark does not common-subexpression-eliminate
    * inside higher-order-function lambdas, so inlining the gram-hash array
    * into the per-window lambda re-hashes every gram once per window —
    * O(L²) per document; CollapseProject leaves the two projections apart
    * because `hs` is non-cheap and referenced more than once here).
    *
    * r19: the per-window `array_min(slice)` lambda chain — O(L·w)
    * interpreted HOF work per doc — is now the native O(L) monotonic-deque
    * pass `graft_winnow_pos`; the distinct VALUES come off its
    * already-(fp,pos)-distinct selection (array_distinct keeps the guarded
    * CASE's exact value set: a value selected anywhere is selected here,
    * and the < w branch is the expression's single clamped window).
    */
  private def winnowSelExpr(w: Int): String =
    s"array_distinct(transform(graft_winnow_pos(hs, $w), s -> s.fp))"

  /** `doc_winnow`: per-doc fingerprint accounting — gram count, selected
    * fingerprint count, density (expected ≈ 2/(w+1), spec-banded).
    * One stateless projection; the fingerprint array never leaves the doc
    * row here.
    */
  def docWinnow(spark: SparkSession, dir: String): DataFrame =
    docWinnowOf(Tables.documents(spark, dir))

  def docWinnowOf(docs: DataFrame): DataFrame = {
    val k = GraftConf.winnowK
    docs
      .withColumn("ws", split(col("text"), " "))
      .withColumn("hs", expr(winnowHashExpr(k)))
      .withColumn("fps", expr(winnowSelExpr(GraftConf.winnowW)))
      .withColumn("n_grams", greatest(size(col("ws")) - (k - 1), lit(0)).cast("long"))
      .withColumn("n_fps", size(col("fps")).cast("long"))
      .select(col("doc_id"), col("n_grams"), col("n_fps"),
        round(coalesce(col("n_fps").cast("double") / nullif(col("n_grams"), lit(0L)), lit(0.0)), 4)
          .as("density"))
      .contractOrderBy("doc_id")
  }

  /** `winnow_matches`: cross-doc fingerprint collisions — pairs of docs
    * sharing ≥ 1 selected fingerprint, with the shared count. The
    * MOSS-style provenance/plagiarism report, and the scale path for
    * exact-substring dup detection: the join runs over the ~2/(w+1)
    * fingerprint sample instead of the full gram table, with the
    * band-join hot-bucket cap ([[GraftConf.winnowFpCap]]) bounding
    * boilerplate fingerprints' pair fan-out.
    */
  def winnowMatches(spark: SparkSession, dir: String): DataFrame =
    winnowMatchesOf(Tables.documents(spark, dir))

  def winnowMatchesOf(docs: DataFrame): DataFrame = {
    val cap = GraftConf.winnowFpCap
    // no cross-row distinct (r19): winnowSelExpr's per-doc value array is
    // already distinct, so (doc_id, fp) rows can't collide — the distinct
    // Exchange was pure overhead
    val fpd = docs
      .withColumn("ws", split(col("text"), " "))
      .withColumn("hs", expr(winnowHashExpr(GraftConf.winnowK)))
      .select(col("doc_id"), explode(expr(winnowSelExpr(GraftConf.winnowW))).as("fp"))
    val occ = fpd.groupBy(col("fp")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2 && col("n_docs") <= cap)
    val eligible = fpd.join(occ.select("fp"), Seq("fp"))
    eligible.as("a").join(eligible.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .contractOrderBy("doc_a", "doc_b")
  }

  /** Shared d/f CTE chain for both winnowing oracles — one string, the
    * no-drift discipline.
    */
  private def winnowCtesSql(k: Int, w: Int): String = {
    val grams = s"list_transform(generate_series(1, len(ws) - ${k - 1}), i -> array_to_string(ws[i:i+${k - 1}], ' '))"
    val hs = s"list_transform($grams, g -> CAST(('0x' || substr(md5(g), 1, 10)) AS BIGINT))"
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
       |), f AS (
       |  SELECT doc_id, len(ws) AS nw,
       |    CASE WHEN len(ws) < $k THEN CAST([] AS BIGINT[])
       |         WHEN len(ws) - ${k - 1} < $w THEN [list_min($hs)]
       |         ELSE list_distinct(list_transform(generate_series(1, len(ws) - ${k - 1} - ${w - 1}),
       |           j -> list_min(list_slice($hs, j, j + ${w - 1}))))
       |    END AS fps
       |  FROM d
       |)""".stripMargin
  }

  def docWinnowSql: String = {
    val k = GraftConf.winnowK
    s"""${winnowCtesSql(k, GraftConf.winnowW)}
       |SELECT doc_id, CAST(greatest(nw - ${k - 1}, 0) AS BIGINT) AS n_grams,
       |  CAST(len(fps) AS BIGINT) AS n_fps,
       |  round(coalesce(CAST(len(fps) AS DOUBLE) / nullif(greatest(nw - ${k - 1}, 0), 0), 0.0), 4) AS density
       |FROM f
       |ORDER BY doc_id""".stripMargin
  }

  def winnowMatchesSql: String = {
    val cap = GraftConf.winnowFpCap
    s"""${winnowCtesSql(GraftConf.winnowK, GraftConf.winnowW)},
       |fpd AS (
       |  SELECT DISTINCT doc_id, fp FROM (SELECT doc_id, unnest(fps) AS fp FROM f)
       |), occ AS (
       |  SELECT fp FROM fpd GROUP BY fp HAVING count(*) >= 2 AND count(*) <= $cap
       |), e AS (
       |  SELECT doc_id, fp FROM fpd JOIN occ USING (fp)
       |)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_shared
       |FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY a.doc_id, b.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** `winnow_spans`: MOSS provenance spans FROM THE FINGERPRINT SAMPLE
    * ALONE — for every doc, the merged word-index ranges covered by
    * fingerprints that also occur in another doc (2 ≤ doc-freq ≤
    * [[GraftConf.winnowFpCap]]). This is the act-step Lee et al. 2022 §5
    * motivates: the full gram table ([[dupSubstrings]]) localizes shared
    * runs at O(L) index rows per doc; winnowing localizes the SAME runs
    * (any shared run of ≥ w+k−1 words contains a full shared window, whose
    * min-hash is selected in both docs — the detection guarantee carries a
    * position with it) from the ~2/(w+1) sample. Selection here keeps the
    * argmin POSITION per window (leftmost on a value tie, both engines);
    * matched positions expand to their k-word gram extents and merge via
    * gaps-and-islands (adjacent or overlapping extents fuse).
    *
    * Scale shape: one linear projection per doc (the bound-`hs` column,
    * never O(L²)), a window-grain explode bounded by L, the same capped
    * fingerprint equi-join as `winnow_matches`, and a per-doc window
    * function — no corpus-grain sort, no cartesian.
    */
  def winnowSpans(spark: SparkSession, dir: String): DataFrame =
    winnowSpansOf(Tables.documents(spark, dir))

  /** Shared fingerprint-position core: (doc_id, fp, pos) per selected
    * winnow fingerprint occurrence, 1-based gram index, persisted (it
    * feeds ≥ 2 consumers in every caller; Bench releases the registry
    * between reps).
    *
    * The doc cut rides the CHEAP size(ws) predicate, not size(hs): a
    * filter on hs is pushed below the projection with the whole hash
    * expression substituted into the predicate — evaluated once to
    * filter, again to project (measured 10x on this stage). The (fp, pos)
    * struct per window is computed INSIDE a lambda over the bound hs
    * column (slice clamps, so a short doc is one window) — the explode
    * carries only the 16-byte structs, never a per-window copy of the
    * whole hash array.
    */
  private def winnowFpPosOf(docs: DataFrame): DataFrame = {
    val k = GraftConf.winnowK
    val w = GraftConf.winnowW
    val hsd = docs
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= k)
      .withColumn("hs", expr(winnowHashExpr(k)))
      .select(col("doc_id"), col("hs"))
    // graft_winnow_pos (r19): the per-window argmin lambda chain was
    // O(L·w) interpreted work per doc and exploded EVERY window's row into
    // a corpus-grain distinct shuffle; the native pass is O(L), emits only
    // the ~2/(w+1) selected occurrences, and folds the distinct in-row
    // (one doc's selections can only collide with themselves) — the
    // distinct Exchange is gone from every winnow consumer.
    val wnd = hsd
      .select(col("doc_id"), explode(expr(s"graft_winnow_pos(hs, $w)")).as("s"))
      .select(col("doc_id"), col("s.fp").as("fp"), col("s.pos").as("pos"))
    Intermediates.persist(wnd)
  }

  /** Persist-free stateless fingerprint rows: (doc_id, fp, nfd) where nfd
    * is the doc's own distinct-fingerprint count — one projection + one
    * explode, no aggregation and no caching, so it runs unchanged on a
    * STREAMING DataFrame (the crawl-time containment tap's stream side).
    */
  private[graft] def winnowFpRows(docs: DataFrame): DataFrame = {
    val k = GraftConf.winnowK
    docs
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= k)
      .withColumn("hs", expr(winnowHashExpr(k)))
      .withColumn("fps", expr(winnowSelExpr(GraftConf.winnowW)))
      .select(col("doc_id"), size(col("fps")).cast("long").as("nfd"),
        explode(col("fps")).as("fp"))
  }

  /** Fingerprints eligible for matching: shared by 2..cap distinct docs. */
  private def winnowOccOf(fppos: DataFrame): DataFrame =
    fppos.select(col("doc_id"), col("fp")).distinct()
      .groupBy(col("fp")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2 && col("nd") <= GraftConf.winnowFpCap)
      .select("fp")

  def winnowSpansOf(docs: DataFrame): DataFrame = {
    val k = GraftConf.winnowK
    val fppos = winnowFpPosOf(docs)
    val m = fppos.join(winnowOccOf(fppos), Seq("fp"))
      .select(col("doc_id"), col("pos"), (col("pos") + (k - 1)).as("pend"))
    val before = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val upto = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    m.withColumn("prev_end", max(col("pend")).over(before))
      .withColumn("ni",
        when(col("prev_end").isNull || col("pos") > col("prev_end") + 1, 1).otherwise(0))
      .withColumn("island", sum(col("ni")).over(upto))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"), max(col("pend")).as("span_end"),
        count(lit(1)).as("n_fps"))
      .select("doc_id", "span_start", "span_end", "n_fps")
      .contractOrderBy("doc_id", "span_start")
  }

  /** Shared d/h/wnd/fppos/occ CTE prefix for the span and cut oracles —
    * the SQL twin of [[winnowFpPosOf]]/[[winnowOccOf]], one string so the
    * two surfaces can't drift.
    */
  private def winnowPosCtesSql(k: Int, w: Int, cap: Int,
      rel: String = "documents"): String = {
    val grams = s"list_transform(generate_series(1, len(ws) - ${k - 1}), i -> array_to_string(ws[i:i+${k - 1}], ' '))"
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM $rel),
       |h AS (
       |  SELECT doc_id,
       |    CASE WHEN len(ws) < $k THEN CAST([] AS BIGINT[])
       |         ELSE list_transform($grams, g -> CAST(('0x' || substr(md5(g), 1, 10)) AS BIGINT)) END AS hs
       |  FROM d
       |), wnd AS (
       |  SELECT doc_id, j,
       |    list_slice(hs, j, j + ${w - 1}) AS win,
       |    list_min(win) AS fp,
       |    j + list_position(win, fp) - 1 AS pos
       |  FROM (SELECT doc_id, hs, unnest(generate_series(1, greatest(len(hs) - ${w - 1}, 1))) AS j
       |        FROM h WHERE len(hs) > 0)
       |), fppos AS (
       |  SELECT DISTINCT doc_id, fp, pos FROM wnd
       |), occ AS (
       |  SELECT fp FROM (SELECT DISTINCT doc_id, fp FROM fppos)
       |  GROUP BY fp HAVING count(*) >= 2 AND count(*) <= $cap
       |)""".stripMargin
  }

  def winnowSpansSql: String = {
    val k = GraftConf.winnowK
    s"""${winnowPosCtesSql(k, GraftConf.winnowW, GraftConf.winnowFpCap)},
       |m AS (
       |  SELECT doc_id, pos, pos + ${k - 1} AS pend FROM fppos JOIN occ USING (fp)
       |), isl AS (
       |  SELECT doc_id, pos, pend,
       |    max(pend) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
       |  FROM m
       |), grp AS (
       |  SELECT doc_id, pos, pend,
       |    sum(CASE WHEN prev_end IS NULL OR pos > prev_end + 1 THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM isl
       |)
       |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       |  CAST(max(pend) AS BIGINT) AS span_end, CAST(count(*) AS BIGINT) AS n_fps
       |FROM grp GROUP BY doc_id, island
       |ORDER BY doc_id, span_start""".stripMargin
  }

  /** `dedup_winnow_contain`: CONTAINMENT dedup on the winnow sample —
    * pairs whose shared fingerprints cover ≥ [[GraftConf.winnowTauPct]]%
    * of the SMALLER doc's fingerprint set (Broder 1997's containment
    * measure, estimated on the ~2/(w+1) winnow sample). This is the dup
    * class whole-doc Jaccard structurally misses: a short doc quoted
    * wholesale inside a long one has Jaccard ≈ |short|/|long| (far below
    * any MinHash tau) but containment ≈ 1. The fifth unified-dedup lane.
    *
    * Exactness: the threshold compare is pure integer
    * (`n_shared·100 ≥ tauPct·nf_min`) and `c_pct` is truncating integer
    * division — no ratio ever materializes as a float, so lane membership
    * can't flip cross-engine. Scale shape: the pair join runs over the
    * capped fingerprint sample (≤ fpCap docs per fp), per-doc fingerprint
    * counts are one map-side-combined aggregation, and the count join
    * touches only PAIRED docs.
    */
  def dedupWinnowContain(spark: SparkSession, dir: String): DataFrame =
    dedupWinnowContainOf(Tables.documents(spark, dir))
      .contractOrderBy("doc_a", "doc_b")

  private[graft] def dedupWinnowContainOf(docs: DataFrame): DataFrame = {
    val tau = GraftConf.winnowTauPct
    // containment never reads positions — fingerprint VALUE rows straight
    // off the in-row-distinct selection (r19): no (fp, pos) explode, no
    // fingerprint-grain distinct Exchange; doc-frequency eligibility and
    // per-doc totals aggregate the same persisted value table
    val fpd = Intermediates.persist(winnowFpRows(docs).select("doc_id", "fp"))
    val nf = fpd.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fps"))
    val occ = fpd.groupBy(col("fp")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2 && col("nd") <= GraftConf.winnowFpCap)
      .select("fp")
    val eligible = fpd.join(occ, Seq("fp"))
    val shared = eligible.as("a").join(eligible.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(nf.select(col("doc_id").as("doc_a"), col("n_fps").as("nfa")), "doc_a")
      .join(nf.select(col("doc_id").as("doc_b"), col("n_fps").as("nfb")), "doc_b")
      .withColumn("nf_min", least(col("nfa"), col("nfb")))
      .filter(col("n_shared") * 100 >= col("nf_min") * tau)
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("nf_min"),
        expr("(n_shared * 100) div nf_min").as("c_pct"))
  }

  def dedupWinnowContainSql: String = dedupWinnowContainSqlFor("documents")

  private[graft] def dedupWinnowContainSqlFor(rel: String): String = {
    val tau = GraftConf.winnowTauPct
    s"""${winnowPosCtesSql(GraftConf.winnowK, GraftConf.winnowW, GraftConf.winnowFpCap, rel)},
       |fpd AS (
       |  SELECT DISTINCT doc_id, fp FROM fppos
       |), nf AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fps FROM fpd GROUP BY doc_id
       |), e AS (
       |  SELECT doc_id, fp FROM fpd JOIN occ USING (fp)
       |), shared AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_shared
       |  FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id
       |)
       |SELECT doc_a, doc_b, n_shared,
       |  least(na.n_fps, nb.n_fps) AS nf_min,
       |  (n_shared * 100) // least(na.n_fps, nb.n_fps) AS c_pct
       |FROM shared
       |JOIN nf na ON na.doc_id = doc_a
       |JOIN nf nb ON nb.doc_id = doc_b
       |WHERE n_shared * 100 >= least(na.n_fps, nb.n_fps) * $tau
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Train-time winnow knobs — everything that changes the stored
    * fingerprint bytes or pair eligibility. tauPct is query-time (the same
    * index serves any threshold) and deliberately excluded, the
    * [[AnnIndex]] discipline.
    */
  def winnowFingerprintConf: String =
    s"k=${GraftConf.winnowK};w=${GraftConf.winnowW};fpCap=${GraftConf.winnowFpCap}"

  /** The persistable winnow fingerprint index: distinct (doc_id, fp),
    * conf-stamped in column metadata (survives a parquet round-trip) so
    * [[winnowContainDeltaFrom]] fails fast on conf drift — the same
    * treatment as the MinHash banding and SRP fingerprints.
    */
  def winnowFpIndexOf(docs: DataFrame): DataFrame =
    // distinct (doc_id, fp) straight off the in-row-distinct value arrays
    // (r19) — no fingerprint-grain distinct Exchange at index-build time
    ArtifactCatalog.WinnowStamp.stamp(winnowFpRows(docs).select(col("doc_id"), col("fp")))

  /** `dedup_winnow_contain_delta`: INCREMENTAL containment dedup — a new
    * crawl's docs test against the stored fingerprint index without
    * re-fingerprinting the base corpus. Same split convention as
    * `dedup_delta` (doc_id ≡ 0 mod [[Dedup.DeltaIdMod]] plays the crawl).
    */
  def dedupWinnowContainDelta(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isDelta = col("doc_id") % Dedup.DeltaIdMod === 0
    winnowContainDeltaFrom(
      ArtifactCatalog.storedIndex(spark, "winnowfps", dir)(
        winnowFpIndexOf(docs.filter(!isDelta))),
      docs.filter(isDelta))
      .contractOrderBy("doc_a", "doc_b")
  }

  /** The incremental core over an ALREADY-built fingerprint index:
    * `baseFpd` (doc_id, fp) is what production persists at index time.
    * Only the delta is fingerprinted here; the index restricts to
    * delta-TOUCHED fingerprints before any aggregation (the touched list
    * is delta-sized — AQE broadcasts it), so per-crawl work is bounded by
    * touched-fingerprint contents, never the whole index. Doc-frequency
    * eligibility (2..fpCap) over touched fps equals the full-corpus rule
    * exactly: stored-index occupancy + delta occupancy (a delta-touching
    * pair's shared fps are all delta-carried by construction, and per-doc
    * fingerprint counts come from the full stored index) — so results are
    * spec-asserted equal to the full [[dedupWinnowContainOf]] restricted
    * to delta-touching pairs.
    */
  private[graft] def winnowContainDeltaFrom(baseFpd0: DataFrame,
      deltaDocs: DataFrame): DataFrame = {
    val tau = GraftConf.winnowTauPct
    ArtifactCatalog.WinnowStamp.check(baseFpd0, "stored winnow fingerprint index")
    val baseFpd = baseFpd0.select(col("doc_id"), col("fp"))
    val deltaFpd = Intermediates.persist(
      winnowFpRows(deltaDocs).select(col("doc_id"), col("fp")))
    val touched = deltaFpd.select("fp").distinct()
    val baseTouched = Intermediates.persist(baseFpd.join(touched, Seq("fp")))
    // full-corpus doc-frequency of touched fps = index + delta occupancy
    val occ = baseTouched.unionByName(deltaFpd)
      .groupBy(col("fp")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2 && col("nd") <= GraftConf.winnowFpCap)
      .select("fp")
    val b = baseTouched.join(occ, Seq("fp"))
    val d = deltaFpd.join(occ, Seq("fp"))
    val deltaBase = d.as("a").join(b.as("b"), col("a.fp") === col("b.fp"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
    val deltaDelta = d.as("a").join(d.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val shared = deltaBase.unionByName(deltaDelta)
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_shared"))
    // per-doc totals: delta from its own fingerprints, base from the FULL
    // stored index (one columnar scan, no text rescan)
    val nf = baseFpd.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fps"))
      .unionByName(deltaFpd.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fps")))
    shared
      .join(nf.select(col("doc_id").as("doc_a"), col("n_fps").as("nfa")), "doc_a")
      .join(nf.select(col("doc_id").as("doc_b"), col("n_fps").as("nfb")), "doc_b")
      .withColumn("nf_min", least(col("nfa"), col("nfb")))
      .filter(col("n_shared") * 100 >= col("nf_min") * tau)
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("nf_min"),
        expr("(n_shared * 100) div nf_min").as("c_pct"))
  }

  /** Containment pairs restricted to `ids`, from the stored fingerprint
    * index alone — the winnow lane of [[Dedup.unifiedPairsAmong]]
    * (retract's survivor re-pairing). Fingerprint df eligibility is
    * INDEX-TIME: counted over the FULL stored index within id-carried
    * fps (the eligibility the store was built with — a takedown must not
    * re-tune the df window and conjure pairs among unrelated docs), so
    * the result is exactly [[dedupWinnowContainOf]]'s base-time pair set
    * restricted to ids×ids. Per-call cost: id-carried fps only.
    */
  private[graft] def winnowContainAmong(baseFpd0: DataFrame,
      ids: DataFrame): DataFrame = {
    val tau = GraftConf.winnowTauPct
    ArtifactCatalog.WinnowStamp.check(baseFpd0, "stored winnow fingerprint index (retract)")
    val baseFpd = baseFpd0.select(col("doc_id"), col("fp"))
    val idFpd = Intermediates.persist(baseFpd.join(ids, Seq("doc_id")))
    val touched = idFpd.select("fp").distinct()
    val occ = baseFpd.join(touched, Seq("fp"))
      .groupBy(col("fp")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2 && col("nd") <= GraftConf.winnowFpCap)
      .select("fp")
    val e = idFpd.join(occ, Seq("fp"))
    val shared = e.as("a").join(e.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
    val nf = idFpd.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fps"))
    shared
      .join(nf.select(col("doc_id").as("doc_a"), col("n_fps").as("nfa")), "doc_a")
      .join(nf.select(col("doc_id").as("doc_b"), col("n_fps").as("nfb")), "doc_b")
      .withColumn("nf_min", least(col("nfa"), col("nfb")))
      .filter(col("n_shared") * 100 >= col("nf_min") * tau)
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("nf_min"),
        expr("(n_shared * 100) div nf_min").as("c_pct"))
  }

  /** Oracle: the FULL containment pipeline restricted to delta-touching
    * pairs — the equivalence the incremental path must reproduce.
    */
  def dedupWinnowContainDeltaSql: String =
    s"""SELECT doc_a, doc_b, n_shared, nf_min, c_pct FROM (
       |$dedupWinnowContainSql
       |) t
       |WHERE doc_a % ${Dedup.DeltaIdMod} = 0 OR doc_b % ${Dedup.DeltaIdMod} = 0
       |ORDER BY doc_a, doc_b""".stripMargin

  /** `winnow_cut`: the ACT step over the fingerprint sample — every
    * matched fingerprint occurrence that is NOT the globally first
    * (min packed (doc_id, pos), the [[dedupSubstringsCut]] keep-first
    * convention) cuts its k-word gram extent; emits cleaned text + removed
    * word/char accounting per doc, same contract as `dedup_substrings_cut`.
    *
    * The sampled trade-off, stated: `dedup_substrings_cut` removes EVERY
    * duplicated window at full gram-table cost; `winnow_cut` removes the
    * ~2/(w+1)-sampled fingerprinted extents — any shared run of
    * ≥ w+k-1 words loses at least one k-word bite in every non-first doc
    * (the detection guarantee localizes it), while sub-guarantee residue
    * may survive. That is the MOSS bargain: act on provenance-grade
    * evidence at index-sample cost.
    */
  def winnowCut(spark: SparkSession, dir: String): DataFrame =
    winnowCutOf(Tables.documents(spark, dir))

  def winnowCutOf(docs: DataFrame): DataFrame = {
    val k = GraftConf.winnowK
    val fppos = winnowFpPosOf(docs)
    val matched = fppos.join(winnowOccOf(fppos), Seq("fp"))
    // globally first occurrence per fingerprint keeps its words
    val firstKeys = matched.groupBy(col("fp"))
      .agg(min(occFirstKey(col("doc_id"), col("pos"))).as("first_key"))
    val cuts = matched.join(firstKeys, Seq("fp"))
      .filter(occFirstKey(col("doc_id"), col("pos")) =!= col("first_key"))
      .select(col("doc_id"), explode(expr(s"sequence(pos, pos + ${k - 1})")).as("p"))
      .distinct()
    // per-doc cut-position ARRAY joined back to the intact doc row (r18):
    // reconstruction used to posexplode EVERY word of EVERY doc into a
    // corpus-grain shuffle (collect_list(struct(p, word)) + array_sort per
    // doc, then two more doc-grain joins); only the cut set — a small
    // fraction of corpus words — is shuffled now, and clean_text plus the
    // accounting derive from ws + cutp in one stateless projection
    // (array_except keeps the left side's ascending order, so word order
    // is preserved; cut positions are in [1, size(ws)] by construction).
    val cutsArr = cuts.groupBy(col("doc_id"))
      .agg(collect_list(col("p")).as("cutp"))
    docs.withColumn("ws", split(col("text"), " "))
      .join(cutsArr, Seq("doc_id"), "left_outer")
      .withColumn("cutp",
        coalesce(col("cutp"), expr("cast(array() as array<bigint>)")))
      .select(col("doc_id"),
        expr("array_join(transform(array_except(sequence(1L, cast(size(ws) as bigint)), cutp), " +
          "p -> element_at(ws, cast(p as int))), ' ')").as("clean_text"),
        (size(col("ws")) - size(col("cutp"))).cast("long").as("n_words_kept"),
        size(col("cutp")).cast("long").as("n_words_cut"),
        expr("aggregate(cutp, 0L, (acc, p) -> acc + length(element_at(ws, cast(p as int))))")
          .as("n_chars_cut"))
      .contractOrderBy("doc_id")
  }

  def winnowCutSql: String = {
    val k = GraftConf.winnowK
    s"""${winnowPosCtesSql(k, GraftConf.winnowW, GraftConf.winnowFpCap)},
       |matched AS (
       |  SELECT doc_id, fp, pos FROM fppos JOIN occ USING (fp)
       |), fk AS (
       |  SELECT fp, min(doc_id * $OccKey + pos) AS first_key FROM matched GROUP BY fp
       |), cutocc AS (
       |  SELECT doc_id, pos FROM matched JOIN fk USING (fp)
       |  WHERE doc_id * $OccKey + pos <> first_key
       |), cuts AS (
       |  SELECT DISTINCT doc_id, p FROM (
       |    SELECT doc_id, unnest(generate_series(pos, pos + ${k - 1})) AS p FROM cutocc)
       |), w AS (
       |  SELECT doc_id, unnest(ws) AS word, unnest(generate_series(1, len(ws))) AS p FROM d
       |), kept AS (
       |  SELECT w.doc_id, string_agg(word, ' ' ORDER BY w.p) AS clean_text,
       |    count(*) AS n_words_kept
       |  FROM w LEFT JOIN cuts ON w.doc_id = cuts.doc_id AND w.p = cuts.p
       |  WHERE cuts.doc_id IS NULL GROUP BY w.doc_id
       |), cs AS (
       |  SELECT c.doc_id, count(*) AS n_words_cut,
       |    CAST(sum(length(word)) AS BIGINT) AS n_chars_cut
       |  FROM cuts c JOIN w ON c.doc_id = w.doc_id AND c.p = w.p
       |  GROUP BY c.doc_id
       |)
       |SELECT d.doc_id, coalesce(kept.clean_text, '') AS clean_text,
       |  CAST(coalesce(kept.n_words_kept, 0) AS BIGINT) AS n_words_kept,
       |  CAST(coalesce(cs.n_words_cut, 0) AS BIGINT) AS n_words_cut,
       |  CAST(coalesce(cs.n_chars_cut, 0) AS BIGINT) AS n_chars_cut
       |FROM d LEFT JOIN kept ON d.doc_id = kept.doc_id
       |LEFT JOIN cs ON d.doc_id = cs.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  def dedupSubstringsCutSql: String = {
    val k = GraftConf.dupWindowWords
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |w AS (
       |  SELECT doc_id, unnest(ws) AS word, unnest(generate_series(1, len(ws))) AS pos FROM d
       |), g AS (
       |  SELECT doc_id, unnest(generate_series(1, len(ws) - ${k - 1})) AS i,
       |    unnest(list_transform(generate_series(1, len(ws) - ${k - 1}), i -> array_to_string(ws[i:i+${k - 1}], ' '))) AS g
       |  FROM d WHERE len(ws) >= $k
       |), dup AS (
       |  SELECT g, min(doc_id * $OccKey + i) AS first_key
       |  FROM g GROUP BY g HAVING count(DISTINCT doc_id) >= 2
       |), cutocc AS (
       |  SELECT doc_id, i FROM g JOIN dup USING (g)
       |  WHERE doc_id * $OccKey + i <> first_key
       |), cuts AS (
       |  SELECT DISTINCT doc_id, pos FROM (
       |    SELECT doc_id, unnest(generate_series(i, i + ${k - 1})) AS pos FROM cutocc)
       |), kept AS (
       |  SELECT w.doc_id, string_agg(word, ' ' ORDER BY w.pos) AS clean_text,
       |    count(*) AS n_words_kept
       |  FROM w LEFT JOIN cuts ON w.doc_id = cuts.doc_id AND w.pos = cuts.pos
       |  WHERE cuts.doc_id IS NULL GROUP BY w.doc_id
       |), cs AS (
       |  SELECT c.doc_id, count(*) AS n_words_cut,
       |    CAST(sum(length(word)) AS BIGINT) AS n_chars_cut
       |  FROM cuts c JOIN w ON c.doc_id = w.doc_id AND c.pos = w.pos
       |  GROUP BY c.doc_id
       |)
       |SELECT d.doc_id, coalesce(kept.clean_text, '') AS clean_text,
       |  coalesce(kept.n_words_kept, 0) AS n_words_kept,
       |  coalesce(cs.n_words_cut, 0) AS n_words_cut,
       |  coalesce(cs.n_chars_cut, 0) AS n_chars_cut
       |FROM d LEFT JOIN kept ON d.doc_id = kept.doc_id
       |LEFT JOIN cs ON d.doc_id = cs.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  // --------------------------------------------------------------------
  // Line-level (paragraph-hash) dedup — CCNet (Wenzek et al. 2020 §3.2)
  // removes duplicated PARAGRAPHS corpus-wide by hash, keeping one copy.
  // Reference anchor: utils/validation.py's per-block normalize+compare
  // loop dedups repeated form blocks one document at a time; this is the
  // corpus-grain version of that rule.
  // --------------------------------------------------------------------

  /** `dedup_lines`: CCNet-style duplicated-unit removal. The corpus has no
    * newline structure, so the dedup unit is a TUMBLING window of
    * `spark.graft.linedd.chunkWords` words (real crawl text would split on
    * newlines; everything downstream of the split is unchanged). Every
    * unit is hashed; only the corpus-wide FIRST occurrence of each hash
    * (min packed (doc_id, idx), the [[dedupSubstringsCut]] keep-first
    * convention) survives; docs are reassembled from their kept units.
    *
    * Differs from [[dedupSubstringsCut]] exactly the way CCNet differs
    * from suffix-array dedup (Lee et al. 2021): removal is at unit
    * granularity over a TUMBLING partition (corpus-linear unit count,
    * n/W units), not per overlapping k-gram window (n windows) — the
    * cheap first rung of a dedup ladder.
    *
    * Scale: unit extraction is a stateless projection; the keep-first rule
    * is one hash-keyed aggregation (map-side combinable min) + one
    * hash-keyed join back; reassembly is one doc_id-keyed aggregation.
    * Three shuffles total, all corpus-linear, no windows over the corpus,
    * no driver state — the exact CCNet sharding shape (they shard
    * paragraph hashes across workers; Spark's hash Exchange is that shard
    * step).
    */
  def dedupLines(spark: SparkSession, dir: String): DataFrame =
    dedupLinesOf(Tables.documents(spark, dir))

  /** Tumbling dedup units of every doc: (doc_id, idx, chunk, h). */
  private[graft] def lineUnitsOf(docs: DataFrame): DataFrame = {
    val cw = GraftConf.lineChunkWords
    docs
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, (size(ws) - 1) div $cw), i -> concat_ws(' ', slice(ws, i * $cw + 1, $cw)))"))
        .as(Seq("idx", "chunk")))
      .withColumn("h", md5(col("chunk")))
  }

  private[graft] def lineFingerprintConf: String = s"chunkWords=${GraftConf.lineChunkWords}"

  /** The persistable unit-hash index for crawl-time line dedup: distinct
    * unit hashes of the base corpus, conf-stamped in column metadata
    * (survives a parquet round-trip) — the [[winnowFpIndexOf]] treatment.
    */
  def lineUnitIndexOf(docs: DataFrame): DataFrame =
    ArtifactCatalog.LineStamp.stamp(lineUnitsOf(docs).select(col("h")).distinct())

  def dedupLinesOf(docs: DataFrame): DataFrame =
    keepFirstUnits(lineUnitsOf(docs), " ").contractOrderBy("doc_id")

  /** The keep-first act step over ANY unit table — corpus-wide first
    * occurrence of each unit hash survives, later occurrences cut,
    * per-doc reassembly joins the kept units in order with `sep` (the
    * unit grammar's own separator, so an uncut doc reassembles
    * byte-identically).
    */
  private def keepFirstUnits(units: DataFrame, sep: String): DataFrame = {
    val firstKeys = units.groupBy(col("h"))
      .agg(min(occFirstKey(col("doc_id"), col("idx"))).as("first_key"))
    val sepLit = sep.flatMap {
      case '\n' => "\\n"; case '\\' => "\\\\"; case '\'' => "\\'"
      case c => c.toString
    }
    units.join(firstKeys, Seq("h"))
      .withColumn("keep", occFirstKey(col("doc_id"), col("idx")) === col("first_key"))
      .groupBy(col("doc_id"))
      .agg(
        expr("array_join(transform(array_sort(collect_list(CASE WHEN keep THEN struct(idx, chunk) END)), " +
          s"x -> x.chunk), '$sepLit')")
          .as("clean_text"),
        count(lit(1)).as("n_chunks"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("n_chunks_cut"))
  }

  /** PARAGRAPH dedup units — the actual CCNet unit: one unit per
    * newline-delimited paragraph, for corpora whose raw front door
    * preserves newlines ([[graft.sources.RawSources.readJsonl]] carries
    * real multiline text). The synthetic parquet corpus has no newlines
    * (SURVEY §2 states it), so `dedup_lines` keeps its tumbling word
    * windows there; a real crawl routes through THIS unit grammar with
    * everything downstream unchanged.
    */
  private[graft] def paragraphUnitsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        posexplode(split(col("text"), "\n")).as(Seq("idx", "chunk")))
      .withColumn("h", md5(col("chunk")))

  /** [[dedupLinesOf]] at paragraph grain: corpus-wide keep-first over
    * paragraph hashes, reassembly joins kept paragraphs with `\n` — an
    * uncut doc round-trips byte-identically.
    */
  def dedupParagraphsOf(docs: DataFrame): DataFrame =
    keepFirstUnits(paragraphUnitsOf(docs), "\n").contractOrderBy("doc_id")

  /** `dedup_lines_report`: per-source duplicated-unit rates — the curation
    * dashboard over [[dedupLines]]' unit table (which crawl sources carry
    * boilerplate, BEFORE anyone rewrites documents; the `pii_audit`
    * relationship to `text_normalize`). A unit occurrence counts as
    * duplicated exactly when `dedup_lines` would cut it (not the
    * corpus-wide first occurrence of its hash), so the report and the act
    * step can never disagree. `cut_pct` is truncating integer division —
    * no float ever decides a row. Same three corpus-linear shuffles as the
    * act step, ending in an O(sources) aggregate.
    */
  def dedupLinesReport(spark: SparkSession, dir: String): DataFrame =
    dedupLinesReportOf(Tables.documents(spark, dir))

  /** Core over any (doc_id, text, source) frame — specs plant sources. */
  def dedupLinesReportOf(docs: DataFrame): DataFrame = {
    val units = lineUnitsOf(docs)
    val firstKeys = units.groupBy(col("h"))
      .agg(min(occFirstKey(col("doc_id"), col("idx"))).as("first_key"))
    units.join(firstKeys, Seq("h"))
      .withColumn("cut", occFirstKey(col("doc_id"), col("idx")) =!= col("first_key"))
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_units"),
        sum(when(col("cut"), 1L).otherwise(0L)).as("n_units_cut"))
      .withColumn("cut_pct", expr("n_units_cut * 100 div n_units"))
      .contractOrderBy("source")
  }

  def dedupLinesReportSql: String = {
    val cw = GraftConf.lineChunkWords
    s"""WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
       |c AS (
       |  SELECT doc_id,
       |    unnest(generate_series(0, (len(ws) - 1) // $cw)) AS idx,
       |    unnest(list_transform(generate_series(0, (len(ws) - 1) // $cw),
       |      i -> array_to_string(ws[i * $cw + 1 : i * $cw + $cw], ' '))) AS chunk
       |  FROM d
       |), hx AS (
       |  SELECT doc_id, idx, md5(chunk) AS h FROM c
       |), fk AS (
       |  SELECT h, min(doc_id * $OccKey + idx) AS first_key FROM hx GROUP BY h
       |), k AS (
       |  SELECT doc_id, doc_id * $OccKey + idx <> first_key AS cut
       |  FROM hx JOIN fk USING (h)
       |)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_units,
       |  CAST(sum(CASE WHEN cut THEN 1 ELSE 0 END) AS BIGINT) AS n_units_cut,
       |  CAST(sum(CASE WHEN cut THEN 1 ELSE 0 END) * 100 // count(*) AS BIGINT) AS cut_pct
       |FROM k JOIN (SELECT doc_id, source FROM d) s USING (doc_id)
       |GROUP BY source
       |ORDER BY source""".stripMargin
  }

  /** `doc_entropy`: within-document Shannon entropy of the word
    * distribution — the repetition/templatedness quality signal (a
    * boilerplate or keyword-stuffed doc has low entropy regardless of
    * which words it repeats; the information-theoretic complement of
    * [[docRepetition]]'s positional signals). H = −Σ (c/n)·ln(c/n) over
    * the doc's distinct words. §5 discipline: each distinct word's
    * ln(c/n) is frozen ONCE as round(·,6) DECIMAL(18,6), multiplied by
    * the exact integer count and summed as exact decimal — the only
    * float steps are the frozen ln and the final round(·/n, 4). Scale:
    * two map-side-combined aggregations ((doc, word) then doc) + one
    * doc-keyed join — corpus-linear, no windows.
    */
  def docEntropy(spark: SparkSession, dir: String): DataFrame =
    docEntropyOf(Tables.documents(spark, dir))

  def docEntropyOf(docs: DataFrame): DataFrame = {
    val cw = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("c"))
    val nd = cw.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_distinct"))
    cw.join(nd, "doc_id")
      .withColumn("lp",
        round(log(col("c").cast("double") / col("n").cast("double")), 6)
          .cast("decimal(18,6)"))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).as("n_tokens"), max(col("n_distinct")).as("n_distinct"),
        sum(col("c") * col("lp")).as("hsum"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        round((-col("hsum")).cast("double") / col("n_tokens"), 4).as("entropy"))
      .contractOrderBy("doc_id")
  }

  val docEntropySql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
      |), cw AS (
      |  SELECT doc_id, word, count(*) AS c FROM tok GROUP BY doc_id, word
      |), nd AS (
      |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS n_distinct
      |  FROM cw GROUP BY doc_id
      |), lp AS (
      |  SELECT doc_id, c, n, n_distinct,
      |    CAST(round(ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS DECIMAL(18,6)) AS lp
      |  FROM cw JOIN nd USING (doc_id)
      |)
      |SELECT doc_id, n AS n_tokens, n_distinct,
      |  round(CAST(-sum(c * lp) AS DOUBLE) / n, 4) AS entropy
      |FROM lp GROUP BY doc_id, n, n_distinct
      |ORDER BY doc_id""".stripMargin

  // ---- ngram_novelty ------------------------------------------------------

  /** `ngram_novelty` (r11): per NEW-crawl document, the fraction of its
    * word n-grams never seen in the EXISTING corpus — the
    * memorization/marginal-value audit of an incoming crawl (the Lee et
    * al. 2022 / Carlini memorization framing run FORWARD: before paying
    * to train on a crawl, measure how much of it is n-gram-new; a crawl
    * whose novelty collapses is re-serving what the corpus already has,
    * the per-DOC complement of `vocab_growth`'s corpus-level curve and
    * the cheap pre-read before any dedup lane runs). Split is the
    * `dedup_delta` carving: `doc_id % novelty.mod == 0` is the new
    * crawl, everything else is the seen corpus.
    *
    * Per new doc: distinct n-grams, n-grams absent from the seen set,
    * and `novelty_bp` in pure integer basis points (NULL for a doc too
    * short to carry one n-gram — emitted, not dropped, so the scored
    * population is the whole crawl). Grams cross the shuffle as 60-bit
    * md5 longs (the `hs` discipline — 8 bytes, not strings) in BOTH
    * engines, so the join key is bit-identical.
    *
    * Scale: seen side is ONE gram-grain distinct (map-side combined);
    * scoring is one gram-grain key join + a doc-grain count — all
    * corpus-linear, no windows. At 100 TB the seen-gram table is the
    * persistable artifact (or its [[Curation.decontaminateBloomFrom]]
    * sketch when only the flag matters).
    */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    // bench-session artifact: the SEEN-gram distinct table — exactly the
    // "persistable artifact" the Scaladoc above names for 100 TB (the
    // existing corpus's gram inventory is computed once, each incoming
    // crawl prices against it). Parity is spec-asserted
    // (DedupMembershipApplySpec).
    val docs = Tables.documents(spark, dir)
    val k = GraftConf.noveltyNgram
    val mod = GraftConf.noveltyMod
    val seen = ArtifactCatalog.storedIndex(spark, "seengrams", dir)(
      seenGramsOf(docs, k, mod))
    ngramNoveltyFrom(docs, k, mod, seen)
  }

  def ngramNoveltyOf(docs: DataFrame): DataFrame = {
    val k = GraftConf.noveltyNgram
    val mod = GraftConf.noveltyMod
    ngramNoveltyFrom(docs, k, mod, seenGramsOf(docs, k, mod))
  }

  /** (doc_id, gs) distinct 60-bit gram hashes per doc. */
  private def gramsOf(docs: DataFrame, k: Int): DataFrame =
    docs.withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"),
        expr(s"array_distinct(graft_gram_hash(ws, $k, 15))").as("gs"))

  /** The existing corpus's gram-grain distinct inventory — the
    * persistable seen side.
    */
  private def seenGramsOf(docs: DataFrame, k: Int, mod: Int): DataFrame =
    gramsOf(docs.filter(col("doc_id") % mod =!= 0), k)
      .select(explode(col("gs")).as("g")).distinct()

  private def ngramNoveltyFrom(docs: DataFrame, k: Int, mod: Int,
      seenG: DataFrame): DataFrame = {
    val seen = seenG.withColumn("known", lit(true))
    val newG = gramsOf(docs.filter(col("doc_id") % mod === 0), k)
      .select(col("doc_id"), explode_outer(col("gs")).as("g"))
    newG.join(seen, Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("g")).as("n_grams"),
        sum(when(col("g").isNotNull && col("known").isNull, 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty_bp",
        when(col("n_grams") > 0, expr("n_novel * 10000 div n_grams")))
      .contractOrderBy("doc_id")
  }

  /** `ngramNoveltyBloomFrom` (r12): the flag-only 100 TB form of
    * [[ngramNoveltyOf]] — the seen-gram table replaced by its Bloom
    * sketch (the [[Curation.decontaminateBloomFrom]] pattern applied to
    * the novelty read). At 100 TB the exact seen-gram table is the
    * persistable artifact when per-gram provenance matters; when only
    * the novelty NUMBER matters, the sketch is corpus-scan → fixed-size
    * bytes → broadcast-free stateless probe per crawl doc.
    *
    * Direction of error (why the sketch is safe here): Bloom membership
    * has NO false negatives, so a gram the sketch misses is DEFINITELY
    * novel — false positives only mark truly-novel grams as seen. The
    * reported counts are therefore conservative LOWER bounds
    * (`n_novel_min`, `novelty_bp_min` ≤ the exact values): the
    * novelty-collapse alarm ("this crawl re-serves what we have") can
    * only fire MORE eagerly, never be inflated by sketch noise.
    * FPR is bounded by the spec against the exact operator.
    */
  def ngramNoveltyBloomFrom(rawDocs: DataFrame, isNew: org.apache.spark.sql.Column,
      expectedItems: Long = 1000000L, numBits: Long = 1L << 23): DataFrame = {
    val k = GraftConf.noveltyNgram
    val g = rawDocs.withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"),
        expr(s"array_distinct(graft_gram_hash(ws, $k, 15))").as("gs"))
      .withColumn("is_new", isNew)
    val bf = g.filter(!col("is_new"))
      .select(explode(col("gs")).as("g"))
      .agg(call_function("graft_bloom_agg", xxhash64(col("g")),
        lit(expectedItems), lit(numBits)).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    g.filter(col("is_new"))
      .select(col("doc_id"), explode_outer(col("gs")).as("g"))
      .groupBy(col("doc_id"))
      .agg(count(col("g")).as("n_grams"),
        sum(when(col("g").isNotNull &&
            !call_function("graft_might_contain", lit(bf), xxhash64(col("g"))), 1L)
          .otherwise(0L)).as("n_novel_min"))
      .withColumn("novelty_bp_min",
        when(col("n_grams") > 0, expr("n_novel_min * 10000 div n_grams")))
      .select("doc_id", "n_grams", "n_novel_min", "novelty_bp_min")
  }

  def ngramNoveltySql: String = {
    val k = GraftConf.noveltyNgram
    val mod = GraftConf.noveltyMod
    val parts = (0 until k).map(i => s"ws[i + $i]").mkString(" || ' ' || ")
    val gramsSql =
      s"""CASE WHEN len(ws) >= $k
         | THEN list_distinct(list_transform(generate_series(1, len(ws) - ${k - 1}),
         |   i -> CAST(('0x' || substr(md5($parts), 1, 15)) AS BIGINT)))
         | ELSE CAST([] AS BIGINT[]) END""".stripMargin.replace("\n", "")
    s"""WITH nvd AS (
       |  SELECT doc_id, $gramsSql AS gs
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
       |), nvseen AS (
       |  SELECT DISTINCT unnest(gs) AS g FROM nvd WHERE doc_id % $mod <> 0
       |), nvnew AS (
       |  SELECT doc_id, unnest(gs) AS g FROM nvd WHERE doc_id % $mod = 0
       |), nvcnt AS (
       |  SELECT n.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |    CAST(sum(CASE WHEN s.g IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
       |  FROM nvnew n LEFT JOIN nvseen s ON n.g = s.g
       |  GROUP BY n.doc_id
       |)
       |SELECT d.doc_id, COALESCE(c.n_grams, 0) AS n_grams,
       |  COALESCE(c.n_novel, 0) AS n_novel,
       |  CASE WHEN COALESCE(c.n_grams, 0) > 0
       |    THEN CAST(c.n_novel * 10000 // c.n_grams AS BIGINT) END AS novelty_bp
       |FROM (SELECT doc_id FROM documents WHERE doc_id % $mod = 0) d
       |LEFT JOIN nvcnt c ON d.doc_id = c.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  def dedupLinesSql: String = {
    val cw = GraftConf.lineChunkWords
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |c AS (
       |  SELECT doc_id,
       |    unnest(generate_series(0, (len(ws) - 1) // $cw)) AS idx,
       |    unnest(list_transform(generate_series(0, (len(ws) - 1) // $cw),
       |      i -> array_to_string(ws[i * $cw + 1 : i * $cw + $cw], ' '))) AS chunk
       |  FROM d
       |), hx AS (
       |  SELECT doc_id, idx, chunk, md5(chunk) AS h FROM c
       |), fk AS (
       |  SELECT h, min(doc_id * $OccKey + idx) AS first_key FROM hx GROUP BY h
       |), k AS (
       |  SELECT doc_id, idx, chunk, doc_id * $OccKey + idx = first_key AS keep
       |  FROM hx JOIN fk USING (h)
       |)
       |SELECT doc_id,
       |  coalesce(string_agg(chunk, ' ' ORDER BY idx) FILTER (WHERE keep), '') AS clean_text,
       |  CAST(count(*) AS BIGINT) AS n_chunks,
       |  CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_chunks_cut
       |FROM k GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------------
  // script_profile — Unicode script composition, the gate BEFORE langid:
  // a fastText-style n-gram model only makes sense on text whose script it
  // was trained on, and a crawl's first triage buckets pages by script
  // (mixed-script pages are also a spam signal). Ranges are explicit
  // codepoint intervals written as \x{....} classes — the ONE spelling
  // with identical semantics in Java regex and RE2 (named script classes
  // differ: Java \p{IsCyrillic} vs RE2 \p{Cyrillic}; \s differs on \x0B).
  // Counting via regexp_count of a single-char class counts CODE POINTS in
  // both engines (Spark length()/regexp both operate on code points, as
  // does DuckDB).
  // --------------------------------------------------------------------

  /** (label, single-codepoint character class) — BMP ranges only. */
  val ScriptClasses: Seq[(String, String)] = Seq(
    "latin"    -> "[A-Za-z]",
    "digit"    -> "[0-9]",
    "space"    -> "[ \\t\\n\\r]",
    "cyrillic" -> "[\\x{0400}-\\x{04FF}]",
    "greek"    -> "[\\x{0370}-\\x{03FF}]",
    "arabic"   -> "[\\x{0600}-\\x{06FF}]",
    "cjk"      -> "[\\x{3040}-\\x{30FF}\\x{4E00}-\\x{9FFF}\\x{AC00}-\\x{D7AF}]")

  /** Per-row script counts over any (source, text) frame — the seam specs
    * plant Cyrillic/CJK/mixed-script rows through (the shipped synthetic
    * corpus is ASCII word-soup, so planted rows are where the ranges are
    * actually exercised).
    */
  def scriptCountsOf(docs: DataFrame): DataFrame =
    ScriptClasses.foldLeft(docs.withColumn("n_chars_sp", length(col("text")).cast("long"))) {
      case (df, (label, re)) =>
        df.withColumn(s"n_$label", regexp_count(col("text"), lit(re)).cast("long"))
    }

  /** `script_profile`: per-source script composition — total code points
    * and how many fall in each major script range, with the remainder
    * (`n_other`) closing the sum so downstream ratio math never needs a
    * second scan. Stateless projection + one source-keyed hash aggregation
    * (map-side partials); output is O(sources). The 100 TB use: route each
    * source's documents to the right langid model, and quarantine sources
    * whose `n_other`/mixed-script mass jumps between crawls.
    */
  def scriptProfile(spark: SparkSession, dir: String): DataFrame = {
    val sums = ScriptClasses.map { case (label, _) =>
      sum(col(s"n_$label")).as(s"n_$label")
    }
    val known = ScriptClasses.map { case (label, _) => col(s"n_$label") }
      .reduce(_ + _)
    scriptCountsOf(Tables.documents(spark, dir))
      .withColumn("n_other_row", col("n_chars_sp") - known)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        ((sum(col("n_chars_sp")).as("n_chars") +: sums) :+
          sum(col("n_other_row")).as("n_other")): _*)
      .contractOrderBy("source")
  }

  val scriptProfileSql: String = {
    val counts = ScriptClasses.map { case (label, re) =>
      s"CAST(len(regexp_extract_all(text, '$re')) AS BIGINT) AS n_$label"
    }.mkString(",\n    ")
    val sums = ScriptClasses.map { case (label, _) =>
      s"CAST(sum(n_$label) AS BIGINT) AS n_$label"
    }.mkString(", ")
    val known = ScriptClasses.map { case (label, _) => s"n_$label" }.mkString(" + ")
    s"""WITH c AS (
       |  SELECT source, CAST(length(text) AS BIGINT) AS n_chars_sp,
       |    $counts
       |  FROM documents
       |)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(n_chars_sp) AS BIGINT) AS n_chars,
       |  $sums,
       |  CAST(sum(n_chars_sp - ($known)) AS BIGINT) AS n_other
       |FROM c GROUP BY source
       |ORDER BY source""".stripMargin
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** Training-data curation operators (SURVEY §2C): the corpus-preparation
  * steps a 100 TB pretraining pipeline runs between raw ingestion and
  * training — hard quality filtering (Gopher/C4 rule family), benchmark
  * decontamination, sequence packing, and domain-mixture sampling.
  *
  * All rule thresholds compare in EXACT integer space (`a*scale < b`) so
  * the Spark and DuckDB sides can never disagree on a float boundary.
  *
  * The curation funnel (`corpus_curate`, its two crawl variants and
  * `pipeline_curate`) moves each train doc through four rungs in a fixed
  * order: quality → exact decontamination → fuzzy decontamination →
  * dedup. `kept` is the AND of the rungs, `stage` names the first rung
  * that fails (`kept` when none does), and a doc with no dedup verdict
  * keeps. That rule is written once per engine: [[funnelOf]] in Spark,
  * [[funnelTailSql]] in SQL; every funnel row is a caller.
  */
object Curation {

  // ---- quality_filter -----------------------------------------------------

  /** Gopher-style hard bounds (defaults tuned so every rule fires on a real
    * slice of the synthetic corpus — see SURVEY §6). Conf-driven
    * (`spark.graft.quality.*`); percent knobs keep every threshold an exact
    * integer cross-multiply in both engines.
    */
  def MinWords: Int = GraftConf.qualityMinWords
  def MaxWords: Int = GraftConf.qualityMaxWords
  /** Stopword percent below this ⇒ not prose (Gopher's stopword rule),
    * compared as `n_stop * 100 < n_words * pct`.
    */
  def MinStopPct: Int = GraftConf.qualityMinStopPct
  /** Percent of tokens covered by the most frequent bigram above this ⇒
    * repetitive boilerplate (Gopher's top-2-gram rule), compared as
    * `top_bg * 100 > n_words * pct`.
    */
  def MaxTopBigramPct: Int = GraftConf.qualityMaxTopBigramPct

  /** `quality_filter`: per-doc C4/Gopher rule evaluation — word-count
    * bounds, stopword floor, top-bigram repetition ceiling — with a keep
    * flag and the list of failed rules.
    *
    * Plan shape: one stateless projection for the per-doc counters, plus
    * one explode → two map-side-combined aggregations for the top-bigram
    * count (keyed on (doc_id, bigram) then doc_id — never a per-doc O(L²)
    * expression, which would blow up on long documents at scale), joined
    * back on doc_id.
    */
  def qualityFilter(spark: SparkSession, dir: String): DataFrame =
    qualityFilterOf(Tables.documents(spark, dir))

  /** Per-doc bigram array over `ws` — shared by the batch quality filter's
    * explode and the streaming lane's in-array run-length form.
    */
  private[graft] val bigramsExpr: String =
    """CASE WHEN size(ws) >= 2
      | THEN transform(sequence(0, size(ws) - 2),
      |                i -> concat(element_at(ws, i + 1), ' ', element_at(ws, i + 2)))
      | ELSE array() END""".stripMargin.replace("\n", "")

  /** Max bigram multiplicity of the doc's own `ws`, in-row: sort the
    * bigram array, take the longest equal-adjacent run.
    */
  private val topBigramRunExpr: String =
    // graft_max_run: native max-equal-adjacent-run (the interpreted
    // aggregate-with-named_struct lambda this replaces allocated a 3-field
    // struct per element per row — measured slower than the explode path
    // it was meant to beat)
    s"graft_max_run(array_sort($bigramsExpr))"

  /** The per-doc quality counters `n_words`, `n_stop` and `top_bg` (over
    * the doc's word array `ws`) added to any (doc_id, text) relation —
    * shared by the batch filter and its streaming twin
    * ([[graft.streaming.StreamOps.curateStream]]).
    */
  private[graft] def withQualityCounters(docs: DataFrame): DataFrame = {
    val stopList = TextAnalysis.EnStopwords.map("'" + _ + "'").mkString(",")
    // top_bg in-row (r18): the max bigram multiplicity as a sort + max-run
    // aggregate over the doc's own bigram array, spec-asserted equal to
    // the old explode → two-groupBy → join-back path, which shuffled the
    // corpus's bigrams twice per funnel
    docs
      .withColumn("ws", split(col("text"), " "))
      .withColumn("n_words", size(col("ws")).cast("long"))
      .withColumn("n_stop",
        expr(s"size(filter(ws, w -> w IN ($stopList)))").cast("long"))
      .withColumn("top_bg", expr(topBigramRunExpr))
  }

  /** The four quality rules over the [[withQualityCounters]] columns, as
    * (`keep`, `reasons`): keep iff no rule fires; reasons lists the fired
    * rules, comma-joined.
    */
  private[graft] def qualityVerdict: (Column, Column) = {
    val rShort = col("n_words") < MinWords
    val rLong = col("n_words") > MaxWords
    val rStop = col("n_stop") * 100 < col("n_words") * MinStopPct
    val rRep = col("top_bg") * 100 > col("n_words") * MaxTopBigramPct
    (!rShort && !rLong && !rStop && !rRep,
      array_join(concat(
        when(rShort, array(lit("too_short"))).otherwise(array()),
        when(rLong, array(lit("too_long"))).otherwise(array()),
        when(rStop, array(lit("low_stopword"))).otherwise(array()),
        when(rRep, array(lit("repetitive"))).otherwise(array())), ","))
  }

  /** Core over any (doc_id, text) relation — the seam [[corpusCurate]]
    * composes; rules are per-doc so any corpus slice scores identically.
    */
  def qualityFilterOf(docs: DataFrame): DataFrame = {
    val (keep, reasons) = qualityVerdict
    withQualityCounters(docs)
      .withColumn("keep", keep)
      .withColumn("reasons", reasons)
      .select("doc_id", "n_words", "n_stop", "top_bg", "keep", "reasons")
      .contractOrderBy("doc_id")
  }

  /** `line_quality_filter`: the LINE-grain C4/Gopher rule family — the
    * rules [[gopherQuality]]'s Scaladoc documented as deliberately out
    * while the corpus carried no newline structure. The WARC front door
    * now emits real paragraphs ([[graft.sources.HtmlText]]'s `\n`
    * grammar), so the line rules have a genuine unit to run on:
    *
    *  - C4 line keeps (Raffel et al. 2020 §2.2): a line is retained iff
    *    it has ≥ [[GraftConf.qualityLineMinWords]] words, ends in a
    *    terminal punctuation mark (optionally followed by a closing
    *    quote), and carries neither a curly brace nor the word
    *    "javascript" (the code/boilerplate drops);
    *  - Gopher doc ratios (Rae et al. 2021 A1.1): a document whose
    *    bullet-starting line share exceeds
    *    [[GraftConf.qualityMaxBulletPct]]% or whose ellipsis-ending
    *    share exceeds [[GraftConf.qualityMaxEllipsisPct]]% is a listing/
    *    teaser page, not prose;
    *  - doc verdict: at least one kept line AND both ratios in bounds
    *    (the synthetic word-salad corpus, which has neither newlines nor
    *    punctuation, correctly classifies as non-prose: n_lines = 1,
    *    n_kept = 0 — the composition spec over WARC-bridged HTML pages
    *    exercises every rule in both directions on real line structure).
    *
    * Output is LINE grain (doc_id, idx, per-line counters and keep) with
    * the doc verdict window-joined on — richer parity surface than a
    * constant doc-grain row, and the natural input for a downstream
    * line-cut rewrite. All thresholds compare in exact integer math.
    *
    * Scale shape: one explode, then ONE hash shuffle on doc_id (window
    * aggregates share a single partition pass; no self-join) — lines per
    * doc are bounded by document size, so partition skew tracks doc
    * length exactly like every other per-doc operator.
    */
  def lineQualityFilter(spark: SparkSession, dir: String): DataFrame =
    lineQualityFilterOf(Tables.documents(spark, dir))

  /** The scored line STRUCT ARRAY both line-grain operators share (r18 —
    * was an explode followed by a doc_id window/groupBy shuffle): one
    * stateless projection computes every per-line counter and rule flag
    * INSIDE the doc row, so the doc-grain aggregates are array sizes over
    * the same column and neither operator shuffles at all. The rule
    * arithmetic is byte-identical to the exploded form it replaces.
    */
  private def lineScoredArrOf(docs: DataFrame): DataFrame = {
    val minW = GraftConf.qualityLineMinWords
    // graft_line_score (r19): one native pass computes the scored struct
    // array, the four doc counters AND the kept-line reassembly — the r18
    // in-row form kept the 2-Exchange/0-Window plan but paid interpreted
    // higher-order lambdas per line (transform + four size(filter(...)) +
    // the cut's filter/transform/array_join re-walks); bit-equal by
    // LineScoreSpec's field-by-field assertion against the lambda chain
    docs
      .withColumn("lsc", expr(s"graft_line_score(text, $minW)"))
      .withColumn("sc", col("lsc.sc"))
      .withColumn("n_lines", col("lsc.n_lines"))
      .withColumn("n_kept", col("lsc.n_kept"))
      .withColumn("n_bullet", col("lsc.n_bullet"))
      .withColumn("n_ellipsis", col("lsc.n_ellipsis"))
  }

  def lineQualityFilterOf(docs: DataFrame): DataFrame = {
    val maxB = GraftConf.qualityMaxBulletPct
    val maxE = GraftConf.qualityMaxEllipsisPct
    val rNoKept = col("n_kept") < 1
    val rBullet = col("n_bullet") * 100 > col("n_lines") * maxB
    val rEllipsis = col("n_ellipsis") * 100 > col("n_lines") * maxE
    lineScoredArrOf(docs)
      .select(col("doc_id"), col("n_lines"), col("n_kept"), col("n_bullet"),
        col("n_ellipsis"),
        posexplode(col("sc")).as(Seq("idx0", "s")))
      .withColumn("idx", col("idx0").cast("long"))
      .withColumn("n_words", col("s.n_words"))
      .withColumn("line_keep", col("s.line_keep"))
      .withColumn("keep", !rNoKept && !rBullet && !rEllipsis)
      .withColumn("reasons", array_join(concat(
        when(rNoKept, array(lit("no_kept_lines"))).otherwise(array()),
        when(rBullet, array(lit("bullet_heavy"))).otherwise(array()),
        when(rEllipsis, array(lit("ellipsis_heavy"))).otherwise(array())), ","))
      .select("doc_id", "idx", "n_words", "line_keep",
        "n_lines", "n_kept", "n_bullet", "n_ellipsis", "keep", "reasons")
      .contractOrderBy("doc_id", "idx")
  }

  /** The shared scored-line CTE prelude (`d` → `l` → `s` → `k`) — one
    * generator for both line-grain oracles so the rule arithmetic
    * cannot drift between them.
    */
  private def lineScoredCtes: String = {
    val minW = GraftConf.qualityLineMinWords
    s"""d AS (
       |  SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents
       |), l AS (
       |  SELECT doc_id,
       |    CAST(unnest(generate_series(1, len(ls))) - 1 AS BIGINT) AS idx,
       |    unnest(ls) AS line
       |  FROM d
       |), s AS (
       |  SELECT doc_id, idx, line,
       |    CAST(CASE WHEN line = '' THEN 0 ELSE len(string_split(line, ' ')) END AS BIGINT) AS n_words,
       |    regexp_matches(line, '[.!?]["'']?${"$"}') AS terminal,
       |    regexp_matches(line, '^[-*' || chr(8226) || ']') AS bullet,
       |    regexp_matches(line, '(\\.\\.\\.|' || chr(8230) || ')${"$"}') AS ellipsis,
       |    (contains(line, '{') OR contains(line, '}')
       |      OR contains(lower(line), 'javascript')) AS brace_js
       |  FROM l
       |), k AS (
       |  SELECT doc_id, idx, line, n_words,
       |    (n_words >= $minW AND terminal AND NOT brace_js) AS line_keep,
       |    bullet, ellipsis
       |  FROM s
       |)""".stripMargin
  }

  def lineQualityFilterSql: String = {
    val maxB = GraftConf.qualityMaxBulletPct
    val maxE = GraftConf.qualityMaxEllipsisPct
    s"""WITH $lineScoredCtes, agg AS (
       |  SELECT doc_id, idx, n_words, line_keep,
       |    CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_lines,
       |    CAST(sum(CASE WHEN line_keep THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id) AS BIGINT) AS n_kept,
       |    CAST(sum(CASE WHEN bullet THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id) AS BIGINT) AS n_bullet,
       |    CAST(sum(CASE WHEN ellipsis THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id) AS BIGINT) AS n_ellipsis
       |  FROM k
       |)
       |SELECT doc_id, idx, n_words, line_keep, n_lines, n_kept, n_bullet, n_ellipsis,
       |  NOT (n_kept < 1 OR n_bullet * 100 > n_lines * $maxB
       |       OR n_ellipsis * 100 > n_lines * $maxE) AS keep,
       |  coalesce(array_to_string(
       |    (CASE WHEN n_kept < 1 THEN ['no_kept_lines'] ELSE [] END)
       |    || (CASE WHEN n_bullet * 100 > n_lines * $maxB THEN ['bullet_heavy'] ELSE [] END)
       |    || (CASE WHEN n_ellipsis * 100 > n_lines * $maxE THEN ['ellipsis_heavy'] ELSE [] END), ','), '') AS reasons
       |FROM agg
       |ORDER BY doc_id, idx""".stripMargin
  }

  /** `line_quality_cut`: the ACT step over [[lineQualityFilter]]'s line
    * verdicts — what C4 actually DOES (Raffel et al. 2020 §2.2 removes
    * failing lines, then drops pages that keep too little): kept lines
    * reassemble in order into `clean_text` (the paragraph grammar's own
    * `\n` join, so an uncut doc round-trips byte-identically — the
    * `winnow_cut`/`dedup_substrings_cut` act-step contract), and a doc
    * failing the document verdict (no kept line, bullet/ellipsis ratio
    * breach) empties entirely. Every input doc emits exactly one row
    * with removal accounting.
    *
    * Scale shape: ONE hash aggregation on doc_id over the shared scored
    * line table — conditional aggregates compute the counters and the
    * kept-line reassembly in the same partial+final pass (collect_list
    * skips the NULLs the CASE leaves for cut lines); no join, no
    * window, no corpus sort.
    */
  def lineQualityCut(spark: SparkSession, dir: String): DataFrame =
    lineQualityCutOf(Tables.documents(spark, dir))

  def lineQualityCutOf(docs: DataFrame): DataFrame = {
    val maxB = GraftConf.qualityMaxBulletPct
    val maxE = GraftConf.qualityMaxEllipsisPct
    // zero-shuffle act step (r18): the scored struct array already holds
    // every line in order, so kept-line reassembly is a filter+transform
    // over the doc row — the explode → collect_list(struct) round trip
    // (a full shuffle of the corpus text) is gone
    val docKeep = col("n_kept") >= 1 &&
      col("n_bullet") * 100 <= col("n_lines") * maxB &&
      col("n_ellipsis") * 100 <= col("n_lines") * maxE
    lineScoredArrOf(docs)
      .withColumn("kept_text", col("lsc.kept_text"))
      .withColumn("keep", docKeep)
      .withColumn("clean_text", when(docKeep, col("kept_text")).otherwise(lit("")))
      .select("doc_id", "clean_text", "n_lines", "n_kept", "keep")
      .contractOrderBy("doc_id")
  }

  def lineQualityCutSql: String = {
    val maxB = GraftConf.qualityMaxBulletPct
    val maxE = GraftConf.qualityMaxEllipsisPct
    s"""WITH $lineScoredCtes, agg AS (
       |  SELECT doc_id,
       |    CAST(count(*) AS BIGINT) AS n_lines,
       |    CAST(sum(CASE WHEN line_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |    CAST(sum(CASE WHEN bullet THEN 1 ELSE 0 END) AS BIGINT) AS n_bullet,
       |    CAST(sum(CASE WHEN ellipsis THEN 1 ELSE 0 END) AS BIGINT) AS n_ellipsis,
       |    coalesce(string_agg(line, chr(10) ORDER BY idx) FILTER (WHERE line_keep), '') AS kept_text
       |  FROM k GROUP BY doc_id
       |)
       |SELECT doc_id,
       |  CASE WHEN n_kept >= 1 AND n_bullet * 100 <= n_lines * $maxB
       |            AND n_ellipsis * 100 <= n_lines * $maxE
       |       THEN kept_text ELSE '' END AS clean_text,
       |  n_lines, n_kept,
       |  (n_kept >= 1 AND n_bullet * 100 <= n_lines * $maxB
       |    AND n_ellipsis * 100 <= n_lines * $maxE) AS keep
       |FROM agg
       |ORDER BY doc_id""".stripMargin
  }

  /** `gopher_quality`: the word-level Gopher quality rule set (Rae et al.
    * 2021 appendix A1.1) as a second, independent filter next to
    * [[qualityFilter]]'s C4-style rules — word-count bounds, mean word
    * length in [3, 10], symbol-to-word ratio (# or …) ≤ 10%, ≥ 80% of
    * words containing an alphabetic character, and ≥ 2 distinct stopwords
    * from [[GraftConf.gopherStops]] (production = Gopher's 8 function
    * words; default scaled to the synthetic vocabulary). The line-grain
    * rules — bullet starts, ellipsis ends — live in
    * [[lineQualityFilter]], which runs on the newline structure the
    * WARC front door now emits.
    *
    * Every rule compares in INTEGER math (`chars < words·3`,
    * `sym·100 > words·10`, …) — the quality_filter discipline: no float
    * ratio ever decides a keep, so engines can't disagree on a boundary.
    * The distinct-stopword count is one explicit membership test per list
    * word, not array_intersect, whose dedup semantics differ across
    * engines.
    *
    * Scale shape: one stateless projection — no explode, no join, no
    * aggregation; the whole filter is map-side and codegen-friendly
    * except the two interpreted higher-order lambdas (aggregate/filter
    * over the word array), the same trade [[qualityFilter]] documents.
    */
  def gopherQuality(spark: SparkSession, dir: String): DataFrame =
    gopherQualityOf(Tables.documents(spark, dir))

  def gopherQualityOf(docs: DataFrame): DataFrame = {
    val minW = GraftConf.gopherMinWords
    val maxW = GraftConf.gopherMaxWords
    val nStop = GraftConf.gopherStops.map(w => when(array_contains(col("ws"), w), 1).otherwise(0))
      .reduce(_ + _).cast("long")
    val base = docs
      .withColumn("ws", split(col("text"), " "))
      .withColumn("n_words", size(col("ws")).cast("long"))
      .withColumn("tot_chars", expr("aggregate(ws, 0L, (a, x) -> a + length(x))"))
      .withColumn("n_sym", regexp_count(col("text"), lit("#|\\.\\.\\.")).cast("long"))
      .withColumn("n_alpha", expr("size(filter(ws, w -> w rlike '[a-zA-Z]'))").cast("long"))
      .withColumn("n_gstop", nStop)
    val rShort = col("n_words") < minW
    val rLong = col("n_words") > maxW
    val rMeanS = col("tot_chars") < col("n_words") * 3
    val rMeanL = col("tot_chars") > col("n_words") * 10
    val rSym = col("n_sym") * 100 > col("n_words") * 10
    val rAlpha = col("n_alpha") * 100 < col("n_words") * 80
    val rStop = col("n_gstop") < 2
    base
      .withColumn("keep", !rShort && !rLong && !rMeanS && !rMeanL && !rSym && !rAlpha && !rStop)
      .withColumn("reasons", array_join(concat(
        when(rShort, array(lit("too_short"))).otherwise(array()),
        when(rLong, array(lit("too_long"))).otherwise(array()),
        when(rMeanS, array(lit("short_words"))).otherwise(array()),
        when(rMeanL, array(lit("long_words"))).otherwise(array()),
        when(rSym, array(lit("symbol_heavy"))).otherwise(array()),
        when(rAlpha, array(lit("low_alpha"))).otherwise(array()),
        when(rStop, array(lit("few_stopwords"))).otherwise(array())), ","))
      .select("doc_id", "n_words", "tot_chars", "n_sym", "n_alpha", "n_gstop", "keep", "reasons")
      .contractOrderBy("doc_id")
  }

  def gopherQualitySql: String = {
    val minW = GraftConf.gopherMinWords
    val maxW = GraftConf.gopherMaxWords
    val stopSum = GraftConf.gopherStops
      .map(w => s"(CASE WHEN list_contains(ws, '$w') THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH d AS (
       |  SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents
       |), base AS (
       |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
       |    CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT) AS tot_chars,
       |    CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS BIGINT) AS n_sym,
       |    CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
       |    CAST($stopSum AS BIGINT) AS n_gstop
       |  FROM d
       |)
       |SELECT doc_id, n_words, tot_chars, n_sym, n_alpha, n_gstop,
       |  NOT (n_words < $minW OR n_words > $maxW
       |       OR tot_chars < n_words * 3 OR tot_chars > n_words * 10
       |       OR n_sym * 100 > n_words * 10 OR n_alpha * 100 < n_words * 80
       |       OR n_gstop < 2) AS keep,
       |  coalesce(array_to_string(
       |    (CASE WHEN n_words < $minW THEN ['too_short'] ELSE [] END)
       |    || (CASE WHEN n_words > $maxW THEN ['too_long'] ELSE [] END)
       |    || (CASE WHEN tot_chars < n_words * 3 THEN ['short_words'] ELSE [] END)
       |    || (CASE WHEN tot_chars > n_words * 10 THEN ['long_words'] ELSE [] END)
       |    || (CASE WHEN n_sym * 100 > n_words * 10 THEN ['symbol_heavy'] ELSE [] END)
       |    || (CASE WHEN n_alpha * 100 < n_words * 80 THEN ['low_alpha'] ELSE [] END)
       |    || (CASE WHEN n_gstop < 2 THEN ['few_stopwords'] ELSE [] END), ','), '') AS reasons
       |FROM base
       |ORDER BY doc_id""".stripMargin
  }

  def qualityFilterSql: String = {
    val stopList = TextAnalysis.EnStopwords.map("'" + _ + "'").mkString(",")
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
       |), base AS (
       |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
       |    CAST(len(list_filter(ws, w -> w IN ($stopList))) AS BIGINT) AS n_stop,
       |    CASE WHEN len(ws) >= 2
       |      THEN list_transform(generate_series(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i + 1])
       |      ELSE CAST([] AS VARCHAR[]) END AS bgs
       |  FROM d
       |), bg AS (
       |  SELECT doc_id, unnest(bgs) AS bg FROM base
       |), topbg AS (
       |  SELECT doc_id, CAST(max(cnt) AS BIGINT) AS top_bg FROM (
       |    SELECT doc_id, bg, count(*) AS cnt FROM bg GROUP BY doc_id, bg)
       |  GROUP BY doc_id
       |), j AS (
       |  SELECT b.doc_id, b.n_words, b.n_stop, coalesce(t.top_bg, 0) AS top_bg
       |  FROM base b LEFT JOIN topbg t ON b.doc_id = t.doc_id
       |)
       |SELECT doc_id, n_words, n_stop, top_bg,
       |  NOT (n_words < $MinWords OR n_words > $MaxWords
       |       OR n_stop * 100 < n_words * $MinStopPct OR top_bg * 100 > n_words * $MaxTopBigramPct) AS keep,
  coalesce(array_to_string(
       |    (CASE WHEN n_words < $MinWords THEN ['too_short'] ELSE [] END)
       |    || (CASE WHEN n_words > $MaxWords THEN ['too_long'] ELSE [] END)
       |    || (CASE WHEN n_stop * 100 < n_words * $MinStopPct THEN ['low_stopword'] ELSE [] END)
       |    || (CASE WHEN top_bg * 100 > n_words * $MaxTopBigramPct THEN ['repetitive'] ELSE [] END), ','), '') AS reasons
       |FROM j
       |ORDER BY doc_id""".stripMargin
  }

  // ---- decontaminate ------------------------------------------------------

  /** Benchmark-decontamination n-gram width
    * (`spark.graft.decontam.ngram`): the production recipe is 13 (GPT-3
    * appx C / PaLM); the default scales it to the short synthetic docs.
    */
  def ContamNgram: Int = GraftConf.decontamNgram
  /** Deterministic pseudo-benchmark: docs whose id ≡ 0 (mod 97) play the
    * held-out eval set.
    */
  val EvalIdMod = 97

  /** The eval set's distinct [[ContamNgram]]-gram hash table — the static
    * side a crawl-time quarantine
    * ([[graft.streaming.StreamOps.curateStream]]) joins arriving docs
    * against; [[decontaminateFrom]] builds the identical hashes inline.
    */
  def evalNgramHashesOf(docs: DataFrame, isEval: Column): DataFrame =
    docs.filter(isEval)
      .withColumn("ws", split(col("text"), " "))
      .select(explode(expr(hashedNgramExpr(ContamNgram))).as("h"))
      .distinct()

  /** Distinct [[ContamNgram]]-gram 64-bit md5 keys per doc (r18): the
    * fused native form of `transform(ngramExpr, g -> substr(md5(g), 1,
    * 16))` — the full-width first-8-bytes key as a LONG instead of a
    * 16-hex string (same 64 bits, half the join/broadcast bytes, no
    * hex/substr churn; distinct moves after hashing by the repo's
    * distinct-strings ↔ distinct-hashes identity). The oracle keeps the
    * 16-hex string form — a bijection of the same key.
    */
  private[graft] def hashedNgramExpr(k: Int): String =
    s"array_distinct(graft_gram_hash(ws, $k, 16))"

  private def ngramSqlExpr(k: Int): String = {
    val parts = (0 until k).map(j => s"ws[i + $j]").mkString(" || ' ' || ")
    s"""CASE WHEN len(ws) >= $k
       | THEN list_distinct(list_transform(generate_series(1, len(ws) - ${k - 1}), i -> $parts))
       | ELSE CAST([] AS VARCHAR[]) END""".stripMargin.replace("\n", "")
  }

  /** `decontaminate`: flag training documents sharing any [[ContamNgram]]-
    * gram with the benchmark (eval) set — the standard pretraining
    * decontamination sweep. Per train doc: distinct n-gram count, how many
    * hit the eval n-gram set, overlap fraction, contaminated flag.
    *
    * Scale shape: the eval side is benchmark-sized (thousands of docs, not
    * billions), so its distinct n-gram set is BROADCAST and the 100 TB
    * train side streams through a broadcast hash join — no shuffle of the
    * corpus. N-grams travel as 64-bit md5-prefix longs, not raw strings
    * (the oracle keeps the equivalent 16-hex string form — same 64 bits).
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame =
    decontaminateFrom(Tables.documents(spark, dir),
      col("doc_id") % EvalIdMod === 0)

  /** [[decontaminate]] over any (doc_id, text) relation with an arbitrary
    * eval-membership predicate — the seam [[corpusCurate]] composes so both
    * sweeps run against ONE benchmark set.
    */
  def decontaminateFrom(rawDocs: DataFrame, isEval: Column): DataFrame = {
    val docs = rawDocs
      .withColumn("ws", split(col("text"), " "))
      .withColumn("ngs", expr(hashedNgramExpr(ContamNgram)))
      .withColumn("is_eval", isEval)
    // explode_outer, not explode: plain explode pushes a `size(ngs) > 0 AND
    // isnotnull(ngs)` filter below the Generate, and because higher-order
    // functions are interpreted (not codegen'd) that re-evaluates the whole
    // n-gram construction 3x per row — measured 2x wall-clock on this query.
    // With the outer variant a no-ngram doc yields one null row, which the
    // count(h)/count-non-null aggregates below ignore — and it keeps the doc
    // in the output without a second corpus scan for the left join.
    val evalNgrams = docs.filter(col("is_eval"))
      .select(explode(col("ngs")).as("h"))
      .distinct()
    val trainNgrams = docs.filter(!col("is_eval"))
      .select(col("doc_id"), explode_outer(col("ngs")).as("h"))
    trainNgrams
      .join(broadcast(evalNgrams.withColumn("hit", lit(1))), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("h")).as("n_ngrams"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_matched"))
      .withColumn("overlap_frac",
        coalesce(round(col("n_matched").cast("double") / nullif(col("n_ngrams"), lit(0L)), 4),
          lit(0.0)))
      .withColumn("contaminated", col("n_matched") > 0)
      .select("doc_id", "n_ngrams", "n_matched", "overlap_frac", "contaminated")
      .contractOrderBy("doc_id")
  }

  def decontaminateSql: String = decontaminateSqlAt(EvalIdMod)

  /** [[decontaminateSql]] parameterized on the eval modulus — the corpus-
    * curation oracle runs it at the fuzzy sweep's mod so both sweeps share
    * one benchmark set.
    */
  private[graft] def decontaminateSqlAt(mod: Int): String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws, doc_id % $mod = 0 AS is_eval
       |  FROM documents
       |), g AS (
       |  SELECT doc_id, is_eval, ${ngramSqlExpr(ContamNgram)} AS ngs FROM d
       |), ev AS (
       |  SELECT DISTINCT substr(md5(unnest(ngs)), 1, 16) AS h FROM g WHERE is_eval
       |), tr AS (
       |  SELECT doc_id, substr(md5(unnest(ngs)), 1, 16) AS h FROM g WHERE NOT is_eval
       |), agg AS (
       |  SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
       |    CAST(count(ev.h) AS BIGINT) AS n_matched
       |  FROM tr LEFT JOIN ev ON tr.h = ev.h
       |  GROUP BY tr.doc_id
       |)
       |SELECT g.doc_id,
       |  coalesce(a.n_ngrams, 0) AS n_ngrams,
       |  coalesce(a.n_matched, 0) AS n_matched,
       |  coalesce(round(CAST(a.n_matched AS DOUBLE) / nullif(a.n_ngrams, 0), 4), 0.0) AS overlap_frac,
       |  coalesce(a.n_matched, 0) > 0 AS contaminated
       |FROM g LEFT JOIN agg a ON g.doc_id = a.doc_id
       |WHERE NOT g.is_eval
       |ORDER BY g.doc_id""".stripMargin

  // ---- decontaminate_fuzzy ------------------------------------------------

  /** Fuzzy-decontamination Jaccard threshold
    * (`spark.graft.decontam.fuzzyTau`).
    */
  def FuzzyTau: Double = GraftConf.decontamFuzzyTau

  /** Eval-membership modulus for the fuzzy sweep's oracle-facing default
    * (`spark.graft.decontam.fuzzyEvalMod`) — see the conf Scaladoc for why
    * it differs from [[EvalIdMod]].
    */
  def FuzzyEvalMod: Int = GraftConf.decontamFuzzyEvalMod

  /** `decontaminate_fuzzy`: MinHash-LSH CROSS-SET decontamination — train
    * documents that are near-duplicates of an eval document, not merely
    * sharing one n-gram with the eval set (the [[decontaminate]] sweep).
    * This is the fuzzy half of production decontamination (GPT-3 appx C /
    * Llama style): an eval answer paraphrased or truncated into a train doc
    * clears the exact n-gram bar yet still leaks the benchmark; Jaccard
    * against the eval doc catches it. Per train doc: how many eval docs it
    * collides with above [[FuzzyTau]], the worst offender (highest Jaccard,
    * ties to the lower eval id) and its similarity.
    *
    * Scale shape (the reason this is NOT `dedup_minhash_lsh` filtered to
    * cross pairs): the eval side is benchmark-sized, so its band table and
    * shingle sets BROADCAST — the 100 TB train side is banded map-side and
    * streams through two broadcast hash joins (band match, then Jaccard
    * verify); the corpus never shuffles and no train-train candidate is
    * ever generated or verified. Candidate fan-out per train row is bounded
    * by eval-bucket occupancy (≤ eval set size), so no hot-bucket cap is
    * needed on this lane. Banding reuses [[Dedup.bandTableOf]] verbatim —
    * same signature family, same conf fingerprint.
    */
  def decontaminateFuzzy(spark: SparkSession, dir: String): DataFrame =
    decontaminateFuzzyFrom(Tables.documents(spark, dir),
      col("doc_id") % FuzzyEvalMod === 0)

  /** [[decontaminateFuzzy]] over any (doc_id, text) relation with an
    * arbitrary eval-membership predicate over `doc_id` — the seam a real
    * deployment calls with its actual benchmark corpus.
    */
  def decontaminateFuzzyFrom(docs: DataFrame, isEval: Column): DataFrame = {
    val sets = Intermediates.persist(Dedup.hashedShingleSetsOf(docs))
    val banded = Intermediates.persist(Dedup.bandTableOf(sets))
    val evalBands = banded.filter(isEval)
      .select(col("band_id"), col("band_hash"), col("doc_id").as("eval_id"))
    val cands = banded.filter(!isEval)
      .join(broadcast(evalBands), Seq("band_id", "band_hash"))
      .select(col("doc_id"), col("eval_id"))
      .distinct()
    val evalSets = sets.filter(isEval)
      .select(col("doc_id").as("eval_id"), col("hs").as("ehs"))
    // cands is collision-sized (docs sharing a band with the benchmark),
    // orders smaller than the corpus — AQE broadcasts it into the sets
    // join, so even the verify re-join shuffles nothing corpus-grain
    val verified = cands
      .join(sets.select(col("doc_id"), col("hs")), "doc_id")
      .join(broadcast(evalSets), "eval_id")
      .withColumn("inter", size(array_intersect(col("hs"), col("ehs"))).cast("long"))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (size(col("hs")) + size(col("ehs")) - col("inter")), 4))
      .filter(col("jaccard") >= FuzzyTau)
    // per-doc rollup: hit count + worst offender, as ONE hash aggregation
    // (r18 — was a count window + a row_number window, shuffle + sort):
    // graft_min1(struct(-jaccard, eval_id)) is exactly "jaccard desc,
    // eval_id asc" (jaccard ≥ τ > 0, so double negation is a pure sign
    // flip), with map-side partial aggregation (graft_min1 routes through
    // ObjectHashAggregate; the builtin min(struct) would SortAggregate)
    val top = verified.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_eval_hits"),
        call_function("graft_min1",
          struct((-col("jaccard")).as("nj"), col("eval_id").as("eval_id"))).as("m"))
      .select(col("doc_id"), col("n_eval_hits"),
        col("m.eval_id").as("top_eval_id"), (-col("m.nj")).as("top_jaccard"))
    docs.filter(!isEval).select("doc_id")
      .join(top, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_eval_hits"), lit(0L)).as("n_eval_hits"),
        col("top_eval_id"),
        coalesce(col("top_jaccard"), lit(0.0)).as("top_jaccard"),
        col("top_eval_id").isNotNull.as("contaminated"))
      .contractOrderBy("doc_id")
  }

  def decontaminateFuzzySql: String =
    s"""${Dedup.minhashBandedCtes},
       |evb AS (
       |  SELECT band_id, band_hash, doc_id AS eval_id FROM banded_all
       |  WHERE doc_id % $FuzzyEvalMod = 0
       |),
       |cand AS (
       |  SELECT DISTINCT t.doc_id, e.eval_id
       |  FROM banded_all t JOIN evb e USING (band_id, band_hash)
       |  WHERE t.doc_id % $FuzzyEvalMod <> 0
       |),
       |verified AS (
       |  SELECT c.doc_id, c.eval_id,
       |    round(CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE) /
       |          (len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs))), 4) AS jaccard
       |  FROM cand c JOIN hsets sa ON c.doc_id = sa.doc_id
       |               JOIN hsets sb ON c.eval_id = sb.doc_id
       |),
       |flagged AS (
       |  SELECT doc_id, eval_id, jaccard,
       |    count(*) OVER (PARTITION BY doc_id) AS n_eval_hits,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY jaccard DESC, eval_id) AS rn
       |  FROM verified WHERE jaccard >= $FuzzyTau
       |)
       |SELECT d.doc_id,
       |  CAST(coalesce(f.n_eval_hits, 0) AS BIGINT) AS n_eval_hits,
       |  f.eval_id AS top_eval_id,
       |  coalesce(f.jaccard, 0.0) AS top_jaccard,
       |  f.doc_id IS NOT NULL AS contaminated
       |FROM documents d
       |LEFT JOIN flagged f ON d.doc_id = f.doc_id AND f.rn = 1
       |WHERE d.doc_id % $FuzzyEvalMod <> 0
       |ORDER BY d.doc_id""".stripMargin

  // ---- decontaminate_semantic ---------------------------------------------

  /** Semantic decontamination cosine threshold
    * (`spark.graft.decontam.semTau`).
    */
  def SemDecontamTau: Double = GraftConf.decontamSemTau

  /** `decontaminate_semantic` (r10): the THIRD decontamination rung —
    * exact n-gram ([[decontaminate]]) catches verbatim leaks, fuzzy
    * MinHash ([[decontaminateFuzzy]]) catches edited copies, and this
    * catches PARAPHRASES: train items whose EMBEDDING sits above
    * [[SemDecontamTau]] cosine of any benchmark item (the
    * rephrased-benchmark leak none of the lexical rungs can see — the
    * decontamination analog of `dedup_semantic` vs the lexical dedup
    * lanes). Same benchmark carving as the other rungs
    * (`% FuzzyEvalMod`), applied to vec_id, so all three rungs audit ONE
    * benchmark set; same per-train-doc rollup shape as the fuzzy rung
    * (hit count, worst offender, flag) so the act step composes
    * identically.
    *
    * Scale: the benchmark side BROADCASTS (an eval suite is thousands of
    * items — the same broadcast-the-benchmark argument the exact and
    * fuzzy rungs stand on) and the corpus streams through one
    * broadcast-nested-loop scan of exact `graft_dot` products; per-train
    * fan-out is bounded by the benchmark. When the benchmark itself is
    * huge, the blocking seams already exist: SRP bands
    * ([[Dedup.srpPairsOf]]) or the trained IVF cells restrict candidate
    * pairs before the exact dot, exactly as the dedup lanes do.
    * Determinism: cosine frozen once as round(graft_dot, 4) — the
    * [[Dedup.dedupEmbedding]] discipline, green since r5.
    */
  def decontaminateSemantic(spark: SparkSession, dir: String): DataFrame =
    decontaminateSemanticFrom(Tables.embeddings(spark, dir),
      col("vec_id") % FuzzyEvalMod === 0)

  /** The semantic rung over any (vec_id, embedding) relation with an
    * arbitrary eval-membership predicate — the deployment seam, as the
    * exact/fuzzy rungs have.
    */
  def decontaminateSemanticFrom(embs: DataFrame, isEval: Column): DataFrame = {
    val e = embs.select(col("vec_id"),
      expr("transform(embedding, x -> cast(x as double))").as("emb"))
    val ev = e.filter(isEval)
      .select(col("vec_id").as("eval_id"), col("emb").as("eemb"))
    val hits = e.filter(!isEval)
      .crossJoin(broadcast(ev))
      .withColumn("cos", round(expr("graft_dot(emb, eemb)"), 4))
      .filter(col("cos") >= SemDecontamTau)
    // per-train-doc rollup: hit count + worst offender, as ONE hash
    // aggregation (r18 — the decontaminate_fuzzy rewrite): cos ≥ τ > 0,
    // so graft_min1(struct(-cos, eval_id)) is exactly "cos desc, eval_id
    // asc"
    val top = hits.groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_sem_hits"),
        call_function("graft_min1",
          struct((-col("cos")).as("nc"), col("eval_id").as("eval_id"))).as("m"))
      .select(col("vec_id"), col("n_sem_hits"),
        col("m.eval_id").as("top_eval_id"), (-col("m.nc")).as("top_cos"))
    embs.filter(!isEval).select("vec_id")
      .join(top, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("n_sem_hits"), lit(0L)).as("n_sem_hits"),
        col("top_eval_id"),
        coalesce(col("top_cos"), lit(0.0)).as("top_cos"),
        col("top_eval_id").isNotNull.as("contaminated"))
      .contractOrderBy("vec_id")
  }

  def decontaminateSemanticSql: String =
    s"""WITH ev AS (
       |  SELECT vec_id AS eval_id, CAST(embedding AS DOUBLE[]) AS eemb
       |  FROM embeddings WHERE vec_id % $FuzzyEvalMod = 0
       |), tr AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |  FROM embeddings WHERE vec_id % $FuzzyEvalMod <> 0
       |), hits AS (
       |  SELECT t.vec_id, e.eval_id,
       |    round(list_inner_product(t.emb, e.eemb), 4) AS cos
       |  FROM tr t CROSS JOIN ev e
       |  WHERE round(list_inner_product(t.emb, e.eemb), 4) >= $SemDecontamTau
       |), flagged AS (
       |  SELECT vec_id, eval_id, cos,
       |    CAST(count(*) OVER (PARTITION BY vec_id) AS BIGINT) AS n_sem_hits,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, eval_id) AS rn
       |  FROM hits
       |)
       |SELECT t.vec_id,
       |  CAST(coalesce(f.n_sem_hits, 0) AS BIGINT) AS n_sem_hits,
       |  f.eval_id AS top_eval_id,
       |  coalesce(f.cos, 0.0) AS top_cos,
       |  f.vec_id IS NOT NULL AS contaminated
       |FROM embeddings t
       |LEFT JOIN flagged f ON t.vec_id = f.vec_id AND f.rn = 1
       |WHERE t.vec_id % $FuzzyEvalMod <> 0
       |ORDER BY t.vec_id""".stripMargin

  // ---- the curation funnel ----------------------------------------------

  /** The curation funnel core, Spark side — every funnel row
    * (`corpus_curate`, `corpus_curate_delta`, `corpus_curate_delta_best`,
    * `pipeline_curate`) is this over its own train ids and dedup rung.
    * The quality rung scores `qualityDocs`; both decontamination sweeps
    * run over `sweepDocs`, whose `isEval` rows are the benchmark.
    */
  private def curateFunnel(trainIds: DataFrame, qualityDocs: DataFrame,
      sweepDocs: DataFrame, isEval: Column, dedup: Seq[DataFrame],
      extras: Column*): DataFrame =
    funnelOf(trainIds,
      qualityFilterOf(qualityDocs).select(col("doc_id"), col("keep").as("q_keep")),
      decontaminateFrom(sweepDocs, isEval)
        .select(col("doc_id"), col("contaminated").as("contam_exact")),
      decontaminateFuzzyFrom(sweepDocs, isEval)
        .select(col("doc_id"), col("contaminated").as("contam_fuzzy")),
      dedup, extras: _*)

  /** The funnel's stage rule (see the object doc) over per-doc rung
    * frames. `q`, `ce` and `cf` are (doc_id, q_keep | contam_exact |
    * contam_fuzzy) and cover every train id; the `dedup` frames are
    * left-joined on doc_id in order, the first carrying the dedup rung
    * (true = keep) as its second column. Output: the seven funnel
    * columns, then `extras` (expressions over any joined column).
    */
  private[graft] def funnelOf(trainIds: DataFrame, q: DataFrame, ce: DataFrame,
      cf: DataFrame, dedup: Seq[DataFrame], extras: Column*): DataFrame = {
    val rung = col(dedup.head.columns(1))
    dedup.foldLeft(trainIds.join(q, "doc_id").join(ce, "doc_id").join(cf, "doc_id"))(
        _.join(_, Seq("doc_id"), "left"))
      .withColumn("dedup_keep", rung.isNull || rung)
      .withColumn("kept",
        col("q_keep") && !col("contam_exact") && !col("contam_fuzzy") &&
          col("dedup_keep"))
      .withColumn("stage",
        when(!col("q_keep"), "quality")
          .when(col("contam_exact"), "contam_exact")
          .when(col("contam_fuzzy"), "contam_fuzzy")
          .when(!col("dedup_keep"), "duplicate")
          .otherwise("kept"))
      .select(Seq("doc_id", "q_keep", "contam_exact", "contam_fuzzy",
        "dedup_keep", "kept", "stage").map(col) ++ extras: _*)
      .contractOrderBy("doc_id")
  }

  /** The funnel's SQL tail, [[funnelOf]]'s twin. `dedupRel` is
    * left-joined as `v` on `v.id` and `keep` is its keep predicate.
    * The quality and both decontamination sub-queries are spliced in
    * AFTER stripMargin: `qualityFilterSql` carries `||` list-concat lines
    * an outer stripMargin would truncate at their first pipe.
    */
  private def funnelTailSql(dedupRel: String, keep: String, where: String,
      extraCols: Seq[String] = Nil, extraJoins: Seq[String] = Nil): String = {
    val dedupKeep = s"(v.id IS NULL OR $keep)"
    s"""
       |SELECT d.doc_id, q.keep AS q_keep,
       |  ce.contaminated AS contam_exact,
       |  cf.contaminated AS contam_fuzzy,
       |  $dedupKeep AS dedup_keep,
       |  (q.keep AND NOT ce.contaminated AND NOT cf.contaminated
       |    AND $dedupKeep) AS kept,
       |  CASE WHEN NOT q.keep THEN 'quality'
       |       WHEN ce.contaminated THEN 'contam_exact'
       |       WHEN cf.contaminated THEN 'contam_fuzzy'
       |       WHEN NOT $dedupKeep THEN 'duplicate'
       |       ELSE 'kept' END AS stage${extraCols.map(",\n  " + _).mkString}
       |FROM documents d
       |JOIN (%QF%) q ON d.doc_id = q.doc_id
       |JOIN (%CE%) ce ON d.doc_id = ce.doc_id
       |JOIN (%CF%) cf ON d.doc_id = cf.doc_id
       |LEFT JOIN $dedupRel v ON d.doc_id = v.id${extraJoins.map("\n" + _).mkString}
       |WHERE $where
       |ORDER BY d.doc_id""".stripMargin
      .replace("%QF%", qualityFilterSql)
      .replace("%CE%", decontaminateSqlAt(FuzzyEvalMod))
      .replace("%CF%", decontaminateFuzzySql)
  }

  // ---- corpus_curate ------------------------------------------------------

  /** `corpus_curate`: the full curation FUNNEL a pretraining corpus runs —
    * quality filter → benchmark decontamination (exact n-gram AND fuzzy
    * near-dup, both against ONE benchmark set) → unified-dedup keep — as
    * one per-doc verdict: every stage's flag, the final `kept`, and
    * `stage` = the first stage that drops the doc (the FineWeb-style
    * funnel accounting a pipeline owner reads to see where the corpus
    * went). Composes the shipped operator cores ([[qualityFilterOf]],
    * [[decontaminateFrom]], [[decontaminateFuzzyFrom]],
    * [[graft.operators.Dedup.unifiedPairsOf]] → clusters → keep flag);
    * nothing is re-derived.
    *
    * Dedup clusters are computed over the FULL corpus including benchmark
    * docs, then the verdict restricted to train docs: a train doc that
    * near-duplicates a benchmark doc must NOT survive as its cluster's
    * canonical (it is dropped by the dedup stage — and typically flagged
    * by the fuzzy sweep as well). Stage flags are evaluated independently
    * (a quality-dropped doc still participates in clustering), so the
    * canonical choice is stable however the stages are reordered.
    *
    * Scale shape = the union of its parts, all individually plan-audited:
    * quality is one scan, both decontamination sweeps broadcast the
    * benchmark side, the dedup lanes are the capped band joins, CC runs
    * over the edge set only, and the final assembly is key joins on
    * doc_id — corpus-grain rows never shuffle on anything else.
    */
  def corpusCurate(spark: SparkSession, dir: String): DataFrame =
    corpusCurateFromPairs(Tables.documents(spark, dir),
      Dedup.storedUnifiedPairs(spark, dir),
      col("doc_id") % FuzzyEvalMod === 0)

  def corpusCurateFrom(docs: DataFrame, embs: DataFrame,
      isEval: Column): DataFrame =
    corpusCurateFromPairs(docs, Dedup.unifiedPairsOf(docs, embs), isEval)

  private[graft] def corpusCurateFromPairs(docs: DataFrame, pairs: DataFrame,
      isEval: Column): DataFrame =
    curateFunnel(docs.filter(!isEval).select("doc_id"), docs, docs, isEval,
      Seq(Dedup.clustersFromPairs(pairs).select(col("doc_id"), col("is_canonical"))))

  def corpusCurateSql: String =
    Dedup.unifiedClosureCtes + funnelTailSql("cc", "v.id = v.cluster_id",
      s"d.doc_id % $FuzzyEvalMod <> 0")

  // ---- corpus_curate_delta --------------------------------------------------

  /** `corpus_curate_delta` (r12): the PER-CRAWL ingest funnel — the
    * incremental composition of everything a new crawl passes before any
    * of it reaches training: per-doc quality rules (stateless — the
    * crawl's own text decides), exact + fuzzy decontamination against
    * the FIXED benchmark registry (eval n-grams/shingles derive from the
    * registry only, so scanning registry ∪ crawl is O(crawl + registry)),
    * and the INCREMENTAL unified dedup verdict
    * ([[Dedup.dedupKeepUnifiedDeltaFrom]] — five delta lanes contracted
    * onto the persisted base membership; a crawl doc keeps only if it is
    * its merged component's canonical or untouched). Output: one funnel
    * row per crawl doc with the same columns and stage-attribution rule
    * as `corpus_curate` — this IS `corpus_curate` for the crawl, at
    * per-crawl cost (quality/contamination are crawl-linear; dedup is
    * touched-bucket-bounded), never an O(corpus) re-run.
    *
    * Oracle: quality/contamination verdicts are per-doc (full-corpus
    * sub-selects joined on crawl ids are value-identical); the dedup
    * column reads the shared [[Dedup.unifiedDeltaClosureCtes]] —
    * base-only ∪ delta-touching closure, the incremental semantics — so
    * the funnel's dedup verdict can never drift from
    * `dedup_keep_unified_delta`'s.
    */
  def corpusCurateDelta(spark: SparkSession, dir: String): DataFrame = {
    val (verdicts, _) = deltaDedupVerdictsOf(spark, dir)
    curateDeltaFunnel(spark, dir,
      verdicts.filter(col("origin") === "delta")
        .select(col("doc_id"), (col("status") =!= "dup").as("dedup_keep")))
  }

  /** `corpus_curate_delta_best` (r13): the per-crawl funnel ACTING on the
    * quality-argmax verdict — `corpus_curate_delta` keeps by min-id
    * status; production keeps each merged component's BEST member
    * (`dedup_delta_keep_best`: exact-integer qint argmax across
    * base ∪ delta), so a crawl doc that outranks the stored canonical
    * passes the funnel while the demoted copy would not. Same funnel
    * columns, same stage precedence; only the dedup rung's keep rule
    * changes. Oracle: the funnel tail shared with `corpus_curate_delta`,
    * the dedup column reading the shared `kbranked` quality-rank CTE.
    */
  def corpusCurateDeltaBest(spark: SparkSession, dir: String): DataFrame = {
    val (verdicts, docs) = deltaDedupVerdictsOf(spark, dir)
    val best = Dedup.dedupDeltaKeepBestFrom(verdicts,
      TextAnalysis.qualityIntScoreOf(docs))
    curateDeltaFunnel(spark, dir,
      best.filter(col("origin") === "delta")
        .select(col("doc_id"), (col("status") =!= "dup").as("dedup_keep")))
  }

  /** The crawl's incremental unified verdicts (all rows — base and
    * delta) + the corpus frame, shared by the two funnel variants.
    */
  private def deltaDedupVerdictsOf(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) =
    // the shared crawl-verdict intermediate (production persists the base
    // artifacts at index time AND the crawl's verdicts at act time; the
    // bench's artifact-amortized mode reads both from parquet)
    (Dedup.storedDeltaVerdicts(spark, dir)._2, Tables.documents(spark, dir))

  /** The funnel tail over a (doc_id, dedup_keep) rung — quality +
    * decontamination are rule-identical across the keep variants.
    */
  private def curateDeltaFunnel(spark: SparkSession, dir: String,
      dedupKeep: DataFrame): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isEval = col("doc_id") % FuzzyEvalMod === 0
    val crawl = docs.filter(col("doc_id") % Dedup.DeltaIdMod === 0).filter(!isEval)
    // registry ∪ crawl: the eval side carves from the registry only, the
    // per-doc train verdicts cover exactly the crawl
    curateFunnel(crawl.select("doc_id"), crawl,
      docs.filter(isEval).unionByName(crawl), isEval, Seq(dedupKeep))
  }

  /** The crawl funnel's SQL tail over any `dverdict(id, is_canonical)`
    * CTE — one formulation serving both keep variants.
    */
  private def curateDeltaFunnelTailSql: String =
    funnelTailSql("dverdict", "v.is_canonical",
      s"d.doc_id % ${Dedup.DeltaIdMod} = 0 AND d.doc_id % $FuzzyEvalMod <> 0")

  def corpusCurateDeltaSql: String =
    Dedup.unifiedDeltaClosureCtes +
      s"""
         |, dverdict AS (
         |  -- a delta doc present in cc is in a delta-holding component by
         |  -- definition (it contains itself); no touched-restriction needed
         |  SELECT id, id = cluster_id AS is_canonical FROM cc
         |)""".stripMargin + curateDeltaFunnelTailSql

  def corpusCurateDeltaBestSql: String =
    Dedup.unifiedDeltaVerdictCtes + Dedup.kbrankedCtesSql +
      s"""
         |, dverdict AS (
         |  SELECT id, (cluster_size = 1 OR rn = 1) AS is_canonical FROM kbranked
         |)""".stripMargin + curateDeltaFunnelTailSql

  // ---- decontaminate_bloom (scale variant, test-only) ---------------------

  /** The exact sweep's 100 TB-benchmark-suite variant: eval n-gram
    * membership as a BLOOM FILTER sketch instead of the exact distinct-hash
    * broadcast table. The exact table is right for oracle parity and for
    * benchmark suites (tens of MB); a full held-out-set registry at corpus
    * scale can be billions of n-grams, where the sketch's fixed
    * `numBits/8` bytes (vs 16 bytes per distinct n-gram) is the difference
    * between a broadcast and a shuffle join.
    *
    * Semantics: might_contain has NO false negatives, so
    * `contaminated_maybe ⊇ contaminated` exactly (every exact-flagged doc
    * is bloom-flagged — the spec pins this), and false positives only
    * QUARANTINE extra docs (safe direction for decontamination; measured
    * FPR is spec-bounded). Probabilistic ⇒ no DuckDB twin ⇒ test-only,
    * like the other scale seams.
    *
    * Mechanics: the sketch aggregates once (`graft_bloom_agg` — Spark's own
    * map-side-combinable BloomFilterAggregate, surfaced through
    * [[graft.GraftExtensions]] since Spark keeps it off the public
    * registry) and is collected to the driver — the sketch IS the index
    * artifact, the bounded collect is the build step — then rides the scan
    * as a LITERAL, so the membership test
    * (`graft_might_contain(lit, xxhash64(ng))`) stays whole-stage
    * codegen'd with zero join.
    */
  def decontaminateBloomFrom(rawDocs: DataFrame, isEval: Column,
      expectedItems: Long = 1000000L, numBits: Long = 1L << 23): DataFrame = {
    val docs = rawDocs
      .withColumn("ws", split(col("text"), " "))
      .withColumn("ngs", expr(hashedNgramExpr(ContamNgram)))
      .withColumn("is_eval", isEval)
    val bf = docs.filter(col("is_eval"))
      .select(explode(col("ngs")).as("ng"))
      .agg(call_function("graft_bloom_agg", xxhash64(col("ng")),
        lit(expectedItems), lit(numBits)).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    docs.filter(!col("is_eval"))
      .select(col("doc_id"), explode_outer(col("ngs")).as("ng"))
      .groupBy(col("doc_id"))
      .agg(count(col("ng")).as("n_ngrams"),
        sum(when(call_function("graft_might_contain", lit(bf), xxhash64(col("ng"))), 1)
          .otherwise(0)).cast("long").as("n_maybe"))
      .withColumn("contaminated_maybe", col("n_maybe") > 0)
      .select("doc_id", "n_ngrams", "n_maybe", "contaminated_maybe")
  }

  // ---- pipeline_curate ----------------------------------------------------

  /** `pipeline_curate`: the SHARED-LANES curation pipeline — the production
    * counterpart to running `corpus_curate`, `dedup_keep_unified` and
    * `dedup_lanes_report` as three independent queries. Those three each
    * re-derive the same exact + MinHash + SRP lane edges (~3× the round-7
    * bench total was exactly this recomputation); a real pipeline computes
    * the tagged pair table ONCE, persists it, and fans every consumer out
    * from the artifact. This operator is that pipeline as one per-doc
    * verdict: the full `corpus_curate` funnel columns PLUS the unified
    * keep-list's `cluster_size` and a per-doc `lanes` diagnostic (which
    * lane combination touched the doc — the doc-grain projection of
    * `dedup_lanes_report`'s pair-grain rollup).
    *
    * Sharing mechanics: [[Dedup.taggedPairsOf]] is persisted
    * (MEMORY_AND_DISK via the tracked-intermediates pool); the CC edge set
    * is its tag-dropped distinct projection, the lane diagnostic its
    * doc-grain explode — both read the cached table, so the three lanes'
    * LSH banding + verification runs exactly once per pipeline invocation.
    * At 100 TB the persist becomes a checkpoint/parquet write of the pair
    * table (corpus-fraction sized, the cheap artifact) and every downstream
    * consumer is CC + key joins — the funnel's marginal cost over its lanes.
    *
    * Consistency with the independent queries is spec-enforced
    * (PipelineCurateSpec): funnel columns ≡ `corpus_curate`, dedup_keep ≡
    * `dedup_keep_unified` membership, lane tags ≡ the report's edge set.
    */
  def pipelineCurate(spark: SparkSession, dir: String): DataFrame =
    pipelineCurateFromTagged(Tables.documents(spark, dir),
      Dedup.storedTaggedPairs(spark, dir), col("doc_id") % FuzzyEvalMod === 0)

  def pipelineCurateFrom(docs: DataFrame, embs: DataFrame,
      isEval: Column): DataFrame =
    pipelineCurateFromTagged(docs, Dedup.taggedPairsOf(docs, embs), isEval)

  private[graft] def pipelineCurateFromTagged(docs: DataFrame, tagged0: DataFrame,
      isEval: Column): DataFrame = {
    // the one pair-table computation every downstream consumer shares
    val tagged = Intermediates.persist(tagged0)
    val clusters = Dedup.clustersFromPairs(
        tagged.select("doc_a", "doc_b").distinct())
      .select(col("doc_id"), col("is_canonical"), col("cluster_size"))
    val lanes = tagged
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"), col("lane"))
      .groupBy("doc_id")
      .agg(array_join(array_sort(collect_set(col("lane"))), "+").as("lanes"))
    curateFunnel(docs.filter(!isEval).select("doc_id"), docs, docs, isEval,
      Seq(clusters, lanes),
      coalesce(col("cluster_size"), lit(1L)).as("cluster_size"),
      coalesce(col("lanes"), lit("none")).as("lanes"))
  }

  def pipelineCurateSql: String =
    // the tagged-lanes CTE goes in AFTER stripMargin, like the funnel
    // tail's sub-queries
    Dedup.unifiedClosureCtes +
      s"""
         |, %TAGGED%
         |, sized AS (
         |  SELECT id, cluster_id,
         |    CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
         |  FROM cc
         |), doc_lanes AS (
         |  SELECT doc_id, string_agg(DISTINCT lane, '+' ORDER BY lane) AS lanes
         |  FROM (
         |    SELECT doc_a AS doc_id, lane FROM tagged
         |    UNION ALL
         |    SELECT doc_b AS doc_id, lane FROM tagged
         |  ) dl GROUP BY doc_id
         |)""".stripMargin.replace("%TAGGED%", Dedup.taggedLanesCteSql) +
      funnelTailSql("sized", "v.id = v.cluster_id", s"d.doc_id % $FuzzyEvalMod <> 0",
        extraCols = Seq("CAST(coalesce(v.cluster_size, 1) AS BIGINT) AS cluster_size",
          "coalesce(l.lanes, 'none') AS lanes"),
        extraJoins = Seq("LEFT JOIN doc_lanes l ON d.doc_id = l.doc_id"))

  // ---- pack_sequences -----------------------------------------------------

  /** Training-sequence token budget (context window of the packed model) —
    * `spark.graft.pack.seqTokens`, default 512.
    */
  def SeqBudget: Int = GraftConf.packSeqTokens
  /** Independent packing shards — `spark.graft.pack.shards`, default 8 for
    * the test scale; size to O(executors) on a cluster so no reducer sorts
    * more than corpus/shards tokens.
    */
  def PackShards: Int = GraftConf.packShards

  /** `pack_sequences`: concat-and-chop sequence packing — the standard
    * pretraining batching step. Documents are deterministically sharded
    * (md5 of doc_id), concatenated in doc_id order within their shard, and
    * the token stream is chopped into fixed [[SeqBudget]]-token training
    * sequences. Emits, per document: its shard, the sequence its first
    * token lands in, the offset inside that sequence, and how many
    * sequences it spans.
    *
    * One shuffle (repartition by shard + in-partition sort — a window over
    * the shard key); all math is integer, so order and parity are exact.
    * Shard count at 100 TB = O(executors), each shard a independent
    * streaming cumsum.
    */
  /** Shared placement stage: (doc_id, n_tokens, shard, cum_before) — the
    * md5 shard assignment + per-shard doc_id-ordered token cumsum both
    * `pack_sequences` and `pack_manifest` read from. One shuffle (the shard
    * window).
    */
  private def packPlaced(spark: SparkSession, dir: String): DataFrame =
    packPlacedOf(Tables.documents(spark, dir)
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long")))

  /** Placement over any (doc_id, n_tokens) frame — the token PRICE is a
    * parameter, so the same cumsum serves whitespace pricing and the
    * learned-tokenizer pricing of `pack_sequences_bpe`.
    */
  private def packPlacedOf(docsTok: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docsTok
      .withColumn("shard",
        expr(s"pmod(graft_md5_long(cast(doc_id as string), 1, 8), $PackShards)"))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
  }

  private def packPlacedSql: String =
    s"""d AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % $PackShards AS shard
       |  FROM documents
       |), c AS (
       |  SELECT doc_id, shard, n_tokens,
       |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       |  FROM d
       |)""".stripMargin

  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    packPlaced(spark, dir)
      .withColumn("seq_id", expr(s"cum_before div $SeqBudget"))
      .withColumn("seq_offset", expr(s"cum_before % $SeqBudget"))
      .withColumn("n_seqs",
        expr(s"(cum_before + n_tokens - 1) div $SeqBudget") - col("seq_id") + 1)
      .select("doc_id", "shard", "seq_id", "seq_offset", "n_tokens", "n_seqs")
      .contractOrderBy("doc_id")
  }

  def packSequencesSql: String =
    s"""WITH $packPlacedSql
       |SELECT doc_id, shard, cum_before // $SeqBudget AS seq_id,
       |  cum_before % $SeqBudget AS seq_offset, n_tokens,
       |  (cum_before + n_tokens - 1) // $SeqBudget - cum_before // $SeqBudget + 1 AS n_seqs
       |FROM c
       |ORDER BY doc_id""".stripMargin

  /** `pack_sequences_bpe`: the packing plan priced in LEARNED tokenizer
    * tokens — `pack_sequences`' whitespace `n_tokens` is a stand-in; a
    * real trainer's sequence budget is denominated in its tokenizer's
    * subwords, so the cumsum packs [[Bpe.bpeTokensOf]]' per-doc counts
    * instead. Same placement core (one shard-window shuffle), same
    * integer chop arithmetic; the only added work is the BPE encode's
    * broadcast word→price join. At 100 TB the prices come from the stored
    * merge table (`Bpe.encodeFrom`), not a retrain.
    */
  def packSequencesBpe(spark: SparkSession, dir: String): DataFrame = {
    val tok = Bpe.bpeTokensFromVocab(Bpe.storedTrainedVocab(spark, dir),
      Tables.documents(spark, dir))
      .select(col("doc_id"), col("n_bpe_tokens").as("n_tokens"))
    packPlacedOf(tok)
      .withColumn("seq_id", expr(s"cum_before div $SeqBudget"))
      .withColumn("seq_offset", expr(s"cum_before % $SeqBudget"))
      // a 0-token doc (empty text prices at zero under BPE) occupies no
      // sequence; guarded explicitly because (cum_before - 1) div budget
      // would go NEGATIVE at a shard head, where Spark's `div` truncates
      // toward zero but DuckDB's `//` floors — a cross-engine hash flip
      .withColumn("n_seqs",
        when(col("n_tokens") === 0L, lit(0L))
          .otherwise(expr(s"(cum_before + n_tokens - 1) div $SeqBudget")
            - col("seq_id") + 1))
      .select("doc_id", "shard", "seq_id", "seq_offset", "n_tokens", "n_seqs")
      .contractOrderBy("doc_id")
  }

  def packSequencesBpeSql: String =
    s"""${Bpe.bpeTokenCtesSql},
       |pd AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % $PackShards AS shard
       |  FROM btok
       |), pc AS (
       |  SELECT doc_id, shard, n_tokens,
       |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       |  FROM pd
       |)
       |SELECT doc_id, shard, cum_before // $SeqBudget AS seq_id,
       |  cum_before % $SeqBudget AS seq_offset, n_tokens,
       |  CASE WHEN n_tokens = 0 THEN 0
       |    ELSE (cum_before + n_tokens - 1) // $SeqBudget - cum_before // $SeqBudget + 1
       |  END AS n_seqs
       |FROM pc
       |ORDER BY doc_id""".stripMargin

  /** `pack_manifest`: the packed output a TRAINER consumes — one row per
    * (shard, seq_id) with the ordered doc spans that tile the sequence:
    * `spans` = space-joined `doc_id:offset:length` entries (offset inside
    * the sequence), plus doc count and total tokens. Every sequence is
    * exactly [[SeqBudget]] tokens except the final remainder of each shard,
    * and spans tile each sequence gap-free from offset 0 — both
    * spec-asserted.
    *
    * Plan: the placement cumsum (one shuffle, shared with
    * `pack_sequences`), a per-doc explode over the ≤ ⌈len/budget⌉+1
    * sequences the doc crosses (bounded row growth), and one (shard,
    * seq_id) aggregation — map-side combined, no further shuffle of the
    * corpus beyond those two keyed exchanges.
    */
  def packManifest(spark: SparkSession, dir: String): DataFrame = {
    val b = SeqBudget
    packPlaced(spark, dir)
      .withColumn("first_seq", expr(s"cum_before div $b"))
      .withColumn("last_seq", expr(s"(cum_before + n_tokens - 1) div $b"))
      .withColumn("seq_id", explode(expr("sequence(first_seq, last_seq)")))
      .withColumn("off",
        when(col("seq_id") > col("first_seq"), lit(0L))
          .otherwise(expr(s"cum_before % $b")))
      .withColumn("len",
        least(expr(s"(seq_id + 1) * ${b}L"), col("cum_before") + col("n_tokens")) -
          greatest(expr(s"seq_id * ${b}L"), col("cum_before")))
      .groupBy(col("shard"), col("seq_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("len")).cast("long").as("seq_tokens"),
        expr("""array_join(
                 transform(sort_array(collect_list(struct(off, doc_id, len))),
                   x -> concat(cast(x.doc_id as string), ':', cast(x.off as string), ':', cast(x.len as string))),
                 ' ')""").as("spans"))
      .contractOrderBy("shard", "seq_id")
  }

  def packManifestSql: String =
    s"""WITH $packPlacedSql, sp AS (
       |  SELECT doc_id, shard, cum_before, n_tokens,
       |    unnest(generate_series(cum_before // $SeqBudget, (cum_before + n_tokens - 1) // $SeqBudget)) AS seq_id
       |  FROM c
       |), spans AS (
       |  SELECT shard, seq_id, doc_id,
       |    CASE WHEN seq_id > cum_before // $SeqBudget THEN 0 ELSE cum_before % $SeqBudget END AS off,
       |    least((seq_id + 1) * $SeqBudget, cum_before + n_tokens) - greatest(seq_id * $SeqBudget, cum_before) AS len
       |  FROM sp
       |)
       |SELECT shard, seq_id, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(len) AS BIGINT) AS seq_tokens,
       |  string_agg(CAST(doc_id AS VARCHAR) || ':' || CAST(off AS VARCHAR) || ':' || CAST(len AS VARCHAR), ' ' ORDER BY off, doc_id) AS spans
       |FROM spans
       |GROUP BY shard, seq_id
       |ORDER BY shard, seq_id""".stripMargin

  // ---- domain_mix_sample --------------------------------------------------

  /** Integer domain weights (exact arithmetic): src0 is upweighted past its
    * natural share (rate clamps at 1.0 — the oversampled-domain case),
    * src1 moderately, the rest share the remainder.
    */
  val MixWeightSrc0 = 16L
  val MixWeightSrc1 = 8L
  val MixWeightOther = 1L
  /** Total weight = 16 + 8 + 18×1 over the 20 sources. */
  val MixWeightTotal = MixWeightSrc0 + MixWeightSrc1 + 18 * MixWeightOther
  /** Target sample budget in documents. */
  val MixBudget = 100L

  /** `domain_mix_sample`: sample the corpus to a target DOMAIN MIXTURE —
    * per-source rate = budget·weight / (total_weight·source_count), taken
    * hash-deterministically (docs keep/lose membership stably across
    * reruns). The keep test is exact integer math:
    * `u40 · count · total_weight < budget · weight · 2^40` with u40 the
    * doc's 40-bit hash — no float rate is ever compared.
    *
    * Scale shape: per-source counts are a map-side-combined aggregation of
    * 20 rows, broadcast back over the corpus scan; one wide scan, no
    * corpus shuffle.
    */
  def domainMixSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val weight = when(col("source") === "src0", MixWeightSrc0)
      .when(col("source") === "src1", MixWeightSrc1)
      .otherwise(MixWeightOther)
    // Keep test `u40·src_count·total_weight < budget·2^40·weight` would
    // overflow Long once a source exceeds ~2e5 docs (u40 alone is up to
    // 2^40). Exact-equivalent per-source threshold, computed once in the
    // 20-row broadcast aggregate:  u40·d < R  ⟺  u40 < (R−1) div d + 1
    // with R = budget·2^40·weight ≤ 1.8e15 (fits Long for any corpus size).
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("src_count"))
      .withColumn("weight", weight)
      .withColumn("keep_thresh",
        expr(s"(${MixBudget}L * 1099511627776L * weight - 1L) div (src_count * $MixWeightTotal) + 1L")) // 2^40
    docs.join(broadcast(counts), "source")
      .withColumn("u40",
        expr("graft_md5_long(concat(cast(doc_id as string), '|mix'), 1, 10)"))
      .filter(col("u40") < col("keep_thresh"))
      .withColumn("rate",
        round(least(lit(1.0),
          lit(MixBudget.toDouble) * col("weight") / (col("src_count") * MixWeightTotal)), 6))
      .select("doc_id", "source", "weight", "src_count", "rate")
      .contractOrderBy("doc_id")
  }

  /** `domain_temperature_mix`: temperature-scaled source mixing — the
    * multilingual/multi-domain pretraining recipe (XLM-R / mT5 style):
    * source s with natural share p_s is sampled toward target share
    * q_s ∝ p_s^α, flattening the mixture so long-tail sources punch above
    * their natural weight. α = 2^-[[GraftConf.mixTempSqrts]] — the
    * exponent family computable by nested `sqrt`, the one power primitive
    * IEEE guarantees correctly rounded in both engines; an arbitrary
    * `pow()` can differ in the final ulp across libm implementations and
    * flip a keep decision (§5).
    *
    * Determinism: p_s^α is frozen per source as a 6-dp DECIMAL, the
    * normalizer is the EXACT decimal sum of those (a float sum over the
    * source table would be partition-order dependent), and every
    * subsequent scalar (q, target, rate, the 2^40-scaled integer keep
    * threshold) is a fixed-order IEEE expression identical in both
    * engines. Keep test compares the doc's 40-bit hash against the
    * integer threshold — no float ever decides membership directly.
    *
    * Scale shape: identical to [[domainMixSample]] — one source-grain
    * map-side-combined count (20 rows), the temperature math on that tiny
    * frame, broadcast back over one corpus scan; no corpus shuffle.
    */
  def domainTemperatureMix(spark: SparkSession, dir: String): DataFrame =
    domainTemperatureMixOf(Tables.documents(spark, dir))

  /** Core over any (doc_id, source) relation — specs plant skewed source
    * histograms the uniform synthetic corpus can't exercise.
    */
  def domainTemperatureMixOf(docs: DataFrame): DataFrame = {
    val s = GraftConf.mixTempSqrts
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("src_count"))
    val total = counts.agg(sum(col("src_count")).cast("double").as("n"))
    val pw = counts.crossJoin(broadcast(total))
      .withColumn("pw", round(
        (1 to s).foldLeft(col("src_count").cast("double") / col("n"))((c, _) => sqrt(c)), 6)
        .cast("decimal(18,6)"))
    val denom = pw.agg(sum(col("pw")).as("denom"))
    val rates = pw.crossJoin(broadcast(denom))
      .withColumn("q", col("pw").cast("double") / col("denom").cast("double"))
      .withColumn("rate",
        least(lit(1.0), lit(MixBudget.toDouble) * col("q") / col("src_count").cast("double")))
      .withColumn("keep_thresh",
        floor(col("rate") * lit(1099511627776.0)).cast("long")) // 2^40
      .select(col("source"), col("src_count"), col("q"), col("rate"), col("keep_thresh"))
    docs.join(broadcast(rates), Seq("source"))
      .withColumn("u40",
        expr("graft_md5_long(concat(cast(doc_id as string), '|tmix'), 1, 10)"))
      .filter(col("u40") < col("keep_thresh"))
      .select(col("doc_id"), col("source"), col("src_count"),
        round(col("q"), 6).as("q"), round(col("rate"), 6).as("rate"))
      .contractOrderBy("doc_id")
  }

  def domainTemperatureMixSql: String = {
    val s = GraftConf.mixTempSqrts
    val nested = (1 to s).foldLeft("CAST(src_count AS DOUBLE) / n")((e, _) => s"sqrt($e)")
    s"""WITH counts AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS src_count FROM documents GROUP BY source
       |), tot AS (
       |  SELECT CAST(sum(src_count) AS DOUBLE) AS n FROM counts
       |), pw AS (
       |  SELECT source, src_count,
       |    CAST(round($nested, 6) AS DECIMAL(18,6)) AS pw
       |  FROM counts CROSS JOIN tot
       |), dn AS (
       |  SELECT sum(pw) AS denom FROM pw
       |), rates AS (
       |  SELECT source, src_count,
       |    CAST(pw AS DOUBLE) / CAST(denom AS DOUBLE) AS q,
       |    least(CAST(1.0 AS DOUBLE),
       |      CAST($MixBudget AS DOUBLE) * (CAST(pw AS DOUBLE) / CAST(denom AS DOUBLE))
       |        / CAST(src_count AS DOUBLE)) AS rate
       |  FROM pw CROSS JOIN dn
       |), th AS (
       |  SELECT source, src_count, q, rate,
       |    CAST(floor(rate * 1099511627776.0) AS BIGINT) AS keep_thresh
       |  FROM rates
       |), d AS (
       |  SELECT doc_id, d.source, src_count, q, rate, keep_thresh,
       |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|tmix'), 1, 10)) AS BIGINT) AS u40
       |  FROM documents d JOIN th USING (source)
       |)
       |SELECT doc_id, source, src_count, round(q, 6) AS q, round(rate, 6) AS rate
       |FROM d
       |WHERE u40 < keep_thresh
       |ORDER BY doc_id""".stripMargin
  }

  val domainMixSampleSql: String =
    s"""WITH counts AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS src_count,
       |    CASE WHEN source = 'src0' THEN $MixWeightSrc0
       |         WHEN source = 'src1' THEN $MixWeightSrc1
       |         ELSE $MixWeightOther END AS weight
       |  FROM documents GROUP BY source
       |), c AS (
       |  SELECT source, src_count, weight,
       |    ($MixBudget * 1099511627776 * weight - 1) // (src_count * $MixWeightTotal) + 1 AS keep_thresh
       |  FROM counts
       |), d AS (
       |  SELECT doc_id, d.source, weight, src_count, keep_thresh,
       |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|mix'), 1, 10)) AS BIGINT) AS u40
       |  FROM documents d JOIN c USING (source)
       |)
       |SELECT doc_id, source, weight, src_count,
       |  round(least(CAST(1.0 AS DOUBLE),
       |    CAST($MixBudget AS DOUBLE) * weight / (src_count * $MixWeightTotal)), 6) AS rate
       |FROM d
       |WHERE u40 < keep_thresh
       |ORDER BY doc_id""".stripMargin

  // ---- token_budget_sample ------------------------------------------------

  /** Total token budget (`spark.graft.budget.tokens`). */
  def TokenBudget: Long = GraftConf.budgetTokens

  /** Per-source token budget: `budget·weight div total_weight` — the same
    * integer weight scheme as `domain_mix_sample`, so the two sampling
    * modes answer the same mixture spec.
    */
  def tokenBudgetFor(source: String): Long = {
    val w = source match {
      case "src0" => MixWeightSrc0
      case "src1" => MixWeightSrc1
      case _      => MixWeightOther
    }
    TokenBudget * w / MixWeightTotal
  }

  /** `token_budget_sample`: fill a fixed TRAINING-TOKEN budget per source —
    * how a trainer actually consumes a mixture spec ("1T tokens, 40% web,
    * 30% code, …"), vs `domain_mix_sample`'s per-DOC rate. Docs are taken
    * in hash-priority order (u40 of doc_id, ties to doc_id — stable across
    * reruns and crawls) until the source's token budget is spent: a doc is
    * kept iff the tokens BEFORE it in priority order total < budget, so
    * the cut doc (at most one per source) may overshoot — the budget is a
    * floor on where the line lands, never a mid-doc split.
    *
    * Scale shape — the sequential pass is bounded by the BUDGET, not the
    * corpus. A per-source ordered cumsum is inherently sequential, and at
    * 100 TB a window over a whole source is a single-reducer corpus scan.
    * Instead: bucket u40 into 1024 coarse ranges, aggregate per-bucket
    * token sums (map-side combined, 1024·sources rows), and find the last
    * bucket whose PRECEDING cumulative tokens < budget. Every kept doc
    * provably lies at or before that bucket (a doc in a later bucket has
    * cum_before ≥ that bucket's pre-cum ≥ budget), so the exact cumsum
    * window runs only over the ≈budget-sized surviving slice. The oracle
    * is the unfiltered full-window formulation — two independent
    * formulations agreeing, `events_session_window` style.
    */
  def tokenBudgetSample(spark: SparkSession, dir: String): DataFrame =
    tokenBudgetSampleOf(Tables.documents(spark, dir))

  def tokenBudgetSampleOf(docs: DataFrame): DataFrame = {
    val budget = when(col("source") === "src0", tokenBudgetFor("src0"))
      .when(col("source") === "src1", tokenBudgetFor("src1"))
      .otherwise(tokenBudgetFor("other"))
    val toks = docs.select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("u40",
        expr("graft_md5_long(concat(cast(doc_id as string), '|budget'), 1, 10)"))
      .withColumn("bkt", expr("u40 div 1073741824")) // 2^30: 1024 coarse ranges
      .withColumn("budget", budget)
    // per-(source, bucket) token histogram; the cut = last bucket whose
    // PRE-cumulative tokens < budget (window over ≤1024 rows per source)
    val hist = toks.groupBy(col("source"), col("bkt"))
      .agg(sum(col("n_tok")).as("btok"), max(col("budget")).as("budget"))
    val wB = Window.partitionBy(col("source")).orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cut = hist
      .withColumn("pre", coalesce(sum(col("btok")).over(wB), lit(0L)))
      .filter(col("pre") < col("budget"))
      .groupBy(col("source")).agg(max(col("bkt")).as("cut_bkt"))
    // exact prefix cumsum over the bounded slice only
    val wD = Window.partitionBy(col("source"))
      .orderBy(col("u40").asc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    toks.join(broadcast(cut), "source")
      .filter(col("bkt") <= col("cut_bkt"))
      .withColumn("cum_before", coalesce(sum(col("n_tok")).over(wD), lit(0L)))
      .filter(col("cum_before") < col("budget"))
      .select(col("doc_id"), col("source"), col("n_tok"),
        (col("cum_before") + col("n_tok")).as("cum_tokens"))
      .contractOrderBy("doc_id")
  }

  /** Oracle: the naive full-window prefix rule (no pre-filter). */
  def tokenBudgetSampleSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|budget'), 1, 10)) AS BIGINT) AS u40,
       |    CASE source WHEN 'src0' THEN ${tokenBudgetFor("src0")}
       |                WHEN 'src1' THEN ${tokenBudgetFor("src1")}
       |                ELSE ${tokenBudgetFor("other")} END AS budget
       |  FROM documents
       |), c AS (
       |  SELECT doc_id, source, n_tok, budget,
       |    CAST(COALESCE(sum(n_tok) OVER (PARTITION BY source ORDER BY u40, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       |  FROM t
       |)
       |SELECT doc_id, source, n_tok, CAST(cum_before + n_tok AS BIGINT) AS cum_tokens
       |FROM c WHERE cum_before < budget
       |ORDER BY doc_id""".stripMargin

  // ---- host_cap_sample ----------------------------------------------------

  /** Per-host document cap (`spark.graft.curation.hostCap`). */
  def HostCap: Int = GraftConf.hostCap

  /** `host_cap_sample`: keep at most N documents per source host — the
    * RefinedWeb/C4 anti-flooding rung (Penedo et al. 2023 §3.1 run URL
    * and host-grain caps BEFORE content dedup), and the funnel step the
    * curation stack was missing: a single spamming host must not
    * dominate MinHash candidate generation or the training mix no
    * matter how many URLs it serves. The keep is a deterministic
    * HASH-ordered sample (u40 of doc_id under a dedicated salt, ties to
    * doc_id — the `token_budget_sample` ordering discipline): crawl
    * arrival order and sharding cannot change the kept set, and the
    * sample is content-unbiased where a head-of-crawl prefix would
    * favor whatever the frontier fetched first.
    *
    * Scale shape: the rank ≤ cap cut plans as `WindowGroupLimit`
    * Partial+Final on this Spark build (HostCapSpec pins it): every map
    * task keeps at most cap rows per host BEFORE the shuffle, so a
    * billion-URL flooding host costs each of its input partitions cap
    * rows — never a per-host corpus sort, never one reducer swallowing
    * the flood.
    */
  def hostCapSample(spark: SparkSession, dir: String): DataFrame =
    hostCapSampleOf(Tables.documents(spark, dir))

  def hostCapSampleOf(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("u40").asc, col("doc_id").asc)
    docs.select(col("doc_id"), col("source"))
      .withColumn("u40", expr(
        "graft_md5_long(concat(cast(doc_id as string), '|hostcap'), 1, 10)"))
      .withColumn("rk", row_number().over(w).cast("bigint"))
      .filter(col("rk") <= HostCap)
      .select(col("doc_id"), col("source"), col("rk"))
      .contractOrderBy("source", "rk")
  }

  def hostCapSampleSql: String =
    s"""SELECT doc_id, source, rk FROM (
       |  SELECT doc_id, source,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|hostcap'), 1, 10)) AS BIGINT),
       |        doc_id) AS BIGINT) AS rk
       |  FROM documents)
       |WHERE rk <= $HostCap
       |ORDER BY source, rk""".stripMargin

  // ---- quality_gate_report ------------------------------------------------

  /** `quality_gate_report` (r10): the RULE-SET agreement matrix — per
    * source, how the C4-style filter ([[qualityFilter]]) and the Gopher
    * rule set ([[gopherQuality]]) split the corpus: both-keep, C4-only,
    * Gopher-only, both-drop. The which-gate-bites read a curation team
    * makes before composing hard filters: a source where the two
    * independent rule sets DISAGREE heavily is where the filter choice
    * actually changes the corpus (and where to look before trusting
    * either); a source they both drop wholesale is a drop-the-source
    * decision, not a per-doc one. Pure composition of the two shipped
    * keep verdicts — nothing re-derived, so the matrix describes exactly
    * the gates `corpus_curate` applies.
    *
    * Scale: both filters are stateless map-side projections (the
    * quality filter's one bigram aggregation rides along); the report
    * adds two doc_id equi-joins and an O(sources) rollup.
    */
  def qualityGateReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val c4 = qualityFilterOf(docs).select(col("doc_id"), col("keep").as("c4"))
    val gp = gopherQualityOf(docs).select(col("doc_id"), col("keep").as("gp"))
    docs.select(col("doc_id"), col("source"))
      .join(c4, Seq("doc_id"))
      .join(gp, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("c4") && col("gp"), 1L).otherwise(0L)).as("n_both"),
        sum(when(col("c4") && !col("gp"), 1L).otherwise(0L)).as("n_c4_only"),
        sum(when(!col("c4") && col("gp"), 1L).otherwise(0L)).as("n_gopher_only"),
        sum(when(!col("c4") && !col("gp"), 1L).otherwise(0L)).as("n_neither"))
      .contractOrderBy("source")
  }

  def qualityGateReportSql: String =
    // assembled by concatenation, NOT one stripMargin template: the
    // embedded gopher SQL carries line-leading `||` array concats, and an
    // outer stripMargin would eat one pipe and turn them into bitwise-or
    "WITH c4v AS (\n  SELECT doc_id, keep AS c4 FROM (\n" +
      qualityFilterSql +
      "\n  ) qc\n), gpv AS (\n  SELECT doc_id, keep AS gp FROM (\n" +
      gopherQualitySql +
      "\n  ) qg\n)\n" +
      """SELECT d.source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN c4 AND gp THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
        |  CAST(sum(CASE WHEN c4 AND NOT gp THEN 1 ELSE 0 END) AS BIGINT) AS n_c4_only,
        |  CAST(sum(CASE WHEN NOT c4 AND gp THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher_only,
        |  CAST(sum(CASE WHEN NOT c4 AND NOT gp THEN 1 ELSE 0 END) AS BIGINT) AS n_neither
        |FROM documents d
        |JOIN c4v ON d.doc_id = c4v.doc_id
        |JOIN gpv ON d.doc_id = gpv.doc_id
        |GROUP BY d.source
        |ORDER BY d.source""".stripMargin

  // ---- contamination_report -----------------------------------------------

  /** `contamination_report`: the per-source decontamination dashboard —
    * train docs, exact-n-gram hits ([[decontaminate]]), fuzzy MinHash hits
    * ([[decontaminateFuzzy]]), semantic embedding hits
    * ([[decontaminateSemantic]], the r10 third rung), and the union
    * (`n_any`), one row per crawl source. This is the release-review
    * read: WHICH source leaks benchmark text (a contaminated source gets
    * dropped or re-scraped wholesale; per-doc removal alone hides the
    * systemic leak), and how much each deeper rung catches beyond the
    * previous one (their marginal value at the current thresholds).
    * Composes the three sweep CORES under ONE eval predicate — the
    * `doc_id % FuzzyEvalMod == 0` seam [[corpusCurateFrom]] already uses
    * (applied to `vec_id` for the embedding rung: vec_id ≡ doc_id, so
    * the carving is the same id set) — so every column counts hits
    * against the SAME benchmark and train grain is identical on all
    * sides. The semantic rung joins LEFT (sm = false when a train doc
    * has no embedding row): the report's train-doc population is defined
    * by the document table, never shrunk to the embedded subset.
    *
    * Scale: all three sweeps are the existing broadcast-against-benchmark
    * pipelines; the composition adds doc_id equi-joins (AQE broadcasts
    * the hit-sized sides) and an O(sources) rollup.
    */
  def contaminationReport(spark: SparkSession, dir: String): DataFrame =
    contaminationReportFrom(Tables.documents(spark, dir),
      Tables.embeddings(spark, dir))

  /** The report over explicit (documents, embeddings) frames — the seam
    * the missing-embedding-row contract is spec'd through.
    */
  def contaminationReportFrom(docs: DataFrame, embs: DataFrame): DataFrame = {
    val isEval = col("doc_id") % FuzzyEvalMod === 0
    val src = docs.filter(!isEval).select(col("doc_id"), col("source"))
    val exact = decontaminateFrom(docs, isEval)
      .select(col("doc_id"), col("contaminated").as("ex"))
    val fuzzy = decontaminateFuzzyFrom(docs, isEval)
      .select(col("doc_id"), col("contaminated").as("fz"))
    // the THIRD rung (r10): vec_id ≡ doc_id and the carving modulus is
    // the same, so all three columns audit ONE benchmark set and the
    // inner joins stay lossless
    val sem = decontaminateSemanticFrom(embs,
        col("vec_id") % FuzzyEvalMod === 0)
      .select(col("vec_id").as("doc_id"), col("contaminated").as("sm0"))
    // semantic verdicts join LEFT (r11): a train doc with no embedding
    // row simply lacks the semantic rung (sm = false) — an inner join
    // would silently shrink the whole report's train-doc population (and
    // the exact/fuzzy counts with it) to the embedded subset
    src.join(exact, Seq("doc_id"))
      .join(fuzzy, Seq("doc_id"))
      .join(sem, Seq("doc_id"), "left")
      .withColumn("sm", coalesce(col("sm0"), lit(false)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_train_docs"),
        sum(when(col("ex"), 1L).otherwise(0L)).as("n_exact"),
        sum(when(col("fz"), 1L).otherwise(0L)).as("n_fuzzy"),
        sum(when(col("sm"), 1L).otherwise(0L)).as("n_sem"),
        sum(when(col("ex") || col("fz") || col("sm"), 1L).otherwise(0L)).as("n_any"))
      .contractOrderBy("source")
  }

  def contaminationReportSql: String =
    s"""WITH ex AS (
       |  SELECT doc_id, contaminated AS ex FROM (
       |${decontaminateSqlAt(FuzzyEvalMod)}
       |  ) e
       |), fz AS (
       |  SELECT doc_id, contaminated AS fz FROM (
       |$decontaminateFuzzySql
       |  ) f
       |), sm AS (
       |  SELECT vec_id AS doc_id, contaminated AS sm FROM (
       |$decontaminateSemanticSql
       |  ) s
       |)
       |SELECT d.source, count(*) AS n_train_docs,
       |  CAST(sum(CASE WHEN ex.ex THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       |  CAST(sum(CASE WHEN fz.fz THEN 1 ELSE 0 END) AS BIGINT) AS n_fuzzy,
       |  CAST(sum(CASE WHEN COALESCE(sm.sm, false) THEN 1 ELSE 0 END) AS BIGINT) AS n_sem,
       |  CAST(sum(CASE WHEN ex.ex OR fz.fz OR COALESCE(sm.sm, false) THEN 1 ELSE 0 END) AS BIGINT) AS n_any
       |FROM documents d
       |JOIN ex ON d.doc_id = ex.doc_id
       |JOIN fz ON d.doc_id = fz.doc_id
       |LEFT JOIN sm ON d.doc_id = sm.doc_id
       |GROUP BY d.source
       |ORDER BY d.source""".stripMargin

  // ---- shard_balance ------------------------------------------------------

  /** Size-balanced shards (`spark.graft.pack.balanceShards`). */
  def BalanceShards: Int = GraftConf.packBalanceShards

  /** `shard_balance`: SIZE-balanced output shards via serpentine (zigzag)
    * assignment — rank documents by token count descending and deal them
    * boustrophedon across the shards (pass 0 deals 0,1,…,S−1; pass 1 deals
    * S−1,…,1,0; …), then report each shard's document count, token total,
    * and largest document. [[packPlacedOf]]'s md5 hash sharding balances
    * only in EXPECTATION — a heavy-tailed length distribution (every web
    * crawl) leaves hash shards over/under-full by the variance of the few
    * giant documents, and the straggler shard paces the whole training
    * epoch. Serpentine-by-size is the classic one-pass LPT approximation:
    * consecutive giants land on different shards and each pass reverses
    * direction so the "always gets the biggest of the pass" shard
    * alternates.
    *
    * Scale: the ranking is a DISTRIBUTED total sort (range-partitioned, the
    * 100 TB-safe kind) + `zipWithIndex` for the global rank — deliberately
    * NOT a single-partition `row_number()` window, which would funnel the
    * corpus through one reducer. zipWithIndex computes per-partition
    * offsets with one count job; everything downstream is stateless integer
    * math + one S-row aggregation. The sort carries only (doc_id,
    * n_tokens) — 16 bytes/doc, not the corpus text.
    */
  def shardBalance(spark: SparkSession, dir: String): DataFrame =
    shardBalanceFrom(spark, Tables.documents(spark, dir)
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long")))

  /** The serpentine core over any (doc_id, n_tokens) frame — the seam specs
    * plant adversarial (all-giants-first) length distributions through.
    */
  def shardBalanceFrom(spark: SparkSession, docsTok: DataFrame): DataFrame = {
    val s = BalanceShards
    import spark.implicits._
    val ranked = docsTok
      .select(col("doc_id").cast("long"), col("n_tokens").cast("long"))
      .orderBy(col("n_tokens").desc, col("doc_id"))
      .rdd.zipWithIndex()
      .map { case (r, i) => (r.getLong(0), r.getLong(1), i) }
      .toDF("doc_id", "n_tokens", "rk")
    ranked
      .withColumn("pos", pmod(col("rk"), lit(s.toLong)))
      .withColumn("shard",
        when(expr(s"(rk div $s) % 2 = 0"), col("pos"))
          .otherwise(lit(s - 1L) - col("pos")))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        max(col("n_tokens")).as("max_doc_tokens"))
      .contractOrderBy("shard")
  }

  /** Oracle: the same serpentine rule with the rank as a plain window
    * row_number — DuckDB's single-node sort is fine at oracle scale.
    */
  def shardBalanceSql: String = {
    val s = BalanceShards
    s"""WITH t AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents
       |), r AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1 AS BIGINT) AS rk
       |  FROM t
       |), sh AS (
       |  SELECT doc_id, n_tokens,
       |    CASE WHEN (rk // $s) % 2 = 0 THEN rk % $s ELSE ($s - 1) - (rk % $s) END AS shard
       |  FROM r
       |)
       |SELECT shard, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |  max(n_tokens) AS max_doc_tokens
       |FROM sh GROUP BY shard
       |ORDER BY shard""".stripMargin
  }
}

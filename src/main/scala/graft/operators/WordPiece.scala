package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** WordPiece-style greedy MaxMatch subword segmentation (Schuster &
  * Nakajima 2012; Song et al. 2021 "Fast WordPiece Tokenization" — the
  * tokenizer family BERT ships), completing the tokenizer triad next to
  * [[Bpe]] (greedy merges) and [[Unigram]] (Viterbi-optimal): at each
  * position take the LONGEST inventory piece that matches, repeat from the
  * end of the match. Deliberately runs over the SAME frozen seed inventory
  * [[Unigram.unigramModelOf]] builds (same `spark.graft.unigram.*` knobs —
  * that identity is the point: with vocabulary held fixed, `unigram_segment`
  * vs `wordpiece_segment` isolates the INFERENCE rule, greedy vs optimal,
  * which is exactly the comparison the Fast-WordPiece paper runs), and the
  * emitted `score` is the same frozen-log pricing, so greedy's gap to the
  * Viterbi optimum is directly readable word-for-word.
  *
  * Spark-first scale shape: greedy MaxMatch looks sequential (O(word
  * length) dependent steps), but the greedy successor function is STATIC —
  * g(word, pos) = longest inventory match at pos depends only on the word,
  * not on the walk — so the walk is a functional-graph traversal and
  * POINTER DOUBLING (Wyllie's list-ranking step, the
  * [[Dedup.dedupClusters]] CC discipline) collapses it to
  * ceil(log2(maxWordLen)) self-joins of a (word, pos)-grain table instead
  * of maxWordLen dependent stages: round k composes each path fragment
  * with the fragment starting where it ends, doubling coverage. Everything
  * runs at VOCABULARY × word-length grain — one corpus scan, then
  * corpus-size-independent joins, the [[Bpe]] trainer argument.
  *
  * Reference anchor: the reference counts whitespace tokens
  * (utils/validation.py length checks); this prices them the way a BERT
  * served vocabulary would.
  */
object WordPiece {

  private def P: Int = GraftConf.unigramMaxPiece
  private def L: Int = GraftConf.unigramMaxWordLen

  /** Candidate table keyed by START position: (word, s, j, lp) for every
    * inventory piece `substring(word, s, j)`.
    */
  private def segsByStart(vw: DataFrame, model: DataFrame): DataFrame =
    vw.select(col("word"), explode(expr(
        s"flatten(transform(sequence(1, length(word)), e -> " +
          s"transform(sequence(1, least($P, e)), j -> " +
          s"struct(e - j + 1 AS s, j AS j, substring(word, e - j + 1, j) AS piece))))"))
        .as("c"))
      .select(col("word"), col("c.s").as("s"), col("c.j").as("j"), col("c.piece").as("piece"))
      .join(broadcast(model.select(col("piece"), col("lp"))), Seq("piece"))

  /** `wordpiece_segment`: per distinct corpus word, the greedy MaxMatch
    * segmentation under the shared seed inventory — (word, corpus count,
    * n_chars, n_pieces, `|`-joined pieces, 4-dp score under the same
    * frozen piece log-probs `unigram_segment` maximizes; greedy's score is
    * ≤ the Viterbi optimum by construction).
    */
  def wordpieceSegment(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    greedyWithModel(docs, Unigram.unigramModelOf(docs))
  }

  /** The doubling walk over an EXPLICIT (piece, lp) model — word-grain
    * output pre-contract: (word, w, n_chars, n_pieces, segmentation, sc
    * DECIMAL(18,6)).
    */
  private[graft] def greedyFragments(docs: DataFrame, modelIn: DataFrame): DataFrame = {
    val vw = Intermediates.persist(Unigram.vocabOf(docs))
    val model = Intermediates.persist(modelIn)
    val segs = Intermediates.persist(segsByStart(vw, model))
    // greedy successor: at (word, s) the longest matching piece wins —
    // max(j) is total because single chars always survive pruning
    val g = segs.groupBy(col("word"), col("s")).agg(max(col("j")).as("g"))
    // fragment table: one row per start position; (pos 0-based, nxt, the
    // matched piece as path, its lp as the running exact-decimal score)
    var frag = g.as("g")
      .join(segs.as("s"), expr("s.word = g.word AND s.s = g.s AND s.j = g.g"))
      .select(col("g.word").as("word"), (col("g.s") - 1).as("pos"),
        (col("g.s") - 1 + col("g.g")).as("nxt"),
        expr("substring(g.word, g.s, g.g)").as("path"),
        lit(1L).as("np"), col("s.lp").cast("decimal(18,6)").as("sc"))
      .localCheckpoint(true)
    // pointer doubling: after round k every fragment either ends at the
    // word boundary or spans >= 2^k pieces (hence >= 2^k chars), so
    // ceil(log2(L)) rounds finish every walk from pos 0 — vocabOf keeps
    // only words of at most L chars, and a round after every walk is
    // complete leaves `frag` unchanged. Each round's frame is eagerly
    // localCheckpoint-ed — the self-join would otherwise double the
    // logical plan per round (the Unigram/Bpe discipline).
    val rounds = 32 - Integer.numberOfLeadingZeros(math.max(L - 1, 1))
    for (_ <- 1 to rounds) {
      val fin = frag.filter(col("nxt") >= length(col("word")))
      val comp = frag.filter(col("nxt") < length(col("word"))).as("a")
        .join(frag.as("b"), expr("b.word = a.word AND b.pos = a.nxt"))
        .select(col("a.word").as("word"), col("a.pos").as("pos"),
          col("b.nxt").as("nxt"),
          concat(col("a.path"), lit("|"), col("b.path")).as("path"),
          (col("a.np") + col("b.np")).as("np"),
          (col("a.sc") + col("b.sc")).cast("decimal(18,6)").as("sc"))
      frag = comp.unionByName(fin).localCheckpoint(true)
    }
    vw.join(frag.filter(col("pos") === 0)
        .select(col("word"), col("np"), col("path"), col("sc")), Seq("word"))
  }

  private[graft] def greedyWithModel(docs: DataFrame, modelIn: DataFrame): DataFrame =
    greedyFragments(docs, modelIn)
      .select(col("word"), col("w"), length(col("word")).cast("long").as("n_chars"),
        col("np").as("n_pieces"), col("path").as("segmentation"),
        round(col("sc").cast("double"), 4).as("score"))
      .contractOrderBy("word")

  /** Greedy-segment any (doc_id, text) corpus's vocabulary from the
    * STORED unigram piece model ([[Unigram.writeModel]]) — one trained
    * inventory serves BOTH inference rules, exactly how a SentencePiece
    * model deploys (the artifact is the vocabulary; Viterbi vs MaxMatch
    * is a serving-time choice). Stamp-validated via the shared
    * [[Unigram.loadModel]] seam, so drift/missing-stamp fail-fast is
    * identical; bit-equal to [[wordpieceSegment]] when the store was
    * trained on the same corpus+conf (spec-asserted).
    */
  def wordpieceSegmentFrom(spark: SparkSession, path: String, docs: DataFrame): DataFrame =
    greedyWithModel(docs, Unigram.loadModel(spark, path))

  /** The wordpiece CTE blocks (candidates by start, greedy successor,
    * doubling rounds) — callers prepend the shared model CTEs.
    */
  private def wpChainSql: String = {
    val maxRounds = 32 - Integer.numberOfLeadingZeros(math.max(L - 1, 1))
    val base =
      s"""wsegs AS MATERIALIZED (
         |  SELECT v.word, e.e - j.j + 1 AS s, j.j AS j, p.lp
         |  FROM uvw v
         |  CROSS JOIN (SELECT unnest(generate_series(1, $L)) AS e) e
         |  CROSS JOIN (SELECT unnest(generate_series(1, $P)) AS j) j
         |  JOIN upc p ON p.piece = substr(v.word, e.e - j.j + 1, j.j)
         |  WHERE e.e <= len(v.word) AND j.j <= least($P, e.e)
         |), wg AS MATERIALIZED (
         |  SELECT word, s, max(j) AS g FROM wsegs GROUP BY word, s
         |), ws0 AS MATERIALIZED (
         |  SELECT g.word, g.s - 1 AS pos, g.s - 1 + g.g AS nxt,
         |    substr(g.word, g.s, g.g) AS path, CAST(1 AS BIGINT) AS np,
         |    CAST(s.lp AS DECIMAL(18,6)) AS sc
         |  FROM wg g JOIN wsegs s ON s.word = g.word AND s.s = g.s AND s.j = g.g
         |)""".stripMargin
    val rounds = (1 to maxRounds).map { k =>
      s"""ws$k AS MATERIALIZED (
         |  SELECT a.word, a.pos, b.nxt, a.path || '|' || b.path AS path,
         |    a.np + b.np AS np, CAST(a.sc + b.sc AS DECIMAL(18,6)) AS sc
         |  FROM ws${k - 1} a JOIN ws${k - 1} b ON b.word = a.word AND b.pos = a.nxt
         |  WHERE a.nxt < len(a.word)
         |  UNION ALL
         |  SELECT a.word, a.pos, a.nxt, a.path, a.np, a.sc
         |  FROM ws${k - 1} a WHERE a.nxt >= len(a.word)
         |)""".stripMargin
    }.mkString(",\n")
    base + ",\n" + rounds
  }

  private def wpFinal: String = {
    val m = 32 - Integer.numberOfLeadingZeros(math.max(L - 1, 1))
    s"ws$m"
  }

  /** Oracle: shared model CTEs + the doubling unrolled to
    * ceil(log2(maxWordLen)) rounds (extra rounds past the corpus's actual
    * longest word are no-ops — every fragment is already at the boundary
    * and passes through the UNION arm).
    */
  def wordpieceSegmentSql: String =
    "WITH " + Unigram.modelCoreSql + ",\n" + wpChainSql + "\n" +
      s"""SELECT v.word, v.w, CAST(len(v.word) AS BIGINT) AS n_chars,
         |  s.np AS n_pieces, s.path AS segmentation,
         |  round(CAST(s.sc AS DOUBLE), 4) AS score
         |FROM uvw v JOIN ${wpFinal} s ON s.word = v.word AND s.pos = 0
         |ORDER BY v.word""".stripMargin

  /** `tokenizer_compare`: the per-language Viterbi-vs-greedy dashboard —
    * same inventory, two inference rules, integer-exact piece accounting:
    * corpus word occurrences, total pieces and fertility under each rule,
    * and how many distinct vocabulary words the rules segment differently.
    * The read that picks a tokenizer: if greedy fertility ≈ optimal
    * fertility the cheap serving path prices the corpus faithfully; a gap
    * concentrated in one language is a vocabulary-coverage problem there.
    *
    * Scale: both segmenters run at vocabulary grain off ONE shared frozen
    * model; the only corpus-grain work is the word explode joined to two
    * vocab-grain (word, n_pieces) tables (AQE broadcasts them), then an
    * O(languages) rollup. All aggregates are exact integers; the two
    * fertility ratios are single final IEEE divide+rounds.
    */
  def tokenizerCompare(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // pricing reads the stored vocab-grain segmentation tables (train
    // once, segment once per corpus snapshot — `uniseg` is the table
    // Unigram.storedSegmentTable stores); built in-query, the two rules
    // share ONE persisted model so it trains once
    lazy val model = Intermediates.persist(Unigram.unigramModelOf(docs))
    val uni = ArtifactCatalog.storedIndex(spark, "uniseg", dir)(
        Unigram.segmentWithModel(docs, model))
      .select(col("word"), col("n_pieces").as("up"), col("segmentation").as("useg"))
    val wp = ArtifactCatalog.storedIndex(spark, "wpseg", dir)(
        greedyWithModel(docs, model))
      .select(col("word"), col("n_pieces").as("wp"), col("segmentation").as("wseg"))
    val tok = docs.select(col("lang"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "" && length(col("word")) <= L)
    tok.join(uni, Seq("word")).join(wp, Seq("word"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("up")).as("uni_pieces"), sum(col("wp")).as("wp_pieces"),
        countDistinct(when(col("useg") =!= col("wseg"), col("word"))).as("n_diff_vocab"))
      .withColumn("uni_fertility",
        round(col("uni_pieces").cast("double") / col("n_words"), 4))
      .withColumn("wp_fertility",
        round(col("wp_pieces").cast("double") / col("n_words"), 4))
      .contractOrderBy("lang")
  }

  def tokenizerCompareSql: String =
    "WITH " + Unigram.unigramChainSql + ",\n" + wpChainSql + ",\n" +
      s"""cuni AS MATERIALIZED (
         |  SELECT word, np AS up, path AS useg
         |  FROM ut$L
         |), cwp AS MATERIALIZED (
         |  SELECT word, np AS wp, path AS wseg FROM ${wpFinal} WHERE pos = 0
         |), ctok AS (
         |  SELECT lang, word FROM (
         |    SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents
         |  ) WHERE word <> '' AND len(word) <= $L
         |)
         |SELECT t.lang, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(u.up) AS BIGINT) AS uni_pieces,
         |  CAST(sum(w.wp) AS BIGINT) AS wp_pieces,
         |  CAST(count(DISTINCT CASE WHEN u.useg <> w.wseg THEN t.word END) AS BIGINT) AS n_diff_vocab,
         |  round(CAST(sum(u.up) AS DOUBLE) / count(*), 4) AS uni_fertility,
         |  round(CAST(sum(w.wp) AS DOUBLE) / count(*), 4) AS wp_fertility
         |FROM ctok t
         |JOIN cuni u ON u.word = t.word
         |JOIN cwp w ON w.word = t.word
         |GROUP BY t.lang
         |ORDER BY t.lang""".stripMargin
}

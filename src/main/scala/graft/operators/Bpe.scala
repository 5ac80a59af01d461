package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Byte-pair-encoding vocabulary induction (Sennrich et al. 2016) over the
  * corpus — the tokenizer-training step every LLM data pipeline runs before
  * token accounting means anything. Reference anchor: the reference counts
  * "tokens" by whitespace split (utils/validation.py's length checks,
  * SURVEY §1); this learns the subword merge table that a real token
  * budget would be denominated in, and re-prices every word under it.
  *
  * Algorithm, exactly the textbook loop: start from characters, repeatedly
  * merge the highest-total-frequency adjacent symbol pair (ties broken
  * lexicographically on (left, right)), apply each merge greedily
  * left-to-right and non-overlapping within every word.
  *
  * Spark-first shape — and the reason BPE trains fine at 100 TB: ONE
  * corpus scan builds the weighted DISTINCT-WORD table (map-side-combined
  * count), and the entire merge loop runs against that vocabulary table,
  * whose size is corpus-vocabulary-bound (millions of rows), independent
  * of corpus row count. That is precisely how production trainers
  * (SentencePiece, HF tokenizers) scale: corpus → word counts, then train
  * in the small space. Each iteration is one pair-count aggregation over
  * the cached vocab plus a driver collect of exactly ONE row (the argmax
  * pair — the merge table IS driver state by definition; `merges`
  * iterations × 1 row, bounded and documented, same discipline as CC's
  * convergence sums).
  *
  * Encoding representation: a word's symbol sequence is a `||`-bounded
  * string (`||a||b||`), and applying merge (l, r) is
  * `replace(enc, '|l||r|', '|lr|')` — both engines' non-regex `replace`
  * scans left-to-right non-overlapping, which IS the BPE merge-application
  * rule, and the doubled separator leaves one bar on each side so
  * consecutive pairs chain (`||a||a||a||a||` → `||aa||aa||`). No lambda
  * state, no UDF: the whole apply step is a codegen'd string primitive.
  * Corpus tokens must not contain `|` (checked loudly at train time).
  */
object Bpe {

  /** Re-materialize the evolving encoding every this-many merges: bounds
    * the pending `replace()` expression depth to a constant (codegen- and
    * stack-safe at ANY merge budget) and makes total training cost O(m)
    * vocab scans instead of the O(m²) a from-scratch re-evaluation per
    * iteration would pay — the property a production 30k–60k-merge budget
    * needs. 16 keeps each scan's replace chain shallow while amortizing
    * the checkpoint cost over 16 argmax rounds.
    */
  private val RematEvery = 16

  /** Weighted distinct-word table with the post-merge encoding, plus the
    * learned merge list (left, right, total pair weight), in rank order.
    * Factored over any (text) frame so specs plant crafted corpora.
    *
    * Iteration discipline (the CC localCheckpoint discipline, r10): the
    * encoding column accumulates at most [[RematEvery]] pending
    * `replace()` applications before the vocab frame is
    * localCheckpoint-ed (lazily — the next round's argmax collect is the
    * materializing action), so expression depth is O(1) and iteration i
    * never re-applies merges 1..i from scratch. Superseded checkpoints
    * are reclaimed by Spark's ContextCleaner once unreferenced;
    * production on a real cluster would use reliable `checkpoint()` to
    * survive executor loss — the truncation point is the same.
    */
  def bpeTrainedOf(docs: DataFrame): (DataFrame, Seq[(String, String, Long)]) = {
    val m = GraftConf.bpeMerges
    var cur = Intermediates.persist(
      docs.select(explode(split(col("text"), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("w"))
        .withColumn("enc", concat(lit("||"),
          array_join(filter(split(col("word"), ""), x => x =!= lit("")), "||"),
          lit("||"))))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var exhausted = false
    var depth = 0
    for (_ <- 1 to m if !exhausted) {
      val best = cur
        .withColumn("syms", filter(split(col("enc"), "\\|\\|"), x => x =!= lit("")))
        .filter(size(col("syms")) >= 2)
        .select(col("w"), explode(expr(
          "transform(sequence(1, size(syms) - 1), j -> struct(element_at(syms, j) AS l, element_at(syms, j + 1) AS r))"))
          .as("p"))
        .select(col("w"), col("p.l").as("l"), col("p.r").as("r"))
        .groupBy("l", "r").agg(sum(col("w")).as("cnt"))
        .orderBy(desc("cnt"), asc("l"), asc("r"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, cnt) =
          (best.head.getString(0), best.head.getString(1), best.head.getLong(2))
        require(!l.contains("|") && !r.contains("|"),
          s"BPE symbols must not contain '|' (corpus word carries the separator): '$l','$r'")
        merges += ((l, r, cnt))
        cur = cur.withColumn("enc",
          call_function("replace", col("enc"), lit(s"|$l||$r|"), lit(s"|$l$r|")))
        depth += 1
        if (depth >= RematEvery) { cur = cur.localCheckpoint(false); depth = 0 }
      }
    }
    (cur, merges.toSeq)
  }

  /** `bpe_train`: the learned merge table — (rank, left, right, merged
    * symbol, total pair weight). THE persistable tokenizer artifact; at
    * 100 TB it is trained once here and broadcast into every encode.
    */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame = {
    val (_, merges) = bpeTrainedOf(Tables.documents(spark, dir))
    import spark.implicits._
    merges.zipWithIndex
      .map { case ((l, r, w), i) => (i + 1L, l, r, l + r, w) }
      .toDF("rank", "left_sym", "right_sym", "new_sym", "weight")
      .contractOrderBy("rank")
  }

  /** `bpe_encode`: re-price every document under the learned vocabulary —
    * per-doc whitespace word count and BPE token count. The corpus-grain
    * pass is ONE broadcast join (word → post-merge symbol count; the vocab
    * table is broadcast-sized by construction) + one doc_id-keyed
    * aggregation; nothing about the merge loop re-runs per document.
    */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame =
    bpeTokensFromVocab(storedTrainedVocab(spark, dir),
      Tables.documents(spark, dir)).contractOrderBy("doc_id")

  def bpeEncodeOf(docs: DataFrame): DataFrame =
    bpeTokensOf(docs).contractOrderBy("doc_id")

  /** The trained (word, w, enc) vocabulary table through the bench-session
    * artifact cache (r18) — "train once, encode many" applied to the four
    * encode-side rows (`bpe_encode`, `bpe_vocab`, `bpe_fertility`,
    * `pack_sequences_bpe`), the [[Unigram.storedSegmentTable]] discipline;
    * `bpe_train` itself stays the in-query training row; parity is the
    * oracle gate itself.
    */
  private[graft] def storedTrainedVocab(spark: SparkSession, dir: String): DataFrame =
    ArtifactCatalog.storedIndex(spark, "bpevocab", dir)(
      bpeTrainedOf(Tables.documents(spark, dir))._1)

  /** Unordered (doc_id, n_words, n_bpe_tokens) core — shared by
    * [[bpeEncodeOf]] and `pack_sequences_bpe` so packing and accounting
    * can never disagree on a word's price.
    */
  private[graft] def bpeTokensOf(docs: DataFrame): DataFrame =
    bpeTokensFromVocab(bpeTrainedOf(docs)._1, docs)

  /** The encode pass over an ALREADY-trained vocabulary table — the seam
    * the stored artifact feeds, same arithmetic by construction.
    */
  private[graft] def bpeTokensFromVocab(vocab: DataFrame, docs: DataFrame): DataFrame = {
    val tok = vocab.select(col("word"),
      size(filter(split(col("enc"), "\\|\\|"), x => x =!= lit(""))).cast("long").as("n_tok"))
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .join(broadcast(tok), Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("n_tok")).as("n_bpe_tokens"))
  }

  /** `bpe_vocab`: the post-merge SYMBOL unigram table — every subword the
    * learned tokenizer emits, with its corpus-weighted occurrence count.
    * This is the artifact a token-level LM or a token-budget planner
    * consumes (the `vocab_top_tokens` analog at subword grain). One
    * explode of the already-trained vocabulary table + one
    * map-side-combined aggregation over the symbol universe — the corpus
    * is never rescanned.
    */
  def bpeVocab(spark: SparkSession, dir: String): DataFrame = {
    val vocab = storedTrainedVocab(spark, dir)
    vocab
      .select(col("w"),
        explode(filter(split(col("enc"), "\\|\\|"), x => x =!= lit(""))).as("sym"))
      .groupBy(col("sym")).agg(sum(col("w")).as("weight"))
      .contractOrderBy("sym")
  }

  def bpeVocabSql: String = {
    val m = GraftConf.bpeMerges
    s"""${bpeCtesSql(m)}
       |SELECT sym, CAST(sum(w) AS BIGINT) AS weight FROM (
       |  SELECT w, unnest(list_filter(string_split(enc, '||'), x -> x <> '')) AS sym FROM e$m)
       |GROUP BY sym
       |ORDER BY sym""".stripMargin
  }

  /** `bpe_fertility`: tokens-per-word by LANGUAGE under the learned
    * merges — the standard multilingual-tokenizer fairness metric (a
    * vocabulary trained on a skewed mix fragments under-represented
    * languages into more subwords per word, inflating their effective
    * sequence cost; fertility is how that skew is measured and reported).
    * Rides [[bpeTokensOf]] + one lang-keyed aggregation; the one float
    * step is the final round(token sum / word sum, 4).
    */
  def bpeFertility(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    bpeTokensFromVocab(storedTrainedVocab(spark, dir), docs)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_bpe_tokens")).as("n_bpe_tokens"))
      .withColumn("fertility",
        round(col("n_bpe_tokens").cast("double") / col("n_words"), 4))
      .contractOrderBy("lang")
  }

  def bpeFertilitySql: String =
    s"""$bpeTokenCtesSql
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_words) AS BIGINT) AS n_words,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_bpe_tokens,
       |  round(CAST(sum(n_tokens) AS DOUBLE) / sum(n_words), 4) AS fertility
       |FROM btok JOIN (SELECT doc_id, lang FROM documents) d USING (doc_id)
       |GROUP BY lang
       |ORDER BY lang""".stripMargin

  // ------------------------------------------------------------------
  // Stored tokenizer artifact — "train once, encode many" (the AnnIndex
  // discipline): the merge table persists to parquet, conf-stamped, and
  // the encode path rebuilds the replace chain from the stored ranks
  // without ever re-running the trainer. At 100 TB the trainer runs once
  // per corpus snapshot; every downstream token-accounting job reads the
  // artifact.
  // ------------------------------------------------------------------

  /** The one knob that changes the stored bytes. */
  def bpeFingerprint: String = s"merges=${GraftConf.bpeMerges}"

  /** Train on the corpus at `dir` and persist the merge table. */
  def writeMerges(spark: SparkSession, dir: String, path: String): Unit = {
    ArtifactCatalog.BpeStamp.stamp(bpeTrain(spark, dir))
      .write.mode("overwrite").parquet(path)
    Dedup.releaseIntermediates()
  }

  /** Encode any corpus under a STORED merge table — bit-identical to
    * [[bpeEncodeOf]] on the training corpus (BpeSpec asserts it), no
    * trainer re-run. The merge-table collect is the model artifact by
    * definition (≤ `merges` rows); the corpus-grain work is unchanged:
    * one distinct-word projection, one broadcast join, one doc-grain agg.
    * Fails fast if the stored table was trained under a different
    * `spark.graft.bpe.merges` than the live conf, or carries no stamp.
    */
  def encodeFrom(spark: SparkSession, mergesPath: String, docs: DataFrame): DataFrame = {
    val stored = spark.read.parquet(mergesPath)
    ArtifactCatalog.BpeStamp.check(stored, s"stored BPE merge table at $mergesPath")
    val ranked = stored.orderBy("rank").select("left_sym", "right_sym").collect()
      .map(r => (r.getString(0), r.getString(1)))
    var enc: Column = concat(lit("||"),
      array_join(filter(split(col("word"), ""), x => x =!= lit("")), "||"), lit("||"))
    ranked.foreach { case (l, r) =>
      enc = call_function("replace", enc, lit(s"|$l||$r|"), lit(s"|$l$r|"))
    }
    val tok = docs.select(explode(split(col("text"), " ")).as("word")).distinct()
      .withColumn("n_tok",
        size(filter(split(enc, "\\|\\|"), x => x =!= lit(""))).cast("long"))
      .select("word", "n_tok")
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .join(broadcast(tok), Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("n_tok")).as("n_bpe_tokens"))
      .contractOrderBy("doc_id")
  }

  /** Unrolled merge-loop CTE chain shared by both oracles: `w0` (weighted
    * distinct words) → `e0` (character encoding) → per-iteration `pI`
    * (pair counts), `bI` (argmax merge), `eI` (encoding after merge).
    * The `bI`-empty guard mirrors the Spark loop's exhaustion break:
    * once no pair remains, encodings pass through unchanged and later
    * `bI` rows stay empty, so the two engines' merge tables agree in
    * length too. Every CTE is MATERIALIZED: DuckDB inlines plain CTEs
    * once per reference, and this chain references each `eI` twice and
    * each `bI` four times — un-materialized, the inlining (and the base
    * scan count) grows exponentially in the merge count.
    */
  private def bpeCtesSql(m: Int): String = {
    val head =
      s"""WITH w0 AS MATERIALIZED (
         |  SELECT word, CAST(count(*) AS BIGINT) AS w
         |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  GROUP BY word
         |), e0 AS MATERIALIZED (
         |  SELECT word, w,
         |    '||' || array_to_string(list_filter(string_split(word, ''), x -> x <> ''), '||') || '||' AS enc
         |  FROM w0
         |)""".stripMargin
    val iters = (1 to m).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT l, r, CAST(sum(w) AS BIGINT) AS cnt FROM (
         |    SELECT w, syms[j] AS l, syms[j + 1] AS r FROM (
         |      SELECT w, syms, unnest(generate_series(1, len(syms) - 1)) AS j
         |      FROM (SELECT w, list_filter(string_split(enc, '||'), x -> x <> '') AS syms FROM e${i - 1})))
         |  GROUP BY l, r
         |), b$i AS MATERIALIZED (
         |  SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1
         |), e$i AS MATERIALIZED (
         |  SELECT word, w, CASE WHEN (SELECT count(*) FROM b$i) = 0 THEN enc
         |    ELSE replace(enc,
         |      '|' || (SELECT l FROM b$i) || '||' || (SELECT r FROM b$i) || '|',
         |      '|' || (SELECT l FROM b$i) || (SELECT r FROM b$i) || '|') END AS enc
         |  FROM e${i - 1}
         |)""".stripMargin
    }
    (head +: iters).mkString(",\n")
  }

  def bpeTrainSql: String = {
    val m = GraftConf.bpeMerges
    val union = (1 to m).map { i =>
      s"SELECT CAST($i AS BIGINT) AS rank, l AS left_sym, r AS right_sym, l || r AS new_sym, cnt AS weight FROM b$i"
    }.mkString("\n  UNION ALL ")
    s"""${bpeCtesSql(m)}
       |SELECT * FROM (
       |  $union
       |) ORDER BY rank""".stripMargin
  }

  /** CTE chain ending in `btok` (doc_id, n_words, n_tokens under the
    * learned merges) — shared by `bpe_encode` and `pack_sequences_bpe`.
    */
  private[graft] def bpeTokenCtesSql: String = {
    val m = GraftConf.bpeMerges
    s"""${bpeCtesSql(m)},
       |tok AS (
       |  SELECT word,
       |    CAST(len(list_filter(string_split(enc, '||'), x -> x <> '')) AS BIGINT) AS n_tok
       |  FROM e$m
       |), btok AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |    CAST(sum(n_tok) AS BIGINT) AS n_tokens
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
       |  JOIN tok USING (word)
       |  GROUP BY doc_id
       |)""".stripMargin
  }

  def bpeEncodeSql: String =
    s"""$bpeTokenCtesSql
       |SELECT doc_id, n_words, n_tokens AS n_bpe_tokens FROM btok
       |ORDER BY doc_id""".stripMargin
}

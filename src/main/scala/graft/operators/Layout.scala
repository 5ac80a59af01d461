package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Layout classification + clause-graph construction (SURVEY §2B) — the
  * Spark re-expression of `layout_analysis/layout_structure.py`.
  *
  * The reference labels each token {paragraph,heading,list_item,table,
  * caption,other} (LABEL_MAP, line 14) and builds a clause graph by
  * appending paragraph/list_item content to the *most recent* heading key
  * (lines 154-174). The model inference is replaced by the same
  * deterministic structural heuristics the reference falls back on
  * (`_is_section_number`, line 176) — expressed as Column predicates.
  *
  * Scale: classification is a stateless projection; the clause graph is ONE
  * window pass (fill-forward last heading) + ONE aggregation, both
  * partitioned by doc_id — on a cluster every document's graph is built
  * locally after a single shuffle on doc_id.
  */
object Layout {

  /** Words that open a heading block (section-marker analog for the corpus
    * vocabulary; plays the role of layout_structure.py `_is_section_number`).
    */
  val HeadingWords = Seq("section", "article", "part", "table")
  val ListWords    = Seq("line", "row")
  /** Blocks this short are captions (reference label 4). */
  val CaptionMaxWords = 4

  /** Per-block structural label. */
  def classify(spark: SparkSession, dir: String): DataFrame =
    classifyOf(Ingestion.blocks(spark, dir))

  private[operators] def classifyOf(b: DataFrame): DataFrame = {
    b.withColumn("first_word", element_at(split(col("block_text"), " "), 1))
      .withColumn("label",
        when(col("first_word").isin(HeadingWords: _*), "heading")
          .when(col("first_word").isin(ListWords: _*), "list_item")
          .when(col("n_words") <= CaptionMaxWords, "caption")
          .otherwise("paragraph"))
  }

  /** `layout_classify` query. */
  def layoutClassify(spark: SparkSession, dir: String): DataFrame =
    classify(spark, dir)
      .select("doc_id", "block_id", "first_word", "n_words", "label")
      .contractOrderBy("doc_id", "block_id")

  /** Shared CTE prelude (documents → labeled blocks) for every oracle that
    * derives from the block/label model — word lists interpolated from the
    * SAME constants the Spark side uses, so they cannot drift.
    */
  private[operators] def blocksCte: String = "WITH " + blocksCteBody("documents")

  /** [[blocksCte]] without the `WITH` and reading from any relation —
    * callers that prepend their own CTEs (planted-clause doc variants)
    * splice this after them.
    */
  private[operators] def blocksCteBody(rel: String): String = {
    import Ingestion._
    val headings = HeadingWords.map("'" + _ + "'").mkString(",")
    val lists = ListWords.map("'" + _ + "'").mkString(",")
    s"""d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM $rel),
       |b AS (
       |  SELECT doc_id, ws, unnest(generate_series(1, CAST(ceil(len(ws) / $BlockWords.0) AS INT))) AS i FROM d
       |), blk AS (
       |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS block_id,
       |    array_to_string(ws[(i-1)*$BlockWords+1 : i*$BlockWords], ' ') AS block_text,
       |    CAST(len(ws[(i-1)*$BlockWords+1 : i*$BlockWords]) AS BIGINT) AS n_words
       |  FROM b
       |), lab AS (
       |  SELECT doc_id, block_id, block_text, n_words,
       |    split_part(block_text, ' ', 1) AS first_word,
       |    CASE WHEN split_part(block_text, ' ', 1) IN ($headings) THEN 'heading'
       |         WHEN split_part(block_text, ' ', 1) IN ($lists) THEN 'list_item'
       |         WHEN n_words <= $CaptionMaxWords THEN 'caption'
       |         ELSE 'paragraph' END AS label
       |  FROM blk
       |)""".stripMargin
  }

  val layoutClassifySql: String =
    s"""$blocksCte
       |SELECT doc_id, block_id, first_word, n_words, label FROM lab
       |ORDER BY doc_id, block_id""".stripMargin

  /** `clause_graph`: content blocks grouped under the most recent heading
    * (layout_structure.py:154-174: heading opens a clause keyed by its
    * section token; paragraph/list_item content appends; other labels are
    * skipped; content before the first heading is dropped).
    */
  def clauseGraph(spark: SparkSession, dir: String): DataFrame =
    clauseGraphRaw(spark, dir).contractOrderBy("doc_id", "section")

  /** The clause graph without the contract ordering — downstream operators
    * (schema-scoped extraction) consume this directly.
    */
  private[operators] def clauseGraphRaw(spark: SparkSession, dir: String): DataFrame =
    clauseGraphRawOf(classify(spark, dir))

  /** [[clauseGraphRaw]] over any labeled block relation — the seam
    * schema-scoped extraction feeds planted-clause doc variants through.
    */
  private[operators] def clauseGraphRawOf(labeled: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("block_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    labeled
      .withColumn("section_key",
        when(col("label") === "heading",
          concat(col("first_word"), lit("_"), col("block_id").cast("string"))))
      .withColumn("section", last(col("section_key"), ignoreNulls = true).over(w))
      .filter(col("label").isin("paragraph", "list_item") && col("section").isNotNull)
      .groupBy(col("doc_id"), col("section"))
      .agg(
        expr("array_join(transform(array_sort(collect_list(struct(block_id, block_text))), x -> x.block_text), ' ')")
          .as("clause_text"),
        count(lit(1)).as("n_blocks"),
        sum(length(col("block_text"))).cast("long").as("clause_chars"))
  }

  /** The clause graph's section fill-forward over the `lab` CTE: each
    * block's `section` is the key (`first_word_block_id`) of the last
    * heading at or before it — the SQL twin of [[clauseGraphRawOf]]'s
    * window, shared by every oracle that builds on clauses.
    */
  private[operators] val secCteSql: String =
    s"""sec AS (
       |  SELECT doc_id, block_id, block_text, label,
       |    last_value(CASE WHEN label = 'heading' THEN first_word || '_' || CAST(block_id AS VARCHAR) END IGNORE NULLS)
       |      OVER (PARTITION BY doc_id ORDER BY block_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS section
       |  FROM lab
       |)""".stripMargin

  val clauseGraphSql: String =
    s"""$blocksCte, $secCteSql
       |SELECT doc_id, section,
       |  string_agg(block_text, ' ' ORDER BY block_id) AS clause_text,
       |  count(*) AS n_blocks,
       |  CAST(sum(length(block_text)) AS BIGINT) AS clause_chars
       |FROM sec
       |WHERE label IN ('paragraph','list_item') AND section IS NOT NULL
       |GROUP BY doc_id, section
       |ORDER BY doc_id, section""".stripMargin
}

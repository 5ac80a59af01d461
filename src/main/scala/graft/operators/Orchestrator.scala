package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import SchemaExtract.QueryLogForm

/** Pipeline orchestration + recovery + final output (SURVEY §2B) — the
  * Spark re-expression of `orchestration/orchestrator.py` (the LangGraph
  * linear DAG layout→schema→extract→validate→finalize) and
  * `utils/validation.py` DefaultValueRecovery.
  *
  * In Spark the DAG is plan composition: each "node" contributes transforms
  * to ONE logical plan, so Catalyst optimizes across stage boundaries (e.g.
  * the extract stage's regexes and the finalize stage's projections fuse
  * into a single codegen'd pass — the reference runs them as separate
  * Python phases).
  */
object Orchestrator {

  /** `form_recovered`: the validate-node's recovery rung — fill missing
    * optional fields from schema defaults (validation.py:190
    * DefaultValueRecovery); required fields have no defaults, matching the
    * reference (they surface in missing_fields instead).
    */
  def formRecovered(spark: SparkSession, dir: String): DataFrame = {
    val form = SchemaExtract.extractFields(spark, dir)
    val cols = QueryLogForm.fields.map { f =>
      f.default match {
        case Some(d) => coalesce(col(f.name), lit(d)).as(f.name)
        case None    => col(f.name)
      }
    }
    val recoveredCount = QueryLogForm.fields
      .collect { case f if f.default.isDefined =>
        when(col(f.name).isNull, 1).otherwise(0) }
      .reduce(_ + _).cast("long")
    form.select(col("doc_id") +: cols :+ recoveredCount.as("n_recovered"): _*)
      .contractOrderBy("doc_id")
  }

  /** SQL twin of [[formRecovered]]'s projection over the `form` CTE: the
    * default-filled field columns, then `n_recovered`.
    */
  private val recoveredColsSql: String = {
    val outCols = QueryLogForm.fields.map { f =>
      f.default match {
        case Some(d) => s"coalesce(${f.name}, '$d') AS ${f.name}"
        case None    => f.name
      }
    }
    val recovered = QueryLogForm.fields.collect { case f if f.default.isDefined =>
      s"(CASE WHEN ${f.name} IS NULL THEN 1 ELSE 0 END)" }.mkString(" + ")
    s"""${outCols.mkString(", ")},
       |  CAST($recovered AS BIGINT) AS n_recovered""".stripMargin
  }

  val formRecoveredSql: String =
    s"""WITH ${SchemaExtract.formCteSql}
       |SELECT doc_id, $recoveredColsSql
       |FROM form
       |ORDER BY doc_id""".stripMargin

  /** `pipeline_output`: the finalize node — recovered fields + completeness
    * + clause-graph stats per document, the corpus analog of
    * `FormInstance.to_dict()` + pipeline_metadata (orchestrator.py:178,
    * form.py:83).
    */
  def pipelineOutput(spark: SparkSession, dir: String): DataFrame = {
    val recovered = formRecovered(spark, dir)
    val clauses = Layout.clauseGraph(spark, dir)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_clauses"), sum(col("n_blocks")).cast("long").as("n_clause_blocks"))
    recovered
      .join(clauses, Seq("doc_id"), "left")
      .withColumn("n_clauses", coalesce(col("n_clauses"), lit(0L)))
      .withColumn("n_clause_blocks", coalesce(col("n_clause_blocks"), lit(0L)))
      .withColumn("is_complete", Validation.isCompleteCol)
      .withColumn("missing_fields", Validation.missingFieldsCol)
      .select(col("doc_id") +: QueryLogForm.fields.map(f => col(f.name)) :+
        col("n_recovered") :+ col("is_complete") :+ col("missing_fields") :+
        col("n_clauses") :+ col("n_clause_blocks"): _*)
      .contractOrderBy("doc_id")
  }

  val pipelineOutputSql: String =
    // block/label CTEs come from Layout (same constants as the Spark side)
    s"""${Layout.blocksCte}, ${Layout.secCteSql}, cg AS (
       |  SELECT doc_id, section, count(*) AS n_blocks
       |  FROM sec WHERE label IN ('paragraph','list_item') AND section IS NOT NULL
       |  GROUP BY doc_id, section
       |), cstats AS (
       |  SELECT doc_id, count(*) AS n_clauses, CAST(sum(n_blocks) AS BIGINT) AS n_clause_blocks
       |  FROM cg GROUP BY doc_id
       |), ${SchemaExtract.formCteSql}
       |SELECT form.doc_id, $recoveredColsSql,
       |  ${Validation.isCompleteSql} AS is_complete,
       |  ${Validation.missingFieldsSql} AS missing_fields,
       |  coalesce(cstats.n_clauses, 0) AS n_clauses,
       |  coalesce(cstats.n_clause_blocks, 0) AS n_clause_blocks
       |FROM form LEFT JOIN cstats ON form.doc_id = cstats.doc_id
       |ORDER BY form.doc_id""".stripMargin

  /** The LangGraph-DAG analog: named stages composed in order (each stage is
    * lazy plan construction — `run` returns the fused final plan).
    */
  val stages: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "layout"   -> (Layout.layoutClassify _),
    "schema"   -> (SchemaExtract.extractFields _),
    "extract"  -> (formRecovered _),
    "validate" -> (Validation.formComplete _),
    "finalize" -> (pipelineOutput _))

  def run(spark: SparkSession, dir: String): DataFrame = pipelineOutput(spark, dir)
}

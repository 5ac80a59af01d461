package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import SchemaExtract.QueryLogForm

/** Rule-based validation + completeness (SURVEY §2B) — the Spark
  * re-expression of `utils/validation.py` (RequiredFieldRule,
  * TypeValidationRule, ConstraintValidationRule) and `utils/form.py`
  * (`is_complete`, `get_missing_fields`).
  *
  * Each rule is a boolean Column; the rule set evaluates for every row in
  * one projection (no per-row rule loop as in the reference — the loop is
  * compiled into the plan).
  */
object Validation {

  /** Constraint constants (constraints.{min,max} analog, validation.py:97). */
  val PriceMin = 0.0
  val PriceMax = 400000.0
  val StatusEnum = Seq("O", "F", "P")
  val SegmentEnum = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  /** o_orderpriority must look like `1-URGENT` — NO spaces, so the real
    * value `4-NOT SPECIFIED` fails, exercising the error path.
    */
  val PrioPattern = "^[1-5]-[A-Z]+$"

  /** `validate_fields`: per-order rule evaluation with error count. */
  def validateFields(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .withColumn("r_required_name", col("c_name").isNotNull)
      .withColumn("r_status_enum", col("o_orderstatus").isin(StatusEnum: _*))
      .withColumn("r_prio_pattern", col("o_orderpriority").rlike(PrioPattern))
      .withColumn("r_price_min", col("o_totalprice") >= PriceMin)
      .withColumn("r_price_max", col("o_totalprice") <= PriceMax)
      .withColumn("r_seg_enum", col("c_mktsegment").isin(SegmentEnum: _*))
      .withColumn("n_errors",
        (when(!col("r_required_name"), 1).otherwise(0)
          + when(!col("r_status_enum"), 1).otherwise(0)
          + when(!col("r_prio_pattern"), 1).otherwise(0)
          + when(!col("r_price_min"), 1).otherwise(0)
          + when(!col("r_price_max"), 1).otherwise(0)
          + when(!col("r_seg_enum"), 1).otherwise(0)).cast("long"))
      .withColumn("is_valid", col("n_errors") === 0)
      .select("o_orderkey", "o_custkey", "r_required_name", "r_status_enum",
        "r_prio_pattern", "r_price_min", "r_price_max", "r_seg_enum", "n_errors", "is_valid")
      .contractOrderBy("o_orderkey")
  }

  val validateFieldsSql: String =
    s"""SELECT o_orderkey, o_custkey,
       |  c_name IS NOT NULL AS r_required_name,
       |  o_orderstatus IN ('O','F','P') AS r_status_enum,
       |  regexp_matches(o_orderpriority, '$PrioPattern') AS r_prio_pattern,
       |  o_totalprice >= $PriceMin AS r_price_min,
       |  o_totalprice <= $PriceMax AS r_price_max,
       |  c_mktsegment IN ('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY') AS r_seg_enum,
       |  CAST((CASE WHEN c_name IS NULL THEN 1 ELSE 0 END)
       |     + (CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END)
       |     + (CASE WHEN NOT regexp_matches(o_orderpriority, '$PrioPattern') THEN 1 ELSE 0 END)
       |     + (CASE WHEN o_totalprice < $PriceMin THEN 1 ELSE 0 END)
       |     + (CASE WHEN o_totalprice > $PriceMax THEN 1 ELSE 0 END)
       |     + (CASE WHEN c_mktsegment NOT IN ('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY') THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_errors,
       |  ((CASE WHEN c_name IS NULL THEN 1 ELSE 0 END)
       |     + (CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END)
       |     + (CASE WHEN NOT regexp_matches(o_orderpriority, '$PrioPattern') THEN 1 ELSE 0 END)
       |     + (CASE WHEN o_totalprice < $PriceMin THEN 1 ELSE 0 END)
       |     + (CASE WHEN o_totalprice > $PriceMax THEN 1 ELSE 0 END)
       |     + (CASE WHEN c_mktsegment NOT IN ('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY') THEN 1 ELSE 0 END)) = 0 AS is_valid
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |ORDER BY o_orderkey""".stripMargin

  /** Email regex — reference `utils/validation.py:84` verbatim (RE2-safe). */
  val EmailPattern = "^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}$"
  /** Currency regex — reference `utils/validation.py:91` verbatim. */
  val CurrencyPattern = "^[A-Z]{3}\\s+[0-9,]+(\\.[0-9]{2})?$"
  /** Number: the float()-parses analog (validation.py:66) as a regex, so
    * both engines agree exactly (no cast-behavior divergence).
    */
  val NumberPattern = "^-?[0-9]+(\\.[0-9]+)?([eE][+-]?[0-9]+)?$"
  /** ISO date shape; combined with try_cast so 2024-13-45 fails like
    * `datetime.fromisoformat` (validation.py:60).
    */
  val IsoDatePattern = "^[0-9]{4}-[0-9]{2}-[0-9]{2}$"

  /** `form_field_validate`: TypeValidationRule over form-field values —
    * date/number/boolean/email/currency validators from
    * `utils/validation.py:58-95`, with the reference's None-is-valid rule.
    * Field values are derived from the extracted form + document columns
    * (the parse_typed precedent), cycling each field through pass, fail and
    * null shapes so every validator exercises both paths.
    */
  def formFieldValidate(spark: SparkSession, dir: String): DataFrame = {
    val form = SchemaExtract.extractFields(spark, dir) // doc_id, lang, fields…
    val m3 = col("doc_id") % 3
    val staged = form.select(
      col("doc_id"),
      when(m3 === 0, concat(lit("2024-03-"),
          lpad(((col("doc_id") % 28) + 1).cast("string"), 2, "0")))
        .when(m3 === 1, concat(lit("2024-15-"),
          lpad(((col("doc_id") % 28) + 1).cast("string"), 2, "0")))
        .otherwise(col("first_join")).as("date_val"),
      when(m3 === 0, col("doc_id").cast("string"))
        .when(m3 === 1, concat(col("doc_id").cast("string"), lit("."),
          (col("doc_id") % 10).cast("string")))
        .otherwise(col("first_join")).as("num_val"),
      when(col("doc_id") % 2 === 0,
          when(col("doc_id") % 4 === 0, lit("true")).otherwise(lit("false")))
        .otherwise(col("table_ref")).as("bool_val"),
      when(m3 === 0, concat(col("lang"), lit(".user+"),
          col("doc_id").cast("string"), lit("@data.example.com")))
        .when(m3 === 1, concat(col("lang"), lit("@example")))
        .otherwise(lit(null).cast("string")).as("email_val"),
      when(m3 === 0, concat(lit("USD "), col("doc_id").cast("string"), lit(".00")))
        .when(m3 === 1, concat(lit("USD "), col("doc_id").cast("string")))
        .otherwise(concat(lit("usd "), col("doc_id").cast("string"))).as("cur_val"))
    // None is valid (validation.py:41): every rule passes on NULL
    def nullOr(c: Column, ok: Column): Column = c.isNull || ok
    val checked = staged
      .withColumn("date_ok", nullOr(col("date_val"),
        col("date_val").rlike(IsoDatePattern) &&
          expr("try_cast(date_val AS date)").isNotNull))
      .withColumn("num_ok", nullOr(col("num_val"), col("num_val").rlike(NumberPattern)))
      .withColumn("bool_ok", nullOr(col("bool_val"),
        lower(col("bool_val")).isin("true", "false")))
      .withColumn("email_ok", nullOr(col("email_val"), col("email_val").rlike(EmailPattern)))
      .withColumn("cur_ok", nullOr(col("cur_val"), col("cur_val").rlike(CurrencyPattern)))
    checked
      .withColumn("n_errors",
        (when(!col("date_ok"), 1).otherwise(0)
          + when(!col("num_ok"), 1).otherwise(0)
          + when(!col("bool_ok"), 1).otherwise(0)
          + when(!col("email_ok"), 1).otherwise(0)
          + when(!col("cur_ok"), 1).otherwise(0)).cast("long"))
      .withColumn("is_valid", col("n_errors") === 0)
      .select("doc_id", "date_val", "date_ok", "num_val", "num_ok", "bool_val", "bool_ok",
        "email_val", "email_ok", "cur_val", "cur_ok", "n_errors", "is_valid")
      .contractOrderBy("doc_id")
  }

  val formFieldValidateSql: String =
    s"""WITH ${SchemaExtract.formCteSql}, staged AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 3 = 0 THEN '2024-03-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
       |         WHEN doc_id % 3 = 1 THEN '2024-15-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
       |         ELSE first_join END AS date_val,
       |    CASE WHEN doc_id % 3 = 0 THEN CAST(doc_id AS VARCHAR)
       |         WHEN doc_id % 3 = 1 THEN CAST(doc_id AS VARCHAR) || '.' || CAST(doc_id % 10 AS VARCHAR)
       |         ELSE first_join END AS num_val,
       |    CASE WHEN doc_id % 2 = 0 THEN (CASE WHEN doc_id % 4 = 0 THEN 'true' ELSE 'false' END)
       |         ELSE table_ref END AS bool_val,
       |    CASE WHEN doc_id % 3 = 0 THEN lang || '.user+' || CAST(doc_id AS VARCHAR) || '@data.example.com'
       |         WHEN doc_id % 3 = 1 THEN lang || '@example'
       |         ELSE NULL END AS email_val,
       |    CASE WHEN doc_id % 3 = 0 THEN 'USD ' || CAST(doc_id AS VARCHAR) || '.00'
       |         WHEN doc_id % 3 = 1 THEN 'USD ' || CAST(doc_id AS VARCHAR)
       |         ELSE 'usd ' || CAST(doc_id AS VARCHAR) END AS cur_val
       |  FROM form
       |), checked AS (
       |  SELECT doc_id, date_val, num_val, bool_val, email_val, cur_val,
       |    (date_val IS NULL OR (regexp_matches(date_val, '$IsoDatePattern')
       |       AND try_cast(date_val AS DATE) IS NOT NULL)) AS date_ok,
       |    (num_val IS NULL OR regexp_matches(num_val, '$NumberPattern')) AS num_ok,
       |    (bool_val IS NULL OR lower(bool_val) IN ('true', 'false')) AS bool_ok,
       |    (email_val IS NULL OR regexp_matches(email_val, '$EmailPattern')) AS email_ok,
       |    (cur_val IS NULL OR regexp_matches(cur_val, '$CurrencyPattern')) AS cur_ok
       |  FROM staged
       |)
       |SELECT doc_id, date_val, date_ok, num_val, num_ok, bool_val, bool_ok,
       |  email_val, email_ok, cur_val, cur_ok,
       |  CAST((CASE WHEN NOT date_ok THEN 1 ELSE 0 END)
       |     + (CASE WHEN NOT num_ok THEN 1 ELSE 0 END)
       |     + (CASE WHEN NOT bool_ok THEN 1 ELSE 0 END)
       |     + (CASE WHEN NOT email_ok THEN 1 ELSE 0 END)
       |     + (CASE WHEN NOT cur_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
       |  (date_ok AND num_ok AND bool_ok AND email_ok AND cur_ok) AS is_valid
       |FROM checked
       |ORDER BY doc_id""".stripMargin

  /** `form_complete`: per-document completeness over the extracted form
    * (form.py:49 `is_complete` / :60 `get_missing_fields`). Derived from the
    * SAME FormSchema as the extractor, like the reference.
    */
  def formComplete(spark: SparkSession, dir: String): DataFrame =
    SchemaExtract.extractFields(spark, dir)
      .select(col("doc_id"), isCompleteCol.as("is_complete"),
        SchemaExtract.nFoundOf(QueryLogForm).as("n_filled"),
        missingFieldsCol.as("missing_fields"))
      .contractOrderBy("doc_id")

  /** Completeness over the QueryLogForm field columns: `is_complete` (every
    * required field captured) and `missing_fields` (the uncaptured
    * required fields, comma-joined) — shared with `pipeline_output`.
    */
  private[operators] val isCompleteCol: Column =
    QueryLogForm.fields.filter(_.required).map(f => col(f.name).isNotNull).reduce(_ && _)

  private[operators] val missingFieldsCol: Column =
    concat_ws(",", QueryLogForm.fields.filter(_.required)
      .map(f => when(col(f.name).isNull, f.name)): _*)

  /** SQL twins of [[isCompleteCol]] and [[missingFieldsCol]]. */
  private[operators] val isCompleteSql: String =
    QueryLogForm.fields.filter(_.required).map(f => s"${f.name} IS NOT NULL").mkString(" AND ")

  private[operators] val missingFieldsSql: String =
    QueryLogForm.fields.filter(_.required)
      .map(f => s"CASE WHEN ${f.name} IS NULL THEN '${f.name}' END")
      .mkString("concat_ws(',', ", ", ", ")")

  val formCompleteSql: String =
    s"""WITH ${SchemaExtract.formCteSql}
       |SELECT doc_id, $isCompleteSql AS is_complete,
       |  ${SchemaExtract.nFoundSql(QueryLogForm)} AS n_filled,
       |  $missingFieldsSql AS missing_fields
       |FROM form
       |ORDER BY doc_id""".stripMargin
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Schema model + schema-guided field extraction (SURVEY §2B) — the Spark
  * re-expression of `schema/schema.py` + `extraction/form_filler.py`.
  *
  * The reference defines form schemas as field specs
  * `{type, required, patterns, keywords}` and extracts each field through a
  * ladder: regex patterns first (form_filler.py:70), then keyword capture
  * (form_filler.py:117), then an LLM fallback. Here the same schema object
  * drives a *generated column expression* per field — a `coalesce` over the
  * pattern ladder — so the whole form populates for billions of documents in
  * one codegen'd projection. (The LLM rung is out of scope for a
  * deterministic engine; the ladder ends at keyword capture.)
  *
  * The DuckDB oracle SQL is generated from the SAME schema definition, so
  * the Spark and oracle ladders can never drift.
  */
object SchemaExtract {

  /** Field spec (schema/schema.py fields: type/section/required/patterns/
    * keywords/default). `section` is the clause-graph hint `_find_context`
    * scopes extraction to (form_filler.py:102).
    */
  final case class FieldSpec(
      name: String,
      fieldType: String,
      required: Boolean,
      patterns: Seq[String],
      keywords: Seq[String] = Nil,
      default: Option[String] = None,
      section: Option[String] = None) {
    /** Keyword rung: `keyword\s+(\w+)` capture (form_filler.py:123 adapted
      * to the corpus vocabulary — the reference captures `[^\n\.;,]+`, i.e.
      * "rest of clause"; corpus text has no clause punctuation so a single
      * token capture is the faithful analog).
      */
    def allPatterns: Seq[String] = patterns ++ keywords.map(k => k + " (\\w+)")
  }

  final case class FormSchema(formName: String, fields: Seq[FieldSpec])

  /** The corpus form schema (role of schema.py DEFAULT_NDA_SCHEMA). Section
    * hints name the clause vocabulary each field lives near — used only by
    * the scoped (`_find_context`) extraction path.
    */
  val QueryLogForm: FormSchema = FormSchema(
    "QueryLog_Form",
    Seq(
      FieldSpec("first_join", "string", required = true, Seq("join (\\w+)"),
        section = Some("join")),
      FieldSpec("table_ref", "string", required = true, Seq("table (\\w+)"),
        section = Some("table")),
      FieldSpec("stream_kind", "string", required = false, Seq("stream (\\w+)"),
        default = Some("none"), section = Some("stream")),
      FieldSpec("sort_mode", "string", required = false,
        Seq("sort (fast|slow)"), keywords = Seq("merge"), default = Some("unsorted"),
        section = Some("sort")),
      // Reference NDA pattern kept verbatim (schema.py:80) — no dates exist
      // in this corpus so it extracts NULL, exercising the miss path (and
      // its section hint matches no clause, exercising the no-context path).
      FieldSpec("effective_date", "date", required = false,
        Seq("effective\\s+(?:on\\s+)?(?:as of\\s+)?([A-Za-z]+\\s+\\d{1,2},?\\s+\\d{4}|\\d{4}-\\d{1,2}-\\d{1,2}|\\d{1,2}/\\d{1,2}/\\d{4})"),
        section = Some("effective"))))

  /** One field's extraction ladder as a Column over `text`. A field with no
    * patterns/keywords (e.g. every Employment_Agreement field — the
    * reference fills those via the out-of-scope LLM rung) extracts NULL.
    */
  def fieldCol(f: FieldSpec): Column = fieldColFrom(f, col("text"))

  /** The ladder over an arbitrary context column (full text or the
    * section-scoped context).
    */
  def fieldColFrom(f: FieldSpec, ctx: Column): Column =
    if (f.allPatterns.isEmpty) lit(null).cast("string").as(f.name)
    else coalesce(f.allPatterns.map(p =>
      nullif(regexp_extract(ctx, p, 1), lit(""))): _*).as(f.name)

  def fieldSql(f: FieldSpec): String = fieldSqlFrom(f, "text")

  def fieldSqlFrom(f: FieldSpec, ctxExpr: String): String =
    if (f.allPatterns.isEmpty) s"CAST(NULL AS VARCHAR) AS ${f.name}"
    else {
      val rungs = f.allPatterns.map(p => s"nullif(regexp_extract($ctxExpr, '$p', 1), '')")
      s"coalesce(${rungs.mkString(", ")}) AS ${f.name}"
    }

  /** `extract_fields`: the populated form, one row per document. */
  def extractFields(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id") +: col("lang") +: QueryLogForm.fields.map(f => fieldCol(f)): _*)
      .contractOrderBy("doc_id")

  val extractFieldsSql: String =
    s"""SELECT doc_id, lang, ${QueryLogForm.fields.map(fieldSql).mkString(",\n  ")}
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  /** The form-ETL oracles' `form` CTE: [[extractFieldsSql]]'s rows
    * (doc_id, lang, the field ladders), for `form_complete`,
    * `form_recovered`, `form_field_validate` and `pipeline_output` to
    * build on.
    */
  private[operators] val formCteSql: String =
    s"form AS (SELECT doc_id, lang, ${QueryLogForm.fields.map(fieldSql).mkString(",\n  ")} FROM documents)"

  /** How many of `schema`'s fields captured a value: every extraction
    * row's `n_found` (and `form_complete`'s `n_filled`).
    */
  private[operators] def nFoundOf(schema: FormSchema): Column =
    schema.fields.map(f => when(col(f.name).isNotNull, 1).otherwise(0))
      .reduce(_ + _).cast("long")

  /** SQL twin of [[nFoundOf]]. */
  private[operators] def nFoundSql(schema: FormSchema): String =
    schema.fields.map(f => s"CASE WHEN ${f.name} IS NOT NULL THEN 1 ELSE 0 END")
      .mkString("CAST(", " + ", " AS BIGINT)")

  // ---- schema-parameterized extraction (form_filler.py:19 populate) -------

  /** Run ANY loaded [[FormSchema]]'s extraction ladder over the corpus —
    * the reference's `populate(clause_graph, schema)` (form_filler.py:19)
    * driven by a `SchemaManager`-loaded JSON instead of a built-in schema.
    * One codegen'd projection regardless of the schema's field count.
    */
  def extractFieldsFor(spark: SparkSession, dir: String, schema: FormSchema): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id") +: schema.fields.map(f => fieldCol(f)): _*)
      .contractOrderBy("doc_id")

  def extractFieldsForSql(schema: FormSchema): String =
    s"""SELECT doc_id, ${schema.fields.map(fieldSql).mkString(",\n  ")}
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  /** `extract_fields_scoped`: the reference's populate-WITHOUT-full-text
    * path — each field's extraction ladder runs over the section-scoped
    * context `_find_context(section, clause_graph)` builds
    * (form_filler.py:102-116): clauses whose key or text contains the
    * field's section hint (case-insensitive), joined in clause order. No
    * matching clause → no context → NULL (the reference logs and returns
    * None; the LLM rung is out of scope).
    *
    * Plan: clause graph (two keyed shuffles) → ONE doc-grain aggregation
    * building every field's context simultaneously (conditional
    * collect_list per field — fields are few and fixed, so this stays one
    * pass over clause rows) → left join back to documents so clause-less
    * docs keep their all-NULL row → one codegen'd projection of ladders.
    */
  def extractFieldsScoped(spark: SparkSession, dir: String): DataFrame =
    scopedExtract(Tables.documents(spark, dir), QueryLogForm)

  /** The scoped ladder over ANY (doc_id, text, source) relation and ANY
    * catalog schema whose fields carry section hints — the reference's
    * `_find_context` is schema-generic (form_filler.py:102 takes the
    * field's section), so the Spark side is too. `extract_fields_scoped`
    * is this at (documents, QueryLogForm);
    * `extract_fields_scoped_employment` feeds a planted-clause doc
    * variant + the catalog-loaded employment schema through the same
    * path.
    */
  private[graft] def scopedExtract(docs: DataFrame, schema: FormSchema): DataFrame = {
    val cg = Layout.clauseGraphRawOf(Layout.classifyOf(Ingestion.blocksOf(docs)))
      .withColumn("hb", element_at(split(col("section"), "_"), 2).cast("long"))
    val ctxAggs = schema.fields.zipWithIndex.map { case (f, i) =>
      val hint = f.section.get.toLowerCase
      val matches = instr(lower(col("section")), hint) > 0 ||
        instr(lower(col("clause_text")), hint) > 0
      array_join(
        transform(
          array_sort(collect_list(when(matches, struct(col("hb"), col("clause_text"))))),
          x => x.getField("clause_text")),
        " ").as(s"ctx_$i")
    }
    val ctx = cg.groupBy(col("doc_id")).agg(ctxAggs.head, ctxAggs.tail: _*)
    val fields = schema.fields.zipWithIndex.map { case (f, i) =>
      fieldColFrom(f, nullif(col(s"ctx_$i"), lit(""))) // empty context ≡ none
    }
    val extracted = docs.select(col("doc_id"))
      .join(ctx, Seq("doc_id"), "left_outer")
      .select(col("doc_id") +: fields: _*)
    extracted.withColumn("n_found", nFoundOf(schema))
      .contractOrderBy("doc_id")
  }

  def extractFieldsScopedSql: String =
    scopedSqlFor(QueryLogForm, Layout.blocksCte, "documents")

  /** The scoped-extraction oracle for any schema: `withClause` supplies the
    * block CTEs (possibly reading a planted-clause doc variant), `docsRel`
    * the relation the doc-grain left join anchors on.
    */
  private def scopedSqlFor(schema: FormSchema, withClause: String,
      docsRel: String): String = {
    val ctxCols = schema.fields.zipWithIndex.map { case (f, i) =>
      val hint = f.section.get.toLowerCase
      s"""string_agg(clause_text, ' ' ORDER BY hb) FILTER (
         |      WHERE position('$hint' IN lower(section)) > 0 OR position('$hint' IN lower(clause_text)) > 0) AS ctx_$i"""
        .stripMargin
    }.mkString(",\n    ")
    val fieldCols = schema.fields.zipWithIndex
      .map { case (f, i) => fieldSqlFrom(f, s"nullif(ctx_$i, '')") }.mkString(",\n  ")
    s"""$withClause, ${Layout.secCteSql}, cg AS (
       |  SELECT doc_id, section,
       |    string_agg(block_text, ' ' ORDER BY block_id) AS clause_text,
       |    CAST(split_part(section, '_', 2) AS BIGINT) AS hb
       |  FROM sec
       |  WHERE label IN ('paragraph','list_item') AND section IS NOT NULL
       |  GROUP BY doc_id, section
       |), ctx AS (
       |  SELECT doc_id,
       |    $ctxCols
       |  FROM cg GROUP BY doc_id
       |), e AS (
       |  SELECT d.doc_id,
       |  $fieldCols
       |  FROM $docsRel d LEFT JOIN ctx ON d.doc_id = ctx.doc_id
       |)
       |SELECT e.*, ${nFoundSql(schema)} AS n_found
       |FROM e
       |ORDER BY doc_id""".stripMargin
  }

  /** Planted NDA clauses, one per `doc_id % 7` case (case 6 = no clause —
    * the miss path). The synthetic corpus vocabulary has no contract
    * language, so each document is prefixed with one deterministic clause
    * the reference schema's ladder should capture; the SAME construction
    * runs in the DuckDB oracle, so what's under test is the
    * schema-JSON-driven regex ladder itself, field by field.
    */
  private[graft] val NdaClauses = Seq(
    "effective 2024-03-15 ",                             // effective_date
    "termination notice period 30 days written notice ", // termination_notice
    "governed by the State of California. ",             // governing_law
    "disclosing party means Widget Co, ",                // disclosing_party
    "recipient means Acme Corp, ",                       // receiving_party
    "for a period of 5 years ")                          // confidentiality_period

  /** Planted-clause extraction shared by `extract_fields_nda` and
    * `extract_fields_employment`: one deterministic clause per
    * `doc_id % (clauses+1)` case prefixes the document (the last case is
    * the miss path — no clause), then the schema's whole ladder populates
    * in one codegen'd projection. The SAME construction runs in the DuckDB
    * oracle, so what's under test is the schema-JSON-driven regex ladder
    * itself, field by field.
    */
  private def plantedExtract(spark: SparkSession, dir: String,
      schema: FormSchema, clauses: Seq[String]): DataFrame = {
    val mod = clauses.length + 1
    val clause = clauses.zipWithIndex.foldRight(lit(""): Column) {
      case ((txt, i), els) => when(col("doc_id") % mod === i, txt).otherwise(els)
    }
    val extracted = Tables.documents(spark, dir)
      .withColumn("clause_case", (col("doc_id") % mod).cast("long"))
      .withColumn("text", concat(clause, col("text")))
      .select(col("doc_id") +: col("clause_case") +: schema.fields.map(f => fieldCol(f)): _*)
    extracted
      .withColumn("n_found", nFoundOf(schema))
      .contractOrderBy("doc_id")
  }

  private def plantedExtractSql(schema: FormSchema, clauses: Seq[String]): String = {
    val mod = clauses.length + 1
    val cases = clauses.zipWithIndex
      .map { case (txt, i) => s"WHEN $i THEN '$txt'" }.mkString(" ")
    s"""WITH d AS (
       |  SELECT doc_id, CAST(doc_id % $mod AS BIGINT) AS clause_case,
       |    (CASE doc_id % $mod $cases ELSE '' END) || text AS text
       |  FROM documents
       |), e AS (
       |  SELECT doc_id, clause_case, ${schema.fields.map(fieldSql).mkString(",\n  ")}
       |  FROM d
       |)
       |SELECT e.*, ${nFoundSql(schema)} AS n_found
       |FROM e
       |ORDER BY doc_id""".stripMargin
  }

  /** `extract_fields_nda`: the reference's DEFAULT_NDA_SCHEMA
    * (schema/schema.py:67), loaded from its bundled JSON through
    * [[Schemas.manager]], populated over the corpus. Emits the six
    * extracted fields plus `n_found` (how many rungs captured).
    */
  def extractFieldsNda(spark: SparkSession, dir: String): DataFrame =
    plantedExtract(spark, dir, Schemas.nda, NdaClauses)

  def extractFieldsNdaSql: String = plantedExtractSql(Schemas.nda, NdaClauses)

  /** The reference-supported user workflow that makes the Employment
    * schema deterministically extractable: DEFAULT_EMPLOYMENT_SCHEMA's
    * fields carry NO patterns/keywords (schema/schema.py:141 — the
    * reference fills them via the out-of-scope LLM rung), so a user adds
    * keyword/pattern rungs and registers the schema through the
    * SchemaManager catalog (schema.py:49 add_schema — exactly how custom
    * schemas enter the reference). The augmented copy round-trips through
    * [[SchemaManager.addSchema]]/`getSchema`, so the reference wire format
    * carries the rungs end-to-end and the extraction below runs off the
    * catalog-loaded JSON, never off hardcoded Scala.
    */
  private[graft] val EmploymentAugments: Map[String, (Seq[String], Seq[String])] = Map(
    "employee_name" -> ((Nil, Seq("employee"))),
    "employer_name" -> ((Nil, Seq("employer"))),
    "start_date"    -> ((Seq("start date (\\d{4}-\\d{1,2}-\\d{1,2})"), Nil)),
    "position"      -> ((Nil, Seq("position"))),
    "salary"        -> ((Seq("salary ([A-Z]{3} [0-9]+)"), Nil)),
    "vacation_days" -> ((Seq("vacation days ([0-9]+)"), Nil)))

  private[graft] lazy val employmentKeyworded: FormSchema = {
    val base = Schemas.employment
    val aug = base.copy(
      formName = "Employment_Agreement_Extractable",
      fields = base.fields.map { f =>
        val (ps, ks) = EmploymentAugments(f.name)
        f.copy(patterns = f.patterns ++ ps, keywords = f.keywords ++ ks)
      })
    require(Schemas.manager.addSchema(aug), "employment schema registration failed")
    Schemas.manager.getSchema(aug.formName)
      .getOrElse(sys.error("augmented employment schema failed to load back"))
  }

  /** Planted employment clauses, one per `doc_id % 7` case (case 6 = miss).
    * Each clause feeds exactly one field's rung: keyword capture for the
    * string fields (form_filler.py:117 `_extract_by_keyword`), a pattern
    * for the date/currency/number fields (form_filler.py:70).
    */
  private[graft] val EmploymentClauses = Seq(
    "employee Margaret ",        // employee_name (keyword rung)
    "employer WidgetWorks ",     // employer_name (keyword rung)
    "start date 2024-06-01 ",    // start_date (pattern rung)
    "position engineer ",        // position (keyword rung)
    "salary USD 75000 ",         // salary (pattern rung)
    "vacation days 15 ")         // vacation_days (pattern rung)

  /** `extract_fields_employment`: the second reference schema through the
    * SAME parameterized ladder + catalog path as `extract_fields_nda` —
    * schema-parameterization proven end-to-end on a second real schema, not
    * just in SchemaParamSpec.
    */
  def extractFieldsEmployment(spark: SparkSession, dir: String): DataFrame =
    plantedExtract(spark, dir, employmentKeyworded, EmploymentClauses)

  def extractFieldsEmploymentSql: String =
    plantedExtractSql(employmentKeyworded, EmploymentClauses)

  /** Section hints for the scoped employment variant — each hint matches
    * its field's planted clause text (the `_find_context` contains-check
    * runs against section key OR clause text, form_filler.py:108).
    * Registered through the catalog like [[employmentKeyworded]] so the
    * wire format carries sections end-to-end (SchemaIO writes/reads the
    * `section` attribute).
    */
  private[graft] lazy val employmentScoped: FormSchema = {
    val sections = Map(
      "employee_name" -> "employee",      "employer_name" -> "employer",
      "start_date"    -> "start date",    "position"      -> "position",
      "salary"        -> "salary",        "vacation_days" -> "vacation days")
    val aug = employmentKeyworded.copy(
      formName = "Employment_Agreement_Scoped",
      fields = employmentKeyworded.fields.map(f =>
        f.copy(section = Some(sections(f.name)))))
    require(Schemas.manager.addSchema(aug), "scoped employment schema registration failed")
    Schemas.manager.getSchema(aug.formName)
      .getOrElse(sys.error("scoped employment schema failed to load back"))
  }

  /** `extract_fields_scoped_employment`: section-hint context building on
    * the SECOND schema — [[scopedExtract]] parameterized by the
    * catalog-loaded scoped employment schema, over documents whose planted
    * clause is APPENDED (not prefixed: the clause graph drops content
    * before the first heading, so an appended clause rides the document's
    * LAST section and is findable by the contains-check; headingless
    * documents drop it, exercising the no-context miss path). Same
    * construction in the DuckDB oracle.
    */
  def extractFieldsScopedEmployment(spark: SparkSession, dir: String): DataFrame = {
    val mod = EmploymentClauses.length + 1
    val clause = EmploymentClauses.zipWithIndex.foldRight(lit(""): Column) {
      case ((txt, i), els) =>
        when(col("doc_id") % mod === i, lit(" " + txt.trim)).otherwise(els)
    }
    val docs = Tables.documents(spark, dir)
      .withColumn("text", concat(col("text"), clause))
    scopedExtract(docs, employmentScoped)
  }

  def extractFieldsScopedEmploymentSql: String = {
    val mod = EmploymentClauses.length + 1
    val cases = EmploymentClauses.zipWithIndex
      .map { case (txt, i) => s"WHEN $i THEN ' ${txt.trim}'" }.mkString(" ")
    val withClause =
      "WITH empdoc AS (\n" +
        s"  SELECT doc_id, text || (CASE doc_id % $mod $cases ELSE '' END) AS text\n" +
        "  FROM documents\n" +
        "), " + Layout.blocksCteBody("empdoc")
    scopedSqlFor(employmentScoped, withClause, "empdoc")
  }

  /** `extract_json_fields`: typed JSON field pull from event props
    * (schema-guided extraction over a semi-structured column), aggregated
    * per event type.
    */
  def extractJsonFields(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        sum(col("k")).as("sum_k"))
      .contractOrderBy("event_type")

  val extractJsonFieldsSql: String =
    """SELECT event_type, count(*) AS n_events, count(DISTINCT user_id) AS n_users,
      |  min(k) AS min_k, max(k) AS max_k, CAST(sum(k) AS BIGINT) AS sum_k
      |FROM (SELECT event_type, user_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** `parse_typed`: the reference's typed-value parsing
    * (form_filler.py:137 `_parse_value`, extraction.py:148 `_validate_type`)
    * as a round-trip: format values to strings in several shapes, parse them
    * back with the date/number/boolean/currency rules.
    */
  // ---- pluggable third rung (form_filler.py LLM fallback) -------------------

  /** The THIRD extraction rung's seam — the reference's LLM fallback
    * (form_filler.py runs it after regex/keyword;
    * extraction/gemini_extractor.py:1-160 and llama_extractor.py:1-192
    * call a vision model per document). A deterministic public-knowledge
    * engine can't ship a model, so the rung is a CONTRACT:
    * implementations receive EXACTLY the (doc_id, text, field) rows the
    * pattern/keyword rungs missed — never a field the ladder already
    * filled — and return (doc_id, field, value) proposals that compose
    * into the form via the same coalesce, then flow through the same
    * typed parse/validate tail as rung-1/2 captures. Production plugs a
    * batched model client here; [[StubExternalExtractor]] is the
    * deterministic in-repo implementation the specs drive end-to-end.
    */
  trait ExternalExtractor {
    /** Propose values for the rung-1/2 miss set. Input: (doc_id, text,
      * field). Output: (doc_id, field, value); absent/null rows stay
      * missing in the composed form.
      */
    def extract(misses: DataFrame): DataFrame
  }

  /** Deterministic rung-3 stub: type-shaped constants (a parseable ISO
    * date for `date` fields, a numeric literal for `number`, `true` for
    * `boolean`, a doc-salted token otherwise) so specs can prove the
    * composed form parses and validates through the standard tail.
    */
  final class StubExternalExtractor(schema: FormSchema) extends ExternalExtractor {
    def extract(misses: DataFrame): DataFrame = {
      val proposals = schema.fields.map { f =>
        val v = f.fieldType match {
          case "date"    => lit("2024-01-02")
          case "number"  => lit("42")
          case "boolean" => lit("true")
          case _ => concat(lit("ext_"), col("doc_id").cast("string"))
        }
        when(col("field") === f.name, v)
      }
      misses.select(col("doc_id"), col("field"),
        coalesce(proposals: _*).as("value"))
    }
  }

  /** The FULL three-rung populate over any (doc_id, text) frame:
    * pattern → keyword → external. Rung 3 is consulted ONLY on rung-1/2
    * misses (the miss set derives from the very ladder columns the output
    * carries), and its proposals fill via coalesce — a pattern/keyword
    * capture always wins, exactly form_filler.py's precedence. Scale:
    * the miss table is ≤ fields-per-schema rows per doc (explode of a
    * field-count array — no corpus blowup), the proposal pivot is one
    * doc-grain aggregation, and the compose is one key join.
    */
  def extractFieldsWithExternal(docs: DataFrame, schema: FormSchema,
      ext: ExternalExtractor): DataFrame = {
    val r12 = docs.select(
      col("doc_id") +: col("text") +: schema.fields.map(f => fieldCol(f)): _*)
    val missTags = schema.fields.map(f => when(col(f.name).isNull, lit(f.name)))
    val misses = r12.select(col("doc_id"), col("text"),
      explode(filter(array(missTags: _*), c => c.isNotNull)).as("field"))
    val proposals = ext.extract(misses).select("doc_id", "field", "value")
    val aggs = schema.fields.map(f =>
      max(when(col("field") === f.name, col("value"))).as(s"ext_${f.name}"))
    val byDoc = proposals.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    r12.join(byDoc, Seq("doc_id"), "left")
      .select(col("doc_id") +: schema.fields.map(f =>
        coalesce(col(f.name), col(s"ext_${f.name}")).as(f.name)): _*)
  }

  def parseTyped(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.select(
        col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("date_iso_str"),
        date_format(col("o_orderdate"), "MM/dd/yyyy").as("date_slash_str"),
        col("o_orderpriority"), col("o_orderstatus"), col("o_totalprice"))
      .withColumn("parsed_iso", col("date_iso_str").cast("date"))
      .withColumn("parsed_slash", to_date(col("date_slash_str"), "MM/dd/yyyy"))
      .withColumn("prio_num",
        nullif(regexp_extract(col("o_orderpriority"), "(\\d+)", 1), lit("")).cast("long"))
      .withColumn("flag_str", when(col("o_orderkey") % 2 === 0, "yes").otherwise("no"))
      .withColumn("parsed_bool", col("flag_str").isin("true", "yes", "1", "agree", "agreed"))
      .withColumn("currency_str",
        concat(lit("USD "), col("o_totalprice").cast("decimal(12,2)").cast("string")))
      .withColumn("currency_valid",
        col("currency_str").rlike("^[A-Z]{3} [0-9]+\\.[0-9]{2}$"))
      .withColumn("parsed_amount",
        nullif(regexp_extract(col("currency_str"), "([0-9]+\\.[0-9]{2})$", 1), lit(""))
          .cast("decimal(12,2)").cast("double"))
      .select("o_orderkey", "date_iso_str", "parsed_iso", "parsed_slash", "prio_num",
        "flag_str", "parsed_bool", "currency_str", "currency_valid", "parsed_amount")
      .contractOrderBy("o_orderkey")
  }

  val parseTypedSql: String =
    """WITH base AS (
      |  SELECT o_orderkey,
      |    strftime(o_orderdate, '%Y-%m-%d') AS date_iso_str,
      |    strftime(o_orderdate, '%m/%d/%Y') AS date_slash_str,
      |    o_orderpriority,
      |    CASE WHEN o_orderkey % 2 = 0 THEN 'yes' ELSE 'no' END AS flag_str,
      |    'USD ' || CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) AS currency_str
      |  FROM orders
      |)
      |SELECT o_orderkey, date_iso_str,
      |  CAST(date_iso_str AS DATE) AS parsed_iso,
      |  CAST(strptime(date_slash_str, '%m/%d/%Y') AS DATE) AS parsed_slash,
      |  CAST(nullif(regexp_extract(o_orderpriority, '(\d+)', 1), '') AS BIGINT) AS prio_num,
      |  flag_str,
      |  flag_str IN ('true','yes','1','agree','agreed') AS parsed_bool,
      |  currency_str,
      |  regexp_matches(currency_str, '^[A-Z]{3} [0-9]+\.[0-9]{2}$') AS currency_valid,
      |  CAST(CAST(nullif(regexp_extract(currency_str, '([0-9]+\.[0-9]{2})$', 1), '') AS DECIMAL(12,2)) AS DOUBLE) AS parsed_amount
      |FROM base
      |ORDER BY o_orderkey""".stripMargin
}

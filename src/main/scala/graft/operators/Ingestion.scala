package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{BoundedInflate, Tables}

/** Corpus-scale ingestion (SURVEY §2B) — the Spark re-expression of the
  * reference's PDF ingestion stage (`ingestion/ingestion.py`).
  *
  * The reference turns ONE pdf into `DocumentBlock{page,text,bbox,confidence,
  * source}` rows with an OCR fallback keyed on text volume
  * (ingestion.py:90 `text_volume < ocr_threshold`). Here the same block
  * model is derived for every document in the corpus as narrow, fully
  * codegen'd column expressions — no UDFs, so 100 TB of documents stream
  * through WholeStageCodegen with nothing but a parquet scan + project.
  */
object Ingestion {

  /** Words per synthetic block (the reference blocks are pymupdf text blocks;
    * we chunk the corpus text deterministically).
    */
  val BlockWords = 20

  /** Blocks per synthetic page (used for page ids + synthetic bboxes). */
  val BlocksPerPage = 5

  /** OCR routing threshold on characters (ingestion.py ocr_threshold). */
  val OcrThreshold = 200

  /** documents → one row per block: (doc_id, block_id, page, block_text,
    * n_words, n_chars, source, confidence).
    * Shared base for layout/clause-graph operators.
    */
  def blocks(spark: SparkSession, dir: String): DataFrame =
    blocksOf(Tables.documents(spark, dir))

  /** [[blocks]] over any (doc_id, text, source) relation — the seam
    * schema-scoped extraction runs planted-clause document variants
    * through.
    */
  private[operators] def blocksOf(docs: DataFrame): DataFrame = {
    docs
      .withColumn("ws", split(col("text"), " "))
      .withColumn("block_id",
        explode(expr(s"sequence(0, cast(ceil(size(ws) / $BlockWords.0) as int) - 1)")))
      .withColumn("block_words", expr(s"slice(ws, block_id * $BlockWords + 1, $BlockWords)"))
      .withColumn("block_text", array_join(col("block_words"), " "))
      .withColumn("block_chars", length(col("block_text")).cast("long"))
      .select(
        col("doc_id"),
        col("block_id").cast("long").as("block_id"),
        floor(col("block_id") / lit(BlocksPerPage.toDouble)).cast("long").as("page"),
        col("block_text"),
        size(col("block_words")).cast("long").as("n_words"),
        col("block_chars").as("n_chars"),
        col("source"),
        when(col("block_chars") < OcrThreshold, lit(0.8)).otherwise(lit(1.0)).as("confidence"))
  }

  /** `ingest_blocks` query: deterministic block rows, totally ordered. */
  def ingestBlocks(spark: SparkSession, dir: String): DataFrame =
    blocks(spark, dir).contractOrderBy("doc_id", "block_id")

  val ingestBlocksSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source, n_chars AS doc_chars, string_split(text, ' ') AS ws FROM documents
       |), b AS (
       |  SELECT doc_id, source, doc_chars, ws,
       |    unnest(generate_series(1, CAST(ceil(len(ws) / $BlockWords.0) AS INT))) AS i
       |  FROM d
       |)
       |SELECT doc_id, CAST(i - 1 AS BIGINT) AS block_id,
       |  CAST(floor((i - 1) / $BlocksPerPage.0) AS BIGINT) AS page,
       |  array_to_string(ws[(i-1)*$BlockWords+1 : i*$BlockWords], ' ') AS block_text,
       |  CAST(len(ws[(i-1)*$BlockWords+1 : i*$BlockWords]) AS BIGINT) AS n_words,
       |  CAST(length(array_to_string(ws[(i-1)*$BlockWords+1 : i*$BlockWords], ' ')) AS BIGINT) AS n_chars,
       |  source,
       |  CAST(CASE WHEN length(array_to_string(ws[(i-1)*$BlockWords+1 : i*$BlockWords], ' ')) < $OcrThreshold
       |       THEN 0.8 ELSE 1.0 END AS DOUBLE) AS confidence
       |FROM b
       |ORDER BY doc_id, block_id""".stripMargin

  /** `ocr_route`: the native-vs-OCR routing decision (ingestion.py:90),
    * aggregated per (source, route) so the operator result stays compact at
    * any corpus size.
    */
  def ocrRoute(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("route", when(col("n_chars") < OcrThreshold, lit("ocr")).otherwise(lit("native")))
      .groupBy(col("source"), col("route"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        round(sum(col("n_chars")).cast("double") / count(lit(1)), 2).as("avg_chars"))
      .contractOrderBy("source", "route")

  val ocrRouteSql: String =
    s"""SELECT source,
       |  CASE WHEN n_chars < $OcrThreshold THEN 'ocr' ELSE 'native' END AS route,
       |  count(*) AS n_docs, min(n_chars) AS min_chars, max(n_chars) AS max_chars,
       |  round(CAST(sum(n_chars) AS DOUBLE) / count(*), 2) AS avg_chars
       |FROM documents
       |GROUP BY source, CASE WHEN n_chars < $OcrThreshold THEN 'ocr' ELSE 'native' END
       |ORDER BY source, route""".stripMargin

  /** `tokenize_words`: document → (word_idx, word) rows
    * (layout_structure.py:85 `text.split()`).
    */
  def tokenizeWords(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("word_idx", "word")))
      .select(col("doc_id"), col("word_idx").cast("long").as("word_idx"),
        col("word"), length(col("word")).cast("long").as("word_len"))
      .contractOrderBy("doc_id", "word_idx")

  val tokenizeWordsSql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
      |SELECT doc_id,
      |  CAST(unnest(generate_series(1, len(ws))) - 1 AS BIGINT) AS word_idx,
      |  unnest(ws) AS word,
      |  CAST(length(unnest(ws)) AS BIGINT) AS word_len
      |FROM d
      |ORDER BY doc_id, word_idx""".stripMargin

  // Synthetic page geometry for bbox derivation (US-letter points).
  val PageW = 612
  val PageH = 792

  /** `bbox_normalize`: synthetic per-block line bbox → LayoutLM 1000×1000
    * normalized ints (layout_structure.py:113 `_normalize_bbox`; the
    * reference truncates via python `int()` → floor here, in both engines).
    */
  def bboxNormalize(spark: SparkSession, dir: String): DataFrame = {
    val b = blocks(spark, dir)
    val x0 = lit(72L)
    val x1 = lit(PageW - 72L)
    val y0 = (lit(72L) + (col("block_id") % BlocksPerPage) * 130L)
    val y1 = y0 + 120L
    def norm(c: Column, dim: Int): Column = floor(c * 1000.0 / dim).cast("long")
    b.select(col("doc_id"), col("block_id"),
        x0.cast("long").as("x0"), y0.cast("long").as("y0"),
        x1.cast("long").as("x1"), y1.cast("long").as("y1"),
        norm(x0, PageW).as("nx0"), norm(y0, PageH).as("ny0"),
        norm(x1, PageW).as("nx1"), norm(y1, PageH).as("ny1"))
      .contractOrderBy("doc_id", "block_id")
  }

  val bboxNormalizeSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |b AS (
       |  SELECT doc_id, CAST(unnest(generate_series(1, CAST(ceil(len(ws) / $BlockWords.0) AS INT))) - 1 AS BIGINT) AS block_id
       |  FROM d
       |), g AS (
       |  SELECT doc_id, block_id,
       |    CAST(72 AS BIGINT) AS x0,
       |    CAST(72 + (block_id % $BlocksPerPage) * 130 AS BIGINT) AS y0,
       |    CAST(${PageW - 72} AS BIGINT) AS x1,
       |    CAST(72 + (block_id % $BlocksPerPage) * 130 + 120 AS BIGINT) AS y1
       |  FROM b
       |)
       |SELECT doc_id, block_id, x0, y0, x1, y1,
       |  CAST(floor(x0 * 1000.0 / $PageW) AS BIGINT) AS nx0,
       |  CAST(floor(y0 * 1000.0 / $PageH) AS BIGINT) AS ny0,
       |  CAST(floor(x1 * 1000.0 / $PageW) AS BIGINT) AS nx1,
       |  CAST(floor(y1 * 1000.0 / $PageH) AS BIGINT) AS ny1
       |FROM g
       |ORDER BY doc_id, block_id""".stripMargin

  // ---- real PDF container parse (ingestion.py's fitz rung) -----------------

  /** One extracted PDF text block: page = content-stream index, (x, y) =
    * the BT..ET text object's first positioning operator — the
    * `DocumentBlock{page, text, bbox}` shape (ingestion.py:30) off a real
    * container.
    */
  final case class PdfBlock(page: Int, text: String, x: Double, y: Double)

  /** REAL PDF text extraction over raw bytes — pure JVM, zero external
    * dependencies, the container-parse rung of the reference's ingestion
    * (ingestion.py parses PDFs via fitz, falling back to OCR at
    * ingestion.py:90 when extracted text volume is low; this decoder
    * proves the same rung on the actual PDF wire format, the
    * [[Multimodal.ImageIoDecoder]] discipline applied to documents):
    *
    *   - a PDF carrying `startxref` takes the STRUCTURED path (r14): the
    *     cross-reference chain resolves (classic `xref` tables AND
    *     binary xref STREAMS with /W columns, /Index sections and PNG
    *     predictors; `/Prev` walks incremental updates, newest
    *     definition wins), objects load lazily by number — including
    *     objects packed inside `/ObjStm` object streams (type-2
    *     entries) — and pages come from the `/Pages` tree walk
    *     (trailer /Root → catalog → /Kids recursion), so `page` is the
    *     TRUE page index and each page's `/Contents` (ref or array of
    *     refs, concatenated) parses under it, regardless of where the
    *     writer put the objects in the file;
    *   - a PDF with no `startxref` (generator-style linear output) falls
    *     back to document-order content-stream scanning, `page` = the
    *     text-bearing stream ordinal;
    *   - `/FlateDecode` streams inflate via `java.util.zip`; raw streams
    *     parse as-is,
    *   - inside each BT..ET text object, show operators `Tj`/`'`/`"` and
    *     `TJ` arrays contribute text (parenthesis escapes `\(`/`\)`/`\\`
    *     and octal `\ddd` unescaped); the object's first `Td`/`TD`/`Tm`
    *     supplies the block origin,
    *   - ANY malformed stream, xref chain or Pages tree contributes zero
    *     blocks (quarantine policy, never a throw and never a hang) — a
    *     scanned/image-only PDF extracts no text and `ocr_route`'s
    *     text-volume threshold then routes it to OCR exactly as the
    *     reference does.
    */
  object PdfTextDecoder {
    private val Latin1 = java.nio.charset.StandardCharsets.ISO_8859_1

    /** A structurally-recognized document the decoder REFUSES with a
      * reason (vs. generic damage): today `/Encrypt` — the strings and
      * streams are cipher text, so "no blocks" is the only honest
      * answer, but the OPERATOR should know it was crypto, not damage
      * (an encrypted crawl segment wants a key/skip decision upstream,
      * not an OCR retry).
      */
    private final case class PdfQuarantine(reason: String)
      extends RuntimeException(reason)

    def blocks(bytes: Array[Byte]): Seq[PdfBlock] =
      decode(bytes).getOrElse(Nil)

    /** Decode with the quarantine REASON surfaced: `Right(blocks)` or
      * `Left(reason)` — `encrypted: …` for /Encrypt documents,
      * `malformed: …` for structural damage. [[blocks]] collapses both
      * to the zero-block OCR route.
      */
    def decode(bytes: Array[Byte]): Either[String, Seq[PdfBlock]] =
      try Right(blocksUnsafe(bytes))
      catch {
        case PdfQuarantine(r) => Left(r)
        case scala.util.control.NonFatal(e) =>
          Left("malformed: " + String.valueOf(e.getMessage))
        // defense in depth for untrusted containers: any residual
        // unbounded recursion must quarantine the document, not kill the
        // executor task (NonFatal deliberately excludes this)
        case _: StackOverflowError => Left("malformed: unbounded recursion")
      }

    private def blocksUnsafe(bytes: Array[Byte]): Seq[PdfBlock] = {
      val s = new String(bytes, Latin1) // 1:1 byte↔char, offsets stay valid
      if (!s.startsWith("%PDF-")) return Nil
      // the structured path is authoritative when the container claims a
      // cross-reference (every conforming writer emits startxref); a
      // broken claim quarantines rather than degrading to a linear scan
      // that could mis-number pages
      if (s.lastIndexOf("startxref") >= 0) return structuredBlocks(s, bytes)
      val out = scala.collection.mutable.ArrayBuffer.empty[PdfBlock]
      var from = 0
      var page = 0
      while (from < s.length) {
        val kw = s.indexOf("stream", from)
        if (kw < 0) return out.toSeq
        // skip the "endstream" keyword's own "stream" suffix
        if (kw >= 3 && s.regionMatches(kw - 3, "end", 0, 3)) { from = kw + 6 }
        else {
          var start = kw + 6
          if (start < s.length && s.charAt(start) == '\r') start += 1
          if (start < s.length && s.charAt(start) == '\n') start += 1
          val end = s.indexOf("endstream", start)
          if (end < 0) return out.toSeq
          // the owning object's dict sits between the previous "obj" and
          // the stream keyword — enough context to read the filter
          val dictFrom = math.max(math.max(s.lastIndexOf("obj", kw) + 3, 0), from)
          val dict = s.substring(dictFrom, kw)
          val raw = bytes.slice(start, end)
          val content: Option[String] =
            if (dict.contains("/FlateDecode")) inflate(raw).map(new String(_, Latin1))
            else Some(new String(raw, Latin1))
          content.foreach { c =>
            val before = out.length
            parseContent(c, page, out)
            if (out.length > before) page += 1 // only text-bearing streams count as pages
          }
          from = end + 9
        }
      }
      out.toSeq
    }

    // Untrusted input: the shared bounded loop quarantines FDICT stalls
    // and deflate bombs; a truncated stream keeps its partial output.
    private def inflate(raw: Array[Byte]): Option[Array[Byte]] =
      BoundedInflate(raw, 0, raw.length, nowrap = false).toOption
        .map(_.out).filter(_.nonEmpty)

    // ---- structured container parse: xref chain + /ObjStm + /Pages tree ----

    private sealed trait PObj
    private final case class PNum(v: Double) extends PObj
    private final case class PName(v: String) extends PObj
    private final case class PStr(v: String) extends PObj
    private final case class PArr(items: Vector[PObj]) extends PObj
    private final case class PDict(m: Map[String, PObj]) extends PObj
    private final case class PRef(num: Int) extends PObj
    // num/gen identify the OWNING indirect object — the per-object
    // decryption key salt (ISO 32000-1 §7.6.2 Algorithm 1); -1 marks a
    // stream with no object identity (never decrypted)
    private final case class PStream(dict: PDict, data: Array[Byte],
        num: Int = -1, gen: Int = 0) extends PObj
    private case object PNull extends PObj

    /** Minimal PDF object lexer/parser over the Latin1 view (1:1
      * byte↔char, so string offsets index `bytes` directly).
      */
    private final class Lex(val s: String, var p: Int) {
      private def isWs(c: Char) =
        c == ' ' || c == '\r' || c == '\n' || c == '\t' || c == '\f' || c == 0
      private def isDelim(c: Char) =
        isWs(c) || c == '(' || c == ')' || c == '<' || c == '>' ||
          c == '[' || c == ']' || c == '{' || c == '}' || c == '/' || c == '%'
      def ws(): Unit = {
        var go = true
        while (go && p < s.length) {
          val c = s.charAt(p)
          if (isWs(c)) p += 1
          else if (c == '%') {
            while (p < s.length && s.charAt(p) != '\n' && s.charAt(p) != '\r') p += 1
          } else go = false
        }
      }
      def keyword(k: String): Boolean = {
        ws()
        if (s.regionMatches(p, k, 0, k.length) &&
            (p + k.length >= s.length || isDelim(s.charAt(p + k.length)) ||
              !k.last.isLetterOrDigit)) { p += k.length; true }
        else false
      }
      def int(): Int = {
        ws()
        val st = p
        if (p < s.length && (s.charAt(p) == '+' || s.charAt(p) == '-')) p += 1
        while (p < s.length && s.charAt(p).isDigit) p += 1
        require(p > st, s"expected integer at $st")
        s.substring(st, p).toInt
      }
      def obj(): PObj = {
        ws()
        require(p < s.length, "unexpected end of PDF object data")
        val c = s.charAt(p)
        if (s.regionMatches(p, "<<", 0, 2)) dict()
        else if (c == '<') hexStr()
        else if (c == '/') PName(name())
        else if (c == '(') litStr()
        else if (c == '[') arr()
        else if (c.isDigit || c == '+' || c == '-' || c == '.') numOrRef()
        else if (keyword("true")) PName("true")
        else if (keyword("false")) PName("false")
        else if (keyword("null")) PNull
        else throw new IllegalStateException(s"unparseable PDF object at $p: '$c'")
      }
      private def name(): String = {
        p += 1 // '/'
        val st = p
        while (p < s.length && !isDelim(s.charAt(p))) p += 1
        s.substring(st, p)
      }
      private def dict(): PObj = {
        p += 2
        val m = Map.newBuilder[String, PObj]
        ws()
        while (!s.regionMatches(p, ">>", 0, 2)) {
          require(p < s.length && s.charAt(p) == '/', s"dict key expected at $p")
          val k = name()
          m += k -> obj()
          ws()
        }
        p += 2
        PDict(m.result())
      }
      private def arr(): PObj = {
        p += 1
        val b = Vector.newBuilder[PObj]
        ws()
        while (p < s.length && s.charAt(p) != ']') { b += obj(); ws() }
        require(p < s.length, "unterminated PDF array")
        p += 1
        PArr(b.result())
      }
      private def hexStr(): PObj = {
        p += 1
        val st = p
        while (p < s.length && s.charAt(p) != '>') p += 1
        val hex = s.substring(st, p).filterNot(isWs)
        p += 1
        val padded = if (hex.length % 2 == 0) hex else hex + "0"
        // RAW bytes by design: object-level strings are consumed as CRYPTO
        // material (/O, /U, /ID — §7.6 needs them verbatim) and never as
        // text; §7.9.2.2 BOM decoding happens at the show-string layer
        // (parseContent), the only place string bytes become TEXT
        PStr(padded.grouped(2).map(h => Integer.parseInt(h, 16).toChar).mkString)
      }
      private def litStr(): PObj = {
        p += 1
        val st = p
        var depth = 1
        while (p < s.length && depth > 0) {
          s.charAt(p) match {
            case '\\' => p += 1
            case '(' => depth += 1
            case ')' => depth -= 1
            case _ =>
          }
          p += 1
        }
        PStr(unescape(s.substring(st, p - 1)))
      }
      private def numOrRef(): PObj = {
        val st = p
        if (s.charAt(p) == '+' || s.charAt(p) == '-') p += 1
        while (p < s.length && (s.charAt(p).isDigit || s.charAt(p) == '.')) p += 1
        val tok = s.substring(st, p)
        val v = tok.toDouble
        // "n g R" lookahead: an integer followed by an integer and R is a ref
        if (!tok.contains('.') && v >= 0) {
          val save = p
          try {
            int()
            ws()
            if (p < s.length && s.charAt(p) == 'R' &&
                (p + 1 >= s.length || isDelim(s.charAt(p + 1)))) {
              p += 1
              return PRef(v.toInt)
            }
          } catch { case _: Exception => }
          p = save
        }
        PNum(v)
      }
    }

    /** Object location: a byte offset, or (object-stream number, index). */
    private sealed trait Loc
    private final case class AtOffset(off: Int) extends Loc
    private final case class InStm(stm: Int, idx: Int) extends Loc

    /** A font's show-string → text decoder: the /ToUnicode CMap when the
      * font carries a usable one, else a 256-entry simple-encoding table
      * (/WinAnsiEncoding, /MacRomanEncoding, /Differences — Annex D),
      * else nothing and the caller keeps the byte path.
      */
    private sealed trait ShowDecoder { def decode(raw: String): String }

    /** §9.10.3 /ToUnicode CMap: maps show-string char CODES to Unicode
      * text — how most real-world non-Latin PDF text is encoded (a
      * subset font's codes are font-internal glyph ids; the embedded
      * CMap is the only bridge back to text). `widths` are the declared
      * codespace ranges (nbytes, lo, hi) fixing how many bytes one code
      * takes (Identity-H subset fonts: 2); `single` holds bfchar
      * mappings, `ranges` bfrange entries whose destination is either a
      * start string (last UTF-16 unit incremented per §9.10.3) or an
      * explicit per-code array. A code with no mapping emits U+FFFD —
      * deterministic, and honest about the lost glyph.
      */
    private final class ToUnicodeCMap(
        widths: Vector[(Int, Long, Long)],
        single: Map[Long, String],
        ranges: Vector[(Long, Long, Either[String, Vector[String]])])
      extends ShowDecoder {

      def decode(raw: String): String = {
        val sb = new StringBuilder
        var i = 0
        while (i < raw.length) {
          var code = -1L
          var w = 0
          // first declared codespace whose range admits the next bytes
          val it = widths.iterator
          while (code < 0 && it.hasNext) {
            val (nb, lo, hi) = it.next()
            if (i + nb <= raw.length) {
              var c = 0L
              for (k <- 0 until nb) c = (c << 8) | (raw.charAt(i + k) & 0xff)
              if (c >= lo && c <= hi) { code = c; w = nb }
            }
          }
          if (code < 0) { // outside every codespace: consume default width
            val nb = math.min(widths.head._1, raw.length - i)
            var c = 0L
            for (k <- 0 until nb) c = (c << 8) | (raw.charAt(i + k) & 0xff)
            code = c; w = math.max(nb, 1)
          }
          sb.append(lookup(code))
          i += w
        }
        sb.toString
      }

      private def lookup(code: Long): String =
        single.get(code).orElse {
          ranges.collectFirst {
            case (lo, hi, dst) if code >= lo && code <= hi => dst match {
              case Left(start) if start.nonEmpty =>
                start.init + (start.last + (code - lo)).toChar
              case Right(arr) if code - lo < arr.length => arr((code - lo).toInt)
              case _ => "�"
            }
          }
        }.getOrElse("�")
    }

    private object ToUnicodeCMap {
      private val SpaceRe = """(?s)begincodespacerange(.*?)endcodespacerange""".r
      private val BfCharRe = """(?s)beginbfchar(.*?)endbfchar""".r
      private val BfRangeRe = """(?s)beginbfrange(.*?)endbfrange""".r
      private val HexRe = """<([0-9A-Fa-f]+)>""".r
      private val RangeEntryRe =
        """(?s)<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*(?:<([0-9A-Fa-f]*)>|\[(.*?)\])""".r

      private def codeOf(hex: String): Long =
        java.lang.Long.parseLong(hex.takeRight(8), 16)

      /** Destination hex → UTF-16 string (4 hex digits per code unit;
        * a stray short prefix left-pads).
        */
      private def dstOf(hex: String): String = {
        val padded = "0" * ((4 - hex.length % 4) % 4) + hex
        padded.grouped(4).map(h => Integer.parseInt(h, 16).toChar).mkString
      }

      /** Parse an embedded CMap stream's text; None when it carries no
        * usable mappings (the caller then keeps the byte path — a font
        * without a working CMap must not change behavior).
        */
      def parse(text: String): Option[ToUnicodeCMap] = try {
        val declared = SpaceRe.findAllMatchIn(text).flatMap { m =>
          HexRe.findAllMatchIn(m.group(1)).map(_.group(1)).grouped(2).collect {
            case Seq(lo, hi) =>
              (math.min(math.max(lo.length / 2, 1), 4), codeOf(lo), codeOf(hi))
          }
        }.toVector
        val single = BfCharRe.findAllMatchIn(text).flatMap { m =>
          HexRe.findAllMatchIn(m.group(1)).map(_.group(1)).grouped(2).collect {
            case Seq(src, dst) => codeOf(src) -> dstOf(dst)
          }
        }.toMap
        val srcWidths = scala.collection.mutable.ArrayBuffer.empty[Int]
        BfCharRe.findAllMatchIn(text).foreach { m =>
          HexRe.findAllMatchIn(m.group(1)).map(_.group(1)).grouped(2).foreach {
            case Seq(src, _) => srcWidths += math.max(src.length / 2, 1)
            case _ =>
          }
        }
        val ranges = BfRangeRe.findAllMatchIn(text).flatMap { m =>
          RangeEntryRe.findAllMatchIn(m.group(1)).map { e =>
            srcWidths += math.max(e.group(1).length / 2, 1)
            val dst =
              if (e.group(3) != null) Left(dstOf(e.group(3)))
              else Right(HexRe.findAllMatchIn(e.group(4)).map(x => dstOf(x.group(1))).toVector)
            (codeOf(e.group(1)), codeOf(e.group(2)), dst)
          }
        }.toVector
        if (single.isEmpty && ranges.isEmpty) None
        else {
          // no codespacerange declared: infer one from the source widths
          val widths =
            if (declared.nonEmpty) declared
            else {
              val w = if (srcWidths.isEmpty) 2 else srcWidths.max
              Vector((w, 0L, (1L << (8 * w)) - 1))
            }
          Some(new ToUnicodeCMap(widths, single, ranges))
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    }

    /** One-byte simple-font decode through a 256-entry table — the
      * Annex D encodings for fonts WITHOUT /ToUnicode.
      */
    private final class TableShowDecoder(table: Array[String]) extends ShowDecoder {
      def decode(raw: String): String = {
        val sb = new StringBuilder(raw.length)
        var i = 0
        while (i < raw.length) { sb.append(table(raw.charAt(i) & 0xff)); i += 1 }
        sb.toString
      }
    }

    /** ISO 32000-1 Annex D simple-font encodings: /WinAnsiEncoding and
      * /MacRomanEncoding base tables plus /Differences overrides — the
      * text bridge for the large class of real PDFs whose fonts declare
      * an /Encoding but embed no /ToUnicode CMap. WinAnsi IS windows-1252
      * (Annex D.2 note 3) and MacRoman is the Mac OS Roman set, so the
      * tables build from the JDK charsets byte-for-byte; codes either
      * charset leaves unmapped keep byte identity (the pre-encoding
      * behavior — degrade, never invent). /Differences names resolve
      * through the Adobe Glyph List conventions: `uniXXXX`/`uXXXX[XX]`
      * algorithmically, the common AGL names (Latin, accents,
      * punctuation, the quote family) by table; an unknown glyph name
      * leaves that code on byte identity. A garbage /Encoding value
      * yields NO decoder — the byte path stays, unchanged.
      */
    private object SimpleEncoding {
      private def charsetTable(name: String): Array[String] = {
        val t = new Array[String](256)
        val cs =
          try Some(java.nio.charset.Charset.forName(name))
          catch { case scala.util.control.NonFatal(_) => None }
        var i = 0
        while (i < 256) {
          val decoded = cs.map { c =>
            val d = c.newDecoder()
              .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
              .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
            try d.decode(java.nio.ByteBuffer.wrap(Array(i.toByte))).toString
            catch { case scala.util.control.NonFatal(_) => i.toChar.toString }
          }
          t(i) = decoded.getOrElse(i.toChar.toString)
          i += 1
        }
        t
      }
      private lazy val WinAnsi: Array[String] = charsetTable("windows-1252")
      private lazy val MacRoman: Array[String] = charsetTable("x-MacRoman")

      /** The AGL names a crawl's /Differences arrays actually use —
        * ASCII punctuation, Latin-1 letters/signs under their Adobe
        * names, the typographic quote/dash family, Euro.
        */
      private val GlyphNames: Map[String, String] = {
        val ascii = Map(
          "space" -> " ", "exclam" -> "!", "quotedbl" -> "\"",
          "numbersign" -> "#", "dollar" -> "$", "percent" -> "%",
          "ampersand" -> "&", "quotesingle" -> "'", "parenleft" -> "(",
          "parenright" -> ")", "asterisk" -> "*", "plus" -> "+",
          "comma" -> ",", "hyphen" -> "-", "period" -> ".", "slash" -> "/",
          "zero" -> "0", "one" -> "1", "two" -> "2", "three" -> "3",
          "four" -> "4", "five" -> "5", "six" -> "6", "seven" -> "7",
          "eight" -> "8", "nine" -> "9", "colon" -> ":", "semicolon" -> ";",
          "less" -> "<", "equal" -> "=", "greater" -> ">", "question" -> "?",
          "at" -> "@", "bracketleft" -> "[", "backslash" -> "\\",
          "bracketright" -> "]", "asciicircum" -> "^", "underscore" -> "_",
          "grave" -> "`", "braceleft" -> "{", "bar" -> "|",
          "braceright" -> "}", "asciitilde" -> "~")
        val letters = (('a' to 'z') ++ ('A' to 'Z'))
          .map(c => c.toString -> c.toString).toMap
        val latin1 = Map(
          "exclamdown" -> "¡", "cent" -> "¢", "sterling" -> "£",
          "currency" -> "¤", "yen" -> "¥", "brokenbar" -> "¦",
          "section" -> "§", "dieresis" -> "¨", "copyright" -> "©",
          "ordfeminine" -> "ª", "guillemotleft" -> "«", "logicalnot" -> "¬",
          "registered" -> "®", "macron" -> "¯", "degree" -> "°",
          "plusminus" -> "±", "twosuperior" -> "²", "threesuperior" -> "³",
          "acute" -> "´", "mu" -> "µ", "paragraph" -> "¶",
          "periodcentered" -> "·", "cedilla" -> "¸", "onesuperior" -> "¹",
          "ordmasculine" -> "º", "guillemotright" -> "»",
          "onequarter" -> "¼", "onehalf" -> "½", "threequarters" -> "¾",
          "questiondown" -> "¿", "multiply" -> "×", "divide" -> "÷",
          "Agrave" -> "À", "Aacute" -> "Á", "Acircumflex" -> "Â",
          "Atilde" -> "Ã", "Adieresis" -> "Ä", "Aring" -> "Å", "AE" -> "Æ",
          "Ccedilla" -> "Ç", "Egrave" -> "È", "Eacute" -> "É",
          "Ecircumflex" -> "Ê", "Edieresis" -> "Ë", "Igrave" -> "Ì",
          "Iacute" -> "Í", "Icircumflex" -> "Î", "Idieresis" -> "Ï",
          "Eth" -> "Ð", "Ntilde" -> "Ñ", "Ograve" -> "Ò", "Oacute" -> "Ó",
          "Ocircumflex" -> "Ô", "Otilde" -> "Õ", "Odieresis" -> "Ö",
          "Oslash" -> "Ø", "Ugrave" -> "Ù", "Uacute" -> "Ú",
          "Ucircumflex" -> "Û", "Udieresis" -> "Ü", "Yacute" -> "Ý",
          "Thorn" -> "Þ", "germandbls" -> "ß",
          "agrave" -> "à", "aacute" -> "á", "acircumflex" -> "â",
          "atilde" -> "ã", "adieresis" -> "ä", "aring" -> "å", "ae" -> "æ",
          "ccedilla" -> "ç", "egrave" -> "è", "eacute" -> "é",
          "ecircumflex" -> "ê", "edieresis" -> "ë", "igrave" -> "ì",
          "iacute" -> "í", "icircumflex" -> "î", "idieresis" -> "ï",
          "eth" -> "ð", "ntilde" -> "ñ", "ograve" -> "ò", "oacute" -> "ó",
          "ocircumflex" -> "ô", "otilde" -> "õ", "odieresis" -> "ö",
          "oslash" -> "ø", "ugrave" -> "ù", "uacute" -> "ú",
          "ucircumflex" -> "û", "udieresis" -> "ü", "yacute" -> "ý",
          "thorn" -> "þ", "ydieresis" -> "ÿ")
        val typo = Map(
          "quoteleft" -> "‘", "quoteright" -> "’", "quotedblleft" -> "“",
          "quotedblright" -> "”", "quotesinglbase" -> "‚",
          "quotedblbase" -> "„", "endash" -> "–", "emdash" -> "—",
          "ellipsis" -> "…", "dagger" -> "†", "daggerdbl" -> "‡",
          "bullet" -> "•", "perthousand" -> "‰", "guilsinglleft" -> "‹",
          "guilsinglright" -> "›", "fraction" -> "⁄", "Euro" -> "€",
          "florin" -> "ƒ", "trademark" -> "™", "minus" -> "−",
          "OE" -> "Œ", "oe" -> "œ", "Scaron" -> "Š", "scaron" -> "š",
          "Ydieresis" -> "Ÿ", "Zcaron" -> "Ž", "zcaron" -> "ž",
          "circumflex" -> "ˆ", "tilde" -> "˜", "dotlessi" -> "ı",
          "lslash" -> "ł", "Lslash" -> "Ł")
        ascii ++ letters ++ latin1 ++ typo
      }

      /** AGL resolution: `uniXXXX` (exactly 4 hex) and `uXXXX[XX]`
        * (4–6 hex) algorithmically, then the name table; None leaves
        * the code on byte identity.
        */
      def glyphToText(name: String): Option[String] = {
        def hexCp(h: String): Option[String] =
          try {
            val cp = Integer.parseInt(h, 16)
            if (cp >= 0 && cp <= 0x10ffff && !(cp >= 0xd800 && cp <= 0xdfff))
              Some(new String(Character.toChars(cp)))
            else None
          } catch { case _: NumberFormatException => None }
        if (name.length == 7 && name.startsWith("uni")) hexCp(name.substring(3))
        else if (name.length >= 5 && name.length <= 7 && name.startsWith("u"))
          hexCp(name.substring(1))
        else GlyphNames.get(name)
      }

      /** The font's resolved /Encoding value → a table decoder, or None
        * for anything that cannot honestly improve on the byte path.
        * A bare name must be a KNOWN base; a dict applies /Differences
        * over its /BaseEncoding (byte identity when the base is absent
        * or unknown — /Differences carries meaning on its own).
        */
      def build(enc: PObj, resolve: PObj => PObj): Option[ShowDecoder] = {
        def base(name: String): Option[Array[String]] = name match {
          case "WinAnsiEncoding" => Some(WinAnsi)
          case "MacRomanEncoding" => Some(MacRoman)
          case _ => None
        }
        resolve(enc) match {
          case PName(n) => base(n).map(t => new TableShowDecoder(t))
          case d: PDict =>
            val baseT = d.m.get("BaseEncoding").map(resolve) match {
              case Some(PName(n)) => base(n)
              case _ => None
            }
            val diffs = d.m.get("Differences").map(resolve) match {
              case Some(PArr(items)) => Some(items)
              case _ => None
            }
            if (baseT.isEmpty && diffs.isEmpty) None
            else {
              val table = baseT
                .map(t => java.util.Arrays.copyOf(t, 256))
                .getOrElse(Array.tabulate(256)(i => i.toChar.toString))
              diffs.foreach { items =>
                var code = -1
                items.foreach {
                  case PNum(v) if v >= 0 && v <= 255 => code = v.toInt
                  case PName(g) if code >= 0 && code <= 255 =>
                    glyphToText(g).foreach(table(code) = _)
                    code += 1
                  case _ => // out-of-range code or stray token: skip
                }
              }
              Some(new TableShowDecoder(table))
            }
          case _ => None
        }
      }
    }

    /** Standard security handler decryption for the EMPTY-user-password
      * case — the dominant class of encrypted crawl PDFs (ISO 32000-1
      * §7.6.3: RC4-40/128 at /V 1-2 and /V 4 crypt filters /V2 | /AESV2;
      * pure public arithmetic, no secret involved — "encryption" with an
      * empty user password is an access-control formality the reader
      * undoes deterministically). Built AFTER the xref chain loads, so
      * xref/XRefStm streams — which §7.5.8.2 exempts from encryption —
      * decode untouched by construction. Only STREAMS are decrypted:
      * object-level strings are never consumed as text by this extractor
      * (show strings live inside content streams and come decrypted with
      * them; ObjStm-packed objects decrypt at the container grain, and
      * §7.6.2 exempts their inner strings from separate encryption).
      * AES-256 (/V 5 /R 5-6, ISO 32000-2 §7.6.4) verifies the empty user
      * password against /U's validation salt (R 6 through the Algorithm
      * 2.B iterated hash) and unwraps the 256-bit file key from /UE; V5
      * objects use the file key DIRECTLY (no per-object MD5 salt). A
      * /StmF Identity crypt filter still verifies /U with the real
      * /Length-derived key, then passes stream bytes through untouched.
      * A genuinely passworded document (/U verification fails against the
      * empty password) still REFUSES with the tagged reason, as do
      * unsupported handlers (custom filters, public-key).
      */
    private final class PdfCrypt(fileKey: Array[Byte], aes: Boolean,
        passThrough: Boolean, directKey: Boolean) {
      def decryptStream(num: Int, gen: Int, data: Array[Byte]): Array[Byte] =
        if (passThrough) data
        else {
          val key =
            if (directKey) fileKey
            else PdfCrypt.objectKey(fileKey, num, gen, aes)
          if (aes) PdfCrypt.aesCbcDecrypt(key, data) else PdfCrypt.rc4(key, data)
        }
    }

    private object PdfCrypt {
      /** §7.6.3.3 password pad — public constant bytes. */
      private val Pad: Array[Byte] = Array(
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
        0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
        0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A).map(_.toByte)

      private def md5(parts: Array[Byte]*): Array[Byte] = {
        val d = java.security.MessageDigest.getInstance("MD5")
        parts.foreach(d.update)
        d.digest()
      }

      private def strBytes(o: PObj, what: String): Array[Byte] = o match {
        case PStr(v) => v.toCharArray.map(c => (c & 0xff).toByte)
        case _ => throw PdfQuarantine(s"encrypted: /Encrypt $what is not a string")
      }

      /** Build the handler from the resolved /Encrypt dict + file /ID,
        * verifying the EMPTY user password; throws [[PdfQuarantine]] with
        * an `encrypted:` reason for anything this path cannot honestly
        * read (wrong password, unsupported scheme).
        */
      def build(enc: Map[String, PObj], resolve: PObj => PObj,
          id0: Array[Byte]): PdfCrypt = {
        resolve(enc.getOrElse("Filter", PNull)) match {
          case PName("Standard") =>
          case o => throw PdfQuarantine(
            s"encrypted: non-standard security handler ($o)")
        }
        def num(k: String, dflt: Int): Int = resolve(enc.getOrElse(k, PNull)) match {
          case PNum(v) => v.toInt
          case _ => dflt
        }
        val v = num("V", 0)
        val r = num("R", 0)
        val o32 = strBytes(resolve(enc.getOrElse("O", PNull)), "/O")
        val u32 = strBytes(resolve(enc.getOrElse("U", PNull)), "/U")
        if (o32.length < 32 || u32.length < 32)
          throw PdfQuarantine("encrypted: /O or /U shorter than 32 bytes")
        val p = num("P", 0)
        val encryptMetadata = resolve(enc.getOrElse("EncryptMetadata", PName("true"))) match {
          case PName("false") => false
          case _ => true
        }
        def stmFName: String =
          resolve(enc.getOrElse("StmF", PName("Identity"))) match {
            case PName(n) => n
            case _ => "Identity"
          }
        if (v == 5 && (r == 5 || r == 6)) {
          // /V 5 crypt-filter indirection mirrors the /V 4 path: a named
          // StmF must resolve through /CF to /CFM AESV3 (the only method
          // ISO 32000-2 defines for V5) — anything else (V2, custom) must
          // refuse with a tagged reason, never silently decrypt as AES-256
          if (stmFName != "Identity") {
            val cfm = resolve(enc.getOrElse("CF", PNull)) match {
              case PDict(cf) => resolve(cf.getOrElse(stmFName, PNull)) match {
                case PDict(f) => resolve(f.getOrElse("CFM", PNull)) match {
                  case PName(nm) => nm
                  case _ => "?"
                }
                case _ => "?"
              }
              case _ => "?"
            }
            if (cfm != "AESV3") throw PdfQuarantine(
              s"encrypted: unsupported crypt filter method /$cfm for /V 5")
          }
          return buildV5(enc, resolve, r, u32,
            strBytes(resolve(enc.getOrElse("UE", PNull)), "/UE"),
            stmFName == "Identity")
        }
        val (keyBits, aes, passThrough) = v match {
          case 1 => (40, false, false)
          case 2 if r == 2 || r == 3 => (num("Length", 40), false, false)
          case 4 if r == 4 =>
            // crypt-filter indirection: the stream filter names a /CF entry
            val stmF = stmFName
            if (stmF == "Identity")
              // streams pass through UNDECRYPTED — but /U verification
              // below still runs against the real /Length-derived file
              // key (a 0-length key would derive garbage and mis-refuse
              // a perfectly readable document as "password required")
              (num("Length", 40), false, true)
            else {
              val cfm = resolve(enc.getOrElse("CF", PNull)) match {
                case PDict(cf) => resolve(cf.getOrElse(stmF, PNull)) match {
                  case PDict(f) => resolve(f.getOrElse("CFM", PNull)) match {
                    case PName(n) => n
                    case _ => "?"
                  }
                  case _ => "?"
                }
                case _ => "?"
              }
              cfm match {
                case "V2" => (num("Length", 128), false, false)
                case "AESV2" => (128, true, false)
                case other => throw PdfQuarantine(
                  s"encrypted: unsupported crypt filter method /$other")
              }
            }
          case _ => throw PdfQuarantine(
            s"encrypted: unsupported standard handler /V $v /R $r " +
              "(empty-password RC4/AES only)")
        }
        require(keyBits % 8 == 0 && keyBits >= 40 && keyBits <= 128,
          s"bad key length $keyBits")
        val keyLen = keyBits / 8
        // Algorithm 2 with the empty user password = the bare pad
        val pLe = Array[Byte](
          (p & 0xff).toByte, ((p >> 8) & 0xff).toByte,
          ((p >> 16) & 0xff).toByte, ((p >> 24) & 0xff).toByte)
        val extra =
          if (r >= 4 && !encryptMetadata)
            Array[Byte](0xff.toByte, 0xff.toByte, 0xff.toByte, 0xff.toByte)
          else Array.emptyByteArray
        var h = md5(Pad, o32.take(32), pLe, id0, extra)
        if (r >= 3) for (_ <- 0 until 50) h = md5(h.take(keyLen))
        val key = h.take(keyLen)
        // Algorithm 6: verify the empty USER password against /U
        val uOk = r match {
          case 2 => java.util.Arrays.equals(rc4(key, Pad), u32.take(32))
          case _ =>
            var x = rc4(key, md5(Pad, id0))
            for (i <- 1 to 19)
              x = rc4(key.map(b => (b ^ i).toByte), x)
            java.util.Arrays.equals(x.take(16), u32.take(16))
        }
        if (!uOk) throw PdfQuarantine(
          "encrypted: password required (empty user password fails /U verification)")
        new PdfCrypt(key, aes, passThrough, directKey = false)
      }

      /** AES-256 handler build (ISO 32000-2 §7.6.4, /V 5 /R 5-6) for the
        * empty user password. /U is 48 bytes: SHA hash(32) ‖ validation
        * salt(8) ‖ key salt(8); /UE wraps the 256-bit file key under
        * AES-256-CBC with a zero IV. R 5 hashes with one SHA-256; R 6
        * runs Algorithm 2.B's data-dependent SHA-256/384/512 + AES-CBC
        * iteration. All public arithmetic — the "password" is empty.
        */
      private def buildV5(enc: Map[String, PObj], resolve: PObj => PObj,
          r: Int, u: Array[Byte], ue: Array[Byte],
          stmIdentity: Boolean): PdfCrypt = {
        if (u.length < 48) throw PdfQuarantine(
          "encrypted: /U shorter than 48 bytes for /V 5")
        if (ue.length < 32) throw PdfQuarantine(
          "encrypted: /UE shorter than 32 bytes for /V 5")
        val validationSalt = java.util.Arrays.copyOfRange(u, 32, 40)
        val keySalt = java.util.Arrays.copyOfRange(u, 40, 48)
        // Algorithm 11: hash the (empty) user password with the
        // validation salt and compare to /U's leading 32 bytes
        val uHash =
          if (r == 6) hash2B(validationSalt) else sha(256, validationSalt)
        if (!java.util.Arrays.equals(uHash, java.util.Arrays.copyOf(u, 32)))
          throw PdfQuarantine(
            "encrypted: password required (empty user password fails /U verification)")
        // Algorithm 8 step b: intermediate key from the key salt unwraps
        // /UE (AES-256-CBC, zero IV, no padding) into the file key
        val ikey = if (r == 6) hash2B(keySalt) else sha(256, keySalt)
        val cipher = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
        cipher.init(javax.crypto.Cipher.DECRYPT_MODE,
          new javax.crypto.spec.SecretKeySpec(ikey, "AES"),
          new javax.crypto.spec.IvParameterSpec(new Array[Byte](16)))
        val fileKey = cipher.doFinal(ue, 0, 32)
        new PdfCrypt(fileKey, aes = true, passThrough = stmIdentity,
          directKey = true)
      }

      private def sha(bits: Int, parts: Array[Byte]*): Array[Byte] = {
        val d = java.security.MessageDigest.getInstance(s"SHA-$bits")
        parts.foreach(d.update)
        d.digest()
      }

      /** ISO 32000-2 Algorithm 2.B with the EMPTY password and no /O
        * user-key suffix: K ← SHA-256(salt); then rounds of K1 = 64 ×
        * (password ‖ K ‖ udata) = 64 × K here, E = AES-128-CBC-encrypt
        * (key K[0,16), IV K[16,32)) of K1, next digest picked by
        * (Σ E[0,16)) mod 3 ∈ {SHA-256, SHA-384, SHA-512}; stop after
        * round ≥ 64 when E's last byte ≤ round − 32. Returns K[0,32).
        */
      private def hash2B(salt: Array[Byte]): Array[Byte] = {
        var k = sha(256, salt)
        var round = 0
        var done = false
        var lastE: Array[Byte] = null
        while (!done) {
          val k1 = new Array[Byte](k.length * 64)
          var i = 0
          while (i < 64) { System.arraycopy(k, 0, k1, i * k.length, k.length); i += 1 }
          val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
          c.init(javax.crypto.Cipher.ENCRYPT_MODE,
            new javax.crypto.spec.SecretKeySpec(java.util.Arrays.copyOf(k, 16), "AES"),
            new javax.crypto.spec.IvParameterSpec(
              java.util.Arrays.copyOfRange(k, 16, 32)))
          lastE = c.doFinal(k1)
          var sum = 0
          i = 0
          while (i < 16) { sum += lastE(i) & 0xff; i += 1 }
          k = sha(256 + 128 * (sum % 3), lastE)
          round += 1
          done = round >= 64 && (lastE(lastE.length - 1) & 0xff) <= round - 32
        }
        java.util.Arrays.copyOf(k, 32)
      }

      /** §7.6.2 Algorithm 1: per-object key = MD5(file key ‖ objnum LE24
        * ‖ gen LE16 [‖ sAlT for AES]), truncated to min(len+5, 16).
        */
      private def objectKey(fileKey: Array[Byte], num: Int, gen: Int,
          aes: Boolean): Array[Byte] = {
        val salt = Array[Byte](
          (num & 0xff).toByte, ((num >> 8) & 0xff).toByte,
          ((num >> 16) & 0xff).toByte,
          (gen & 0xff).toByte, ((gen >> 8) & 0xff).toByte)
        val aesSalt =
          if (aes) Array[Byte](0x73, 0x41, 0x6c, 0x54) // "sAlT"
          else Array.emptyByteArray
        md5(fileKey, salt, aesSalt).take(math.min(fileKey.length + 5, 16))
      }

      /** Plain RC4 (KSA + PRGA) — §7.6.2's symmetric cipher, public. */
      private def rc4(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
        val s = Array.tabulate(256)(_.toByte)
        var j = 0
        for (i <- 0 until 256) {
          j = (j + s(i) + key(i % key.length)) & 0xff
          val t = s(i); s(i) = s(j); s(j) = t
        }
        val out = new Array[Byte](data.length)
        var a = 0
        var b = 0
        for (i <- data.indices) {
          a = (a + 1) & 0xff
          b = (b + s(a)) & 0xff
          val t = s(a); s(a) = s(b); s(b) = t
          out(i) = (data(i) ^ s((s(a) + s(b)) & 0xff)).toByte
        }
        out
      }

      /** AESV2 stream layout (§7.6.2): 16-byte IV prefix, CBC body,
        * PKCS#7 padding. Malformed geometry/padding throws (→ the
        * document quarantines as malformed, never emits garbage).
        */
      private def aesCbcDecrypt(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
        require(data.length >= 32 && (data.length - 16) % 16 == 0,
          s"malformed AES stream length ${data.length}")
        val cipher = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
        cipher.init(javax.crypto.Cipher.DECRYPT_MODE,
          new javax.crypto.spec.SecretKeySpec(key, "AES"),
          new javax.crypto.spec.IvParameterSpec(data.take(16)))
        val plain = cipher.doFinal(data, 16, data.length - 16)
        val padLen = plain.last & 0xff
        require(padLen >= 1 && padLen <= 16 && padLen <= plain.length,
          s"malformed AES padding $padLen")
        java.util.Arrays.copyOf(plain, plain.length - padLen)
      }
    }

    /** Lazily-resolved PDF document: xref chain loaded up front (newest
      * section wins per object), objects parsed on demand — including
      * type-2 entries packed in /ObjStm streams.
      */
    private final class PdfDoc(s: String, bytes: Array[Byte]) {
      private val xref = scala.collection.mutable.Map.empty[Int, Loc]
      private var trailer = Map.empty[String, PObj]
      private val cache = scala.collection.mutable.Map.empty[Int, PObj]
      private val inFlight = scala.collection.mutable.Set.empty[Int]
      // chain-walk state shared with the /XRefStm hop inside loadSection,
      // so EVERY section load — /Prev successor or hybrid-file XRefStm —
      // passes the same seen-offset and section-count guards (a
      // self-referencing XRefStm would otherwise recurse unboundedly:
      // StackOverflowError, which NonFatal does not catch). Initialized
      // BEFORE the constructor-time loadChain() call below.
      private val seenXref = scala.collection.mutable.Set.empty[Int]
      private var xrefSections = 0

      loadChain()

      /** Decryption handler, built AFTER the chain loads so xref/XRefStm
        * streams (exempt from encryption, §7.5.8.2) decoded during
        * loadChain are untouched; empty-password verification / scheme
        * support failures throw the tagged `encrypted:` quarantine here,
        * at construction.
        */
      private val crypt: Option[PdfCrypt] = trailer.get("Encrypt").map { e =>
        val encDict = resolve(e) match {
          case PDict(m) => m
          case _ => throw PdfQuarantine("encrypted: /Encrypt is not a dictionary")
        }
        // first element of the file /ID pair feeds key derivation; a
        // missing ID contributes nothing (the same bytes a writer that
        // omitted it hashed)
        val id0 = resolve(trailer.getOrElse("ID", PNull)) match {
          case PArr(items) if items.nonEmpty => resolve(items.head) match {
            case PStr(v) => v.toCharArray.map(c => (c & 0xff).toByte)
            case _ => Array.emptyByteArray
          }
          case _ => Array.emptyByteArray
        }
        PdfCrypt.build(encDict, resolve, id0)
      }

      private def mergeTrailer(d: Map[String, PObj]): Unit =
        // newest-first walk: a key already merged came from a NEWER
        // section and wins (except Prev, which is per-section chain state)
        trailer = d.filterNot { case (k, _) => k == "Prev" } ++ trailer

      private def loadChain(): Unit = {
        val sx = s.lastIndexOf("startxref")
        require(sx >= 0, "no startxref")
        var next: Option[Int] = Some(new Lex(s, sx + 9).int())
        while (next.isDefined) {
          next = loadGuarded(next.get)
        }
      }

      /** One guarded section load: offset sanity + never-revisit + chain
        * length cap, then [[loadSection]]. The cap also bounds the
        * XRefStm recursion depth (≤ 64 frames).
        */
      private def loadGuarded(off: Int): Option[Int] = {
        require(off >= 0 && off < s.length && seenXref.add(off),
          s"bad xref offset $off")
        xrefSections += 1
        require(xrefSections <= 64, "xref chain too long")
        loadSection(off)
      }

      /** One xref section (classic table or xref stream) → its /Prev. */
      private def loadSection(off: Int): Option[Int] = {
        val lex = new Lex(s, off)
        if (lex.keyword("xref")) {
          // classic table: "start count" sections of 20-byte entries
          lex.ws()
          while (!lex.s.regionMatches(lex.p, "trailer", 0, 7)) {
            val start = lex.int()
            val count = lex.int()
            require(count >= 0 && count <= (1 << 20), "xref section too large")
            for (i <- 0 until count) {
              val o = lex.int()
              lex.int() // generation
              lex.ws()
              val kind = lex.s.charAt(lex.p); lex.p += 1
              if (kind == 'n' && !xref.contains(start + i))
                xref.update(start + i, AtOffset(o))
            }
            lex.ws()
          }
          lex.p += 7
          val t = lex.obj() match {
            case PDict(m) => m
            case _ => throw new IllegalStateException("trailer is not a dict")
          }
          // hybrid-reference file: the table's trailer points at an xref
          // STREAM carrying the ObjStm entries — absent-only merge too;
          // guarded like any other section (self-reference = malformed)
          t.get("XRefStm").collect { case PNum(v) => loadGuarded(v.toInt) }
          mergeTrailer(t)
          t.get("Prev").collect { case PNum(v) => v.toInt }
        } else {
          // xref STREAM: "n g obj << /Type /XRef ... >> stream"
          val (_, o) = indirectAt(off)
          val ps = o match {
            case ps: PStream => ps
            case _ => throw new IllegalStateException(s"xref stream expected at $off")
          }
          val d = ps.dict.m
          require(d.get("Type").contains(PName("XRef")), "not an XRef stream")
          val data = decodeStream(ps)
          val w = d.get("W") match {
            case Some(PArr(ws)) => ws.map { case PNum(v) => v.toInt; case _ => 0 }
            case _ => throw new IllegalStateException("XRef stream missing /W")
          }
          require(w.length >= 3 && w.forall(x => x >= 0 && x <= 8), s"bad /W $w")
          val size = d.get("Size") match {
            case Some(PNum(v)) => v.toInt
            case _ => throw new IllegalStateException("XRef stream missing /Size")
          }
          val index: Seq[(Int, Int)] = d.get("Index") match {
            case Some(PArr(ix)) =>
              ix.map { case PNum(v) => v.toInt; case _ => 0 }
                .grouped(2).collect { case Seq(a, b) => (a, b) }.toSeq
            case _ => Seq((0, size))
          }
          val rowLen = w.sum
          var pos = 0
          def field(width: Int, dflt: Long): Long =
            if (width == 0) dflt
            else {
              var v = 0L
              for (k <- 0 until width) { v = (v << 8) | (data(pos + k) & 0xffL) }
              v
            }
          index.foreach { case (start, count) =>
            require(count >= 0 && count <= (1 << 20), "XRef index too large")
            for (i <- 0 until count) {
              require(pos + rowLen <= data.length, "truncated XRef stream")
              val t = field(w(0), 1L); pos += w(0)
              val f2 = field(w(1), 0L); pos += w(1)
              val f3 = field(w(2), 0L); pos += w(2)
              if (!xref.contains(start + i)) t match {
                case 1L => xref.update(start + i, AtOffset(f2.toInt))
                case 2L => xref.update(start + i, InStm(f2.toInt, f3.toInt))
                case _ => // type 0: free
              }
            }
          }
          mergeTrailer(d)
          d.get("Prev").collect { case PNum(v) => v.toInt }
        }
      }

      /** Parse the indirect object at a byte offset: "n g obj <body>"
        * with an optional stream payload (whose /Length may itself be a
        * reference).
        */
      private def indirectAt(off: Int): (Int, PObj) = {
        val lex = new Lex(s, off)
        val num = lex.int()
        val gen = lex.int()
        require(lex.keyword("obj"), s"obj keyword expected at $off")
        val v = lex.obj()
        lex.ws()
        v match {
          case PDict(m) if lex.s.regionMatches(lex.p, "stream", 0, 6) =>
            var st = lex.p + 6
            if (st < s.length && s.charAt(st) == '\r') st += 1
            if (st < s.length && s.charAt(st) == '\n') st += 1
            val end = m.get("Length").map(resolve) match {
              case Some(PNum(n)) if n >= 0 && st + n.toInt <= s.length => st + n.toInt
              case _ => s.indexOf("endstream", st) match {
                case -1 => throw new IllegalStateException("unterminated stream")
                case e => e
              }
            }
            (num, PStream(PDict(m), bytes.slice(st, end), num, gen))
          case other => (num, other)
        }
      }

      def getObj(num: Int): PObj = cache.getOrElseUpdate(num, {
        require(inFlight.add(num), s"cyclic object reference $num")
        try xref.get(num) match {
          case Some(AtOffset(off)) => indirectAt(off)._2
          case Some(InStm(stm, idx)) =>
            val container = getObj(stm) match {
              case ps: PStream => ps
              case _ => throw new IllegalStateException(s"object stream $stm is not a stream")
            }
            val d = container.dict.m
            require(d.get("Type").contains(PName("ObjStm")), s"$stm is not /ObjStm")
            val n = d.get("N") match { case Some(PNum(v)) => v.toInt; case _ => 0 }
            val first = d.get("First") match { case Some(PNum(v)) => v.toInt; case _ => 0 }
            require(idx >= 0 && idx < n, s"ObjStm index $idx out of range")
            val text = new String(decodeStream(container), Latin1)
            val hdr = new Lex(text, 0)
            val pairs = (0 until n).map(_ => (hdr.int(), hdr.int()))
            val (onum, ooff) = pairs(idx)
            require(onum == num, s"ObjStm slot $idx holds $onum, xref says $num")
            new Lex(text, first + ooff).obj()
          case None => PNull
        } finally inFlight.remove(num)
      })

      /** Follow indirect references to a direct object, BOUNDED: getObj's
        * inFlight guard only covers references hit while an object is
        * still parsing — once `1 0 obj 2 0 R` and `2 0 obj 1 0 R` are
        * each cached, an unbounded chase here would loop forever on the
        * cycle (wedging the executor task on untrusted input). Real
        * documents chain a handful of hops at most; 64 is generous.
        */
      def resolve(o: PObj): PObj = {
        var cur = o
        var hops = 0
        while (cur.isInstanceOf[PRef]) {
          hops += 1
          if (hops > 64)
            throw new IllegalStateException("cyclic indirect reference chain")
          cur = getObj(cur.asInstanceOf[PRef].num)
        }
        cur
      }

      /** Apply decryption (per-object key, §7.6.2 Algorithm 1) then
        * /Filter (+ /DecodeParms PNG predictors) to a stream. Cipher
        * text decrypts BEFORE filters run — writers Flate-compress the
        * plaintext and encrypt the compressed bytes. Streams decoded
        * during loadChain predate `crypt` and pass through raw (exactly
        * the xref-stream exemption).
        */
      def decodeStream(ps: PStream): Array[Byte] = {
        val filters = ps.dict.m.get("Filter").map(resolve) match {
          case Some(PName(f)) => Seq(f)
          case Some(PArr(fs)) => fs.map { case PName(f) => f; case _ => "?" }
          case _ => Nil
        }
        val parms: Seq[Option[PDict]] = ps.dict.m.get("DecodeParms").map(resolve) match {
          case Some(d: PDict) => Seq(Some(d))
          case Some(PArr(ds)) => ds.map { case d: PDict => Some(d); case _ => None }
          case _ => Seq.fill(filters.length)(None)
        }
        // `crypt` is still null for loadChain-time calls (constructor
        // order) — the match's wildcard covers that deliberately: those
        // are exactly the encryption-exempt xref/XRefStm streams
        var data = crypt match {
          case Some(c) if ps.num >= 0 => c.decryptStream(ps.num, ps.gen, ps.data)
          case _ => ps.data
        }
        filters.zipAll(parms, "?", None).foreach {
          case ("FlateDecode", pm) =>
            data = inflate(data).getOrElse(
              throw new IllegalStateException("corrupt FlateDecode stream"))
            pm.foreach { d =>
              val pred = d.m.get("Predictor") match { case Some(PNum(v)) => v.toInt; case _ => 1 }
              val cols = d.m.get("Columns") match { case Some(PNum(v)) => v.toInt; case _ => 1 }
              if (pred >= 10) data = pngPredict(data, cols)
            }
          case (f, _) => throw new IllegalStateException(s"unsupported PDF filter /$f")
        }
        data
      }

      /** Reverse PNG row filters (predictor ≥ 10, 8-bit single component —
        * the xref-stream case).
        */
      private def pngPredict(data: Array[Byte], cols: Int): Array[Byte] = {
        require(cols > 0 && cols <= (1 << 20), s"bad predictor columns $cols")
        val rowLen = cols
        val rows = data.length / (rowLen + 1)
        val out = new Array[Byte](rows * rowLen)
        for (r <- 0 until rows) {
          val ft = data(r * (rowLen + 1)) & 0xff
          for (i <- 0 until rowLen) {
            val x = data(r * (rowLen + 1) + 1 + i) & 0xff
            val a = if (i > 0) out(r * rowLen + i - 1) & 0xff else 0
            val b = if (r > 0) out((r - 1) * rowLen + i) & 0xff else 0
            val c = if (i > 0 && r > 0) out((r - 1) * rowLen + i - 1) & 0xff else 0
            val v = ft match {
              case 0 => x
              case 1 => x + a
              case 2 => x + b
              case 3 => x + (a + b) / 2
              case 4 =>
                val pp = a + b - c
                val (pa, pb, pc) = (math.abs(pp - a), math.abs(pp - b), math.abs(pp - c))
                x + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
              case other => throw new IllegalStateException(s"bad PNG filter $other")
            }
            out(r * rowLen + i) = (v & 0xff).toByte
          }
        }
        out
      }

      /** The /Pages tree in reading order: trailer /Root → catalog →
        * /Kids recursion; leaves are the page dicts.
        */
      def pages(): Seq[PDict] = {
        val root = resolve(trailer.getOrElse("Root",
          throw new IllegalStateException("trailer has no /Root"))) match {
          case d: PDict => d
          case _ => throw new IllegalStateException("/Root is not a dict")
        }
        val out = Vector.newBuilder[PDict]
        val visited = scala.collection.mutable.Set.empty[PObj]
        var n = 0
        def walk(node: PObj): Unit = {
          require(visited.add(node), "cycle in /Pages tree")
          n += 1
          require(n <= (1 << 16), "/Pages tree too large")
          resolve(node) match {
            case d: PDict if d.m.contains("Kids") =>
              resolve(d.m("Kids")) match {
                case PArr(kids) => kids.foreach(walk)
                case _ => throw new IllegalStateException("/Kids is not an array")
              }
            case d: PDict => out += d
            case _ => throw new IllegalStateException("non-dict /Pages node")
          }
        }
        walk(root.m.getOrElse("Pages",
          throw new IllegalStateException("catalog has no /Pages")))
        out.result()
      }

      /** The page's /Font resources → each font's show-string decoder:
        * a usable /ToUnicode CMap wins (§9.10.3's explicit bridge), else
        * an Annex D simple-encoding table (/WinAnsiEncoding,
        * /MacRomanEncoding, /Differences) when the font declares one,
        * else no decoder and the byte path stays. /Resources is an
        * INHERITABLE page attribute (§7.7.3.4): climb /Parent until
        * found, hop-bounded like [[resolve]].
        */
      def pageFonts(page: PDict): Map[String, ShowDecoder] = {
        var cur: PObj = page
        var res: Option[PDict] = None
        var hops = 0
        while (res.isEmpty && hops <= 64) {
          resolve(cur) match {
            case d: PDict =>
              d.m.get("Resources").map(resolve) match {
                case Some(r: PDict) => res = Some(r)
                case _ => d.m.get("Parent") match {
                  case Some(p) => cur = p; hops += 1
                  case None => hops = 65
                }
              }
            case _ => hops = 65
          }
        }
        res.flatMap(r => r.m.get("Font").map(resolve)) match {
          case Some(PDict(fm)) =>
            fm.iterator.flatMap { case (name, fo) =>
              resolve(fo) match {
                case fd: PDict =>
                  val cmap = fd.m.get("ToUnicode").map(resolve) match {
                    case Some(ps: PStream) =>
                      ToUnicodeCMap.parse(new String(decodeStream(ps), Latin1))
                    case _ => None
                  }
                  cmap.orElse(fd.m.get("Encoding")
                      .flatMap(e => SimpleEncoding.build(e, resolve)))
                    .map(name -> _)
                case _ => None
              }
            }.toMap
          case _ => Map.empty
        }
      }

      /** A page's decoded content: /Contents ref, or array of refs,
        * concatenated in order (the spec's whitespace-join semantics).
        */
      def pageContent(page: PDict): String = {
        def one(o: PObj): String = resolve(o) match {
          case ps: PStream => new String(decodeStream(ps), Latin1)
          case PNull => ""
          case _ => throw new IllegalStateException("/Contents is not a stream")
        }
        page.m.get("Contents").map(resolve) match {
          case Some(PArr(cs)) => cs.map(one).mkString("\n")
          case Some(o) => one(o)
          case None => ""
        }
      }
    }

    /** The structured path: xref chain → /Pages walk → per-page content
      * decode, `page` = the TRUE page index. Any structural damage throws
      * (caught by [[blocks]] → zero blocks → OCR route).
      */
    private def structuredBlocks(s: String, bytes: Array[Byte]): Seq[PdfBlock] = {
      // /Encrypt handling happens inside PdfDoc construction: the
      // empty-user-password standard handler (the dominant crawl case)
      // DECRYPTS and extraction proceeds; genuinely passworded or
      // unsupported schemes throw the tagged `encrypted:` quarantine there
      val doc = new PdfDoc(s, bytes)
      val out = scala.collection.mutable.ArrayBuffer.empty[PdfBlock]
      doc.pages().zipWithIndex.foreach { case (pg, i) =>
        parseContent(doc.pageContent(pg), i, out, doc.pageFonts(pg))
      }
      out.toSeq
    }

    private val TdRe = """(-?[0-9.]+)\s+(-?[0-9.]+)\s+(?:Td|TD)""".r
    private val TmRe = ("""(-?[0-9.]+)\s+(-?[0-9.]+)\s+(-?[0-9.]+)\s+""" +
      """(-?[0-9.]+)\s+(-?[0-9.]+)\s+(-?[0-9.]+)\s+Tm""").r
    // a show string: literal (parens with \-escapes honored) OR hex —
    // §7.3.4 makes them interchangeable spellings of the same byte
    // string, and real writers emit hex `<FEFF...> Tj` for non-Latin text
    private val StrRe = """\(((?:\\.|[^\\()])*)\)|<([0-9A-Fa-f \t\r\n]*)>""".r

    private def unescape(v: String): String = {
      val b = new StringBuilder
      var i = 0
      while (i < v.length) {
        val c = v.charAt(i)
        if (c == '\\' && i + 1 < v.length) {
          val n = v.charAt(i + 1)
          if (n >= '0' && n <= '7') {
            val oct = v.substring(i + 1, math.min(i + 4, v.length)).takeWhile(d => d >= '0' && d <= '7')
            b.append(Integer.parseInt(oct, 8).toChar); i += 1 + oct.length
          } else {
            b.append(n match {
              case 'n' => '\n'; case 'r' => '\r'; case 't' => '\t'; case o => o
            }); i += 2
          }
        } else { b.append(c); i += 1 }
      }
      // byte-level only — the BOM/Unicode step is the SHOW layer's job
      // (utf16IfBom at the parseContent call sites): Lex.litStr shares
      // this helper and its strings must stay raw for §7.6 crypto use
      b.toString
    }

    /** PDF text strings are byte strings; a 0xFE 0xFF BOM prefix marks
      * UTF-16BE (ISO 32000-1 §7.9.2.2 — how real writers emit non-Latin
      * text). Escape processing happens at the BYTE level first (done by
      * the caller), THEN the BOM check: our chars are 1:1 bytes (Latin1),
      * so pairs recombine as (hi << 8) | lo. A dangling odd byte is
      * malformed padding and drops; BOM-less strings pass through as the
      * byte string they are.
      */
    private def utf16IfBom(v: String): String =
      if (v.length >= 2 && v.charAt(0) == 0xFE.toChar && v.charAt(1) == 0xFF.toChar) {
        val b = new StringBuilder((v.length - 2) / 2)
        var i = 2
        while (i + 1 < v.length) {
          b.append((((v.charAt(i) & 0xff) << 8) | (v.charAt(i + 1) & 0xff)).toChar)
          i += 2
        }
        b.toString
      } else v

    // font selection: "/F1 12 Tf" — tracked positionally so each show
    // string decodes through the font ACTIVE at its position
    private val TfRe = """/([^\s/<>\[\]()]+)\s+-?[0-9.]+\s+Tf""".r

    private def parseContent(c: String, page: Int,
        out: scala.collection.mutable.ArrayBuffer[PdfBlock],
        fonts: Map[String, ShowDecoder] = Map.empty): Unit = {
      val tfs =
        if (fonts.isEmpty) Vector.empty
        else TfRe.findAllMatchIn(c).map(m => (m.start, m.group(1))).toVector
      def cmapAt(pos: Int): Option[ShowDecoder] = {
        var sel: String = null
        var k = 0
        while (k < tfs.length && tfs(k)._1 < pos) { sel = tfs(k)._2; k += 1 }
        Option(sel).flatMap(fonts.get)
      }
      var i = c.indexOf("BT")
      while (i >= 0) {
        val e = c.indexOf("ET", i + 2)
        val body = if (e < 0) c.substring(i + 2) else c.substring(i + 2, e)
        val (x, y) = TdRe.findFirstMatchIn(body)
          .map(m => (m.group(1).toDouble, m.group(2).toDouble))
          .orElse(TmRe.findFirstMatchIn(body)
            .map(m => (m.group(5).toDouble, m.group(6).toDouble)))
          .getOrElse((0.0, 0.0))
        // shows in order: every literal string followed by a show operator
        // (Tj / ' / ") or sitting inside a [...] TJ array
        val shows = scala.collection.mutable.ArrayBuffer.empty[String]
        for (m <- StrRe.findAllMatchIn(body)) {
          val after = body.substring(m.end).dropWhile(_.isWhitespace)
          val inTjArray = {
            val nextClose = body.indexOf(']', m.end)
            nextClose >= 0 && body.substring(nextClose + 1).dropWhile(_.isWhitespace).startsWith("TJ") &&
              body.lastIndexOf('[', m.start) > body.lastIndexOf(']', m.start)
          }
          if (after.startsWith("Tj") || after.startsWith("'") || after.startsWith("\"") || inTjArray) {
            // raw byte string first (escape / hex decode), then TEXT
            // decoding: the active font's /ToUnicode CMap when it has
            // one, else the §7.9.2.2 BOM check — the one place string
            // bytes become text
            val raw =
              if (m.group(1) != null) unescape(m.group(1))
              else {
                val hex = m.group(2).filterNot(_.isWhitespace)
                val padded = if (hex.length % 2 == 0) hex else hex + "0"
                padded.grouped(2).map(h => Integer.parseInt(h, 16).toChar).mkString
              }
            shows += cmapAt(i + 2 + m.start)
              .map(_.decode(raw)).getOrElse(utf16IfBom(raw))
          }
        }
        if (shows.nonEmpty) out += PdfBlock(page, shows.mkString(" "), x, y)
        i = if (e < 0) -1 else c.indexOf("BT", e + 2)
      }
    }
  }

  /** Per-partition batch PDF decode over any (doc_id, payload binary)
    * relation — the [[Multimodal.decodeMedia]] plumbing applied to
    * documents: one decoder per partition, iterator in / iterator out,
    * one output row per extracted block (docs with no extractable text
    * emit nothing — downstream `ocr_route` sees zero text volume and
    * routes them to OCR).
    */
  def decodePdfBlocks(pdfs: DataFrame): DataFrame = {
    import pdfs.sparkSession.implicits._
    pdfs.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          PdfTextDecoder.blocks(payload).zipWithIndex.map { case (b, i) =>
            (id, i.toLong, b.page.toLong, b.text,
              b.text.split(" ").count(_.nonEmpty).toLong,
              b.text.length.toLong, b.x, b.y)
          }
        }
      }
      .toDF("doc_id", "block_id", "page", "block_text", "n_words", "n_chars",
        "x", "y")
  }
}

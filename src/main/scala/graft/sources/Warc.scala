package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** WARC/WET ingestion (SURVEY §2B) — the wire format a 100 TB crawl
  * actually arrives in (ISO 28500; Common Crawl publishes WARC and its
  * text-extraction sibling WET in exactly this shape). A crawl segment is
  * a MULTI-MEMBER gzip file: each record is its own gzip member
  * (header block + payload), members concatenated back to back, so a
  * reader can skip to any member boundary without decompressing the
  * prefix. Plain uncompressed `.warc`/`.wet` files are the degenerate
  * one-member case and read through the same path.
  *
  * Scale rules, inherited from [[RawSources]]:
  *  - one file = one task (gzip members don't split mid-file; crawl
  *    segments are ~1 GB each, so parallelism is across the fleet of
  *    files — the layout Common Crawl ships);
  *  - malformed members/records QUARANTINE with the byte offset and a
  *    tagged reason, never throw and never vanish: a truncated member in
  *    the middle of a segment must not cost the members after it, so the
  *    decoder resyncs to the next gzip magic (member grain) or the next
  *    `WARC/` version line (record grain) and keeps going;
  *  - untrusted bytes ride the same inflate loop as the PDF stream
  *    decoder ([[BoundedInflate]], also graft.operators.Ingestion's
  *    FlateDecode seam): a member claiming to expand past 64× its
  *    compressed size, or an FDICT/truncated deflate stream that stops
  *    making progress, is quarantined, not inflated to OOM.
  *
  * Decoding is per-member `java.util.zip.Inflater` arithmetic (nowrap
  * after a hand-parsed RFC 1952 header) rather than `GZIPInputStream`
  * because member BOUNDARIES are the unit of fault isolation:
  * `Inflater.getBytesRead` pins exactly where a member's deflate stream
  * ended, so one rotten member quarantines alone and the CRC32/ISIZE
  * trailer check catches silent corruption the stream API would pass
  * through.
  */
object Warc {

  /** One decoded row per WARC record; `bad_reason` non-null marks a
    * quarantined member/record (its text carries nothing). `offset` is
    * the byte offset of the enclosing gzip member in the file (record
    * resync offsets are member-relative and folded into the reason).
    */
  private[sources] final case class WarcRow(
      path: String, offset: Long, warc_type: String, record_id: String,
      target_uri: String, warc_date: String, content_type: String,
      content_length: Long, text: String, http_status: java.lang.Integer,
      http_content_type: String, bad_reason: String)

  /** WARC segment(s) at `path` → (records, quarantined). Records carry
    * (path, offset, warc_type, record_id, target_uri, warc_date,
    * content_type, content_length, text); quarantine carries
    * (path, offset, reason). Never throws on malformed input.
    */
  def readWarc(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    import spark.implicits._
    val rows = spark.read.format("binaryFile").load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (p, bytes) => decodeFile(p, bytes) })
      .toDF()
    val r = graft.operators.Intermediates.persist(rows)
    (r.filter(col("bad_reason").isNull).drop("bad_reason"),
      r.filter(col("bad_reason").isNotNull)
        .select(col("path"), col("offset"), col("bad_reason").as("reason")))
  }

  /** Bridge [[readWarc]] records into the engine's `documents` schema
    * (doc_id, text, lang, source, n_chars) so a crawl segment feeds the
    * dedup/curation/tokenizer operators directly. Only text-bearing
    * record types carry corpus text (`conversion` = WET extraction,
    * `response` = peeled HTTP body; warcinfo/request/metadata are crawl
    * bookkeeping). doc_id is the 60-bit md5 of the record id (falling
    * back to target URI + member offset when a writer omitted one) —
    * the repo-wide `hs` discipline, so ids are DETERMINISTIC across
    * re-reads and shards, never a zipWithIndex whose numbering depends
    * on partition layout; `source` is the target URI's host, the
    * per-source grain `source_dedup_matrix` / `tokenizer_drift_report`
    * roll up on; `lang` is NULL — language id is a downstream operator
    * (`lang_id`, `lang_id_nb`), not wire-format metadata.
    *
    * HTML payloads go through [[HtmlText.extract]] on the way in: a raw-
    * WARC `response` whose peeled HTTP Content-Type is HTML (or a
    * `resource` record typed HTML) carries tag soup as `text`, and this
    * bridge is exactly where the curation stack's contract ("text" =
    * newline-delimited paragraphs) is established. Extraction may empty
    * a document (a pure-script page has no corpus text): those rows drop
    * here, the same no-text rule as the record-type filter. n_chars is
    * the EXTRACTED length — the value every downstream length/quality
    * filter should see.
    */
  def toDocuments(records: DataFrame): DataFrame = {
    val spark = records.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.{expr, length, lit}
    val base = records
      .filter(col("warc_type").isin("conversion", "resource", "response") &&
        col("text").isNotNull && length(col("text")) > 0)
      .select(
        expr(
          // final coalesce arm is (path, offset) — both always non-null —
          // so a record lacking BOTH record id and target URI still gets a
          // deterministic non-null doc_id (NULL ids would poison every
          // downstream doc_id % m carve / join / dedup key)
          "graft_md5_long(coalesce(record_id, concat(target_uri, ':', offset), concat(path, ':', offset)), 1, 15)")
          .as("doc_id"),
        col("text"), col("warc_type"),
        col("content_type"), col("http_content_type"),
        expr("parse_url(target_uri, 'HOST')").as("source"))
    // boilerplate rung, conf-read at PLAN time (executors see captured
    // primitives, never session conf): off by default so the bridge's
    // paragraph output is bit-stable; a deployment opting in drops
    // link-dominated short paragraphs (nav menus, footer link rows)
    // inside the same single extraction scan
    val prune = graft.operators.GraftConf.htmlBoilerplate
    val maxLinkPct = graft.operators.GraftConf.htmlMaxLinkPct
    val shortWords = graft.operators.GraftConf.htmlShortWords
    base.as[(Long, String, String, String, String, String)]
      .mapPartitions(_.map { case (id, text, wtype, ctype, hct, src) =>
        // for a response the HTML signal lives in the PEELED HTTP
        // Content-Type (the WARC-level one is application/http); for
        // conversion/resource records it is the WARC Content-Type
        val ct = if (wtype == "response") hct else ctype
        val t =
          if (!HtmlText.isHtmlContentType(ct)) text
          else if (prune) HtmlText.extractPruned(text, maxLinkPct, shortWords)
          else HtmlText.extract(text)
        (id, t, src)
      })
      .toDF("doc_id", "text", "source")
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"),
        lit(null: String).as("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
  }

  /** Decode one file's bytes: split gzip members (or take the whole file
    * as one uncompressed member), parse WARC records inside each.
    */
  private[sources] def decodeFile(path: String, bytes: Array[Byte]): Seq[WarcRow] = {
    if (bytes.isEmpty) return Seq.empty
    val out = Vector.newBuilder[WarcRow]
    if (!isGzipMagic(bytes, 0)) {
      // plain .warc/.wet: the degenerate single uncompressed member
      parseRecords(path, 0L, bytes, out)
    } else {
      var off = 0
      while (off < bytes.length) {
        if (!isGzipMagic(bytes, off)) {
          // inter-member garbage: quarantine once, resync to next magic
          val next = nextGzipMagic(bytes, off + 1)
          out += bad(path, off, "garbage between gzip members")
          off = if (next < 0) bytes.length else next
        } else inflateMember(bytes, off) match {
          case Right((data, end)) =>
            parseRecords(path, off.toLong, data, out)
            off = end
          case Left(reason) =>
            out += bad(path, off, reason)
            val next = nextGzipMagic(bytes, off + 2)
            off = if (next < 0) bytes.length else next
        }
      }
    }
    out.result()
  }

  private def bad(path: String, off: Long, reason: String): WarcRow =
    WarcRow(path, off, null, null, null, null, null, -1L, null, null, null, reason)

  private def isGzipMagic(b: Array[Byte], off: Int): Boolean =
    off + 2 < b.length && b(off) == 0x1f.toByte && b(off + 1) == 0x8b.toByte &&
      b(off + 2) == 8.toByte

  private def nextGzipMagic(b: Array[Byte], from: Int): Int = {
    var i = math.max(from, 0)
    while (i < b.length && !isGzipMagic(b, i)) i += 1
    if (i < b.length) i else -1
  }

  /** Inflate ONE gzip member starting at `off`: hand-parsed RFC 1952
    * header, [[BoundedInflate]] with its bomb/stall caps, CRC32 + ISIZE
    * trailer verification. Returns (decompressed, offset just past the
    * member's 8-byte trailer) or a quarantine reason.
    */
  private[sources] def inflateMember(b: Array[Byte], off: Int): Either[String, (Array[Byte], Int)] =
    try {
      var p = off
      if (p + 10 > b.length) return Left("truncated gzip header")
      val flg = b(p + 3) & 0xff
      p += 10
      if ((flg & 4) != 0) { // FEXTRA
        if (p + 2 > b.length) return Left("truncated gzip FEXTRA")
        val xlen = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
        p += 2 + xlen
      }
      if ((flg & 8) != 0) { // FNAME, zero-terminated
        while (p < b.length && b(p) != 0) p += 1
        p += 1
      }
      if ((flg & 16) != 0) { // FCOMMENT, zero-terminated
        while (p < b.length && b(p) != 0) p += 1
        p += 1
      }
      if ((flg & 2) != 0) p += 2 // FHCRC
      if (p >= b.length) return Left("truncated gzip header")
      val inflated = BoundedInflate(b, p, b.length - p, nowrap = true) match {
        case Left(reason) => return Left(reason)
        case Right(r) if !r.finished => return Left("truncated or undecodable deflate stream")
        case Right(r) => r
      }
      val trailerAt = p + inflated.consumed
      if (trailerAt + 8 > b.length) return Left("truncated gzip trailer")
      val data = inflated.out
      val crc = new java.util.zip.CRC32
      crc.update(data)
      if (crc.getValue != readLe32(b, trailerAt))
        return Left("gzip CRC32 mismatch")
      if ((data.length.toLong & 0xffffffffL) != readLe32(b, trailerAt + 4))
        return Left("gzip ISIZE mismatch")
      Right((data, trailerAt + 8))
    } catch {
      // BoundedInflate never throws; this guards the header walk
      case scala.util.control.NonFatal(e) =>
        Left(s"truncated or undecodable deflate stream: ${e.getMessage}")
    }

  private def readLe32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL)) | ((b(off + 1) & 0xffL) << 8) |
      ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

  /** Parse the WARC records inside one decompressed member. Record grain
    * fault isolation: a record missing its version line or Content-Length
    * quarantines and the parser resyncs to the next `WARC/` version line
    * in the same member.
    */
  private def parseRecords(path: String, memberOff: Long, data: Array[Byte],
      out: scala.collection.mutable.Builder[WarcRow, Vector[WarcRow]]): Unit = {
    // Latin1 view: 1:1 byte↔char so string offsets index `data` directly
    // (the Ingestion.PdfTextDecoder discipline)
    val s = new String(data, StandardCharsets.ISO_8859_1)
    var p = 0
    // `produced` covers records AND quarantine rows: the never-vanish rule
    // is that every non-empty member leaves SOME row behind, so the final
    // no-records check fires on any path that emitted nothing — including
    // a member whose decompressed bytes are only CRLFs (the leading-
    // whitespace skip used to early-return past the check)
    var produced = false
    var done = false
    def quarantine(reason: String): Unit = {
      out += bad(path, memberOff, reason); produced = true
    }
    while (!done && p < s.length) {
      while (p < s.length && (s.charAt(p) == '\r' || s.charAt(p) == '\n')) p += 1
      if (p >= s.length) done = true
      else if (!s.regionMatches(p, "WARC/", 0, 5)) {
        quarantine(s"no WARC/ version line at member byte $p")
        val nxt = s.indexOf("\r\nWARC/", p)
        if (nxt < 0) done = true else p = nxt + 2
      } else {
        val hdrEnd = s.indexOf("\r\n\r\n", p)
        if (hdrEnd < 0) {
          quarantine(s"unterminated WARC header block at member byte $p")
          done = true
        } else {
        val headers = parseHeaders(s.substring(p, hdrEnd))
        val lenOk = headers.get("content-length").flatMap(v =>
          scala.util.Try(v.trim.toLong).toOption).filter(_ >= 0)
        lenOk match {
          case None =>
            quarantine(s"missing or invalid Content-Length at member byte $p")
            val nxt = s.indexOf("\r\nWARC/", hdrEnd)
            if (nxt < 0) done = true else p = nxt + 2
          case Some(len) =>
            val bodyStart = hdrEnd + 4
            if (bodyStart + len > s.length) {
              quarantine(
                s"truncated payload at member byte $bodyStart (wants $len bytes)")
              done = true
            } else {
            val payload = java.util.Arrays.copyOfRange(data, bodyStart, bodyStart + len.toInt)
            val wtype = headers.getOrElse("warc-type", null)
            val ctype = headers.getOrElse("content-type", null)
            // raw-WARC response records carry an HTTP message as payload
            // (§6.3 + RFC 9112): peel status line + headers so `text` is
            // the BODY a pipeline wants, with status/Content-Type typed
            // out; anything short of a parseable HTTP head falls back to
            // the raw payload (never a throw, never silence). All decode
            // paths run [[BodyCharset]]'s WHATWG resolution (BOM →
            // declared charset → meta prescan → UTF-8 check →
            // windows-1252) — undeclared valid UTF-8 (the WET lanes)
            // decodes bit-identically to the old unconditional UTF-8.
            val (text, st, hct) =
              if (wtype == "response" && ctype != null &&
                  ctype.toLowerCase(java.util.Locale.ROOT).startsWith("application/http"))
                parseHttpPayload(payload)
              else (BodyCharset.decode(payload, ctype), null, null)
            out += WarcRow(path, memberOff, wtype,
              headers.getOrElse("warc-record-id", null),
              headers.getOrElse("warc-target-uri", null),
              headers.getOrElse("warc-date", null),
              ctype, len, text, st, hct, null)
            produced = true
            p = bodyStart + len.toInt
            }
        }
        }
      }
    }
    if (!produced && data.nonEmpty)
      out += bad(path, memberOff, "member carries no WARC records")
  }

  /** Split a response record's HTTP message: (body text, status code,
    * HTTP Content-Type). Handles `Transfer-Encoding: chunked` bodies
    * (chunk-size lines reassembled, trailers dropped — RFC 9112 §7.1);
    * a malformed head or chunk stream degrades to the raw payload /
    * raw body rather than throwing — the quarantine-never-throw
    * ingestion posture, at the payload grain.
    */
  private def parseHttpPayload(payload: Array[Byte]): (String, java.lang.Integer, String) = {
    val s = new String(payload, StandardCharsets.ISO_8859_1)
    val hdrEnd = s.indexOf("\r\n\r\n")
    val firstLineEnd = s.indexOf("\r\n")
    if (hdrEnd < 0 || firstLineEnd < 0 || !s.startsWith("HTTP/"))
      return (BodyCharset.decode(payload, null), null, null)
    val statusParts = s.substring(0, firstLineEnd).split(" ", 3)
    val status: java.lang.Integer =
      if (statusParts.length >= 2) scala.util.Try(statusParts(1).toInt).toOption
        .map(Int.box).orNull
      else null
    val httpHeaders = parseHeaders("X\r\n" + s.substring(firstLineEnd + 2, hdrEnd))
    val hct = httpHeaders.getOrElse("content-type", null)
    val rawBody = java.util.Arrays.copyOfRange(payload, hdrEnd + 4, payload.length)
    val chunked = httpHeaders.get("transfer-encoding")
      .exists(_.toLowerCase(java.util.Locale.ROOT).contains("chunked"))
    val body =
      if (!chunked) rawBody
      else dechunk(rawBody).getOrElse(rawBody)
    // the PEELED Content-Type carries the charset= parameter a server
    // actually sent — exactly what the WHATWG chain's transport step wants
    (BodyCharset.decode(body, hct), status, hct)
  }

  /** Reassemble a chunked body; None on any malformed chunk frame. */
  private def dechunk(b: Array[Byte]): Option[Array[Byte]] = {
    val s = new String(b, StandardCharsets.ISO_8859_1)
    val out = new java.io.ByteArrayOutputStream(b.length)
    var p = 0
    while (true) {
      val lineEnd = s.indexOf("\r\n", p)
      if (lineEnd < 0) return None
      // chunk-size line: hex digits, optional ;extensions
      val sizeHex = s.substring(p, lineEnd).takeWhile(c =>
        Character.digit(c, 16) >= 0)
      if (sizeHex.isEmpty) return None
      // size stays Long end-to-end: a hostile '7fffffff' (or wider) size
      // line must fail the bounds check, not overflow Int arithmetic into
      // a passing guard and throw from write(); parseLong overflow (>16
      // hex digits) is equally malformed → None
      val size = scala.util.Try(java.lang.Long.parseLong(sizeHex, 16))
        .getOrElse(return None)
      if (size < 0 || size > Int.MaxValue.toLong ||
        lineEnd.toLong + 2L + size > b.length.toLong) return None
      if (size == 0) return Some(out.toByteArray) // terminal chunk; trailers dropped
      out.write(b, lineEnd + 2, size.toInt)
      p = lineEnd + 2 + size.toInt
      // chunk data is CRLF-terminated
      if (!s.regionMatches(p, "\r\n", 0, 2)) return None
      p += 2
    }
    None // unreachable
  }

  /** Header block → lowercase-name map; RFC 822 continuation lines
    * (leading SP/HT) fold into the previous value.
    */
  private def parseHeaders(block: String): Map[String, String] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var last: String = null
    // first line is the version line ("WARC/1.0") — skip it
    block.split("\r\n").iterator.drop(1).foreach { line =>
      if (line.nonEmpty && (line.charAt(0) == ' ' || line.charAt(0) == '\t')) {
        if (last != null) m(last) = m(last) + " " + line.trim
      } else {
        val i = line.indexOf(':')
        if (i > 0) {
          val k = line.substring(0, i).trim.toLowerCase(java.util.Locale.ROOT)
          m(k) = line.substring(i + 1).trim
          last = k
        }
      }
    }
    m.toMap
  }
}

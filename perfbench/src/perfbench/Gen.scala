package perfbench

import java.util.SplittableRandom

/** Seeded input generator. Everything a workload feeds graft comes from
  * here, derived from `(seed, workload)` alone, together with the ground
  * truth the correctness checks and `dup_recall` are scored against.
  *
  * Text uses the corpus vocabulary of graft's reference tables, so the
  * schema ladders (`join (\w+)`, `table (\w+)`, …) fire on it the way
  * they do on real tables, and a near duplicate has the same shape as in
  * those tables: the original text plus a trailing ` dup`.
  */
object Gen {

  final case class Doc(id: Long, text: String, lang: String, source: String)
  final case class Emb(id: Long, v: Array[Float], label: Int)

  /** documents + embeddings, one embedding per doc (`vec_id` = `doc_id`). */
  final case class Corpus(docs: Vector[Doc], embs: Vector[Emb]) {
    def ++(o: Corpus): Corpus = Corpus(docs ++ o.docs, embs ++ o.embs)
  }

  final case class FormInputs(
      corpus: Corpus,
      pdfs: Vector[(Long, Array[Byte])],
      pages: Vector[(Long, Long, Array[Byte])],
      /** image-only doc → the text its page bitmaps carry, line by line */
      scanned: Map[Long, Vector[String]])

  final case class CurateInputs(
      corpus: Corpus,
      /** (original, near duplicate) — both outside the eval split */
      nearPairs: Vector[(Long, Long)],
      exactPairs: Vector[(Long, Long)],
      contaminated: Vector[Long])

  final case class StoreInputs(
      base: Corpus,
      crawls: Vector[Corpus],
      retracts: Vector[Vector[Long]],
      /** (original, near duplicate) planted inside the base, from a crawl
        * onto the base, and from a crawl onto an earlier crawl */
      nearPairs: Vector[(Long, Long)])

  val Vocab: Vector[String] = Vector("join", "hash", "row", "batch", "scan",
    "column", "customer", "filter", "small", "slow", "merge", "order",
    "vector", "line", "table", "data", "agg", "value", "key", "stream",
    "window", "a", "spark", "part", "group", "big", "sort", "query", "fast",
    "the")
  val Langs: Vector[String] = Vector("en", "en", "en", "zh", "es", "de", "fr")
  val Dims = 64
  /** `pipeline_curate`'s eval split (Curation.FuzzyEvalMod). */
  val EvalMod = 29
  /** hybrid queries are the docs with `doc_id <` this (spark.graft.ann.queries). */
  val NumQueries = 10

  private def rng(seed: Long, salt: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt.hashCode.toLong)

  private def text(r: SplittableRandom): String =
    Vector.fill(10 + r.nextInt(90))(Vocab(r.nextInt(Vocab.size))).mkString(" ")

  private def unit(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  private def randomEmb(r: SplittableRandom): Array[Float] =
    unit(Array.fill(Dims)(gauss(r)))

  /** A near copy: cosine ≈ 0.999 to `v`. */
  private def nearEmb(r: SplittableRandom, v: Array[Float]): Array[Float] =
    unit(v.map(x => x + 0.004 * gauss(r)))

  private def gauss(r: SplittableRandom): Double = {
    // Box–Muller: deterministic for a given stream, unlike Random.nextGaussian's cache
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  private def doc(r: SplittableRandom, id: Long, t: String): Doc =
    Doc(id, t, Langs(r.nextInt(Langs.size)), s"src${r.nextInt(20)}")

  private def randomCorpus(r: SplittableRandom, ids: Range): Corpus = {
    val docs = ids.map(i => doc(r, i.toLong, text(r))).toVector
    Corpus(docs, docs.map(d => Emb(d.id, randomEmb(r), r.nextInt(10))))
  }

  /** Replace doc `dst` by a near duplicate of `src` (text + " dup", near
    * embedding) — in place, so ids stay dense.
    */
  private def plantNear(r: SplittableRandom, c: Corpus, src: Int, dst: Int,
      srcOf: Corpus): Corpus = {
    val s = srcOf.docs(src)
    val e = srcOf.embs(src)
    Corpus(c.docs.updated(dst, c.docs(dst).copy(text = s.text + " dup")),
      c.embs.updated(dst, c.embs(dst).copy(v = nearEmb(r, e.v))))
  }

  // ---- form_etl ------------------------------------------------------------

  private val Latin1 = java.nio.charset.StandardCharsets.ISO_8859_1

  /** One text-layer PDF: one stream object per page, one text object per
    * 12-word line; every other document's streams are FlateDecode'd.
    */
  def pdf(text: String, flate: Boolean): Array[Byte] = {
    val lines = text.split(" ").grouped(12).map(_.mkString(" ")).toVector
    val out = new java.io.ByteArrayOutputStream()
    out.write("%PDF-1.4\n".getBytes(Latin1))
    lines.grouped(10).zipWithIndex.foreach { case (page, p) =>
      val content = page.zipWithIndex.map { case (l, i) =>
        s"BT 72 ${720 - 14 * i} Td ($l) Tj ET"
      }.mkString("\n").getBytes(Latin1)
      val body = if (flate) deflate(content) else content
      val filter = if (flate) "/Filter /FlateDecode " else ""
      out.write(s"${p + 1} 0 obj\n<< $filter/Length ${body.length} >>\nstream\n"
        .getBytes(Latin1))
      out.write(body)
      out.write("\nendstream\nendobj\n".getBytes(Latin1))
    }
    out.write("%%EOF\n".getBytes(Latin1))
    out.toByteArray
  }

  private def deflate(b: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(b); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** A scan: a PDF container whose only stream is an image, no text layer. */
  val ImageOnlyPdf: Array[Byte] =
    "%PDF-1.4\n1 0 obj\n<< /Subtype /Image /Length 8 >>\nstream\n\nendstream\nendobj\n%%EOF\n"
      .getBytes(Latin1)

  /** Word-wrap upper-cased text into ≤ 40-column lines (the OCR atlas is
    * upper case, digits and space), 8 lines to a page.
    */
  def scanLines(text: String): Vector[String] =
    text.toUpperCase.split(" ").foldLeft(Vector.empty[String]) { (acc, w) =>
      if (acc.nonEmpty && acc.last.length + 1 + w.length <= 40)
        acc.init :+ (acc.last + " " + w)
      else acc :+ w
    }

  def png(lines: Seq[String]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(graft.operators.GlyphOcr.renderPage(lines), "png", out)
    out.toByteArray
  }

  /** `n` contract docs; one in 40 is an image-only scan whose pages go
    * through the OCR rung.
    */
  def form(seed: Long, n: Int): FormInputs = {
    val r = rng(seed, "form_etl")
    val corpus = randomCorpus(r, 0 until n)
    val scannedIds = corpus.docs.iterator.map(_.id).filter(_ => r.nextInt(40) == 0).toSet
    val pdfs = corpus.docs.map { d =>
      d.id -> (if (scannedIds(d.id)) ImageOnlyPdf else pdf(d.text, flate = d.id % 2 == 1))
    }
    val scanned = corpus.docs.filter(d => scannedIds(d.id))
      .map(d => d.id -> scanLines(d.text)).toMap
    val pages = scanned.toVector.sortBy(_._1).flatMap { case (id, lines) =>
      lines.grouped(8).zipWithIndex.map { case (ls, p) => (id, p.toLong, png(ls)) }
    }
    FormInputs(corpus, pdfs, pages, scanned)
  }

  // ---- curate --------------------------------------------------------------

  /** `n` docs with planted exact duplicates (2%), near duplicates (5%) and
    * eval-set contamination (2%: a train doc carrying an eval doc's text).
    * Planted docs stay outside the eval split so every one is scored.
    */
  def curate(seed: Long, n: Int): CurateInputs = {
    val r = rng(seed, "curate")
    var c = randomCorpus(r, 0 until n)
    val train = (0 until n).filter(_ % EvalMod != 0).toVector
    val evalIds = (0 until n).filter(_ % EvalMod == 0).toVector
    // disjoint roles: each planted doc is a copy target exactly once and
    // never the source of another plant
    val shuffled = shuffle(r, train)
    val nNear = n / 20; val nExact = n / 50; val nContam = n / 50
    val (nearDst, rest1) = shuffled.splitAt(nNear)
    val (exactDst, rest2) = rest1.splitAt(nExact)
    val (contamDst, rest3) = rest2.splitAt(nContam)
    val sources = rest3
    val nearPairs = nearDst.zipWithIndex.map { case (dst, i) =>
      val src = sources(i)
      c = plantNear(r, c, src, dst, c)
      (src.toLong, dst.toLong)
    }
    val exactPairs = exactDst.zipWithIndex.map { case (dst, i) =>
      val src = sources(nNear + i)
      c = Corpus(c.docs.updated(dst, c.docs(dst).copy(text = c.docs(src).text)),
        c.embs.updated(dst, c.embs(dst).copy(v = c.embs(src).v.clone())))
      (src.toLong, dst.toLong)
    }
    contamDst.foreach { dst =>
      val e = evalIds(r.nextInt(evalIds.size))
      c = Corpus(c.docs.updated(dst,
        c.docs(dst).copy(text = c.docs(e).text + " " + text(r))), c.embs)
    }
    CurateInputs(c, nearPairs.map(p => (math.min(p._1, p._2), math.max(p._1, p._2))),
      exactPairs, contamDst.map(_.toLong))
  }

  private def shuffle(r: SplittableRandom, xs: Vector[Int]): Vector[Int] = {
    val a = xs.toArray
    for (i <- a.indices.reverse if i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toVector
  }

  // ---- store_lifecycle -------------------------------------------------------

  /** A base of `nBase` docs (5% near duplicates inside it), `nCrawls`
    * crawls of `crawlSize` new docs each — 20% near duplicates of base
    * docs, 5% of the previous crawl's docs — and one retract set of
    * `retractSize` base ids per crawl, half of them planted-pair members
    * (so a retraction splits clusters) and none a hybrid query.
    */
  def store(seed: Long, nBase: Int, nCrawls: Int, crawlSize: Int,
      retractSize: Int): StoreInputs = {
    val r = rng(seed, "store_lifecycle")
    var base = randomCorpus(r, 0 until nBase)
    val order = shuffle(r, (NumQueries until nBase).toVector)
    val nNear = nBase / 20
    val basePairs = (0 until nNear).map { i =>
      val (src, dst) = (order(2 * i), order(2 * i + 1))
      base = plantNear(r, base, src, dst, base)
      (math.min(src, dst).toLong, math.max(src, dst).toLong)
    }.toVector
    val pairs = Vector.newBuilder[(Long, Long)] ++= basePairs
    var prevCrawl = base
    val crawls = (0 until nCrawls).map { k =>
      val lo = nBase + k * crawlSize
      var c = randomCorpus(r, lo until lo + crawlSize)
      (0 until crawlSize / 5).foreach { i =>
        val src = NumQueries + r.nextInt(nBase - NumQueries)
        c = plantNear(r, c, src, i, base)
        pairs += ((src.toLong, (lo + i).toLong))
      }
      if (k > 0) (0 until crawlSize / 20).foreach { i =>
        val src = r.nextInt(crawlSize)
        val dst = crawlSize / 5 + i
        c = plantNear(r, c, src, dst, prevCrawl)
        pairs += (((lo - crawlSize + src).toLong, (lo + dst).toLong))
      }
      prevCrawl = c
      c
    }.toVector
    val members = basePairs.flatMap(p => Vector(p._1, p._2))
    val singles = order.drop(2 * nNear).map(_.toLong)
    val retracts = (0 until nCrawls).map { k =>
      val half = retractSize / 2
      members.slice(k * half, (k + 1) * half) ++
        singles.slice(k * (retractSize - half), (k + 1) * (retractSize - half))
    }.toVector
    StoreInputs(base, crawls, retracts, pairs.result())
  }

  // ---- determinism ---------------------------------------------------------

  /** SHA-256 over every generated byte, in generation order. */
  def digest(parts: Iterator[Any]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def feed(x: Any): Unit = x match {
      case s: String => md.update(s.getBytes("UTF-8")); md.update(0.toByte)
      case b: Array[Byte] => md.update(b)
      case f: Array[Float] => f.foreach(v => feed(java.lang.Float.floatToIntBits(v)))
      case i: Int => md.update(java.nio.ByteBuffer.allocate(4).putInt(i).array())
      case l: Long => md.update(java.nio.ByteBuffer.allocate(8).putLong(l).array())
      case d: Doc => feed(d.id); feed(d.text); feed(d.lang); feed(d.source)
      case e: Emb => feed(e.id); feed(e.v); feed(e.label)
      case c: Corpus => c.docs.foreach(feed); c.embs.foreach(feed)
      case p: Product => p.productIterator.foreach(feed)
      case m: Map[_, _] => m.toVector.sortBy(_._1.toString).foreach(feed)
      case s: Iterable[_] => s.foreach(feed)
    }
    parts.foreach(feed)
    md.digest().map("%02x".format(_)).mkString
  }
}

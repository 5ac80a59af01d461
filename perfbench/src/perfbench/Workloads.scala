package perfbench

import graft.operators._
import Main._

/** `form_etl`: generated contract PDFs (raw and FlateDecode, plus
  * image-only scans with page bitmaps) through the two-rung front door,
  * and the matching `documents` table through layout → scoped extraction
  * → validation → `pipeline_output` → evaluation. Per-document CPU; no
  * dedup and no store.
  */
object FormEtl {
  val Docs = 4000

  def run(o: Opts, plain: Runner, traced: Option[Runner], tracer: Option[Tracer]): Outcome = {
    val spark = plain.spark
    val dir = s"${o.work}/form_etl"
    checkGenerator(plain, o.seed)((s, f) => Gen.form(s, (Docs * f).toInt))
    val in = Gen.form(o.seed, Docs)
    writeCorpus(spark, in.corpus, dir)
    import spark.implicits._
    in.pdfs.toDF("doc_id", "payload").write.mode("overwrite").parquet(s"$dir/pdfs.parquet")
    in.pages.toDF("doc_id", "page", "payload").write.mode("overwrite").parquet(s"$dir/pages.parquet")
    def pdfs = spark.read.parquet(s"$dir/pdfs.parquet")
    def pages = spark.read.parquet(s"$dir/pages.parquet")

    def pass(r: Runner): Vector[Option[Digest]] = Vector(
      r.op("ingest.native")(Ingestion.decodePdfBlocks(pdfs))(Digest.of(_)),
      r.op("ingest.ocr")(GlyphOcr.ocrBlocks(pages))(Digest.of(_)),
      r.op("layout.clause_graph")(Layout.clauseGraph(spark, dir))(Digest.of(_)),
      r.op("extract.scoped")(SchemaExtract.extractFieldsScoped(spark, dir))(Digest.of(_)),
      r.op("validate.form")(Validation.formFieldValidate(spark, dir))(Digest.of(_)),
      r.op("finalize.pipeline_output")(Orchestrator.pipelineOutput(spark, dir))(Digest.of(_)),
      r.op("eval.extraction")(Evaluation.evaluateExtraction(spark, dir))(Digest.of(_)))

    val (times, outs) = passes(o, minWarm = 3)(pass(plain))
    checkRepeatable(plain, "form_etl", outs)
    val first = outs.head
    plain.check("pipeline_output has one row per generated doc")(
      first(5).exists(_.rows == Docs))

    // the composed front door: its blocks are the native rung's plus the
    // OCR rung's, every doc comes back, and every scan's text comes back
    // through OCR exactly as rendered
    val scannedIds = in.scanned.keySet
    plain.op("check.front_door")(GlyphOcr.frontDoorBlocks(pdfs, pages)) { fd =>
      val d = Digest.of(fd, Seq("doc_id", "page", "block_id", "block_text"),
        v => scannedIds(v.head.asInstanceOf[Long]))
      plain.check("front door = native rung + OCR rung")(
        first(0).zip(first(1)).exists { case (n, c) => (n + c).same(d) })
      plain.check("every doc comes back through the front door")(
        fd.select("doc_id").distinct().count() == Docs)
      val got = d.kept.groupBy(_.head.asInstanceOf[Long]).map { case (id, rows) =>
        id -> rows.sortBy(v => (v(1).asInstanceOf[Long], v(2).asInstanceOf[Long]))
          .map(_(3).asInstanceOf[String])
      }
      plain.check(s"every image-only doc (${scannedIds.size}) comes back through OCR")(
        scannedIds.nonEmpty && scannedIds.forall(id => got.get(id).contains(in.scanned(id))))
    }

    val warm = times.drop(1).map(_.wallS)
    val e2e = passMetrics(Docs, times)
    val layer = traced.zip(tracer).map { case (tr, t) =>
      val (tracedOut, _) = timed(pass(tr))
      checkRepeatable(tr, "form_etl traced", Vector(first, tracedOut))
      val spans = t.spans()
      layerMetrics(o, spans, spans.map(_.wallS).sum / median(warm), Vector.empty)
    }.getOrElse(Vector.empty)
    Outcome(e2e, layer, Vector(Metric("form.docs", Docs, "docs", 1),
      Metric("form.scanned_docs", scannedIds.size, "docs", 1),
      Metric("pass_s", median(warm), "s", warm.size)))
  }
}

/** `curate`: `pipeline_curate` over a corpus with planted exact and near
  * duplicates and eval-set contamination. Corpus-wide pair discovery over
  * five dedup lanes, connected components and filters.
  */
object Curate {
  val Docs = 3000

  def run(o: Opts, plain: Runner, traced: Option[Runner], tracer: Option[Tracer]): Outcome = {
    val spark = plain.spark
    val dir = s"${o.work}/curate"
    checkGenerator(plain, o.seed)((s, f) => Gen.curate(s, (Docs * f).toInt))
    val in = Gen.curate(o.seed, Docs)
    writeCorpus(spark, in.corpus, dir)
    val planted = in.nearPairs.flatMap(p => Vector(p._1, p._2)).toSet

    def pipeline(r: Runner): Option[Digest] =
      r.op("curation.pipeline")(Curation.pipelineCurate(spark, dir))(
        Digest.of(_, Seq("doc_id", "dedup_keep", "cluster_size"),
          v => planted(v.head.asInstanceOf[Long])))

    val (times, outs) = passes(o, minWarm = 3)(Vector(pipeline(plain)))
    checkRepeatable(plain, "curate", outs)
    val first = outs.head.head
    val evalDocs = (0 until Docs).count(_ % Gen.EvalMod == 0)
    plain.check("pipeline_curate has one row per non-eval doc")(
      first.exists(_.rows == Docs - evalDocs))
    // a planted pair is recovered when both docs sit in one cluster: the
    // same cluster size (≥ 2) and not both kept as canonicals
    val byId = first.map(_.kept.map(v => v.head.asInstanceOf[Long] ->
      (v(1).asInstanceOf[Boolean], v(2).asInstanceOf[Long])).toMap).getOrElse(Map.empty)
    val hits = in.nearPairs.count { case (a, b) =>
      (byId.get(a), byId.get(b)) match {
        case (Some((ka, sa)), Some((kb, sb))) => sa >= 2 && sa == sb && !(ka && kb)
        case _ => false
      }
    }
    val recall = hits.toDouble / in.nearPairs.size

    val warm = times.drop(1).map(_.wallS)
    val e2e = passMetrics(Docs, times)
    // the traced run: each dedup lane and curation step on its own, the
    // pipeline again, then the store lifecycle over the same Dedup code
    val layer = traced.zip(tracer).map { case (tr, t) =>
      Vector(
        tr.op("dedup.exact")(Dedup.dedupExact(spark, dir))(Digest.of(_)),
        tr.op("dedup.minhash")(Dedup.dedupMinhashLsh(spark, dir))(Digest.of(_)),
        tr.op("dedup.srp")(Dedup.dedupEmbeddingSrp(spark, dir))(Digest.of(_)),
        tr.op("dedup.winnow")(TextAnalysis.dedupWinnowContain(spark, dir))(Digest.of(_)),
        tr.op("dedup.clusters")(Dedup.dedupClusters(spark, dir))(Digest.of(_)),
        tr.op("curation.decontam_fuzzy")(Curation.decontaminateFuzzy(spark, dir))(Digest.of(_)))
      val tracedOut = pipeline(tr)
      checkRepeatable(tr, "curate traced", Vector(outs.head, Vector(tracedOut)))
      val (storeOps, storeSize) = StoreLifecycle.run(o, tr)
      val spans = t.spans()
      val pipe = spans.filter(_.name == "curation.pipeline").map(_.wallS).sum
      (layerMetrics(o, spans, pipe / median(warm), storeSize), storeOps)
    }.getOrElse((Vector.empty, Vector.empty))
    Outcome(e2e, layer._1, Vector(Metric("dup_recall", recall, "ratio", in.nearPairs.size),
      Metric("curate.docs", Docs, "docs", 1),
      Metric("pass_s", median(warm), "s", warm.size)) ++ layer._2)
  }
}

/** The stored-artifact lifecycle, run inside `curate`'s traced run: a
  * base build of the unified dedup store, the IVF-PQ index and the
  * postings index, then one seeded cycle against the live stores — a
  * crawl (dedup verdicts + both index appends) carrying near duplicates
  * of base docs, a takedown (retract from all three) and a hybrid query
  * after it. Every operation is dominated by launching Spark jobs; a
  * lifecycle costs more than both workloads' timed passes together,
  * which is why it is traced once instead of timed on every run.
  */
object StoreLifecycle {
  val BaseDocs = 1000
  val CrawlDocs = 100
  val RetractDocs = 10

  /** Runs the lifecycle through `r`; returns report metrics (per-kind
    * operation times and the store's `dup_recall`) and the store size
    * metrics taken after the crawl and after the takedown.
    */
  def run(o: Opts, r: Runner): (Vector[Metric], Vector[Metric]) = {
    val spark = r.spark
    import spark.implicits._
    val dir = s"${o.work}/store_lifecycle"
    val root = s"$dir/root"
    val gen = (s: Long, f: Double) => Gen.store(s, (BaseDocs * f).toInt, 1,
      (CrawlDocs * f).toInt, (RetractDocs * f).toInt)
    checkGenerator(r, o.seed)(gen)
    val in = gen(o.seed, 1.0)
    val crawl = in.crawls.head
    val gone = in.retracts.head.toSet
    writeCorpus(spark, in.base, s"$dir/base")
    writeCorpus(spark, crawl, s"$dir/crawl")
    writeCorpus(spark, in.base ++ crawl, s"$dir/all")
    in.retracts.head.toDF("doc_id").write.mode("overwrite").parquet(s"$dir/retract.parquet")

    val ops = Vector.newBuilder[Metric]
    val store = Vector.newBuilder[Metric]
    def timedOp(name: String)(f: => Unit): Unit =
      ops += Metric(s"store.$name", timed(f)._2, "s", 1)
    def measureStore(kind: String, ingested: Seq[String]): Unit = {
      val (files, bytes) = filesUnder(root)
      store += Metric(s"store.$kind.files", files, "count", 1)
      store += Metric(s"store.$kind.bytes_per_input_byte",
        bytes.toDouble / ingested.map(p => filesUnder(s"$dir/$p")._2).sum, "ratio", 1)
    }
    timedOp("build_s") {
      val docs = docsOf(spark, s"$dir/base"); val embs = embsOf(spark, s"$dir/base")
      r.write("dedup.write")(UnifiedDedupStore.write(docs, embs, s"$root/dedup"))
      r.write("ann.write")(AnnIndex.writeIvfPqFrom(embs, s"$root/ivfpq"))
      r.write("postings.write")(PostingsIndex.writePostingsFrom(docs, s"$root/lex"))
    }
    timedOp("crawl_s") {
      val docs = docsOf(spark, s"$dir/crawl"); val embs = embsOf(spark, s"$dir/crawl")
      val v = r.op("dedup.crawl")(UnifiedDedupStore.processCrawl(spark, s"$root/dedup",
        docs, embs, "crawl0"))(Digest.of(_, Seq("doc_id", "origin"), _(1) == "delta"))
      r.check("crawl: one verdict per crawl doc")(v.exists(d =>
        d.kept.map(_.head).distinct.size == CrawlDocs && d.kept.size == CrawlDocs))
      r.write("ann.append")(AnnIndex.appendToIvfPq(spark, s"$root/ivfpq", embs))
      r.write("postings.append")(PostingsIndex.appendToPostings(spark, s"$root/lex", docs))
    }
    measureStore("crawl", Seq("base", "crawl"))
    timedOp("retract_s") {
      val ids = spark.read.parquet(s"$dir/retract.parquet")
      r.write("dedup.retract")(UnifiedDedupStore.retract(spark, s"$root/dedup", ids, "retract0"))
      r.write("ann.retract")(AnnIndex.retractFromIvfPq(spark, s"$root/ivfpq", ids))
      r.write("postings.retract")(PostingsIndex.retractFromPostings(spark, s"$root/lex", ids))
    }
    measureStore("retract", Seq("base", "crawl"))
    val clusterOf = spark.read.parquet(s"$root/dedup/membership")
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
    r.check("retract: no retracted id left in the membership")(gone.forall(!clusterOf.contains(_)))
    timedOp("query_s") {
      val d = r.op("hybrid.query")(Similarity.hybridSearchRrfStoredFrom(spark, root,
        docsOf(spark, s"$dir/all"), embsOf(spark, s"$dir/all")))(
        Digest.of(_, Seq("doc_id"), _ => true))
      r.check("post-retract hybrid results hold no retracted id")(
        d.exists(_.kept.forall(v => !gone(v.head.asInstanceOf[Long]))))
    }
    // recall over the planted pairs the store still holds: both ends
    // ingested and neither taken down
    val ingested = BaseDocs + CrawlDocs
    val live = in.nearPairs.filter { case (a, b) =>
      a < ingested && b < ingested && !gone(a) && !gone(b)
    }
    r.check("store: planted pairs are scored")(live.nonEmpty)
    val recall = live.count { case (a, b) =>
      clusterOf.get(a).exists(c => clusterOf.get(b).contains(c))
    }.toDouble / live.size
    (ops.result() :+ Metric("store.dup_recall", recall, "ratio", live.size), store.result())
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.sources.Tables

/** `dedup_membership_apply` + `dedup_delta_keep_best`: the write-back that
  * advances the stored membership parquet must COMPOSE — folding two
  * successive crawls' verdicts must land on exactly the membership a full
  * five-lane rebuild over base ∪ crawl1 ∪ crawl2 produces (the property
  * that makes the incremental loop sound: after K crawls the store is
  * never stale) — and the quality-canonical act step must let a delta doc
  * DEMOTE a stored canonical, which min-id keep can never express.
  */
class DedupMembershipApplySpec extends SparkSpec {

  private type MemberRow = (Long, Long, Long, Boolean)

  private def toSet(df: DataFrame): Set[MemberRow] =
    df.select("doc_id", "cluster_id", "cluster_size", "is_canonical")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"),
        r.getAs[Long]("cluster_size"), r.getAs[Boolean]("is_canonical")))
      .toSet

  test("two-crawl associativity: apply(apply(base, c1), c2) ≡ full-corpus rebuild; store round-trips through parquet") {
    val docs = Tables.documents(spark, sf)
    val embs = Tables.embeddings(spark, sf)
    // three generations: crawl1 = %10, crawl2 = %7 (minus crawl1), base = rest
    val d = col("doc_id"); val v = col("vec_id")
    val c1D = d % 10 === 0
    val c2D = d % 7 === 0 && d % 10 =!= 0
    val c1V = v % 10 === 0
    val c2V = v % 7 === 0 && v % 10 =!= 0
    val baseDocs = docs.filter(!c1D && !c2D)
    val baseEmbs = embs.filter(!c1V && !c2V)

    val dir = java.nio.file.Files.createTempDirectory("graft-mapply").toString
    // crawl 0 (index build): persist the base membership
    Dedup.clustersFromPairs(Dedup.unifiedPairsOf(baseDocs, baseEmbs))
      .write.mode("overwrite").parquet(s"$dir/membership")
    Dedup.releaseIntermediates()

    // crawl 1: verdicts against the STORE, fold, write back
    val m0 = spark.read.parquet(s"$dir/membership")
    val v1 = Dedup.dedupKeepUnifiedDeltaFrom(m0,
      Dedup.unifiedDeltaPairsOf(baseDocs, baseEmbs, docs.filter(c1D), embs.filter(c1V)),
      docs.filter(c1D))
    Dedup.membershipApply(m0, v1)
      .write.mode("overwrite").parquet(s"$dir/membership2")
    Dedup.releaseIntermediates()

    // crawl 2: base is now base ∪ crawl1 — the lanes' stored indexes grew,
    // the membership comes from the ADVANCED store
    val m1 = spark.read.parquet(s"$dir/membership2")
    val v2 = Dedup.dedupKeepUnifiedDeltaFrom(m1,
      Dedup.unifiedDeltaPairsOf(docs.filter(!c2D), embs.filter(!c2V),
        docs.filter(c2D), embs.filter(c2V)),
      docs.filter(c2D))
    val m2 = toSet(Dedup.membershipApply(m1, v2))
    Dedup.releaseIntermediates()

    val want = toSet(Dedup.clustersFromPairs(Dedup.unifiedPairsOf(docs, embs)))
    Dedup.releaseIntermediates()
    assert(m2.nonEmpty && want.exists(_._3 > 1), "corpus must carry real clusters")
    assert(m2 == want,
      s"applied-only: ${(m2 -- want).take(5)}; rebuild-only: ${(want -- m2).take(5)}")
  }

  test("membershipApply table algebra: touched rows replaced, untouched kept, singletons excluded") {
    import spark.implicits._
    // stored: {1,2} and {3,4}; verdicts merge {1,2} with delta 10 and
    // leave {3,4} untouched; delta 20 is a unique singleton
    val stored = Seq((1L, 1L, 2L, true), (2L, 1L, 2L, false),
        (3L, 3L, 2L, true), (4L, 3L, 2L, false))
      .toDF("doc_id", "cluster_id", "cluster_size", "is_canonical")
    val verdicts = Seq(
        (1L, 1L, 3L, "base", "canonical"), (2L, 1L, 3L, "base", "dup"),
        (10L, 1L, 3L, "delta", "dup"), (20L, 20L, 1L, "delta", "unique"))
      .toDF("doc_id", "cluster_id", "cluster_size", "origin", "status")
    val got = toSet(Dedup.membershipApply(stored, verdicts))
    val expected = Set[MemberRow](
      (1L, 1L, 3L, true), (2L, 1L, 3L, false), (10L, 1L, 3L, false),
      (3L, 3L, 2L, true), (4L, 3L, 2L, false))
    assert(got == expected, s"got $got")
  }

  test("artifact-amortized mode is plan-only: unified carve AND every per-lane delta identical with and without it") {
    import org.apache.spark.sql.SparkSession
    val lanes: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "dedup_keep_unified_delta" -> (Dedup.dedupKeepUnifiedDelta _),
      // the other four consumers of the session-cached crawl-verdict
      // artifact (r15) — the amortized verdict table must stay plan-only
      // for every act step that reads it
      "dedup_membership_apply" -> (Dedup.dedupMembershipApply _),
      "dedup_delta_keep_best" -> (Dedup.dedupDeltaKeepBest _),
      "corpus_curate_delta" -> (graft.operators.Curation.corpusCurateDelta _),
      "corpus_curate_delta_best" ->
        (graft.operators.Curation.corpusCurateDeltaBest _),
      "dedup_delta" -> (Dedup.dedupDelta _),
      "dedup_exact_delta" -> (Dedup.dedupExactDelta _),
      "dedup_media_delta" -> (Dedup.dedupMediaDelta _),
      "dedup_simhash_delta" -> (Dedup.dedupSimhashDelta _),
      "dedup_embedding_srp_delta" -> (Dedup.dedupEmbeddingSrpDelta _),
      "dedup_winnow_contain_delta" ->
        (graft.operators.TextAnalysis.dedupWinnowContainDelta _),
      "dedup_membership_retract" -> (Dedup.dedupMembershipRetract _),
      // the six ONE-SHOT unified rows share the session-cached tagged
      // pair table (r14) — amortized mode must stay plan-only for them too
      "dedup_keep_unified" -> (Dedup.dedupKeepUnified _),
      "dedup_keep_best_unified" -> (Dedup.dedupKeepBestUnified _),
      "dedup_cluster_stats" -> (Dedup.dedupClusterStats _),
      "dedup_lanes_report" -> (Dedup.dedupLanesReport _),
      "corpus_curate" -> (graft.operators.Curation.corpusCurate _),
      "pipeline_curate" -> (graft.operators.Curation.pipelineCurate _),
      // tokenizer pricing rows ride the stored vocab-grain segmentation
      // artifacts (r15) — read-back must price identically to in-query
      "unigram_fertility" -> (graft.operators.Unigram.unigramFertility _),
      "tokenizer_compare" -> (graft.operators.WordPiece.tokenizerCompare _),
      // r16 trained-in-query rows now ride stored model artifacts (NB
      // trigram counts, kmeans cell assignment, seen-gram inventory) —
      // read-back must score identically to in-query
      "lang_id_nb" -> (graft.operators.Classify.langIdNb _),
      "dedup_semantic" -> (Dedup.dedupSemantic _),
      "ngram_novelty" -> (graft.operators.TextAnalysis.ngramNovelty _),
      // r16 drift report rides BOTH stored segmentation tables (full +
      // base-carve)
      "tokenizer_drift_report" ->
        (graft.operators.Unigram.tokenizerDriftReport _),
      // r16 retrieval-store rows amortize the BUILD half into the cache
      // (directory stores via storedDirRoot) — query answers must be
      // identical against a cached store and a fresh build
      "hybrid_search_rrf_stored" ->
        (graft.operators.Similarity.hybridSearchRrfStored _),
      "ann_mmr_rerank_stored" ->
        (graft.operators.Similarity.annMmrRerankStored _),
      "ann_topk_ivfpq_stored" ->
        (graft.operators.AnnIndex.annTopKIvfPqStored _),
      // r17: the train halves (centroids + codebooks, raw AND residual)
      // ride the cache; the query halves re-run — answers must match
      // the in-query train bit for bit
      "ann_topk_ivfpq_r" ->
        (graft.operators.Similarity.annTopKIvfPqR _),
      "ann_topk_ivfpq" ->
        (graft.operators.Similarity.annTopKIvfPq _),
      "ann_topk_pq" ->
        (graft.operators.Similarity.annTopKPq _),
      // r16 LM/NB lifecycle rows: pristine stores amortize, the measured
      // mutation runs on a fresh copy — answers must be identical with
      // the cache on (copy path) and off (direct build)
      "doc_perplexity_sbo_stored" ->
        (graft.operators.LmIndex.docPerplexitySboStored _),
      "doc_perplexity_sbo_incr" ->
        (graft.operators.LmIndex.docPerplexitySboIncr _),
      "doc_perplexity_sbo_retract" ->
        (graft.operators.LmIndex.docPerplexitySboRetract _),
      "nb_classify_incr" -> (graft.operators.NbIndex.nbClassifyIncr _))
    def runAll(): Map[String, Seq[Seq[Any]]] = lanes.map { case (name, fn) =>
      val rows = fn(spark, sf).collect().map(_.toSeq).toSeq
      Dedup.releaseIntermediates()
      name -> rows
    }.toMap
    val plain = runAll()
    val root = java.nio.file.Files.createTempDirectory("graft-bench-art").toString
    spark.conf.set("spark.graft.bench.artifactDir", root)
    try {
      // twice: first build-and-read, then pure read-back — both must match
      val viaArtifacts = runAll()
      val rereadTwice = runAll()
      lanes.foreach { case (name, _) =>
        assert(viaArtifacts(name) == plain(name),
          s"$name: artifact path must be result-identical to the in-query build")
        assert(rereadTwice(name) == plain(name),
          s"$name: cached-artifact re-read must be result-identical")
      }
    } finally spark.conf.unset("spark.graft.bench.artifactDir")
  }

  test("artifact cache keys on the dedup conf: a knob change within a session rebuilds instead of serving stale stores") {
    import org.apache.spark.sql.SparkSession
    import graft.operators.{LmIndex, Similarity}
    // one row per publish path: storedIndex (the dedup lanes + membership),
    // storedDirRoot (the IVF-PQ train store) and storedDirCopy (the SBO
    // base store); the last two knobs were keyed only by a per-call
    // fingerprint before the cache keyed on the whole conf
    val cases: Seq[(String, (SparkSession, String) => DataFrame, Seq[(String, String)])] = Seq(
      ("dedup_keep_unified_delta", Dedup.dedupKeepUnifiedDelta _,
        Seq("spark.graft.dedup.minhashTau" -> "0.99", "spark.graft.dedup.cosineTau" -> "0.99")),
      ("ann_topk_ivfpq", Similarity.annTopKIvfPq _, Seq("spark.graft.kmeans.k" -> "6")),
      ("doc_perplexity_sbo_incr", LmIndex.docPerplexitySboIncr _,
        Seq("spark.graft.ppl.sboTrainMod" -> "3")))
    cases.foreach { case (name, fn, knobs) =>
      def run(): Seq[Seq[Any]] = {
        val rows = fn(spark, sf).collect().map(_.toSeq).toSeq
        Dedup.releaseIntermediates()
        rows
      }
      val root = java.nio.file.Files.createTempDirectory("graft-bench-drift").toString
      spark.conf.set("spark.graft.bench.artifactDir", root)
      try {
        val defaultConf = run() // warms the artifacts under the default conf
        knobs.foreach { case (k, v) => spark.conf.set(k, v) }
        val viaArtifacts = run() // must NOT read the default-conf stores
        spark.conf.unset("spark.graft.bench.artifactDir")
        val fresh = run() // in-query build under the same changed knobs
        assert(viaArtifacts == fresh,
          s"$name: knob change within a session must rebuild the cached artifacts, not serve stale ones")
        assert(viaArtifacts != defaultConf,
          s"$name: vacuous: the knob change must actually alter the rows for this test to prove anything")
      } finally {
        spark.conf.unset("spark.graft.bench.artifactDir")
        knobs.foreach { case (k, _) => spark.conf.unset(k) }
      }
    }
  }

  test("artifact cache key tracks the whole spark.graft.* conf: same conf reads back, any knob change rebuilds, restoring it reads the first store") {
    import graft.operators.ArtifactCatalog
    val docs = Tables.documents(spark, sf)
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    val plain = rows(Dedup.exactHashIndexOf(docs))
    var builds = 0
    def index(): DataFrame = ArtifactCatalog.storedIndex(spark, "exact-key", sf) {
      builds += 1
      Dedup.exactHashIndexOf(docs)
    }
    def dirRoot(): String = ArtifactCatalog.storedDirRoot(spark, "dir-key", sf) { p =>
      builds += 1
      docs.select("doc_id").write.parquet(p)
    }
    val root = java.nio.file.Files.createTempDirectory("graft-bench-key").toString
    spark.conf.set("spark.graft.bench.artifactDir", root)
    try {
      assert(rows(index()) == plain)
      val first = dirRoot()
      assert(builds == 2, "the first call of each must build")
      assert(rows(index()) == plain && dirRoot() == first && builds == 2,
        "the same conf must read both stores back without building")
      // a knob outside every dedup fingerprint: no lane reads it, yet the
      // cache cannot know which knobs a build depends on, so it rebuilds
      spark.conf.set("spark.graft.pack.shards", "3")
      assert(rows(index()) == plain)
      val other = dirRoot()
      assert(builds == 4 && other != first, "a changed knob must rebuild each store")
      spark.conf.unset("spark.graft.pack.shards")
      assert(rows(index()) == plain && dirRoot() == first && builds == 4,
        "restoring the knob must read the first stores back without building")
    } finally {
      spark.conf.unset("spark.graft.bench.artifactDir")
      spark.conf.unset("spark.graft.pack.shards")
    }
  }

  test("artifact cache survives a failed build: nothing is published, the next call rebuilds to the in-query rows") {
    import graft.operators.ArtifactCatalog
    val docs = Tables.documents(spark, sf)
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    val plain = rows(Dedup.exactHashIndexOf(docs))
    val root = java.nio.file.Files.createTempDirectory("graft-bench-fail").toString
    def stored(build: => DataFrame): DataFrame =
      ArtifactCatalog.storedIndex(spark, "exact-fail", sf)(build)
    spark.conf.set("spark.graft.bench.artifactDir", root)
    try {
      // the build dies on the driver before any write ...
      intercept[IllegalStateException](stored(throw new IllegalStateException("boom")))
      assert(new java.io.File(root).list().isEmpty, "a build that throws must leave nothing")
      // ... and inside the write job, after other tasks may have written parts
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      intercept[Exception](stored(Dedup.exactHashIndexOf(docs).withColumn("doc_id",
        when(col("doc_id") === maxId, raise_error(lit("boom"))).otherwise(col("doc_id")))))
      assert(new java.io.File(root).list().isEmpty, "a write that fails must leave nothing")
      assert(rows(stored(Dedup.exactHashIndexOf(docs))) == plain,
        "the next call must rebuild to the in-query rows")
      assert(rows(stored(throw new AssertionError("a published store must not rebuild"))) == plain)
    } finally spark.conf.unset("spark.graft.bench.artifactDir")
  }

  test("dedup_delta_keep_best: a higher-quality delta doc demotes the stored canonical") {
    import spark.implicits._
    // stored clusters {1,2} and {3,4}; delta 10 joins {1,2} with the best
    // qint in its merged cluster (the demotion case), delta 30 joins
    // {3,4} where base doc 3 stays best (the control), delta 20 unique
    val stored = Seq((1L, 1L, 2L, true), (2L, 1L, 2L, false),
        (3L, 3L, 2L, true), (4L, 3L, 2L, false))
      .toDF("doc_id", "cluster_id", "cluster_size", "is_canonical")
    val deltaPairs = Seq((2L, 10L), (3L, 30L)).toDF("doc_a", "doc_b")
    val deltaDocs = Seq((10L, "x"), (20L, "y"), (30L, "z")).toDF("doc_id", "text")
    val scores = Seq((1L, 100L), (2L, 50L), (10L, 999L),
        (3L, 999L), (4L, 10L), (30L, 10L), (20L, 5L))
      .toDF("doc_id", "qint")
    val verdicts = Dedup.dedupKeepUnifiedDeltaFrom(stored, deltaPairs, deltaDocs)
    val got = Dedup.dedupDeltaKeepBestFrom(verdicts, scores)
      .select("doc_id", "status").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    Dedup.releaseIntermediates()
    assert(got(10L) == "best" && got(1L) == "dup" && got(2L) == "dup",
      s"delta doc must demote the stored canonical: $got")
    assert(got(3L) == "best" && got(30L) == "dup",
      s"base doc must stay best when it outranks the crawl: $got")
    assert(got(20L) == "unique", s"untouched delta doc must stay unique: $got")
  }
}

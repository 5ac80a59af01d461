package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.Metadata
import graft.operators.{AnnIndex, ArtifactCatalog, Bpe, Dedup, LmIndex, NbIndex, TextAnalysis, Unigram}
import graft.operators.ArtifactCatalog._
import graft.sources.Tables

/** The stored-artifact registry: stamped artifacts under one root are
  * inventoried with their build-time fingerprints, and drift against the
  * live conf is reported per artifact — the fleet view over the same
  * stamps the per-query paths fail fast on.
  */
class ArtifactCatalogSpec extends SparkSpec {

  test("health reports fragmentation: appends raise per-partition file counts, compaction restores them") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft_health").toString
    val embs = graft.sources.Tables.embeddings(spark, sf)
    graft.operators.AnnIndex.writeIvfPqFrom(
      embs.filter(col("vec_id") % 3 =!= 2), s"$root/ivfpq")
    graft.operators.AnnIndex.appendToIvfPq(spark, s"$root/ivfpq",
      embs.filter(col("vec_id") % 3 === 2))
    graft.operators.Dedup.releaseIntermediates()
    def codesRow() = ArtifactCatalog.health(spark, root).collect()
      .find(_.getAs[String]("path").endsWith("codes")).get
    val frag = codesRow()
    assert(frag.getAs[Long]("n_partitions") > 0,
      s"the code table is cell-partitioned: $frag")
    assert(frag.getAs[Long]("max_files_per_partition") > 1,
      s"an append must fragment at least one cell: $frag")
    graft.operators.AnnIndex.compactIvfPq(spark, s"$root/ivfpq")
    val compacted = codesRow()
    assert(compacted.getAs[Long]("max_files_per_partition") == 1,
      s"post-compaction each cell holds one file: $compacted")
    assert(compacted.getAs[Long]("bytes") > 0 && compacted.getAs[Long]("n_files") ==
      compacted.getAs[Long]("n_partitions"), s"file accounting drifted: $compacted")
  }

  test("scan inventories stamped artifacts and flags conf drift per kind") {
    val root = java.nio.file.Files.createTempDirectory("graft_artifacts").toString
    Bpe.writeMerges(spark, sf, s"$root/bpe_merges")
    TextAnalysis.winnowFpIndexOf(graft.sources.Tables.documents(spark, sf))
      .write.mode("overwrite").parquet(s"$root/winnow_idx")
    graft.operators.Dedup.releaseIntermediates()

    val clean = ArtifactCatalog.scan(spark, root).collect()
      .map(r => r.getAs[String]("kind") ->
        (r.getAs[String]("path"), r.getAs[Boolean]("drifted"))).toMap
    assert(clean.keySet == Set("graft.bpe", "graft.winnow"))
    assert(clean.values.forall(!_._2), s"freshly-built artifacts must not drift: $clean")
    assert(clean("graft.bpe")._1.endsWith("bpe_merges"))
    assert(clean("graft.winnow")._1.endsWith("winnow_idx"))

    // drift ONE knob: only the artifact of that kind flips
    spark.conf.set("spark.graft.bpe.merges", "5")
    try {
      val drifted = ArtifactCatalog.scan(spark, root).collect()
        .map(r => r.getAs[String]("kind") ->
          (r.getAs[String]("stored_conf"), r.getAs[String]("live_conf"),
            r.getAs[Boolean]("drifted"))).toMap
      assert(drifted("graft.bpe") == (("merges=8", "merges=5", true)))
      assert(!drifted("graft.winnow")._3)
    } finally spark.conf.unset("spark.graft.bpe.merges")
  }

  /** One row per registered stamp kind: how to build the artifact at a
    * path, which stored table and column carry the stamp, and a knob
    * whose change drifts that kind's fingerprint.
    */
  private case class Kind(stamp: ConfStamp, build: String => Unit, table: String,
      column: String, knob: (String, String))

  private def kinds: Seq[Kind] = {
    val docs = Tables.documents(spark, sf)
    val embs = Tables.embeddings(spark, sf)
    def write(df: => DataFrame): String => Unit =
      p => df.write.mode("overwrite").parquet(p)
    Seq(
      Kind(BandingStamp, write(Dedup.bandTableOf(Dedup.hashedShingleSetsOf(docs))), "",
        "band_hash", "spark.graft.dedup.bands" -> "8"),
      Kind(SrpStamp, write(Dedup.srpBandRows(embs.select("vec_id", "embedding"))), "",
        "band_val", "spark.graft.dedup.srpBits" -> "16"),
      Kind(WinnowStamp, write(TextAnalysis.winnowFpIndexOf(docs)), "",
        "fp", "spark.graft.winnow.k" -> "3"),
      Kind(LineStamp, write(TextAnalysis.lineUnitIndexOf(docs)), "",
        "h", "spark.graft.linedd.chunkWords" -> "6"),
      Kind(BpeStamp, p => Bpe.writeMerges(spark, sf, p), "",
        "new_sym", "spark.graft.bpe.merges" -> "5"),
      Kind(UnigramStamp, p => Unigram.writeModel(spark, sf, p), "",
        "piece", "spark.graft.unigram.seedK" -> "48"),
      Kind(SboStamp, p => LmIndex.writeSbo(spark, sf, p), "/c2",
        "w1", "spark.graft.ppl.sboTrainMod" -> "3"),
      Kind(NbStamp, p => NbIndex.writeNb(spark, sf, p, "words"), "/cw",
        "lang", "spark.graft.nb.evalMod" -> "9"),
      Kind(AnnStamp, p => AnnIndex.writeIvfPqFrom(embs, p), "/codebooks",
        "cemb", "spark.graft.ann.pqK" -> "16"))
  }

  test("every stamp kind: parquet round-trip passes, drift and a stripped stamp fail fast, scan reports it") {
    val root = java.nio.file.Files.createTempDirectory("graft_stamps").toString
    val ks = kinds
    assert(ks.map(_.stamp.key).toSet == ArtifactCatalog.Stamps.map(_.key).toSet,
      "every registered stamp kind needs a row in this table")
    ks.foreach { k =>
      val key = k.stamp.key
      val path = s"$root/$key"
      k.build(path)
      Dedup.releaseIntermediates()
      def stored = spark.read.parquet(path + k.table)
      val fp = k.stamp.check(stored, key, k.column)
      assert(fp == k.stamp.live(fp), s"$key: a fresh build must match the live conf")

      val (knob, v) = k.knob
      spark.conf.set(knob, v)
      try {
        val live = k.stamp.live(fp)
        assert(live != fp, s"$key: $knob=$v must drift the fingerprint")
        val e = intercept[IllegalStateException](k.stamp.check(stored, key, k.column))
        assert(e.getMessage.contains(fp) && e.getMessage.contains(live), e.getMessage)
      } finally spark.conf.unset(knob)

      val stripped = stored.withColumn(k.column, col(k.column).as(k.column, Metadata.empty))
      val e2 = intercept[IllegalStateException](k.stamp.check(stripped, key, k.column))
      assert(e2.getMessage.contains(s"no $key conf stamp"), e2.getMessage)
    }
    val scanned = ArtifactCatalog.scan(spark, root).collect()
      .map(r => r.getAs[String]("kind") -> r.getAs[Boolean]("drifted"))
    assert(scanned.map(_._1).toSet == ArtifactCatalog.Stamps.map(_.key).toSet,
      s"scan must report every kind: ${scanned.toSeq}")
    assert(scanned.forall(!_._2), s"nothing drifted at the build conf: ${scanned.toSeq}")
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.sources.{Sinks, Tables}

/** Incremental embedding dedup (`srpDeltaFrom`): the batch
  * delta-vs-persisted-SRP-index lane must reproduce the full-corpus SRP
  * operator restricted to delta-touching pairs, survive the bucketed
  * catalog round-trip shuffle-free on the index side, and fail fast on SRP
  * conf drift — the same contract matrix the MinHash band index already
  * carries (SinksSpec / DedupDeltaSpec equivalents).
  */
class SrpDeltaSpec extends SparkSpec {

  private def toSet(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
    (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("cos"))).toSet

  test("srpDeltaFrom ≡ full-corpus SRP restricted to delta-touching pairs") {
    val got = toSet(Dedup.dedupEmbeddingSrpDelta(spark, sf).collect())
    Dedup.releaseIntermediates()
    val full = toSet(Dedup.dedupEmbeddingSrp(spark, sf).collect())
      .filter(p => p._1 % Dedup.DeltaIdMod == 0 || p._2 % Dedup.DeltaIdMod == 0)
    Dedup.releaseIntermediates()
    assert(got.nonEmpty, "planted embedding near-dups must straddle the split")
    assert(got == full,
      s"delta-only: ${got -- full}; full-only: ${full -- got}")
  }

  test("bucketed SRP index: index side of the per-crawl join sheds its Exchange; same pairs; stamp survives") {
    val e = Tables.embeddings(spark, sf)
    val base = e.filter(col("vec_id") % Dedup.DeltaIdMod =!= 0)
    val delta = e.filter(col("vec_id") % Dedup.DeltaIdMod === 0)
    val nShuffle = spark.conf.get("spark.sql.shuffle.partitions").toInt
    Sinks.writeBucketedBy(Dedup.srpBandRows(base), "srp_idx_b",
      Seq("band_id", "band_val"), buckets = nShuffle)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      def exchanges(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.executedPlan.toString
          .split('\n').count(_.contains("Exchange hashpartitioning"))
      val touched = Dedup.srpBandRows(delta).select("band_id", "band_val").distinct()
      val viaBucketed = spark.table("srp_idx_b").join(touched, Seq("band_id", "band_val"))
      val viaComputed = Dedup.srpBandRows(base).join(touched, Seq("band_id", "band_val"))
      val pB = viaBucketed.queryExecution.executedPlan.toString
      assert(pB.contains("Bucketed: true"), pB.take(2000))
      // strictly fewer shuffles than the computed-index plan (the shed one
      // is the index side's; asserting an exact delta is brittle across
      // Spark/AQE plan changes)
      assert(exchanges(viaBucketed) < exchanges(viaComputed),
        s"bucketed index should shed the index-side Exchange: " +
          s"${exchanges(viaBucketed)} vs ${exchanges(viaComputed)}")
      // end-to-end through the operator: the SRP stamp survives the catalog
      // round-trip (SrpStamp.check runs inside) and pairs are identical
      val got = toSet(Dedup.srpDeltaFrom(base, spark.table("srp_idx_b"), delta).collect())
      Dedup.releaseIntermediates(); spark.catalog.clearCache()
      val inMem = toSet(Dedup.srpDeltaFrom(base, Dedup.srpBandRows(base), delta).collect())
      assert(got.nonEmpty && got == inMem)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS srp_idx_b")
      Dedup.releaseIntermediates()
    }
  }

  test("SRP conf drift between index time and crawl time fails fast, never silently mismatches") {
    val e = Tables.embeddings(spark, sf)
    val base = e.filter(col("vec_id") % Dedup.DeltaIdMod =!= 0)
    val delta = e.filter(col("vec_id") % Dedup.DeltaIdMod === 0)
    val stored = Dedup.srpBandRows(base) // stamped with the live (default) conf
    spark.conf.set("spark.graft.dedup.srpBits", "16") // drift: 32 → 16
    try {
      val ex = intercept[IllegalStateException] {
        Dedup.srpDeltaFrom(base, stored, delta).collect()
      }
      assert(ex.getMessage.contains("srpBits=32") && ex.getMessage.contains("srpBits=16"))
    } finally {
      spark.conf.unset("spark.graft.dedup.srpBits")
      Dedup.releaseIntermediates()
    }
  }

  test("hot-band cap: single-query stream lane diverges from batch by design (stored-occupancy cap only)") {
    // Five identical vectors share every band bucket. With the cap at 4:
    // combined occupancy (4 base + 1 delta = 5) is HOT for the batch paths,
    // but the stateless single-query stream lane can only see the STORED
    // index occupancy (4 = cool) — it cannot group its own micro-batch.
    // This pins the documented divergence (StreamOps.deltaDedupStream doc);
    // IncrementalDedupIndex (foreachBatch) closes it by running the batch
    // core per micro-batch.
    import spark.implicits._
    val v = Seq.tabulate(64)(d => if (d < 4) 0.5 else 0.0)
    val base = (1L to 4L).map(i => (i, v)).toDF("vec_id", "embedding")
    val delta = Seq((10L, v)).toDF("vec_id", "embedding")
    spark.conf.set("spark.graft.dedup.srpHotBandDocs", "4")
    try {
      val baseBands = Dedup.srpBandRows(base).cache()
      // batch operator over the union: every bucket hot → no pairs
      assert(Dedup.srpPairsOf(base.unionByName(delta)).count() == 0)
      Dedup.releaseIntermediates()
      // batch incremental core caps identically (base + delta occupancy)
      assert(Dedup.srpDeltaFrom(base, baseBands, delta).count() == 0)
      Dedup.releaseIntermediates()
      // the stream lane's cap reads stored occupancy alone → emits the 4
      // delta×base pairs the batch paths suppressed — intended divergence
      // (one row per bucket hit; normalize to distinct pairs like its spec)
      val streamed = streaming.StreamOps.srpDedupStream(delta, baseBands, base)
      assert(streamed.distinct().count() == 4)
      baseBands.unpersist()
    } finally {
      spark.conf.unset("spark.graft.dedup.srpHotBandDocs")
      Dedup.releaseIntermediates()
    }
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.operators._
import graft.sources.Sinks

/** Write-side scale contracts: act-step outputs land partitioned so a
  * downstream consumer reading one slice prunes partitions at the scan —
  * the write-side sibling of the bucketed-join (no-shuffle-on-read) spec.
  */
class SinksSpec extends SparkSpec {

  test("writePartitioned(split_assign): reading one split prunes partitions at the scan") {
    val out = java.nio.file.Files.createTempDirectory("graft-splitout").toString
    val assigned = CorpusOps.splitAssign(spark, sf)
    Sinks.writePartitioned(assigned, out, "split")
    // layout: one directory per split value (what makes pruning possible)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("split=train", "split=val", "split=test"))

    val oneSplit = spark.read.parquet(out).filter(col("split") === "train")
    val plan = oneSplit.queryExecution.executedPlan.toString
    val pf = plan.split('\n').find(_.contains("PartitionFilters")).getOrElse(
      fail(s"no PartitionFilters in scan:\n$plan"))
    // the split predicate must be a PARTITION filter (directory pruning),
    // not a data filter evaluated after reading every row group
    assert(pf.contains("split") && pf.contains("train"), pf)
    // and the pruned read returns exactly the train rows
    val expected = assigned.filter(col("split") === "train").count()
    assert(expected > 0 && oneSplit.count() == expected)
  }

  test("writePartitioned(dedup_keep): per-status consumers prune to their slice") {
    val out = java.nio.file.Files.createTempDirectory("graft-keepout").toString
    val kept = Dedup.dedupKeep(spark, sf)
    Sinks.writePartitioned(kept, out, "status")
    val oneStatus = spark.read.parquet(out).filter(col("status") === "unique")
    val pf = oneStatus.queryExecution.executedPlan.toString
      .split('\n').find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("status") && pf.contains("unique"), pf)
    assert(oneStatus.count() == kept.filter(col("status") === "unique").count())
  }

  test("swapIn crash window (between its two renames) heals: live table restored, markers intact") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val root = java.nio.file.Files.createTempDirectory("graft-swapheal").toString
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

    // the window: replacement fully written at _compact_tmp (markers
    // included), original moved aside to _compact_old, live path ABSENT —
    // exactly the state a crash between swapIn's two renames leaves
    val dir = s"$root/t"
    Seq((1L, "old")).toDF("id", "v").write.parquet(dir)
    Seq((1L, "new"), (2L, "new")).toDF("id", "v").write.parquet(dir + "_compact_tmp")
    fs.create(new Path(dir + "_compact_tmp", "_marker"), true).close()
    assert(fs.rename(new Path(dir), new Path(dir + "_compact_old")))
    Sinks.healSwap(spark, dir)
    // rolls FORWARD: the replacement was complete before the first rename
    assert(spark.read.parquet(dir).count() == 2, "heal must install the replacement")
    assert(fs.exists(new Path(dir, "_marker")),
      "markers ride the heal — marker-present ⟺ swap-completed stays exact")
    assert(!fs.exists(new Path(dir + "_compact_old")) &&
      !fs.exists(new Path(dir + "_compact_tmp")), "heal must clean the remnants")

    // old-remnant-only variant (no replacement survived): restore the original
    val dir2 = s"$root/t2"
    Seq((7L, "orig")).toDF("id", "v").write.parquet(dir2)
    assert(fs.rename(new Path(dir2), new Path(dir2 + "_compact_old")))
    Sinks.healSwap(spark, dir2)
    assert(spark.read.parquet(dir2).select("v").head.getString(0) == "orig")

    // a NEW compactSwap on a crashed dir heals first — its read of the
    // live path and the tmp/old cleanup must not trip over the window
    val dir3 = s"$root/t3"
    Seq((1L, "a")).toDF("id", "v").write.parquet(dir3)
    Seq((1L, "b")).toDF("id", "v").write.parquet(dir3 + "_compact_tmp")
    assert(fs.rename(new Path(dir3), new Path(dir3 + "_compact_old")))
    Sinks.compactSwap(spark, dir3)(_.withColumn("v", lit("c")))
    assert(spark.read.parquet(dir3).select("v").head.getString(0) == "c",
      "compactSwap after a crash must heal (installing the replacement) then rewrite")
  }

  test("bucketed band index: the stored-index side of the delta join needs no Exchange; same pairs") {
    import graft.sources.Tables
    val docs = Tables.documents(spark, sf)
    val base = docs.filter(col("doc_id") % Dedup.DeltaIdMod =!= 0)
    val delta = docs.filter(col("doc_id") % Dedup.DeltaIdMod === 0)
    val baseSets = Dedup.hashedShingleSetsOf(base)
    // index time: production writes the band index bucketed on exactly the
    // keys every per-crawl join hits, with bucket count = shuffle
    // parallelism — a mismatched count makes Spark re-shuffle the OTHER
    // side to the bucket count, refunding the saving (observed: 8 buckets
    // vs 4 shuffle partitions costs the delta side one extra Exchange)
    val nShuffle = spark.conf.get("spark.sql.shuffle.partitions").toInt
    Sinks.writeBucketedBy(Dedup.bandTableOf(baseSets), "band_idx_b",
      Seq("band_id", "band_hash"), buckets = nShuffle)
    // force the shuffle scenario a 100 TB index lives in (no broadcast)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      // the touched-bucket intersect is the ONE place the full stored index
      // is read per crawl; compare the same join with a bucketed vs a
      // computed base (no persisted intermediates here, so every Exchange
      // line in the plan string is a real, distinct shuffle)
      def exchanges(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.executedPlan.toString
          .split('\n').count(_.contains("Exchange hashpartitioning"))
      val touched = Dedup.bandTableOf(Dedup.hashedShingleSetsOf(delta))
        .select("band_id", "band_hash").distinct()
      val viaBucketed = spark.table("band_idx_b").join(touched, Seq("band_id", "band_hash"))
      val viaComputed = Dedup.bandTableOf(baseSets).join(touched, Seq("band_id", "band_hash"))
      val pB = viaBucketed.queryExecution.executedPlan.toString
      assert(pB.contains("Bucketed: true"), pB.take(2000))
      // strictly fewer shuffles (the shed one is the index side's);
      // asserting an exact delta of one is brittle across Spark/AQE
      // plan-shape changes
      assert(exchanges(viaBucketed) < exchanges(viaComputed),
        s"bucketed index should shed the index-side Exchange: " +
          s"${exchanges(viaBucketed)} vs ${exchanges(viaComputed)}")
      // end-to-end through the real operator: the banding-conf stamp
      // survives the catalog round-trip (BandingStamp.check runs inside)
      // and the pairs are identical to the in-memory index
      val got = Dedup.dedupDeltaFrom(baseSets, spark.table("band_idx_b"), delta)
        .collect().map(_.toSeq).toSet
      Dedup.releaseIntermediates(); spark.catalog.clearCache()
      val inMem = Dedup.dedupDeltaFrom(baseSets, Dedup.bandTableOf(baseSets), delta)
        .collect().map(_.toSeq).toSet
      assert(got.nonEmpty && got == inMem)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS band_idx_b")
    }
  }
}

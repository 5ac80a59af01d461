package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** `clustersFromPairs` routes each `cc_grp` group (no column: one group)
  * in-row through `graft_cc_local` when it has at most `ccLocalMaxEdges`
  * edges and through the distributed pointer-jump loop otherwise. Every
  * route must give the exact min-id labeling — same labels, sizes and
  * canonicals — on chains (where min-id must propagate across many hops),
  * cliques, singleton edges, duplicate edges, the empty relation and a
  * chain of 60-bit ids (the WARC bridge's md5 doc ids), whose label sum
  * passes 2^63. Each graph also runs as a `localCheckpoint(true)`ed input,
  * and no call may leave the session's constraint-propagation conf changed.
  */
class ClustersFromPairsSpec extends SparkSpec {
  import spark.implicits._

  private type Labeling = Set[(Long, Long, Long, Boolean)]

  private def labels(df: DataFrame): Labeling =
    df.select("doc_id", "cluster_id", "cluster_size", "is_canonical").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet

  // chain 1-2-3-4-5 (5 edges with the reversed duplicate), clique
  // {10,11,12} (3 edges), pair {20,21} (2 duplicate edges)
  private val mixed = Seq(
    (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
    (10L, 11L), (10L, 12L), (11L, 12L),
    (20L, 21L), (20L, 21L), (3L, 2L)).toDF("doc_a", "doc_b")

  private val mixedLabels: Labeling = Set(
    (1L, 1L, 5L, true), (2L, 1L, 5L, false), (3L, 1L, 5L, false),
    (4L, 1L, 5L, false), (5L, 1L, 5L, false),
    (10L, 10L, 3L, true), (11L, 10L, 3L, false), (12L, 10L, 3L, false),
    (20L, 20L, 2L, true), (21L, 20L, 2L, false))

  private val Base = 1L << 59
  private val wide = (0L until 40L).map(i => (Base + i, Base + i + 1)).toDF("doc_a", "doc_b")
  private val wideLabels: Labeling =
    (0L to 40L).map(i => (Base + i, Base, 41L, i == 0L)).toSet

  private val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")

  // (graph, its closed grouping for the tagged shape, exact labeling); at
  // cap 3 the tagged mixed graph closes the clique and the pair in-row and
  // sends the 5-edge chain to the loop in the same call
  private val graphs: Seq[(String, DataFrame, Column, Labeling)] = Seq(
    ("chain+clique+pair", mixed,
      when(col("doc_a") <= 5, 1L).when(col("doc_a") < 20, 2L).otherwise(3L), mixedLabels),
    ("empty", empty, lit(0L), Set.empty),
    ("60-bit chain", wide, lit(7L), wideLabels))

  private val CpKey = "spark.sql.constraintPropagation.enabled"

  // runs every (graph, tagged, checkpointed, cap) row of the routing table
  // that `pick` selects; the three tests below partition the table between
  // them. Caps 3 and 1 put edges on the loop, which must plan over local
  // relations and checkpointed scans alike.
  private def route(pick: (String, Boolean) => Boolean): Unit =
    for ((name, edges, grp, want) <- graphs; tagged <- Seq(false, true)
         if pick(name, tagged); ckpt <- Seq(false, true);
         cap <- Seq(None, Some("3"), Some("1"))) {
      val shaped = if (tagged) edges.withColumn("cc_grp", grp) else edges
      val in = if (ckpt) shaped.localCheckpoint(true) else shaped
      val row = s"$name, ${if (tagged) "tagged" else "untagged"}, " +
        s"${if (ckpt) "checkpointed" else "plain"}, cap ${cap.getOrElse("default")}"
      val cp = spark.conf.getOption(CpKey)
      cap.foreach(spark.conf.set("spark.graft.dedup.ccLocalMaxEdges", _))
      val got = try labels(Dedup.clustersFromPairs(in))
        finally {
          spark.conf.unset("spark.graft.dedup.ccLocalMaxEdges")
          Dedup.releaseIntermediates()
        }
      assert(got == want, row)
      assert(spark.conf.getOption(CpKey) == cp, s"$row: $CpKey changed")
    }

  test("whole-set in-row closure ≡ distributed loop (ccLocalMaxEdges routing)") {
    route((name, tagged) => name != "empty" && !tagged)
  }

  test("keyed per-group closure ≡ global closure when groups are component-closed") {
    route((name, tagged) => name != "empty" && tagged)
  }

  test("empty pair set closes to an empty labeling on both paths") {
    route((name, _) => name == "empty")
  }

  // a 40-edge chain over shuffled ids: the loop closes about one hop per
  // round, so the default 20-round cap cannot label it (it used to come
  // back as two clusters, silently); a cap with room converges to one
  test("a chain the loop cannot close within ccMaxIters throws; a raised cap labels it") {
    val ids = new scala.util.Random(7).shuffle((1L to 41L).toVector)
    val chain = ids.sliding(2).map(p => (p(0), p(1))).toSeq.toDF("doc_a", "doc_b")
    spark.conf.set("spark.graft.dedup.ccLocalMaxEdges", "1")
    try {
      val e = intercept[IllegalStateException](labels(Dedup.clustersFromPairs(chain)))
      assert(e.getMessage.contains("spark.graft.dedup.ccMaxIters"), e.getMessage)
      assert(e.getMessage.contains(s"${Dedup.CcMaxIters} rounds"), e.getMessage)
      spark.conf.set("spark.graft.dedup.ccMaxIters", "64")
      assert(labels(Dedup.clustersFromPairs(chain)) ==
        ids.map(i => (i, 1L, 41L, i == 1L)).toSet)
    } finally {
      spark.conf.unset("spark.graft.dedup.ccLocalMaxEdges")
      spark.conf.unset("spark.graft.dedup.ccMaxIters")
      Dedup.releaseIntermediates()
    }
  }
}

package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.operators.Curation

/** The curation funnel's stage rule, fed straight into `Curation.funnelOf`
  * as small rung frames: every combination of the quality, exact- and
  * fuzzy-decontamination rungs against a dedup verdict of keep, drop or
  * no row at all. The corpus specs reach only the combinations the
  * synthetic corpus happens to produce.
  */
class CurationFunnelSpec extends SparkSpec {
  import spark.implicits._

  // (doc_id, q_keep, contam_exact, contam_fuzzy, dedup verdict)
  private val table: Seq[(Long, Boolean, Boolean, Boolean, Option[Boolean])] =
    (for (q <- Seq(true, false); ce <- Seq(false, true); cf <- Seq(false, true);
          d <- Seq(Some(true), Some(false), None)) yield (q, ce, cf, d))
      .zipWithIndex.map { case ((q, ce, cf, d), i) => (i.toLong, q, ce, cf, d) }

  private def funnel(rung: String, sides: Seq[DataFrame] = Nil,
      extras: Seq[org.apache.spark.sql.Column] = Nil): Map[Long, Row] = {
    val dedup = table.collect { case (id, _, _, _, Some(k)) => (id, k) }
      .toDF("doc_id", rung)
    Curation.funnelOf(
      table.map(_._1).toDF("doc_id"),
      table.map(r => (r._1, r._2)).toDF("doc_id", "q_keep"),
      table.map(r => (r._1, r._3)).toDF("doc_id", "contam_exact"),
      table.map(r => (r._1, r._4)).toDF("doc_id", "contam_fuzzy"),
      dedup +: sides, extras: _*)
      .collect().map(r => r.getLong(0) -> r).toMap
  }

  private def checkRule(got: Map[Long, Row]): Unit = {
    assert(got.keySet == table.map(_._1).toSet, "one row per train id")
    table.foreach { case (id, q, ce, cf, d) =>
      val dedupKeep = d.getOrElse(true)
      val rungs = Seq("quality" -> q, "contam_exact" -> !ce,
        "contam_fuzzy" -> !cf, "duplicate" -> dedupKeep)
      val r = got(id)
      val row = s"q_keep=$q contam_exact=$ce contam_fuzzy=$cf dedup=$d"
      assert(r.getAs[Boolean]("q_keep") == q, row)
      assert(r.getAs[Boolean]("contam_exact") == ce, row)
      assert(r.getAs[Boolean]("contam_fuzzy") == cf, row)
      assert(r.getAs[Boolean]("dedup_keep") == dedupKeep, s"$row: no row keeps")
      assert(r.getAs[Boolean]("kept") == rungs.forall(_._2), s"$row: kept = AND")
      assert(r.getAs[String]("stage") ==
        rungs.collectFirst { case (stage, false) => stage }.getOrElse("kept"),
        s"$row: stage = first failing rung")
    }
  }

  test("stage is the first failing rung in funnel order; kept is the AND of the rungs") {
    val got = funnel("is_canonical")
    assert(got.values.head.schema.fieldNames.toSeq == Seq("doc_id", "q_keep",
      "contam_exact", "contam_fuzzy", "dedup_keep", "kept", "stage"))
    checkRule(got)
  }

  test("a rung named dedup_keep and further left-joined frames feed the same rule") {
    // the crawl funnels name their rung dedup_keep; pipeline_curate joins
    // a second frame and projects extras over it
    val side = table.filter(_._1 % 2 == 0).map(r => (r._1, s"lane${r._1}"))
      .toDF("doc_id", "lanes")
    val got = funnel("dedup_keep", Seq(side),
      Seq(coalesce(col("lanes"), lit("none")).as("lanes")))
    checkRule(got)
    table.foreach { case (id, _, _, _, _) =>
      assert(got(id).getAs[String]("lanes") ==
        (if (id % 2 == 0) s"lane$id" else "none"))
    }
  }
}

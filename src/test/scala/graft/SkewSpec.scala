package graft

import org.apache.spark.sql.functions._
import graft.operators.Skew
import graft.sources.Tables

class SkewSpec extends SparkSpec {

  test("saltedJoin produces the same rows as a plain equi-join") {
    val l = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey", "l_quantity")
    val o = Tables.orders(spark, sf).select(col("o_orderkey"), col("o_totalprice"))
      .withColumnRenamed("o_orderkey", "l_orderkey")
    val plain = l.join(o, "l_orderkey").count()
    val salted = Skew.saltedJoin(l, o, "l_orderkey", saltBy = "l_partkey").count()
    assert(plain == salted)
  }

  test("verifySalts > 1 salts the dedup verify re-join: identical pairs, salted plan") {
    import graft.operators.Dedup
    def pairs() = Dedup.dedupMinhashLsh(spark, sf).collect().map(r =>
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard"))).toSet
    def embPairs() = Dedup.dedupEmbeddingSrp(spark, sf).collect().map(r =>
      (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("cos"))).toSet
    val plain = pairs()
    val plainEmb = embPairs()
    Dedup.releaseIntermediates(); spark.catalog.clearCache()
    spark.conf.set("spark.graft.dedup.verifySalts", "4")
    try {
      val df = Dedup.dedupMinhashLsh(spark, sf)
      // the salt must actually be IN the plan (join keys carry __salt) —
      // not just a row-parity coincidence with the plain path
      assert(df.queryExecution.optimizedPlan.toString.contains("__salt"))
      val salted = df.collect().map(r =>
        (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard"))).toSet
      assert(plain.nonEmpty && salted == plain)
      // the SRP lane scores pairs inside each bucket (no id-keyed verify
      // re-join left to salt): the knob must leave its rows unchanged
      assert(plainEmb.nonEmpty && embPairs() == plainEmb)
    } finally {
      spark.conf.unset("spark.graft.dedup.verifySalts")
      Dedup.releaseIntermediates()
    }
  }
}

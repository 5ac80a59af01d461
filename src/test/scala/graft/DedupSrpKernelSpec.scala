package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** The SRP bucket kernel (`graft_srp_bucket_pairs` behind
  * `Dedup.srpPairsOf` / `srpDeltaFrom`) against its specification: the
  * probe-join candidates (`Dedup.srpCandidates`) verified by
  * `Dedup.verifyCosine`. Pairs AND cosines must be bit-identical, on
  * generated vectors with planted near-duplicates (explicit seeds), under
  * the default and the knob-sweep SRP confs, at the hot-bucket cap
  * boundary, at the rounding boundary and for delta-flagged pairs.
  */
class DedupSrpKernelSpec extends SparkSpec {
  import spark.implicits._

  private val Dims = 64

  private def triples(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r =>
      (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("cos"))).toSet

  /** `n` unit vectors (float, like the embeddings table); every `plantEvery`-th
    * is a noisy copy of its predecessor, so near-duplicates sit above and
    * around the cosine threshold.
    */
  private def vectors(seed: Long, n: Int, plantEvery: Int = 7): DataFrame = {
    val rnd = new scala.util.Random(seed)
    def unit(v: Array[Double]): Seq[Float] = {
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / norm).toFloat).toSeq
    }
    val raw = Array.fill(n)(Array.fill(Dims)(rnd.nextGaussian()))
    for (i <- 1 until n if i % plantEvery == 0) {
      val noise = 0.15 + 0.9 * rnd.nextDouble()
      raw(i) = raw(i - 1).map(x => x + noise * rnd.nextGaussian())
    }
    raw.zipWithIndex.map { case (v, i) => (i.toLong, unit(v)) }.toSeq
      .toDF("vec_id", "embedding")
  }

  private def reference(embs: DataFrame): Set[(Long, Long, Double)] =
    try triples(Dedup.verifyCosine(Dedup.srpCandidates(embs), embs))
    finally Dedup.releaseIntermediates()

  private def kernel(embs: DataFrame): Set[(Long, Long, Double)] =
    try triples(Dedup.srpPairsOf(embs))
    finally Dedup.releaseIntermediates()

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kv.foreach { case (k, _) => spark.conf.unset(k) }
  }

  private val confs = Seq(
    "default" -> Seq.empty[(String, String)],
    // the SRP knobs tools/knob_sweep.sh sets, with its cosine threshold
    "knob sweep" -> Seq("spark.graft.dedup.srpBits" -> "24",
      "spark.graft.dedup.srpBandBits" -> "3", "spark.graft.dedup.srpHotBandDocs" -> "128",
      "spark.graft.dedup.cosineTau" -> "0.3"),
    // ~25 of the 400 vectors per bucket: about half the buckets run hot
    "hot buckets" -> Seq("spark.graft.dedup.srpHotBandDocs" -> "25",
      "spark.graft.dedup.cosineTau" -> "0.5"))

  for ((name, kv) <- confs; seed <- Seq(11L, 12L))
    test(s"bucket kernel ≡ srpCandidates + verifyCosine ($name conf, seed $seed)") {
      withConf(kv: _*) {
        val embs = vectors(seed, 400).cache()
        val want = reference(embs)
        val got = kernel(embs)
        assert(want.size > 10, s"too few reference pairs: ${want.size}")
        assert(got == want, s"kernel-only: ${got -- want}; reference-only: ${want -- got}")
        embs.unpersist()
      }
    }

  test("hot-bucket cap: a bucket at exactly the cap pairs, one at cap + 1 does not") {
    // five identical vectors share every bucket of every band (occupancy 5
    // = cap → cool, 10 pairs); six copies of the negated vector have the
    // complementary band values (never within one bit of the first group)
    // and occupancy 6 = cap + 1 → hot, no pairs
    val v = vectors(21L, 1).as[(Long, Seq[Float])].collect().head._2
    val embs = ((0L until 5L).map(i => (i, v)) ++
        (100L until 106L).map(i => (i, v.map(x => -x)))).toDF("vec_id", "embedding")
    withConf("spark.graft.dedup.srpHotBandDocs" -> "5") {
      val want = reference(embs)
      val got = kernel(embs)
      assert(got.map(p => (p._1, p._2)) ==
        (for (a <- 0L until 5L; b <- a + 1 until 5L) yield (a, b)).toSet)
      assert(got == want)
    }
    withConf("spark.graft.dedup.srpHotBandDocs" -> "4") {
      assert(kernel(embs).isEmpty && reference(embs).isEmpty)
    }
  }

  test("rounding boundary: kept rows and cos equal round(graft_dot, 4) >= tau, NaN and null included") {
    // a = e1 and b = (c, s, 0, …) have dot exactly c, so the dots sweep the
    // neighbourhood of tau — decimal half-way points, the tau − 1e-4
    // prefilter edge, one ulp either side — plus NaN, ±Infinity, a null
    // element and a length mismatch
    val tau = 0.35
    val edges = Seq(tau, tau - 5e-5, tau - 1e-4, tau + 5e-5, tau - 4.9999e-5,
      tau - 5.0001e-5, 0.34995, 0.349949999, 0.3499, 0.35005, 1.0, -1.0)
    val dots = edges.flatMap(c => Seq(c, math.nextUp(c), math.nextDown(c))) ++
      (0 until 400).map(i => tau - 2e-4 + i * 1e-6) ++
      Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    def vecB(c: Double): Seq[java.lang.Double] =
      (Seq[java.lang.Double](c, 0.5) ++ Seq.fill(Dims - 2)(java.lang.Double.valueOf(0.0)))
    val e1: Seq[java.lang.Double] = 1.0 +: Seq.fill(Dims - 1)(java.lang.Double.valueOf(0.0))
    val rows = dots.map(c => (e1, vecB(c))) ++ Seq(
      (e1, (null: java.lang.Double) +: vecB(0.9).tail), // null element
      (e1, vecB(0.9).tail)) // length mismatch
    val df = rows.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
      .toDF("row", "ea", "eb")
    val out = df.select(col("row"),
      when(round(expr("graft_dot(ea, eb)"), 4) >= tau, round(expr("graft_dot(ea, eb)"), 4))
        .as("want"),
      expr(s"""graft_srp_bucket_pairs(
                 array(named_struct('vec_id', 1L, 'emb', ea), named_struct('vec_id', 2L, 'emb', eb)),
                 filter(array(named_struct('vec_id', 0L, 'emb', ea)), x -> false),
                 $tau)""").as("home_pair"),
      expr(s"""graft_srp_bucket_pairs(array(named_struct('vec_id', 7L, 'emb', eb)),
                 array(named_struct('vec_id', 3L, 'emb', ea)), $tau)""").as("visit_pair"))
      .collect()
    assert(out.length == rows.length)
    var kept = 0
    for (r <- out) {
      val want = if (r.isNullAt(1)) None else Some(r.getDouble(1))
      def cosOf(i: Int, ids: (Long, Long)): Option[Double] = {
        val ps = r.getSeq[Row](i)
        assert(ps.size <= 1)
        ps.headOption.map { p =>
          assert((p.getLong(0), p.getLong(1)) == ids)
          p.getDouble(2)
        }
      }
      // bitwise: NaN == NaN here, and -0.0 ≠ 0.0
      def bits(o: Option[Double]) = o.map(java.lang.Double.doubleToRawLongBits)
      assert(bits(cosOf(2, (1L, 2L))) == bits(want), s"row ${r.getLong(0)}")
      assert(bits(cosOf(3, (3L, 7L))) == bits(want), s"row ${r.getLong(0)}")
      if (want.isDefined) kept += 1
    }
    assert(kept > 100 && kept < rows.length - 100, s"boundary sweep kept $kept")
    // NaN is the largest double in Spark's ordering: kept, as NaN
    assert(out.exists(r => !r.isNullAt(1) && r.getDouble(1).isNaN))
  }

  test("an embedding of the wrong length fails the assert_true, as in the reference") {
    val embs = vectors(31L, 40).union(Seq((999L, Seq.fill(Dims - 1)(0.1f))).toDF("vec_id", "embedding"))
    def failsOnLength(run: => Any): Unit = {
      val ex = intercept[Exception](run)
      val msgs = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null).map(_.getMessage)
      assert(msgs.exists(m => m != null && m.contains("embedding length <> spark.graft.dedup.srpDims")),
        ex.toString)
    }
    failsOnLength(kernel(embs))
    failsOnLength(reference(embs))
  }

  test("delta flags: srpDeltaFrom keeps exactly the reference pairs with a delta endpoint") {
    for (seed <- Seq(41L, 42L)) {
      // the delta continues the same planted chain: near-dups of base and of delta rows
      val all = vectors(seed, 360).cache()
      val base = all.filter(col("vec_id") < 300)
      val delta = all.filter(col("vec_id") >= 300)
      val want = reference(all).filter(p => p._1 >= 300 || p._2 >= 300)
      val got = try triples(Dedup.srpDeltaFrom(base, Dedup.srpBandRows(base), delta))
        finally Dedup.releaseIntermediates()
      assert(want.exists(_._1 < 300) && want.exists(_._1 >= 300), "need base×delta and delta×delta pairs")
      assert(got == want, s"seed $seed kernel-only: ${got -- want}; reference-only: ${want -- got}")
      all.unpersist()
    }
  }

  test("kernel with flags keeps a pair only when an endpoint is flagged") {
    val e = (0 until Dims).map(i => if (i == 0) 1.0 else 0.0)
    def row(id: Long, flag: Boolean) = s"named_struct('vec_id', ${id}L, 'emb', e, 'flag', $flag)"
    val ids = spark.range(1).select(typedLit(e).as("e"))
      .select(inline(expr(s"graft_srp_bucket_pairs(array(${row(1, flag = false)}, ${row(2, flag = true)}, " +
        s"${row(3, flag = false)}), array(${row(0, flag = false)}, ${row(4, flag = true)}), 0.5)")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // home×home {1,2,3} and home×visitor {1,2,3}×{0,4}; flagged: 2 and 4
    assert(ids == Set((1L, 2L), (2L, 3L), (0L, 2L), (2L, 4L), (1L, 4L), (3L, 4L))
      .map { case (a, b) => (a, b, 1.0) })
  }
}

package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** `graft_srp_bucket_pairs(home, visitors, tau)`: the verified cosine pairs
  * of ONE SRP bucket, scored in-row — array<struct<vec_id bigint,
  * emb array<double>[, flag boolean]>> twice plus a double threshold in,
  * array<struct<id_a, id_b, cos>> out with `id_a < id_b`.
  *
  * `home` holds the bucket's own rows, `visitors` the rows of its
  * single-bit-flip neighbours with a LOWER band value, so every pair whose
  * band values differ by at most one bit is scored in exactly one bucket
  * per band: home×home and home×visitor, never visitor×visitor. With a
  * third `flag` field a pair is kept only when at least one endpoint is
  * flagged (the incremental lanes: pairs touching the new crawl).
  *
  * Bit-identical to `round(graft_dot(ea, eb), 4) >= tau` over the same
  * pairs ([[graft.operators.Dedup]]'s SRP spec reference):
  *  - the dot is the same left-to-right double fold as [[DotProduct]], and a
  *    null array, a null element or a length mismatch drops the pair (the
  *    NULL dot the filter drops);
  *  - `cos` is Spark's `round(x, 4)` on doubles — NaN and ±Infinity pass
  *    through, everything else is HALF_UP on `Double.toString`'s decimal —
  *    computed only where the raw dot is ≥ tau − 1e-4 (rounding moves a
  *    value by at most 5e-5, so a dot below that bound can never round up
  *    to tau: the skip is exact, and it skips the BigDecimal for nearly
  *    every pair);
  *  - `cos >= tau` follows Spark's double ordering, where NaN is the
  *    largest value and equal to itself, so a NaN dot is kept as NaN.
  *
  * A null `home` or `tau` yields null (no pairs); a null `visitors` counts
  * as none. A null `vec_id` never pairs, and a row never pairs with its own
  * id (the reference's strict `id_a < id_b`).
  */
object SrpBucketPairs {

  /** Spark's `round(x, 4)` on a double (RoundBase, HALF_UP). */
  private def round4(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Spark's `a >= b` on non-null doubles: NaN sorts above everything. */
  private def sparkGe(a: Double, b: Double): Boolean =
    if (java.lang.Double.isNaN(a)) true
    else if (java.lang.Double.isNaN(b)) false
    else a >= b

  /** The kept `cos` of one dot, or null when `round(dot, 4) >= tau` fails. */
  private def verified(dot: Double, tau: Double): java.lang.Double =
    if (!(java.lang.Double.isNaN(dot) || dot >= tau - 1e-4)) null
    else {
      val c = round4(dot)
      if (sparkGe(c, tau)) java.lang.Double.valueOf(c) else null
    }

  /** One side's rows, unpacked once: ids, embeddings (null when the row
    * can never pair — null id, null array or a null element) and flags.
    */
  private final class Side(a: ArrayData, flagged: Boolean) {
    val n: Int = if (a == null) 0 else a.numElements()
    val ids = new Array[Long](n)
    val embs = new Array[Array[Double]](n)
    val flags = new Array[Boolean](n)
    for (i <- 0 until n) {
      val r = a.getStruct(i, if (flagged) 3 else 2)
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        ids(i) = r.getLong(0)
        val e = r.getArray(1)
        if (!(0 until e.numElements()).exists(e.isNullAt)) embs(i) = e.toDoubleArray()
      }
      flags(i) = !flagged || (!r.isNullAt(2) && r.getBoolean(2))
    }
  }

  def pairs(home: ArrayData, visitors: ArrayData, tau: Double,
      flagged: Boolean): ArrayData = {
    val h = new Side(home, flagged)
    val v = new Side(visitors, flagged)
    val out = new java.util.ArrayList[InternalRow]()
    def score(s: Side, j: Int, i: Int): Unit = {
      val x = h.embs(i)
      val y = s.embs(j)
      if (x != null && y != null && x.length == y.length &&
          h.ids(i) != s.ids(j) && (!flagged || h.flags(i) || s.flags(j))) {
        var acc = 0.0
        var k = 0
        while (k < x.length) { acc += x(k) * y(k); k += 1 }
        val c = verified(acc, tau)
        if (c != null) {
          val (a, b) =
            if (h.ids(i) < s.ids(j)) (h.ids(i), s.ids(j)) else (s.ids(j), h.ids(i))
          out.add(InternalRow(a, b, c.doubleValue()))
        }
      }
    }
    var i = 0
    while (i < h.n) {
      var j = i + 1
      while (j < h.n) { score(h, j, i); j += 1 }
      j = 0
      while (j < v.n) { score(v, j, i); j += 1 }
      i += 1
    }
    new GenericArrayData(out.toArray())
  }

  private val OutType: ArrayType = ArrayType(StructType(Seq(
    StructField("id_a", LongType, nullable = false),
    StructField("id_b", LongType, nullable = false),
    StructField("cos", DoubleType, nullable = false))), containsNull = false)
}

case class SrpBucketPairs(home: Expression, visitors: Expression, tau: Expression)
    extends TernaryExpression {

  override def first: Expression = home
  override def second: Expression = visitors
  override def third: Expression = tau

  /** Some(flagged) for a well-formed row array, None otherwise. */
  private def rowType(dt: DataType): Option[Boolean] = dt match {
    case ArrayType(StructType(fs), _) if fs.length == 2 || fs.length == 3 =>
      val ok = fs(0).dataType == LongType &&
        (fs(1).dataType match { case ArrayType(DoubleType, _) => true; case _ => false }) &&
        (fs.length == 2 || fs(2).dataType == BooleanType)
      if (ok) Some(fs.length == 3) else None
    case _ => None
  }

  /** Whether the rows carry the third `flag` field. */
  private def flagged: Boolean = rowType(home.dataType).contains(true)

  override def checkInputDataTypes(): TypeCheckResult =
    (rowType(home.dataType), rowType(visitors.dataType)) match {
      case (Some(a), Some(b)) if a == b && tau.dataType == DoubleType =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "graft_srp_bucket_pairs expects two array<struct<bigint, array<double>" +
          "[, boolean]>> of the same shape and a double tau, got " +
          s"(${home.dataType.simpleString}, ${visitors.dataType.simpleString}, " +
          s"${tau.dataType.simpleString})")
    }

  override def dataType: DataType = SrpBucketPairs.OutType

  override def nullable: Boolean = true

  override def prettyName: String = "graft_srp_bucket_pairs"

  override def eval(input: InternalRow): Any = {
    val h = home.eval(input)
    if (h == null) return null
    val t = tau.eval(input)
    if (t == null) return null
    SrpBucketPairs.pairs(h.asInstanceOf[ArrayData],
      visitors.eval(input).asInstanceOf[ArrayData], t.asInstanceOf[Double], flagged)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = SrpBucketPairs.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val h = home.genCode(ctx)
    val v = visitors.genCode(ctx)
    val t = tau.genCode(ctx)
    ev.copy(code = code"""
      ${h.code}
      ${v.code}
      ${t.code}
      boolean ${ev.isNull} = ${h.isNull} || ${t.isNull};
      ${CodeGenerator.javaType(dataType)} ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = $helper.pairs(${h.value}, ${v.isNull} ? null : ${v.value},
          ${t.value}, $flagged);
      }
    """)
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(home = newFirst, visitors = newSecond, tau = newThird)
}

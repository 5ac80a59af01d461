package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, xxhash64}
import org.apache.spark.unsafe.types.UTF8String

/** An order-independent digest of a materialized result — row count and
  * the wrapping sum of every row's xxhash64 — plus any rows the caller
  * asked to keep.
  */
final case class Digest(rows: Long, sum: Long, kept: Vector[Seq[Any]] = Vector.empty) {
  def same(o: Digest): Boolean = rows == o.rows && sum == o.sum
  def +(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum, kept ++ o.kept)
  override def toString: String = f"$rows%d:$sum%016x"
}

object Digest {

  /** The materializing action: one execution of `df`'s full plan (its
    * final sort included), reduced to a [[Digest]]. Rows whose
    * `keepCols` values satisfy `want` come back too.
    */
  def of(df: DataFrame, keepCols: Seq[String] = Nil,
      want: Seq[Any] => Boolean = _ => false): Digest = {
    val h = xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*).as("__h")
    val proj = df.select(h +: keepCols.map(c => col(s"`$c`")): _*)
    val types = proj.schema.fields.toVector.drop(1).map(_.dataType)
    val parts = proj.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var s = 0L
      val kept = ArrayBuffer.empty[Seq[Any]]
      it.foreach { row =>
        n += 1
        s += row.getLong(0)
        if (types.nonEmpty) {
          val v = types.indices.map { i =>
            row.get(i + 1, types(i)) match {
              case u: UTF8String => u.toString
              case x => x
            }
          }
          if (want(v)) kept += v
        }
      }
      Iterator(Digest(n, s, kept.toVector))
    }.collect()
    parts.foldLeft(Digest(0L, 0L))(_ + _)
  }
}

/** Drives graft calls one at a time and keeps the score: operations
  * attempted and failed, checks failed, and — when a [[Tracer]] is
  * attached — the build/action phases of every span.
  */
final class Runner(val spark: SparkSession, tracer: Option[Tracer]) {
  var attempted = 0
  var failed = 0
  val errors: ArrayBuffer[String] = ArrayBuffer.empty

  /** One public call (`build`) and the action that materializes its
    * result (`act`), as span `span`. A throw counts as a failed operation.
    */
  def op[A, B](span: String)(build: => A)(act: A => B): Option[B] = {
    attempted += 1
    tracer.foreach(_.attach())
    try {
      val m0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      val a = build
      val m1 = System.currentTimeMillis(); val n1 = System.nanoTime()
      val b = act(a)
      val m2 = System.currentTimeMillis(); val n2 = System.nanoTime()
      tracer.foreach { t =>
        t.phase(span, build = true, m0, m1, n1 - n0)
        t.phase(span, build = false, m1, m2, n2 - n1)
      }
      Some(b)
    } catch {
      case NonFatal(e) =>
        failed += 1
        errors += s"$span: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
        None
    }
  }

  /** A public call with nothing left to materialize (a store write). */
  def write(span: String)(call: => Unit): Boolean = op(span)(call)(_ => ()).isDefined

  /** A correctness check; a false or a throw counts as a failure. */
  def check(name: String)(ok: => Boolean): Boolean = {
    attempted += 1
    val pass = try ok catch { case NonFatal(e) => errors += s"$name: $e"; false }
    if (!pass) { failed += 1; errors += s"check failed: $name" }
    pass
  }
}

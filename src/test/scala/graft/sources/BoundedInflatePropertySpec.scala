package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.util.zip.{Deflater, GZIPOutputStream}

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property test: the shared bounded inflate loop never throws and never
  * hands back more than its cap on arbitrary and mutated deflate / gzip
  * bytes, and the WARC decoder built on it only ever quarantines what it
  * cannot verify (ScalaCheck generators driven with explicit seeds, as in
  * SessionizePropertySpec).
  */
class BoundedInflatePropertySpec extends AnyFunSuite {

  private val Trials = 200
  private val Iso = StandardCharsets.ISO_8859_1

  private def sample[T](g: Gen[T], trial: Int): T =
    g.apply(Gen.Parameters.default, Seed(trial.toLong)).get

  private def zlib(b: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(b); d.finish()
    val out = new ByteArrayOutputStream()
    val chunk = new Array[Byte](8192)
    while (!d.finished()) out.write(chunk, 0, d.deflate(chunk))
    d.end()
    out.toByteArray
  }

  private def gz(b: Array[Byte]): Array[Byte] = {
    val bo = new ByteArrayOutputStream()
    val g = new GZIPOutputStream(bo)
    g.write(b); g.close()
    bo.toByteArray
  }

  private def record(uri: String, body: String): Array[Byte] = {
    val b = body.getBytes(Iso)
    (s"WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Record-ID: <urn:uuid:$uri>\r\n" +
      s"WARC-Target-URI: http://$uri/\r\nContent-Length: ${b.length}\r\n\r\n")
      .getBytes(Iso) ++ b ++ "\r\n\r\n".getBytes(Iso)
  }

  private val textGen: Gen[String] =
    Gen.listOf(Gen.oneOf("the", "quick", "brown", "fox", "jumps", "0", "\n"))
      .map(_.mkString(" "))

  private val bytesGen: Gen[Array[Byte]] =
    Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray)

  /** 1-4 edits: overwrite a byte, truncate, insert random bytes, or
    * repeat a slice — the shapes a damaged or hostile stream takes.
    */
  private def mutated(b: Array[Byte]): Gen[Array[Byte]] = {
    def edit(x: Array[Byte]): Gen[Array[Byte]] =
      if (x.isEmpty) bytesGen
      else Gen.choose(0, x.length - 1).flatMap { i =>
        Gen.oneOf(
          Gen.choose(Byte.MinValue, Byte.MaxValue).map(v => x.updated(i, v)),
          Gen.const(x.take(i)),
          bytesGen.map(r => x.take(i) ++ r ++ x.drop(i)),
          Gen.choose(i, x.length).map(j => x.take(j) ++ x.slice(i, j) ++ x.drop(i)))
      }
    Gen.choose(1, 4).flatMap { k =>
      (1 to k).foldLeft(Gen.const(b))((g, _) => g.flatMap(edit))
    }
  }

  /** Inflate never throws, never returns more than its cap and never
    * claims to have consumed bytes it was not given.
    */
  private def assertBounded(in: Array[Byte], nowrap: Boolean, trial: Int): Unit =
    BoundedInflate(in, 0, in.length, nowrap) match {
      case Right(r) =>
        assert(r.out.length <= BoundedInflate.cap(in.length), s"trial $trial: over the cap")
        assert(r.consumed >= 0 && r.consumed <= in.length, s"trial $trial: consumed ${r.consumed}")
      case Left(reason) => assert(reason.nonEmpty)
    }

  test("BoundedInflate round-trips valid streams and reports a truncated one as unfinished") {
    (1 to Trials).foreach { trial =>
      val text = sample(textGen, trial).getBytes(Iso)
      val z = zlib(text)
      val r = BoundedInflate(z, 0, z.length, nowrap = false)
      assert(r.exists(i => i.finished && i.consumed == z.length && i.out.sameElements(text)),
        s"trial $trial")
      // a truncated stream stops short: what came out is a prefix of the
      // text (the PDF decoder keeps it), and it is never "finished"
      val cut = z.take(z.length / 2)
      BoundedInflate(cut, 0, cut.length, nowrap = false).foreach { p =>
        assert(!p.finished && text.startsWith(p.out), s"trial $trial: truncated")
      }
    }
  }

  test("BoundedInflate never throws or exceeds its cap on random and mutated deflate / gzip bytes") {
    // 16 MiB of zeros compresses ~1000:1, far past the 64x ratio
    val bomb = zlib(new Array[Byte](16 << 20))
    assert(BoundedInflate(bomb, 0, bomb.length, nowrap = false).isLeft, "the bomb must cap out")
    val zlibGen = Gen.oneOf(textGen.map(t => zlib(t.getBytes(Iso))), Gen.const(bomb))
      .flatMap(mutated)
    // gzip without its 10-byte header is the raw deflate a WARC member holds
    val rawGen = textGen.map(t => gz(t.getBytes(Iso)).drop(10)).flatMap(mutated)
    (1 to Trials).foreach { trial =>
      assertBounded(sample(bytesGen, trial), nowrap = trial % 2 == 0, trial)
      assertBounded(sample(zlibGen, trial), nowrap = false, trial)
      assertBounded(sample(rawGen, trial), nowrap = true, trial)
    }
  }

  test("Warc.decodeFile only quarantines random and mutated multi-member gzip bytes") {
    val bodies = Seq("the quick brown fox", "jumps over\nthe lazy dog", "0 1 2 3")
    val file = bodies.zipWithIndex.map { case (b, i) => gz(record(s"d$i.org", b)) }.reduce(_ ++ _)
    assert(Warc.decodeFile("f", file).map(_.text) == bodies, "the unmutated file must decode")
    val fileGen = Gen.oneOf(bytesGen, mutated(file))
    (1 to Trials).foreach { trial =>
      val in = sample(fileGen, trial)
      val rows = Warc.decodeFile("f", in)
      assert(in.isEmpty || rows.nonEmpty, s"trial $trial: a non-empty file must leave a row")
      rows.foreach { r =>
        assert(r.bad_reason != null || bodies.contains(r.text),
          s"trial $trial: unverified bytes passed as a record: $r")
      }
    }
  }
}

package graft.sources

/** The one inflate loop for untrusted deflate bytes — PDF FlateDecode
  * streams (zlib-wrapped) and WARC gzip members (raw deflate after a
  * hand-parsed header). A stream needing a preset dictionary (FDICT)
  * makes `Inflater` return 0 forever without finishing, and a deflate
  * bomb can expand a few KB into GBs: the loop stops at the first call
  * that makes no progress and refuses output past [[cap]], so both
  * quarantine instead of hanging or running out of memory. What a stream
  * that stopped short means is the caller's policy.
  */
private[graft] object BoundedInflate {

  private val MaxInflateRatio = 64L
  private val MinInflateCap = 1L << 20

  /** Output cap for `len` compressed bytes: 64× the input, at least 1 MiB. */
  def cap(len: Int): Long = math.max(len.toLong * MaxInflateRatio, MinInflateCap)

  /** What came out (never more than the cap), whether the deflate stream
    * reached its end, and how many input bytes it consumed.
    */
  final case class Inflated(out: Array[Byte], finished: Boolean, consumed: Int)

  /** Inflate `b(off until off + len)`. Never throws: `Left` carries the
    * reason when the cap was exceeded or the input is corrupt.
    */
  def apply(b: Array[Byte], off: Int, len: Int, nowrap: Boolean): Either[String, Inflated] = {
    val limit = cap(len)
    val inf = new java.util.zip.Inflater(nowrap)
    try {
      inf.setInput(b, off, len)
      val buf = new java.io.ByteArrayOutputStream(math.min(len * 4L, 1L << 16).toInt)
      val chunk = new Array[Byte](8192)
      var n = 1
      while (!inf.finished() && n > 0 && buf.size().toLong <= limit) {
        n = inf.inflate(chunk)
        buf.write(chunk, 0, n)
      }
      if (buf.size().toLong > limit) Left("inflate cap exceeded (gzip bomb guard)")
      else Right(Inflated(buf.toByteArray, inf.finished(), inf.getBytesRead.toInt))
    } catch {
      // corrupt input surfaces as DataFormatException mid-stream
      case scala.util.control.NonFatal(e) =>
        Left(s"truncated or undecodable deflate stream: ${e.getMessage}")
    } finally inf.end()
  }
}

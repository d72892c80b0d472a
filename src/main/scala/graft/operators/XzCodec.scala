package graft.operators

import java.io.ByteArrayInputStream
import org.tukaani.xz.{BasicArrayCache, LZMA2InputStream, LZMAInputStream, SingleXZInputStream}

/** XZ member walk over the tukaani xz library (on the Spark classpath
  * via commons-compress): the other classic dump format (Wikipedia
  * history dumps, kernel archives, academic corpora). The library
  * verifies the whole container — stream header/footer CRCs, block
  * headers, every check type, the index cross-check — and decodes any
  * filter chain it knows (LZMA2 behind x86/ARM/… BCJ or delta); this
  * object finds each stream's end inside a concatenation and consumes
  * the stream padding that may follow it.
  *
  * Allocation guards: dictionaries over 1 GiB are refused before the
  * decoder allocates them (the library's memory limit), and no member
  * may decode to more than 1 GiB.
  */
object XzCodec {

  private val MaxOutput = 1 << 30
  // a 1 GiB dictionary plus 1 MiB for the decoder's own buffers and any
  // filters ahead of LZMA2; the next dictionary size xz can encode above
  // 1 GiB is 1.5 GiB, so this admits exactly the dictionaries <= 1 GiB
  private val MemoryLimitKiB = (MaxOutput >> 10) + 1024

  /** Read a decoder to its end, failing past `cap` bytes (a corrupt-
    * input allocation guard for streams that need not declare their
    * output size).
    */
  private def readCapped(in: java.io.InputStream, cap: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](1 << 16)
    var n = in.read(buf)
    while (n >= 0) {
      require(out.size <= cap - n, s"decoded output over the $cap-byte guard")
      out.write(buf, 0, n)
      n = in.read(buf)
    }
    out.toByteArray
  }

  /** Classic LZMA1 stream decode to exactly `outSize` bytes (shared
    * with [[SevenZWalk]]: 7z coder 0x030101 — the coder real `7z a`
    * uses for its ENCODED HEADERS — is one sized range-coded stream
    * with a 1-byte lc/lp/pb props prefix in the coder properties; the
    * dict-size hint in props(1..4) is not needed because a window of
    * `outSize` bytes holds the whole output). An end marker before
    * `outSize` fails the stream (sized 7z folders never carry one).
    */
  private[operators] def lzma1(b: Array[Byte], from: Int, until: Int,
      propsByte: Int, outSize: Int): Array[Byte] = {
    require(outSize >= 0 && outSize <= MaxOutput, s"7z: lzma1 output size $outSize")
    new LZMAInputStream(new ByteArrayInputStream(b, from, until - from),
      outSize.toLong, propsByte.toByte, outSize).readAllBytes()
  }

  /** Raw LZMA2 chunk-sequence decode of a 7z LZMA2 coder's packed
    * stream (shared with [[SevenZWalk]]). `maxOutput` bounds the output
    * and sizes the window, which then holds the whole output; bytes
    * after the LZMA2 end marker fail the stream.
    */
  private[operators] def lzma2(b: Array[Byte], from: Int, until: Int, maxOutput: Int): Array[Byte] = {
    require(maxOutput >= 0 && maxOutput <= MaxOutput, s"7z: lzma2 output size $maxOutput")
    val src = new ByteArrayInputStream(b, from, until - from)
    val out = readCapped(new LZMA2InputStream(src,
      math.max(maxOutput, LZMA2InputStream.DICT_SIZE_MIN)), maxOutput)
    require(src.available() == 0, "trailing bytes after LZMA2 end marker")
    out
  }

  /** Decode ONE xz stream at byte `pos` (consuming trailing stream
    * padding); Some((payload, nextPos)) or None. Header/footer/block
    * CRCs, the per-block check (None/CRC32/CRC64/SHA-256), and the
    * index are all verified.
    */
  def decodeStream(b: Array[Byte], pos: Int): Option[(Array[Byte], Int)] = {
    try {
      val src = new ByteArrayInputStream(b, pos, b.length - pos)
      // the array cache hands each member the previous member's
      // dictionary instead of allocating (and zeroing) a fresh one
      val xz = new SingleXZInputStream(src, MemoryLimitKiB, BasicArrayCache.getInstance())
      val out = try readCapped(xz, MaxOutput) finally xz.close()
      // the decoder reads exactly through the stream footer
      var p = b.length - src.available()
      // stream padding: 4-byte-aligned zeros
      while (p + 4 <= b.length && b(p) == 0 && b(p + 1) == 0 && b(p + 2) == 0 && b(p + 3) == 0)
        p += 4
      Some((out, p))
    } catch { case _: Exception => None }
  }

  /** Strict whole-payload decode over concatenated streams. */
  def decode(b: Array[Byte]): Option[Array[Byte]] = {
    if (b == null || b.isEmpty) return None
    val out = new java.io.ByteArrayOutputStream()
    var pos = 0
    while (pos < b.length) {
      decodeStream(b, pos) match {
        case Some((data, next)) => out.write(data); pos = next
        case None => return None
      }
    }
    Some(out.toByteArray)
  }
}

package graft.operators

/** LZ4 decoder — pure Scala, from-spec: the block format (the LZ4
  * sequence grammar: token nibbles, 255-extension lengths, 16-bit
  * offsets, overlap copies, the end-of-block literal run) and the
  * frame format v1.6 (magic, FLG/BD descriptor with its xxHash32
  * header checksum VERIFIED, independent and linked blocks, optional
  * per-block and whole-content xxHash32 checksums, content size
  * cross-check, skippable frames, frame concatenation). The JDK has no
  * LZ4; `.lz4` is the low-latency corpus interchange format (Hadoop
  * codecs, Kafka, fast dataset mirrors).
  *
  * Why this decoder is not lz4-java's: lz4-java 1.8 ships on the Spark
  * classpath (shuffle codec), but its `LZ4FrameInputStream` rejects
  * linked-block frames ("Dependent block stream is unsupported"), and
  * linked blocks are the liblz4 frame API's default (`LZ4F_blockLinked`)
  * and what `lz4 -BD` writes; the linked-block test in Lz4Spec is the
  * witness. The checksums do come from lz4-java's xxHash32.
  *
  * Correctness anchor: the spec round-trips this decoder against the
  * REAL compressor — both the fast and high-compression encoders, both
  * frame block modes — plus hand-built streams for the corners the
  * reference encoder never emits.
  *
  * Subset, honestly: dictionary-ID frames are rejected (corpus members
  * are self-contained), as are reserved version bits.
  */
object Lz4Codec {

  private val FrameMagic = 0x184d2204
  private val SkipMagicBase = 0x184d2a50

  // LZ4 frame header/block/content checksums: xxHash32, seed 0
  private val xxhash32 = net.jpountz.xxhash.XXHashFactory.fastestInstance().hash32()

  // ---------------------------------------------------------- block form

  /** Decode one LZ4 block into `out` starting at `outOff`, with match
    * copies allowed to reach back into `out` before `outOff` (linked-
    * block mode hands the previous 64 KiB window that way). Returns the
    * new output length or throws on corruption.
    */
  def decodeBlock(
      src: Array[Byte], from: Int, until: Int,
      out: Array[Byte], outOff: Int, outLimit: Int): Int = {
    var p = from
    var o = outOff
    while (p < until) {
      val token = src(p) & 0xff; p += 1
      // literal run
      var litLen = token >> 4
      if (litLen == 15) {
        var x = 0
        do {
          require(p < until, "truncated literal length")
          x = src(p) & 0xff; p += 1; litLen += x
        } while (x == 255)
      }
      require(p + litLen <= until, "literal run overruns block")
      require(o + litLen <= outLimit, "literal run overruns output")
      System.arraycopy(src, p, out, o, litLen)
      p += litLen; o += litLen
      if (p == until) return o // last sequence is literals-only by spec
      require(p + 2 <= until, "truncated match offset")
      val offset = (src(p) & 0xff) | ((src(p + 1) & 0xff) << 8); p += 2
      require(offset > 0, "zero match offset")
      var matchLen = (token & 0xf) + 4
      if ((token & 0xf) == 15) {
        var x = 0
        do {
          require(p < until, "truncated match length")
          x = src(p) & 0xff; p += 1; matchLen += x
        } while (x == 255)
      }
      require(o - offset >= 0, s"match offset $offset beyond window")
      require(o + matchLen <= outLimit, "match overruns output")
      var i = 0
      while (i < matchLen) { out(o + i) = out(o + i - offset); i += 1 }
      o += matchLen
    }
    o
  }

  // ---------------------------------------------------------- frame form

  private def le(b: Array[Byte], off: Int, n: Int): Long = {
    var v = 0L; var k = 0
    while (k < n) { v |= (b(off + k) & 0xffL) << (8 * k); k += 1 }
    v
  }

  /** Decode ONE frame at `pos`: Some((payload, nextPos)) or None on any
    * corruption (header checksum, block checksums, content checksum and
    * content size are all VERIFIED when present). Skippable frames
    * return Some((empty, nextPos)).
    */
  def decodeFrame(b: Array[Byte], pos: Int): Option[(Array[Byte], Int)] = {
    try {
      if (b.length - pos < 4) return None
      val magic = le(b, pos, 4).toInt
      if ((magic & 0xfffffff0) == SkipMagicBase) {
        if (b.length - pos < 8) return None
        val size = le(b, pos + 4, 4)
        val next = pos + 8 + size
        if (next > b.length) return None
        return Some((Array.emptyByteArray, next.toInt))
      }
      if (magic != FrameMagic) return None
      var p = pos + 4
      val flg = b(p) & 0xff
      val bd = b(p + 1) & 0xff
      if ((flg >> 6) != 1) return None // version must be 01
      val blockIndep = (flg & 0x20) != 0
      val blockChecksum = (flg & 0x10) != 0
      val hasContentSize = (flg & 0x08) != 0
      val contentChecksum = (flg & 0x04) != 0
      if ((flg & 0x02) != 0) return None // reserved bit
      if ((flg & 0x01) != 0) return None // dictionary ID out of subset
      val bmax = (bd >> 4) & 7
      if (bmax < 4 || bmax > 7 || (bd & 0x8f) != 0) return None
      val blockMax = 1 << (8 + 2 * bmax) // 64 KiB .. 4 MiB
      var headerLen = 2
      var contentSize = -1L
      if (hasContentSize) { contentSize = le(b, p + 2, 8); headerLen += 8 }
      val hc = b(p + headerLen) & 0xff
      if (((xxhash32.hash(b, p, headerLen, 0) >> 8) & 0xff) != hc) return None
      p += headerLen + 1
      val out = new java.io.ByteArrayOutputStream()
      var window = new Array[Byte](0) // linked-block history (<= 64 KiB)
      var done = false
      while (!done) {
        if (b.length - p < 4) return None
        val bsizeRaw = le(b, p, 4).toInt; p += 4
        if (bsizeRaw == 0) done = true
        else {
          val uncompressed = (bsizeRaw & 0x80000000) != 0
          val bsize = bsizeRaw & 0x7fffffff
          if (bsize > blockMax || p + bsize > b.length) return None
          if (blockChecksum) {
            if (p + bsize + 4 > b.length) return None
            if (xxhash32.hash(b, p, bsize, 0) != le(b, p + bsize, 4).toInt) return None
          }
          val data =
            if (uncompressed) java.util.Arrays.copyOfRange(b, p, p + bsize)
            else {
              // decode with the linked window prefixed when dependent
              val buf = new Array[Byte](window.length + blockMax)
              System.arraycopy(window, 0, buf, 0, window.length)
              val end = decodeBlock(b, p, p + bsize, buf, window.length, buf.length)
              java.util.Arrays.copyOfRange(buf, window.length, end)
            }
          out.write(data)
          if (!blockIndep) {
            // maintain the trailing 64 KiB as the next block's window
            val keep = math.min(65536, window.length + data.length)
            val w = new Array[Byte](keep)
            val fromData = math.min(data.length, keep)
            val fromWin = keep - fromData
            System.arraycopy(window, window.length - fromWin, w, 0, fromWin)
            System.arraycopy(data, data.length - fromData, w, fromWin, fromData)
            window = w
          }
          p += bsize + (if (blockChecksum) 4 else 0)
        }
      }
      val payload = out.toByteArray
      if (contentSize >= 0 && payload.length.toLong != contentSize) return None
      if (contentChecksum) {
        if (p + 4 > b.length) return None
        if (xxhash32.hash(payload, 0, payload.length, 0) != le(b, p, 4).toInt) return None
        p += 4
      }
      Some((payload, p))
    } catch { case _: Exception => None }
  }

  /** Strict whole-payload decode: concatenated frames, every one must
    * verify; None on any corruption or trailing garbage.
    */
  def decode(b: Array[Byte]): Option[Array[Byte]] = {
    if (b == null || b.isEmpty) return None
    val out = new java.io.ByteArrayOutputStream()
    var pos = 0
    while (pos < b.length) {
      decodeFrame(b, pos) match {
        case Some((data, next)) => out.write(data); pos = next
        case None => return None
      }
    }
    Some(out.toByteArray)
  }
}

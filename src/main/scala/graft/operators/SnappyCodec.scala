package graft.operators

/** Snappy member walk: raw blocks decode through snappy-java (on the
  * Spark classpath as a parquet codec); this object owns the framing
  * format around them (magic stream identifier chunk, compressed/
  * uncompressed data chunks with their MASKED CRC32C verified, padding
  * and reserved-skippable chunks, reserved-unskippable rejection),
  * because the framing walk is what defines member boundaries in a
  * concatenated corpus. Snappy is the Hadoop-lineage corpus codec
  * (parquet/avro/sequence files, Kafka); the JDK ships the CRC32C the
  * framing checksums use.
  */
object SnappyCodec {

  /** Decode one raw snappy block in `src[from, until)`: the declared
    * length is checked against a 128 MiB corrupt-input allocation guard
    * before anything is allocated. Throws on corruption.
    */
  def decodeRaw(src: Array[Byte], from: Int, until: Int): Array[Byte] = {
    val len = org.xerial.snappy.Snappy.uncompressedLength(src, from, until - from)
    require(len >= 0 && len <= (1 << 27), "implausible snappy length") // 128 MiB guard
    val out = new Array[Byte](len)
    val n = org.xerial.snappy.Snappy.uncompress(src, from, until - from, out, 0)
    require(n == len, s"decoded $n of declared $len bytes")
    out
  }

  // ------------------------------------------------------------- framed

  private val StreamId: Array[Byte] =
    Array[Byte](0xff.toByte, 6, 0, 0) ++ "sNaPpY".getBytes("US-ASCII")

  /** Masked CRC32C of the UNCOMPRESSED data (framing format §3). */
  def maskedCrc32c(b: Array[Byte], off: Int, len: Int): Int = {
    val c = new java.util.zip.CRC32C()
    c.update(b, off, len)
    val crc = c.getValue.toInt
    ((crc >>> 15) | (crc << 17)) + 0xa282ead8
  }

  /** Decode a framed snappy stream (must begin with the stream
    * identifier). CRCs verified; padding (0xfe) and reserved-skippable
    * (0x80–0xfd) chunks skipped; reserved-unskippable (0x02–0x7f)
    * rejects. None on any corruption.
    */
  def decodeFramed(b: Array[Byte]): Option[Array[Byte]] = {
    try {
      if (b == null || b.length < StreamId.length) return None
      if (!java.util.Arrays.equals(java.util.Arrays.copyOfRange(b, 0, 10), StreamId)) return None
      val out = new java.io.ByteArrayOutputStream()
      var p = StreamId.length
      while (p < b.length) {
        if (b.length - p < 4) return None
        val chunkType = b(p) & 0xff
        val size = (b(p + 1) & 0xff) | ((b(p + 2) & 0xff) << 8) | ((b(p + 3) & 0xff) << 16)
        p += 4
        if (p + size > b.length) return None
        chunkType match {
          case 0x00 => // compressed data: masked CRC32C + snappy block
            if (size < 4) return None
            val data = decodeRaw(b, p + 4, p + size)
            if (data.length > 65536) return None // framing caps chunk data at 64 KiB
            if (maskedCrc32c(data, 0, data.length) != le32(b, p)) return None
            out.write(data)
          case 0x01 => // uncompressed data
            if (size < 4 || size - 4 > 65536) return None
            if (maskedCrc32c(b, p + 4, size - 4) != le32(b, p)) return None
            out.write(b, p + 4, size - 4)
          case 0xff => // repeated stream identifier: must match
            if (size != 6) return None
            if (!java.util.Arrays.equals(
              java.util.Arrays.copyOfRange(b, p - 4, p + 6), StreamId)) return None
          case t if t == 0xfe || (t >= 0x80 && t <= 0xfd) => () // padding / skippable
          case _ => return None // reserved unskippable
        }
        p += size
      }
      Some(out.toByteArray)
    } catch { case _: Exception => None }
  }

  /** Decode a framed stream AT a position inside a larger payload,
    * ending leniently at the first byte that is not a valid snappy
    * chunk — the member shape the mixed-format [[Codecs]] walk needs
    * (the framing format is unbounded by design; in a concatenated
    * corpus the next member's magic byte, 0x1f/0x28/0x04/0x42, falls
    * in snappy's reserved-unskippable range and terminates the member
    * — EXCEPT xz, whose first magic byte 0xfd lands in the skippable
    * range; that adjacency is resolved by sniffing the full 6-byte xz
    * magic before consuming a 0xfd "skippable" chunk, and by treating
    * a skippable chunk whose declared size overruns the buffer as
    * end-of-member rather than corruption).
    * Returns Some((data, nextPos)); None if the stream id is absent or
    * any PARSED chunk fails its CRC.
    */
  def decodeFramedAt(b: Array[Byte], pos: Int): Option[(Array[Byte], Int)] = {
    try {
      if (b == null || b.length - pos < StreamId.length) return None
      if (!java.util.Arrays.equals(
        java.util.Arrays.copyOfRange(b, pos, pos + 10), StreamId)) return None
      val out = new java.io.ByteArrayOutputStream()
      var p = pos + StreamId.length
      var done = false
      while (!done && p < b.length) {
        val chunkType = b(p) & 0xff
        val valid = chunkType == 0x00 || chunkType == 0x01 || chunkType == 0xfe ||
          (chunkType >= 0x80 && chunkType <= 0xfd)
        val xzMagicHere = chunkType == 0xfd && b.length - p >= 6 &&
          (b(p + 1) & 0xff) == 0x37 && (b(p + 2) & 0xff) == 0x7a &&
          (b(p + 3) & 0xff) == 0x58 && (b(p + 4) & 0xff) == 0x5a && b(p + 5) == 0
        val skippable = chunkType == 0xfe || (chunkType >= 0x80 && chunkType <= 0xfd)
        if (!valid || xzMagicHere) done = true // next member's magic (or stream end)
        else if (skippable && b.length - p < 4) done = true // truncated foreign tail
        else {
          if (b.length - p < 4) return None
          val size = (b(p + 1) & 0xff) | ((b(p + 2) & 0xff) << 8) | ((b(p + 3) & 0xff) << 16)
          if (p + 4 + size > b.length) {
            if (skippable) { done = true } // bogus length from foreign bytes: end of member
            else return None
          }
          if (done) { /* fall through to loop exit without consuming */ }
          else {
          val q = p + 4
          chunkType match {
            case 0x00 =>
              if (size < 4) return None
              val data = decodeRaw(b, q + 4, q + size)
              if (data.length > 65536) return None
              if (maskedCrc32c(data, 0, data.length) != le32(b, q)) return None
              out.write(data)
            case 0x01 =>
              if (size < 4 || size - 4 > 65536) return None
              if (maskedCrc32c(b, q + 4, size - 4) != le32(b, q)) return None
              out.write(b, q + 4, size - 4)
            case _ => () // padding / skippable
          }
          p += 4 + size
          }
        }
      }
      Some((out.toByteArray, p))
    } catch { case _: Exception => None }
  }

  private def le32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  /** Encode a framed stream from raw snappy-java blocks — fixture
    * writer for the framing walk (the framing format is a container
    * convention; the BLOCKS come from the reference compressor).
    */
  def encodeFramed(data: Array[Byte], chunk: Int = 65536, compress: Boolean = true): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(StreamId, 0, StreamId.length)
    def chunkHeader(tpe: Int, body: Int, crc: Int): Unit = {
      out.write(Array[Byte](tpe.toByte,
        (body & 0xff).toByte, ((body >> 8) & 0xff).toByte, ((body >> 16) & 0xff).toByte,
        (crc & 0xff).toByte, ((crc >> 8) & 0xff).toByte,
        ((crc >> 16) & 0xff).toByte, ((crc >> 24) & 0xff).toByte), 0, 8)
    }
    var off = 0
    while (off < data.length) {
      val n = math.min(chunk, data.length - off)
      val crc = maskedCrc32c(data, off, n)
      if (compress) {
        val comp = org.xerial.snappy.Snappy.compress(
          java.util.Arrays.copyOfRange(data, off, off + n))
        chunkHeader(0x00, 4 + comp.length, crc)
        out.write(comp, 0, comp.length)
      } else {
        chunkHeader(0x01, 4 + n, crc)
        out.write(data, off, n)
      }
      off += n
    }
    out.toByteArray
  }
}

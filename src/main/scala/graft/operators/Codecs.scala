package graft.operators

/** The mixed-format corpus front door: a 100 TB corpus does not arrive
  * in one compression format — gzip (CommonCrawl), zstd (modern dumps),
  * LZ4 (low-latency mirrors), framed snappy (Hadoop lineage), bzip2
  * (Wikipedia dumps, pbzip2 shards), and xz (kernel/academic archives)
  * sit side by side, often concatenated shard by shard. This sniffs
  * each member's magic and routes it to the matching member decoder
  * ([[Warc.inflateMember]] / [[ZstdCodec]] / [[Lz4Codec]] /
  * [[SnappyCodec]] / [[Bzip2Codec]] / [[XzCodec]]), yielding (offset,
  * format, payload) rows. The JDK inflater and the classpath's codec
  * libraries (zstd-jni, snappy-java, xz) decode the bytes and each
  * member decoder reports where its member ends; LZ4, bzip2 and the
  * snappy framing walk stay in-repo. A member that fails its
  * format's own integrity gates quarantines and the walk
  * resynchronizes at the next position where a sniffed magic actually
  * decodes.
  *
  * At 1000-executor scale members are independent rows (the
  * [[Warc.parseRecords]] splittable-ingest shape), so the mixed walk
  * parallelizes by file/shard with zero coordination before the
  * terminal per-format aggregate.
  */
object Codecs {

  private def le32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  /** Magic-byte sniff at a position: the format name, or "" if no known
    * magic starts here. (zstd skippable frames sniff as "zstd" — the
    * zstd walk owns them.)
    */
  def sniff(b: Array[Byte], pos: Int): String = {
    if (b.length - pos >= 2 && b(pos) == 0x1f.toByte && b(pos + 1) == 0x8b.toByte) return "gzip"
    if (b.length - pos >= 4) {
      val m = le32(b, pos)
      if (m == 0xfd2fb528) return "zstd"
      if ((m & 0xfffffff0) == 0x184d2a50) return "zstd" // skippable frame family
      if (m == 0x184d2204) return "lz4"
    }
    if (b.length - pos >= 10 && b(pos) == 0xff.toByte && b(pos + 1) == 6 &&
      b(pos + 2) == 0 && b(pos + 3) == 0 && b(pos + 4) == 's') return "snappy"
    if (b.length - pos >= 4 && b(pos) == 'B' && b(pos + 1) == 'Z' && b(pos + 2) == 'h' &&
      b(pos + 3) >= '1' && b(pos + 3) <= '9') return "bzip2"
    if (b.length - pos >= 6 && b(pos) == 0xfd.toByte && b(pos + 1) == '7' &&
      b(pos + 2) == 'z' && b(pos + 3) == 'X' && b(pos + 4) == 'Z' && b(pos + 5) == 0) return "xz"
    ""
  }

  /** Decode ONE member at `pos` in its sniffed format: Some((format,
    * payload, nextPos)) or None. zstd skippable frames return an empty
    * payload (the caller drops them).
    */
  def decodeMemberAt(b: Array[Byte], pos: Int): Option[(String, Array[Byte], Int)] =
    sniff(b, pos) match {
      case "gzip" => Warc.inflateMember(b, pos).map { case (d, n) => ("gzip", d, n) }
      case "zstd" => ZstdCodec.decodeFrame(b, pos).map { case (d, n) => ("zstd", d, n) }
      case "lz4" => Lz4Codec.decodeFrame(b, pos).map { case (d, n) => ("lz4", d, n) }
      case "snappy" => SnappyCodec.decodeFramedAt(b, pos).map { case (d, n) => ("snappy", d, n) }
      case "bzip2" => Bzip2Codec.decodeStream(b, pos).map { case (d, n) => ("bzip2", d, n) }
      case "xz" => XzCodec.decodeStream(b, pos).map { case (d, n) => ("xz", d, n) }
      case _ => None
    }

  /** Walk a mixed-format concatenation into (offset, format, payload |
    * null-if-corrupt) members. Skippable zstd frames are transparent.
    * Resynchronization: a corrupt span ends at the next position whose
    * sniffed magic actually decodes (magic bytes occur by chance inside
    * compressed spans; validation re-decodes once, bounded by corrupt
    * spans which are the rare path).
    */
  def members(b: Array[Byte]): Seq[(Long, String, Array[Byte])] = {
    val out = scala.collection.mutable.Buffer.empty[(Long, String, Array[Byte])]
    if (b == null || b.isEmpty) return out.toSeq
    var pos = 0
    while (pos < b.length) {
      val start = pos
      decodeMemberAt(b, pos) match {
        case Some((fmt, data, next)) =>
          // only zstd SKIPPABLE frames are transparent; a legitimately
          // empty member of any format still yields its row
          val skippable = b.length - start >= 4 &&
            (le32(b, start) & 0xfffffff0) == 0x184d2a50
          if (!skippable) out += ((start.toLong, fmt, data))
          pos = next
        case None =>
          var n = pos + 1
          var next = b.length
          while (next == b.length && n < b.length - 1) {
            if (sniff(b, n).nonEmpty && decodeMemberAt(b, n).isDefined) next = n
            n += 1
          }
          out += ((start.toLong, "(corrupt)", null))
          pos = next
      }
    }
    out.toSeq
  }

  // ------------------------------------------------------------- Spark

  final case class MixedMember(
      doc_id: Long,
      offset: Long,
      format: String,
      decoded_bytes: Long,
      body_text: String,
      corrupt: Boolean)

  /** Partition-parallel mixed-format member walk over (doc_id, payload). */
  def parseMembers(media: org.apache.spark.sql.DataFrame)(
      implicit spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.Dataset[MixedMember] = {
    import spark.implicits._
    media.select("doc_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        members(bytes).map {
          case (off, fmt, null) => MixedMember(id, off, fmt, -1L, "", corrupt = true)
          case (off, fmt, data) => MixedMember(id, off, fmt, data.length.toLong,
            new String(data, "UTF-8"), corrupt = false)
        }
      })
  }
}

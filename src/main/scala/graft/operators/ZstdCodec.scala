package graft.operators

/** Zstandard (RFC 8878) member walk over zstd-jni, the libzstd binding
  * Spark bundles for its parquet codec: the modern corpus-compression
  * front door (CommonCrawl-adjacent corpora, HF datasets, and most
  * 2020s text dumps ship `.zst`). libzstd finds each frame's end
  * (`ZSTD_findFrameCompressedSize`, skippable frames included) and
  * decodes it one-shot, verifying the content checksum and the declared
  * content size; this object adds the walk around it — multi-frame
  * concatenation, skippable frames, quarantine-and-resync, and the
  * decode-free frame index.
  *
  * Subset: dictionary frames (non-zero Dictionary_ID) fail to decode —
  * corpus members are self-contained frames — and no frame may decode
  * to more than 1 GiB, a corrupt-input allocation guard checked against
  * the declared Frame_Content_Size before anything is allocated. The
  * one-shot decode allocates no window, so the output cap is the only
  * allocation.
  *
  * Reference behavior being re-expressed: hyperion's ingest accepts
  * compressed payload bodies opaquely (src/indexer/workers/deserializer.ts
  * hands bytes through); the LLM-pipeline front doors (Warc/ZipWalk/Tar)
  * here extend that to the container formats a 100 TB corpus arrives in.
  */
object ZstdCodec {

  import com.github.luben.zstd.{Zstd, ZstdException}

  private val FrameMagic = 0xfd2fb528
  private val SkipMagicBase = 0x184d2a50
  private val MaxOutput = 1 << 30 // corrupt-input allocation guard

  private def le32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  /** Decode ONE frame starting at `pos`. Returns Some((payload,
    * nextPos)) or None on any corruption (strict: checksum verified
    * when present, frame content size cross-checked when present).
    * Skippable frames return Some((empty, nextPos)).
    */
  def decodeFrame(b: Array[Byte], pos: Int): Option[(Array[Byte], Int)] = {
    try {
      val len = Zstd.findFrameCompressedSize(b, pos, b.length - pos).toInt
      if (isSkippable(b, pos)) return Some((Array.emptyByteArray, pos + len))
      val fcs = Zstd.getFrameContentSize(b, pos, len)
      if (fcs < -1 || fcs > MaxOutput) return None
      if (fcs >= 0) {
        val out = new Array[Byte](fcs.toInt)
        Zstd.decompressByteArray(out, 0, out.length, b, pos, len)
        Some((out, pos + len))
      } else {
        // no declared size: decode into a doubling buffer up to the cap
        def attempt(cap: Int): Array[Byte] = {
          val out = new Array[Byte](cap)
          try java.util.Arrays.copyOf(out, Zstd.decompressByteArray(out, 0, cap, b, pos, len).toInt)
          catch {
            case e: ZstdException
                if e.getErrorCode == Zstd.errDstSizeTooSmall() && cap < MaxOutput =>
              attempt(math.min(MaxOutput.toLong, 2L * cap).toInt)
          }
        }
        Some((attempt(math.min(MaxOutput.toLong, math.max(1L << 16, 4L * len)).toInt), pos + len))
      }
    } catch { case _: Exception => None }
  }

  /** Decode-free frame index: libzstd hops over frame and block HEADERS
    * only — no entropy decode, no output buffer — to find member
    * boundaries at I/O speed. This is what makes a 100 TB `.zst` corpus
    * SPLITTABLE (boundary discovery costs bytes-read, not decompression)
    * and what a ranged fetch plans with: decode only the frames that
    * hold the rows you want, skip the rest ([[Mp4Codec]]'s keyframe-plan
    * pattern for compressed text). Returns (offset, compressedLen) per
    * DATA frame (skippables hopped); a frame whose headers cannot be
    * walked ends the index at that offset with a (-1)-length sentinel so
    * callers see the corruption boundary.
    */
  def frameIndex(b: Array[Byte]): Seq[(Long, Long)] = {
    val out = scala.collection.mutable.Buffer.empty[(Long, Long)]
    if (b == null || b.isEmpty) return out.toSeq
    var pos = 0
    var corrupt = false
    while (pos < b.length && !corrupt) {
      val len =
        try Zstd.findFrameCompressedSize(b, pos, b.length - pos)
        catch { case _: ZstdException => -1L }
      if (len <= 0) {
        out += ((pos.toLong, -1L))
        corrupt = true
      } else {
        if (!isSkippable(b, pos)) out += ((pos.toLong, len))
        pos += len.toInt
      }
    }
    out.toSeq
  }

  /** Strict whole-payload decode: every frame must verify; frames
    * concatenate (skippable frames contribute nothing). None on any
    * corruption or trailing garbage.
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

  /** Member walk with quarantine-and-resync — the [[Warc.gzipMembers]]
    * contract for zstd: a corrupt frame yields (offset, null) and the
    * walk resynchronizes at the next VALID frame (a found magic must
    * also decode — compressed bytes can contain the magic by chance).
    *
    * Detection contract: quarantine is only as strong as the frame's
    * own integrity data. gzip members carry a mandatory CRC-32; zstd
    * checksums are OPTIONAL (the CLI default writes them, the library
    * default does not) — a truncated checksum-less frame can absorb the
    * next frame's bytes as raw-block content and "decode". Corpus
    * writers wanting the quarantine guarantee must write checksummed
    * frames; the spec pins both behaviors.
    */
  def members(b: Array[Byte]): Seq[(Long, Array[Byte])] = {
    val out = scala.collection.mutable.Buffer.empty[(Long, Array[Byte])]
    if (b == null || b.isEmpty) return out.toSeq
    var pos = 0
    while (pos < b.length) {
      val start = pos
      decodeFrame(b, pos) match {
        case Some((data, next)) =>
          if (!isSkippable(b, start)) out += ((start.toLong, data))
          pos = next
        case None =>
          var n = pos + 1
          var next = b.length
          while (next == b.length && n <= b.length - 4) {
            if ((le32(b, n) == FrameMagic || isSkippable(b, n)) &&
              decodeFrame(b, n).isDefined) next = n
            n += 1
          }
          out += ((start.toLong, null))
          pos = next
      }
    }
    out.toSeq
  }

  private def isSkippable(b: Array[Byte], pos: Int): Boolean =
    b.length - pos >= 4 && (le32(b, pos) & 0xfffffff0) == SkipMagicBase

  // ------------------------------------------------------------- Spark

  final case class ZstMember(
      doc_id: Long,
      offset: Long,
      decoded_bytes: Long,
      body_text: String,
      corrupt: Boolean)

  /** Partition-parallel member walk over (doc_id, payload) — one row
    * per zstd frame (corrupt frames quarantine at their offset). The
    * splittable-ingest shape: frame boundaries are record boundaries,
    * so a sharded `.zst` corpus fans out without a record crossing a
    * task, exactly the [[Warc.parseRecords]] contract.
    */
  def parseMembers(media: org.apache.spark.sql.DataFrame)(
      implicit spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.Dataset[ZstMember] = {
    import spark.implicits._
    media.select("doc_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        members(bytes).map {
          case (off, null) => ZstMember(id, off, -1L, "", corrupt = true)
          case (off, data) => ZstMember(id, off, data.length.toLong,
            new String(data, "UTF-8"), corrupt = false)
        }
      })
  }
}

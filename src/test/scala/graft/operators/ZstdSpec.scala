package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop}
import com.github.luben.zstd.{ZstdCompressCtx, ZstdOutputStream}

/** The zstd member walk over libzstd (zstd-jni), fed genuine zstd
  * output — raw/RLE/compressed blocks, multi-block frames, frames with
  * and without a declared content size — at a spread of levels and
  * entropy regimes, plus the walk's own contracts: concatenation,
  * skippable frames, quarantine-and-resync, and the decode-free index.
  */
class ZstdSpec extends AnyFunSuite {

  private def check(p: Prop, min: Int = 40): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(min), p)
    assert(res.passed, res.status.toString)
  }

  private def compress(data: Array[Byte], level: Int, checksum: Boolean = false): Array[Byte] = {
    val ctx = new ZstdCompressCtx()
    try {
      ctx.setLevel(level)
      ctx.setChecksum(checksum)
      ctx.compress(data)
    } finally ctx.close()
  }

  private val levels = Seq(-3, 1, 3, 9, 17, 22)

  private def corpora: Seq[(String, Array[Byte])] = Seq(
    "empty" -> Array.emptyByteArray,
    "one-byte" -> Array[Byte](42),
    "rle" -> Array.fill[Byte](100000)('a'),
    "short-text" -> "the quick brown fox jumps over the lazy dog".getBytes("UTF-8"),
    // incompressible: raw blocks at every level
    "random" -> {
      val r = new scala.util.Random(7); val a = new Array[Byte](70000); r.nextBytes(a); a
    },
    // compressible structured text: huffman + sequences + repcodes
    "text" -> (0 until 8000).map(i =>
      s"doc $i field ${i % 13} value ${i * 37 % 1000} lorem ipsum dolor sit amet\n")
      .mkString.getBytes("UTF-8"),
    // periodic: short offsets, heavy match reuse
    "periodic" -> Array.tabulate[Byte](50000)(i => (i % 7 + 60).toByte),
    // all byte values: full-alphabet huffman
    "alphabet" -> Array.tabulate[Byte](65536)(i => (i * 131 % 256).toByte),
    // multi-block (over 128 KiB): treeless + repeat table modes appear
    "large" -> (0 until 40000).map(i =>
      s"line ${i % 977} with shared suffix tail tail tail ${i % 31}\n")
      .mkString.getBytes("UTF-8"))

  // the streaming writer declares no Frame_Content_Size
  private def compressStreamed(data: Array[Byte], level: Int): Array[Byte] = {
    val mem = new java.io.ByteArrayOutputStream()
    val out = new ZstdOutputStream(mem, level)
    out.write(data); out.close()
    mem.toByteArray
  }

  test("round-trips real zstd output across levels and entropy regimes") {
    for ((name, data) <- corpora; level <- levels;
         (mode, z) <- Seq("sized" -> compress(data, level), "streamed" -> compressStreamed(data, level))) {
      val d = ZstdCodec.decode(z)
      assert(d.isDefined, s"$name at level $level ($mode) must decode")
      assert(java.util.Arrays.equals(d.get, data), s"$name at level $level ($mode) round trip")
    }
  }

  test("content checksums are verified, not skipped") {
    val data = corpora.toMap.apply("text")
    val z = compress(data, 3, checksum = true)
    assert(java.util.Arrays.equals(ZstdCodec.decode(z).get, data))
    // flip one bit in the trailing checksum: frame must be rejected
    val bad = z.clone(); bad(bad.length - 1) = (bad(bad.length - 1) ^ 1).toByte
    assert(ZstdCodec.decode(bad).isEmpty, "corrupt checksum must reject the frame")
    // flip one payload bit mid-frame: checksum catches what parsing may not
    val bad2 = z.clone(); bad2(z.length / 2) = (bad2(z.length / 2) ^ 0x10).toByte
    val d2 = ZstdCodec.decode(bad2)
    assert(d2.isEmpty || java.util.Arrays.equals(d2.get, data))
  }

  test("multi-frame concatenation and skippable frames") {
    val a = "first frame payload".getBytes("UTF-8")
    val b = "second frame payload, longer and with repeats repeats".getBytes("UTF-8")
    val skip = {
      val bb = java.nio.ByteBuffer.allocate(8 + 5).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(0x184d2a53) // skippable magic (any low nibble)
      bb.putInt(5)
      bb.put("junk!".getBytes("UTF-8"))
      bb.array()
    }
    val whole = compress(a, 3) ++ skip ++ compress(b, 19)
    val d = ZstdCodec.decode(whole)
    assert(d.isDefined && java.util.Arrays.equals(d.get, a ++ b))
    // member walk: two data members at the right offsets, skippable silent
    val m = ZstdCodec.members(whole)
    assert(m.length === 2)
    assert(m(0)._1 === 0L && java.util.Arrays.equals(m(0)._2, a))
    assert(new String(m(1)._2, "UTF-8").startsWith("second frame"))
  }

  test("corrupt members quarantine and the walk resynchronizes") {
    // checksummed members (the zstd CLI default): without checksums a
    // truncated frame can silently absorb the NEXT frame's bytes as raw
    // block content — the checksum is what makes corruption detectable,
    // exactly the role CRC-32 plays in the Warc gzip walk
    val docs = (0 until 5).map(i => s"document number $i with some body text".getBytes("UTF-8"))
    val frames = docs.map(compress(_, 3, checksum = true))
    // truncate frame 2 mid-stream: the walk must yield a corrupt row there
    // and resynchronize at frame 3's magic
    val corrupted = frames(0) ++ frames(1) ++
      frames(2).take(frames(2).length - 6) ++ frames(3) ++ frames(4)
    val m = ZstdCodec.members(corrupted)
    val ok = m.filter(_._2 != null)
    val bad = m.filter(_._2 == null)
    assert(bad.length === 1, s"exactly one quarantined member, got ${bad.length}")
    assert(ok.length === 4)
    assert(ok.map(x => new String(x._2, "UTF-8")).toSet ===
      Set(0, 1, 3, 4).map(i => s"document number $i with some body text"))
    // strict decode refuses the whole payload
    assert(ZstdCodec.decode(corrupted).isEmpty)
  }

  test("dictionary frames and oversized windows are rejected, not misdecoded") {
    val data = "payload".getBytes("UTF-8")
    val z = compress(data, 3)
    // patch the frame header descriptor to claim a dictionary id
    val withDict = z.clone()
    withDict(4) = (withDict(4) | 0x01).toByte // Dictionary_ID_Flag = 1
    // now a dict-id byte is expected where the window byte was: reject
    // (either unparseable or a nonzero dict id)
    val d = ZstdCodec.decodeFrame(withDict, 0)
    assert(d.isEmpty || java.util.Arrays.equals(d.get._1, data) === false)
  }

  test("never throws on arbitrary garbage and random truncations") {
    val r = new scala.util.Random(11)
    val real = compress(corpora.toMap.apply("text"), 6)
    for (_ <- 0 until 300) {
      val garbage = new Array[Byte](r.nextInt(200)); r.nextBytes(garbage)
      ZstdCodec.decode(garbage) // must not throw
      val cut = real.take(r.nextInt(real.length))
      ZstdCodec.decode(cut) // must not throw
      val flipped = real.clone()
      flipped(r.nextInt(real.length)) = (flipped(r.nextInt(real.length)) ^ (1 << r.nextInt(8))).toByte
      val d = ZstdCodec.decode(flipped) // must not throw; content unchecked (no checksum)
      d.foreach(out => assert(out.length <= (1 << 26), "corrupt input must not explode output"))
    }
  }

  test("property: decode(realCompress(bytes)) == bytes for arbitrary input") {
    val genBytes = for {
      n <- Gen.chooseNum(0, 4000)
      mode <- Gen.oneOf(0, 1, 2)
      seed <- Gen.chooseNum(0, Int.MaxValue)
    } yield {
      val r = new scala.util.Random(seed)
      mode match {
        case 0 => val a = new Array[Byte](n); r.nextBytes(a); a // incompressible
        case 1 => Array.tabulate[Byte](n)(i => (i % (1 + r.nextInt(9)) + 40).toByte) // periodic
        case _ => (0 until n / 8 + 1).map(i => s"w${r.nextInt(50)} ").mkString.getBytes("UTF-8").take(n) // texty
      }
    }
    val genLevel = Gen.oneOf(-5, 1, 3, 7, 12, 19)
    check(Prop.forAll(genBytes, genLevel, Gen.oneOf(true, false)) { (data, level, cks) =>
      val d = ZstdCodec.decode(compress(data, level, cks))
      d.isDefined && java.util.Arrays.equals(d.get, data)
    })
  }

  test("frameIndex: decode-free boundaries equal the decoding walk's") {
    val docs = (0 until 8).map(i => s"ranged doc $i ${"pad " * (i * 13)}".getBytes("UTF-8"))
    val frames = docs.zipWithIndex.map { case (d, i) => compress(d, 1 + i % 9, checksum = true) }
    val skip = {
      val bb = java.nio.ByteBuffer.allocate(9).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(0x184d2a57); bb.putInt(1); bb.put(9.toByte); bb.array()
    }
    val whole = frames(0) ++ frames(1) ++ skip ++ frames.drop(2).reduce(_ ++ _)
    val idx = ZstdCodec.frameIndex(whole)
    val walk = ZstdCodec.members(whole)
    assert(idx.length === 8)
    assert(idx.forall(_._2 > 0))
    assert(idx.map(_._1) === walk.map(_._1), "index offsets must equal the decoding walk's")
    // every indexed range decodes to its doc without touching the rest
    idx.zipWithIndex.foreach { case ((off, len), i) =>
      val d = ZstdCodec.decodeFrame(whole, off.toInt)
      assert(d.isDefined && java.util.Arrays.equals(d.get._1, docs(i)))
      assert(d.get._2 - off === len, "index length must equal the frame's byte span")
    }
    // corruption surfaces as the (-1) sentinel at the right offset
    val cut = whole.take(whole.length - 4)
    val idxCut = ZstdCodec.frameIndex(cut)
    assert(idxCut.last._2 === -1L)
    assert(idxCut.count(_._2 > 0) === 7)
  }

  test("decode throughput is linear-ish: 10 MB under a loose wall") {
    val big = (0 until 200000).map(i => s"record $i common tail ${i % 97}\n").mkString.getBytes("UTF-8")
    val z = compress(big, 3)
    val t0 = System.nanoTime()
    val d = ZstdCodec.decode(z)
    val ms = (System.nanoTime() - t0) / 1e6
    assert(d.isDefined && d.get.length === big.length)
    assert(ms < 30000, s"decode of ${big.length} bytes took $ms ms")
    info(f"decoded ${big.length / 1e6}%.1f MB in $ms%.0f ms (${big.length / 1e3 / ms}%.1f MB/s)")
  }
}

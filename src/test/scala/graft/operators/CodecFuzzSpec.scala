package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** One hostile-payload contract for EVERY byte decoder, in-repo or
  * library-backed: pure random bytes, bit-flipped valid payloads, and
  * truncated valid payloads. A decoder may decode or may quarantine
  * (None / empty / thrown Exception, per its documented surface), but
  * it must never raise a non-Exception Throwable — StackOverflow from
  * forged recursion, OutOfMemory from forged length fields — the
  * executor-killing classes the quarantine ladders exist to prevent.
  * Complements the per-codec conformance specs and the existing
  * Multimodal / ArrowWalk / MetaFilter fuzz suites. Valid payloads come
  * from the same real/foreign encoders the conformance specs use, so
  * the mutation space sits on genuine format structure. Random
  * mutation rarely forges a length field behind a valid checksum, so
  * each library-backed path also gets one hand-forged length.
  */
class CodecFuzzSpec extends AnyFunSuite {

  private val rnd = new scala.util.Random(0xf422)

  private def mutate(b: Array[Byte]): Array[Byte] = {
    val o = b.clone()
    for (_ <- 0 until 1 + rnd.nextInt(8)) {
      val i = rnd.nextInt(o.length)
      o(i) = (o(i) ^ (1 << rnd.nextInt(8))).toByte
    }
    o
  }

  private def hostile(valid: Seq[Array[Byte]], n: Int): Seq[Array[Byte]] =
    Seq.tabulate(n) { i =>
      val base = valid(i % valid.length)
      i % 4 match {
        case 0 => Array.fill(rnd.nextInt(300))(rnd.nextInt().toByte)
        case 1 => mutate(base)
        case 2 => base.take(rnd.nextInt(base.length))
        case _ => mutate(mutate(base))
      }
    } :+ Array.empty[Byte]

  /** Run the contract: `decode` returns true when the payload decoded,
    * false when it quarantined via its value surface; a thrown Exception
    * counts as a quarantine too. Anything else (Error) fails the test.
    */
  private def contract(name: String, valid: => Seq[Array[Byte]], n: Int = 200)(
      decode: Array[Byte] => Boolean): Unit =
    test(s"$name survives ${n + 1} hostile payloads") {
      var ok = 0; var rejected = 0
      hostile(valid, n).foreach { p =>
        try { if (decode(p)) ok += 1 else rejected += 1 }
        catch { case _: Exception => rejected += 1 }
      }
      assert(ok + rejected === n + 1)
      assert(rejected > 0, "the hostile set never exercised a reject")
    }

  private def bytes(s: String) = s.getBytes("UTF-8")
  private val docA = bytes("fuzz document body one " * 8)
  private val docB = bytes("another payload with text " * 5)

  contract("SevenZWalk.entries",
    Seq(SevenZWalk.fixture(Seq("a.txt" -> docA, "b.txt" -> docB), "lzma2"),
      SevenZWalk.fixture(Seq("c.txt" -> docA), "copy"),
      SevenZWalk.fixtureFiltered(Seq("d.bin" -> docA), "delta")))(
    b => SevenZWalk.entries(b).exists(!_.corrupt))

  contract("ZipWalk.entries",
    Seq(ZipWalk.fixture(Seq(("a.txt", docA, true), ("b.txt", docB, false))),
      ZipWalk.fixture64(Seq(("c.txt", docA, true)))))(
    b => ZipWalk.entries(b).exists(!_.corrupt))

  contract("Warc.records",
    Seq(Warc.fixtureGz(Seq(
      ("http://example.org/1", "response", docA),
      ("http://example.org/2", "response", docB)))))(
    b => Warc.records(b).exists(!_.corrupt))

  contract("Tar.entries",
    Seq(Tar.fixture(Seq("a.txt" -> docA, "dir/b.txt" -> docB))))(
    b => Tar.entries(b).exists(!_.corrupt))

  contract("MimeWalk.parseMbox",
    Seq(MimeWalk.fixture(Seq(
      ("a@example.org", "subject one", "plain body", false),
      ("b@example.org", "subject two", "multi body", true)))))(
    b => MimeWalk.parseMbox(b).nonEmpty)

  contract("PdfCodec.decode",
    Seq(PdfCodec.encode(Seq("page one text", "page two text"), "T"),
      PdfCodec.encodeModern(Seq("modern page"), "M")))(
    b => PdfCodec.decode(b).ok)

  contract("Mp3Codec.parse",
    Seq(Mp3Codec.fixture("1", 3, 44100, 2, Seq.fill(7)(128))))(
    b => Mp3Codec.parse(b).isDefined)

  contract("Mp4Codec.parse",
    Seq(Mp4Codec.encode(Seq(
      Mp4Codec.TrackSpec(1L, video = true, 600L, 100L,
        (0 until 10).map(j => 100 + j), 3, 64, 36)))))(
    b => Mp4Codec.parse(b).isDefined)

  contract("FlacCodec.decode",
    Seq(FlacCodec.encode(Array.tabulate(2048)(i => (i % 256) - 128),
      8000, 1, 16)))(
    b => FlacCodec.decode(b).isDefined)

  contract("Vp8lCodec.decode",
    Seq(Vp8lCodec.encode(8, 8,
      Array.tabulate(64)(i => 0xff000000 | (i * 0x030201)))))(
    b => Vp8lCodec.decode(b).isDefined)

  contract("JpegCodec.decode",
    Seq(JpegCodec.uniformBlockFixture(2, 2, (i, j) => 40 + 10 * i + j),
      JpegCodec.uniformBlock12Fixture(2, 2, (i, j) => 2048 + 16 * i - 32 * j)))(
    b => JpegCodec.decode(b).isDefined)

  contract("ZstdCodec.decode", {
    val ctx = new com.github.luben.zstd.ZstdCompressCtx()
    try Seq(ctx.compress(docA)) finally ctx.close()
  })(b => ZstdCodec.decode(b).isDefined)

  contract("Lz4Codec.decode", {
    val mem = new java.io.ByteArrayOutputStream()
    val out = new net.jpountz.lz4.LZ4FrameOutputStream(mem)
    out.write(docA); out.close()
    Seq(mem.toByteArray)
  })(b => Lz4Codec.decode(b).isDefined)

  contract("XzCodec.decode", {
    val mem = new java.io.ByteArrayOutputStream()
    val out = new org.tukaani.xz.XZOutputStream(mem,
      new org.tukaani.xz.LZMA2Options(1))
    out.write(docA); out.close()
    Seq(mem.toByteArray)
  })(b => XzCodec.decode(b).isDefined)

  contract("Bzip2Codec.decode", {
    val mem = new java.io.ByteArrayOutputStream()
    val out = new org.apache.commons.compress.compressors.bzip2
      .BZip2CompressorOutputStream(mem, 1)
    out.write(docA); out.close()
    Seq(mem.toByteArray)
  })(b => Bzip2Codec.decode(b).isDefined)

  contract("SnappyCodec.decodeFramed",
    Seq(SnappyCodec.encodeFramed(docA),
      SnappyCodec.encodeFramed(docB, chunk = 64, compress = false)))(
    b => SnappyCodec.decodeFramed(b).isDefined)

  // one member of every format, a zstd skippable pad between two of them
  contract("Codecs.members", {
    val gz = {
      val mem = new java.io.ByteArrayOutputStream()
      val out = new java.util.zip.GZIPOutputStream(mem)
      out.write(docA); out.close(); mem.toByteArray
    }
    val zst = {
      val ctx = new com.github.luben.zstd.ZstdCompressCtx()
      try { ctx.setChecksum(true); ctx.compress(docB) } finally ctx.close()
    }
    val lz4 = {
      val mem = new java.io.ByteArrayOutputStream()
      val out = new net.jpountz.lz4.LZ4FrameOutputStream(mem)
      out.write(docA); out.close(); mem.toByteArray
    }
    val bz2 = {
      val mem = new java.io.ByteArrayOutputStream()
      val out = new org.apache.commons.compress.compressors.bzip2
        .BZip2CompressorOutputStream(mem, 1)
      out.write(docB); out.close(); mem.toByteArray
    }
    val xz = {
      val mem = new java.io.ByteArrayOutputStream()
      val out = new org.tukaani.xz.XZOutputStream(mem, new org.tukaani.xz.LZMA2Options(1))
      out.write(docA); out.close(); mem.toByteArray
    }
    val pad = Array[Byte](0x50, 0x2a, 0x4d, 0x18, 2, 0, 0, 0, 7, 7)
    Seq(gz ++ zst ++ pad ++ lz4 ++ SnappyCodec.encodeFramed(docB) ++ bz2 ++ xz,
      xz ++ SnappyCodec.encodeFramed(docA) ++ xz)
  })(b => { val m = Codecs.members(b); m.nonEmpty && m.forall(_._3 != null) })

  /** A forged length field must quarantine before the decoder allocates
    * what it declares: the decoding thread may allocate at most 64 MiB.
    */
  private def forged(name: String, payloads: => Seq[Array[Byte]])(
      decodes: Array[Byte] => Boolean): Unit =
    test(s"$name: a forged length quarantines without allocating it") {
      val mx = java.lang.management.ManagementFactory.getThreadMXBean
        .asInstanceOf[com.sun.management.ThreadMXBean]
      payloads.foreach { p =>
        val before = mx.getCurrentThreadAllocatedBytes
        val ok = try decodes(p) catch { case _: Exception => false }
        val allocated = mx.getCurrentThreadAllocatedBytes - before
        assert(!ok, "a forged payload must quarantine")
        assert(allocated < (64L << 20), s"decoding allocated $allocated bytes")
      }
    }

  private def le(v: Long, n: Int): Array[Byte] = Array.tabulate(n)(i => (v >>> (8 * i)).toByte)

  // Frame_Content_Size over the 1 GiB guard, then one empty last raw block
  forged("ZstdCodec.decodeFrame Frame_Content_Size",
    Seq(1L << 40, (1L << 30) + 1).map(fcs =>
      le(0xfd2fb528L, 4) ++ Array(0xe0.toByte) ++ le(fcs, 8) ++ Array[Byte](1, 0, 0)))(
    b => ZstdCodec.decodeFrame(b, 0).isDefined)

  // a raw block whose varint length is 2^31-1, inside a framed stream
  forged("SnappyCodec.decodeFramed varint length", {
    val raw = Array[Byte](-1, -1, -1, -1, 7, 0, 'a')
    val chunk = Array[Byte](0) ++ le(4 + raw.length, 3) ++ le(0, 4) ++ raw
    Seq(SnappyCodec.encodeFramed(Array.emptyByteArray) ++ chunk)
  })(b => SnappyCodec.decodeFramed(b).isDefined)

  // the block header's LZMA2 dictionary byte patched to 37 (1.5 GiB)
  forged("XzCodec.decode dictionary size", {
    val mem = new java.io.ByteArrayOutputStream()
    val out = new org.tukaani.xz.XZOutputStream(mem, new org.tukaani.xz.LZMA2Options(0))
    out.write(docA); out.close()
    val z = mem.toByteArray
    // stream header (12 bytes), then: size byte, flags, LZMA2 id, props size, dict
    assert(z(13) == 0 && z(14) == 0x21 && z(15) == 1, "one-filter block header")
    z(16) = 37
    val hdrEnd = 12 + (z(12) + 1) * 4 - 4
    val crc = new java.util.zip.CRC32()
    crc.update(z, 12, hdrEnd - 12)
    System.arraycopy(le(crc.getValue, 4), 0, z, hdrEnd, 4)
    Seq(z)
  })(b => XzCodec.decode(b).isDefined)
}

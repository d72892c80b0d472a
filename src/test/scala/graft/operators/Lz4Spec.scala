package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop}
import net.jpountz.lz4.{LZ4Factory, LZ4FrameOutputStream}

/** The from-spec LZ4 decoder against the REAL compressor (lz4-java,
  * on the Spark classpath as the shuffle codec): block format via both
  * the fast and high-compression encoders, frame format via
  * LZ4FrameOutputStream in both block-independence modes and sizes,
  * plus corruption and checksum gates.
  */
class Lz4Spec extends AnyFunSuite {

  private def check(p: Prop, min: Int = 40): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(min), p)
    assert(res.passed, res.status.toString)
  }

  private val factory = LZ4Factory.fastestInstance()

  /** The frame descriptor's header-checksum byte (xxHash32 >> 8). */
  private def headerChecksum(b: Array[Byte], off: Int, len: Int): Byte =
    ((net.jpountz.xxhash.XXHashFactory.fastestInstance().hash32()
      .hash(b, off, len, 0) >> 8) & 0xff).toByte

  private def corpora: Seq[(String, Array[Byte])] = Seq(
    "empty" -> Array.emptyByteArray,
    "one" -> Array[Byte](7),
    "rle" -> Array.fill[Byte](80000)('z'),
    "text" -> (0 until 6000).map(i => s"row $i of the corpus, shared shape ${i % 11}\n")
      .mkString.getBytes("UTF-8"),
    "random" -> { val r = new scala.util.Random(3); val a = new Array[Byte](50000); r.nextBytes(a); a },
    "periodic" -> Array.tabulate[Byte](30000)(i => (i % 5 + 70).toByte))

  test("block format round-trips both reference encoders") {
    for ((name, data) <- corpora if data.nonEmpty;
         comp <- Seq(factory.fastCompressor(), factory.highCompressor())) {
      val z = comp.compress(data)
      val out = new Array[Byte](data.length)
      val end = Lz4Codec.decodeBlock(z, 0, z.length, out, 0, out.length)
      assert(end === data.length, s"$name length")
      assert(java.util.Arrays.equals(out, data), s"$name content")
    }
  }

  test("frame format round-trips the reference writer: block sizes, checksums") {
    // lz4-java's frame WRITER only emits independent blocks; the linked
    // mode is exercised by the hand-built frame test below
    import LZ4FrameOutputStream.{BLOCKSIZE, FLG}
    for ((name, data) <- corpora;
         bs <- Seq(BLOCKSIZE.SIZE_64KB, BLOCKSIZE.SIZE_1MB)) {
      val bos = new java.io.ByteArrayOutputStream()
      val fos = new LZ4FrameOutputStream(bos, bs, data.length.toLong,
        FLG.Bits.BLOCK_INDEPENDENCE, FLG.Bits.CONTENT_CHECKSUM)
      fos.write(data); fos.close()
      val z = bos.toByteArray
      val d = Lz4Codec.decode(z)
      assert(d.isDefined, s"$name bs=$bs must decode")
      assert(java.util.Arrays.equals(d.get, data), s"$name bs=$bs")
      // content checksum is verified: flip one payload-area bit
      if (z.length > 20 && data.length > 64) {
        val bad = z.clone(); bad(z.length / 2) = (bad(z.length / 2) ^ 4).toByte
        val db = Lz4Codec.decode(bad)
        assert(db.isEmpty || java.util.Arrays.equals(db.get, data),
          s"$name corrupted frame must not return wrong bytes")
      }
    }
  }

  test("linked-block frames: a match reaches into the PREVIOUS block's window") {
    // hand-built (the reference writer cannot emit linked blocks): an
    // uncompressed first block, then a compressed block that is one
    // bare match copying the whole first block from the window
    val text = "Hello, linked world! ".getBytes("US-ASCII") // 21 bytes
    val hdr = Array[Byte](0x04, 0x22, 0x4d.toByte, 0x18,
      0x40, // FLG: version 01, linked blocks, no checksums
      0x40) // BD: 64 KiB
    val hc = headerChecksum(hdr, 4, 2)
    val block1 = Array[Byte](
      (text.length | 0x00).toByte, 0, 0, 0x80.toByte) ++ text // uncompressed flag
    val block2data = Array[Byte](0x0f, 21, 0, 2) // 0 lits, off=21, ml=4+15+2=21
    val block2 = Array[Byte](block2data.length.toByte, 0, 0, 0) ++ block2data
    val frame = hdr ++ Array(hc) ++ block1 ++ block2 ++ Array[Byte](0, 0, 0, 0)
    val d = Lz4Codec.decode(frame)
    assert(d.isDefined, "linked frame must decode")
    assert(new String(d.get, "US-ASCII") ===
      "Hello, linked world! Hello, linked world! ")
    // the same frame with INDEPENDENT blocks set must reject the
    // cross-block match (no window to reach into)
    val hdrI = hdr.clone(); hdrI(4) = (hdrI(4) | 0x20).toByte
    val hcI = headerChecksum(hdrI, 4, 2)
    val frameI = hdrI ++ Array(hcI) ++ block1 ++ block2 ++ Array[Byte](0, 0, 0, 0)
    assert(Lz4Codec.decode(frameI).isEmpty)
  }

  test("header checksum and reserved bits gate the frame header") {
    val data = "frame header gate".getBytes("UTF-8")
    val bos = new java.io.ByteArrayOutputStream()
    val fos = new LZ4FrameOutputStream(bos)
    fos.write(data); fos.close()
    val z = bos.toByteArray
    assert(java.util.Arrays.equals(Lz4Codec.decode(z).get, data))
    val badHc = z.clone(); badHc(4) = (badHc(4) ^ 0x10).toByte // flip FLG bit: HC mismatch
    assert(Lz4Codec.decode(badHc).isEmpty)
  }

  test("frame concatenation and skippable frames") {
    def frame(s: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val fos = new LZ4FrameOutputStream(bos)
      fos.write(s.getBytes("UTF-8")); fos.close()
      bos.toByteArray
    }
    val skip = {
      val bb = java.nio.ByteBuffer.allocate(8 + 3).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(0x184d2a5d); bb.putInt(3); bb.put("pad".getBytes); bb.array()
    }
    val whole = frame("alpha ") ++ skip ++ frame("beta")
    assert(new String(Lz4Codec.decode(whole).get, "UTF-8") === "alpha beta")
  }

  test("never throws on garbage, truncations, and bit flips") {
    val r = new scala.util.Random(5)
    val bos = new java.io.ByteArrayOutputStream()
    val fos = new LZ4FrameOutputStream(bos)
    fos.write(corpora.toMap.apply("text")); fos.close()
    val real = bos.toByteArray
    for (_ <- 0 until 300) {
      val g = new Array[Byte](r.nextInt(100)); r.nextBytes(g)
      Lz4Codec.decode(g)
      Lz4Codec.decode(real.take(r.nextInt(real.length)))
      val f = real.clone(); f(r.nextInt(f.length)) = (f(r.nextInt(f.length)) ^ (1 << r.nextInt(8))).toByte
      Lz4Codec.decode(f)
    }
  }

  test("property: frame round trip over arbitrary bytes") {
    val genBytes = for {
      n <- Gen.chooseNum(0, 3000)
      seed <- Gen.chooseNum(0, Int.MaxValue)
      mode <- Gen.oneOf(0, 1, 2)
    } yield {
      val r = new scala.util.Random(seed)
      mode match {
        case 0 => val a = new Array[Byte](n); r.nextBytes(a); a
        case 1 => Array.tabulate[Byte](n)(i => (i % (1 + r.nextInt(7)) + 50).toByte)
        case _ => (0 to n / 6).map(_ => s"t${r.nextInt(20)} ").mkString.getBytes("UTF-8").take(n)
      }
    }
    check(Prop.forAll(genBytes) { data =>
      import LZ4FrameOutputStream.{BLOCKSIZE, FLG}
      val bos = new java.io.ByteArrayOutputStream()
      val fos = new LZ4FrameOutputStream(bos, BLOCKSIZE.SIZE_64KB, data.length.toLong,
        FLG.Bits.BLOCK_INDEPENDENCE, FLG.Bits.CONTENT_CHECKSUM)
      fos.write(data); fos.close()
      val d = Lz4Codec.decode(bos.toByteArray)
      d.isDefined && java.util.Arrays.equals(d.get, data)
    })
  }
}

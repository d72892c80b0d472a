package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop}
import org.tukaani.xz.{LZMA2Options, XZOutputStream, X86Options}

/** The xz member walk against the REAL encoder (the tukaani xz
  * library, on the Spark classpath via commons-compress): presets 0–9
  * (both modes the encoder picks LZMA2 parameters from), every check
  * type, multi-block and multi-stream layouts with stream padding, and
  * branch-filter chains.
  */
class XzSpec extends AnyFunSuite {

  private def check(p: Prop, min: Int = 30): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(min), p)
    assert(res.passed, res.status.toString)
  }

  private def compress(data: Array[Byte], preset: Int = 6,
      checkType: Int = org.tukaani.xz.XZ.CHECK_CRC64): Array[Byte] = {
    val mem = new java.io.ByteArrayOutputStream()
    val xz = new XZOutputStream(mem, new LZMA2Options(preset), checkType)
    xz.write(data); xz.close()
    mem.toByteArray
  }

  private def corpora: Seq[(String, Array[Byte])] = Seq(
    "empty" -> Array.emptyByteArray,
    "one" -> Array[Byte](42),
    "rle" -> Array.fill[Byte](110000)('m'),
    "text" -> (0 until 9000).map(i => s"sentence $i with recurring shape ${i % 23}\n")
      .mkString.getBytes("UTF-8"),
    "random" -> { val r = new scala.util.Random(41); val a = new Array[Byte](90000); r.nextBytes(a); a },
    "periodic" -> Array.tabulate[Byte](60000)(i => (i % 11 + 60).toByte),
    "all-bytes" -> Array.tabulate[Byte](65536)(i => (i * 137 % 256).toByte))

  test("round-trips real xz output at presets 0, 3, 6, 9") {
    for ((name, data) <- corpora; preset <- Seq(0, 3, 6, 9)) {
      val z = compress(data, preset)
      val d = XzCodec.decode(z)
      assert(d.isDefined, s"$name preset $preset must decode")
      assert(java.util.Arrays.equals(d.get, data), s"$name preset $preset")
    }
  }

  test("all four check types verify (and actually gate)") {
    import org.tukaani.xz.XZ
    val data = (0 until 4000).map(i => s"checked $i ").mkString.getBytes("UTF-8")
    for (ct <- Seq(XZ.CHECK_NONE, XZ.CHECK_CRC32, XZ.CHECK_CRC64, XZ.CHECK_SHA256)) {
      val z = compress(data, 6, ct)
      val d = XzCodec.decode(z)
      assert(d.isDefined && java.util.Arrays.equals(d.get, data), s"check $ct")
    }
    // flip bits under CRC64: must reject (or, vanishingly, equal)
    val z = compress(data, 6, XZ.CHECK_CRC64)
    val r = new scala.util.Random(3)
    for (_ <- 0 until 30) {
      val bad = z.clone()
      val i = 20 + r.nextInt(z.length - 40)
      bad(i) = (bad(i) ^ (1 << r.nextInt(8))).toByte
      val d = XzCodec.decode(bad)
      assert(d.isEmpty || java.util.Arrays.equals(d.get, data))
    }
  }

  test("multi-stream concatenation with stream padding") {
    val a = "stream one ".getBytes("UTF-8")
    val b = "stream two".getBytes("UTF-8")
    val za = compress(a, 1)
    // stream padding: 4-byte aligned zeros between streams is legal
    val whole = za ++ Array[Byte](0, 0, 0, 0) ++ compress(b, 9)
    val d = XzCodec.decode(whole)
    assert(d.isDefined && java.util.Arrays.equals(d.get, a ++ b))
  }

  test("multi-block streams decode and the index cross-check holds") {
    // force several blocks via a tiny block size
    val data = (0 until 30000).map(i => s"block line $i\n").mkString.getBytes("UTF-8")
    val opts = new LZMA2Options(4)
    val mem = new java.io.ByteArrayOutputStream()
    val xz = new XZOutputStream(mem, opts)
    // write in slices with explicit block boundaries
    val third = data.length / 3
    xz.write(data, 0, third); xz.endBlock()
    xz.write(data, third, third); xz.endBlock()
    xz.write(data, 2 * third, data.length - 2 * third)
    xz.close()
    val d = XzCodec.decode(mem.toByteArray)
    assert(d.isDefined && java.util.Arrays.equals(d.get, data))
  }

  test("BCJ x86 + LZMA2 chain round-trips (foreign encoder)") {
    // E8/E9-dense bytes so the branch converter actually rewrites
    val rnd = new scala.util.Random(13)
    val code = Array.newBuilder[Byte]
    (0 until 900).foreach { _ =>
      code += (if (rnd.nextBoolean()) 0xe8 else 0xe9).toByte
      val rel = rnd.nextInt(1 << 20) - (1 << 19)
      code += rel.toByte; code += (rel >> 8).toByte
      code += (rel >> 16).toByte
      code += (if (rel < 0) 0xff else 0x00).toByte
      (0 until rnd.nextInt(5)).foreach(_ => code += rnd.nextInt(256).toByte)
    }
    val data = code.result()
    val mem = new java.io.ByteArrayOutputStream()
    val xz = new XZOutputStream(mem,
      Array[org.tukaani.xz.FilterOptions](new X86Options(), new LZMA2Options(6)))
    xz.write(data); xz.close()
    assert(XzCodec.decode(mem.toByteArray).map(_.toSeq) === Some(data.toSeq))
  }

  test("delta + LZMA2 chain round-trips (foreign encoder)") {
    val wave = Array.tabulate[Byte](4000)(i => ((i * 11) % 253).toByte)
    val mem = new java.io.ByteArrayOutputStream()
    val d = new org.tukaani.xz.DeltaOptions(3)
    val xz = new XZOutputStream(mem,
      Array[org.tukaani.xz.FilterOptions](d, new LZMA2Options(4)))
    xz.write(wave); xz.close()
    assert(XzCodec.decode(mem.toByteArray).map(_.toSeq) === Some(wave.toSeq))
  }

  test("BCJ ARM + LZMA2 chain decodes to the input") {
    val data = Array.tabulate[Byte](5000)(i => (i * 31 % 251).toByte)
    val mem = new java.io.ByteArrayOutputStream()
    val xz = new XZOutputStream(mem,
      Array[org.tukaani.xz.FilterOptions](new org.tukaani.xz.ARMOptions(),
        new LZMA2Options(6)))
    xz.write(data); xz.close()
    assert(XzCodec.decode(mem.toByteArray).map(_.toSeq) === Some(data.toSeq))
  }

  test("never throws on garbage and truncations") {
    val r = new scala.util.Random(19)
    val real = compress(corpora.toMap.apply("text"))
    for (_ <- 0 until 200) {
      val g = new Array[Byte](r.nextInt(150)); r.nextBytes(g)
      XzCodec.decode(g)
      XzCodec.decode(real.take(r.nextInt(real.length)))
    }
  }

  test("property: decode(realCompress(bytes)) == bytes") {
    val genBytes = for {
      n <- Gen.chooseNum(0, 4000)
      seed <- Gen.chooseNum(0, Int.MaxValue)
      mode <- Gen.oneOf(0, 1, 2)
    } yield {
      val r = new scala.util.Random(seed)
      mode match {
        case 0 => val a = new Array[Byte](n); r.nextBytes(a); a
        case 1 => Array.tabulate[Byte](n)(i => (i % (1 + r.nextInt(8)) + 40).toByte)
        case _ => (0 to n / 6).map(_ => s"v${r.nextInt(60)} ").mkString.getBytes("UTF-8").take(n)
      }
    }
    check(Prop.forAll(genBytes, Gen.oneOf(0, 2, 6, 9)) { (data, preset) =>
      val d = XzCodec.decode(compress(data, preset))
      d.isDefined && java.util.Arrays.equals(d.get, data)
    })
  }
}

package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop}
import org.xerial.snappy.Snappy

/** Snappy against the REAL compressor (snappy-java, on the Spark
  * classpath as a parquet codec): raw blocks over every entropy
  * regime, the in-repo framing walk with its masked CRC32C gates, and
  * corruption behavior.
  */
class SnappySpec extends AnyFunSuite {

  private def check(p: Prop, min: Int = 40): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(min), p)
    assert(res.passed, res.status.toString)
  }

  private def corpora: Seq[(String, Array[Byte])] = Seq(
    "empty" -> Array.emptyByteArray,
    "one" -> Array[Byte](9),
    "rle" -> Array.fill[Byte](90000)('q'),
    "text" -> (0 until 7000).map(i => s"entry $i in the table, kind ${i % 9}\n")
      .mkString.getBytes("UTF-8"),
    "random" -> { val r = new scala.util.Random(13); val a = new Array[Byte](60000); r.nextBytes(a); a },
    "periodic" -> Array.tabulate[Byte](40000)(i => (i % 3 + 65).toByte))

  test("raw blocks from the reference compressor round-trip") {
    for ((name, data) <- corpora) {
      val z = Snappy.compress(data)
      val d = SnappyCodec.decodeRaw(z, 0, z.length)
      assert(java.util.Arrays.equals(d, data), s"$name")
    }
  }

  test("framed streams round-trip in both chunk modes and mixed chunk sizes") {
    for ((name, data) <- corpora; compress <- Seq(true, false);
         chunk <- Seq(4096, 65536)) {
      val framed = SnappyCodec.encodeFramed(data, chunk, compress)
      val d = SnappyCodec.decodeFramed(framed)
      assert(d.isDefined, s"$name compress=$compress chunk=$chunk")
      assert(java.util.Arrays.equals(d.get, data), s"$name compress=$compress chunk=$chunk")
    }
  }

  test("masked CRC32C gates data chunks; padding skips; reserved rejects") {
    val data = "the checksum must actually gate this content".getBytes("UTF-8")
    val framed = SnappyCodec.encodeFramed(data)
    // flip a bit inside the chunk body: CRC must reject
    val bad = framed.clone()
    bad(framed.length - 2) = (bad(framed.length - 2) ^ 1).toByte
    assert(SnappyCodec.decodeFramed(bad).isEmpty)
    // padding chunk is transparent
    val pad = Array[Byte](0xfe.toByte, 3, 0, 0, 0, 0, 0)
    val withPad = framed ++ pad
    assert(java.util.Arrays.equals(SnappyCodec.decodeFramed(withPad).get, data))
    // reserved unskippable chunk rejects
    val res = framed ++ Array[Byte](0x42, 1, 0, 0, 0)
    assert(SnappyCodec.decodeFramed(res).isEmpty)
  }

  test("never throws on garbage, truncations, and flips") {
    val r = new scala.util.Random(23)
    val real = SnappyCodec.encodeFramed(corpora.toMap.apply("text"))
    for (_ <- 0 until 300) {
      val g = new Array[Byte](r.nextInt(100)); r.nextBytes(g)
      SnappyCodec.decodeFramed(g)
      SnappyCodec.decodeFramed(real.take(r.nextInt(real.length)))
      val f = real.clone(); f(r.nextInt(f.length)) = (f(r.nextInt(f.length)) ^ (1 << r.nextInt(8))).toByte
      val d = SnappyCodec.decodeFramed(f) // CRC-gated: wrong bytes must not surface
      assert(d.isEmpty || java.util.Arrays.equals(d.get, corpora.toMap.apply("text")))
    }
  }

  test("property: raw + framed round trips over arbitrary bytes") {
    val genBytes = for {
      n <- Gen.chooseNum(0, 3000)
      seed <- Gen.chooseNum(0, Int.MaxValue)
      mode <- Gen.oneOf(0, 1, 2)
    } yield {
      val r = new scala.util.Random(seed)
      mode match {
        case 0 => val a = new Array[Byte](n); r.nextBytes(a); a
        case 1 => Array.tabulate[Byte](n)(i => (i % (1 + r.nextInt(6)) + 45).toByte)
        case _ => (0 to n / 5).map(_ => s"s${r.nextInt(30)} ").mkString.getBytes("UTF-8").take(n)
      }
    }
    check(Prop.forAll(genBytes) { data =>
      val raw = Snappy.compress(data)
      val rawOk = java.util.Arrays.equals(SnappyCodec.decodeRaw(raw, 0, raw.length), data)
      val framed = SnappyCodec.decodeFramed(SnappyCodec.encodeFramed(data))
      rawOk && framed.isDefined && java.util.Arrays.equals(framed.get, data)
    })
  }
}

package pipebench

import java.sql.Timestamp
import graft.schema._

/** Seeded synthetic chain. Every value is a pure function of
  * (seed, block number, position), so the same seed yields the same
  * inputs byte for byte, whichever thread or Spark task computes them,
  * and the expectations in [[Model]] follow in closed form.
  *
  * Shape per produced block: [[TxPerBlock]] transactions, each one
  * action with three receipts (contract, sender, receiver), and
  * [[DeltasPerBlock]] contract-row deltas; about one delta in ten is a
  * delete. About one block number in [[MissEvery]] is never produced (a
  * planted missed block).
  *
  * `hot` chains draw senders from a Zipf(1.1) law and write deltas over
  * [[HotKeys]] keys, so state merges mostly update rows already there;
  * other chains draw senders uniformly and write over [[ColdKeys]]
  * keys, so nearly every delta inserts a new row.
  */
final class Gen(val seed: Long, val hot: Boolean) extends Serializable {
  import Gen._

  val keys: Int = if (hot) HotKeys else ColdKeys

  /** splitmix64 finaliser over the seed and a position; the only
    * source of randomness in the generator.
    */
  def h(parts: Long*): Long = {
    var z = seed * 0x9E3779B97F4A7C15L
    parts.foreach { p => z = mix(z ^ (p + 0x632BE59BD9B4E019L)) }
    z
  }

  def missed(block: Long): Boolean = block > FirstBlock && java.lang.Long.remainderUnsigned(h(1, block), MissEvery) == 0

  /** Produced block numbers in [from, until). */
  def blocks(from: Long, until: Long): Seq[Long] = (from until until).filterNot(missed)

  def sender(block: Long, t: Int): Int =
    if (hot) zipfIndex(unit(h(2, block, t)))
    else java.lang.Long.remainderUnsigned(h(2, block, t), Accounts).toInt

  def receiver(block: Long, t: Int): Int = {
    val s = sender(block, t)
    val r = java.lang.Long.remainderUnsigned(h(3, block, t), Accounts - 1).toInt
    if (r >= s) r + 1 else r
  }

  def contract(block: Long, t: Int): (String, String) =
    Contracts((java.lang.Long.remainderUnsigned(h(4, block, t), 10) match {
      case n if n < 7 => 0
      case n if n < 9 => 1
      case _ => 2
    }).toInt)

  def trxId(block: Long, t: Int): String = f"${h(5, block, t)}%016x${h(6, block, t)}%016x${block}%016x${t}%016x"

  def digest(block: Long, t: Int): String = f"${h(7, block, t)}%016x${h(8, block, t)}%016x"

  /** Receipt global sequence: strictly increasing in (block, t, receipt). */
  def gs(block: Long, t: Int, j: Int): Long = block * 16L + t * 4L + j

  def rawTraces(block: Long): Seq[RawTrace] = (0 until TxPerBlock).flatMap { t =>
    val from = account(sender(block, t))
    val to = account(receiver(block, t))
    val (code, name) = contract(block, t)
    val act = Act(code, name, Seq(Authorization(from, "active")),
      s"""{"from":"$from","to":"$to","quantity":"${block % 97 + t}.0000 TST","memo":"b$block"}""")
    Seq(code, from, to).zipWithIndex.map { case (recv, j) =>
      RawTrace(timestamp(block), block, blockId(block), producer(block), trxId(block, t),
        action_ordinal = 1, creator_action_ordinal = 0, act = act,
        receipt = Receipt(recv, gs(block, t, j), gs(block, t, j) % 1000,
          if (j == 0) Seq(AuthSequence(from, gs(block, t, j))) else Nil),
        act_digest = digest(block, t), cpu_usage_us = 100 + t,
        net_usage_words = 12, signatures = Seq(s"SIG_K1_${trxId(block, t).take(16)}"))
    }
  }

  /** Distinct keys within a block, so last-writer-wins never sees a tie. */
  def deltaKey(block: Long, i: Int): Int = {
    val base = java.lang.Long.remainderUnsigned(h(9, block), keys).toInt
    (base + i * (keys / DeltasPerBlock + 1)) % keys
  }

  def deltas(block: Long): Seq[DeltaDoc] = (0 until DeltasPerBlock).map { i =>
    val k = deltaKey(block, i)
    val present = if (java.lang.Long.remainderUnsigned(h(10, block, i), 10) == 0) 0 else 1
    DeltaDoc(timestamp(block), block, blockId(block), StateCode, s"s${k % 8}", StateTable,
      account(sender(block, 0)), f"k$k%05d", present, s"""{"v":${block * 8 + i}}""")
  }

  /** SHIP `get_blocks_result_v0` frame of one block, encoded by the
    * engine's own fixture encoder: one event per transaction.
    */
  def frame(block: Long): Array[Byte] =
    graft.streaming.ShipWire.fixtureFrame(block,
      (0 until TxPerBlock).map(t => (gs(block, t, 0), sender(block, t).toLong, contract(block, t)._2)))

  /** Planted hostile frames: one produced block in [[CorruptEvery]] has
    * its frame truncated or its `block` length prefix forged.
    */
  def corrupt(block: Long): Boolean = java.lang.Long.remainderUnsigned(h(11, block), CorruptEvery) == 0

  def hostileFrame(block: Long): Array[Byte] = {
    val f = frame(block)
    if (!corrupt(block)) f
    else if ((h(12, block) & 1L) == 0) java.util.Arrays.copyOf(f, f.length * 3 / 5)
    else {
      // result variant index (1 byte), head and LIB positions (36 bytes
      // each), this/prev optional positions (37 each), then the `block`
      // optional flag; its varuint32 length follows at byte 148. The
      // forged length (16 MiB) exceeds any frame; see [[OverflowPrefix]]
      // for the one that overflows the decoder's bounds check.
      val g = f.clone()
      System.arraycopy(ForgedPrefix, 0, g, BlockLenAt, ForgedPrefix.length)
      g
    }
  }
}

object Gen {
  val FirstBlock = 1000L
  val TxPerBlock = 4
  val DeltasPerBlock = 4
  val Accounts = 256
  val HotKeys = 512
  val ColdKeys = 65536
  val MissEvery = 64L
  val CorruptEvery = 40L
  val StateCode = "bench.kv"
  val StateTable = "kv"
  val StateKeys = Seq("code", "table", "scope", "primary_key")
  val BlockLenAt = 148
  val ForgedPrefix: Array[Byte] = Array(0xFF, 0xFF, 0xFF, 0x07).map(_.toByte)
  /** varuint32 2^31-1: `pos + n` overflows in the decoder's bounds
    * check, so this prefix is not rejected but allocates a 2 GiB array
    * and throws OutOfMemoryError, which kills a local-mode executor.
    * The benchmark decodes it on its own thread only ([[Main]]).
    */
  val OverflowPrefix: Array[Byte] = Array(0xFF, 0xFF, 0xFF, 0xFF, 0x07).map(_.toByte)
  val Contracts = Vector(("eosio.token", "transfer"), ("bench.game", "play"), ("bench.game", "score"))

  def mix(x: Long): Long = {
    var z = x
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def unit(x: Long): Double = (x >>> 11).toDouble / (1L << 53).toDouble

  private val zipfCdf: Array[Double] = {
    val w = (1 to Accounts).map(r => 1.0 / math.pow(r.toDouble, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  def zipfIndex(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    math.min(Accounts - 1, if (i >= 0) i else -i - 1)
  }

  def account(i: Int): String = f"acct$i%03d"
  def producer(block: Long): String = s"prod${('a' + (block % 5)).toChar}"
  def blockId(block: Long): String = f"$block%064x"
  def timestamp(block: Long): Timestamp = new Timestamp(1700000000000L + block * 500L)
}

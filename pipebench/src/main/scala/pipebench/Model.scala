package pipebench

import java.util.zip.CRC32
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.schema.DeltaDoc

/** One merged action as the receipts merge must emit it. */
final case class ActionRow(block: Long, gs: Long, trx: String, code: String, name: String,
    from: String, to: String) {
  def involves(a: String): Boolean = a == code || a == from || a == to
}

/** Closed-form expectations for the chain segment [from, until) a run
  * ingests. Every check returns the mismatches it found, each naming
  * what was asked.
  */
final class Model(gen: Gen, from: Long, until: Long) {
  val blocks: IndexedSeq[Long] = gen.blocks(from, until).toIndexedSeq
  val goodBlocks: IndexedSeq[Long] = blocks.filterNot(gen.corrupt)
  val corruptFrames: Int = blocks.size - goodBlocks.size
  val actions: IndexedSeq[ActionRow] = blocks.flatMap { b =>
    (0 until Gen.TxPerBlock).map { t =>
      val (code, name) = gen.contract(b, t)
      ActionRow(b, gen.gs(b, t, 0), gen.trxId(b, t), code, name,
        Gen.account(gen.sender(b, t)), Gen.account(gen.receiver(b, t)))
    }
  }
  val deltas: IndexedSeq[DeltaDoc] = blocks.flatMap(gen.deltas)
  def head: Long = blocks.last

  /** Last-writer-wins over deltas with block ≤ `at`, deletes dropped. */
  def state(at: Long = Long.MaxValue): Map[String, DeltaDoc] =
    deltas.filter(_.block_num <= at)
      .groupBy(d => s"${d.scope}-${d.primary_key}")
      .map { case (k, ds) => k -> ds.maxBy(_.block_num) }
      .filter(_._2.present != 0)

  def missedByProducer: Map[String, (Long, Long)] =
    goodBlocks.sliding(2).collect { case Seq(a, b) if b - a > 1 => (Gen.producer(b), b - a - 1) }
      .toSeq.groupBy(_._1).map { case (p, xs) => p -> (xs.map(_._2).sum, xs.size.toLong) }

  def checkHistory(history: DataFrame): Seq[String] = {
    val r = history.agg(count(lit(1)), countDistinct(col("global_sequence")), sum(col("global_sequence")),
      sum(size(col("receipts"))), sum(crc32(col("trx_id").cast("binary")))).head()
    val want = Seq(actions.size.toLong, actions.size.toLong, actions.map(_.gs).sum,
      3L * actions.size, actions.map(a => Model.crc(a.trx)).sum)
    val got = (0 until 5).map(r.getLong)
    Seq("rows", "distinct global_sequence", "sum global_sequence", "receipts", "trx_id checksum")
      .zip(got.zip(want)).collect { case (what, (g, w)) if g != w => s"history $what: got $g, want $w" }
  }

  def checkState(tbl: DataFrame): Seq[String] = {
    val r = tbl.agg(count(lit(1)), sum(crc32(concat_ws("|", col("code"), col("table"), col("scope"),
      col("primary_key"), col("block_num").cast("string"), col("data")).cast("binary")))).head()
    val live = state().values
    val want = (live.size.toLong, live.map(Model.stateCrc).sum)
    val got = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    if (got == want) Nil else Seq(s"state last-writer-wins (rows, hash): got $got, want $want")
  }

  def checkBlocks(blockRows: DataFrame): Seq[String] = {
    val r = blockRows.agg(sum(when(col("corrupt"), 0L).otherwise(1L)), sum(when(col("corrupt"), 1L).otherwise(0L)),
      sum(when(col("corrupt"), 0L).otherwise(col("block_num"))),
      sum(when(col("corrupt"), 0L).otherwise(col("n_actions")))).head()
    val got = (0 until 4).map(r.getLong)
    val want = Seq(goodBlocks.size.toLong, corruptFrames.toLong, goodBlocks.sum, goodBlocks.size.toLong * Gen.TxPerBlock)
    Seq("block rows", "corrupt rows", "sum block_num", "actions in frames").zip(got.zip(want))
      .collect { case (what, (g, w)) if g != w => s"ship $what: got $g, want $w" }
  }
}

object Model {
  def crc(s: String): Long = { val c = new CRC32; c.update(s.getBytes("UTF-8")); c.getValue }
  def stateCrc(d: DeltaDoc): Long =
    crc(Seq(d.code, d.table, d.scope, d.primary_key, d.block_num.toString, d.data).mkString("|"))
  def longs(rows: Array[Row], field: String): Seq[Long] = rows.toSeq.map(r => r.getAs[Long](field))
}

package pipebench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.schema.{DeltaDoc, RawTrace}
import graft.streaming.{Ingest, ShipWire}

/** One micro-batch, as the streaming query's progress reports it. */
final case class Batch(ms: Double, rowsIn: Long)

/** What one drain of a segment cost, per write path. */
final case class Drain(blocks: Int, shipMs: Double, historyMs: Double, stateMs: Double,
    historyBatches: Seq[Batch], stateBatches: Seq[Batch]) {
  def ms: Double = shipMs + historyMs + stateMs
  def blocksPerS: Double = blocks / (ms / 1000)
}

/** The write side: staging a chain segment's inputs (the load
  * generator's job) and draining them with `Trigger.AvailableNow`
  * through the three write paths in reference order: SHIP frames into
  * the blocks table, raw receipt rows into the action history, then
  * contract-row deltas into last-writer-wins state.
  *
  * The engine has no path from SHIP frames to action traces
  * (`parseFrames` yields block rollups only), so `ship` feeds the
  * blocks table while `history` and `state` consume generated rows.
  */
object Backfill {
  /** History micro-batches per segment: one source file each. */
  val RawFiles = 2
  /** State micro-batches per segment, one block range each, so every
    * batch after the first merges into buckets that already hold rows.
    */
  val StateFiles = 2
  val rawSchema = Encoders.product[RawTrace].schema
  val deltaSchema = Encoders.product[DeltaDoc].schema

  def stage(spark: SparkSession, gen: Gen, in: Path, from: Long, until: Long): Unit = {
    import spark.implicits._
    val blocks = gen.blocks(from, until)
    val frames = java.util.stream.LongStream.of(blocks: _*).parallel()
      .mapToObj[Array[Byte]](b => gen.hostileFrame(b)).toArray.toSeq.map(_.asInstanceOf[Array[Byte]])
    frames.toDF("frame").repartition(4).write.parquet(in.resolve("frames").toString)
    val ds = spark.createDataset(blocks)
    ds.repartitionByRange(RawFiles, col("value")).flatMap(b => gen.rawTraces(b))
      .write.parquet(in.resolve("raw").toString)
    // one write per block range, in block order: a file stream takes its
    // files oldest first, and the chain delivers deltas in block order
    blocks.grouped((blocks.size + StateFiles - 1) / StateFiles).foreach { r =>
      spark.createDataset(r).repartition(1).flatMap(b => gen.deltas(b))
        .write.mode("append").parquet(in.resolve("deltas").toString)
    }
  }

  private def awaitDone(q: StreamingQuery): Seq[Batch] = {
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    q.recentProgress.toSeq.filter(_.numInputRows > 0)
      .map(p => Batch(p.durationMs.get("triggerExecution").toDouble, p.numInputRows))
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Drain one staged segment into a store. */
  def drain(spark: SparkSession, tr: Tracer, in: Path, store: Path, blocks: Int): Drain = {
    implicit val sp: SparkSession = spark
    val (_, shipMs) = timed(tr.span("ship", "ShipWire.parseFrames") { _ =>
      ShipWire.parseFrames(spark.read.parquet(in.resolve("frames").toString))
        .write.mode("append").parquet(store.resolve("blocks").toString)
    })
    val (hb, historyMs) = timed(tr.span("history", "Ingest.startActionIngest") { s =>
      val src = spark.readStream.schema(rawSchema).option("maxFilesPerTrigger", "1")
        .parquet(in.resolve("raw").toString)
      val q = Ingest.startActionIngest(src, store.resolve("history").toString,
        store.resolve("ckpt/history").toString)
      tr.alias(s, q.runId.toString)
      awaitDone(q)
    })
    val (sb, stateMs) = timed(tr.span("state", "Ingest.startStateMerge") { s =>
      val src = spark.readStream.schema(deltaSchema).option("maxFilesPerTrigger", "1")
        .parquet(in.resolve("deltas").toString)
      val q = Ingest.startStateMerge(src, store.resolve("state").toString,
        store.resolve("ckpt/state").toString, Gen.StateKeys)
      tr.alias(s, q.runId.toString)
      awaitDone(q)
    })
    Drain(blocks, shipMs, historyMs, stateMs, hb, sb)
  }

  /** Parquet bytes and files under a store table. */
  def parquetFiles(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val s = Files.walk(dir)
      try {
        val fs = s.filter(p => p.toString.endsWith(".parquet")).toArray.toSeq.map(_.asInstanceOf[Path])
        (fs.map(Files.size).sum, fs.size.toLong)
      } finally s.close()
    }

  def storeBytes(store: Path): Long =
    Seq("history", "blocks", "state").map(t => parquetFiles(store.resolve(t))._1).sum
}

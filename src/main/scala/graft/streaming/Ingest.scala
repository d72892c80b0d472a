package graft.streaming

import graft.schema._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured Streaming ingestion — the Spark re-expression of the
  * reference's reader→deserializer→indexer worker topology (SURVEY §3.3):
  * one streaming job; the master/worker/queue choreography collapses into
  * Spark's own scheduler.
  *
  *   source (file/socket stream of raw trace rows)
  *     → receipts-merge dedup (ActionDedup, per micro-batch)
  *     → append to the partitioned actions history table  [S4]
  *     ∥ state tables maintained by last-writer-wins merge [S5-S7]
  *
  * Idempotency (the reference's natural-key `_id`s,
  * elastic-routes.ts:54-109): appends dedupe on `global_sequence` within
  * the batch; replayed batches overwrite deterministically because the
  * partition layout is a pure function of `block_num`.
  */
object Ingest {

  /** Partition column: block-range bucket, like the reference's
    * `index_partition_size`-block ES indices (elastic-routes.ts:484-486).
    * Partition pruning on block predicates is Catalyst-native.
    */
  def blockBucket(partitionSize: Long = 1000000L) =
    (col("block_num") / partitionSize).cast("long").as("block_bucket")

  /** Start the actions-history ingestion: raw traces stream → dedup →
    * partitioned parquet append.
    *
    * `trigger` selects the mode: `AvailableNow` (default) is the bounded
    * backfill/catch-up run; `ProcessingTime` is the reference's continuous
    * live tail (state-reader.ts:446-513) — the same pipeline keeps
    * following the head, each micro-batch appending the newly arrived
    * blocks idempotently.
    */
  def startActionIngest(
      traces: DataFrame,
      outDir: String,
      checkpointDir: String,
      partitionSize: Long = 1000000L,
      trigger: Trigger = Trigger.AvailableNow())(
      implicit spark: SparkSession): StreamingQuery = {
    import spark.implicits._
    traces.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val merged = graft.etl.ActionDedup.mergeReceipts(batch.as[RawTrace])
        // head high-water mark observed on the SAME scan as the write —
        // the health route's nodeos-head analog, at zero extra passes
        val obs = org.apache.spark.sql.Observation()
        merged
          .dropDuplicates("global_sequence")
          .observe(obs, max(col("block_num")).as("head"))
          .withColumn("block_bucket", blockBucket(partitionSize))
          // write-time sort (the reference's index.sort on global_sequence,
          // index-templates.ts:35-38): parquet row-group min/max stats then
          // skip row groups for block/sequence range predicates
          .sortWithinPartitions(col("block_bucket"), col("block_num"), col("global_sequence"))
          .write.mode("append")
          .partitionBy("block_bucket")
          .parquet(outDir)
        obs.get.get("head") match {
          case Some(h: Long) => stampHead(checkpointDir, h)
          case _             => () // empty batch — no head advance
        }
      }
      .start()
  }

  /** The stream head the ingest has ACKNOWLEDGED — the engine's analog of
    * nodeos `head_block_num` in the reference's health readout
    * (health.ts:344, `head_offset = head_block_num - last_indexed_block`).
    * [[startActionIngest]] stamps it per micro-batch as a sidecar
    * high-water mark next to the Spark checkpoint; reading it back here
    * costs one metadata-sized file read, never a table scan — the same
    * scalar shape as the reference's cached `get_info` RPC. Returns None
    * before the first non-empty batch commits.
    */
  def checkpointHead(checkpointDir: String)(
      implicit spark: SparkSession): Option[Long] = {
    import org.apache.hadoop.fs.Path
    val marker = new Path(checkpointDir, "__graft_head")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) None
    else {
      val in = fs.open(marker)
      // a torn/corrupt marker (crash between create and write) must read
      // as None — the next stamp overwrites it — not throw
      // NumberFormatException into every subsequent micro-batch
      try scala.util.Try(
        scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong).toOption
      finally in.close()
    }
  }

  /** Monotonic head stamp: a replayed batch (idempotent re-run after a
    * checkpoint recovery) must never move the head BACKWARD.
    */
  private def stampHead(checkpointDir: String, head: Long)(
      implicit spark: SparkSession): Unit = {
    import org.apache.hadoop.fs.Path
    val current = checkpointHead(checkpointDir)
    if (!current.exists(_ >= head))
      writeMarker(new Path(checkpointDir, "__graft_head"), head.toString)
  }

  /** Write-then-rename: a crash mid-write must never leave a torn
    * marker under the canonical name (rename is atomic on the
    * filesystems a checkpoint or state dir lives on).
    */
  private[streaming] def writeMarker(marker: org.apache.hadoop.fs.Path, text: String)(
      implicit spark: SparkSession): Unit = {
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = marker.suffix(".tmp")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    if (fs.exists(marker)) fs.delete(marker, false)
    fs.rename(tmp, marker)
  }

  /** Action ingest with the DECODE ladder wired end-to-end — the Spark
    * re-expression of the reference's deserializer worker
    * (deserializer.ts:760-776 + 869-908): each micro-batch of raw hex
    * actions is decoded against its per-row ABI through
    * [[graft.functions.AbiCodec.decodeHexBlacklisted]], failures land as
    * `ds_error = true` WITH the original payload preserved, and
    * contract::action pairs that failed every attempt this batch are
    * appended to a persisted blacklist table — so subsequent batches skip
    * the codec for them entirely (`ds_blacklisted = true`), mirroring the
    * reference's `registerAutoBlacklist` as DATA rather than worker state.
    *
    * Scale shape: the blacklist is metadata-sized (distinct undecodable
    * pairs) and broadcasts into the batch; rules derive from the BATCH's
    * fresh attempts only (an undecodable type recurs within any real
    * batch), so no per-batch history scan; the history append is the same
    * block-bucketed layout as [[startActionIngest]].
    */
  def startDecodedActionIngest(
      actions: DataFrame,
      outDir: String,
      blacklistDir: String,
      checkpointDir: String,
      payloadCol: String = "data",
      abiCol: String = "abi",
      codeCol: String = "code",
      nameCol: String = "name",
      minAttempts: Long = 3,
      partitionSize: Long = 1000000L,
      trigger: Trigger = Trigger.AvailableNow())(
      implicit spark: SparkSession): StreamingQuery = {
    import org.apache.hadoop.fs.Path
    actions.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val fs = new Path(blacklistDir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val blacklist =
          if (fs.exists(new Path(blacklistDir)))
            spark.read.parquet(blacklistDir).distinct()
          else spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField(
                "rule", org.apache.spark.sql.types.StringType))))
        // persist: the history append AND the rule aggregate both consume
        // the decode output — without it each action re-runs the per-row
        // codec UDF, doubling the dominant per-batch cost
        val decoded = graft.functions.AbiCodec.decodeHexBlacklisted(
          batch, payloadCol, abiCol, codeCol, nameCol, blacklist).persist()
        try {
          decoded
            .withColumn("block_bucket", blockBucket(partitionSize))
            .sortWithinPartitions(col("block_bucket"), col("block_num"))
            .write.mode("append")
            .partitionBy("block_bucket")
            .parquet(outDir)
          // new rules from THIS batch's fresh decode attempts (blacklisted
          // rows were skipped, not attempted — they must not recount)
          graft.functions.AbiCodec.autoBlacklist(
              decoded.filter(!col("ds_blacklisted")), codeCol, nameCol, minAttempts)
            .join(blacklist, Seq("rule"), "left_anti")
            .write.mode("append").parquet(blacklistDir)
        } finally decoded.unpersist()
      }
      .start()
  }

  /** Start a state-table maintenance stream: delta rows → last-writer-wins
    * compacted state at `stateDir`, via the default [[ParquetStateSink]].
    * The sink owns the state's bucket count; an unreadable bucket marker
    * or a bucketed layout without one fails here, before the stream starts.
    *
    * This is the parquet specialization of [[startStateSink]]; an
    * ES/Delta/Iceberg writer swaps in by passing a different [[StateSink]]
    * there (mapping documented on the trait, per elastic-routes.ts:54-109).
    */
  def startStateMerge(
      deltas: DataFrame,
      stateDir: String,
      checkpointDir: String,
      keys: Seq[String],
      trigger: Trigger = Trigger.AvailableNow())(
      implicit spark: SparkSession): StreamingQuery = {
    val sink = new ParquetStateSink(stateDir, keys)
    sink.buckets // validates the marker before the stream starts
    startStateSink(deltas, sink, checkpointDir, trigger)
  }

  /** Start a state-maintenance stream against ANY keyed-upsert sink —
    * the generic form of the reference's deserializer→ES-bulk pipeline
    * with the bulk router swapped behind the [[StateSink]] trait.
    */
  def startStateSink(
      deltas: DataFrame,
      sink: StateSink,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow())(
      implicit spark: SparkSession): StreamingQuery =
    deltas.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink.mergeBatch(batch)
      }
      .start()
}

package graft.streaming

import graft.state.StateMerge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pluggable keyed-upsert sink — the production boundary where one
  * micro-batch of delta rows becomes a last-writer-wins MERGE into the
  * engine's state tables.
  *
  * The reference's equivalent is the ES bulk router
  * (src/indexer/helpers/elastic-routes.ts:54-109): each row's natural key
  * becomes the `_id` of an `index`/`delete` bulk op, so replays overwrite
  * idempotently. Any sink with keyed upsert semantics drops in here:
  *
  *   - Elasticsearch: `_id = keys.mkString(":")` → bulk upsert; deletes
  *     (the merge's tombstone rows) → bulk delete ops.
  *   - Delta/Iceberg: `MERGE INTO state USING batch ON <keys> WHEN
  *     MATCHED UPDATE WHEN NOT MATCHED INSERT` (+ DELETE for tombstones).
  *   - Plain parquet (the in-repo default): [[ParquetStateSink]] — a
  *     key-hash-bucketed layout where each batch rewrites only the
  *     buckets it touches.
  *
  * Contract: `mergeBatch` must be idempotent per batch (Structured
  * Streaming redelivers a batch after a crash-restart) and must apply
  * last-writer-wins on the key columns.
  *
  * Batches must arrive in block order. A delete removes its key's row
  * and keeps no tombstone, so a later batch carrying an OLDER upsert of
  * that key (deltas merged out of block order) resurrects it.
  */
trait StateSink {

  /** The key columns last-writer-wins resolves on. */
  def keys: Seq[String]

  /** Merge one micro-batch of delta rows into the sink's state. */
  def mergeBatch(batch: DataFrame)(implicit spark: SparkSession): Unit

  /** Read the current compacted state back (for queries and tests). */
  def read(implicit spark: SparkSession): DataFrame
}

/** The plain-parquet [[StateSink]]: state partitioned by a stable
  * key-hash bucket `__kb` (`xxhash64(keys) mod nBuckets`), so each
  * micro-batch:
  *   1. computes the buckets its keys touch (≤ nBuckets values — a
  *      metadata-sized collect);
  *   2. reads ONLY those partitions of the previous state (Catalyst
  *      partition pruning on `__kb`);
  *   3. merges them with the batch and writes the result ONCE, to the
  *      sibling `__next` directory, hash-partitioned on `__kb` (one
  *      shuffle, which the merge's window reuses) so every bucket is one
  *      file and every core writes;
  *   4. installs it with driver-side directory moves
  *      ([[graft.sources.Layout.install]]): per touched bucket, delete
  *      `__kb=b` and rename `__next/__kb=b` into its place; a touched
  *      bucket whose keys were all deleted is just deleted.
  * Per-batch work is therefore O(touched buckets), not O(state). The
  * staging directory exists because Spark refuses to overwrite a path
  * that feeds the plan being written.
  *
  * Crash safety: `__next` keeps its `_SUCCESS` marker until every bucket
  * has moved, so each batch first finishes any install a crash cut short
  * ([[graft.sources.Layout.rollForward]]). Structured Streaming then
  * re-runs the interrupted batch, and merging a batch into a state that
  * already holds it changes nothing. Until that next batch, `read` can
  * miss the one bucket a crash left deleted but not yet replaced.
  */
final class ParquetStateSink(
    stateDir: String,
    val keys: Seq[String],
    nBuckets: Int = 256) extends StateSink {
  import graft.sources.Layout
  import org.apache.hadoop.fs.Path

  private val staged = stateDir + "__next"

  def mergeBatch(batch: DataFrame)(implicit spark: SparkSession): Unit = {
    Layout.rollForward(stateDir, staged, "__kb")
    val keyBucket = pmod(xxhash64(keys.map(col): _*), lit(nBuckets)).cast("int")
    val bucketed = batch.withColumn("__kb", keyBucket)
    val touched = bucketed.select(col("__kb")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    if (touched.nonEmpty) {
      // No state yet, or every key of it deleted → empty prior. ANY other
      // read failure — legacy unbucketed layout, corrupt files, transient
      // IO — must propagate and fail the batch: falling back to "no prior
      // state" here would let the install below silently drop the touched
      // buckets' existing rows.
      val prev =
        if (isEmpty) spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], bucketed.schema)
        else spark.read.parquet(stateDir).filter(col("__kb").isin(touched: _*))
      // Both sides hash-partitioned on `__kb`: their union keeps that
      // partitioning (Spark 4.1+), so the window on (`__kb`, keys) — `__kb` is a pure
      // function of the keys, so leading with it changes no result — adds
      // no exchange of its own, and each bucket is written by one task as
      // one file
      val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
      StateMerge.merge(prev.repartition(n, col("__kb")),
          bucketed.repartition(n, col("__kb")), "__kb" +: keys)
        .write.mode("overwrite").partitionBy("__kb").parquet(staged)
      Layout.install(stateDir, staged, "__kb", touched.map(_.toString))
    }
  }

  /** The current state; an empty frame without columns when there is none
    * (no batch yet, or every key deleted).
    */
  def read(implicit spark: SparkSession): DataFrame =
    if (isEmpty) spark.emptyDataFrame else spark.read.parquet(stateDir)

  /** No bucket directory and no data file: only metadata such as
    * `_SUCCESS`, or no directory at all. A flat, unbucketed layout is NOT
    * empty and fails on the `__kb` filter instead.
    */
  private def isEmpty(implicit spark: SparkSession): Boolean = {
    val root = new Path(stateDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    !fs.exists(root) || fs.listStatus(root).forall { s =>
      val name = s.getPath.getName
      !name.startsWith("__kb=") && (name.startsWith("_") || name.startsWith("."))
    }
  }
}

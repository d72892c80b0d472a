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
  * key-hash bucket `__kb` (`pmod(xxhash64(keys), n)`), so each
  * micro-batch:
  *   1. computes the buckets its keys touch (≤ n values — a
  *      metadata-sized collect);
  *   2. reads ONLY those partitions of the previous state (Catalyst
  *      partition pruning on `__kb`);
  *   3. merges them with the batch and writes the result ONCE, to the
  *      sibling `__next` directory, hash-partitioned on `__kb` (one
  *      shuffle, which the merge's window reuses) so every bucket is one
  *      file and every core writes;
  *   4. commits and installs it ([[commit]]): per touched bucket, delete
  *      `__kb=b` and move `__next/__kb=b` into its place; a touched
  *      bucket whose keys were all deleted is just deleted.
  * Per-batch work is therefore O(touched buckets), not O(state). The
  * staging directory exists because Spark refuses to overwrite a path
  * that feeds the plan being written.
  *
  * The bucket count `n` belongs to the stored state, not to the caller:
  * it lives in the `<stateDir>__meta/nbuckets` marker. A new state starts
  * at 1 bucket. After each batch, one metadata listing sizes the state;
  * while its bytes per bucket exceed one scan split
  * (`spark.sql.files.maxPartitionBytes`), the count doubles, and the
  * state is split to it ([[grow]]). The count never shrinks, so a state
  * of 256 buckets stays at 256. A `__kb` layout without a marker fails:
  * its count cannot be guessed, and a wrong one prunes reads to the wrong
  * buckets.
  *
  * Crash safety: a staged write becomes committed when `__next/_nbuckets`
  * records the count it was bucketed with; the marker moves to that count
  * before any bucket moves, and `__next` stays until every bucket has
  * moved. Each batch first finishes a committed install that a crash cut
  * short and drops an uncommitted one ([[rollForward]]). Structured
  * Streaming then re-runs the interrupted batch, and merging a batch into
  * a state that already holds it changes nothing. So a crash leaves the
  * old layout with the old count, or a committed write that the next
  * batch completes together with its count. Until that next batch, `read`
  * can miss the one bucket a crash left deleted but not yet replaced,
  * and, mid-split, see a row both in its old bucket and its new one.
  */
final class ParquetStateSink(stateDir: String, val keys: Seq[String]) extends StateSink {
  import graft.sources.Layout
  import org.apache.hadoop.fs.Path

  private val staged = stateDir + "__next"
  private val marker = new Path(stateDir + "__meta", "nbuckets")
  private val committed = new Path(staged, "_nbuckets")

  def mergeBatch(batch: DataFrame)(implicit spark: SparkSession): Unit = {
    rollForward()
    val n = buckets
    val bucketed = batch.withColumn("__kb", bucketOf(n))
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
      val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
      StateMerge.merge(prev.repartition(width, col("__kb")),
          bucketed.repartition(width, col("__kb")), "__kb" +: keys)
        .write.mode("overwrite").partitionBy("__kb").parquet(staged)
      commit(n, touched.map(_.toString))
      grow(n)
    }
  }

  /** The current state; an empty frame without columns when there is none
    * (no batch yet, or every key deleted).
    */
  def read(implicit spark: SparkSession): DataFrame =
    if (isEmpty) spark.emptyDataFrame else spark.read.parquet(stateDir)

  /** The stored state's bucket count: its marker, or 1 for a state that
    * has no bucket yet. Fails on an unreadable marker and on a `__kb`
    * layout without one.
    */
  def buckets(implicit spark: SparkSession): Int =
    if (fs.exists(marker)) count(marker)
    // a crash while the marker was being replaced: the committed write
    // still holds the count the next batch's roll-forward installs
    else if (fs.exists(committed)) count(committed)
    else {
      require(bucketDirs.isEmpty, s"state at $stateDir is bucketed on __kb but has " +
        s"no bucket marker $marker; refusing to guess its bucket count")
      1
    }

  private def bucketOf(n: Int) = pmod(xxhash64(keys.map(col): _*), lit(n)).cast("int")

  private def fs(implicit spark: SparkSession) =
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def count(file: Path)(implicit spark: SparkSession): Int = {
    val in = fs.open(file)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    text.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"bucket marker $file is unreadable (expected a bucket count, found '$text')"))
  }

  /** Double the bucket count while the state's bytes per bucket exceed
    * one scan split, then split the state to the new count. `pmod(h, 2n)`
    * is `pmod(h, n)` or that plus `n`, so each old bucket's rows go to
    * buckets of their own: the split reads every bucket once and writes
    * it without a shuffle, through the same commit as a batch.
    */
  private def grow(n: Int)(implicit spark: SparkSession): Unit = {
    val split = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes"))
    val bytes = StreamScale.dirBytes(spark, stateDir)
    var to = n
    while (bytes > to.toLong * split) to *= 2
    if (to > n) {
      val old = bucketDirs.map(_.stripPrefix("__kb="))
      spark.read.parquet(stateDir).withColumn("__kb", bucketOf(to))
        .write.mode("overwrite").partitionBy("__kb").parquet(staged)
      commit(to, old)
    }
  }

  /** Commit the write staged in `__next`, bucketed `n` ways and replacing
    * the buckets `replaced`, then install it. Writing `__next/_nbuckets`
    * is the commit point; everything after it is [[rollForward]].
    */
  private def commit(n: Int, replaced: Seq[String])(implicit spark: SparkSession): Unit = {
    Layout.stageDeletes(staged, "__kb", replaced)
    Ingest.writeMarker(committed, n.toString)
    rollForward()
  }

  /** Finish a committed install — the marker first, so the layout never
    * runs ahead of its count — or drop an uncommitted write. Idempotent.
    */
  private def rollForward()(implicit spark: SparkSession): Unit =
    if (fs.exists(committed)) {
      val n = count(committed)
      if (!fs.exists(marker) || count(marker) != n) Ingest.writeMarker(marker, n.toString)
      Layout.install(stateDir, staged, "__kb")
    } else fs.delete(new Path(staged), true)

  private def bucketDirs(implicit spark: SparkSession): Seq[String] = {
    val root = new Path(stateDir)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).map(_.getPath.getName).filter(_.startsWith("__kb=")).toSeq
  }

  /** No bucket directory and no data file: only metadata such as
    * `_SUCCESS`, or no directory at all. A flat, unbucketed layout is NOT
    * empty and fails on the `__kb` filter instead.
    */
  private def isEmpty(implicit spark: SparkSession): Boolean = {
    val root = new Path(stateDir)
    !fs.exists(root) || fs.listStatus(root).forall { s =>
      val name = s.getPath.getName
      !name.startsWith("__kb=") && (name.startsWith("_") || name.startsWith("."))
    }
  }
}

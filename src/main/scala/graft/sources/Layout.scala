package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Physical file layout for parquet sinks — the two knobs that decide
  * whether a 100 TB table is scannable: file SIZING (a landing zone of
  * kilobyte films or multi-gigabyte monoliths both kill scan
  * parallelism; the sweet spot is a few hundred MB) and range CLUSTERING
  * (co-locating a sort key's value range per file, so parquet row-group
  * min/max statistics prune whole files from selective range scans).
  *
  * Cf. the reference's index lifecycle: per-block-range partitions with
  * per-partition sizing (hyperion-history-api docs/index-management) —
  * re-expressed here as write-time Spark layout rather than an external
  * index manager.
  */
object Layout {

  /** Estimate of serialized parquet bytes per row, from a bounded
    * calibration sample written to a scratch directory. Metadata-sized
    * driver work: the sample is `sampleRows` rows regardless of input
    * size.
    */
  def bytesPerRow(
      df: DataFrame,
      scratchDir: String,
      sampleRows: Int = 10000)(implicit spark: SparkSession): Double = {
    val sample = df.limit(sampleRows).coalesce(1)
    sample.write.mode(SaveMode.Overwrite).parquet(scratchDir)
    val fs = new org.apache.hadoop.fs.Path(scratchDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.listStatus(new org.apache.hadoop.fs.Path(scratchDir))
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    val n = spark.read.parquet(scratchDir).count()
    if (n == 0) 0.0 else bytes.toDouble / n
  }

  /** Write `df` in approximately `targetFileBytes`-sized parquet files:
    * rows-per-file from the calibration estimate, file count from a
    * single input count. Both pre-jobs are one scan each; the write
    * itself round-robins into exactly the computed file count.
    */
  def writeSized(
      df: DataFrame,
      dir: String,
      targetFileBytes: Long,
      bytesPerRowEst: Double)(implicit spark: SparkSession): Int = {
    require(targetFileBytes > 0 && bytesPerRowEst > 0,
      "sizing inputs must be positive")
    val rows = df.count()
    val nFiles = math.max(1,
      math.ceil(rows * bytesPerRowEst / targetFileBytes).toInt)
    df.repartition(nFiles).write.mode(SaveMode.Overwrite).parquet(dir)
    nFiles
  }

  /** Range-clustered layout: `repartitionByRange` on the cluster keys +
    * a within-partition sort, so every output file owns a disjoint key
    * range and its parquet min/max footer statistics prune it from any
    * non-overlapping range scan — the read-side complement of the
    * reference's block-range partitioning.
    */
  def writeRangeClustered(
      df: DataFrame,
      dir: String,
      nFiles: Int,
      clusterCols: Seq[String]): Unit = {
    require(nFiles > 0 && clusterCols.nonEmpty, "need files and cluster keys")
    val cols = clusterCols.map(col)
    df.repartitionByRange(nFiles, cols: _*)
      .sortWithinPartitions(cols: _*)
      .write.mode(SaveMode.Overwrite).parquet(dir)
  }

  /** Spread the low 31 bits of `c` so bit i lands at position 2i — the
    * magic-mask half of a Morton encode; five codegen'd shift/mask steps,
    * no loop, no UDF.
    */
  private def spread31(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    // fail loud on negatives: -1 & 0x7FFFFFFF would silently map to the
    // 31-bit MAX, breaking the documented per-axis monotonicity (and the
    // file pruning that depends on it). Offset signed domains first.
    val raw = c.cast("long")
    val x0 = when(raw < 0, raise_error(concat(
        lit("zorderKey requires non-negative coordinates, got "),
        raw.cast("string"))).cast("long"))
      .otherwise(raw.bitwiseAND(lit(0x7FFFFFFFL)))
    val x1 = x0.bitwiseOR(shiftleft(x0, 16)).bitwiseAND(lit(0x0000FFFF0000FFFFL))
    val x2 = x1.bitwiseOR(shiftleft(x1, 8)).bitwiseAND(lit(0x00FF00FF00FF00FFL))
    val x3 = x2.bitwiseOR(shiftleft(x2, 4)).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
    val x4 = x3.bitwiseOR(shiftleft(x3, 2)).bitwiseAND(lit(0x3333333333333333L))
    x4.bitwiseOR(shiftleft(x4, 1)).bitwiseAND(lit(0x5555555555555555L))
  }

  /** Morton (Z-order) key over TWO cluster dimensions: bits of `a` and
    * `b` interleaved, so sorting by the key keeps rows close in BOTH
    * dimensions at once — the layout trick (Delta/Iceberg `ZORDER BY`)
    * that lets one file layout serve selective range scans on either
    * column, where a plain sort serves only its leading column and leaves
    * the second dimension scattered across every file.
    *
    * Uses the low 31 bits of each input (62-bit key, sign bit never set,
    * so long ordering == unsigned curve ordering). Keys wider than 31
    * bits should be range-bucketed or right-shifted first — locality only
    * needs the high bits to be honest. Inputs must be NON-NEGATIVE
    * (enforced with a per-row raise_error — a silent mask of a negative
    * would order it past the maximum); offset signed domains before
    * keying. Monotone per-axis: with one coordinate fixed, the key
    * orders exactly like the other coordinate.
    */
  def zorderKey(
      a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    spread31(a).bitwiseOR(shiftleft(spread31(b), 1))

  /** Z-order-clustered layout: range-partition + sort on the interleaved
    * [[zorderKey]] instead of a lexicographic (a, b) sort. Every output
    * file owns a compact square-ish region of the (a, b) plane, so
    * parquet min/max footer stats prune files for range predicates on
    * EITHER dimension — the two-dimensional generalization of
    * [[writeRangeClustered]].
    */
  def writeZOrdered(
      df: DataFrame,
      dir: String,
      nFiles: Int,
      dimA: String,
      dimB: String): Unit = {
    require(nFiles > 0, "need a positive file count")
    val key = zorderKey(col(dimA), col(dimB)).as("__z")
    df.withColumn("__z", key)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(dir)
  }

  /** Commit a staged partitioned write into `dir` by directory moves:
    * for every partition named in `replaced` or present in `staged`,
    * delete `dir/<col>=<v>`, then rename the staged partition into its
    * place if the staged write has rows for it (a replaced partition
    * without staged rows is simply deleted); finally drop `staged`.
    * Driver-side filesystem metadata work only: no job runs and no row
    * is read or written again (Spark's dynamic partition overwrite commits
    * the same way, after a second write).
    *
    * Not atomic across partitions: a crash mid-install leaves some
    * partitions new and some old, and at most one deleted but not yet
    * renamed. [[rollForward]] finishes such an install, because `staged`
    * keeps its `_SUCCESS` marker until every partition has moved.
    * `replaced` holds partition directory values as the writer names
    * them (`__kb=7` → "7").
    */
  def install(
      dir: String,
      staged: String,
      partitionCol: String,
      replaced: Iterable[String])(implicit spark: SparkSession): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(dir)
    val stagedRoot = new Path(staged)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prefix = partitionCol + "="
    val moved =
      if (!fs.exists(stagedRoot)) Set.empty[String]
      else fs.listStatus(stagedRoot)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
        .map(_.getPath.getName).toSet
    fs.mkdirs(root)
    (replaced.map(prefix + _).toSet ++ moved).foreach { name =>
      val target = new Path(root, name)
      fs.delete(target, true)
      if (moved(name) && !fs.rename(new Path(stagedRoot, name), target))
        throw new java.io.IOException(s"could not move $staged/$name into $dir")
    }
    fs.delete(stagedRoot, true)
  }

  /** Finish what a crash interrupted before a new write to `dir` starts:
    * a `staged` directory with `_SUCCESS` is a committed write whose
    * [[install]] did not complete — install it; one without `_SUCCESS` is
    * an uncommitted write — drop it. Idempotent.
    */
  def rollForward(dir: String, staged: String, partitionCol: String)(
      implicit spark: SparkSession): Unit = {
    import org.apache.hadoop.fs.Path
    val stagedRoot = new Path(staged)
    val fs = stagedRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new Path(stagedRoot, "_SUCCESS")))
      install(dir, staged, partitionCol, Nil)
    else fs.delete(stagedRoot, true)
  }

  /** Compaction for the `__kb`-bucketed state layout
    * ([[graft.streaming.ParquetStateSink]]) — the engine-side analogue of
    * the reference's index-lifecycle rollover/shrink: every touched-bucket
    * rewrite leaves a few small files behind, and after enough
    * micro-batches a bucket is hundreds of film-sized parquet parts that
    * wreck scan parallelism.
    *
    * One filesystem listing (metadata-sized) finds the fragmented buckets
    * — more files than their byte volume justifies at `targetFileBytes` —
    * and ONE job writes exactly those partitions, at the right file count,
    * to a staging directory that [[install]] then moves into place (Spark
    * refuses to overwrite a path feeding the running plan). The bucket
    * VALUES are untouched — rows never move between buckets, so the
    * persisted nBuckets marker and the sink's partition-pruning contract
    * survive compaction by construction.
    *
    * Run it between stream batches, not alongside a running sink. A
    * compaction cut short by a crash is finished ([[rollForward]]) by the
    * next call, which must come before the sink resumes.
    *
    * Returns the number of distinct buckets rewritten (0 = nothing
    * fragmented).
    */
  def compact(
      stateDir: String,
      targetFileBytes: Long = 256L << 20,
      partitionCol: String = "__kb")(implicit spark: SparkSession): Int = {
    import org.apache.hadoop.fs.Path
    require(targetFileBytes > 0, "target file size must be positive")
    val root = new Path(stateDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = stateDir + "__compact"
    rollForward(stateDir, staged, partitionCol)
    if (!fs.exists(root)) return 0
    // same procedure for any single-column partition layout: the state
    // sink's `__kb` buckets (default) or the history table's
    // `block_bucket` ranges — the reference's ILM shrink analogue
    val prefix = partitionCol + "="
    def listFragmented() = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      // the null-partition directory can't be addressed by an isin value;
      // leave it alone rather than crash the whole compaction
      .filterNot(_.getPath.getName.endsWith("__HIVE_DEFAULT_PARTITION__"))
      .flatMap { b =>
        val files = fs.listStatus(b.getPath)
          .filter(_.getPath.getName.endsWith(".parquet"))
        val need = math.max(1, math.ceil(
          files.map(_.getLen).sum.toDouble / targetFileBytes).toInt)
        if (files.length > need)
          Some((b.getPath.getName.stripPrefix(prefix), need))
        else None
      }
    def rewrite(fragmented: Array[(String, Int)]): Unit = {
      // "any single-column partition layout" includes string-valued ones
      // (lang=en, source=web): keep integer keys typed (partition pruning
      // on the native column), fall back to a string-cast key otherwise
      val allInt = fragmented.forall(f => f._1.forall(_.isDigit) && f._1.nonEmpty)
      val keyCol = if (allInt) col(partitionCol) else col(partitionCol).cast("string")
      def keyLit(v: String) = if (allInt) lit(v.toLong) else lit(v)
      val ids = fragmented.map(f => keyLit(f._1)).toSeq
      // split each bucket across ITS OWN slot count (a metadata-sized map
      // literal): using the max across buckets would over-split every
      // small bucket to the largest bucket's count
      val needByBucket = map(fragmented.flatMap {
        case (kb, need) => Seq(keyLit(kb), lit(need)) }.toIndexedSeq: _*)
      val totalSlots = fragmented.map(_._2).sum
      spark.read.parquet(stateDir).filter(keyCol.isin(ids: _*))
        .withColumn("__slot", pmod(monotonically_increasing_id(),
          element_at(needByBucket, keyCol)))
        .repartition(totalSlots, col(partitionCol), col("__slot"))
        .drop("__slot")
        .write.mode(SaveMode.Overwrite).partitionBy(partitionCol).parquet(staged)
      install(stateDir, staged, partitionCol, fragmented.map(_._1))
    }
    // Fewer files also carry less per-file overhead (footers, dictionary
    // pages), so at a small target a rewritten bucket can still hold more
    // files than its smaller byte volume justifies: repeat until no bucket
    // does. Each pass strictly lowers the file count of the buckets it
    // rewrites, so the loop ends, at a fixpoint where a second call
    // returns 0.
    val rewritten = scala.collection.mutable.Set.empty[String]
    var fragmented = listFragmented()
    while (fragmented.nonEmpty) {
      rewrite(fragmented)
      rewritten ++= fragmented.map(_._1)
      fragmented = listFragmented()
    }
    if (rewritten.nonEmpty) graft.Caches.invalidateAll()
    rewritten.size
  }

  /** Physical tombstone application — rewrite the NAMED partition
    * buckets keeping only rows that satisfy `keep`; every other bucket's
    * files are untouched (staged write + [[install]], the [[compact]]
    * mechanics; a bucket left with no rows is deleted). This is the "next
    * rewrite" the fork contract defers to
    * ([[graft.state.Forks.pruneBelowLib]]): once a forked block falls
    * below LIB, its rows are physically deleted here and its tombstone
    * dropped, which is what keeps tombstone state bounded by the
    * reversible window instead of growing with history. Cost is
    * reversible-window sized — only the listed buckets are read and
    * rewritten, never the history. Returns buckets rewritten.
    *
    * NOT crash-atomic: [[install]] swaps the buckets one at a time, so a
    * crash mid-install leaves some targeted buckets filtered and others
    * still holding their OLD files — deleted rows resurrected — and at
    * most one bucket deleted but not yet replaced, whose surviving rows
    * are missing from reads. The next call on `dir` first rolls the
    * committed staging forward ([[rollForward]]), and re-running with the
    * same `keep` converges (survivors rewrite to themselves, emptied
    * buckets are deleted), so callers MUST NOT drop the tombstones that
    * produced `keep` until a run completes without error —
    * [[graft.state.Forks.pruneBelowLib]] honors this by keeping
    * tombstones until the rewrite returns.
    */
  def rewriteFiltered(
      dir: String,
      buckets: Seq[Long],
      keep: org.apache.spark.sql.Column,
      partitionCol: String = "block_bucket")(
      implicit spark: SparkSession): Int = {
    import org.apache.hadoop.fs.Path
    val staged = dir + "__rewrite"
    rollForward(dir, staged, partitionCol)
    if (buckets.isEmpty) return 0
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0
    val present = buckets.distinct.filter(b =>
      fs.exists(new Path(root, s"$partitionCol=$b")))
    if (present.isEmpty) return 0
    spark.read.parquet(dir)
      .filter(col(partitionCol).isin(present: _*))
      .filter(keep)
      .write.mode(SaveMode.Overwrite).partitionBy(partitionCol).parquet(staged)
    install(dir, staged, partitionCol, present.map(_.toString))
    graft.Caches.invalidateAll()
    present.size
  }

  /** History-table retention — the engine-side analogue of the
    * reference's index-lifecycle DELETE phase (per-block-range indices
    * aged out wholesale once they fall behind the retention watermark;
    * hyperion-history-api docs/index-management): drop every
    * `block_bucket=N` partition whose ENTIRE block range sits below
    * `keepBlocksAbove`.
    *
    * METADATA-ONLY: one filesystem listing decides, whole-directory
    * deletes execute — no job runs, no row is read, exactly like
    * dropping an ES index. A bucket that STRADDLES the watermark is kept
    * in full (retention is bucket-granular, as it is in the reference —
    * the watermark effectively rounds down to a partition boundary), so
    * every surviving row remains readable and bucket-pruned reads are
    * untouched. Returns the number of partitions dropped.
    */
  def expire(
      dir: String,
      keepBlocksAbove: Long,
      partitionSize: Long = 1000000L,
      partitionCol: String = "block_bucket")(
      implicit spark: SparkSession): Int = {
    import org.apache.hadoop.fs.Path
    require(partitionSize > 0, "partition size must be positive")
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0
    val prefix = partitionCol + "="
    val doomed = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .filter { s =>
        val v = s.getPath.getName.stripPrefix(prefix)
        // bucket b covers [b·span, (b+1)·span); drop only if the whole
        // range is below the watermark. Non-numeric partition dirs
        // (HIVE_DEFAULT, foreign layouts) are never expired.
        v.nonEmpty && v.forall(_.isDigit) &&
          (v.toLong + 1) * partitionSize <= keepBlocksAbove
      }
    doomed.foreach(s => fs.delete(s.getPath, true))
    if (doomed.nonEmpty) graft.Caches.invalidateAll()
    doomed.length
  }
}

package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpec {
  import spark.implicits._
  private implicit val sp: org.apache.spark.sql.SparkSession = spark

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft_layout_$tag").toString + "/t"

  private lazy val rows = (0L until 20000L)
    .map(i => (i, s"payload_${i % 97}_${"x" * 40}"))
    .toDF("id", "payload")

  test("writeSized lands the computed file count and ~target-sized files") {
    val scratch = tmp("cal")
    val bpr = Layout.bytesPerRow(rows, scratch, sampleRows = 2000)
    assert(bpr > 0.0)
    val dir = tmp("sized")
    val total = 20000L * bpr
    val target = (total / 8).toLong // aim for ~8 files
    val n = Layout.writeSized(rows, dir, target, bpr)
    assert(n >= 6 && n <= 10, s"computed $n files for an 8-file target")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.getPath.getName.endsWith(".parquet"))
    assert(files.length === n)
    // every file within 4x of target either way (round-robin rows, fixed
    // per-file parquet overhead makes exact equality impossible)
    files.foreach { f =>
      assert(f.getLen > target / 4 && f.getLen < target * 4,
        s"file ${f.getPath.getName} is ${f.getLen} B vs target $target B")
    }
    assert(spark.read.parquet(dir).count() === 20000L)
  }

  test("an empty input calibrates to 0 bytes/row and writeSized rejects it") {
    val scratch = tmp("empty")
    val empty = rows.filter($"id" < 0)
    assert(Layout.bytesPerRow(empty, scratch) === 0.0)
    intercept[IllegalArgumentException] {
      Layout.writeSized(empty, tmp("emptyout"), 1000L, 0.0)
    }
  }

  test("writeRangeClustered: files own disjoint key ranges (min/max prunable)") {
    val dir = tmp("range")
    Layout.writeRangeClustered(rows, dir, nFiles = 8, clusterCols = Seq("id"))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getPath.toString)
    assert(files.length >= 6, s"expected ~8 range files, got ${files.length}")
    // per-file (min, max) id ranges must not overlap — the property that
    // lets parquet footer stats exclude whole files from range scans
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min($"id"), max($"id")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) =>
        assert(hi < lo2, s"overlapping file ranges: $ranges")
      case _ =>
    }
    // and a selective range read back returns exactly the slice
    val got = spark.read.parquet(dir).filter($"id" >= 1000 && $"id" < 1100).count()
    assert(got === 100L)
  }

  test("compact: fragmented state buckets shrink to few files, content intact") {
    import graft.streaming.ParquetStateSink
    val dir = tmp("compact")
    val keys = Seq("code", "table", "scope", "primary_key")
    seedBuckets(dir, 4)
    val sink = new ParquetStateSink(dir, keys)
    val deltas = (0 until 2000)
      .map(i => ("c", "t", "s", s"k$i", 100L + i, 1, s"v$i"))
      .toDF("code", "table", "scope", "primary_key", "block_num", "present", "data")
    sink.mergeBatch(deltas)
    // reproduce the at-scale fragmentation mode: a bucket rewrite whose
    // merge output ran with MANY tasks lands many film-sized files per
    // bucket (each task writes one file into every bucket it holds rows of)
    val stateRows = spark.read.parquet(dir).collect().toSeq
    val stateSchema = spark.read.parquet(dir).schema
    spark.createDataFrame(
        spark.sparkContext.parallelize(stateRows, 64), stateSchema)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__kb").parquet(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def fileCount: Int = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.getPath.getName.startsWith("__kb="))
      .map(b => fs.listStatus(b.getPath)
        .count(_.getPath.getName.endsWith(".parquet"))).sum
    def buckets: Set[String] = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.getPath.getName.startsWith("__kb=")).map(_.getPath.getName).toSet
    val before = spark.read.parquet(dir).collect().toSet
    val filesBefore = fileCount
    val bucketsBefore = buckets
    assert(filesBefore > bucketsBefore.size, "fixture not fragmented enough")

    val rewritten = Layout.compact(dir, targetFileBytes = 256L << 20)
    assert(rewritten === bucketsBefore.size)
    assert(fileCount === bucketsBefore.size,
      s"expected 1 file per bucket, got $fileCount")
    assert(buckets === bucketsBefore, "compaction must not move bucket values")
    assert(spark.read.parquet(dir).collect().toSet === before)
    // idempotent: already-compact state is a no-op
    assert(Layout.compact(dir, targetFileBytes = 256L << 20) === 0)
    // mixed per-bucket needs reach a fixpoint too: a tiny target makes the
    // buckets need MULTIPLE files each (need varies with bucket bytes); a
    // max-across-buckets slot count would over-split the smaller buckets
    // and re-flag them forever — compact must return 0 on the second pass
    spark.createDataFrame(
        spark.sparkContext.parallelize(stateRows, 64), stateSchema)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__kb").parquet(dir)
    Layout.compact(dir, targetFileBytes = 4096L)
    assert(Layout.compact(dir, targetFileBytes = 4096L) === 0,
      "second compact at the same target must be a no-op (fixpoint)")
    assert(spark.read.parquet(dir).collect().toSet === before)
    // the sink still merges correctly on the compacted layout
    sink.mergeBatch(deltas.withColumn("block_num", col("block_num") + 10000)
      .withColumn("data", concat(col("data"), lit("_v2"))))
    val after = spark.read.parquet(dir)
    assert(after.count() === 2000L)
    assert(after.filter(col("data").endsWith("_v2")).count() === 2000L)
  }

  test("compact generalizes to the block_bucket history layout") {
    val dir = tmp("hist")
    val hist = (0L until 3000L).map(i => (i, 100L + i / 10, s"p$i"))
      .toDF("global_sequence", "block_num", "payload")
      .withColumn("block_bucket", (col("block_num") / 1000L).cast("long"))
    hist.repartition(16)
      .write.partitionBy("block_bucket").parquet(dir)
    val before = spark.read.parquet(dir).collect().toSet
    val n = Layout.compact(dir, targetFileBytes = 256L << 20,
      partitionCol = "block_bucket")
    assert(n > 0, "16-task write must fragment the range partitions")
    assert(Layout.compact(dir, targetFileBytes = 256L << 20,
      partitionCol = "block_bucket") === 0)
    assert(spark.read.parquet(dir).collect().toSet === before)
  }

  test("expire drops whole below-watermark buckets, keeps straddlers, prunes reads") {
    val dir = tmp("expire")
    // buckets 0..5, 1000 blocks each: blocks 0..5999
    val hist = (0L until 6000L).map(i => (i, i, s"p$i"))
      .toDF("global_sequence", "block_num", "payload")
      .withColumn("block_bucket", (col("block_num") / 1000L).cast("long"))
    hist.repartition(8).write.partitionBy("block_bucket").parquet(dir)

    // watermark 2500: buckets 0 and 1 are wholly below; bucket 2 straddles
    val dropped = Layout.expire(dir, keepBlocksAbove = 2500L, partitionSize = 1000L)
    assert(dropped === 2)
    val dirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("block_bucket=")).map(_.getName).toSet
    assert(dirs === Set("block_bucket=2", "block_bucket=3",
      "block_bucket=4", "block_bucket=5"),
      "only fully-expired buckets may be deleted")
    // the straddling bucket keeps its FULL range (even rows below the
    // watermark) — retention is bucket-granular
    val left = spark.read.parquet(dir)
    assert(left.count() === 4000L)
    assert(left.agg(min(col("block_num"))).head().getLong(0) === 2000L)
    // idempotent; and a higher watermark expires more
    assert(Layout.expire(dir, 2500L, 1000L) === 0)
    assert(Layout.expire(dir, 4000L, 1000L) === 2)
    // bucket-pruned read of a surviving range still works
    assert(spark.read.parquet(dir)
      .filter(col("block_bucket") === 5L).count() === 1000L)
  }

  test("expire never touches non-numeric partition dirs or foreign layouts") {
    val dir = tmp("expire2")
    val docs = (0L until 100L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    docs.write.partitionBy("lang").parquet(dir)
    assert(Layout.expire(dir, keepBlocksAbove = Long.MaxValue,
      partitionSize = 1000L, partitionCol = "lang") === 0)
    assert(spark.read.parquet(dir).count() === 100L)
  }

  test("rewriteFiltered: targeted buckets keep only surviving rows, others untouched") {
    val dir = tmp("rw")
    val hist = (0L until 4000L).map(i => (i, i, s"p$i"))
      .toDF("global_sequence", "block_num", "payload")
      .withColumn("block_bucket", (col("block_num") / 1000L).cast("long"))
    hist.repartition(8).write.partitionBy("block_bucket").parquet(dir)
    // drop odd block_nums from buckets 1 and 2 only
    val n = Layout.rewriteFiltered(dir, Seq(1L, 2L), col("block_num") % 2 === 0)
    assert(n === 2)
    val after = spark.read.parquet(dir)
    assert(after.filter(col("block_bucket").isin(1L, 2L))
      .filter(col("block_num") % 2 === 1).count() === 0L)
    assert(after.filter(col("block_bucket") === 0L).count() === 1000L,
      "untargeted bucket must keep every row")
    assert(after.count() === 1000L + 1000L + 1000L)
    // missing buckets are skipped, not crashed on
    assert(Layout.rewriteFiltered(dir, Seq(99L), lit(true)) === 0)
  }

  test("rewriteFiltered survives keep eliminating EVERY row of all targeted buckets") {
    val dir = tmp("rwempty")
    val hist = (0L until 3000L).map(i => (i, i, s"p$i"))
      .toDF("global_sequence", "block_num", "payload")
      .withColumn("block_bucket", (col("block_num") / 1000L).cast("long"))
    hist.repartition(4).write.partitionBy("block_bucket").parquet(dir)
    // keep=false on buckets 0 and 2: the staged write holds ZERO data
    // files — this used to throw on staged schema inference before the
    // fully-emptied-bucket delete path ever ran (round-11 ADVICE)
    val n = Layout.rewriteFiltered(dir, Seq(0L, 2L), lit(false))
    assert(n === 2)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, "block_bucket=0")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, "block_bucket=2")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + "__rewrite")),
      "staged dir must be cleaned up")
    val after = spark.read.parquet(dir)
    assert(after.count() === 1000L)
    assert(after.filter(col("block_bucket") === 1L).count() === 1000L)
    // idempotent retry converges (the documented crash-recovery contract)
    assert(Layout.rewriteFiltered(dir, Seq(0L, 2L), lit(false)) === 0)
  }

  test("rewriteFiltered: a fully-emptied bucket alongside a partial survivor") {
    val dir = tmp("rwmixed")
    val hist = (0L until 2000L).map(i => (i, i, s"p$i"))
      .toDF("global_sequence", "block_num", "payload")
      .withColumn("block_bucket", (col("block_num") / 1000L).cast("long"))
    hist.repartition(4).write.partitionBy("block_bucket").parquet(dir)
    // bucket 0 fully emptied, bucket 1 keeps evens
    val n = Layout.rewriteFiltered(dir, Seq(0L, 1L),
      col("block_num") >= 1000L && col("block_num") % 2 === 0)
    assert(n === 2)
    val after = spark.read.parquet(dir)
    assert(after.filter(col("block_bucket") === 0L).count() === 0L)
    assert(after.filter(col("block_bucket") === 1L).count() === 500L)
  }

  test("compact handles string-valued partitions (lang=en) without crashing") {
    val dir = tmp("strpart")
    val docs = (0L until 2000L).map(i => (i, if (i % 2 == 0) "en" else "de", s"t$i"))
      .toDF("doc_id", "lang", "text")
    docs.repartition(16).write.partitionBy("lang").parquet(dir)
    val before = spark.read.parquet(dir).collect().toSet
    val n = Layout.compact(dir, targetFileBytes = 256L << 20, partitionCol = "lang")
    assert(n === 2, "both string partitions must be compacted")
    assert(Layout.compact(dir, targetFileBytes = 256L << 20,
      partitionCol = "lang") === 0, "fixpoint on string partitions")
    assert(spark.read.parquet(dir).collect().toSet === before)
  }
}

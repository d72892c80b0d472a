package graft.streaming

import graft.SparkSpec
import graft.etl.Fixtures
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The StateSink boundary: any keyed-upsert writer drops in at the
  * foreachBatch seam (the reference's ES bulk router,
  * elastic-routes.ts:54-109). Proven by running the SAME stream through
  * (a) the parquet sink and (b) a deliberately naive in-memory sink, and
  * requiring identical last-writer-wins results.
  */
class StateSinkSpec extends SparkSpec {

  private val keyCols = Seq("code", "table", "scope", "primary_key")

  /** A minimal alternative sink: accumulates batches and recomputes the
    * LWW state from scratch — semantically equivalent, structurally
    * nothing like the bucketed parquet layout. Stands in for an ES/Delta
    * writer in the plug-compatibility test.
    */
  private final class NaiveMemorySink(val keys: Seq[String]) extends StateSink {
    var history: Option[DataFrame] = None
    var batches: Int = 0
    def mergeBatch(batch: DataFrame)(
        implicit spark: org.apache.spark.sql.SparkSession): Unit = synchronized {
      // materialize: the incoming micro-batch DataFrame is only valid
      // inside foreachBatch
      val rows = batch.collect().toSeq
      val frame = spark.createDataFrame(
        spark.sparkContext.parallelize(rows), batch.schema)
      history = Some(history.map(_.unionByName(frame)).getOrElse(frame))
      batches += 1
    }
    def read(implicit spark: org.apache.spark.sql.SparkSession): DataFrame =
      graft.state.StateMerge.fromHistory(history.get, keys)
  }

  test("a custom StateSink plugs into startStateSink and matches parquet LWW") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val rawDir = s"$tmp/deltas"
    Fixtures.deltas(spark, 120).write.parquet(rawDir)
    def stream = spark.readStream
      .schema(spark.read.parquet(rawDir).schema).parquet(rawDir)

    seedBuckets(s"$tmp/state", 8)
    val parquetSink = new ParquetStateSink(s"$tmp/state", keyCols)
    Ingest.startStateSink(stream, parquetSink, s"$tmp/ckpt_p")
      .awaitTermination(60000)
    val memorySink = new NaiveMemorySink(keyCols)
    Ingest.startStateSink(stream, memorySink, s"$tmp/ckpt_m")
      .awaitTermination(60000)

    assert(memorySink.batches > 0)
    val cols = memorySink.read.columns.toIndexedSeq.map(col)
    val fromParquet = parquetSink.read.select(cols: _*)
    val fromMemory = memorySink.read.select(cols: _*)
    assert(fromParquet.count() === fromMemory.count())
    assert(fromParquet.exceptAll(fromMemory).count() === 0)
    assert(fromMemory.exceptAll(fromParquet).count() === 0)
  }

  test("BulkStateSink matches parquet LWW through the same stream") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_bulk").toString
    val rawDir = s"$tmp/deltas"
    Fixtures.deltas(spark, 120).write.parquet(rawDir)
    def stream = spark.readStream
      .schema(spark.read.parquet(rawDir).schema).parquet(rawDir)

    seedBuckets(s"$tmp/state", 8)
    val parquetSink = new ParquetStateSink(s"$tmp/state", keyCols)
    Ingest.startStateSink(stream, parquetSink, s"$tmp/ckpt_p")
      .awaitTermination(60000)
    val bulkSink = new BulkStateSink(s"$tmp/es", keyCols)
    Ingest.startStateSink(stream, bulkSink, s"$tmp/ckpt_b")
      .awaitTermination(60000)

    val cols = bulkSink.read.columns.toIndexedSeq.map(col)
    val fromParquet = parquetSink.read.select(cols: _*)
    val fromBulk = bulkSink.read.select(cols: _*)
    assert(fromBulk.count() > 0)
    assert(fromParquet.exceptAll(fromBulk).count() === 0)
    assert(fromBulk.exceptAll(fromParquet).count() === 0)
    EmbeddedBulkIndex.drop(s"$tmp/es")
  }

  test("BulkStateSink emits the reference's wire protocol and rehydrates cold") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_bulk2").toString
    val rawDir = s"$tmp/deltas"
    Fixtures.deltas(spark, 120).write.parquet(rawDir)
    def stream = spark.readStream
      .schema(spark.read.parquet(rawDir).schema).parquet(rawDir)
    val sink = new BulkStateSink(s"$tmp/es", keyCols)
    Ingest.startStateSink(stream, sink, s"$tmp/ckpt")
      .awaitTermination(60000)
    val expected = sink.read.count()

    // the persisted log IS the _bulk wire format: action lines with
    // _id = natural key joined by '-', scripted upserts with
    // retry_on_conflict, deletes for present==0 rows
    val batchDirs = new java.io.File(s"$tmp/es/bulk").listFiles()
      .filter(_.getName.startsWith("batch-")).map(_.toString).toIndexedSeq
    assert(batchDirs.nonEmpty, "no persisted bulk batches")
    val lines = spark.read.textFile(batchDirs: _*).collect()
    assert(lines.exists(_.contains("\"update\"")), "no update actions")
    assert(lines.exists(_.contains("\"delete\"")), "no delete actions")
    assert(lines.exists(_.contains("\"retry_on_conflict\":3")))
    assert(lines.exists(_.contains("\"scripted_upsert\":true")))
    assert(lines.exists(_.contains("\"id\":\"updateByBlock\"")))
    assert(lines.exists(_.contains("\"_id\":\"hyp.test-kv-")),
      "_id must be the dash-joined natural key")
    // every action line parses as JSON with exactly one op field
    lines.filter(l => l.contains("\"update\"") || l.contains("\"delete\""))
      .foreach { l =>
        val parsed = org.json4s.jackson.JsonMethods.parse(l)
        assert(parsed.asInstanceOf[org.json4s.JObject].obj.size === 1, l)
      }

    // a fresh JVM (simulated by dropping the live index) replays the
    // persisted log — the embedded analogue of ES translog recovery
    EmbeddedBulkIndex.drop(s"$tmp/es")
    assert(sink.read.count() === expected)
    EmbeddedBulkIndex.drop(s"$tmp/es")
  }

  test("updateByBlock guard: stale blocks skipped, null params remove fields") {
    val t = "mem://guard-test"
    EmbeddedBulkIndex.drop(t)
    def upd(id: String, body: String) = Iterator(
      s"""{"update":{"_id":"$id","retry_on_conflict":3}}""",
      s"""{"script":{"id":"updateByBlock","params":$body},"scripted_upsert":true,"upsert":{}}""")
    EmbeddedBulkIndex.post(t, upd("k", """{"block_num":10,"v":1,"extra":"x"}"""))
    EmbeddedBulkIndex.post(t, upd("k", """{"block_num":5,"v":99}"""))
    assert(EmbeddedBulkIndex.docs(t).head.contains("\"v\":1"),
      "a lower block_num must not overwrite")
    EmbeddedBulkIndex.post(t, upd("k", """{"block_num":10,"v":2,"extra":null}"""))
    val doc = EmbeddedBulkIndex.docs(t).head
    assert(doc.contains("\"v\":2"), "an equal block_num must overwrite (>= guard)")
    assert(!doc.contains("extra"), "null params must remove fields")
    EmbeddedBulkIndex.post(t, Iterator("""{"delete":{"_id":"k"}}"""))
    assert(EmbeddedBulkIndex.docs(t).isEmpty, "delete must remove the doc")
    EmbeddedBulkIndex.drop(t)
  }

  test("versioned delete guard: a late tombstone skips; equal-block deletes; strict throws") {
    val t = "mem://late-tombstone"
    EmbeddedBulkIndex.drop(t)
    def upd(id: String, body: String) = Iterator(
      s"""{"update":{"_id":"$id","retry_on_conflict":3}}""",
      s"""{"script":{"id":"updateByBlock","params":$body},"scripted_upsert":true,"upsert":{}}""")
    def del(id: String, v: Long) = Iterator(
      s"""{"delete":{"_id":"$id","version":$v,"version_type":"external_gte"}}""")
    // batch N delivers the newer state; batch N+1 delivers a REGRESSING
    // tombstone (block 7 < stored 10) — the parquet sink's LWW keeps the
    // row, so the bulk sink must too
    EmbeddedBulkIndex.post(t, upd("k", """{"block_num":10,"v":1}"""))
    EmbeddedBulkIndex.post(t, del("k", 7L))
    assert(EmbeddedBulkIndex.docs(t).nonEmpty,
      "late tombstone must not delete newer state")
    // external_gte: an equal-version delete applies (StateMerge's
    // batch-beats-state-at-equal-block rule)
    EmbeddedBulkIndex.post(t, del("k", 10L))
    assert(EmbeddedBulkIndex.docs(t).isEmpty, "equal-block delete must apply")
    // strict mode surfaces the ordering violation as a batch failure
    EmbeddedBulkIndex.post(t, upd("k", """{"block_num":20,"v":2}"""))
    val e = intercept[IllegalStateException] {
      EmbeddedBulkIndex.post(t, del("k", 12L), strictDeletes = true)
    }
    assert(e.getMessage.contains("regressing delete"))
    assert(EmbeddedBulkIndex.docs(t).nonEmpty, "strict failure must not apply")
    EmbeddedBulkIndex.drop(t)
  }

  test("late tombstone: bulk sink state equals parquet StateMerge state batch-over-batch") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft_bulk_late").toString
    val sink = new BulkStateSink(s"$t/es", Seq("k"))
    val schema = Seq((1L, 10L, 1L, "a")).toDF("k", "block_num", "present", "data").schema
    def frame(rows: (Long, Long, Long, String)*) = {
      val df = rows.toDF("k", "block_num", "present", "data")
      spark.createDataFrame(df.rdd, schema)
    }
    // batch 1: key 1 updated at block 10, key 2 at block 5
    val b1 = frame((1L, 10L, 1L, "a"), (2L, 5L, 1L, "b"))
    // batch 2: a LATE tombstone for key 1 at block 7 (regressed), and a
    // legitimate delete for key 2 at block 6
    val b2 = frame((1L, 7L, 0L, "gone"), (2L, 6L, 0L, "gone"))
    sink.mergeBatch(b1)(spark)
    sink.mergeBatch(b2)(spark)
    val viaBulk = sink.read(spark).select($"k", $"block_num", $"data")
      .as[(Long, Long, String)].collect().toSet
    val viaMerge = graft.state.StateMerge
      .merge(graft.state.StateMerge.merge(b1.limit(0), b1, Seq("k")), b2, Seq("k"))
      .select($"k", $"block_num", $"data")
      .as[(Long, Long, String)].collect().toSet
    assert(viaBulk === viaMerge,
      "bulk sink must keep exactly what the parquet merge keeps")
    assert(viaBulk === Set((1L, 10L, "a")), "key 1 survives, key 2 deleted")
    EmbeddedBulkIndex.drop(s"$t/es")
  }

  test("startStateMerge is exactly the parquet specialization (unchanged behavior)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_sink2").toString
    val rawDir = s"$tmp/deltas"
    Fixtures.deltas(spark, 60).write.parquet(rawDir)
    def stream = spark.readStream
      .schema(spark.read.parquet(rawDir).schema).parquet(rawDir)
    Ingest.startStateMerge(stream, s"$tmp/state", s"$tmp/ckpt", keyCols)
      .awaitTermination(60000)
    val viaSink = new ParquetStateSink(s"$tmp/state2", keyCols)
    Ingest.startStateSink(stream, viaSink, s"$tmp/ckpt2")
      .awaitTermination(60000)
    val a = spark.read.parquet(s"$tmp/state")
    val b = viaSink.read.select(a.columns.toIndexedSeq.map(col): _*)
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)
  }

  // ---- the parquet sink's commit: one staged write, installed by moves

  private def kvFrame(rows: (Long, Long, Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("k", "block_num", "present", "data")
  }

  private def stateSet(df: DataFrame): Set[(Long, Long, String)] = {
    import spark.implicits._
    df.select($"k", $"block_num", $"data").as[(Long, Long, String)].collect().toSet
  }

  private def hfs(dir: String) = new org.apache.hadoop.fs.Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("a state whose every key was deleted is an empty prior, not a failure") {
    val t = java.nio.file.Files.createTempDirectory("graft_sink_empty").toString
    seedBuckets(s"$t/state", 4)
    val sink = new ParquetStateSink(s"$t/state", Seq("k"))
    sink.mergeBatch(kvFrame((1L, 10L, 1L, "a"), (2L, 10L, 1L, "b"),
      (3L, 10L, 1L, "c"), (4L, 10L, 1L, "d")))
    assert(sink.read.count() === 4L)
    sink.mergeBatch(kvFrame((1L, 11L, 0L, ""), (2L, 11L, 0L, ""),
      (3L, 11L, 0L, ""), (4L, 11L, 0L, "")))
    assert(new java.io.File(s"$t/state").exists(), "the state directory stays")
    assert(sink.read.count() === 0L)
    // the third batch used to fail with UNABLE_TO_INFER_SCHEMA
    sink.mergeBatch(kvFrame((2L, 12L, 1L, "b2"), (5L, 12L, 1L, "e")))
    assert(stateSet(sink.read) === Set((2L, 12L, "b2"), (5L, 12L, "e")))
  }

  test("mergeBatch applied twice to the same batch leaves the same state") {
    val t = java.nio.file.Files.createTempDirectory("graft_sink_idem").toString
    seedBuckets(s"$t/state", 4)
    val sink = new ParquetStateSink(s"$t/state", Seq("k"))
    val b1 = kvFrame((1 to 40).map(i => (i.toLong, 10L, 1L, s"v$i")): _*)
    val b2 = kvFrame((1 to 40 by 3).map(i =>
      (i.toLong, 20L, if (i % 2 == 0) 0L else 1L, s"w$i")): _*)
    sink.mergeBatch(b1)
    sink.mergeBatch(b2)
    val once = stateSet(sink.read)
    sink.mergeBatch(b2) // Structured Streaming's redelivery after a crash
    assert(stateSet(sink.read) === once)
    assert(once === stateSet(graft.state.StateMerge.fromHistory(b1.unionByName(b2), Seq("k"))))
  }

  test("a committed __next left half-installed is rolled forward by the next batch") {
    val t = java.nio.file.Files.createTempDirectory("graft_sink_roll").toString
    val stateDir = s"$t/state"
    seedBuckets(stateDir, 4)
    val sink = new ParquetStateSink(stateDir, Seq("k"))
    val b1 = kvFrame((1 to 40).map(i => (i.toLong, 10L, 1L, s"v$i")): _*)
    val b2 = kvFrame((1 to 40 by 2).map(i =>
      (i.toLong, 20L, if (i % 4 == 1) 0L else 1L, s"w$i")): _*)
    sink.mergeBatch(b1)
    // the committed result of b2's merge, staged as the sink stages it:
    // its touched buckets, partitioned by the sink's bucket function
    val bucket = pmod(xxhash64(col("k")), lit(4)).cast("int")
    val expected = graft.state.StateMerge.fromHistory(b1.unionByName(b2), Seq("k"))
    val touched = b2.select(bucket).distinct().collect().map(_.getInt(0)).sorted
    expected.withColumn("__kb", bucket).filter(col("__kb").isin(touched: _*))
      .write.partitionBy("__kb").parquet(s"${stateDir}__next")
    val fs = hfs(stateDir)
    import org.apache.hadoop.fs.Path
    // the sink's commit record: the staged write is complete, bucketed 4 ways
    Ingest.writeMarker(new Path(s"${stateDir}__next", "_nbuckets"), "4")
    val staged = touched.filter(b => fs.exists(new Path(s"${stateDir}__next/__kb=$b")))
    assert(staged.length >= 3, "fixture must stage at least three buckets")
    // crash mid-install: the first bucket moved, the second deleted but
    // not yet renamed, the rest untouched
    fs.delete(new Path(s"$stateDir/__kb=${staged(0)}"), true)
    fs.rename(new Path(s"${stateDir}__next/__kb=${staged(0)}"),
      new Path(s"$stateDir/__kb=${staged(0)}"))
    fs.delete(new Path(s"$stateDir/__kb=${staged(1)}"), true)
    // the deleted bucket holds keys b2 does not carry: re-merging b2 over
    // the damaged state alone would lose them
    val lost = b1.withColumn("__kb", bucket).filter(col("__kb") === staged(1))
      .join(b2, Seq("k"), "left_anti").count()
    assert(lost > 0, "fixture must leave b1-only keys in the deleted bucket")

    sink.mergeBatch(b2) // the redelivered batch
    assert(stateSet(sink.read) === stateSet(expected))
    assert(!fs.exists(new Path(s"${stateDir}__next")))
  }

  test("a batch writes one file per non-empty touched bucket and leaves no __next") {
    val t = java.nio.file.Files.createTempDirectory("graft_sink_files").toString
    val stateDir = s"$t/state"
    seedBuckets(stateDir, 8)
    val sink = new ParquetStateSink(stateDir, Seq("k"))
    sink.mergeBatch(kvFrame((1 to 200).map(i => (i.toLong, 10L, 1L, s"v$i")): _*))
    val fs = hfs(stateDir)
    import org.apache.hadoop.fs.Path
    assert(!fs.exists(new Path(s"${stateDir}__next")))
    val buckets = fs.listStatus(new Path(stateDir)).filter(_.isDirectory)
    assert(buckets.length === 8)
    buckets.foreach { b =>
      val files = fs.listStatus(b.getPath).count(_.getPath.getName.endsWith(".parquet"))
      assert(files === 1, s"${b.getPath.getName} holds $files parquet files")
    }
    // a second batch that empties one bucket and rewrites another
    val bucket = pmod(xxhash64(col("k")), lit(8)).cast("int")
    val all = kvFrame((1 to 200).map(i => (i.toLong, 10L, 1L, s"v$i")): _*)
      .withColumn("__kb", bucket)
    val emptied = all.filter(col("__kb") === 0).drop("__kb")
      .withColumn("block_num", lit(11L)).withColumn("present", lit(0L))
    val rewritten = all.filter(col("__kb") === 1).drop("__kb")
      .withColumn("block_num", lit(11L)).withColumn("data", lit("x"))
    sink.mergeBatch(emptied.unionByName(rewritten))
    assert(!fs.exists(new Path(s"$stateDir/__kb=0")), "an emptied bucket is deleted")
    assert(!fs.exists(new Path(s"${stateDir}__next")))
    assert(fs.listStatus(new Path(s"$stateDir/__kb=1"))
      .count(_.getPath.getName.endsWith(".parquet")) === 1)
    assert(sink.read.count() === 200L - all.filter(col("__kb") === 0).count())
    assert(sink.read.filter(col("__kb") === 1 && col("data") =!= "x").count() === 0L)
  }

  // ---- the bucket count: derived from the state's bytes, grown by splits

  /** Every row sits in bucket `pmod(xxhash64(k), n)` for the count `n` the
    * sink reports, and no staged write is left behind.
    */
  private def assertLayout(stateDir: String, sink: ParquetStateSink): Unit = {
    val n = sink.buckets
    val misplaced = spark.read.parquet(stateDir)
      .filter(col("__kb") =!= pmod(xxhash64(col("k")), lit(n)).cast("int")).count()
    assert(misplaced === 0L, s"rows outside their $n-way bucket")
    assert(!hfs(stateDir).exists(new org.apache.hadoop.fs.Path(s"${stateDir}__next")))
  }

  /** Deterministic, incompressible payloads, so the state's bytes grow
    * with its rows.
    */
  private def payload(k: Int, v: Int) =
    java.util.UUID.nameUUIDFromBytes(s"$k/$v".getBytes("UTF-8")).toString

  private def withMaxPartitionBytes[A](v: String)(body: => A): A = {
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.get(key)
    spark.conf.set(key, v)
    try body finally spark.conf.set(key, prev)
  }

  test("the bucket count grows from 1 as the state outgrows one scan split") {
    val t = java.nio.file.Files.createTempDirectory("graft_sink_grow").toString
    val stateDir = s"$t/state"
    val sink = new ParquetStateSink(stateDir, Seq("k"))
    assert(sink.buckets === 1)
    withMaxPartitionBytes("4k") {
      var history = kvFrame()
      val counts = (1 to 5).map { i =>
        // 150 new keys, plus an update or a delete of every fifth older one
        val fresh = ((i - 1) * 150 + 1 to i * 150).map(k =>
          (k.toLong, 10L * i, 1L, payload(k, i)))
        val older = (1 to (i - 1) * 150 by 5).map(k =>
          (k.toLong, 10L * i, if (k % 2 == 0) 0L else 1L, payload(k, i)))
        val batch = kvFrame(fresh ++ older: _*)
        sink.mergeBatch(batch)
        history = history.unionByName(batch)
        assert(stateSet(sink.read) ===
          stateSet(graft.state.StateMerge.fromHistory(history, Seq("k"))), s"batch $i")
        assertLayout(stateDir, sink)
        sink.buckets
      }
      assert(counts.last >= 4, s"counts per batch: $counts")
      assert(counts === counts.sorted, s"the count never shrinks: $counts")
    }
  }

  /** 240 keys none of which hashes to bucket 3 of 8: every key of old
    * bucket 3 (of 4) moves to bucket 7 in a split, so the split empties it.
    */
  private def splitKeys: IndexedSeq[Long] = {
    import spark.implicits._
    spark.range(1, 2000)
      .select(col("id"), pmod(xxhash64(col("id")), lit(8)).cast("int").as("b"))
      .filter(col("b") =!= 3).select(col("id")).as[Long].collect().take(240).toIndexedSeq
  }

  test("a split deletes the old buckets it empties") {
    val t = java.nio.file.Files.createTempDirectory("graft_sink_split").toString
    val stateDir = s"$t/state"
    seedBuckets(stateDir, 4)
    val sink = new ParquetStateSink(stateDir, Seq("k"))
    val b1 = kvFrame(splitKeys.map(k => (k, 10L, 1L, payload(k.toInt, 1))): _*)
    withMaxPartitionBytes("1k")(sink.mergeBatch(b1))
    assert(sink.buckets >= 8)
    assert(!new java.io.File(s"$stateDir/__kb=3").exists(), "the emptied old bucket is deleted")
    assertLayout(stateDir, sink)
    assert(stateSet(sink.read) === stateSet(b1))
  }

  /** A 4-bucket state after two batches over [[splitKeys]], and its split
    * to 8 buckets staged in `__next` as the sink stages it: one write of
    * every bucket, with an empty staged directory for old bucket 3, which
    * the split empties. Returns the sink, the second batch and the model's
    * state.
    */
  private def stagedSplit(stateDir: String) = {
    val keys = splitKeys
    seedBuckets(stateDir, 4)
    val sink = new ParquetStateSink(stateDir, Seq("k"))
    val b1 = kvFrame(keys.map(k => (k, 10L, 1L, s"v$k")): _*)
    val b2 = kvFrame(keys.zipWithIndex.collect {
      case (k, i) if i % 3 == 0 => (k, 20L, if (i % 2 == 0) 0L else 1L, s"w$k")
    }: _*)
    sink.mergeBatch(b1)
    sink.mergeBatch(b2)
    val fs = hfs(stateDir)
    import org.apache.hadoop.fs.Path
    assert(fs.exists(new Path(s"$stateDir/__kb=3")), "old bucket 3 must hold rows")
    val old = (0 until 4).map(_.toString)
    spark.read.parquet(stateDir)
      .withColumn("__kb", pmod(xxhash64(col("k")), lit(8)).cast("int"))
      .write.partitionBy("__kb").parquet(s"${stateDir}__next")
    graft.sources.Layout.stageDeletes(s"${stateDir}__next", "__kb", old)
    assert(fs.listStatus(new Path(s"${stateDir}__next/__kb=3")).isEmpty,
      "the split must leave old bucket 3 empty")
    val model = stateSet(graft.state.StateMerge.fromHistory(b1.unionByName(b2), Seq("k")))
    (sink, b2, model)
  }

  test("a split staged but not committed is dropped: old layout, old count") {
    val t = java.nio.file.Files.createTempDirectory("graft_sink_split_a").toString
    val stateDir = s"$t/state"
    val (sink, b2, model) = stagedSplit(stateDir)
    sink.mergeBatch(b2) // the redelivered batch
    assert(stateSet(sink.read) === model)
    assert(sink.buckets === 4)
    assertLayout(stateDir, sink)
  }

  test("a split committed before the marker moved completes with its count") {
    val t = java.nio.file.Files.createTempDirectory("graft_sink_split_b").toString
    val stateDir = s"$t/state"
    val (sink, b2, model) = stagedSplit(stateDir)
    Ingest.writeMarker(new org.apache.hadoop.fs.Path(s"${stateDir}__next", "_nbuckets"), "8")
    assert(sink.buckets === 4, "the marker has not moved yet")
    sink.mergeBatch(b2)
    assert(stateSet(sink.read) === model)
    assert(sink.buckets === 8)
    assertLayout(stateDir, sink)
    assert(!new java.io.File(s"$stateDir/__kb=3").exists(), "the emptied old bucket is deleted")
  }

  test("a marker lost mid-replacement resumes at the committed split's count") {
    val t = java.nio.file.Files.createTempDirectory("graft_sink_split_d").toString
    val stateDir = s"$t/state"
    val (sink, b2, model) = stagedSplit(stateDir)
    Ingest.writeMarker(new org.apache.hadoop.fs.Path(s"${stateDir}__next", "_nbuckets"), "8")
    // the marker's replacement deletes the old file before renaming the new
    java.nio.file.Files.delete(java.nio.file.Paths.get(stateDir + "__meta", "nbuckets"))
    assert(sink.buckets === 8)
    sink.mergeBatch(b2)
    assert(stateSet(sink.read) === model)
    assert(sink.buckets === 8)
    assertLayout(stateDir, sink)
  }

  test("a split cut short mid-install is rolled forward, emptied buckets deleted") {
    val t = java.nio.file.Files.createTempDirectory("graft_sink_split_c").toString
    val stateDir = s"$t/state"
    val (sink, b2, model) = stagedSplit(stateDir)
    val fs = hfs(stateDir)
    import org.apache.hadoop.fs.Path
    Ingest.writeMarker(new Path(s"${stateDir}__next", "_nbuckets"), "8")
    seedBuckets(stateDir, 8) // the marker moves before any bucket does
    // crash mid-install: bucket 0 moved, bucket 1 deleted but not yet
    // renamed, bucket 4 moved, the rest (emptied bucket 3 included) untouched
    def move(b: Int): Unit = {
      fs.delete(new Path(s"$stateDir/__kb=$b"), true)
      fs.rename(new Path(s"${stateDir}__next/__kb=$b"), new Path(s"$stateDir/__kb=$b"))
    }
    move(0)
    fs.delete(new Path(s"$stateDir/__kb=1"), true)
    move(4)
    sink.mergeBatch(b2)
    assert(stateSet(sink.read) === model)
    assert(sink.buckets === 8)
    assertLayout(stateDir, sink)
    assert(!fs.exists(new Path(s"$stateDir/__kb=3")), "the emptied old bucket is deleted")
  }
}

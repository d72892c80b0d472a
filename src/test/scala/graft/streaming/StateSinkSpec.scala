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

    val parquetSink = new ParquetStateSink(s"$tmp/state", keyCols, nBuckets = 8)
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

    val parquetSink = new ParquetStateSink(s"$tmp/state", keyCols, nBuckets = 8)
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
    Ingest.startStateMerge(stream, s"$tmp/state", s"$tmp/ckpt", keyCols, nBuckets = 4)
      .awaitTermination(60000)
    val viaSink = new ParquetStateSink(s"$tmp/state2", keyCols, nBuckets = 4)
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
    val sink = new ParquetStateSink(s"$t/state", Seq("k"), nBuckets = 4)
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
    val sink = new ParquetStateSink(s"$t/state", Seq("k"), nBuckets = 4)
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
    val sink = new ParquetStateSink(stateDir, Seq("k"), nBuckets = 4)
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
    val sink = new ParquetStateSink(stateDir, Seq("k"), nBuckets = 8)
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
}

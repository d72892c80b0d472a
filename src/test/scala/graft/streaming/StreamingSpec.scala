package graft.streaming

import graft.SparkSpec
import graft.etl.{ActionDedup, Fixtures}
import graft.query.MetaFilter
import org.apache.spark.sql.functions._

class RouterSpec extends SparkSpec {
  import spark.implicits._

  private lazy val actions =
    ActionDedup.mergeReceipts(Fixtures.rawTraces(spark, 20, 10, 2)).cache()

  test("contract:action subscription matches only its topic") {
    val subs = Seq(
      Subscription("s1", contract = "eosio.token", action = "transfer"),
      Subscription("s2", contract = "hyp.test", action = "*"),
      Subscription("s3", account = "alice"))
    val routed = Router.route(actions.toDF(), subs).cache()
    val byId = routed.groupBy($"sub_id").count().as[(String, Long)].collect().toMap
    assert(byId("s1") === 20)
    assert(byId("s2") === 30)
    assert(byId("s3") === actions.filter(array_contains($"notified", "alice")).count())
  }

  test("meta filters apply per subscription (ST2)") {
    val subs = Seq(Subscription("f1", contract = "eosio.token",
      filters = Seq(MetaFilter("act.data.from", "eq", "alice"))))
    val routed = Router.route(actions.toDF(), subs)
    assert(routed.count() ===
      actions.filter(get_json_object($"act.data", "$.from") === "alice").count())
    assert(routed.count() > 0)
  }

  test("no matching subscription → empty, schema preserved") {
    val routed = Router.route(actions.toDF(), Seq(Subscription("x", contract = "nope")))
    assert(routed.count() === 0)
    assert(routed.columns.contains("sub_id"))
  }
}

class ReplaySpec extends SparkSpec {
  import spark.implicits._

  private lazy val history =
    ActionDedup.mergeReceipts(Fixtures.rawTraces(spark, 100, 0, 0)).cache()

  test("replay batches are contiguous, ordered, sized (ST3)") {
    val r = Replay.replay(history.toDF(), 100L, 149L, batchSize = 10).cache()
    assert(r.count() === 50)
    val sizes = r.groupBy($"batch_seq").count().orderBy($"batch_seq").as[(Long, Long)].collect()
    assert(sizes.map(_._2).forall(_ === 10))
    // ordering within batch numbering follows block order
    val firstOfLast = r.filter($"batch_seq" === 4).agg(min($"block_num")).as[Long].head()
    val lastOfFirst = r.filter($"batch_seq" === 0).agg(max($"block_num")).as[Long].head()
    assert(firstOfLast > lastOfFirst)
  }

  test("replay bucketed ordinals equal the single-bucket computation") {
    // blockBucket smaller than the range forces the per-bucket offset
    // path (many buckets); a bucket covering the whole range reduces to
    // the plain global row_number. batch_seq must be identical.
    val fine = Replay.replay(history.toDF(), 100L, 180L, batchSize = 7, blockBucket = 16L)
      .select($"global_sequence", $"batch_seq")
    val coarse = Replay.replay(history.toDF(), 100L, 180L, batchSize = 7, blockBucket = 1000000L)
      .select($"global_sequence", $"batch_seq")
    assert(fine.exceptAll(coarse).count() === 0 && coarse.exceptAll(fine).count() === 0)
  }

  test("replay: a short range straddling a bucket multiple is still one bucket") {
    // buckets sit relative to startBlock: 140..170 crosses block 150 (a
    // multiple of blockBucket = 50) yet spans 31 blocks, so it takes the
    // one-bucket path; its ordinals must equal the single-bucket and the
    // offsets path's (one action per fixture block, global_sequence
    // ascending with block_num, so the n-th action sits in page n / 4)
    def seqs(blockBucket: Long) =
      Replay.replay(history.toDF(), 140L, 170L, batchSize = 4, blockBucket = blockBucket)
        .select($"global_sequence", $"batch_seq").as[(Long, Long)].collect().toMap
    val straddling = seqs(50L)
    assert(straddling.size === 31)
    assert(straddling === straddling.keys.toSeq.sorted.zipWithIndex
      .map { case (gs, i) => gs -> (i / 4).toLong }.toMap)
    assert(straddling === seqs(1000000L))
    assert(straddling === seqs(8L))
  }

  test("handoff: no gap, no duplicates across the live seam (ST4)") {
    val historySlice = history.filter($"block_num" <= 180)   // replay covers ≤ 180
    val liveSlice = history.filter($"block_num" >= 170)      // live attached at 170 (overlap!)
    val out = Replay.handoff(historySlice.toDF(), liveSlice.toDF(), liveStartBlock = 170L)
    // exactly-once: equals the full range despite the overlap
    assert(out.count() === history.filter($"block_num" <= 199).count())
    assert(out.select($"global_sequence").distinct().count() === out.count())
  }
}

class IngestSpec extends SparkSpec {
  import spark.implicits._

  test("streaming ingestion end-to-end: raw traces → dedup → partitioned history (S1/S4)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    val rawDir = s"$tmp/raw"; val outDir = s"$tmp/actions"; val ckpt = s"$tmp/ckpt"
    Fixtures.rawTraces(spark, 30, 10, 2).write.parquet(rawDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(rawDir).schema)
      .parquet(rawDir)
    val q = Ingest.startActionIngest(stream, outDir, ckpt, partitionSize = 100L)
    q.awaitTermination(60000)
    val written = spark.read.parquet(outDir)
    assert(written.count() === 30 + 10 * 3) // transfers + customs x (depth+1)
    assert(written.columns.contains("block_bucket"))
    // partition layout: blocks 100.. → bucket 1, 300.. → bucket 3
    assert(written.select($"block_bucket").distinct().as[Long].collect().toSet === Set(1L, 3L))
    // idempotency: natural-key dedup within ingest
    assert(written.select($"global_sequence").distinct().count() === written.count())
  }

  test("checkpoint head high-water mark feeds the health readout (health.ts:344)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ingest_head").toString
    val rawDir = s"$tmp/raw"; val outDir = s"$tmp/actions"; val ckpt = s"$tmp/ckpt"
    Fixtures.rawTraces(spark, 30, 10, 2).write.parquet(rawDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(rawDir).schema)
      .parquet(rawDir)
    Ingest.startActionIngest(stream, outDir, ckpt, partitionSize = 100L)
      .awaitTermination(60000)
    val maxWritten = spark.read.parquet(outDir).agg(max($"block_num")).as[Long].head()
    val head = Ingest.checkpointHead(ckpt)
    assert(head === Some(maxWritten))
    // the health route consumes it as its nodeos-head scalar: indexed
    // table fully caught up → head_offset 0; LIB trails by 5
    val blocks = spark.read.parquet(outDir).select($"block_num").distinct()
    val h = graft.query.StateEndpoints
      .getHealth(blocks, lib = maxWritten - 5, streamHead = head.get)
      .collect().head
    assert(h.getAs[Long]("head_block_num") === maxWritten)
    assert(h.getAs[Long]("head_offset") === 0L)
    assert(h.getAs[Long]("lib_offset") === -5L)
    // monotonic: re-running the bounded stream replays nothing and a
    // stale stamp must never move the head backward
    Ingest.startActionIngest(stream, outDir, ckpt, partitionSize = 100L)
      .awaitTermination(60000)
    assert(Ingest.checkpointHead(ckpt) === Some(maxWritten))
    // a torn marker (crash between create and write) must read as None —
    // never throw into every subsequent micro-batch — and the next stamp
    // must overwrite it (write-then-rename)
    val marker = new org.apache.hadoop.fs.Path(ckpt, "__graft_head")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(marker, true).close() // empty = torn
    assert(Ingest.checkpointHead(ckpt) === None)
    // the stream keeps running against the torn marker (no exception);
    // it stays None because the bounded replay has no new batch to stamp
    Ingest.startActionIngest(stream, outDir, ckpt, partitionSize = 100L)
      .awaitTermination(60000)
    assert(Ingest.checkpointHead(ckpt) === None)
  }

  test("retention: Layout.expire ages out an old range; ingest history unchanged above it") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ingest_exp").toString
    val rawDir = s"$tmp/raw"; val outDir = s"$tmp/actions"; val ckpt = s"$tmp/ckpt"
    Fixtures.rawTraces(spark, 30, 10, 2).write.parquet(rawDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(rawDir).schema)
      .parquet(rawDir)
    Ingest.startActionIngest(stream, outDir, ckpt, partitionSize = 100L)
      .awaitTermination(60000)
    val live = spark.read.parquet(outDir).collect().toSet
    // plant an ANCIENT fully-expired range (bucket 0: blocks 0..99) in the
    // same layout — the ILM delete-phase candidate
    val plantDir = s"$tmp/plant"
    spark.read.parquet(outDir).limit(20)
      .withColumn("block_num", col("block_num") % 100L)
      .withColumn("block_bucket", lit(0L))
      .write.parquet(plantDir) // materialize first: no self-referential append
    spark.read.parquet(plantDir)
      .write.mode("append").partitionBy("block_bucket").parquet(outDir)
    assert(spark.read.parquet(outDir).count() === live.size + 20L)
    // expire everything below block 100: exactly the planted bucket dies,
    // and the live history reads back bit-identical
    assert(graft.sources.Layout.expire(outDir, keepBlocksAbove = 100L,
      partitionSize = 100L) === 1)
    assert(spark.read.parquet(outDir).collect().toSet === live)
    assert(graft.sources.Layout.expire(outDir, 100L, 100L) === 0, "fixpoint")
  }

  test("state-table maintenance stream: last-writer-wins compaction (S5)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_state").toString
    val rawDir = s"$tmp/deltas"; val stateDir = s"$tmp/state"; val ckpt = s"$tmp/ckpt"
    Fixtures.deltas(spark, 120).write.parquet(rawDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(rawDir).schema)
      .parquet(rawDir)
    val q = Ingest.startStateMerge(stream, stateDir, ckpt,
      keys = Seq("code", "table", "scope", "primary_key"))
    q.awaitTermination(60000)
    val state = spark.read.parquet(stateDir)
    val expected = graft.state.StateMerge.fromHistory(
      Fixtures.deltas(spark, 120).toDF(), Seq("code", "table", "scope", "primary_key"))
    assert(state.count() === expected.count())
    // content equality modulo the partition column (align column order:
    // fromHistory puts the grouping keys first)
    assert(state.select(expected.columns.map(col).toIndexedSeq: _*)
      .exceptAll(expected).count() === 0)
  }

  test("state merge rewrites only touched buckets; emptied buckets vanish") {
    import org.apache.spark.sql.functions.{col, pmod, xxhash64, lit}
    val tmp = java.nio.file.Files.createTempDirectory("graft_state_inc").toString
    val stateDir = s"$tmp/state"
    val deltas = Fixtures.deltas(spark, 120).toDF()
    def run(batchDf: org.apache.spark.sql.DataFrame, n: Int): Unit = {
      val rawDir = s"$tmp/deltas$n"; val ckpt = s"$tmp/ckpt$n"
      batchDf.write.parquet(rawDir)
      val stream = spark.readStream
        .schema(spark.read.parquet(rawDir).schema).parquet(rawDir)
      Ingest.startStateMerge(stream, stateDir, ckpt,
        keys = Seq("code", "table", "scope", "primary_key"))
        .awaitTermination(60000)
    }
    seedBuckets(stateDir, 4)
    run(deltas, 1)
    // materialize on the driver: caching the DataFrame would be wrong —
    // the post-rewrite read of the same path canonicalizes to the same
    // plan and would silently return the cached pre-rewrite data
    val beforeRows = spark.read.parquet(stateDir).collect()
      .map(_.toSeq).toSet
    // batch 2: delete EVERY key of one hash bucket (present = 0 at a
    // later block) — that bucket's partition must disappear entirely
    // while untouched buckets keep their rows byte-identically
    val kb = pmod(xxhash64(Seq("code", "table", "scope", "primary_key").map(col): _*),
      lit(4)).cast("int")
    val victims = deltas.withColumn("__kb", kb).filter(col("__kb") === 0)
      .select("code", "table", "scope", "primary_key").distinct()
    val deletions = deltas.join(victims, Seq("code", "table", "scope", "primary_key"))
      .groupBy("code", "table", "scope", "primary_key")
      .agg(org.apache.spark.sql.functions.max("block_num").as("old_block"),
        org.apache.spark.sql.functions.first("timestamp").as("timestamp"),
        org.apache.spark.sql.functions.first("block_id").as("block_id"),
        org.apache.spark.sql.functions.first("payer").as("payer"),
        org.apache.spark.sql.functions.first("data").as("data"))
      .withColumn("block_num", col("old_block") + 1000)
      .withColumn("present", lit(0))
      .drop("old_block")
      .select(deltas.columns.map(col).toIndexedSeq: _*)
    assert(deletions.count() > 0, "fixture must hash some keys into bucket 0")
    run(deletions, 2)
    val after = spark.read.parquet(stateDir)
    assert(after.filter(col("__kb") === 0).count() === 0,
      "fully-deleted bucket must not survive the dynamic overwrite")
    val kbIdx = spark.read.parquet(stateDir).columns.indexOf("__kb")
    val keptBefore = beforeRows.filter(r => r(kbIdx) != 0)
    val afterRows = after.collect().map(_.toSeq).toSet
    assert(afterRows === keptBefore, "untouched buckets must carry over unchanged")
  }

  test("state merge resumes at a seeded 4-bucket marker") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_state_nb").toString
    val stateDir = s"$tmp/state"
    val keys = Seq("code", "table", "scope", "primary_key")
    def run(n: Int): Unit = {
      val rawDir = s"$tmp/deltas$n"; val ckpt = s"$tmp/ckpt$n"
      Fixtures.deltas(spark, 40 * n).write.parquet(rawDir)
      val stream = spark.readStream
        .schema(spark.read.parquet(rawDir).schema).parquet(rawDir)
      Ingest.startStateMerge(stream, stateDir, ckpt, keys).awaitTermination(60000)
    }
    seedBuckets(stateDir, 4)
    run(1)
    run(2)
    val marker = java.nio.file.Paths.get(stateDir + "__meta", "nbuckets")
    assert(java.nio.file.Files.readString(marker).trim === "4")
    assert(new ParquetStateSink(stateDir, keys).buckets === 4)
    val state = spark.read.parquet(stateDir)
    assert(state.select("__kb").distinct().count() > 1L)
    assert(state.filter(col("__kb") =!=
      pmod(xxhash64(keys.map(col): _*), lit(4)).cast("int")).count() === 0L,
      "every row sits in its 4-way bucket")
    val expected = graft.state.StateMerge.fromHistory(
      Fixtures.deltas(spark, 40).toDF().unionByName(Fixtures.deltas(spark, 80).toDF()), keys)
    assert(state.drop("__kb").select(expected.columns.map(col).toIndexedSeq: _*)
      .exceptAll(expected).count() === 0)
    assert(state.count() === expected.count())
  }

  test("a __kb layout without a bucket marker fails loudly") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_state_nomarker").toString
    val stateDir = s"$tmp/state"
    val keys = Seq("code", "table", "scope", "primary_key")
    Fixtures.deltas(spark, 10).toDF()
      .withColumn("__kb", pmod(xxhash64(keys.map(col): _*), lit(4)).cast("int"))
      .write.partitionBy("__kb").parquet(stateDir)
    val rawDir = s"$tmp/deltas"
    Fixtures.deltas(spark, 10).write.parquet(rawDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(rawDir).schema).parquet(rawDir)
    val e = intercept[IllegalArgumentException] {
      Ingest.startStateMerge(stream, stateDir, s"$tmp/ckpt", keys)
    }
    assert(e.getMessage.contains("no bucket marker"), e.getMessage)
    val direct = intercept[IllegalArgumentException] {
      new ParquetStateSink(stateDir, keys).mergeBatch(Fixtures.deltas(spark, 10).toDF())
    }
    assert(direct.getMessage.contains("no bucket marker"), direct.getMessage)
  }

  test("a torn (empty) bucket marker fails the start with a message naming the marker") {
    // a crash between create and close of an in-place marker write left
    // exactly this file; it must not surface as a NumberFormatException
    val tmp = java.nio.file.Files.createTempDirectory("graft_state_torn").toString
    val stateDir = s"$tmp/state"
    val marker = java.nio.file.Paths.get(stateDir + "__meta", "nbuckets")
    java.nio.file.Files.createDirectories(marker.getParent)
    java.nio.file.Files.createFile(marker)
    val rawDir = s"$tmp/deltas"
    Fixtures.deltas(spark, 10).write.parquet(rawDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(rawDir).schema).parquet(rawDir)
    val e = intercept[IllegalArgumentException] {
      Ingest.startStateMerge(stream, stateDir, s"$tmp/ckpt",
        keys = Seq("code", "table", "scope", "primary_key"))
    }
    assert(e.getMessage.contains("__meta/nbuckets") && e.getMessage.contains("unreadable"),
      e.getMessage)
  }

  test("a broken prior state fails the batch instead of silently dropping rows") {
    // legacy layout with no __kb column: the filter must fail the batch
    // (the old catch-all would have treated it as 'no prior state' and the
    // dynamic overwrite would then have destroyed the touched buckets)
    val tmp = java.nio.file.Files.createTempDirectory("graft_state_legacy").toString
    val stateDir = s"$tmp/state"
    Fixtures.deltas(spark, 10).toDF().write.parquet(stateDir)  // unbucketed
    val rawDir = s"$tmp/deltas"; val ckpt = s"$tmp/ckpt"
    Fixtures.deltas(spark, 40).write.parquet(rawDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(rawDir).schema).parquet(rawDir)
    val q = Ingest.startStateMerge(stream, stateDir, ckpt,
      keys = Seq("code", "table", "scope", "primary_key"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination(60000)
    }
    assert(e.getMessage.toLowerCase.contains("__kb") ||
      Option(e.getCause).exists(_.getMessage.contains("__kb")))
  }

  test("multi-segment ingest: compaction, below-LIB fork rewrite and expiry keep exactly the live actions") {
    import graft.sources.Layout
    import graft.state.Forks
    val tmp = java.nio.file.Files.createTempDirectory("graft_segments").toString
    val outDir = s"$tmp/history"
    val partitionSize = 10L
    val perSeg = 12L
    // one transfer per block (3 receipt rows merge to one action), 100..135
    val all = Fixtures.rawTraces(spark, 36, 0, 0).toDF()
    def blockId(n: Long) = f"00${n}%014x"
    val events = scala.collection.mutable.ArrayBuffer[(Long, String, Long, Boolean)]()
    var applied = Set.empty[Long] // forked blocks physically rewritten away
    var standing = Set.empty[Long] // retracted and never re-adopted
    def unapplied = Forks.effectiveTombstones(
        events.toSeq.toDF("block_num", "block_id", "seq", "retracted")
          .select($"block_id", $"seq", $"retracted"))
      .join(events.toSeq.map(e => (e._1, e._2)).toDF("block_num", "block_id").distinct(),
        Seq("block_id"))
      .join(applied.toSeq.toDF("block_num"), Seq("block_num"), "left_anti")
    var expireWatermark = 0L
    for (seg <- 0 until 3) {
      val first = 100L + seg * perSeg
      val src = s"$tmp/src$seg"
      all.filter($"block_num" >= first && $"block_num" < first + perSeg)
        .repartition(3, $"block_num").write.parquet(src)
      val q = Ingest.startActionIngest(
        spark.readStream.schema(all.schema).option("maxFilesPerTrigger", "1").parquet(src),
        outDir, s"$tmp/ckpt$seg", partitionSize = partitionSize)
      assert(q.awaitTermination(120000), s"segment $seg did not finish")
      // forks near the tip: four retracted, the even two re-adopted
      val tip = first + perSeg - 1
      val lib = tip - 8
      val forked = (tip - 5) to (tip - 2)
      forked.foreach(b => events += ((b, blockId(b), events.size + 1L, true)))
      forked.filter(_ % 2 == 0).foreach(b => events += ((b, blockId(b), events.size + 1L, false)))
      standing ++= forked.filter(_ % 2 != 0)
      if (seg >= 1) {
        assert(Layout.compact(outDir, targetFileBytes = 64L << 20,
          partitionCol = "block_bucket") > 0, s"segment $seg left nothing to compact")
        val toApply = unapplied.filter($"block_num" <= lib)
          .select($"block_num", $"block_id").as[(Long, String)].collect()
        assert(toApply.nonEmpty)
        Layout.rewriteFiltered(outDir, toApply.map(_._1 / partitionSize).toSeq,
          !col("block_id").isin(toApply.map(_._2).toSeq: _*))
        applied ++= toApply.map(_._1)
        // every below-LIB tombstone was just applied, so pruning below LIB
        // cannot hide an unapplied one
        assert(Forks.pruneBelowLib(unapplied, lib).count() === unapplied.count())
      }
      if (seg == 2) {
        expireWatermark = 110L
        assert(Layout.expire(outDir, expireWatermark, partitionSize,
          partitionCol = "block_bucket") === 1)
      }
    }
    val history = spark.read.parquet(outDir)
    val firstKept = expireWatermark / partitionSize * partitionSize
    val lastBlock = 100L + 3 * perSeg - 1
    val expected = lastBlock - firstKept + 1 - applied.count(_ >= firstKept)
    assert(history.count() === expected)
    assert(history.select($"global_sequence").distinct().count() === expected)
    assert(history.agg(min($"block_num")).as[Long].head() === firstKept)
    // applied forks are gone, unapplied ones tombstone-hidden, re-adopted visible
    val live = Forks.liveView(history, unapplied.select($"block_id"))
    assert(live.count() === lastBlock - firstKept + 1 - standing.count(_ >= firstKept))
  }

  test("live tail: ProcessingTime trigger follows arriving files; fork seam retracts (ST5/ST7 seam)") {
    import org.apache.spark.sql.streaming.Trigger
    val tmp = java.nio.file.Files.createTempDirectory("graft_live").toString
    val raw = s"$tmp/raw"; val out = s"$tmp/hist"; val ckpt = s"$tmp/ckpt"
    val all = Fixtures.rawTraces(spark, 40, 0, 0).toDF() // blocks 100..139
    all.filter(col("block_num") < 120).write.parquet(raw)
    val q = Ingest.startActionIngest(
      spark.readStream.schema(all.schema).parquet(raw), out, ckpt,
      partitionSize = 100L, trigger = Trigger.ProcessingTime("250 milliseconds"))
    try {
      // backfill chunk lands while the query keeps running
      q.processAllAvailable()
      assert(spark.read.parquet(out).count() === 20)
      // the live tail arrives AFTER the stream started — no restart
      all.filter(col("block_num") >= 120).write.mode("append").parquet(raw)
      q.processAllAvailable()
      assert(spark.read.parquet(out).count() === 40)
      val hist = spark.read.parquet(out)
      assert(hist.select($"global_sequence").distinct().count() === 40)
      // fork seam: the head block is retracted; the live view drops its rows
      val tombs = Seq(f"00${139L}%014x").toDF("block_id")
      val live = graft.state.Forks.liveView(hist, tombs)
      assert(live.count() === 39)
      assert(live.filter($"block_num" === 139L).count() === 0)
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }
}

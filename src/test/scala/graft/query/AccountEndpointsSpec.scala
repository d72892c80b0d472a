package graft.query

import graft.SparkSpec
import graft.etl.{ActionDedup, Extensions, Fixtures}
import graft.functions.AbiCodec
import org.apache.spark.sql.functions._

class AccountEndpointsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val actions =
    Extensions.liftTransfer(
      ActionDedup.mergeReceipts(Fixtures.rawTraces(spark, 40, 20, 2))).cache()

  test("get_account fan-out: one row with actions, tokens, links (J4)") {
    val row = AccountEndpoints.getAccount(
      actions, Fixtures.accountBalances(spark), Fixtures.tokenPrecisions(spark),
      Fixtures.links(spark).toDF(), "alice").head()
    assert(row.getAs[String]("account") === "alice")
    assert(row.getSeq[Any](row.fieldIndex("recent_actions")).size === 10)
    assert(row.getSeq[Any](row.fieldIndex("tokens")).nonEmpty)
    assert(row.getSeq[Any](row.fieldIndex("links")).nonEmpty)
  }

  test("get_transaction: all actions of the trx + irreversibility flag (J2)") {
    val t = AccountEndpoints.getTransaction(actions, "TRX00000003".toLowerCase,
      lib = 102L)
    assert(t.count() === 1)
    val r = t.head()
    assert(r.getAs[Long]("block_num") === 103L && !r.getAs[Boolean]("irreversible"))
    val t2 = AccountEndpoints.getTransaction(actions, "trx00000003", lib = 200L,
      blockHint = Some(103L), partitionSize = 100L)
    assert(t2.count() === 1 && t2.head().getAs[Boolean]("irreversible"))
    // hint that prunes away the trx's bucket → empty (prunes correctly)
    val t3 = AccountEndpoints.getTransaction(actions, "trx00000003", 200L,
      blockHint = Some(350L), partitionSize = 100L)
    assert(t3.count() === 0)
  }

  test("get_transaction: a multi-action trx split over files comes back in global_sequence order") {
    // one trx of 6 inline actions, written as two parquet files that each
    // hold their rows in descending global_sequence, the later half first:
    // an answer read back in scan order would not be ascending
    val dir = java.nio.file.Files.createTempDirectory("graft_trx_order").toString
    try {
      val trx = ActionDedup.mergeReceipts(Fixtures.rawTraces(spark, 0, 4, 5)).toDF()
        .filter($"trx_id" === "ctrx00000002")
      val gs = trx.select($"global_sequence").as[Long].collect().toSeq.sorted
      assert(gs.length === 6)
      Seq(gs.drop(3), gs.take(3)).foreach { part =>
        trx.filter($"global_sequence".isin(part: _*)).orderBy($"global_sequence".desc)
          .coalesce(1).write.mode("append").parquet(dir)
      }
      val stored = spark.read.parquet(dir)
      assert(stored.inputFiles.length >= 2)
      val scanOrder = stored.select($"global_sequence").as[Long].collect().toSeq
      assert(scanOrder !== gs)
      val v2 = AccountEndpoints.getTransaction(stored, "ctrx00000002", lib = 0L)
      assert(v2.select($"global_sequence").as[Long].collect().toSeq === gs)
      val v1 = AccountEndpoints.getTransactionV1(stored, "ctrx00000002", lib = 0L)
      assert(v1.select($"receipt.global_sequence").as[Long].collect().toSeq === gs)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("get_blocks: producer + range filters, desc order (F2/F5)") {
    val blocks = Fixtures.blocks(spark, 200).toDF()
      .withColumnRenamed("timestamp", "timestamp") // schema has timestamp col
    val got = AccountEndpoints.getBlocks(blocks, producer = Some("prodalpha"),
      after = Some("100"), before = Some("160"), limit = Some(100))
    assert(got.count() > 0)
    assert(got.filter($"producer" =!= "prodalpha").count() === 0)
    val nums = got.select($"block_num").as[Long].collect().toSeq
    assert(nums === nums.sortBy(-_), "desc by default")
    assert(nums.forall(n => n >= 100 && n <= 160))
  }

  test("mergeDeltaMeta folds extension into data (P2 deltas)") {
    val deltas = Fixtures.deltas(spark, 20).toDF()
      .withColumn("voters_ext",
        when($"primary_key" === "row1", struct(lit("alice").as("owner"), lit(100.0).as("weight"))))
    val merged = Extensions.mergeDeltaMeta(deltas, "voters_ext")
    val lifted = merged.filter($"primary_key" === "row1").select($"data").as[String].head()
    assert(lifted.contains("\"owner\":\"alice\""))
    val untouched = merged.filter($"primary_key" === "row2").select($"data").as[String].head()
    assert(untouched.contains("\"k\""))
  }
}

class AbiCodecSpec extends SparkSpec {
  import spark.implicits._

  test("decode ladder: success decodes, failure preserves payload + ds_error (C8)") {
    val df = Seq(
      ("hex:{\"from\":\"alice\"}", "{abi}"),
      ("deadbeef", "{abi}")).toDF("payload", "abi")
    val out = AbiCodec.decode(df, "payload", "abi").cache()
    val ok = out.filter(!$"ds_error").select($"data").as[String].head()
    assert(ok === "{\"from\":\"alice\"}")
    val bad = out.filter($"ds_error").select($"data").as[String].head()
    assert(bad === "deadbeef", "failed decode preserves the original payload")
  }

  test("auto-blacklist: only total-failure pairs with enough attempts (F15 feed)") {
    val df = Seq(
      ("c1", "a1", "deadbeef"), ("c1", "a1", "deadbeef"), ("c1", "a1", "deadbeef"),
      ("c2", "a2", "hex:{}"), ("c2", "a2", "deadbeef"), ("c2", "a2", "deadbeef"),
      ("c3", "a3", "deadbeef")).toDF("code", "name", "payload")
      .withColumn("abi", lit("{}"))
    val decoded = AbiCodec.decode(df, "payload", "abi")
    val rules = AbiCodec.autoBlacklist(decoded, "code", "name").as[String].collect().toSet
    assert(rules === Set("c1::a1")) // c2 has a success; c3 only 1 attempt
  }

  test("blacklisted pairs skip the codec entirely, not just mark ds_error") {
    val df = Seq(
      ("bad.app", "badact", "deadbeef"), ("bad.app", "badact", "deadbeef"),
      ("good.app", "doit", "cafe"), ("good.app", "doit", "f00d"))
      .toDF("code", "name", "payload").withColumn("abi", lit("{}"))
    val bl = Seq("bad.app::badact").toDF("rule")
    // the counter lives in a JVM singleton (CodecCallCounter), not the
    // closure: task closures are serialized even in local mode, so a
    // captured AtomicLong would be incremented on per-task copies
    CodecCallCounter.calls.set(0)
    val counting = (hex: String, _: String, _: String) => {
      CodecCallCounter.calls.incrementAndGet(); Option(hex).map(_.toUpperCase)
    }
    val out = AbiCodec.decodeHexBlacklisted(
      df, "payload", "abi", "code", "name", bl, counting).cache()
    assert(out.filter($"ds_blacklisted").count() === 2)
    assert(out.filter($"ds_blacklisted" && !$"ds_error").count() === 0,
      "blacklisted rows must carry ds_error + payload passthrough")
    assert(out.filter($"ds_blacklisted" && $"data" =!= $"payload").count() === 0)
    assert(out.filter(!$"ds_blacklisted").count() === 2)
    out.count() // force full materialization once more
    val calls = CodecCallCounter.calls.get()
    assert(calls === 2,
      s"codec must run only for the 2 non-blacklisted rows, saw $calls")
  }
}

/** In-process invocation counter for the codec-skip test — a singleton so
  * executor-side increments (local mode, same JVM) hit the instance the
  * assertion reads.
  */
object CodecCallCounter {
  val calls = new java.util.concurrent.atomic.AtomicLong(0)
}

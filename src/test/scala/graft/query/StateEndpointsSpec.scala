package graft.query

import graft.SparkSpec
import graft.etl.{ActionDedup, Fixtures}
import org.apache.spark.sql.functions._

class StateEndpointsSpec extends SparkSpec {
  import spark.implicits._

  test("get_creator: newaccount primary source + dimension fallback (J3)") {
    val na = Fixtures.newAccountActions(spark)
    val got = StateEndpoints.getCreator(na, None, "bob")
      .select($"creator").as[String].head()
    assert(got === "alice")
    // fallback: an account absent from history but present in the dim
    val dim = Seq(("zeta", "eosio")).toDF("account", "creator")
    val fb = StateEndpoints.getCreator(na, Some(dim), "zeta")
      .select($"creator").as[String].head()
    assert(fb === "eosio")
  }

  test("get_key_accounts: union of permission hits and action auths (U2)") {
    val perms = Fixtures.permissions(spark)
    val auths = Seq(("dave", "PUB_K1_key0")).toDF("account", "pubkey")
    val got = StateEndpoints.getKeyAccounts(perms, auths, "PUB_K1_key0")
      .as[String].collect().toSeq
    // key0: alice owner + alice/carol active (i%2==0 → alice,carol) + dave from history
    assert(got === Seq("alice", "carol", "dave"))
  }

  test("get_filters: chain prefix keep, :: split, raw-config isWhitelisted") {
    import StateEndpoints.FilterConfig
    val got = StateEndpoints.getFilters(spark, "wax",
      whitelists = FilterConfig(
        actions = Seq("wax::eosio.token::transfer", "telos::eosio::newaccount"),
        deltas = Seq("wax::eosio.token::accounts")),
      blacklists = FilterConfig(
        actions = Seq("wax::spam.contract::*"), deltas = Nil))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getAs[String]("action"), r.getAs[String]("table"),
        r.getBoolean(5))).toSeq
    assert(got === Seq(
      ("exclude", "action", "spam.contract", "*", null, true),
      ("include", "action", "eosio.token", "transfer", null, true),
      ("include", "delta", "eosio.token", null, "accounts", true)))
    // empty whitelists → isWhitelisted false, excludes still listed
    val none = StateEndpoints.getFilters(spark, "wax",
      whitelists = FilterConfig(),
      blacklists = FilterConfig(actions = Seq("wax::a::b")))
      .collect().map(r => (r.getString(2), r.getBoolean(5))).toSeq
    assert(none === Seq(("a", false)))
  }

  test("get_tokens: precision enrichment via broadcast dim (J5)") {
    val t = StateEndpoints.getTokens(
      Fixtures.accountBalances(spark), Fixtures.tokenPrecisions(spark), "alice")
    val rows = t.collect()
    assert(rows.nonEmpty)
    val hyp = rows.find(_.getAs[String]("symbol") === "HYP")
    hyp.foreach(r => assert(r.getAs[Int]("precision") === 8))
    assert(rows.forall(_.getAs[Double]("amount") > 0))
  }

  test("get_top_holders: ordered top-k (O5)") {
    val top = StateEndpoints.getTopHolders(Fixtures.accountBalances(spark), "TST", 2)
      .collect()
    assert(top.length === 2)
    assert(top(0).getAs[Double]("amount") >= top(1).getAs[Double]("amount"))
  }

  test("get_missed_blocks: planted holes are found and attributed (A12)") {
    val missed = StateEndpoints.getMissedBlocks(Fixtures.blocks(spark, 200).toDF())
    val total = missed.agg(sum($"missed_blocks")).as[Long].head()
    // 200 slots, every 50th missing → holes at 49/99/149/199; the trailing
    // hole (199, nothing after it) is undetectable from interior gaps
    assert(total === 3)
  }

  test("get_missed_blocks: bucketed lag equals the single-bucket result") {
    // blockBucket smaller than the block range forces the per-bucket lag
    // + boundary-handoff path (blocks 100-299 → several 64-wide buckets,
    // with bucket seams landing between consecutive present blocks); the
    // default bucket covers the whole range and reduces to a global lag.
    val blocks = Fixtures.blocks(spark, 200).toDF()
    val fine = StateEndpoints.getMissedBlocks(blocks, blockBucket = 64L)
    val coarse = StateEndpoints.getMissedBlocks(blocks)
    assert(fine.exceptAll(coarse).count() === 0 && coarse.exceptAll(fine).count() === 0)
  }

  test("get_missed_blocks: the seam lag skips a whole empty bucket") {
    // blocks 180..260 dropped: with blockBucket = 16 the buckets of
    // 192..255 hold no block, so the seam gap 179 → 261 must be taken
    // from the last non-empty bucket before it (176..191)
    val blocks = Fixtures.blocks(spark, 200).toDF()
      .filter(!$"block_num".between(180L, 260L))
    val fine = StateEndpoints.getMissedBlocks(blocks, blockBucket = 16L)
    val coarse = StateEndpoints.getMissedBlocks(blocks)
    assert(fine.collect().toSeq === coarse.collect().toSeq)
    // the drop swallows the planted holes at 199 and 249; what is left is
    // the hole at 149 (1 slot) and the dropped run 180..260 (81 slots)
    assert(coarse.agg(sum($"missed_blocks")).as[Long].head() === 1 + 81)
  }

  test("get_trx_count: totals, producer buckets, histogram (A1-A4/A8/A9)") {
    val blocks = Fixtures.blocks(spark, 200).toDF()
    val totals = StateEndpoints.getTrxCount(blocks).head()
    assert(totals.getAs[Long]("blocks_counted") === 196)
    assert(totals.getAs[Long]("first_block") === 100L)
    val byProd = StateEndpoints.getTrxCountByProducer(blocks).collect()
    assert(byProd.map(_.getAs[String]("producer")).toSet.size === 4)
    val hist = StateEndpoints.getTrxCountHistogram(blocks, "hour")
    assert(hist.count() >= 1)
    assert(hist.agg(sum($"total_trx")).as[Long].head() ===
      totals.getAs[Long]("total_trx"))
  }

  test("validate_actions: reconciliation detects consistency (J6)") {
    val actions = ActionDedup.mergeReceipts(Fixtures.rawTraces(spark, 10, 0, 0))
    // blocks reporting exactly those 10 transactions
    val blocks = (0 until 10).map(i => (100L + i, 1L)).toDF("block_num", "trx_count")
    val ok = StateEndpoints.validateActions(blocks, actions).head()
    assert(ok.getAs[Boolean]("consistent"))
    val blocksBad = (0 until 10).map(i => (100L + i, 2L)).toDF("block_num", "trx_count")
    assert(!StateEndpoints.validateActions(blocksBad, actions).head().getAs[Boolean]("consistent"))
  }

  test("get_schedule: activated vs proposed via exists filter (F12)") {
    val s = Fixtures.schedules(spark)
    assert(StateEndpoints.getSchedule(s, activatedOnly = true)
      .select($"version").as[Long].collect().toSeq === Seq(1L))
    assert(StateEndpoints.getSchedule(s, activatedOnly = false)
      .select($"version").as[Long].collect().toSeq === Seq(2L))
  }

  test("get_voter_scopes: wildcard containment (F11)") {
    val voters = Seq("alice.vt", "bob.vt", "alicorn").toDF("voter")
    val got = StateEndpoints.getVoterScopes(voters, "*lic*").as[String].collect().toSeq
    assert(got === Seq("alice.vt", "alicorn"))
  }

  test("get_created_accounts: creator's accounts from newaccount stream") {
    val na = Fixtures.newAccountActions(spark)
    val got = StateEndpoints.getCreatedAccounts(na, "alice")
      .select($"account").as[String].collect().toSeq
    assert(got === Seq("bob")) // alice created exactly bob in the fixture chain
    assert(StateEndpoints.getCreatedAccounts(na, "eosio")
      .select($"account").as[String].collect().toSeq === Seq("alice"))
  }

  test("get_abi_snapshot: as-of argmax picks the version valid at block") {
    val abis = Fixtures.abis(spark).toDF()
    val at200 = StateEndpoints.getAbiSnapshot(abis, "eosio.token", 200L).head()
    assert(at200.getAs[Long]("valid_from") === 150L)
    assert(at200.getAs[String]("abi").contains("\"rev\":2"))
    val at100 = StateEndpoints.getAbiSnapshot(abis, "eosio.token", 100L).head()
    assert(at100.getAs[Long]("valid_from") === 50L)
    // before any version: empty result, not a null row
    assert(StateEndpoints.getAbiSnapshot(abis, "eosio.token", 10L).count() === 0)
  }

  test("get_voters: producer array-any filter, proxy flag, weight order") {
    val v = Fixtures.voters(spark)
    // prodbeta appears in slates of voters with index % 4 >= 1
    val forBeta = StateEndpoints.getVoters(v, producer = Some("prodbeta"))
      .select($"voter").as[String].collect().toSeq
    assert(forBeta === Seq("dave", "carol", "bob")) // weight-desc order
    val proxies = StateEndpoints.getVoters(v, proxies = Some(true))
      .select($"voter").as[String].collect().toSeq
    assert(proxies === Seq("dave", "alice")) // indices 0 and 3
  }

  test("get_proposals: approval-membership filter spans requested ∪ provided") {
    val p = Fixtures.proposals(spark)
    val carol = StateEndpoints.getProposals(p, account = Some("carol"))
      .select($"proposal_name").as[String].collect().toSeq
    assert(carol === Seq("upgrade2", "upgrade")) // block-desc
    val executed = StateEndpoints.getProposals(p, executed = Some(true))
      .select($"proposal_name").as[String].collect().toSeq
    assert(executed === Seq("payout"))
    val byProposer = StateEndpoints.getProposals(p, proposer = Some("alice"))
    assert(byProposer.count() === 2)
  }

  test("get_table_rows: scope + JSON meta-filter over compacted state") {
    val state = graft.state.StateMerge.fromHistory(
      Fixtures.deltas(spark).toDF(),
      Seq("code", "scope", "table", "primary_key"), "block_num")
    val rows = StateEndpoints.getTableRows(state, scope = Some("alice"),
      filters = Seq(MetaFilter("data.v", "gte", "50")))
    assert(rows.count() > 0)
    // every returned row respects both the scope and the JSON filter
    rows.collect().foreach { r =>
      assert(r.getAs[String]("scope") === "alice")
      val v = r.getAs[String]("data").split("\"v\":")(1).dropRight(1).toInt
      assert(v >= 50)
    }
  }

  test("get_controlled_accounts: newaccount ∪ updateauth disjunction") {
    val na = Fixtures.newAccountActions(spark)
    val delegations = Seq(("bob", "zeta"), ("alice", "omega")).toDF("actor", "account")
    val got = StateEndpoints.getControlledAccounts(na, Some(delegations), "bob")
      .as[String].collect().toSeq
    assert(got === Seq("carol", "zeta")) // bob created carol; zeta delegated
    // no delegation source → newaccount-only path
    assert(StateEndpoints.getControlledAccounts(na, None, "bob")
      .as[String].collect().toSeq === Seq("carol"))
  }

  test("v1 get_actions: pos/offset arithmetic + v1 shape (O7/P7)") {
    val actions = ActionDedup.mergeReceipts(Fixtures.rawTraces(spark, 30, 0, 0))
    // last action (pos=-1): offset -4 → 5 most recent, desc
    val last = StateEndpoints.getActionsV1(actions.toDF(), "alice", -1L, -4L).collect()
    assert(last.length <= 5 && last.nonEmpty)
    assert(last.head.schema.fieldNames.contains("action_trace"))
    // forward window from pos 0
    val fwd = StateEndpoints.getActionsV1(actions.toDF(), "alice", 0L, 4L)
    assert(fwd.count() === 5)
    val seqs = fwd.select($"account_action_seq").as[Long].collect().toSeq
    assert(seqs === Seq(0L, 1L, 2L, 3L, 4L))
  }
}

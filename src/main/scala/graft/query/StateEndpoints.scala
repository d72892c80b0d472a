package graft.query

import graft.etl.Assets
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** State/stats endpoint family (SURVEY §2.4 J3-J6, §2.5 A12, §2.7 O5,
  * §2.8 U2, §2.2 F11/F12) — params → DataFrame compilers over the state
  * tables maintained by graft.state.StateMerge.
  */
object StateEndpoints {

  /** GET /v2/history/get_creator (J3): the creator fallback chain —
    * primary source is the newaccount action; a dimension of known
    * account-info rows fills gaps (left join + coalesce), mirroring the
    * reference's sequential fallbacks collapsed into one declarative plan.
    */
  def getCreator(
      newAccountActions: DataFrame,
      accountInfoDim: Option[DataFrame],
      account: String): DataFrame = {
    val primary = newAccountActions
      .filter(col("action") === "newaccount" && col("newact") === account)
      .select(col("newact").as("account"), col("creator"),
        col("block_num"), col("trx_id"))
    accountInfoDim match {
      case None => primary
      case Some(dim) =>
        val fb = broadcast(dim.select(col("account").as("__a"),
          col("creator").as("__c")))
        primary.join(fb, primary("account") === col("__a"), "full_outer")
          .select(
            coalesce(col("account"), col("__a")).as("account"),
            coalesce(col("creator"), col("__c")).as("creator"),
            col("block_num"), col("trx_id"))
          .filter(col("account") === account)
    }
  }

  /** One indexer filter config list: chain-prefixed
    * `chain::code::name` action rules and `chain::code::table` delta
    * rules (config.blacklists / config.whitelists in the reference).
    */
  final case class FilterConfig(actions: Seq[String] = Nil,
      deltas: Seq[String] = Nil)

  /** GET /v2/get_filters: readout of the indexer's active action/delta
    * white/blacklists (src/api/routes/v2/get_filters/get_filters.ts:
    * 1-78). Keeps the requested chain's entries (prefix match, as the
    * reference's `startsWith(chain)`) and splits each `::` rule into
    * `{contract, action}` (action rules) or `{contract, table}` (delta
    * rules) rows; `is_whitelisted` mirrors the reference's flag — true
    * iff ANY whitelist is non-empty in the RAW config, before the
    * chain filter. Config-sized and driver-built by nature: this is a
    * config readout, not a data query.
    */
  def getFilters(spark: org.apache.spark.sql.SparkSession, chain: String,
      whitelists: FilterConfig, blacklists: FilterConfig): DataFrame = {
    import spark.implicits._
    val isW = whitelists.actions.nonEmpty || whitelists.deltas.nonEmpty
    def rows(list: String, kind: String, entries: Seq[String]) =
      entries.filter(_.startsWith(chain)).map { e =>
        val p = e.split("::", -1)
        val contract = if (p.length > 1) p(1) else ""
        val name = if (p.length > 2) p(2) else ""
        if (kind == "action") (list, kind, contract, Option(name), None: Option[String], isW)
        else (list, kind, contract, None: Option[String], Option(name), isW)
      }
    val all =
      rows("include", "action", whitelists.actions) ++
      rows("include", "delta", whitelists.deltas) ++
      rows("exclude", "action", blacklists.actions) ++
      rows("exclude", "delta", blacklists.deltas)
    all.toDF("list", "kind", "contract", "action", "table", "is_whitelisted")
      .orderBy(col("list"), col("kind"), col("contract"), col("action"),
        col("table"))
  }

  /** GET /v2/state/get_key_accounts (U2): accounts controlled by a key —
    * permission-table hits ∪ action-history authorizations, deduped.
    * The reference tries these sequentially with early return; the
    * union is semantically identical and one distributed pass.
    */
  def getKeyAccounts(
      permissions: DataFrame,
      actionAuths: DataFrame,
      pubkey: String): DataFrame = {
    val fromPerms = permissions.filter(col("pubkey") === pubkey)
      .select(col("account"))
    val fromActions = actionAuths.filter(col("pubkey") === pubkey)
      .select(col("account"))
    fromPerms.union(fromActions).distinct().orderBy(col("account"))
  }

  /** GET /v2/state/get_tokens (J5): balances with broadcast precision
    * enrichment; asset strings parsed into (amount, symbol).
    */
  def getTokens(balances: DataFrame, precisions: DataFrame, account: String): DataFrame =
    balances
      .filter(col("account") === account)
      .withColumn("amount", Assets.amount(col("balance")))
      .join(broadcast(precisions), Seq("code", "symbol"), "left")
      .select(col("code"), col("symbol"), col("amount"),
        coalesce(col("precision"), lit(4)).as("precision"))
      .orderBy(col("symbol"))

  /** GET /v2/state/get_top_holders (O5): top-k balance holders of a
    * symbol. TakeOrderedAndProject — no global sort materialization.
    */
  def getTopHolders(balances: DataFrame, symbol: String, k: Int): DataFrame =
    balances
      .filter(col("symbol") === symbol)
      .withColumn("amount", Assets.amount(col("balance")))
      .select(col("account"), col("amount"))
      .orderBy(col("amount").desc, col("account"))
      .limit(k)

  /** GET /v2/stats/get_missed_blocks (A12): per-producer missed-slot
    * counts — a block is "missed" when the gap to the previous block's
    * number exceeds 1; the miss is attributed to the producer of the
    * following block's round (simplified single-pass model of the
    * reference's client-side aggregation).
    *
    * Plan: the gaps inside each block-number bucket come from a lag on a
    * distributed window (one partition per bucket); the gaps across bucket
    * seams come from a per-bucket (first block, its producer, last block)
    * summary lagged over the non-empty buckets — one row per bucket, the
    * only single-partition exchange. The per-producer result is a handful
    * of rows, sorted in one partition rather than range-partitioned.
    */
  def getMissedBlocks(blocks: DataFrame, blockBucket: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = blocks
      .select(col("block_num"), col("producer"))
      .withColumn("__b", floor(col("block_num") / blockBucket))
    val wIn = Window.partitionBy(col("__b")).orderBy(col("block_num"))
    val inBucket = b
      .select(col("producer"),
        (col("block_num") - lag(col("block_num"), 1).over(wIn) - 1).as("missed"))
    // constant partition key: one row per bucket — single-partition by
    // design (the foldable key is pruned by EliminateWindowPartitions,
    // so the WindowExec WARN still fires; see PLANS.md)
    val wBuckets = Window.partitionBy(lit(1)).orderBy(col("__b"))
    val seams = b.groupBy(col("__b"))
      .agg(min(struct(col("block_num"), col("producer"))).as("__first"),
        max(col("block_num")).as("__bmax"))
      .select(col("__first.producer").as("producer"),
        (col("__first.block_num") - lag(col("__bmax"), 1).over(wBuckets) - 1).as("missed"))
    inBucket.unionByName(seams)
      .filter(col("missed") > 0)
      .groupBy(col("producer"))
      .agg(sum(col("missed")).as("missed_blocks"), count(lit(1)).as("gaps"))
      .coalesce(1)
      .sortWithinPartitions(col("producer"))
  }

  /** get_key_accounts with either key form (C11,
    * get_key_accounts.ts:37-44): the request key — legacy `EOS…` or
    * canonical `PUB_K1_…` — is normalized ONCE on the driver (checksum
    * validated; invalid → the reference's 400), the stored canonical form
    * is filtered by literal, and both forms are served back.
    */
  def getKeyAccountsByKey(permissions: DataFrame, anyFormKey: String): DataFrame = {
    val k1 = graft.functions.AntelopeKeys.normalize(anyFormKey)
      .getOrElse(throw new IllegalArgumentException("invalid public key"))
    val legacy = graft.functions.AntelopeKeys.toLegacy(k1).get
    permissions.filter(col("pubkey") === k1)
      .agg(sort_array(collect_set(col("account"))).as("account_names"))
      .select(lit(k1).as("public_key"), lit(legacy).as("legacy_public_key"),
        col("account_names"))
  }

  /** GET /v2/stats/get_trx_count (A1-A4/A8/A9): totals + per-producer
    * buckets + hourly histogram in one pass each.
    */
  def getTrxCount(blocks: DataFrame): DataFrame =
    blocks.agg(
      sum(col("trx_count")).as("total_trx"),
      count(col("trx_count")).as("blocks_counted"),
      min(col("block_num")).as("first_block"),
      max(col("block_num")).as("last_block"))

  /** W2: last indexed block — the reference's sorted-head query (size-1
    * sort-desc, src/indexer/helpers/common_functions.ts:66-97): the whole
    * top ROW, not just `max(block_num)`. Compiles to
    * TakeOrderedAndProject — per-partition top-1 then a driver-side merge
    * of one row per partition; no global sort at any scale.
    */
  def lastIndexedBlock(blocks: DataFrame): DataFrame =
    blocks
      .select(col("block_num"), col("producer"), col("timestamp"))
      .orderBy(col("block_num").desc)
      .limit(1)

  /** W3: first indexed block at-or-after `from` — the reference's size-1
    * asc search with a partition-arithmetic fast path
    * (common_functions.ts:99-153). The `block_num >= from` predicate is
    * exactly the partition-pruning fast path when the history table is
    * block-bucket partitioned; the sorted head is again
    * TakeOrderedAndProject.
    */
  def firstIndexedBlock(blocks: DataFrame, from: Long = 0L): DataFrame =
    blocks
      .filter(col("block_num") >= from)
      .select(col("block_num"), col("producer"), col("timestamp"))
      .orderBy(col("block_num").asc)
      .limit(1)

  /** GET /v2/health — the ANALYTICS slice of the reference's health
    * readout (health.ts:11-19, 220-270): first/last indexed block,
    * total indexed, missing count + pct over the indexed span, the
    * stream-head lag, and the LIB offset. The service-plumbing slices
    * (ES shard health, RabbitMQ connect, nodeos RPC timings) are
    * outside the engine per SURVEY §2.1 — this is the part a user of
    * the route actually queries history for.
    *
    * The arithmetic is the reference's own (quirky) math, ported
    * faithfully (health.ts:259-263): `total_indexed = count - 1`,
    * `expectedBlocks = last - first` (no +1), `missing = expected -
    * total`, and `missing_pct` is the `toFixed(2) + "%"` STRING. The
    * head slice follows health.ts:344: `head_offset =
    * head_block_num - last_indexed_block` where `head_block_num` is
    * the stream source's head (nodeos `get_info` in the reference; the
    * ingest checkpoint's high-water mark here — [[
    * graft.streaming.Ingest.checkpointHead]]). `lib_offset` keeps the
    * LIB-relative readout under its honest name.
    *
    * Plan: ONE scan — a single global aggregate computes min/max/count
    * together (the reference's three ES round-trips collapse); the
    * head and LIB are scalars (RPC-shaped inputs, not table scans);
    * the arithmetic is a 1-row projection. At any scale this is the
    * cheapest query in the registry.
    */
  def getHealth(blocks: DataFrame, lib: Long, streamHead: Long): DataFrame =
    blocks
      .agg(
        min(col("block_num")).as("first_indexed_block"),
        max(col("block_num")).as("last_indexed_block"),
        // the reference's totalIndexed = hit count - 1 (health.ts:260)
        (count(lit(1)) - 1L).as("total_indexed_blocks"))
      .select(
        col("first_indexed_block"),
        col("last_indexed_block"),
        col("total_indexed_blocks"),
        // expectedBlocks = last - first, NOT +1 (health.ts:261-262)
        (col("last_indexed_block") - col("first_indexed_block") -
          col("total_indexed_blocks")).as("missing_blocks"),
        // toFixed(2) + "%" — a formatted string, like the route emits
        format_string("%.2f%%",
          (col("last_indexed_block") - col("first_indexed_block") -
            col("total_indexed_blocks")) * lit(100.0) /
            (col("last_indexed_block") - col("first_indexed_block")))
          .as("missing_pct"),
        lit(streamHead).as("head_block_num"),
        // health.ts:344 — the stream-head lag of the indexer
        (lit(streamHead) - col("last_indexed_block")).as("head_offset"),
        lit(lib).as("last_irreversible_block"),
        (lit(lib) - col("last_indexed_block")).as("lib_offset"))

  /** Back-compat shape: a health readout with no stream source attached
    * reports the LIB as the best-known head (head_offset == lib_offset).
    */
  def getHealth(blocks: DataFrame, lib: Long): DataFrame =
    getHealth(blocks, lib, streamHead = lib)

  def getTrxCountByProducer(blocks: DataFrame, topN: Int = 1000): DataFrame =
    blocks.groupBy(col("producer"))
      .agg(sum(col("trx_count")).as("total_trx"), count(lit(1)).as("blocks"))
      .orderBy(col("total_trx").desc, col("producer"))
      .limit(topN)

  def getTrxCountHistogram(blocks: DataFrame, unit: String = "hour"): DataFrame =
    blocks.groupBy(date_trunc(unit, col("timestamp")).as("bucket"))
      .agg(sum(col("trx_count")).as("total_trx"), count(lit(1)).as("blocks"))
      .orderBy(col("bucket"))

  /** validate_actions (J6): reconciliation — blocks' summed trx_count vs
    * the action table's distinct executed transactions (excluding
    * eosio::onblock), reported as a comparison row.
    */
  def validateActions(blocks: DataFrame, actions: DataFrame): DataFrame = {
    val fromBlocks = blocks.agg(sum(col("trx_count")).as("n")).select(col("n"))
    val fromActions = actions
      .filter(!(col("act.account") === "eosio" && col("act.name") === "onblock"))
      .select(countDistinct(col("trx_id")).as("n"))
    fromBlocks.withColumnRenamed("n", "block_trx_sum")
      .crossJoin(fromActions.withColumnRenamed("n", "action_trx_count"))
      .withColumn("consistent", col("block_trx_sum") === col("action_trx_count"))
  }

  /** GET /v2/history/get_schedule (F12): activated vs proposed — an
    * exists/null-check filter.
    */
  def getSchedule(schedules: DataFrame, activatedOnly: Boolean): DataFrame =
    (if (activatedOnly) schedules.filter(FilterCompiler.existsField("activated_version"))
     else schedules.filter(col("activated_version").isNull))
      .orderBy(col("version").desc)

  /** GET /v2/state/get_voter_scopes (F11): wildcard autocomplete. */
  def getVoterScopes(voters: DataFrame, term: String): DataFrame =
    voters.filter(FilterCompiler.wildcard("voter", term))
      .select(col("voter")).distinct().orderBy(col("voter"))

  /** GET /v2/history/get_created_accounts (J3 inverse): accounts created
    * by `creator`, from the newaccount action stream
    * (v2-history/get_created_accounts in the reference).
    */
  def getCreatedAccounts(newAccountActions: DataFrame, creator: String): DataFrame =
    newAccountActions
      .filter(col("action") === "newaccount" && col("creator") === creator)
      .select(col("newact").as("account"), col("trx_id"), col("block_num"))
      .orderBy(col("block_num"), col("account"))

  /** GET /v2/history/get_abi_snapshot (J1 endpoint shape): the ABI valid
    * at `block` for `contract` — argmax over versions with
    * `block <= target` (map-side-combining max_by; the abi dimension is
    * metadata-sized at any scale, so this never shuffles meaningfully).
    */
  def getAbiSnapshot(abis: DataFrame, contract: String, block: Long): DataFrame =
    abis
      .filter(col("account") === contract && col("block") <= block)
      .agg(max_by(struct(col("block"), col("abi")), col("block")).as("top"))
      .select(lit(contract).as("contract"),
        col("top.block").as("valid_from"), col("top.abi").as("abi"))
      .filter(col("valid_from").isNotNull)

  /** GET /v2/state/get_voters: optional producer filter (array-any),
    * optional proxy flag, top-N by vote weight
    * (TakeOrderedAndProject — no global sort materialization).
    */
  def getVoters(
      voters: DataFrame,
      producer: Option[String] = None,
      proxies: Option[Boolean] = None,
      limit: Int = 100): DataFrame = {
    val p1 = producer.map(p => voters.filter(array_contains(col("producers"), p)))
      .getOrElse(voters)
    val p2 = proxies.map(fl => p1.filter(col("is_proxy") === fl)).getOrElse(p1)
    p2.select(col("voter"), col("producers"), col("is_proxy"),
        col("last_vote_weight"), col("block_num"))
      .orderBy(col("last_vote_weight").desc, col("voter"))
      .limit(limit)
  }

  /** GET /v2/state/get_proposals (msig): proposer/proposal filters,
    * account-in-approvals (requested ∪ provided, array-any), executed
    * flag; newest-first with a page cap.
    */
  def getProposals(
      proposals: DataFrame,
      proposer: Option[String] = None,
      proposal: Option[String] = None,
      account: Option[String] = None,
      executed: Option[Boolean] = None,
      limit: Int = 100): DataFrame = {
    var df = proposals
    proposer.foreach(p => df = df.filter(col("proposer") === p))
    proposal.foreach(p => df = df.filter(col("proposal_name") === p))
    account.foreach(a => df = df.filter(
      array_contains(col("requested_approvals"), a) ||
        array_contains(col("provided_approvals"), a)))
    executed.foreach(e => df = df.filter(col("executed") === e))
    df.orderBy(col("block_num").desc, col("proposal_name")).limit(limit)
  }

  /** GET /v2/state/get_table_rows (F16 endpoint): dynamic contract-state
    * query — scope equality (pushed to the scan) + JSON meta-filters over
    * the decoded row (`MetaFilters`, post-scan only where the path enters
    * the opaque blob), keyset-ordered with a page cap.
    */
  def getTableRows(
      state: DataFrame,
      scope: Option[String] = None,
      filters: Seq[MetaFilter] = Nil,
      limit: Int = 100): DataFrame = {
    val scoped = scope.map(sc => state.filter(col("scope") === sc)).getOrElse(state)
    val filtered =
      if (filters.isEmpty) scoped
      else scoped.filter(MetaFilters.compileAll(scoped, filters))
    filtered.orderBy(col("primary_key")).limit(limit)
  }

  /** POST /v1/history/get_controlled_accounts: accounts controlled by a
    * controlling account — newaccount actions it authorized ∪ updateauth
    * delegations naming it as actor (the reference's two-should
    * disjunction, v1-history/get_controlled_accounts), deduped.
    */
  def getControlledAccounts(
      newAccountActions: DataFrame,
      updateauthDelegations: Option[DataFrame],
      controlling: String): DataFrame = {
    val fromNew = newAccountActions
      .filter(col("action") === "newaccount" && col("creator") === controlling)
      .select(col("newact").as("account"))
    val unioned = updateauthDelegations match {
      case Some(d) => fromNew.union(
        d.filter(col("actor") === controlling).select(col("account")))
      case None => fromNew
    }
    unioned.distinct().orderBy(col("account"))
  }

  /** v1 /v1/history/get_actions (O7/P7): eosio pos/offset windowing +
    * v1 response reshaping {global_action_seq, account_action_seq,
    * action_trace{...}}.
    */
  def getActionsV1(actions: DataFrame, account: String, pos: Long, offset: Long): DataFrame = {
    val (skip, limit, asc) = Paging.posOffset(pos, offset)
    val filtered = actions.filter(FilterCompiler.accountExpansion(account))
    val ordered = filtered.orderBy(
      if (asc) col("global_sequence").asc else col("global_sequence").desc)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(if (asc) col("global_sequence").asc else col("global_sequence").desc)
    ordered
      .offset(skip.toInt).limit(limit.toInt)
      .withColumn("account_action_seq", row_number().over(w) - 1 + skip)
      .select(
        col("global_sequence").as("global_action_seq"),
        col("account_action_seq"),
        col("block_num"),
        struct(
          col("receipts").as("receipt"),
          col("act"),
          col("trx_id"),
          col("timestamp").as("block_time")).as("action_trace"))
  }
}

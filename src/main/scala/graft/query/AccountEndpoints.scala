package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Account/transaction/block endpoint family (J2/J4, get_transaction,
  * get_blocks) — the reference's fan-out pages and id lookups.
  */
object AccountEndpoints {

  /** GET /v2/state/get_account (J4): the reference fires get_actions +
    * get_tokens + get_links concurrently and merges into one response.
    * Engine-side: three independent sub-plans (no shuffle joins between
    * them) collected into one single-row response frame via scalar
    * aggregation — Spark runs the three subtrees in parallel stages.
    */
  def getAccount(
      actions: DataFrame,
      balances: DataFrame,
      precisions: DataFrame,
      links: DataFrame,
      account: String,
      recentActions: Int = 10): DataFrame = {
    val acts = Endpoints.getActions(actions, GetActionsParams(
        account = Some(account), limit = Some(recentActions), simple = true))
      .agg(collect_list(struct(col("block"), col("action"), col("transaction_id")))
        .as("recent_actions"))
    val toks = StateEndpoints.getTokens(balances, precisions, account)
      .agg(collect_list(struct(col("symbol"), col("amount"), col("precision")))
        .as("tokens"))
    val lks = Endpoints.getLinks(links, Some(account))
      .agg(collect_list(struct(col("code"), col("action"), col("permission")))
        .as("links"))
    acts.crossJoin(toks).crossJoin(lks)
      .withColumn("account", lit(account))
      .select(col("account"), col("recent_actions"), col("tokens"), col("links"))
  }

  /** GET /v2/history/get_transaction (J2): all actions of a trx_id, each
    * carrying the chain state's last irreversible block as a literal
    * column — the reference's parallel get_info + ES search collapse into
    * one scan with no join. A block hint (the reference's `block_hint`)
    * adds a range predicate on `block_num` covering the hint's
    * `partitionSize` bucket; it prunes parquet row groups by their
    * `block_num` statistics, not partitions (the scan's
    * `PartitionFilters` stay empty).
    *
    * Plan: one transaction's actions are a handful of rows, so they are
    * gathered into one partition and sorted there — a scan stage and a
    * one-task sort, no range-partitioning sample job.
    */
  def getTransaction(
      actions: DataFrame,
      trxId: String,
      lib: Long,
      blockHint: Option[Long] = None,
      partitionSize: Long = 1000000L): DataFrame =
    sortedInOnePartition(
      transactionActions(actions, trxId, lib, blockHint, partitionSize),
      col("global_sequence"))

  /** The unsorted rows of [[getTransaction]]. */
  private def transactionActions(
      actions: DataFrame,
      trxId: String,
      lib: Long,
      blockHint: Option[Long],
      partitionSize: Long = 1000000L): DataFrame = {
    val normalized = lower(lit(trxId))
    val base = blockHint match {
      case Some(b) =>
        // row-group range predicate, mirrors hot/hinted index selection
        val bucket = b / partitionSize
        actions.filter(col("block_num").between(bucket * partitionSize,
          (bucket + 1) * partitionSize - 1))
      case None => actions
    }
    base.filter(lower(col("trx_id")) === normalized)
      .withColumn("last_irreversible_block", lit(lib))
      .withColumn("irreversible", col("block_num") <= col("last_irreversible_block"))
  }

  /** A global sort of a frame known to be small (one transaction's rows). */
  private def sortedInOnePartition(df: DataFrame, key: Column): DataFrame =
    df.repartition(1).sortWithinPartitions(key)

  /** POST /v1/history/get_transaction — the eosio-v1 reshape of
    * [[getTransaction]] (reference `v1-history/get_transaction/
    * get_transaction.ts:123-168`): the trx's merged actions fan back
    * out into one TRACE per receipt, receipts in global-sequence
    * order; each receipt carries the action's lowercased `act_digest`
    * (appended last, the reference's property-insertion order), `act`
    * and block linkage copy through, and the constant v1 scaffold
    * (`context_free`/`console`/`elapsed`/`except`/`inline_traces`/
    * `producer_block_id`) fills the rest. The LIB scalar rides every
    * row — the reference's parallel `get_info`.
    *
    * Plan: inherits [[getTransaction]]'s block-hint row-group range
    * predicate; the explode is narrow (one trx's receipts), and the
    * traces are sorted in one partition like [[getTransaction]]'s rows,
    * so the whole route is one scan stage and a one-task sort.
    */
  def getTransactionV1(
      actions: DataFrame,
      trxId: String,
      lib: Long,
      blockHint: Option[Long] = None,
      partitionSize: Long = 1000000L): DataFrame = {
    val traces = transactionActions(actions, trxId, lib, blockHint, partitionSize)
      .select(col("trx_id"), col("block_num"),
        col("timestamp").as("block_time"), col("act"),
        col("act_digest"), col("last_irreversible_block"),
        explode(col("receipts")).as("r"))
      .select(
        col("trx_id"),
        col("block_num"),
        col("block_time"),
        struct(
          col("r.receiver").as("receiver"),
          col("r.global_sequence").as("global_sequence"),
          col("r.recv_sequence").as("recv_sequence"),
          col("r.auth_sequence").as("auth_sequence"),
          lower(col("act_digest")).as("act_digest")).as("receipt"),
        col("act"),
        array().cast("array<string>").as("account_ram_deltas"),
        lit(false).as("context_free"),
        lit("").as("console"),
        lit(0L).as("elapsed"),
        lit(null).cast("string").as("except"),
        array().cast("array<string>").as("inline_traces"),
        lit("").as("producer_block_id"),
        col("last_irreversible_block"))
    sortedInOnePartition(traces, col("receipt.global_sequence"))
  }

  /** POST /v1/trace/get_block — per-block transaction-trace reshaping
    * (reference: `v1-trace/get_block/get_block.ts:20-126`): the block
    * header joined with the block's actions, grouped into the v1
    * trace response — one row per transaction carrying the header
    * columns, `status` = irreversible/pending vs the LIB scalar, and
    * `actions` = the per-RECEIPT trace array (the v1 shape repeats an
    * action once per receipt, receipts in global-sequence order;
    * authorization actors re-key to `account`, exactly the
    * reference's reshape loop). An absent block yields an empty frame
    * (the reference's 'block not found' throw).
    *
    * Plan: both filters prune on `block_num` before any join; the
    * 1-row header broadcasts onto the per-trx aggregate — no
    * full-table work beyond the two pruned scans.
    */
  def getBlockTrace(
      blocks: DataFrame,
      actions: DataFrame,
      blockNum: Long,
      lib: Long): DataFrame = {
    val header = blocks
      .filter(col("block_num") === blockNum)
      .select(
        col("block_id").as("id"),
        col("block_num").as("number"),
        col("prev_id").as("previous_id"),
        when(lit(lib) > col("block_num"), lit("irreversible"))
          .otherwise(lit("pending")).as("status"),
        col("timestamp"),
        col("producer"))
    val perReceipt = actions
      .filter(col("block_num") === blockNum)
      .select(col("trx_id"), col("act"),
        explode(col("receipts")).as("receipt"))
      .select(col("trx_id"),
        col("receipt.global_sequence").as("gs"),
        struct(
          col("receipt.receiver").as("receiver"),
          col("act.account").as("account"),
          col("act.name").as("action"),
          transform(col("act.authorization"), a =>
            struct(a.getField("actor").as("account"),
              a.getField("permission").as("permission"))).as("authorization"),
          col("act.data").as("data")).as("trace"))
    val trxs = perReceipt
      .groupBy("trx_id")
      .agg(
        min(col("gs")).as("first_gs"),
        transform(sort_array(collect_list(struct(col("gs"), col("trace")))),
          x => x.getField("trace")).as("actions"))
    trxs.crossJoin(broadcast(header))
      .select(col("id"), col("number"), col("previous_id"), col("status"),
        col("timestamp"), col("producer"), col("trx_id"), col("first_gs"),
        col("actions"))
      .orderBy(col("first_gs"))
  }

  /** GET /v2/history/check_transaction — trx-id status probe
    * (reference: `check_transaction.ts:4-27`). There it is a pure
    * Redis read of what the indexer cached at ingest (`master.ts:
    * 471-487`: status 'executed', block, signatures, the ROOT act);
    * the analytics analog derives the same response from the actions
    * table: root action = the act at the transaction's minimum global
    * sequence, `status` = 'executed' when the trx exists and
    * 'unknown' otherwise (the reference's fallback row), plus the
    * LIB-derived `irreversible` flag [[getTransaction]] carries.
    */
  def checkTransaction(
      actions: DataFrame,
      trxId: String,
      lib: Long,
      blockHint: Option[Long] = None): DataFrame = {
    transactionActions(actions, trxId, lib, blockHint)
      .agg(
        count(lit(1)).as("__n"),
        min(col("block_num")).as("__block"),
        min_by(col("act"), col("global_sequence")).as("__act"),
        min_by(col("signatures"), col("global_sequence")).as("__sigs"),
        coalesce(bool_and(col("irreversible")), lit(false)).as("__irr"))
      .select(
        lit(trxId.toLowerCase).as("id"),
        when(col("__n") === 0, lit("unknown"))
          .otherwise(lit("executed")).as("status"),
        col("__block").as("block_num"),
        when(col("__n") === 0, lit(null).cast("string"))
          .otherwise(concat(col("__act.account"), lit("::"),
            col("__act.name"))).as("root_action"),
        coalesce(col("__sigs"), array().cast("array<string>"))
          .as("signatures"),
        col("__irr").as("irreversible"))
  }

  /** GET /v2/history/get_blocks — term/terms/range filters over block
    * headers (F2/F5 on the blocks table).
    */
  def getBlocks(
      blocks: DataFrame,
      producer: Option[String] = None,
      after: Option[String] = None,
      before: Option[String] = None,
      sort: Option[String] = None,
      limit: Option[Int] = None): DataFrame = {
    val asc = Paging.sortDir(sort)
    val preds = Seq(
      producer.map(FilterCompiler.multiVar("producer", _)),
      FilterCompiler.timeFilter(after, before)).flatten
    preds.foldLeft(blocks)((df, c) => df.filter(c))
      .orderBy(if (asc) col("block_num").asc else col("block_num").desc)
      .limit(Paging.skipLimit(None, limit)._2)
  }
}

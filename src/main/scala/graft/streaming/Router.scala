package graft.streaming

import graft.query.{MetaFilter, MetaFilters}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One stream subscription — the reference's socket.io request
  * (`action_stream_request` / `delta_stream_request`,
  * src/interfaces/stream-requests.ts): match by contract/action (or
  * code/table for deltas), `*` wildcards, account-notified match, plus
  * optional row-level meta filters (and/or mode).
  */
final case class Subscription(
    id: String,
    contract: String = "*",     // code for deltas
    action: String = "*",       // table for deltas
    account: String = "*",      // notified / payer
    filters: Seq[MetaFilter] = Nil,
    filterOp: String = "and")

/** Subscription router (ST1/ST2) — the reference fans out each live
  * message through two-level topic maps
  * (src/indexer/workers/ws-router.ts:147-241) and re-checks per-request
  * filters before emit (socketManager.ts:409-495).
  *
  * Spark-first: subscriptions become a broadcast table; one
  * explode-join per micro-batch tags every event with all matching
  * subscription ids. A single narrow pass — no per-client loops; the
  * subscription set is small and broadcast, events never shuffle.
  */
object Router {

  /** Compile one subscription to a predicate over the actions schema. */
  def predicate(events: DataFrame, sub: Subscription): Column = {
    val base = Seq(
      if (sub.contract != "*") Some(col("act.account") === sub.contract) else None,
      if (sub.action != "*") Some(col("act.name") === sub.action) else None,
      if (sub.account != "*") Some(array_contains(col("notified"), sub.account)) else None
    ).flatten.reduceOption(_ && _).getOrElse(lit(true))
    val meta = MetaFilters.compileAll(events, sub.filters, sub.filterOp == "and")
    base && meta
  }

  /** Route a batch: returns (event columns…, sub_id) — one output row per
    * (event, matching subscription). The union-of-filters plan keeps each
    * predicate codegen'd; for thousands of subscriptions group them by
    * (contract, action) first (the reference's topic maps) so each event
    * evaluates only its topic's subscriptions.
    */
  def route(events: DataFrame, subs: Seq[Subscription]): DataFrame = {
    val tagged = subs.map { s =>
      events.filter(predicate(events, s)).withColumn("sub_id", lit(s.id))
    }
    tagged.reduceOption(_ unionByName _)
      .getOrElse(events.withColumn("sub_id", lit(null. asInstanceOf[String])).limit(0))
  }

  /** Topic-map routing for large subscription sets: events join a
    * broadcast subscription table on (contract, action) with wildcard
    * buckets unioned in — mirrors `contractActionRelayMap` + `*` buckets
    * (ws-router.ts:38-48). It routes on contract/action only: neither a
    * subscription's `account` match nor its meta `filters` is applied,
    * so it equals [[route]] only for subscriptions that have neither.
    */
  def routeByTopic(events: DataFrame, subTable: DataFrame): DataFrame = {
    val exact = events.join(
      broadcast(subTable.filter(col("contract") =!= "*")),
      events("act.account") === subTable("contract") &&
        (subTable("action") === "*" || events("act.name") === subTable("action")))
    val wildcard = events.join(
      broadcast(subTable.filter(col("contract") === "*")),
      subTable("action") === "*" || events("act.name") === subTable("action"))
    exact.unionByName(wildcard).select(events.columns.map(events(_)) :+ subTable("sub_id"): _*)
  }
}

/** Historical replay + live handoff (ST3/ST4) — the reference attaches
  * the live subscription first, records `currentBlockNum`, replays
  * history up to it in ack-paced scroll batches, then fills the gap from
  * `lastTransmittedBlock+1` and emits `history_end`
  * (src/api/helpers/functions.ts:79-318, socketManager.ts:530-622).
  *
  * Batch analog: `replay` is a bounded ordered read of the history
  * table; the handoff invariant (no gap, no dupes) comes from replaying
  * `[start, liveStart)` and deduping on `global_sequence` — spec-tested
  * in ReplaySpec.
  */
object Replay {

  /** Bounded history replay: rows in [startBlock, endBlock], block order,
    * chunked by `batchSize` rows into a `batch_seq` column the sink can
    * page/ack on (the reference's scroll batches of 500).
    *
    * The global ordinal is derived without a global window: rows rank
    * inside block-number buckets (distributed window, one partition per
    * bucket), and each bucket's starting offset comes from a tiny
    * cumulative-count table (one row per bucket, broadcast back). An
    * unbounded re-sync therefore never funnels history through a single
    * reducer — the only serial structure is over ~n/blockBucket rows.
    */
  def replay(
      history: DataFrame,
      startBlock: Long,
      endBlock: Long,
      batchSize: Int = 500,
      blockBucket: Long = 10000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val slice = history
      .filter(col("block_num").between(startBlock, endBlock))
      .withColumn("__b", floor(col("block_num") / blockBucket))
    // constant partition key: bucket-summary frame (~blocks/blockBucket
    // rows) — single-partition by design (Spark 4's
    // EliminateWindowPartitions prunes the foldable key, so the
    // WindowExec WARN still fires; attribution: PLANS.md)
    val wBuckets = Window.partitionBy(lit(1)).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = slice.groupBy(col("__b"))
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__off", coalesce(sum(col("__cnt")).over(wBuckets), lit(0L)))
      .select(col("__b"), col("__off"))
    val wInBucket = Window.partitionBy(col("__b"))
      .orderBy(col("block_num"), col("global_sequence"))
    slice.join(broadcast(offsets), "__b")
      .withColumn("__ord", col("__off") + row_number().over(wInBucket))
      .withColumn("batch_seq", floor((col("__ord") - 1) / batchSize))
      .drop("__b", "__off", "__ord")
  }

  /** Handoff merge: history replay up to `liveStartBlock` (exclusive) ∪
    * live rows ≥ liveStartBlock, deduped on the natural key — the
    * exactly-once-ish seam of ST4.
    */
  def handoff(
      historySlice: DataFrame,
      liveSlice: DataFrame,
      liveStartBlock: Long,
      key: String = "global_sequence"): DataFrame =
    historySlice.filter(col("block_num") < liveStartBlock)
      .unionByName(liveSlice.filter(col("block_num") >= liveStartBlock))
      .dropDuplicates(key)
}

package graft

/** Physical-plan contracts for the headline queries — the PLANS.md claims,
  * enforced. These properties (shuffle counts, broadcast choices, filter
  * pushdown, partial aggregation / group-limit rewrites) are what make the
  * plans hold at 100 TB; a regression here is a performance bug even while
  * results stay correct, so it must fail `sbt test`, not wait for a bench.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString

  private def hashExchanges(p: String): Int =
    "Exchange hashpartitioning".r.findAllIn(p).length

  test("q1_agg: partial aggregation before a single hash shuffle, pruned scan") {
    val p = plan("q1_agg")
    assert(hashExchanges(p) === 1)
    assert(p.contains("partial_sum") || p.contains("partial_"),
      "map-side partial aggregation missing")
    assert(!p.contains("l_orderkey"), "scan reads columns the query never uses")
  }

  test("q_join_enrich: broadcast chain, no sort-merge join, pushed dim filter") {
    val p = plan("q_join_enrich")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3)
    assert(!p.contains("SortMergeJoin"))
    assert(p.contains("EqualTo(r_name,ASIA)"), "dim filter not pushed to scan")
  }

  test("q_latest_per_key: WindowGroupLimit partial top-1 before the shuffle") {
    val p = plan("q_latest_per_key")
    assert(p.contains("WindowGroupLimit"))
    assert(hashExchanges(p) === 1)
  }

  test("q_ann_cosine: zero shuffles, native expression, top-k merge") {
    val p = plan("q_ann_cosine")
    assert(!p.contains("Exchange"), "ANN scan must not shuffle")
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.toLowerCase.contains("cosinesim"), "native CosineSim not in plan")
  }

  test("q_asof_join: union + exactly one keyed shuffle") {
    assert(hashExchanges(plan("q_asof_join")) === 1)
  }

  test("q_sessionize: windows and session aggregate share one hash shuffle") {
    assert(hashExchanges(plan("q_sessionize")) === 1)
  }

  test("q_keyset_page: single shuffle on the composite key") {
    assert(hashExchanges(plan("q_keyset_page")) === 1)
  }

  test("q_top_holders: top-k via TakeOrderedAndProject, no global sort") {
    val p = plan("q_top_holders")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Exchange rangepartitioning"),
      "top-k must not materialize a global sort")
  }

  test("q_last_block/q_first_block: sorted heads via TakeOrderedAndProject") {
    Seq("q_last_block", "q_first_block").foreach { q =>
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q must be a top-1 merge")
      assert(!p.contains("Exchange rangepartitioning"),
        s"$q must not materialize a global sort")
    }
  }

  test("bucketed windows: stage budgets of replay, missed blocks and gap detection") {
    // Each full-table window runs on a distributed hashpartitioning(__b);
    // the only Exchange SinglePartition allowed is a metadata-sized bucket
    // summary (one row per bucket), and only where it is needed: a replay
    // range of at most blockBucket blocks is one bucket with no offsets
    // (scan + one hash exchange), a longer range adds the offsets frame,
    // and missed blocks lags one bucket summary. Each extra exchange is a
    // Spark stage on every request.
    def singlePartitionExchanges(p: String): Int =
      "Exchange SinglePartition".r.findAllIn(p).length
    def executed(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    val blocks = graft.etl.Fixtures.blocks(spark, 200).toDF()
    // a local copy, so the receipts merge's own shuffle stays out of the plans
    val merged = graft.etl.ActionDedup.mergeReceipts(
      graft.etl.Fixtures.rawTraces(spark, 100, 0, 0))(spark).toDF()
    val hist = spark.createDataFrame(merged.collectAsList(), merged.schema)

    val oneBucket = executed(graft.streaming.Replay.replay(hist, 100L, 180L))
    assert(singlePartitionExchanges(oneBucket) === 0, oneBucket)
    assert(hashExchanges(oneBucket) === 1, oneBucket)
    assert(oneBucket.contains("hashpartitioning(__b"), oneBucket)

    val manyBuckets = executed(
      graft.streaming.Replay.replay(hist, 100L, 180L, blockBucket = 16L))
    assert(singlePartitionExchanges(manyBuckets) === 1,
      s"replay over buckets: expected only the offsets exchange in:\n$manyBuckets")
    assert(manyBuckets.contains("hashpartitioning(__b"), manyBuckets)

    val missed = executed(graft.query.StateEndpoints.getMissedBlocks(blocks))
    assert(singlePartitionExchanges(missed) === 1,
      s"missed blocks: expected only the bucket-summary exchange in:\n$missed")
    assert(missed.contains("hashpartitioning(__b"), missed)
    assert(!missed.contains("Exchange rangepartitioning"), missed)

    // (gap_detect's bucket floor() is extracted by Catalyst as an
    // anonymous _groupingexpression, so its marker is the distributed
    // aggregate exchange rather than the __b name)
    val gaps = executed(
      graft.operators.Gaps.detectBucketed(Tables.events(spark, sf), "event_id"))
    assert(singlePartitionExchanges(gaps) === 1, gaps)
    assert(gaps.contains("Exchange hashpartitioning"), gaps)
  }

  test("LSH dedup joins: no pair-level shuffle after the bucket self-join") {
    // first-collision pair emit replaces groupBy(id_a, id_b): the only
    // hash exchanges allowed are the bucket-key self-join's (and the
    // final sort for q_embed_neardup's registered ordering). An
    // aggregate keyed on the pair would be a full shuffle of the
    // candidate stream — the scale killer this plan shape exists to avoid.
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sf)
    val p = graft.operators.Dedup.embeddingCosine(emb, "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    assert(!p.contains("hashpartitioning(id_a"),
      "pair-keyed exchange found — candidate pairs are being shuffled")
    val docs = Tables.documents(spark, sf).limit(200)
    Seq(
      graft.operators.Dedup.minhashLsh(docs, "doc_id", "text"),
      graft.operators.Dedup.simhash(docs, "doc_id", "text")
    ).foreach { d =>
      val pp = d.queryExecution.executedPlan.toString
      assert(!pp.contains("hashpartitioning(id_a"),
        "pair-keyed exchange found — candidate pairs are being shuffled")
    }
  }

  test("Split.assign: zero shuffles — the split label is a narrow projection") {
    import spark.implicits._
    val df = (0L until 100L).toDF("id")
    val p = graft.operators.Split.assign(df, "id", Seq("train" -> 90, "test" -> 10))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), "hash split must not shuffle")
  }

  test("Split.stratifiedSample: rank and stratum count share ONE shuffle") {
    import spark.implicits._
    val df = (0L until 100L).map(i => (i, s"s${i % 3}")).toDF("id", "lang")
    val p = graft.operators.Split.stratifiedSample(df, "lang", "id", 0.2)
      .queryExecution.executedPlan.toString
    assert(hashExchanges(p) === 1,
      "row_number and count must ride the same stratum partition")
  }

  test("q_knn_join: broadcast NLJ scoring, WindowGroupLimit top-k, one rank shuffle") {
    val p = plan("q_knn_join")
    assert(p.contains("BroadcastNestedLoopJoin"), "query set must broadcast")
    assert(p.contains("WindowGroupLimit"),
      "per-query top-k must pre-select locally before the exchange")
    assert(hashExchanges(p) === 1, "only the query_id rank window may shuffle")
  }

  test("Split.mixture: zero shuffles — filtered scans under a plan-level union") {
    import spark.implicits._
    val df = (0L until 100L).toDF("id")
    val p = graft.operators.Split.mixture(Seq(("a", df, 50), ("b", df, 25)), "id")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), "mixture must not shuffle")
  }

  test("q_vocab_topk: partial count before one gram shuffle, TakeOrdered head") {
    val p = plan("q_vocab_topk")
    assert(hashExchanges(p) === 1)
    assert(p.contains("partial_"), "map-side partial count missing")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not global-sort")
  }

  test("Cluster.canonical: membership join broadcasts; survivor rank and size share one cluster shuffle") {
    import spark.implicits._
    val docs = (0L until 50L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val p = graft.operators.Cluster.canonical(docs, pairs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), "pair-graph membership must broadcast")
    assert(!p.contains("SortMergeJoin"))
    // exactly ONE exchange keyed on cluster_id alone: the survivor rank and
    // the cluster-size count must ride the same window partition (the other
    // exchange in this plan is the roots-distinct inside the broadcast
    // build — pair-graph-sized, not corpus-sized)
    assert("Exchange hashpartitioning\\(cluster_id#\\d+L, \\d+\\)".r.findAllIn(p).length === 1,
      "cluster_id rank and size windows must share one shuffle")
  }

  test("q_span_dedup: group-limit prunes span losers locally; two keyed shuffles") {
    val p = plan("q_span_dedup")
    assert(p.contains("WindowGroupLimit"),
      "first-occurrence rank must pre-prune before the span exchange")
    // span window + id reassembly aggregate; the final orderBy is range-
    // partitioned, not hash
    assert(hashExchanges(p) === 2, p)
  }

  test("q_pack_sequences: exactly the one window shuffle on the partition key") {
    val p = plan("q_pack_sequences")
    assert(hashExchanges(p) === 1, p)
    assert(!p.contains("SinglePartition"), "packing must not funnel globally")
  }

  test("q_weighted_sample and q_pipeline_filter: zero-shuffle narrow gates") {
    Seq("q_weighted_sample", "q_pipeline_filter").foreach { q =>
      val p = plan(q)
      assert(hashExchanges(p) === 0, s"$q shuffles:\n$p")
    }
  }

  test("q_semdedup: cell-keyed pair join, AQE-chosen anti on drops, native cosine") {
    val df = SparkEntry.queries("q_semdedup")(spark, sf)
    val static = df.queryExecution.executedPlan.toString
    assert(static.toLowerCase.contains("cosinesim"), "native CosineSim not in plan")
    // the drop-set size is threshold-dependent (SemDeDup can drop 20-50% of
    // a corpus), so the anti join must NOT be statically broadcast-hinted:
    // the initial plan keeps a shuffle anti, and AQE converts it to
    // broadcast at runtime only when the dropped set measures small
    assert(!"BroadcastHashJoin.*LeftAnti".r.findFirstIn(static).isDefined,
      "anti join must not be force-broadcast (drop set can be corpus-sized)")
    assert(!"SortMergeJoin \\[centroid_id".r.findFirstIn(static).isDefined,
      "cell pair join must stay hash-based")
    df.collect()
    val fin = df.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin \\[vec_id.*LeftAnti".r.findFirstIn(fin).isDefined,
      s"AQE should pick broadcast for the small measured drop set:\n$fin")
  }

  test("q_token_budget: no single-partition window anywhere") {
    val p = plan("q_token_budget")
    assert(!p.contains("SinglePartition"), s"global funnel in:\n$p")
  }

  test("q_lm_score: vocabulary broadcasts; the doc mean is the only corpus shuffle") {
    val p = plan("q_lm_score")
    assert(p.contains("BroadcastHashJoin"), "vocab join must broadcast")
    assert(!p.contains("SortMergeJoin"), p)
    // the doc-id aggregate is the single corpus-sized exchange; the
    // vocab count shuffles only inside its broadcast build
    assert(topLevelHashExchanges(p).size === 1, s"extra corpus shuffle in:\n$p")
  }

  test("q_pipeline_e2e: composed flow costs its members' shuffles, not their sum") {
    val p = plan("q_pipeline_e2e")
    // decontamination joins stay broadcast, nothing sort-merges
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // span first-occurrence still group-limits before its exchange
    assert(p.contains("WindowGroupLimit"), p)
    // top-level shuffles: span window + reassembly + pack window = 3; the
    // only other hash exchanges sit inside broadcast builds (eval-sized)
    assert(topLevelHashExchanges(p).size === 3, s"expected 3 corpus shuffles in:\n$p")
  }

  test("get_transaction: the LIB is a literal column, no broadcast join") {
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_trx").toString
    graft.etl.ActionDedup.mergeReceipts(graft.etl.Fixtures.rawTraces(spark, 40, 20, 2))
      .write.mode("overwrite").parquet(dir)
    val t = graft.query.AccountEndpoints.getTransaction(spark.read.parquet(dir),
      "trx00000003", lib = 150L, blockHint = Some(103L), partitionSize = 100L)
    val p = t.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastExchange"), p)
    assert(!p.contains("Join"), p)
    assert(t.columns.takeRight(2).toSeq === Seq("last_irreversible_block", "irreversible"))
    assert(t.head().getAs[Long]("last_irreversible_block") === 150L)
    // one transaction's rows sort in one partition: no range-partitioning
    // sample job ahead of the sort
    assert(!p.contains("Exchange rangepartitioning"), p)
    val v1 = graft.query.AccountEndpoints.getTransactionV1(spark.read.parquet(dir),
      "trx00000003", lib = 150L).queryExecution.executedPlan.toString
    assert(!v1.contains("Exchange rangepartitioning"), v1)
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: print the formatted physical plan of named registry queries
  * (the source of PLANS.md excerpts).
  *
  * Usage: runMain graft.PlanDump <sfDir> <query>[,<query>...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args(1).split(",").toSeq
                else Seq("q1_agg")
    val builder = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // same degradation knob as Bench: at fixture SFs the static planner
    // broadcasts node-scale sides that would NOT fit at a real corpus —
    // disable broadcasts so the dump shows the 100 TB join shape
    if (sys.env.get("SPARK_GRAFT_NO_BROADCAST").contains("1")) {
      builder.config("spark.sql.autoBroadcastJoinThreshold", "-1")
      builder.config("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"==== $n")
      n match {
        // the registry queries checkpoint per round (bounded lineage by
        // design), which truncates explain to the final sort — these
        // synthetic cases rebuild ONE round un-checkpointed so the
        // per-round exchange shape is visible
        case "pagerank_round" | "pagerank_round_r16" | "pagerank_round2" =>
          // power iterations un-checkpointed, built by the operator's own
          // step (Rank.pageRankStep) against the SAME cached edgesDeg build
          // pageRank uses. "pagerank_round" shows whether the per-iteration
          // edge⋈rank join re-exchanges the cached edge list;
          // "pagerank_round_r16" rebuilds the round-16 unpartitioned cache;
          // "pagerank_round2" runs TWO iterations with the first lazily
          // checkpointed exactly as pageRank does — it shows what
          // partitioning the iteration-N ranks carry INTO iteration N+1
          // (the one-round case feeds the join from the cache itself,
          // which hides whether the checkpoint preserves hash(node)).
          import org.apache.spark.sql.functions._
          import org.apache.spark.storage.StorageLevel
          val edges = operators.Rank.tradeGraph(
            Tables.orders(spark, sfDir), Tables.lineitem(spark, sfDir), 1000000L)
          val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
          val joined0 = edges.join(deg, "src")
          val edgesDeg =
            (if (n == "pagerank_round_r16") joined0
             else operators.Rank.partitionEdges(joined0, "src"))
              .persist(StorageLevel.MEMORY_AND_DISK)
          val nodes = edgesDeg.select(col("src").as("node")).distinct()
          nodes.count() // materialize the cache, as pageRank's node count does,
          // so the explain reflects the partitioning iterations actually see
          val ranks = nodes.select(col("node"), lit(100L).as("pr_e8"))
          def step(r: org.apache.spark.sql.DataFrame) =
            operators.Rank.pageRankStep(edgesDeg, r, baseE8 = 0.0, damping = 0.85)
          val prior =
            if (n == "pagerank_round2") step(ranks).localCheckpoint(eager = false)
            else ranks
          step(prior).explain("formatted")
        case "ppr_round" | "ppr_round_r16" =>
          // ONE forward-push round, un-checkpointed, so the per-round
          // exchange shape is visible. "ppr_round_r16" rebuilds the
          // round-16 aggregate (groupBy dst, dst_deg) whose hash(dst,
          // dst_deg) partitioning cannot serve the full_outer join on
          // node; "ppr_round" is the shipped groupBy(dst) shape.
          import org.apache.spark.sql.functions._
          val edges = operators.Rank.tradeGraph(
            Tables.orders(spark, sfDir), Tables.lineitem(spark, sfDir), 1000000L)
          val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
          val e2 = edges.join(deg, "src")
            .join(deg.select(col("src").as("dst"), col("deg").as("dst_deg")), "dst")
          val state = Tables.orders(spark, sfDir)
            .select(col("o_custkey").as("node")).filter(col("node") < 5)
            .distinct()
            .join(deg.select(col("src").as("node"), col("deg")), "node")
            .select(col("node"), col("deg"), lit(0L).as("p_e8"),
              lit(100000000L).as("r_e8"))
          val active = state.filter(col("r_e8") >= lit(1000L) * col("deg"))
            .select(col("node"), col("r_e8"))
          val contrib = e2
            .join(broadcast(active), e2("src") === active("node"))
            .select(col("dst"), col("dst_deg"),
              round(lit(0.85) * col("r_e8") / e2("deg")).cast("long").as("c_e8"))
          val pushed =
            if (n == "ppr_round_r16")
              contrib.groupBy("dst", "dst_deg")
                .agg(sum(col("c_e8")).as("in_e8"))
                .select(col("dst").as("node"), col("dst_deg").as("deg"), col("in_e8"))
            else
              contrib.groupBy("dst")
                .agg(sum(col("c_e8")).as("in_e8"), max(col("dst_deg")).as("dst_deg"))
                .select(col("dst").as("node"), col("dst_deg").as("deg"), col("in_e8"))
          val settled = state.select(col("node"), col("deg"),
            col("p_e8"), col("r_e8"))
          settled.as("s")
            .join(pushed.as("g"), col("s.node") === col("g.node"), "full_outer")
            .select(
              coalesce(col("s.node"), col("g.node")).as("node"),
              coalesce(col("s.deg"), col("g.deg")).as("deg"),
              coalesce(col("s.p_e8"), lit(0L)).as("p_e8"),
              (coalesce(col("s.r_e8"), lit(0L)) +
                coalesce(col("g.in_e8"), lit(0L))).as("r_e8"))
            .explain("formatted")
        case "kcore_round" | "kcore_round_r17" =>
          // ONE peel round, un-checkpointed. "kcore_round_r17" rebuilds
          // the historical shape (src-join first, dst-join last, edge
          // list re-exchanged per round); "kcore_round" is the shipped
          // r18 shape: pinned dst-keyed cache + dst-join first so the
          // degree aggregate reuses the src-join's partitioning.
          import org.apache.spark.sql.functions._
          import org.apache.spark.storage.StorageLevel
          val edges0 = operators.Rank.tradeGraph(
            Tables.orders(spark, sfDir), Tables.lineitem(spark, sfDir), 1000000L)
          val edges =
            if (n == "kcore_round_r17") edges0
            else {
              val e = operators.Rank.partitionEdges(edges0, "dst")
                .persist(StorageLevel.MEMORY_AND_DISK)
              e.count() // materialize, as kCoreChecked's lifecycle does
              e
            }
          val deg = edges.groupBy(col("src").as("node"))
            .agg(count(lit(1)).as("deg"))
          val alive = deg.filter(col("deg") >= 25).select("node")
          (if (n == "kcore_round_r17")
            edges
              .join(alive.select(col("node").as("src")), "src")
              .join(alive.select(col("node").as("dst")), "dst")
          else
            edges
              .join(alive.select(col("node").as("dst")), "dst")
              .join(alive.select(col("node").as("src")), "src"))
            .groupBy(col("src").as("node"))
            .agg(count(lit(1)).as("deg"))
            .explain("formatted")
        case "labelprop_round" | "labelprop_round_r17" =>
          // ONE label-propagation round, un-checkpointed.
          // "labelprop_round_r17" is the historical shape (edge list
          // re-exchanged + re-sorted by dst every round);
          // "labelprop_round" reads the shipped pinned dst-keyed cache.
          import org.apache.spark.sql.functions._
          import org.apache.spark.storage.StorageLevel
          val edges0 = operators.Rank.tradeGraph(
            Tables.orders(spark, sfDir), Tables.lineitem(spark, sfDir), 1000000L)
          val edges =
            if (n == "labelprop_round_r17") edges0
            else {
              val e = operators.Rank.partitionEdges(edges0, "dst")
                .persist(StorageLevel.MEMORY_AND_DISK)
              e.count()
              e
            }
          val nodes = edges.select(col("src").as("node")).distinct()
          val labels = nodes.withColumn("label", col("node"))
          edges
            .join(labels.select(col("node").as("dst"), col("label")), "dst")
            .groupBy(col("src").as("node"), col("label"))
            .agg(count(lit(1)).as("__c"))
            .groupBy("node")
            .agg(max(struct(col("__c"), (-col("label")).as("__neg")))
              .as("__best"))
            .select(col("node"), (-col("__best.__neg")).as("label"))
            .explain("formatted")
        case _ =>
          SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      }
    }
    spark.stop()
  }
}

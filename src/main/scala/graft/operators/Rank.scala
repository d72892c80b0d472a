package graft.operators

import graft.functions.Text
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Ranked retrieval and link analysis — the scoring passes of a
  * corpus-search / graph-centrality pipeline (reference surface: the
  * search-and-rank half of `get_actions`-style queries generalized to
  * full-text relevance, plus entity-importance ranking over the
  * account-interaction graph; cf. `/root/reference/src/api/routes/v2-history/
  * get_actions/get_actions.ts` result ranking).
  *
  * Cross-engine reproducibility (the repo-wide convention): every
  * transcendental (ln) is snapped to 4 dp at an identical point in both
  * engines, and every float SUM whose addend order differs between
  * engines is carried in integer ten-thousandths (`round(x·10⁴)` →
  * BIGINT) so the aggregation is order-free and exact. Rankings order by
  * the ROUNDED score with a deterministic id tie-break.
  */
object Rank {

  /** Okapi BM25 top-k document retrieval for a fixed term query.
    *
    * `score(D,q) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·|D|/avgdl))`
    * with `idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))` (Lucene's
    * non-negative variant).
    *
    * Plan: one token-explode pass FILTERED to the query terms before the
    * (doc, term) hash aggregate (selectivity reaches the shuffle — the
    * tf side carries ≤ |q| rows per doc, not the whole posting list); df
    * from a separate fused per-doc-distinct `Shingles(·,1)` pass (never
    * a `tf.groupBy(term)` self-reference — Catalyst re-executes the
    * uncached explode inside the broadcast build, the measured TfIdf
    * trap); doc length from a scan-local `size(split(·))` (no shuffle);
    * `avgdl` and `N` are two corpus scalars. Per-term partial scores are
    * snapped to 4 dp and summed per doc in integer ten-thousandths
    * (order-free), then the global top-k is a `TakeOrderedAndProject`
    * (sort+limit — no single-partition window).
    *
    * 100 TB shape: tf/df aggregates shuffle only rows matching the query
    * terms; df is a ≤|q|-row broadcast; the only full-corpus work is the
    * scan itself. Top-k is per-partition-bounded by the sort-limit.
    */
  def bm25TopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: Seq[String],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val n = docs.count()
    val terms = queryTerms.map(lit(_))
    // per-doc length over ALL tokens (BM25 normalizes by full doc length,
    // not just query-term hits) — computed scan-local, no explode
    val dl = docs.select(
      col(idCol).as("doc_id"),
      size(Text.tokens(col(textCol))).as("dl"))
    val avgdlRow = dl.agg(round(avg(col("dl")), 4)).head()
    val avgdl = avgdlRow.getDouble(0)
    val tf = docs
      .select(col(idCol).as("doc_id"), explode(Text.tokens(col(textCol))).as("term"))
      .filter(col("term").isInCollection(queryTerms))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
    // df from the fused per-doc-distinct unigram pass, filtered to the
    // query terms at the scan — a ≤|q|-row result, broadcast into the join
    val df = docs
      .select(explode(graft.exprs.Shingles(col(textCol), 1)).as("term"))
      .filter(col("term").isInCollection(queryTerms))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .withColumn("idf",
        round(log(lit(1.0) + (lit(n.toDouble) - col("df") + 0.5) / (col("df") + 0.5)), 4))
    val partial = tf
      .join(broadcast(df), "term")
      .join(dl, "doc_id")
      .withColumn("comp",
        round(col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl))), 4))
      // integer ten-thousandths: per-doc sum over the ≤|q| term components
      // is order-free and exact in both engines
      .withColumn("comp_i4", round(col("comp") * 10000).cast("long"))
    partial
      .groupBy("doc_id")
      .agg((sum(col("comp_i4")) / 10000.0).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Okapi BM25 top-k retrieval for a QUERY TABLE — the deployment
    * shape of [[bm25TopK]]: one corpus pass scores every query at once.
    * `queries` carries (query_id, term) rows; output is the per-query
    * top-k (query_id, doc_id, score).
    *
    * What changes vs the single-query form, per the deployment contract:
    * the term filter is a BROADCAST SEMI-JOIN against the distinct term
    * set (an `isInCollection` literal list can't hold a query table),
    * and the two corpus scalars (N, avgdl) are ONE lazy 1-row aggregate
    * cross-joined back (the HITS normalize pattern) — the whole plan is
    * a single job with ZERO driver actions, so it composes lazily like
    * any other operator.
    *
    * Plan: (doc, term) components are computed ONCE — shared by every
    * query containing the term — then fanned out to queries by a
    * broadcast join on the query table and summed per (query_id, doc)
    * in integer ten-thousandths. The per-query top-k is a row_number
    * window PARTITIONED BY query_id (the multi-query generalization of
    * the global TakeOrderedAndProject: per-partition bounded sort, no
    * single-partition collapse; ties break on doc_id).
    *
    * 100 TB shape: the only full-corpus work is the token scan; tf/df
    * shuffles carry only rows matching SOME query's terms; the query
    * table and df are broadcast-sized (queries × terms); the window
    * sorts each query's matched docs, never the corpus.
    */
  def bm25TopKMulti(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame, // columns: query_id, term
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val q = queries.select(col("query_id"), col("term")).distinct()
    val termSet = q.select("term").distinct()
    val dl = docs.select(
      col(idCol).as("doc_id"),
      size(Text.tokens(col(textCol))).as("dl"))
    // N and avgdl in one lazy 1-row aggregate — no driver action; the
    // aggregate subtree ends in a shuffle both consumers reuse
    val stats = dl.agg(
      count(lit(1)).cast("double").as("__n"),
      round(avg(col("dl")), 4).as("__avgdl"))
    val tf = docs
      .select(col(idCol).as("doc_id"),
        explode(Text.tokens(col(textCol))).as("term"))
      .join(broadcast(termSet), Seq("term"), "left_semi")
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
    val df = docs
      .select(explode(graft.exprs.Shingles(col(textCol), 1)).as("term"))
      .join(broadcast(termSet), Seq("term"), "left_semi")
      .groupBy("term").agg(count(lit(1)).as("df"))
    val idf = df.crossJoin(broadcast(stats))
      .withColumn("idf",
        round(log(lit(1.0) + (col("__n") - col("df") + 0.5) / (col("df") + 0.5)), 4))
      .select(col("term"), col("idf"))
    val partial = tf
      .join(broadcast(idf), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("comp",
        round(col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("dl") / col("__avgdl"))), 4))
      .withColumn("comp_i4", round(col("comp") * 10000).cast("long"))
    val perQuery = partial
      .join(broadcast(q), "term")
      .groupBy("query_id", "doc_id")
      .agg((sum(col("comp_i4")) / 10000.0).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id").asc)
    perQuery
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("query_id"), col("doc_id"), col("score"))
  }

  /** Symmetric-edge PageRank by fixed-iteration power method.
    *
    * The graph is taken as an UNDIRECTED edge list (callers union each
    * directed edge with its reverse): every node then has out-degree ≥ 1,
    * so there is no dangling-mass redistribution step and
    * `r'(v) = (1−d)/N + d·Σ_{u→v} r(u)/deg(u)` is the whole update.
    *
    * Determinism across engines: the rank is carried as an INTEGER in
    * hundred-millionths (`pr_e8`, 1e8 units — fine enough that a
    * 10⁷-node graph's ranks keep ≥ 10 significant units) from init to
    * output. Per-edge contributions `round(pr_e8/deg)` and the update
    * `round(base·1e8 + d·Σ contrib)` use only SCALE-0 rounds of doubles:
    * a double that is not exactly `x.5` has its shortest decimal
    * representation on the same side of `x.5` (the boundary is binary-
    * representable), so Spark's BigDecimal-string HALF_UP and DuckDB's
    * numeric half-away-from-zero agree on EVERY double — unlike scale>0
    * rounds, whose decimal boundaries need not be representable. The
    * per-destination sum is integer, hence order-free; the integer
    * fixpoint is the spec'd algorithm, not an approximation of a float
    * one.
    *
    * Plan per iteration: ranks ⋈ degree-annotated edges on src (one
    * shuffle, or zero when ranks are co-partitioned with edges on src) →
    * hash aggregate on dst (the second shuffle).
    *
    * Cache discipline: the degree-annotated edge list is `persist`ed
    * ONCE (without it the upstream graph build — a parquet join +
    * distinct for the trade graph — re-executes per consumer, measured
    * +5.5 s at sf0.1) and RELEASED before returning; the returned rank
    * state is an eager node-sized `localCheckpoint`, so its lineage is
    * truncated and cannot reach the released cache. A localCheckpoint
    * on the edge list instead would pin edge-scale blocks for the JVM's
    * lifetime (no unpersist API) — four graph-query invocations in one
    * 16 GB session OOM'd exactly that way at 100× data.
    *
    * 100 TB shape: state is one (node, rank) row per node; per iteration
    * cost is one join + one aggregate over the edge list — the canonical
    * Pregel-on-DataFrames shape. Skewed hubs fan INTO the aggregate as
    * map-side partial sums (LongType sum combines), so a 10⁶-degree hub
    * costs its edge count, never a single-reducer list.
    */
  /** Pre-partition (and sort) an edge-scale frame by `key` before the
    * persist that an ITERATIVE consumer will join repeatedly: the cache
    * then carries hash(key) partitioning and key ordering, so every
    * iteration's join reads it exchange-free (and, for sort-merge,
    * sort-free) instead of re-exchanging the full edge list per round —
    * one build-time shuffle buys back iterations × edge-scale exchanges
    * (guide §2.4: keyed operations sharing one exchange). The width is
    * pinned to the session's shuffle-partition count so the cached
    * partitioning stays co-partitioned with the per-iteration state
    * exchanges (an AQE-coalesced width would break co-partitioning and
    * reintroduce the exchange on BOTH sides).
    */
  private[graft] def partitionEdges(df: DataFrame, key: String): DataFrame = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    df.repartition(n, col(key)).sortWithinPartitions(key)
  }

  def pageRank(
      edges: DataFrame, // columns: src, dst (already symmetric)
      iterations: Int,
      damping: Double = 0.85): DataFrame = {
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    // partitioned-by-src cache: the 6 per-iteration joins read it
    // exchange-free (see partitionEdges)
    val edgesDeg = partitionEdges(edges.join(deg, "src"), "src")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = edgesDeg.select(col("src").as("node")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nNodes = nodes.count() // one action materializes both caches
    val baseE8 = (1.0 - damping) * 1.0e8 / nNodes
    var ranks = nodes.select(
      col("node"),
      round(lit(1.0e8 / nNodes)).cast("long").as("pr_e8"))
    for (_ <- 1 to iterations) {
      // lazy per-iteration truncation (the HITS lesson): without it
      // iteration i's plan embeds all i−1 priors, so a convergence-
      // length run (30–50 iterations) pays quadratic analysis cost;
      // the step ends in a shuffle aggregate, so the checkpoint adds
      // zero jobs and downstream reads reuse the shuffle files
      ranks = pageRankStep(edgesDeg, ranks, baseE8, damping)
        .localCheckpoint(eager = false)
    }
    // eager node-sized snapshot truncates the lineage, so the edge-scale
    // caches can be released without a recompute hazard
    val out = ranks.localCheckpoint()
    edgesDeg.unpersist()
    nodes.unpersist()
    out
  }

  /** One power iteration of [[pageRank]]: `edgesDeg` (src, dst, deg)
    * joins the rank state (node, pr_e8), each edge carries
    * `pr_e8 / deg`, contributions sum per dst, and the damping/base
    * projection gives the next (node, pr_e8). PlanDump explains this
    * same builder, so its per-round plans are the operator's.
    *
    * Shuffle-hash hint on the rank side: an SMJ here re-sorts the
    * node-sized rank state every iteration; SHJ builds a per-partition
    * map of it instead, which is exactly the side that fits. Re-measured
    * after the sorted edge cache landed: SHJ won every ×10 pair
    * (OPTIMIZATION_r18.md §5).
    */
  private[graft] def pageRankStep(
      edgesDeg: DataFrame,
      ranks: DataFrame,
      baseE8: Double,
      damping: Double): DataFrame = {
    val rside = ranks.hint("shuffle_hash")
    edgesDeg
      .join(rside, edgesDeg("src") === rside("node"))
      .select(
        col("dst"),
        round(col("pr_e8") / col("deg")).cast("long").as("contrib_e8"))
      .groupBy("dst")
      .agg(sum(col("contrib_e8")).as("in_e8"))
      .select(
        col("dst").as("node"),
        round(lit(baseE8) + lit(damping) * col("in_e8")).cast("long").as("pr_e8"))
  }

  /** Personalized PageRank: teleport mass returns to a SOURCE SET
    * instead of the uniform vector — "importance relative to these
    * accounts", the standard related-entity primitive. Same integer
    * 1e8-unit carrier and scale-0-round contract as [[pageRank]]; the
    * base term is source-gated via a broadcast membership join, so the
    * per-iteration plan is [[pageRank]]'s plus one broadcast hash join.
    */
  def personalizedPageRank(
      edges: DataFrame, // columns: src, dst (already symmetric)
      sources: DataFrame, // column: node
      iterations: Int,
      damping: Double = 0.85): DataFrame = {
    // same persist-and-release cache discipline as [[pageRank]], same
    // partitioned-by-src cache so per-iteration joins skip the exchange
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val edgesDeg = partitionEdges(edges.join(deg, "src"), "src")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = edgesDeg.select(col("src").as("node")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val srcSet = sources.select(col("node")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nSources = srcSet.count()
    require(nSources > 0, "personalizedPageRank needs a non-empty source set")
    val baseE8 = (1.0 - damping) * 1.0e8 / nSources
    val marked = broadcast(srcSet.withColumn("__s", lit(1)))
    var ranks = nodes
      .join(marked, Seq("node"), "left")
      .select(col("node"),
        when(col("__s").isNotNull, round(lit(1.0e8 / nSources)).cast("long"))
          .otherwise(lit(0L)).as("pr_e8"))
    for (_ <- 1 to iterations) {
      // same SHJ rationale as [[pageRank]]: the rank state is the small
      // node-sized side; SMJ would re-sort the edge list per iteration
      ranks = edgesDeg
        .join(ranks.hint("shuffle_hash"), edgesDeg("src") === ranks("node"))
        .select(
          col("dst"),
          round(col("pr_e8") / col("deg")).cast("long").as("contrib_e8"))
        .groupBy("dst")
        .agg(sum(col("contrib_e8")).as("in_e8"))
        .select(col("dst").as("node"), col("in_e8"))
        .join(marked, Seq("node"), "left")
        .select(
          col("node"),
          round(
            when(col("__s").isNotNull, lit(baseE8)).otherwise(lit(0.0)) +
              lit(damping) * col("in_e8")).cast("long").as("pr_e8"))
        // same lazy per-iteration truncation as [[pageRank]]
        .localCheckpoint(eager = false)
    }
    val out = ranks.localCheckpoint()
    edgesDeg.unpersist()
    nodes.unpersist()
    srcSet.unpersist()
    out
  }

  /** Personalized PageRank by SYNCHRONOUS FORWARD PUSH (the
    * Andersen–Chung–Lang local-push scheme batched into deterministic
    * rounds) — the scale path for localized source sets, where
    * [[personalizedPageRank]]'s power method pays 6 edge-scale
    * shuffles regardless of how little of the graph the mass ever
    * touches.
    *
    * State per touched node: estimate `p_e8` and residual `r_e8`
    * (1e8-unit integer carrier). Each round, every node whose
    * residual clears the degree-scaled threshold
    * (`r_e8 ≥ epsE8·deg`) pushes simultaneously:
    * `p += round(α·r)`; each neighbor receives
    * `round(d·r/deg)` residual (d = damping = 1−α); the pusher's
    * residual resets to 0. All arithmetic
    * is integer-carried scale-0 rounds of deterministic double
    * expressions, so the whole push schedule replays as generated SQL
    * CTEs — the `q_ppr_push` oracle is that replay, hash-exact.
    *
    * Scale invariants (the reason this wins at 100 TB):
    *  - total residual mass never exceeds 1.0, so the active frontier
    *    is PROVABLY ≤ 1/ε nodes (each active node holds ≥ ε·deg ≥ ε
    *    mass) — at the default ε = 10⁻⁵ that is ≤ 10⁵ rows, which
    *    makes `broadcast(active)` safe BY CONSTRUCTION, not by
    *    sampling: the edge list is scanned but never shuffled and
    *    never sorted, in any round;
    *  - a node of degree > 1/ε can never clear its threshold, so hub
    *    fan-out is bounded and the per-round contribution shuffle is
    *    ∝ edges touched by the frontier, not |E|;
    *  - dst degree rides ON the cached edge list (one prep join), so
    *    no per-round |V| degree join exists;
    *  - the node-state full-outer merge is touched-node-sized, and a
    *    lazy `localCheckpoint` per round keeps plan analysis linear
    *    in rounds.
    *
    * Approximation contract (ACL): on convergence the estimate obeys
    * `p(v) ≤ ppr(v) ≤ p(v) + ε·deg(v)` (plus integer-rounding drift
    * bounded by one e8 unit per push received). The exact power
    * method [[personalizedPageRank]] remains the dense fallback and
    * the equivalence witness (RankSpec checks the bound).
    *
    * Returns (node, p_e8, r_e8) for every touched node.
    */
  def pprForwardPush(
      edges: DataFrame, // columns: src, dst (already symmetric)
      sources: DataFrame, // column: node
      rounds: Int,
      damping: Double = 0.85,
      epsE8: Long = 1000L): DataFrame = {
    val alpha = 1.0 - damping
    // prep: degree of BOTH endpoints on the edge row (src deg divides
    // the push; dst deg rides along so contributions arrive
    // threshold-ready without a per-round |V| join)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val e2 = edges
      .join(deg, "src")
      .join(deg.select(col("src").as("dst"), col("deg").as("dst_deg")), "dst")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val srcSet = sources.select(col("node")).distinct()
      .join(deg.select(col("src").as("node"), col("deg")), "node")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nSources = srcSet.count() // materializes both caches
    require(nSources > 0, "pprForwardPush needs a non-empty source set")
    var state = srcSet.select(
      col("node"), col("deg"),
      lit(0L).as("p_e8"),
      round(lit(1.0e8 / nSources)).cast("long").as("r_e8"))
    for (_ <- 1 to rounds) {
      val active = state
        .filter(col("r_e8") >= lit(epsE8) * col("deg"))
        .select(col("node"), col("r_e8")) // deg rides on the edge row
      // |active| ≤ 1/ε by the mass argument above: broadcast is safe
      // group on dst ALONE (dst_deg is functionally dependent on dst —
      // one degree per node — so max() carries it unchanged): the
      // aggregate's hash(dst) output partitioning then satisfies the
      // full_outer join's distribution on node directly, where the old
      // hash(dst, dst_deg) grouping forced one extra Exchange of the
      // pushed side EVERY round (20 exchanges on the registered budget)
      val pushed = e2
        .join(broadcast(active), e2("src") === active("node"))
        .select(
          col("dst"), col("dst_deg"),
          round(lit(damping) * col("r_e8") / e2("deg")).cast("long")
            .as("c_e8"))
        .groupBy("dst")
        .agg(sum(col("c_e8")).as("in_e8"), max(col("dst_deg")).as("dst_deg"))
        .select(col("dst").as("node"), col("dst_deg").as("deg"),
          col("in_e8"))
      val settled = state.select(
        col("node"), col("deg"),
        when(col("r_e8") >= lit(epsE8) * col("deg"),
          col("p_e8") + round(lit(alpha) * col("r_e8")).cast("long"))
          .otherwise(col("p_e8")).as("p_e8"),
        when(col("r_e8") >= lit(epsE8) * col("deg"), lit(0L))
          .otherwise(col("r_e8")).as("r_e8"))
      state = settled.as("s")
        .join(pushed.as("g"), col("s.node") === col("g.node"), "full_outer")
        .select(
          coalesce(col("s.node"), col("g.node")).as("node"),
          coalesce(col("s.deg"), col("g.deg")).as("deg"),
          coalesce(col("s.p_e8"), lit(0L)).as("p_e8"),
          (coalesce(col("s.r_e8"), lit(0L)) +
            coalesce(col("g.in_e8"), lit(0L))).as("r_e8"))
        // lazy truncation: the state is read twice next round (active
        // filter + settle), so without it the plan doubles per round
        .localCheckpoint(eager = false)
    }
    val out = state.select("node", "p_e8", "r_e8").localCheckpoint()
    e2.unpersist()
    srcSet.unpersist()
    out
  }

  /** Endpoint-level PPR dispatch — forward push
    * ([[pprForwardPush]]) when the source set is localized
    * (`nSources ≤ maxPushSources`), exact power iteration
    * ([[personalizedPageRank]]) as the dense fallback. PPR is this
    * engine's generalization of the reference's account-centric
    * history queries (get_actions account OR-expansion, SURVEY §2.2
    * F7): those source sets are a handful of accounts, exactly the
    * regime where push's work ∝ pushed mass beats the power method's
    * 6 edge-scale shuffles per iteration regardless of graph size
    * (measured 24.8 s vs 96.9 s at 100× on the same trade graph).
    * A teleport vector spread over MORE sources than `maxPushSources`
    * defeats the frontier-mass bound that makes `broadcast(active)`
    * safe, so the dense exact method takes over.
    *
    * The two paths keep their native contracts — push returns touched
    * nodes as (node, p_e8, r_e8), power returns every node's
    * (node, pr_e8) — so the dispatch decision is visible in the
    * result schema, which is what the spec locks.
    */
  def ppr(
      edges: DataFrame, // columns: src, dst (already symmetric)
      sources: DataFrame, // column: node
      iterations: Int, // power-method budget (dense fallback)
      rounds: Int, // push budget (localized path)
      damping: Double = 0.85,
      epsE8: Long = 1000L,
      maxPushSources: Long = 1024L): DataFrame = {
    val srcSet = sources.select(col("node")).distinct()
    // the dispatch count is source-set-sized (the config/request side
    // of an endpoint call, never corpus-sized); both inner paths
    // re-derive their own cached copy
    if (srcSet.count() <= maxPushSources)
      pprForwardPush(edges, sources, rounds, damping, epsE8)
    else
      personalizedPageRank(edges, sources, iterations, damping)
  }

  /** HITS hubs-and-authorities by fixed-iteration mutual reinforcement
    * over a DIRECTED edge list: `a'(v) = Σ_{u→v} h(u)`,
    * `h'(u) = Σ_{u→v} a(v)`, each half-step L1-normalized back to 1e8
    * integer units. On the bipartite trade graph this separates "broad
    * buyers" (hubs) from "widely-bought-from suppliers" (authorities) —
    * the two sides PageRank's single score conflates.
    *
    * Determinism: the same integer-carrier contract as [[pageRank]] —
    * scores live in 1e8 units, per-node sums are integer (order-free),
    * and the L1 normalization `round(raw / tot · 1e8)` is a scale-0
    * round of a deterministic double division. The normalization total
    * is computed as a lazy 1-row aggregate cross-joined back (no
    * per-iteration driver action); lineage truncates per iteration.
    *
    * 100 TB shape: per iteration, two edge-list joins + two hash
    * aggregates + two scalar totals — the [[pageRank]] cost × 2, with
    * score state one row per node.
    */
  def hits(edges: DataFrame, iterations: Int): DataFrame = {
    // same persist-and-release cache discipline as [[pageRank]]; the
    // lazy NODE-sized normalize checkpoints below are the only blocks
    // that outlive the call, and the final eager checkpoint truncates
    // the returned lineage so releasing the edge caches is safe.
    // TWO key-partitioned cached layouts (partitionEdges): the auth
    // half-step joins on src, the hub half-step on dst — 12 half-steps
    // at 6 iterations, each previously re-exchanging AND re-sorting the
    // full edge list for its sort-merge join; the partitioned+sorted
    // caches make every half-step's edge side exchange-free and
    // sort-free for one extra cached copy (MEMORY_AND_DISK — spills,
    // never pins the heap).
    val eBySrc = partitionEdges(edges.select(col("src"), col("dst")), "src")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val eByDst = partitionEdges(edges.select(col("src"), col("dst")), "dst")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = eBySrc.select(col("src").as("node"))
      .union(eByDst.select(col("dst").as("node")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nNodes = nodes.count()
    def normalize(raw: DataFrame, outCol: String): DataFrame = {
      // the 1-row total is a lazy aggregate cross-joined back — its
      // subtree re-executes inside the same job, never a driver action
      val tot = raw.agg(sum(col("raw")).cast("double").as("tot"))
      // lazy checkpoint: the normalize output is referenced TWICE next
      // round (the sum subtree and the join), so without truncation the
      // logical plan doubles per half-step (measured 28 s at 10
      // iterations); the lazy form keeps analysis linear at zero extra
      // jobs — `raw`'s aggregate ends in a shuffle, so both downstream
      // reads reuse the same shuffle files
      raw.crossJoin(broadcast(tot))
        .select(col("node"),
          round(col("raw") / col("tot") * 1.0e8).cast("long").as(outCol))
        .localCheckpoint(eager = false)
    }
    var hub = nodes.select(col("node"),
      round(lit(1.0e8 / nNodes)).cast("long").as("h_e8"))
    var auth: DataFrame = null
    for (_ <- 1 to iterations) {
      // no shuffle-hash hint here: unlike pageRank, the hint measured
      // 61 → 90 s at 100× for HITS (the lazy-checkpointed normalize
      // state interacts badly with the SHJ build); the SMJ default wins
      auth = normalize(
        eBySrc.join(hub, eBySrc("src") === hub("node"))
          .groupBy(col("dst").as("node")).agg(sum(col("h_e8")).as("raw")),
        "a_e8")
      hub = normalize(
        eByDst.join(auth, eByDst("dst") === auth("node"))
          .groupBy(col("src").as("node")).agg(sum(col("a_e8")).as("raw")),
        "h_e8")
    }
    val out = hub.join(auth, Seq("node"), "full_outer")
      .na.fill(0L, Seq("h_e8", "a_e8"))
      .select(col("node"), col("h_e8").as("hub_e8"), col("a_e8").as("auth_e8"))
      .localCheckpoint()
    eBySrc.unpersist()
    eByDst.unpersist()
    nodes.unpersist()
    out
  }

  /** Distinct DIRECTED customer→supplier trade edges from
    * orders ⋈ lineitem; supplier ids offset by `supplierOffset` so the
    * two key spaces cannot collide.
    */
  def tradeEdges(orders: DataFrame, lineitem: DataFrame, supplierOffset: Long): DataFrame =
    orders
      .join(lineitem, orders("o_orderkey") === lineitem("l_orderkey"))
      .select(
        col("o_custkey").as("src"),
        (col("l_suppkey") + supplierOffset).as("dst"))
      .distinct()

  /** Customer↔supplier interaction graph from orders ⋈ lineitem — the
    * distinct bipartite trade edges, symmetrized for [[pageRank]].
    *
    * The DIRECTED edge list is a session-scoped [[Capture.persisted]]
    * entry keyed on the canonicalized input plans: all six graph
    * queries (PageRank/PPR/HITS + the HyperBall family) start from this
    * identical orders ⋈ lineitem ⋈ distinct build, so the suite pays
    * its two shuffles once instead of six times. MEMORY_AND_DISK with
    * the registry's explicit release/invalidation contract — never a
    * lifetime pin (the round-11 OOM lesson).
    */
  def tradeGraph(orders: DataFrame, lineitem: DataFrame, supplierOffset: Long): DataFrame = {
    val key = ("tradeEdges",
      orders.queryExecution.analyzed.canonicalized,
      lineitem.queryExecution.analyzed.canonicalized,
      supplierOffset)
    val e = Capture.persisted(key)(
      tradeEdges(orders, lineitem, supplierOffset))
    e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** Exact positional phrase search — "which documents contain these
    * words CONSECUTIVELY, where, how often" — as a ZERO-SHUFFLE
    * codegen'd scan: instead of the textbook positional-inverted-index
    * build (explode → per-term postings → k-way adjacency self-join,
    * k shuffles of corpus-sized postings), the adjacency test runs as
    * the native compiled [[graft.exprs.PhraseHits]] expression — one
    * tokenize-and-match pass over each document inside whole-stage
    * codegen — so a petabyte corpus answers a phrase query in one
    * scan-local pass with column pruning and no exchange at all.
    * Overlapping occurrences count (the standard positional
    * semantics). [[phraseSearchHof]] keeps the declarative
    * higher-order-function spelling of the same test as the spec's
    * independent equivalence witness.
    *
    * Returns only matching docs: (doc_id, n_hits, first_pos) with
    * first_pos 0-based in tokens.
    */
  def phraseSearch(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    // one native compiled scan per document (graft.exprs.PhraseHits):
    // the HOF formulation (kept below for the spec's equivalence
    // witness) is semantically identical but CodegenFallback-interpreted
    val hits = graft.exprs.PhraseHits(col(textCol), phrase)
    docs
      .select(col(idCol).as("doc_id"), hits.as("hits"))
      .filter(size(col("hits")) > 0)
      .select(col("doc_id"),
        element_at(col("hits"), 1).as("n_hits"),
        element_at(col("hits"), 2).as("first_pos"))
  }

  /** The higher-order-function formulation of [[phraseSearch]] — the
    * declarative spelling Catalyst cannot compile (HigherOrderFunction
    * is CodegenFallback). Kept as the independent equivalence witness
    * the spec checks the native scan against.
    */
  private[graft] def phraseSearchHof(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      phrase: Seq[String]): DataFrame = {
    val toks = Text.tokens(col(textCol))
    val k = phrase.length
    val hitArr = when(size(toks) >= k,
      filter(sequence(lit(0), size(toks) - k),
        i => phrase.zipWithIndex.map { case (w, j) =>
          element_at(toks, i + j + 1) === lit(w)
        }.reduce(_ && _)))
      .otherwise(array().cast("array<int>"))
    docs
      .select(col(idCol).as("doc_id"), hitArr.as("hits"))
      .filter(size(col("hits")) > 0)
      .select(col("doc_id"),
        size(col("hits")).cast("long").as("n_hits"),
        element_at(col("hits"), 1).cast("long").as("first_pos"))
  }
}

package pipebench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One benchmark run. Every run, whatever the workload, goes through the
  * same phases, so every end-to-end metric is measured on every
  * workload:
  *
  *  1. set-up: the generator stages one chain segment (SHIP frames,
  *     raw receipt rows, contract-row deltas), [[SetupReps]] times;
  *  2. backfill: the segment drained through ship → history → state
  *     into the store; only `query` is idle;
  *  3. api: a closed loop of [[Api.Clients]] clients against the store,
  *     for `--seconds`; the write layers are idle.
  *
  * The workload picks the chain: `hot` (Zipf senders, small key space)
  * or `cold` (uniform senders, large key space). `--trace 1` repeats
  * the phases traced and reports per-layer metrics instead.
  */
object Main {
  val SegmentBlocks = 1000L
  val SetupReps = 3
  val Cores = 4
  val Workloads = Set("hot", "cold")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val w = m.getOrElse("workload", "")
    require(Workloads(w), s"--workload must be one of ${Workloads.mkString(", ")}")
    Args(w, m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "12").toInt, m.getOrElse("trace", "0") == "1")
  }

  def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]").appName("pipebench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p / 100 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  /** Run independent Spark actions side by side on up to [[Cores]] threads. */
  def inParallel[A](tasks: Seq[() => A]): Seq[A] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Cores)
    try tasks.map(f => pool.submit(() => f())).map(_.get())
    finally pool.shutdown()
  }

  private val t00 = System.nanoTime()
  def log(msg: String): Unit = System.err.println(f"[pipebench] ${(System.nanoTime() - t00) / 1e9}%7.2f s  $msg")

  /** Heap still reachable after a full collection: what the session
    * keeps in memory (cached tables, broadcasts, plan caches) once the
    * work is done. Spark's cleaner drops unreachable broadcasts and
    * shuffles only after a collection has queued them, so collect until
    * the figure stops falling. Peak RSS (VmHWM) is logged too but moves
    * with GC timing by ±15% between identical runs, too much for a bound.
    */
  def heapLiveMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Long = { System.gc(); Thread.sleep(100); mem.getHeapMemoryUsage.getUsed }
    var used = collect()
    var next = collect()
    var i = 0
    while (next < used && i < 8) { used = next; next = collect(); i += 1 }
    used = math.min(used, next)
    val hwm = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    log(s"peak RSS ${hwm.map(_.split("\\s+")(1).toLong / 1024).getOrElse(0L)} MB")
    used / 1048576.0
  }

  final class Run(val args: Args, val work: Path) {
    val gen = new Gen(args.seed, args.workload == "hot")
    val seg = (Gen.FirstBlock, Gen.FirstBlock + SegmentBlocks)
    val model = new Model(gen, seg._1, seg._2)
    val nBlocks = model.blocks.size
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L

    /** Stage the segment; returns the set-up time in seconds. */
    def setup(spark: SparkSession, tr: Tracer, in: Path): Double = {
      val t0 = System.nanoTime()
      tr.span("gen", "Backfill.stage")(_ => Backfill.stage(spark, gen, in, seg._1, seg._2))
      (System.nanoTime() - t0) / 1e9
    }

    def backfill(spark: SparkSession, tr: Tracer, in: Path, store: Path): Drain = {
      val d = tr.span("bench", "backfill")(_ => Backfill.drain(spark, tr, in, store, nBlocks))
      log(f"drain ${d.blocks} blocks: ship ${d.shipMs}%.0f ms, history ${d.historyMs}%.0f ms " +
        s"${d.historyBatches.map(_.ms).mkString("[", ",", "]")}, " +
        f"state ${d.stateMs}%.0f ms ${d.stateBatches.map(_.ms).mkString("[", ",", "]")}")
      attempted += 3
      d
    }

    def tables(spark: SparkSession, in: Path, store: Path): Tables = Tables(
      spark.read.parquet(store.resolve("history").toString),
      spark.read.parquet(in.resolve("deltas").toString),
      spark.read.parquet(store.resolve("blocks").toString).filter(!col("corrupt")))

    def checkStore(spark: SparkSession, store: Path): Unit = {
      def table(t: String) = spark.read.parquet(store.resolve(t).toString)
      errors ++= inParallel(Seq(() => model.checkHistory(table("history")),
        () => model.checkState(table("state")), () => model.checkBlocks(table("blocks")))).flatten
    }

    /** The api phase; its rounds take turns under `tracers`. */
    def api(spark: SparkSession, tracers: Seq[Tracer], t: Tables, minRounds: Int = Api.MinRounds): ApiResult = {
      errors ++= Api.warm(spark, new Tracer(false, spark), t, model, gen)
      log("api warm")
      val phase = tracers.find(_.enabled).getOrElse(tracers.head)
      val r = phase.span("bench", "api")(_ => Api.loop(spark, tracers, t, model, gen, args.seconds, minRounds))
      errors ++= r.mismatches
      attempted += r.attempted
      failed += r.failed
      r
    }
  }

  def main(argv: Array[String]): Unit = {
    val args = try parse(argv) catch {
      case e: Exception =>
        System.err.println(s"[pipebench] ${e.getMessage}")
        sys.exit(2)
    }
    val work = Paths.get("pipebench", "work").toAbsolutePath
    Files.createDirectories(work)
    val spark = session(work, Cores)
    val run = new Run(args, work)
    val code = try {
      val metrics = if (args.trace) traced(spark, run) else untraced(spark, run)
      report(run, metrics, if (args.trace) Metrics.PerLayer else Metrics.EndToEnd)
    } finally spark.stop()
    log("stopped")
    sys.exit(code)
  }

  def untraced(spark: SparkSession, run: Run): Seq[(String, Double, String)] = {
    val off = new Tracer(false, spark)
    log("session up")
    val setups = (0 until SetupReps).map(i => run.setup(spark, off, run.work.resolve(s"in$i")))
    log(s"set-up ${setups.mkString(", ")}")
    val in = run.work.resolve(s"in${SetupReps - 1}")
    val store = run.work.resolve("store")
    val d = run.backfill(spark, off, in, store)
    run.checkStore(spark, store)
    log("store checked")
    val bytesPerAction = Backfill.storeBytes(store).toDouble / run.model.actions.size
    val r = run.api(spark, Seq(off), run.tables(spark, in, store))
    log(s"api done: ${r.attempted} requests")
    Seq(
      ("setup_s", median(setups), "s"),
      ("backfill_blocks_per_s", d.blocksPerS, "blocks/s"),
      ("backfill_store_bytes_per_action", bytesPerAction, "B"),
      ("api_p50_ms", median(r.latMs), "ms"),
      ("api_p85_ms", pct(r.latMs, 85), "ms"),
      ("api_rps", r.latMs.size / r.wallS, "1/s"),
      ("heap_live_mb", heapLiveMb(), "MB"))
  }

  def traced(spark: SparkSession, run: Run): Seq[(String, Double, String)] = {
    val out = mutable.ArrayBuffer.empty[(String, Double, String)]
    def put(name: String, v: Double, unit: String): Unit = out += ((name, v, unit))
    val off = new Tracer(false, spark)
    val tr = new Tracer(true, spark)
    val t0 = System.nanoTime()
    val in = run.work.resolve("in")
    run.setup(spark, tr, in)
    // the tracing overhead compares the traced drain with an untraced
    // one made after it; a first untraced drain warms the JVM for both
    run.backfill(spark, off, in, run.work.resolve("store-warm"))
    val store = run.work.resolve("store")
    val dT = run.backfill(spark, tr, in, store)
    val dU = run.backfill(spark, off, in, run.work.resolve("store-untraced"))
    run.checkStore(spark, store)
    // traced and untraced requests alternate (see Api.loop)
    val api = run.api(spark, Seq(off, tr), run.tables(spark, in, store))
    val wallMs = (System.nanoTime() - t0) / 1e6
    tr.drain()
    val spans = tr.all
    val self = tr.selfMs

    def layerSpans(layer: String) = spans.filter(_.layer == layer)
    def named(name: String) = spans.filter(_.name == name)
    def sumC(ss: Seq[Span]): Counters = { val c = new Counters; ss.foreach(s => c.add(tr.counters(s))); c }

    // ship
    val framesDf = spark.read.parquet(in.resolve("frames").toString)
    val bytesIn = framesDf.agg(sum(length(col("frame")))).head().getLong(0).toDouble
    val blocksTbl = spark.read.parquet(store.resolve("blocks").toString)
    put("ship.frames", framesDf.count().toDouble, "count")
    put("ship.bytes_in", bytesIn, "B")
    put("ship.block_rows", blocksTbl.filter(!col("corrupt")).count().toDouble, "count")
    put("ship.corrupt_rows", blocksTbl.filter(col("corrupt")).count().toDouble, "count")
    put("ship.busy_ms", dT.shipMs, "ms")
    put("ship.mb_per_s", bytesIn / 1e6 / (dT.shipMs / 1000), "MB/s")
    put("ship.fatal_prefix_frames", fatalPrefixFrames(run.gen), "count")

    // history and state
    // batch sizes and times come from the queries' progress reports;
    // files, buckets and prior rows from the write jobs of the traced
    // store's tables (each micro-batch of the state sink writes its
    // merged buckets to a sibling `__next` table, then over the table)
    def writePath(layer: String, batches: Seq[Batch]): Counters = {
      val c = sumC(layerSpans(layer))
      put(s"$layer.batches", batches.size.toDouble, "count")
      put(s"$layer.batch_ms_p50", median(batches.map(_.ms)), "ms")
      put(s"$layer.batch_ms_max", if (batches.isEmpty) 0.0 else batches.map(_.ms).max, "ms")
      put(s"$layer.bytes_written", c.bytesWritten.toDouble, "B")
      put(s"$layer.busy_ms", layerSpans(layer).map(_.ms).sum, "ms")
      c
    }
    val hC = writePath("history", dT.historyBatches)
    put("history.receipts_in", dT.historyBatches.map(_.rowsIn).sum.toDouble, "count")
    put("history.actions_out", spark.read.parquet(store.resolve("history").toString).count().toDouble, "count")
    put("history.merge_shuffle_bytes", hC.shuffleWriteBytes.toDouble, "B")
    put("history.files_written", tr.writes.to(store.resolve("history")).map(_.files).sum.toDouble, "count")
    val sC = writePath("state", dT.stateBatches)
    val stateDir = store.resolve("state")
    val staged = tr.writes.to(store.resolve("state__next"))
    put("state.files_written", (staged ++ tr.writes.to(stateDir)).map(_.files).sum.toDouble, "count")
    val stateBytes = Backfill.parquetFiles(stateDir)._1.toDouble
    // the batch rows the merges read (a query's progress counts a batch
    // once per action run on it, and the sink runs two)
    put("state.deltas_in", staged.map(_.rowsScanned(Write.Batch)).sum.toDouble, "count")
    put("state.rows_live", spark.read.parquet(stateDir.toString).count().toDouble, "count")
    put("state.buckets_touched_per_batch", median(staged.map(_.parts.toDouble)), "count")
    put("state.prior_rows_read", staged.map(_.rowsScanned(stateDir.toString)).sum.toDouble, "count")
    put("state.write_amp", sC.bytesWritten / math.max(1.0, stateBytes), "ratio")

    // query, replay, router
    Api.Endpoints6.foreach { e =>
      val ss = named(s"query.$e")
      val c = sumC(ss)
      val rows = ss.map(_.attrs.getOrElse("rows", 0.0)).sum
      put(s"query.$e.p50_ms", median(ss.map(_.ms)), "ms")
      put(s"query.$e.plan_ms", median(ss.map(_.attrs.getOrElse("plan_ms", 0.0))), "ms")
      put(s"query.$e.exec_ms", median(ss.map(_.attrs.getOrElse("exec_ms", 0.0))), "ms")
      put(s"query.$e.rows_scanned_per_row", c.recordsRead / math.max(1.0, rows), "ratio")
      put(s"query.$e.bytes_read", if (ss.isEmpty) 0.0 else c.bytesRead.toDouble / ss.size, "B")
      put(s"query.$e.jobs", if (ss.isEmpty) 0.0 else c.jobs.toDouble / ss.size, "count")
    }
    val rp = named("Replay.replay")
    val replayRows = rp.map(_.attrs.getOrElse("rows", 0.0)).sum
    put("replay.rows", replayRows, "count")
    put("replay.pages", rp.map(_.attrs.getOrElse("pages", 0.0)).sum, "count")
    put("replay.p50_ms", median(rp.map(_.ms)), "ms")
    put("replay.rows_per_s", replayRows / math.max(1e-9, rp.map(_.ms).sum / 1000), "1/s")
    // each re-sync routes the handoff frame for one subscription
    val rt = named("Router.route")
    val delivered = rt.map(_.attrs.getOrElse("rows", 0.0)).sum
    val events = rt.map(_.attrs.getOrElse("events", 0.0)).sum
    put("router.events_in", events, "count")
    put("router.deliveries", delivered, "count")
    put("router.match_ratio", delivered / math.max(1.0, events), "ratio")
    put("router.batch_ms_p50", median(rt.map(_.ms)), "ms")

    // spark runtime, over the whole traced run up to here
    val all = tr.listener.total
    put("spark.jobs", all.jobs.toDouble, "count")
    put("spark.stages", all.stages.toDouble, "count")
    put("spark.tasks", all.tasks.toDouble, "count")
    put("spark.gc_ms", all.gcMs.toDouble, "ms")
    put("spark.shuffle_write_bytes", all.shuffleWriteBytes.toDouble, "B")
    put("spark.spill_bytes", all.spillBytes.toDouble, "B")
    put("spark.task_busy_ratio", all.taskMs / (wallMs * Cores), "ratio")
    put("spark.scheduler_delay_ms", all.schedulerDelayMs.toDouble / math.max(1L, all.tasks), "ms")

    // self time per layer, tracing overhead, failures
    Seq("gen", "ship", "history", "state", "query", "replay", "router", "bench").foreach { l =>
      put(s"$l.self_ms", layerSpans(l).map(s => self(s.id)).sum, "ms")
    }
    put("gen.busy_ms", layerSpans("gen").map(_.ms).sum, "ms")
    put("trace.spans", spans.size.toDouble, "count")
    put("trace.overhead_backfill_pct", (dU.blocksPerS / dT.blocksPerS - 1) * 100, "%")
    put("trace.overhead_api_p50_pct", (median(api.latMs(true)) / median(api.latMs(false)) - 1) * 100, "%")
    put("fail_ratio", run.failed.toDouble / math.max(1L, run.attempted), "ratio")
    tr.write(Paths.get("pipebench", "out", s"trace-${run.args.workload}-${run.args.seed}.jsonl"))

    // single-core baseline: the same drain at local[1]
    val one = singleCore(spark, run, in)
    put("ship.parallel_speedup", one.shipMs / dU.shipMs, "ratio")
    put("history.parallel_speedup", one.historyMs / dU.historyMs, "ratio")
    put("state.parallel_speedup", one.stateMs / dU.stateMs, "ratio")
    put("backfill.parallel_speedup", one.ms / dU.ms, "ratio")
    out.toSeq
  }

  /** The segment drained into a fresh store by a `local[1]` session. */
  def singleCore(spark: SparkSession, run: Run, in: Path): Drain = {
    spark.stop()
    val s1 = session(run.work, 1)
    try Backfill.drain(s1, new Tracer(false, s1), in, run.work.resolve("store-1core"), run.nBlocks)
    finally s1.stop()
  }

  /** Frames whose forged length prefix overflows the decoder's bounds
    * check: decoded on this thread only, where the resulting
    * OutOfMemoryError cannot take an executor down.
    */
  def fatalPrefixFrames(gen: Gen): Double = {
    val f = gen.frame(Gen.FirstBlock)
    System.arraycopy(Gen.OverflowPrefix, 0, f, Gen.BlockLenAt, Gen.OverflowPrefix.length)
    try { graft.streaming.ShipWire.blockRow(f); 0.0 }
    catch { case _: OutOfMemoryError => 1.0 }
  }

  def report(run: Run, metrics: Seq[(String, Double, String)], declared: Seq[(String, String)]): Int = {
    if (metrics.map(m => (m._1, m._3)).toSet != declared.toSet)
      run.errors += s"reported metrics differ from the declared ones: ${metrics.map(m => (m._1, m._3)).toSet -- declared}"
    val ok = run.errors.isEmpty
    run.errors.take(50).foreach(e => System.err.println(s"[pipebench] MISMATCH $e"))
    metrics.foreach { case (n, v, u) => println(f"$n%-40s $v%16.4f $u") }
    val ms = metrics.map { case (n, v, u) => s""""$n": {"value": ${jnum(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": $ok, "attempted": ${math.max(1L, run.attempted)}, "failed": ${run.failed}, "metrics": {$ms}}""")
    if (ok) 0 else 1
  }

  def jnum(v: Double): String = if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).toString
}
